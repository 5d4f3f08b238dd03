package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike

final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
    dir: String, cores: Int)

/** One reported metric with its unit and sample count. */
final case class Metric(name: String, value: Double, unit: String, n: Int = 1, note: String = "")

/** `trace` is the span tree as JSON (traced runs only). */
final case class Result(attempted: Int, failed: Int, e2e: Seq[Metric], layer: Seq[Metric],
    notes: Seq[String], trace: String = "")

/** One completed client op. `cat` is read, write or pass; `span` is the op's
  * span id when it was traced. */
final case class OpRec(kind: String, cat: String, ns: Long, ok: Boolean, traced: Boolean,
    span: Int)

object Harness {
  /** Local Spark session for one workload: local[cores], shuffle partitions =
    * cores, scratch and warehouse directories inside the run directory. */
  def session(ctx: Ctx, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${ctx.cores}]")
      .appName(s"perfbench-${ctx.workload}")
      .config("spark.sql.shuffle.partitions", ctx.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${ctx.dir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${ctx.dir}/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
    if (traced) b.config("spark.scheduler.listenerbus.eventqueue.capacity", "200000")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** Progress line with seconds since JVM start (stderr, not part of the result). */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] +${(System.currentTimeMillis() - jvmStart) / 1e3}%.1fs $what")

  def secs(ns: Long): Double = ns / 1e9
  def millis(ns: Long): Double = ns / 1e6

  /** Peak JVM heap after a full GC, in MiB. */
  final class Heap {
    var peakMb = 0.0
    def sample(): Unit = {
      // a second collection after a pause catches objects freed by Spark's
      // asynchronous cleaner in response to the first
      System.gc()
      Thread.sleep(100)
      System.gc()
      val mx = java.lang.management.ManagementFactory.getMemoryMXBean
      peakMb = math.max(peakMb, mx.getHeapMemoryUsage.getUsed / 1048576.0)
    }
  }

  /** Shape of an executed plan, read after the action completed. */
  final case class PlanInfo(nodes: Int, broadcasts: Int, cachedScans: Int, scanRows: Long)

  private object Walk extends AdaptiveSparkPlanHelper
  def planInfo(plan: SparkPlan): PlanInfo = {
    val all = Walk.collectWithSubqueries(plan) { case p => p }
    val leaves = all.filter(_.children.isEmpty)
    PlanInfo(all.size,
      all.count(_.isInstanceOf[BroadcastExchangeLike]),
      all.count(_.isInstanceOf[InMemoryTableScanExec]),
      leaves.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum)
  }

  /** A read through the layers: build the frame (query), force the physical
    * plan (plans), run it (spark). Plan shape and rows read are recorded on
    * the op when tracing. */
  def query(rec: Recorder)(build: => DataFrame): Array[Row] = {
    val df = rec.phase("query", "query.build")(build)
    rec.phase("plans", "plans.plan")(df.queryExecution.executedPlan)
    val rows = rec.phase("spark", "spark.exec")(df.collect())
    if (rec.tracing) {
      val p = planInfo(df.queryExecution.executedPlan)
      rec.count("plan_nodes", p.nodes)
      rec.count("broadcast_exchanges", p.broadcasts)
      rec.count("cached_scans", p.cachedScans)
      rec.count("scan_rows", p.scanRows.toDouble)
      rec.count("rows", rows.length)
    }
    rows
  }

  /** Run whole cycles until `seconds` have elapsed, at least `minCycles` of
    * them; returns the seconds measured. */
  def loop(seconds: Double, minCycles: Int)(cycle: Int => Unit): Double = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (i < minCycles || elapsed < seconds) { cycle(i); i += 1 }
    elapsed
  }

  /** Order-insensitive digest of result rows rendered as strings. */
  def digest(rows: Iterable[String]): String = {
    val d = new Gen.Digest
    rows.toSeq.sorted.foreach(d.add)
    d.hex
  }

  // ------------------------------------------------------------ metrics ----
  /** Layers a span can belong to; `harness` is time in the op outside any
    * layer call (reference checks always run outside ops). */
  val Layers: Seq[String] = Seq("harness", "query", "plans", "data", "olap", "pipeline", "spark")
  val Kernels = Seq("cc", "kcore", "coreness", "scc", "msf", "ktruss")
  val LayerNames: Seq[(String, String)] = Seq(
    "query.build_ms" -> "ms", "query.rows_read_per_row" -> "ratio",
    "plans.plan_ms" -> "ms", "plans.plan_nodes" -> "count", "plans.broadcast_exchanges" -> "count",
    "data.load_s" -> "s", "data.mutate_ms" -> "ms", "data.mutate_jobs" -> "count",
    "spark.exec_ms" -> "ms", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_wait_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.shuffle_write_mb" -> "MiB", "spark.shuffle_read_mb" -> "MiB", "spark.spill_mb" -> "MiB",
    "spark.task_skew" -> "ratio", "spark.gc_s" -> "s", "spark.failed_tasks" -> "count") ++
    Kernels.flatMap(k => Seq(s"olap.${k}_s" -> "s", s"olap.${k}_jobs" -> "count",
      s"olap.${k}_shuffle_mb" -> "MiB", s"olap.${k}_unresolved" -> "count")) ++ Seq(
    "core.plancache_hits" -> "count", "core.plancache_entries" -> "count",
    "pipeline.dedup_s" -> "s", "pipeline.index_write_s" -> "s", "pipeline.neardup_ms" -> "ms",
    "pipeline.index_append_ms" -> "ms", "pipeline.search_ms" -> "ms", "pipeline.bm25_ms" -> "ms",
    "pipeline.neardup_recall" -> "ratio", "pipeline.search_recall" -> "ratio") ++
    Layers.map(l => s"self.${l}_ms" -> "ms") ++ Seq(
    "trace.overhead_pct" -> "%", "trace.self_sum_err_pct" -> "%")

  /** Per-layer metrics common to every workload, from the traced ops. Values a
    * workload does not exercise stay 0; `extra` supplies workload-specific
    * ones. */
  def layerMetrics(rec: Recorder, ops: Seq[OpRec], extra: Map[String, (Double, Int)]): Seq[Metric] = {
    val traced = ops.filter(o => o.traced && o.span >= 0 && o.cat != "build")
    val tIds = traced.map(_.span)
    def phaseMs(name: String): Seq[Double] =
      tIds.map(id => rec.phases(id).filter(_.name == name).map(s => (s.end - s.start) / 1e6).sum)
    def opCount(id: Int, k: String): Option[Double] = rec.counts.get(id).flatMap(_.get(k))
    val reads = tIds.filter(id => opCount(id, "rows").isDefined)
    def sumCount(ids: Seq[Int], k: String) = ids.flatMap(opCount(_, k)).sum
    val totals = tIds.map(rec.sparkTotals)
    def perOp(k: String) = Stats.mean(totals.map(_.getOrElse(k, 0.0)))
    val selfs = tIds.map(rec.selfTimes)
    val wallNs = tIds.map(id => rec.spans(id)).map(s => (s.end - s.start).toDouble).sum
    val selfNs = selfs.map(_.values.sum.toDouble).sum
    val base = Map[String, (Double, Int)](
      "query.build_ms" -> ((Stats.mean(phaseMs("query.build").filter(_ > 0)), reads.size)),
      "query.rows_read_per_row" -> ((sumCount(reads, "scan_rows") / math.max(1.0, sumCount(reads, "rows")), reads.size)),
      "plans.plan_ms" -> ((Stats.mean(phaseMs("plans.plan").filter(_ > 0)), reads.size)),
      "plans.plan_nodes" -> ((sumCount(reads, "plan_nodes") / math.max(1, reads.size), reads.size)),
      "plans.broadcast_exchanges" -> ((sumCount(reads, "broadcast_exchanges") / math.max(1, reads.size), reads.size)),
      "spark.exec_ms" -> ((Stats.mean(phaseMs("spark.exec")), tIds.size)),
      "core.plancache_hits" -> ((sumCount(tIds, "cached_scans") / math.max(1, tIds.size), tIds.size)),
      "core.plancache_entries" -> ((sumCount(tIds, "plancache_new") / math.max(1, tIds.size), tIds.size)),
      "trace.self_sum_err_pct" -> ((if (wallNs > 0) 100.0 * math.abs(selfNs - wallNs) / wallNs else 0.0, tIds.size)),
      "trace.overhead_pct" -> ((overheadPct(ops), ops.size))) ++
      Seq("jobs", "stages", "tasks", "task_wait_s", "task_cpu_s", "shuffle_write_mb",
        "shuffle_read_mb", "spill_mb", "task_skew", "gc_s", "failed_tasks")
        .map(k => s"spark.$k" -> ((perOp(k), tIds.size))) ++
      Layers.map(l => s"self.${l}_ms" -> ((Stats.mean(selfs.map(_.getOrElse(l, 0L) / 1e6)), tIds.size)))
    LayerNames.map { case (name, unit) =>
      val (v, n) = extra.getOrElse(name, base.getOrElse(name, (0.0, 0)))
      Metric(name, if (v.isNaN) 0.0 else v, unit, n)
    }
  }

  /** Tracing overhead: per op kind, median traced wall time over median
    * untraced wall time, weighted by the op mix. */
  def overheadPct(ops: Seq[OpRec]): Double = {
    val kinds = ops.groupBy(_.kind).filter { case (_, v) => v.exists(_.traced) && v.exists(!_.traced) }
    if (kinds.isEmpty) 0.0 else {
      var t = 0.0; var u = 0.0
      kinds.values.foreach { v =>
        t += v.size * Stats.median(v.filter(_.traced).map(_.ns.toDouble))
        u += v.size * Stats.median(v.filter(!_.traced).map(_.ns.toDouble))
      }
      100.0 * (t / u - 1.0)
    }
  }

  /** Print the per-layer self-time table of the traced ops. */
  def selfTable(rec: Recorder, ops: Seq[OpRec], workload: String): Seq[String] = {
    val traced = ops.filter(o => o.traced && o.span >= 0)
    val byKind = traced.groupBy(_.kind).toSeq.sortBy(_._1)
    val header = f"${"op"}%-14s ${"n"}%4s ${"wall_ms"}%9s" + Layers.map(l => f"$l%10s").mkString
    val rows = byKind.map { case (kind, v) =>
      val sts = v.map(o => rec.selfTimes(o.span))
      val wall = Stats.mean(v.map(o => (rec.spans(o.span).end - rec.spans(o.span).start) / 1e6))
      f"$kind%-14s ${v.size}%4d $wall%9.2f" +
        Layers.map(l => f"${Stats.mean(sts.map(_.getOrElse(l, 0L) / 1e6))}%10.2f").mkString
    }
    s"$workload per-layer self time (ms per op, traced ops only):" +: header +: rows
  }

  /** Printed with the end-to-end metrics but left out of the result object:
    * the JVM heap after GC moves by up to a third between runs of the same
    * code (Spark's asynchronous cleanup), too much for a regression bound. */
  val Unbounded = Set("live_heap_mb")

  /** End-to-end metrics from the op log. `build` is the workload's one-time
    * build step and `setups` the repeated set-up times. */
  def e2e(ops: Seq[OpRec], passes: Seq[Double], setups: Seq[Double], build: Seq[Double],
      heap: Heap, measured: Double): Seq[Metric] = {
    val timed = ops.filter(_.cat != "build")
    val untraced = if (timed.exists(!_.traced)) timed.filter(!_.traced) else timed
    val reads = untraced.filter(_.cat == "read").map(o => millis(o.ns))
    val writes = untraced.filter(_.cat == "write").map(o => millis(o.ns))
    val (pct, tail) = Stats.tail(reads)
    Seq(
      Metric("setup_s", Stats.median(setups), "s", setups.size),
      Metric("live_heap_mb", heap.peakMb, "MiB", passes.size),
      Metric("read_p50_ms", Stats.median(reads), "ms", reads.size),
      Metric("read_tail_ms", tail, "ms", reads.size, f"p$pct%.1f"),
      Metric("write_p50_ms", Stats.median(writes), "ms", writes.size),
      Metric("ops_per_s", timed.size / measured, "1/s", timed.size),
      Metric("pass_s", Stats.median(passes), "s", passes.size),
      Metric("build_s", Stats.median(build), "s", build.size))
  }
}
