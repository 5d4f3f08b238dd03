package perfbench

import graft.core.GraphSchema
import graft.data.PropertyGraph
import graft.olap.Analytics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** `olap`: whole-graph iterative jobs. One pass runs the six kernels in
  * sequence over one persisted generated graph, then writes the pass's vertex
  * labels back to parquet (the write). */
object Olap {
  val Core = 200; val Tendrils = 6; val TendrilLen = 4; val Islands = 6
  val Setups = 3
  /** k for kCore and kTruss */
  val K = 3

  /** Kernel budgets, all derived from the generator's parameters and never
    * from what a particular engine version happens to resolve. The SCC trim
    * cap is half the tendril length, so every tendril outlives the first
    * trim phase and must be peeled across outer rounds. */
  final case class Budgets(ccIters: Int, kcoreRounds: Int, corenessRounds: Int,
      sccOuter: Int, sccTrim: Int, sccInner: Int, msfOuter: Int, msfInner: Int, trussRounds: Int)
  def budgets(g: Gen.OlapGraph): Budgets = {
    val trim = g.tendrilLen / 2
    val log2n = 32 - Integer.numberOfLeadingZeros(g.n)
    Budgets(
      ccIters = g.condensationDepth + log2n,
      kcoreRounds = g.condensationDepth + log2n,
      corenessRounds = g.condensationDepth + log2n,
      sccOuter = (g.tendrilLen + trim - 1) / trim + 3, sccTrim = trim,
      sccInner = g.condensationDepth + log2n,
      msfOuter = log2n + 2, msfInner = g.condensationDepth + log2n,
      trussRounds = log2n)
  }

  private def frames(spark: SparkSession, gen: Gen.OlapGraph): (DataFrame, DataFrame) = {
    val v = spark.createDataFrame(java.util.Arrays.asList(gen.vid.toSeq.map(i => Row(i, "v")): _*),
      StructType(Seq(StructField("id", LongType, nullable = false), StructField("label", StringType))))
    val e = spark.createDataFrame(java.util.Arrays.asList((0 until gen.m).map(i =>
        Row(gen.eid(i), gen.vid(gen.src(i)), gen.vid(gen.dst(i)), "e")): _*),
      StructType(Seq(StructField("id", LongType, nullable = false), StructField("src", LongType),
        StructField("dst", LongType), StructField("label", StringType))))
    (v, e)
  }

  /** Reference answers, one string set per kernel, computed once per seed. */
  def reference(gen: Gen.OlapGraph): Map[String, Set[String]] = Map(
    "cc" -> Ref.components(gen).map { case (k, v) => s"$k|$v" }.toSet,
    "kcore" -> Ref.kCore(gen, K).map(_.toString),
    "coreness" -> Ref.coreness(gen).map { case (k, v) => s"$k|$v" }.toSet,
    "scc" -> Ref.scc(gen).map { case (k, v) => s"$k|$v" }.toSet,
    "msf" -> Ref.msf(gen).map { case (u, v, w) => s"$u|$v|$w" },
    "ktruss" -> Ref.kTruss(gen, K).map { case (u, v) => s"$u|$v" })

  private def render(row: Row): String =
    (0 until row.length).map(i => if (row.isNullAt(i)) "NULL" else row.get(i).toString).mkString("|")

  def run(ctx: Ctx): Result = {
    val gen = Gen.olap(ctx.seed, Core, Tendrils, TendrilLen, Islands)
    val b = budgets(gen)
    val want = reference(gen)
    val kernels: Seq[(String, PropertyGraph => (DataFrame, Boolean))] = Seq(
      "cc" -> (g => (Analytics.connectedComponentsExact(g, iterations = b.ccIters), true)),
      "kcore" -> (g => Analytics.kCoreConverged(g, K, maxRounds = b.kcoreRounds)),
      "coreness" -> (g => Analytics.corenessConverged(g, maxRounds = b.corenessRounds)),
      "scc" -> (g => (Analytics.stronglyConnectedComponents(g, maxOuter = b.sccOuter,
        maxTrim = b.sccTrim, maxInner = b.sccInner), true)),
      "msf" -> (g => (Analytics.minimumSpanningForest(g, maxOuter = b.msfOuter,
        maxInner = b.msfInner), true)),
      "ktruss" -> (g => Analytics.kTrussConverged(g, K, maxRounds = b.trussRounds)))

    // set-up, repeated: session start + persist the generated input + one warm-up op
    val setups = ArrayBuffer.empty[Double]; val loads = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var g: PropertyGraph = null
    for (_ <- 0 until Setups) {
      if (spark != null) Harness.stop(spark)
      val t0 = System.nanoTime()
      spark = Harness.session(ctx, ctx.trace)
      val t1 = System.nanoTime()
      val (v0, e0) = frames(spark, gen)
      val v = v0.persist(StorageLevel.MEMORY_AND_DISK)
      val e = e0.persist(StorageLevel.MEMORY_AND_DISK)
      v.count(); e.count()
      g = PropertyGraph(GraphSchema(), v, e)
      loads += Harness.secs(System.nanoTime() - t1)
      Analytics.kCoreConverged(g, K, maxRounds = b.kcoreRounds)._1.collect()
      setups += Harness.secs(System.nanoTime() - t0)
    }
    Harness.mark("set-up done")
    val rec = new Recorder(spark, ctx.trace)
    val ops = ArrayBuffer.empty[OpRec]; val passes = ArrayBuffer.empty[Double]
    val heap = new Harness.Heap
    val unresolved = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    val failures = mutable.LinkedHashMap.empty[String, Int]
    /** One pass: the six kernels, then the write-back. */
    def pass(): Unit = {
      val c0 = System.nanoTime()
      val results = mutable.LinkedHashMap.empty[String, DataFrame]
      for ((k, kernel) <- kernels) {
        var rows: Array[Row] = null
        var converged = true
        val (done, ns) = rec.op(k) {
          try {
            val (df, conv) = rec.phase("olap", s"olap.$k")(kernel(g))
            converged = conv
            results(k) = df
            rows = Harness.query(rec)(df)
            true
          } catch { case e: Exception =>
            System.err.println(s"[perfbench] olap $k failed: $e"); false }
        }
        val bad = if (!done) want(k).size.toDouble else {
          val got = rows.map(render).toSet
          (got.diff(want(k)).size + want(k).diff(got).size).toDouble
        }
        unresolved.getOrElseUpdate(k, ArrayBuffer.empty) += bad
        val ok = done && converged && bad == 0
        if (!ok) failures(k) = failures.getOrElse(k, 0) + 1
        ops += OpRec(k, "read", ns, ok, rec.tracing, rec.lastOp)
      }
      // write the pass's vertex labels back, as an OLAP job's output
      val (done, ns) = rec.op("write_back") {
        try {
          rec.phase("spark", "spark.exec") {
            Seq("cc", "coreness", "scc").flatMap(results.get)
              .reduceOption(_.join(_, Seq("id"), "full_outer"))
              .foreach(_.write.mode("overwrite").parquet(s"${ctx.dir}/olap-output"))
          }
          true
        } catch { case e: Exception =>
          System.err.println(s"[perfbench] olap write_back failed: $e"); false }
      }
      if (!done) failures("write_back") = failures.getOrElse("write_back", 0) + 1
      ops += OpRec("write_back", "write", ns, done, rec.tracing, rec.lastOp)
      passes += Harness.secs(System.nanoTime() - c0)
      heap.sample()
    }
    val measured = Harness.loop(ctx.seconds, minCycles = if (ctx.trace) 2 else 1) { i =>
      rec.startCycle(i)
      pass()
    }
    rec.tracing = false
    Harness.mark("measured")
    rec.finish()

    val notes = ArrayBuffer(s"olap vertices=${gen.n} edges=${gen.m} tendril_len=${gen.tendrilLen} " +
      s"condensation_depth=${gen.condensationDepth} budgets=$b")
    unresolved.foreach { case (k, v) =>
      if (v.exists(_ > 0)) notes += s"olap $k unresolved per pass: ${v.map(_.toInt).mkString(",")}" }
    failures.foreach { case (k, n) => notes += s"olap failed $k x$n" }
    val layer = if (ctx.trace) {
      notes ++= Harness.selfTable(rec, ops.toSeq, "olap")
      val traced = ops.filter(o => o.traced && o.span >= 0)
      val extra: Map[String, (Double, Int)] = Harness.Kernels.flatMap { k =>
        val mine = traced.filter(_.kind == k)
        val totals = mine.map(o => rec.sparkTotals(o.span))
        Seq(s"olap.${k}_s" -> ((if (mine.isEmpty) 0.0 else Stats.median(mine.map(o => Harness.secs(o.ns))), mine.size)),
          s"olap.${k}_jobs" -> ((Stats.mean(totals.map(_("jobs"))), mine.size)),
          s"olap.${k}_shuffle_mb" -> ((Stats.mean(totals.map(t => t("shuffle_write_mb"))), mine.size)),
          s"olap.${k}_unresolved" -> ((Stats.mean(unresolved.getOrElse(k, ArrayBuffer.empty[Double]).toSeq),
            unresolved.get(k).map(_.size).getOrElse(0))))
      }.toMap
      Harness.layerMetrics(rec, ops.toSeq, extra + ("data.load_s" -> ((Stats.median(loads.toSeq), loads.size))))
    } else Nil
    Harness.stop(spark)
    Result(ops.size, ops.count(!_.ok),
      Harness.e2e(ops.toSeq, passes.toSeq, setups.toSeq, loads.toSeq, heap, measured), layer, notes.toSeq,
      if (ctx.trace) rec.toJson else "")
  }
}
