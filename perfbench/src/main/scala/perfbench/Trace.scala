package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One node of the span tree: run → op → phase → Spark job → stage. Times are
  * epoch nanoseconds (Spark's listener reports milliseconds). */
final case class Span(id: Int, parent: Int, op: Int, depth: Int, layer: String,
    name: String, start: Long, end: Long)

/** Per-stage task totals gathered by [[TraceListener]]. */
final class StageStats {
  var tasks = 0; var failed = 0
  var cpuNs = 0L; var gcMs = 0L; var waitMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  val durations = ArrayBuffer.empty[Long]
  var start = 0L; var end = 0L
}

final class JobRec(val id: Int, val span: Int, val start: Long, val stages: Seq[Int]) {
  var end = 0L
}

/** Collects Spark jobs, stages and task metrics for jobs whose submitting
  * thread carries the `perfbench.span` local property. Everything stays in
  * memory until [[Recorder.finish]]. */
final class TraceListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stageJob = mutable.HashMap.empty[Int, Int]
  val stages = mutable.HashMap.empty[Int, StageStats]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.SpanKey)))
    span.foreach { s =>
      jobs(e.jobId) = new JobRec(e.jobId, s.toInt, e.time * 1000000L, e.stageIds)
      e.stageIds.foreach(st => if (!stageJob.contains(st)) stageJob(st) = e.jobId)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    if (stageJob.contains(i.stageId)) {
      val s = stages.getOrElseUpdate(i.stageId, new StageStats)
      s.start = i.submissionTime.getOrElse(0L) * 1000000L
      s.end = i.completionTime.getOrElse(0L) * 1000000L
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageJob.contains(e.stageId)) {
      val s = stages.getOrElseUpdate(e.stageId, new StageStats)
      val info = e.taskInfo
      s.tasks += 1
      if (info.failed || info.killed) s.failed += 1
      val dur = info.finishTime - info.launchTime
      s.durations += dur
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.waitMs += math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime)
        s.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** Times ops always. In a traced run every other op is traced: it records op
  * and phase spans, tags every Spark job with the phase that launched it and
  * keeps per-op counts. The alternation flips each cycle, so every op kind is
  * measured both ways, as often cold as warm (the tracing overhead). */
final class Recorder(spark: SparkSession, val enabled: Boolean) {
  private val clock0 = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now: Long = System.nanoTime() + clock0
  val listener: Option[TraceListener] =
    if (enabled) { val l = new TraceListener; spark.sparkContext.addSparkListener(l); Some(l) }
    else None
  /** whether the op in progress is traced */
  var tracing = false
  private var cycle = 0
  private var inCycle = 0
  /** Start cycle `i`; its first op is traced on odd cycles. */
  def startCycle(i: Int): Unit = { cycle = i; inCycle = 0 }
  val spans = ArrayBuffer.empty[Span]
  /** counts recorded at op and phase boundaries, keyed by span id */
  val counts = mutable.HashMap.empty[Int, mutable.LinkedHashMap[String, Double]]
  private var current: Span = null
  /** span id of the latest op, or -1 when it was not traced */
  var lastOp: Int = -1

  private def open(layer: String, name: String): Span = {
    val parent = current
    val s = Span(spans.size, if (parent == null) -1 else parent.id,
      if (parent == null) spans.size else parent.op,
      if (parent == null) 0 else parent.depth + 1, layer, name, now, 0L)
    spans += s
    s
  }
  private def close(s: Span): Unit = spans(s.id) = s.copy(end = now)

  /** Add to a named count of the innermost open span. */
  def count(name: String, v: Double): Unit = if (tracing && current != null) {
    val m = counts.getOrElseUpdate(current.id, mutable.LinkedHashMap.empty)
    m(name) = m.getOrElse(name, 0.0) + v
  }

  private def within[T](layer: String, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = current
    val s = open(layer, name)
    current = s
    sc.setLocalProperty(Recorder.SpanKey, s.id.toString)
    try body finally {
      close(s)
      current = outer
      sc.setLocalProperty(Recorder.SpanKey, if (outer == null) null else outer.id.toString)
    }
  }

  /** One client op; returns its value and wall time in nanoseconds. */
  def op[T](kind: String)(body: => T): (T, Long) = {
    tracing = enabled && (cycle + inCycle) % 2 == 1
    inCycle += 1
    val t0 = System.nanoTime()
    lastOp = if (tracing) spans.size else -1
    val v = if (tracing) within("harness", kind)(body) else body
    (v, System.nanoTime() - t0)
  }

  /** A layer phase inside the current op (a no-op wrapper when not tracing). */
  def phase[T](layer: String, name: String)(body: => T): T =
    if (tracing && current != null) within(layer, name)(body) else body

  /** Wait for the listener bus, then add job and stage spans under the phase
    * that launched them. */
  def finish(): Unit = listener.foreach { l =>
    org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
    l.synchronized {
      for (j <- l.jobs.values if j.span < spans.size && j.end > 0) {
        val p = spans(j.span)
        val js = Span(spans.size, p.id, p.op, p.depth + 1, "spark", s"job ${j.id}", j.start, j.end)
        spans += js
        for (st <- j.stages; s <- l.stages.get(st)
             if l.stageJob.get(st).contains(j.id) && s.start > 0 && s.end > 0)
          spans += Span(spans.size, js.id, p.op, js.depth + 1, "spark", s"stage $st", s.start, s.end)
      }
      spark.sparkContext.removeSparkListener(l)
    }
  }

  /** Task totals of the jobs launched under span `id` or its descendants. */
  def sparkTotals(id: Int): Map[String, Double] = listener.map { l =>
    val under = descendants(id)
    val jobs = l.jobs.values.filter(j => under(j.span)).toSeq
    val sts = jobs.flatMap(j => j.stages.filter(st => l.stageJob.get(st).contains(j.id)))
      .flatMap(l.stages.get)
    val skews = sts.filter(_.durations.size >= 2).map { s =>
      val d = s.durations.sorted
      val med = math.max(1L, d(d.size / 2))
      d.last.toDouble / med
    }
    Map(
      "jobs" -> jobs.size.toDouble, "stages" -> sts.size.toDouble,
      "tasks" -> sts.map(_.tasks).sum.toDouble, "failed_tasks" -> sts.map(_.failed).sum.toDouble,
      "task_cpu_s" -> sts.map(_.cpuNs).sum / 1e9, "gc_s" -> sts.map(_.gcMs).sum / 1e3,
      "task_wait_s" -> sts.map(_.waitMs).sum / 1e3,
      "shuffle_read_mb" -> sts.map(_.shuffleRead).sum / 1048576.0,
      "shuffle_write_mb" -> sts.map(_.shuffleWrite).sum / 1048576.0,
      "spill_mb" -> sts.map(_.spill).sum / 1048576.0,
      "task_skew" -> (if (skews.isEmpty) 1.0 else Stats.median(skews)))
  }.getOrElse(Map.empty)

  private lazy val children: Map[Int, Seq[Int]] =
    spans.filter(_.parent >= 0).groupBy(_.parent).map { case (k, v) => k -> v.map(_.id).toSeq }
  private def descendants(id: Int): Set[Int] = {
    val out = mutable.HashSet(id)
    val todo = mutable.Stack(id)
    while (todo.nonEmpty) children.getOrElse(todo.pop(), Nil).foreach { c =>
      if (out.add(c)) todo.push(c) }
    out.toSet
  }

  /** Self time per layer for one op: every instant of the op's interval is
    * charged to the deepest span open at that instant (children clipped to the
    * op), so the layer self times of an op sum exactly to its wall time. */
  def selfTimes(opId: Int): Map[String, Long] = {
    val root = spans(opId)
    val mine = spans.filter(s => s.op == opId && s.end > s.start).map(s =>
      s.copy(start = math.max(s.start, root.start), end = math.min(s.end, root.end)))
      .filter(s => s.end > s.start)
    val cuts = mine.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val acc = mutable.HashMap.empty[String, Long]
    for (i <- 0 until cuts.size - 1) {
      val a = cuts(i); val b = cuts(i + 1)
      val open = mine.filter(s => s.start <= a && s.end >= b)
      if (open.nonEmpty) {
        val deepest = open.maxBy(s => (s.depth, s.start))
        acc(deepest.layer) = acc.getOrElse(deepest.layer, 0L) + (b - a)
      }
    }
    acc.toMap
  }

  /** Phase spans of one op, by name. */
  def phases(opId: Int): Seq[Span] = spans.filter(s => s.op == opId && s.depth == 1).toSeq

  def toJson: String = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    spans.map { s =>
      val c = counts.get(s.id).map(_.map { case (k, v) => s""""$k":$v""" }.mkString(",")).getOrElse("")
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}","name":"${esc(s.name)}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"counts":{$c}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Recorder {
  val SpanKey = "perfbench.span"
}
