package perfbench

/** Benchmark entry point: `--workload <oltp|olap|dataprep> --seed <n>
  * --seconds <s> --trace <0|1> --dir <scratch dir>`; `--digest <seed>` prints
  * the input digests of every generator instead. The last stdout line is the
  * JSON result object. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opts.get("digest") match {
      case Some(seed) => println(digests(seed.toLong).map { case (k, v) => s"$k $v" }.mkString("\n"))
      case None => sys.exit(run(opts))
    }
  }

  def digests(seed: Long): Seq[(String, String)] = Seq(
    "oltp" -> Gen.tpch(seed, Oltp.Sf).digest,
    "olap" -> Gen.olap(seed, Olap.Core, Olap.Tendrils, Olap.TendrilLen, Olap.Islands).digest,
    "dataprep" -> Gen.corpus(seed, Dataprep.Base, Dataprep.Batches, Dataprep.BatchSize,
      Dataprep.Clusters).digest)

  private def run(opts: Map[String, String]): Int = {
    val cores = Runtime.getRuntime.availableProcessors
    val ctx = Ctx(opts("workload"), opts("seed").toLong, opts("seconds").toDouble,
      opts.getOrElse("trace", "0") == "1", opts("dir"), cores)
    val heapMb = Runtime.getRuntime.maxMemory / 1048576
    println(s"[perfbench] workload=${ctx.workload} seed=${ctx.seed} seconds=${ctx.seconds} " +
      s"trace=${ctx.trace} nproc=$cores master=local[${ctx.cores}] " +
      s"heap_mb=$heapMb spark=${org.apache.spark.SPARK_VERSION} " +
      s"scala=${scala.util.Properties.versionNumberString} java=${System.getProperty("java.version")} " +
      s"commit=${sys.env.getOrElse("PERFBENCH_COMMIT", "unknown")}")
    val res = ctx.workload match {
      case "oltp" => Oltp.run(ctx)
      case "olap" => Olap.run(ctx)
      case "dataprep" => Dataprep.run(ctx)
      case w => System.err.println(s"unknown workload $w"); return 2
    }
    res.notes.foreach(n => println(s"[perfbench] $n"))
    if (res.trace.nonEmpty)
      java.nio.file.Files.write(java.nio.file.Paths.get(ctx.dir, "trace.json"), res.trace.getBytes("UTF-8"))
    val shown = if (ctx.trace) res.layer else res.e2e
    shown.foreach(m => println(f"[perfbench] ${m.name}%-28s ${m.value}%14.4f ${m.unit}%-6s n=${m.n}%d ${m.note}" +
      (if (Harness.Unbounded(m.name)) " (not in the result: unsteady)" else "")))
    println(f"[perfbench] error_rate ${res.failed.toDouble / math.max(1, res.attempted)}%.4f " +
      s"(${res.failed} failed of ${res.attempted} ops)")
    val metrics = shown.filterNot(m => Harness.Unbounded(m.name)).map(m => s""""${m.name}":{"value":${m.value},"unit":"${m.unit}"}""").mkString(",")
    println(s"""{"correct":${res.failed == 0},"attempted":${res.attempted},"failed":${res.failed},""" +
      s""""metrics":{$metrics}}""")
    0
  }
}
