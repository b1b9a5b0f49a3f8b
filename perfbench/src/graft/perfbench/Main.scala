package graft.perfbench

/** One benchmark run in one fresh JVM:
  *
  * {{{
  * Main --workload <name> --dir <run dir> --seed <n> --trace <0|1>
  *      --warmups <n> --ops <n> --t0-ns <epoch ns of the launch>
  * }}}
  *
  * `--dir` holds the inputs `perfbench/run.py` generated for the
  * workload; every file the run writes goes under it too. The run
  * prints a `PERFBENCH_RECORD` line (seed, samples, GC, CPU steal,
  * check failures) and a `PERFBENCH_RESULT` line (correct, attempted,
  * failed, metrics), which `run.py` turns into the benchmark's result. */
object Main {
  /** The per-layer metrics every traced run reports (0 where the
    * workload never calls the layer); `BENCHMARK.json` lists the same. */
  val layerNames: Seq[String] = Seq(
    "spark.jobs", "spark.tasks", "plan.s", "codegen.compile_s",
    "codegen.compiles", "exec.task_s", "exec.gc_s", "shuffle.write_mb",
    "shuffle.write_s", "spill.mb", "storage.held_mb",
    "ingest.read_pages_s", "vector.knn_s", "llm.extract_s",
    "pipeline.confirm_route_s", "metrics.report_s",
    "streaming.gate_batch_s", "streaming.route_batch_s",
    "streaming.source_s", "streaming.commit_s", "streaming.state_files",
    "core.artifacts_s") ++ ReportSession.packLayers

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val tracing = opt("trace") == "1"
    val t0Ns = opt("t0-ns").toLong
    val cpus = math.min(Runtime.getRuntime.availableProcessors, 4)
    val (jiffies0, steal0) = Harness.cpuJiffies()
    val spark = graft.core.GraftSession.local(cpus.toString, s"perfbench-$workload")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (Harness.epochNs() - t0Ns) / 1e9
    val ctx = new Ctx(spark, opt("dir"), opt("seed").toLong,
      if (tracing) Some(new Trace(spark)) else None)
    val (nWarm, nOps) = (opt("warmups").toInt, opt("ops").toInt)
    val out = workload match {
      case "stream_ingest" => StreamIngest.run(ctx, nWarm, nOps)
      case "doc_pipeline" => DocPipeline.run(ctx, nWarm, nOps)
      case "report_session" => ReportSession.run(ctx, nWarm, nOps)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val (jiffies1, steal1) = Harness.cpuJiffies()
    val canaryS = Seq(Harness.canary(), Harness.canary())
    val setupS = (ctx.timedStartNs - t0Ns) / 1e9
    val ops = out.opSeconds
    val endToEnd = Map(
      "setup_s" -> setupS,
      "peak_rss_mb" -> Harness.peakRssMb(),
      "op_p50_s" -> Harness.quantile(ops, 0.5),
      "items_per_s" -> out.items / ops.sum)
    val layers = layerNames.map(n => n -> out.layers.getOrElse(n, 0.0)).toMap
    val units = Map("setup_s" -> "s", "peak_rss_mb" -> "MB", "op_p50_s" -> "s",
      "items_per_s" -> "1/s")
    def unitOf(n: String): String =
      units.getOrElse(n, if (n.endsWith("_s") || n.endsWith(".s")) "s"
        else if (n.endsWith("_mb") || n.endsWith(".mb")) "MB" else "count")
    val metrics = (if (tracing) layers else endToEnd).map { case (k, v) =>
      k -> Map("value" -> v, "unit" -> unitOf(k)) }
    val record = Map(
      "workload" -> workload, "seed" -> ctx.seed, "traced" -> tracing,
      "attempted" -> out.attempted, "failed" -> out.failed,
      "session_s" -> sessionS, "warmup_op_s" -> out.warmupSeconds, "timed_ops" -> ops.size,
      s"${out.itemName}_per_s" -> out.items / ops.sum,
      "timed_wall_s" -> out.timedWallSeconds,
      "op_p90_s" -> (if (ops.size >= 100) Harness.quantile(ops, 0.9) else Double.NaN),
      "op_s" -> ops,
      "jvm_gc_s" -> Harness.gcSeconds(),
      "cpu_steal_pct" -> 100.0 * (steal1 - steal0) / math.max(1L, jiffies1 - jiffies0),
      "canary_s" -> canaryS,
      "end_to_end" -> endToEnd,
      "check_failures" -> out.checkFailures.take(20),
      "check_failure_count" -> out.checkFailures.size) ++ out.extra
    println("PERFBENCH_RECORD " + Harness.json(record))
    println("PERFBENCH_RESULT " + Harness.json(Map(
      "correct" -> out.checkFailures.isEmpty,
      "attempted" -> out.attempted, "failed" -> out.failed, "metrics" -> metrics)))
    System.out.flush()
    spark.stop()
  }
}
