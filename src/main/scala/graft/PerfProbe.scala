package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.FormattedMode

/** Probe over declared queries for local iteration (Verify and Bench
  * do not use it). Two modes, both over the same names:
  *
  *  - `qreps [q1,q2,...] [n]` — run each named query `n` times
  *    (default 3) in ONE JVM (JIT-warm after rep 1) and print every
  *    rep: min-over-reps is the noise-robust A/B statistic on a shared
  *    box whose load swings 2-3x mid-run. Before every rep the memos
  *    built by any probed name are dropped, so a query's number does
  *    not depend on which names ran before it in the list. Each line
  *    also gives the rep's Janino compilations and their
  *    `CodeGenerator` compile seconds: rep 1 against a later rep shows
  *    what the session's codegen cache saved.
  *  - `explain [q1,q2,...]` — print each named query's formatted
  *    physical plan and audit the scale-critical properties: parquet
  *    filter pushdown, pruned read schemas, broadcast joins and
  *    whole-stage codegen spans in the executed (post-AQE) plan.
  *
  * Names default to every declared query. `SPARK_GRAFT_SF_DIR` selects
  * the scale and `SPARK_GRAFT_CPUS` the core count, like Bench:
  * `sbt "runMain graft.PerfProbe explain d02_jaccard_pairs,s09_dedup_gate"`.
  */
object PerfProbe {
  private val Usage = "usage: PerfProbe <qreps|explain> [q1,q2,...] [n]"

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    require(mode == "qreps" || mode == "explain", Usage)
    val names = args.lift(1).map(_.split(",").toSeq.filter(_.nonEmpty))
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not declared queries: ${unknown.mkString(",")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = core.GraftSession.local(appName = "graft-probe")
    try {
      if (mode == "qreps") qreps(spark, sfDir, names, args.lift(2).fold(3)(_.toInt))
      else names.foreach(n => core.Caches.scoped(n)(explain(spark, sfDir, n)))
    } finally spark.stop()
  }

  private def qreps(spark: SparkSession, sfDir: String, names: Seq[String],
                    n: Int): Unit = {
    for (r <- 1 to n; name <- names) {
      // each rep rebuilds every memo a probed query built, so a
      // consumer never reads what an earlier name in the list left
      names.foreach(core.Artifacts.dropScope)
      core.Caches.scoped(name) {
        val (c0, ct0) = (compiles, CodeGenerator.compileTime)
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"QREP $name $r: $s%.2f s compiles=${compiles - c0} " +
          f"compile_s=${(CodeGenerator.compileTime - ct0) / 1e9}%.2f")
      }
    }
  }

  /** Janino compilations so far in this JVM (a cache hit adds none). */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def explain(spark: SparkSession, sfDir: String, name: String): Unit = {
    println(s"\n===== $name =====")
    val df: DataFrame = SparkEntry.queries(name)(spark, sfDir)
    val formatted = df.queryExecution.explainString(FormattedMode)
    println(formatted)
    val pushed = "PushedFilters: \\[[^\\]]+\\]".r
      .findAllIn(formatted).toSeq.distinct
    val schemas = "ReadSchema: [^\\n]+".r.findAllIn(formatted).toSeq.distinct
    val bcasts = formatted.linesIterator.count(_.contains("BroadcastHashJoin"))
    // codegen spans only exist in the FINAL (post-AQE) plan, and only
    // on the QueryExecution that actually ran — collect() drives THIS
    // one (df.write would plan a fresh QE)
    df.collect()
    val wsc = "\\*\\((\\d+)\\)".r
      .findAllMatchIn(df.queryExecution.executedPlan.toString)
      .map(_.group(1)).toSet.size
    println(s"--- audit: pushedFilters=${pushed.size} " +
      s"broadcastHashJoins=$bcasts wholeStageCodegenSpans=$wsc")
    pushed.foreach(p => println(s"    $p"))
    schemas.foreach(s => println(s"    $s"))
  }
}
