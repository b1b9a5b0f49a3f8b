package graft.core

import org.apache.spark.sql.SparkSession

/** THE session factory: Bench, Verify, ScaleCorpus, PerfProbe, the
  * specs and the benchmark harness all build their session here, so
  * the configuration that is verified is the one that is measured.
  *
  * Local mode is one JVM with N executor threads; on a real cluster the
  * same configs apply per-executor. Shuffle partitions default to the
  * local core count (not Spark's 200) and AQE re-plans at runtime
  * (coalesces small shuffle partitions, splits skewed ones) so the same
  * job scales from sf0.001 smoke tests to the 100 TB target without
  * hand-tuning. [[graft.plans.GraftExtensions]] is installed on every
  * session at build time — the SQL functions, the kNN planner strategy
  * and the top-k rewrite rule are never wired by hand per query.
  */
object GraftSession {
  /** `cpus` defaults to `SPARK_GRAFT_CPUS`, else the host's cores. */
  def local(
      cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors.toString),
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Permissive-parse is the engine contract (reference semantics:
      // unparseable → None); legacy cast-null matches the oracle's
      // explicit TRY_CASTs.
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
