package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

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
  *
  * Two codegen confs let a generated class compile once per session
  * and then be reused, by a later query, a repeated query or the next
  * micro-batch of a stream:
  *
  *  - `spark.sql.codegen.cache.maxEntries` sizes Spark's compiled-class
  *    cache ([[CodegenCacheEntries]]). Spark's 100 entries evict
  *    before reuse: one stream arrival alone needs about 400. This
  *    conf is STATIC: Spark reads it once per JVM, when
  *    `CodeGenerator` initializes at the first codegen, so it takes
  *    effect only if this factory builds the JVM's first session
  *    before anything generates code. A later session cannot resize
  *    the cache.
  *  - `spark.sql.codegen.useIdInClassName=false` drops the stage id
  *    from whole-stage class names. The cache is keyed by the source
  *    text, so with the id in the name two stages with identical
  *    bodies (`GeneratedIteratorForCodegenStage4` and `...5`) compile
  *    twice and hold two entries.
  */
object GraftSession {
  /** Compiled-class cache size. A full sf0.01 Verify (all 192 declared
    * queries in one JVM) with a cache too large to evict made 2256
    * compilations, each one a distinct (classloader, source) entry:
    * that is the whole working set of a session that runs every
    * declared query. 5000 leaves about 2x headroom for plan shapes that
    * only larger inputs produce (other join strategies, split methods)
    * and for mains that run more than the declared queries. Spark's
    * 100 evicts within one stream arrival (about 400 entries). */
  private val CodegenCacheEntries: Int = 5000

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
      .config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key,
        CodegenCacheEntries.toString)
      .config(SQLConf.WHOLESTAGE_CODEGEN_USE_ID_IN_CLASS_NAME.key, "false")
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
