package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries`/`oracleSqlFor` are the union of per-family [[QueryPack]]s; the
  * driver runs each query at sf0.01 and hash-compares against the DuckDB
  * oracle SQL on the same parquet tables.
  */
object SparkEntry {

  /** All operator-family packs. Query/oracle names must be globally
    * unique — asserted below, since `flatMap(...).toMap` would
    * otherwise let a later pack silently shadow an earlier one. */
  val packs: Seq[QueryPack] = Seq(
    relational.RelationalPack,
    text.TextPack,
    normalize.NormalizePack,
    vector.VectorPack,
    dedup.DedupPack,
    text.AnalysisPack,
    metrics.MetricsPack,
    llm.LlmPack,
    streaming.StreamPack,
    multimodal.MultimodalPack,
    ingest.IngestPack,
    ingest.WebScrapePack,
    ingest.XlsxPack,
    vector.MlPack,
    metrics.FeedbackPack,
    relational.TemporalPack,
    pipeline.PipelinePack)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    relational.RelationalPack.pricingSummary(spark, "/root/testdata/sf0.001")

  private def assertUnique(kind: String, keys: Seq[String]): Unit = {
    val dups = keys.groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }
    require(dups.isEmpty, s"duplicate $kind name(s) across packs: ${dups.mkString(", ")}")
  }
  assertUnique("query", packs.flatMap(_.queries.keys.toSeq))
  assertUnique("oracle", packs.flatMap(_.oracles.keys.toSeq))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables (omitted for non-SQL-expressible ops).
    * Dir-aware — Verify dumps THIS for its data dir, so oracles that
    * embed per-dir fitted state (MlPack weights) always describe the
    * dir under verification (see [[QueryPack.oraclesFor]]). */
  def oracleSqlFor(dir: String): Map[String, String] =
    packs.flatMap(_.oraclesFor(dir)).toMap
}
