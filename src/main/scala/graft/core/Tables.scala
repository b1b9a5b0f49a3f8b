package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Reading through `spark.read.parquet` keeps the scan declarative so
  * Catalyst pushes filters/column pruning into the parquet reader —
  * at 100 TB the scan is the dominant cost and pushdown is the first
  * lever.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def t(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")

  /** Spread a small CPU-dense table across the session's cores.
    *
    * The test corpora ship each table as a single parquet row group,
    * and a row group is the parquet split unit — so the SCAN STAGE of
    * every consumer runs as ONE task no matter how many cores the
    * session has. For `documents`/`embeddings` that stage is where
    * the expensive per-row work lives (shingling, n-gram analysis,
    * extraction, vector arithmetic): measured at sf0.1×10, the stub
    * LLM extraction burned 98 s and the dedup-group build 108 s on
    * one core each while 31 sat idle.
    *
    * A round-robin `repartition(defaultParallelism)` after the scan
    * fixes the local regime; the byte threshold keeps it scale-safe:
    * a table past 64 MB is left to the ordinary split planner (at
    * real corpus scale inputs are many files × many row groups and
    * already parallel — adding a full-table shuffle there would be
    * the bug). Filters still reach the parquet reader (predicate
    * pushdown crosses RepartitionOperation); limit pushdown does
    * not, which is why only the CPU-dense tables spread and the
    * relational tables keep their raw scans.
    *
    * Row-order effects: round-robin changes partition assignment, so
    * every downstream float aggregation must be (and is) order-
    * independent — decimal-exact sums ([[Exact]]), md5-ordered
    * samples, row-local scoring. [[graft.vector.KnnJoin.ivfIndex]]
    * documents the same invariant for the k-means path.
    *
    * OPT-IN, not automatic: measured at sf0.1, auto-spreading every
    * `documents`/`embeddings` read cost the suite ~13 s — sixty
    * shuffle-dominated or sub-second queries each paid an extra
    * exchange (and MLlib's treeAggregate slowed on 32 near-empty
    * partitions) to buy wins only where per-row work is real. So the
    * heavy builders (shingle/minhash/simhash passes, gram counters,
    * chunkers, the extraction stage, the exact-kNN loops, IVF
    * assignment) call [[documentsSpread]]/[[embeddingsSpread]]
    * explicitly, and everything else keeps the raw scan. */
  private def spreadIfSmall(df: DataFrame, name: String): DataFrame =
    Tables.spreadIfSmall(spark, df, s"$dir/$name.parquet")

  def region: DataFrame = t("region")
  def nation: DataFrame = t("nation")
  def customer: DataFrame = t("customer")
  def supplier: DataFrame = t("supplier")
  def part: DataFrame = t("part")
  def orders: DataFrame = t("orders")
  def lineitem: DataFrame = t("lineitem")

  /** `events.ts` normalized to a plain TIMESTAMP regardless of how
    * the corpus generator annotated it. Observed generator shapes:
    * parquet TIMESTAMP(NANOS), which Spark only reads as a raw long
    * (`spark.sql.legacy.parquet.nanosAsLong`, set by every engine
    * session); and TIMESTAMP(MICROS, isAdjustedToUTC=false), which
    * Spark reads as TIMESTAMP_NTZ — a type `unix_micros`/watermarks
    * reject. Both normalize to the instant type DuckDB's µs-naive
    * read produces, value-identical because every engine session pins
    * `spark.sql.session.timeZone=UTC` (the NTZ→TS cast interprets
    * wall-clock fields in the session zone). */
  def events: DataFrame = {
    val raw = t("events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer `div`, not `/`: epoch-nanos exceed 2^53 and a double
        // division would corrupt the low bits.
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  def documents: DataFrame = t("documents")
  def embeddings: DataFrame = t("embeddings")

  /** CPU-dense readers: the raw scan spread across the session's
    * cores when the table is small (see [[spreadIfSmall]]). */
  def documentsSpread: DataFrame = spreadIfSmall(documents, "documents")
  def embeddingsSpread: DataFrame = spreadIfSmall(embeddings, "embeddings")
}

object Tables {
  /** Spread threshold: below this a table is "small" — cheap to
    * reshuffle wholesale, and likely a handful of splits (often one
    * row group) that would otherwise serialize its consumers' scan
    * stages. 64 MB is half a default parquet row group: anything
    * bigger has real split structure and keeps its scan layout. */
  val SpreadMaxBytes: Long = 64L * 1024 * 1024

  /** The ONE spread-policy gate (core count + size bound) — callers
    * outside this file (e.g. the dedup augmented corpus) use this
    * instead of re-deriving the condition, so the policy cannot fork. */
  private[graft] def spreadIfSmall(spark: SparkSession, df: DataFrame,
                                   path: String): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    if (cores > 1 && bytesOf(spark, path) < SpreadMaxBytes)
      df.repartition(cores)
    else df
  }

  /** Byte size memo: the underlying test corpora are immutable for a
    * JVM's lifetime, and dozens of spread reads per bench would
    * otherwise clone a Hadoop Configuration + stat the path each
    * call. Only SUCCESSFUL stats memoize — a path stat'd before its
    * table exists (fixture dirs, regenerated corpora) must not pin
    * the unknown-size sentinel for the JVM lifetime, or the
    * small-table spread would silently never fire for it. */
  private val bytesMemo =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Total bytes of a table path (file or directory); unknown =
    * Long.MaxValue so the spread never fires on an unreadable path. */
  private[graft] def bytesOf(spark: SparkSession, path: String): Long =
    bytesMemo.get(path).getOrElse {
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        val st = fs.getFileStatus(p)
        val n = if (st.isDirectory) fs.getContentSummary(p).getLength
                else st.getLen
        bytesMemo.putIfAbsent(path, n)
        n
      } catch { case scala.util.control.NonFatal(_) => Long.MaxValue }
    }
}
