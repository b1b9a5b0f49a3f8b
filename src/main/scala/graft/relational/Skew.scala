package graft.relational

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation and layout helpers for the 100 TB posture
  * (SURVEY.md §7.4 note 5; builder brief "salting for skew").
  *
  * AQE's skew-join split handles sort-merge skew automatically; the
  * explicit salt here is for the cases AQE can't rewrite (aggregations
  * over a hot key, storage-partition-level hot spots) and for engines
  * pinned to static plans.
  */
object Skew {

  /** Salted join of a skewed fact side against a dimension: the fact
    * key gains a deterministic salt in [0, saltFactor), the dimension
    * replicates once per salt value, and the join key becomes
    * (key, salt) — a hot key now spreads over `saltFactor` reducers.
    * Result rows are identical to the unsalted join (spec-checked).
    * The salt is a ROW-CONTENT hash (all fact columns), not
    * monotonically_increasing_id: a partial-stage retry reassigns
    * ids, so an id-derived salt would re-bucket rows mid-recovery —
    * content-hash salting is bit-stable under task retries. Identical
    * duplicate rows share a salt, which only matters if a hot key's
    * rows are ALSO byte-identical (then dedup first). */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 saltFactor: Int): DataFrame = {
    requireDistinctColumns(fact, "saltedJoin fact")
    val salted = fact.withColumn("_salt",
      pmod(hash(fact.columns.map(col).toIndexedSeq: _*), lit(saltFactor)))
    val replicated = dim.withColumn("_salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }

  /** The content-hash salt resolves columns BY NAME — a frame with
    * duplicate column names (e.g. fresh off a join) would throw an
    * ambiguity error deep inside the hash; fail at the entry point
    * with the actionable message instead. */
  private def requireDistinctColumns(df: DataFrame, who: String): Unit = {
    val dups = df.columns.groupBy(identity).collect {
      case (n, occ) if occ.length > 1 => n
    }
    require(dups.isEmpty,
      s"$who requires distinct column names (content-hash salt resolves " +
        s"by name); duplicates: ${dups.mkString(", ")} — rename or drop first")
  }

  /** Two-phase skew-safe aggregation: partial-aggregate on
    * (key, salt), then final-aggregate on key. For algebraic
    * aggregates (sum/count/min/max) the result equals the direct
    * groupBy; a hot key's partials spread over `saltFactor` tasks.
    * Deterministic row-content salt — see [[saltedJoin]]; as there,
    * byte-identical duplicate rows of a hot key share one salt and do
    * NOT spread — dedup (or add a distinguishing column) first when
    * the hot key's rows are also identical. */
  def saltedSum(df: DataFrame, key: Column, value: Column,
                saltFactor: Int): DataFrame = {
    requireDistinctColumns(df, "saltedSum")
    df.select(key.as("k"),
        pmod(hash(df.columns.map(col).toIndexedSeq: _*), lit(saltFactor)).as("_salt"),
        value.as("v"))
      .groupBy(col("k"), col("_salt")).agg(sum(col("v")).as("pv"))
      .groupBy(col("k")).agg(sum(col("pv")).as("sum_v"))
  }

  /** Small-file COMPACTION: rewrite a parquet directory into
    * ⌈bytes/targetBytes⌉ files. Streaming sinks, per-batch appends,
    * and over-parallel writes leave thousands of KB-sized files whose
    * per-file open/footer cost dominates scans long before data size
    * does — periodic compaction to the scan-optimal file size
    * (hundreds of MB under the default 128 MB split) is a standing
    * maintenance job at 100 TB. The input is stat'd FRESH (no
    * memoized size — compaction targets are exactly the paths whose
    * size changes), and the file count derives from real bytes, not
    * row counts. One read + one shuffle-free-ish repartition + one
    * write; at corpus scale run it per partition directory so only
    * fragmented partitions pay. */
  def compact(spark: org.apache.spark.sql.SparkSession, inDir: String,
              outDir: String, targetBytes: Long): String = {
    require(targetBytes > 0, "targetBytes must be positive")
    val p = new org.apache.hadoop.fs.Path(inDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // size from the DATA files only — getContentSummary also counts
    // the local ChecksumFileSystem's hidden .crc siblings and
    // _SUCCESS markers, which would inflate the file-count plan near
    // a byte-budget boundary (data/128 of checksum bytes is enough to
    // tip the ceil)
    val bytes = fs.listStatus(p).iterator
      .filter(st => st.isFile && {
        val n = st.getPath.getName
        !n.startsWith(".") && !n.startsWith("_")
      })
      .map(_.getLen).sum
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(inDir)
      .repartition(nFiles)
      .write.mode("overwrite").parquet(outDir)
    outDir
  }
}
