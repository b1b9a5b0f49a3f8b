package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthetic scale-up corpus builder — the harness form of the round-6
  * one-off 10× measurement (PERF.md "10× scale-up measurement"), which
  * caught a silent quadratic recompute (f04) that was invisible at the
  * correctness SF. Institutionalized so every round gets the
  * per-query scaling-class table (`tools/scalerun.py` → SCALE_r*.json)
  * instead of a paper argument.
  *
  * Each source table is unioned `factor` times with every join-key
  * column shifted by a per-copy offset, so each copy is a
  * self-consistent shard of the keyspace: joins resolve within a copy
  * and never across copies (orders×10 still match customer×10
  * one-to-one), group-key cardinality grows with the corpus (25
  * nations → 250 at 10×, as a larger corpus would), and non-key
  * payloads (text, embeddings) are duplicated verbatim — which is the
  * realistic shape for dedup: near-dup clusters, not noise.
  *
  * Timestamps intentionally repeat across copies: 10× data in the
  * same time range densifies windows/sessions rather than stretching
  * history, which is the harder (and realistic) streaming regime.
  *
  * `events.ts` is round-tripped through [[graft.core.Tables.events]]'s
  * nanos→micros conversion and written as a plain Spark timestamp
  * (parquet TIMESTAMP_MICROS, UTC-adjusted) — the round-6 first
  * attempt wrote TIMESTAMP_NTZ, which `unix_micros` rejects; going
  * through the session's own reader keeps the scale corpus readable
  * by the exact code under test.
  *
  * Env contract (all optional):
  *   SPARK_GRAFT_SF_DIR        source corpus (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_SCALE_FACTOR  union factor (default 10)
  *   SPARK_GRAFT_SCALE_DIR     output (default /tmp/graft_scale_<factor>x)
  */
object ScaleCorpus {
  /** Join-key columns shifted per copy. Long keys shift by copy·10⁹
    * (clear of every source keyspace); int keys by copy·10⁴
    * (int32-safe to factor ~10⁵). */
  private val keyCols: Map[String, Seq[String]] = Map(
    "region"     -> Seq("r_regionkey"),
    "nation"     -> Seq("n_nationkey", "n_regionkey"),
    "customer"   -> Seq("c_custkey", "c_nationkey"),
    "supplier"   -> Seq("s_suppkey", "s_nationkey"),
    "part"       -> Seq("p_partkey"),
    "orders"     -> Seq("o_orderkey", "o_custkey"),
    "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events"     -> Seq("event_id", "user_id"),
    "documents"  -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
  )

  /** `factor` key-shifted copies of `df`, types preserved. */
  def scaled(df: DataFrame, table: String, factor: Int): DataFrame = {
    val keys = keyCols.getOrElse(table, Seq.empty)
    (0 until factor).map { copy =>
      keys.foldLeft(df) { (d, k) =>
        d.schema(k).dataType match {
          case org.apache.spark.sql.types.LongType =>
            d.withColumn(k, col(k) + lit(copy * 1000000000L))
          case _ =>
            d.withColumn(k, (col(k) + lit(copy * 10000)).cast(d.schema(k).dataType))
        }
      }
    }.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      s"/tmp/graft_scale_${factor}x")
    require(factor >= 1, s"factor must be >= 1, got $factor")
    require(!outDir.startsWith("/root/testdata") && !outDir.startsWith("/root/reference"),
      s"refusing to write the synthetic corpus into read-only data dirs: $outDir")
    val spark = core.GraftSession.local()
    val tables = core.Tables(spark, srcDir)
    for (name <- keyCols.keys.toSeq.sorted) {
      // events goes through the session's nanos→micros reader so the
      // written column is a real timestamp, not an epoch-nanos long
      val src = if (name == "events") tables.events else tables.t(name)
      val out = scaled(src, name, factor)
      out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"SCALE $name: ${out.count()} rows -> $outDir/$name.parquet")
    }
    println(s"SCALE done: factor=$factor src=$srcDir out=$outDir")
    spark.stop()
  }
}
