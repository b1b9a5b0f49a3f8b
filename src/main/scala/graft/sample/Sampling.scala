package graft.sample

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling and splits (SURVEY.md §2.5 M1-M5).
  *
  * The reference pins seeds everywhere (0/42/123 — `Neww_Fai.py:49-55`)
  * because reproducibility is a product requirement. Spark's
  * `rand(seed)` is only reproducible for a FIXED partitioning, which a
  * 1000-executor cluster does not guarantee — so the engine's
  * canonical "seeded randomness" is a content hash: md5(seed ‖ key).
  * That is partition-independent, cluster-size-independent, and the
  * oracle can evaluate the identical expression. Every sampler uses
  * the seed "42".
  */
object Sampling {

  private[graft] val Seed = "42"

  /** Uniform pseudo-random hex string in [0,1)-order for a key. */
  def hashKey(key: Column): Column =
    md5(concat(lit(Seed), key.cast("string")))

  /** M2 row split: deterministic two-way split by hash fraction.
    * `frac` is approximated at 16-bit precision (4 hex digits). */
  def hashSplit(df: DataFrame, key: Column, frac: Double): DataFrame = {
    val threshold = f"${math.round(frac * 65536).min(65535)}%04x"
    df.withColumn("split",
      when(substring(hashKey(key), 1, 4) < lit(threshold), "train")
        .otherwise("test"))
  }

  /** M3 document-level anti-leakage split (`Neww_Fai.py:229-247`):
    * the SPLIT UNIT is the document key, so all rows of one document
    * land on the same side — a hash on the doc key gives that for
    * free, with no distinct + semi-join round trip. */
  def docSplit(df: DataFrame, docKey: Column, frac: Double): DataFrame =
    hashSplit(df, docKey, frac)

  /** M1 per-label balanced sample: n rows per label, chosen by hash
    * order (deterministic stand-in for `df.sample` per label). One
    * shuffle on the label key. */
  def balancedSample(df: DataFrame, label: Column, n: Int,
                     key: Column): DataFrame = {
    val w = Window.partitionBy(label).orderBy(hashKey(key), key)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= n)
      .drop("_rn")
  }

  /** M4 fixed-size sample by hash order. A global order-limit: fine
    * for eval-set carving (the reference caps at ~100 docs), not for
    * extracting a large fraction at scale — use [[hashSplit]] there. */
  def fixedSample(df: DataFrame, n: Int, key: Column): DataFrame =
    df.orderBy(hashKey(key), key).limit(n)

  /** M5 statistical sample size n = Z²·p(1−p)/E² (`email_717.py:13-92`;
    * 136 docs @ Z=1.96, p=0.9021, E=0.05). Driver-side scalar. */
  private[graft] def sampleSize(z: Double, p: Double, e: Double): Long =
    math.ceil(z * z * p * (1 - p) / (e * e)).toLong
}
