package graft.sample

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * arXiv:2302.03169): select pretraining documents from a large raw
  * pool so the selection DISTRIBUTIONALLY matches a small target
  * domain. The paper's estimator: hashed n-gram bucket counts give a
  * bag-of-features model of target and raw; each raw document scores
  * the sum of per-feature log importance ratios
  * ln p_target(b)/p_raw(b); sampling without replacement ∝ weight is
  * realized by the Gumbel-top-k trick (score + Gumbel noise, take the
  * k largest — Vieira 2014), with the Gumbel variate derived from a
  * hashed uniform so the whole selection is deterministic and
  * SQL-replayable (the engine's hash-threshold discipline, same as
  * the a06 mixture sampler).
  *
  * Scale shape: feature extraction is one shingle pass (linear in
  * corpus tokens); bucket models are a bounded groupBy ([[Buckets]]
  * rows — broadcastable by construction no matter the corpus size);
  * per-doc scoring is a map-side join + partial-aggregatable sum;
  * the only global step is top-k selection, which runs as Spark's
  * distributed TakeOrdered (per-partition heaps + driver merge of k
  * rows), never a full sort. Laplace-smoothed counts keep unseen
  * buckets finite: p(b) = (cnt+1)/(total+Buckets), all-integer inputs
  * so both engines divide identical doubles. Per-feature terms round
  * to 9 decimals and sum as decimals (order-independent, absorbs
  * last-ulp ln differences — the a08 discipline).
  */
object Dsir {

  /** Docs selected, hashed-bigram buckets per model, and the Gumbel
    * hash seed. */
  private val K = 50
  private val Buckets = 1024
  private val Seed = "dsir"

  /** Top-[[K]] raw-pool docs by Gumbel-perturbed importance weight.
    * `docs` carries (doc_id, text, source); the target model is built
    * from `targetSource` rows, the raw model and the candidate pool
    * from all other rows. */
  def importanceResample(spark: SparkSession, docs: DataFrame,
                         targetSource: String): DataFrame = {
    val feats = graft.core.Caches.transient(
      docs.select(col("doc_id"), col("source"),
          explode(Dedup.shingles(col("text"), 2)).as("s"))
        .select(col("doc_id"), col("source"),
          pmod(Dedup.hash60(col("s")), lit(Buckets.toLong)).as("bucket")))
    val isT = col("source") === targetSource
    val tc = feats.filter(isT).groupBy(col("bucket"))
      .agg(count(lit(1)).as("tc"))
    val tt = feats.filter(isT).agg(count(lit(1)).as("tt"))
    val rc = feats.filter(!isT).groupBy(col("bucket"))
      .agg(count(lit(1)).as("rc"))
    val rt = feats.filter(!isT).agg(count(lit(1)).as("rt"))
    // per-feature log importance ratio under the smoothed models —
    // bucket models are tiny (≤ [[Buckets]] rows), so both joins
    // broadcast regardless of corpus size
    val term =
      log((coalesce(col("tc"), lit(0L)) + lit(1L)).cast("double") /
          (col("tt") + lit(Buckets.toLong)).cast("double")) -
      log((coalesce(col("rc"), lit(0L)) + lit(1L)).cast("double") /
          (col("rt") + lit(Buckets.toLong)).cast("double"))
    val scored = feats.filter(!isT)
      .join(broadcast(tc), Seq("bucket"), "left")
      .join(broadcast(rc), Seq("bucket"), "left")
      .crossJoin(broadcast(tt)).crossJoin(broadcast(rt))
      .select(col("doc_id"), round(term, 9).cast("decimal(28,9)").as("ts"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("ts")).as("s"))
    // Gumbel-top-k: g = −ln(−ln(u)), u hashed uniform in (0,1)
    val u = (conv(substring(md5(concat(lit(Seed + "_"),
      col("doc_id").cast("string"))), 1, 4), 16, 10).cast("double") +
      lit(0.5)) / lit(65536.0)
    val pool = docs.filter(col("source") =!= targetSource).select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("s").cast("double"), lit(0.0)).as("logw"),
        (-log(-log(u))).as("g"))
      .select(col("doc_id"), col("n_feats"), col("logw"),
        round(col("logw") + col("g"), 6).as("score"))
    // distributed top-k (TakeOrdered), then rank over the k survivors;
    // the final orderBy pins output row order for the hash-compared
    // dump (every oracle-checked query ends with an explicit sort)
    val top = pool.orderBy(col("score").desc, col("doc_id")).limit(K)
    val wr = Window.orderBy(col("score").desc, col("doc_id"))
    top.withColumn("rank", row_number().over(wr).cast("long"))
      .select(col("doc_id"), col("rank"), col("n_feats"),
        round(col("logw"), 6).as("logw"), col("score"))
      .orderBy(col("rank"))
  }
}
