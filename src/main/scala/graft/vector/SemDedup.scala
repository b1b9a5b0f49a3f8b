package graft.vector

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
  * web-scale through semantic deduplication", arXiv:2303.09540) —
  * the embedding-space dedup used on LAION/C4-scale corpora: k-means
  * cluster the embeddings, mine cosine near-duplicate pairs ONLY
  * within clusters, and per duplicate pair keep the member FARTHEST
  * from its cluster centroid (the paper's §3 keeper rule — low
  * centroid similarity retains the cluster's diversity; the
  * prototypical members are the redundant ones).
  *
  * This is the semantic tier of the dedup ladder: exact (digest),
  * lexical (Jaccard/minhash/simhash), and embedding near-dup mining
  * (SRP-banded cosine) find COPIES; SemDeDup finds semantically
  * redundant documents whose text never overlaps.
  *
  * Every stage is deterministic and SQL-replayable, the IVF
  * discipline: the clustering IS a trained [[KnnJoin.IvfIndex]]
  * (md5-ordered seed sample + Lloyd through exact-decimal means, then
  * the (dot desc, cid asc) argmax assignment), which the caller builds
  * once with [[KnnJoin.ivfIndex]] or [[KnnJoin.ivfIndexArtifact]], so
  * the d12 oracle replays the whole pipeline like v10.
  *
  * Scale shape (the paper's own design point): the pair join shuffles
  * on centroid id, so the pair space is Σ|cluster|² instead of n² —
  * the list count grows with the corpus (the ⌈√n⌉ index, `nlist =
  * None`) to bound per-cluster work, and clusters past the bound
  * compose with the SRP-banded candidate stage
  * ([[KnnJoin.cosinePairsAboveBanded]]) inside the cluster. No stage broadcasts the corpus: centroids are the only
  * broadcast (one row per list), Lloyd iterations are linear scans with
  * bounded shuffles, and the within-cluster join carries (id, csim)
  * plus one embedding per side. Cross-cluster near-dup pairs are the
  * documented miss mode — identically in both engines, so determinism
  * and the oracle hold.
  */
object SemDedup {

  /** Per-vector SemDeDup verdict over `vectors` (vec_id, embedding)
    * clustered by `ivf`, an index trained on the same vectors:
    * cluster assignment, cosine similarity to the assigned centroid,
    * and `kept` (0 when some same-cluster partner at cosine ≥ `tau`
    * sits FARTHER from the centroid — or equally far with a smaller
    * id — making this row the pair's redundant member). At a fixed
    * list count the within-cluster pair space Σ|c|² is n²/k; the
    * ⌈√n⌉ index makes it n^1.5 (the paper's own design point; the
    * pinned 16-list index stays the oracle form). */
  def semDedup(spark: SparkSession, vectors: DataFrame, tau: Double,
               ivf: KnnJoin.IvfIndex): DataFrame = {
    val v = graft.core.Caches.transient(vectors
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding")))
    // cosine to the assigned centroid — the keeper-selection key
    val withC = graft.core.Caches.transient(ivf.assignments
      .join(v, Seq("vec_id"))
      .join(ivf.centroids.select(col("centroid_id"), col("embedding").as("cv")),
        Seq("centroid_id"))
      .select(col("vec_id"), col("centroid_id"),
        VectorOps.cosine(col("embedding"), col("cv")).as("csim")))
    // within-cluster near-dup pairs: the join shuffles on centroid_id,
    // never an all-pairs scan over the corpus
    val a = withC.select(col("centroid_id"), col("vec_id").as("a_id"),
      col("csim").as("ca"))
    val b = withC.select(col("centroid_id"), col("vec_id").as("b_id"),
      col("csim").as("cb"))
    val va = v.select(col("vec_id").as("a_id"), col("embedding").as("av"))
    val vb = v.select(col("vec_id").as("b_id"), col("embedding").as("bv"))
    val pairs = a.join(b, Seq("centroid_id")).filter(col("a_id") < col("b_id"))
      .join(va, Seq("a_id")).join(vb, Seq("b_id"))
      .withColumn("cos", VectorOps.cosine(col("av"), col("bv")))
      .filter(col("cos") >= tau)
    // keeper rule: the pair member CLOSER to the centroid (higher
    // csim; ties by larger id) is the redundant one
    val removed = pairs.select(
      when(col("ca") > col("cb") ||
          (col("ca") === col("cb") && col("a_id") > col("b_id")),
        col("a_id")).otherwise(col("b_id")).as("vec_id")).distinct()
    withC.join(removed.withColumn("rm", lit(1L)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"),
        round(col("csim"), 6).as("sim_centroid"),
        when(col("rm").isNotNull, 0L).otherwise(1L).as("kept"))
  }

  /** Contrastive TRIPLET mining — the training-pair generator for
    * embedding models (the DPR/SimCSE hard-negative recipe): each
    * near-duplicate pair (cos ≥ `tau`) yields an (anchor, positive);
    * the hard negative is the anchor's MOST similar same-cluster
    * non-duplicate (highest cos below `tau`, ties min id) — near
    * misses train better margins than random negatives. Clustering
    * bounds the candidate space exactly as in [[semDedup]]: the pair
    * join shuffles on centroid id, never n². Deterministic and
    * SQL-replayable via the same v10 chain; `ivf` is trained on
    * `vectors`. */
  def contrastiveTriplets(spark: SparkSession, vectors: DataFrame, tau: Double,
                          ivf: KnnJoin.IvfIndex): DataFrame = {
    val v = graft.core.Caches.transient(vectors
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding")))
    val asg = ivf.assignments
    val a = asg.select(col("centroid_id"), col("vec_id").as("anchor"))
    val b = asg.select(col("centroid_id"), col("vec_id").as("cand"))
    val va = v.select(col("vec_id").as("anchor"), col("embedding").as("av"))
    val vb = v.select(col("vec_id").as("cand"), col("embedding").as("bv"))
    // DIRECTIONAL within-cluster pairs: each member anchors its own
    // triplet, so one planted pair yields two training rows
    val prs = graft.core.Caches.transient(
      a.join(b, Seq("centroid_id")).filter(col("anchor") =!= col("cand"))
        .join(va, Seq("anchor")).join(vb, Seq("cand"))
        .withColumn("cos", VectorOps.cosine(col("av"), col("bv")))
        .select(col("anchor"), col("cand"), col("cos")))
    val pos = prs.filter(col("cos") >= tau)
      .select(col("anchor"), col("cand").as("pos_id"), col("cos").as("pos_cos"))
    val wNeg = Window.partitionBy(col("anchor"))
      .orderBy(col("cos").desc, col("cand"))
    val neg = prs.filter(col("cos") < tau)
      .withColumn("rn", row_number().over(wNeg)).filter(col("rn") === 1)
      .select(col("anchor"), col("cand").as("neg_id"), col("cos").as("neg_cos"))
    pos.join(neg, Seq("anchor"))
      .select(col("anchor"), col("pos_id"), col("neg_id"),
        round(col("pos_cos"), 6).as("pos_cos"),
        round(col("neg_cos"), 6).as("neg_cos"))
  }
}
