package graft.vector

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.KnnJoinPlan.knnJoin

/** kNN similarity join (SURVEY.md §2.3 J4) — the reference's FAISS
  * flat-index search (`IndexFlatIP`) re-expressed for Spark.
  *
  * [[search]] is the one exact entry point. It plans through the custom
  * operator ([[graft.plans.KnnJoinPlan.knnJoin]] → `KnnJoinExec`): when
  * the plan executes, the index side is collected once and broadcast,
  * and each query row keeps a bounded [[TopK]] selection. No shuffle,
  * O(k) memory per query row — the reference's in-RAM index
  * (`Faiss_2_10.py:61-114`) with executors replacing the single GPU.
  * Semantics: inner product over double-cast embeddings (callers L2
  * normalize for cosine), ties broken by ascending neighbor id.
  *
  * [[exactCross]] is the declarative twin the specs check the operator
  * against. The `approx*` functions are the approximate index ladder
  * (IVF, PQ, IVF-PQ, SQ8, IVF-SQ8); each backs a declared query with
  * its own oracle SQL. Training is kept apart from search, as FAISS
  * keeps `train` apart from `search`: [[ivfIndex]] (or its session
  * form [[ivfIndexArtifact]]), [[pqIndex]] and [[sq8Stats]] build an
  * index once, and every search takes a built one.
  *
  * Each ladder step has one DuckDB twin (`…Sql`) beside its Spark
  * form, and the oracles compose them. A twin takes the names of the
  * relations it reads and defines (`<out>_…` on the way): vectors
  * (vec_id, v DOUBLE[]), centroids (cid, cv), candidates (qid, nid),
  * search results (qid, nid, sim, rnk) with every rank kept.
  */
object KnnJoin {

  // Build and search constants of the approximate family, one value
  // each. The DuckDB twins below interpolate them, so the v10-v26, v14
  // and d12 oracles compose those twins and spell none of them.
  private[graft] val PinnedLists = 16 // lists of the pinned IVF indexes
  private val NProbe = 4          // inverted lists probed per query
  private val Seed = "42"         // md5 sample order of the PQ seeds
  private val LloydIters = 2      // IVF k-means refinements
  private val PqM = 4             // PQ subspaces ...
  private val PqSubDim = 16       // ... of 16 dims each (64 = 4 x 16)
  private val PqCentroids = 16    // centroids per PQ subspace
  private val PqCandidates = 30   // flat PQ candidates reranked per query
  private val IvfCandidates = 100 // IVF-PQ / IVF-SQ8 candidates reranked
  private val Sq8Rerank = 20      // flat SQ8 candidates reranked per query
  private val SrpBands = 16       // SRP-LSH bands ...
  private val SrpBitsPerBand = 16 // ... of 16 sign bits each
  private val SrpSeed = 42L
  private val DriftBins = 1000    // drift-audit histogram bins
  private val DriftProb = 0.95    // drift-audit quantile
  private val DriftMargin = 0.1   // drift-audit relative margin
  private val DriftMetric = s"residual_p${math.round(DriftProb * 100)}"

  /** Index-search posture of [[search]]:
    *  - [[Exact]]: the whole index broadcast; it must fit in executor
    *    memory (~100 MB per million 64-dim doubles);
    *  - [[Sharded]]: the index split by `pmod(vec_id, nShards)`, each
    *    shard broadcast on its own, then the ≤ nShards·k candidates per
    *    query re-ranked. Executor memory bounds the shard, not the
    *    index, and the answer is bitwise the [[Exact]] one (same
    *    selection order, same sequential fold; spec-asserted). */
  sealed trait Strategy
  case object Exact extends Strategy
  final case class Sharded(nShards: Int) extends Strategy

  /** Exact top-k search with the neighbor label attached: (query_id,
    * rank, neighbor_id, sim, n_label). Builds a lazy plan — the index
    * is collected only when an action runs it. */
  def search(spark: SparkSession, queries: DataFrame, index: DataFrame,
             k: Int, strategy: Strategy,
             excludeSelf: Boolean = true): DataFrame = {
    val hits = strategy match {
      case Exact => knnJoin(spark, queries, index, k, excludeSelf)
      case Sharded(nShards) =>
        require(nShards > 0)
        bestK((0 until nShards).map { s =>
          val shard = index.filter(pmod(col("vec_id"), lit(nShards)) === s)
          knnJoin(spark, queries, shard, k, excludeSelf)
            .select(col("query_id"), col("neighbor_id"), col("sim"))
        }.reduce(_ unionByName _), k)
    }
    val labels = index.select(col("vec_id").as("neighbor_id"),
      col("label").as("n_label"))
    hits.join(broadcast(labels), Seq("neighbor_id"))
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"),
        col("n_label"))
  }

  /** The DuckDB twin of [[search]]'s exact top-k, every rank kept: each
    * row of the query relation `q` scored against every row of the
    * index relation `n` but itself (both (vec_id, v, label)) by dot
    * product, ranked per query by (sim desc, id asc), as relation `out`
    * (qid, nid, tlabel, nlabel, sim, rnk) — the query's and the
    * neighbor's labels beside each pair. Defines `<out>_p` on the way. */
  private[graft] def searchSql(q: String, n: String, out: String): String = s"""
    |${out}_p AS (SELECT q.vec_id AS qid, n.vec_id AS nid, q.label AS tlabel,
    |    n.label AS nlabel, list_dot_product(q.v, n.v) AS sim
    |  FROM $q q JOIN $n n ON q.vec_id <> n.vec_id),
    |${rankSql(s"${out}_p", out)}""".stripMargin

  /** The labeled embeddings `e` and their exact self-kNN ranking `r`
    * ([[searchSql]]) — the DuckDB twin of [[exactSelfTop3]], shared by
    * the v, m, f04 and l03 oracles. */
  private[graft] val knnCte = s"""
    |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
    |${searchSql("e", "e", "r")}""".stripMargin

  /** `in`'s (qid, nid, sim, …) rows ranked per query in [[bestK]]'s
    * order, as `out` (…, rnk), every rank kept. */
  private def rankSql(in: String, out: String): String =
    s"""$out AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
       |  FROM $in)""".stripMargin

  /** Top `k` per query by (sim desc, neighbor_id asc), [[TopK]]'s
    * order, of `scored` (query_id, neighbor_id, sim, `payload`…):
    * (query_id, rank, neighbor_id, sim, `payload`…). */
  private def bestK(scored: DataFrame, k: Int, payload: String*): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(Seq(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("sim")) ++ payload.map(col): _*)
  }

  /** Bounded top-k selection by (sim desc, id asc): arrays kept sorted
    * with shifted insertion — O(1) reject for the common below-
    * threshold candidate, zero allocation per candidate. The total
    * order makes the result independent of candidate iteration order,
    * so every scan that uses it (the kNN operator, the PQ code scan)
    * selects identically. */
  final class TopK(k: Int) {
    val sims = new Array[Double](k)
    val ids = new Array[Long](k)
    var size = 0
    def reset(): Unit = size = 0
    def offer(nid: Long, s: Double): Unit = {
      if (size < k || s > sims(size - 1) ||
          (s == sims(size - 1) && nid < ids(size - 1))) {
        var pos = 0
        while (pos < size &&
               !(s > sims(pos) || (s == sims(pos) && nid < ids(pos)))) pos += 1
        if (pos < k) {
          var j = math.min(size, k - 1)
          while (j > pos) { sims(j) = sims(j - 1); ids(j) = ids(j - 1); j -= 1 }
          sims(pos) = s
          ids(pos) = nid
          if (size < k) size += 1
        }
      }
    }
  }

  /** Declarative exact kNN, leave-self-out: top-k by inner product
    * (callers L2 normalize first for cosine semantics). Spec-only: the
    * independent reference the kNN operator is checked against; its
    * `n_label` payload keeps it out of `KnnRewriteRule`'s shape. */
  private[graft] def exactCross(queries: DataFrame, index: DataFrame,
                                k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    val n = index.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("n_emb"), col("label").as("n_label"))
    bestK(q.join(broadcast(n), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", VectorOps.dot(col("q_emb"), col("n_emb"))), k, "n_label")
  }

  /** Session-scoped memo of the standard artifact nearly every
    * evaluation query starts from: the embeddings table's exact top-3
    * self-kNN (leave-self-out, labels attached). The reference builds
    * its FAISS index ONCE and serves every downstream consumer from
    * it; this is the Spark analogue — first caller pays the O(N·N·d)
    * scan, the persisted hits (3 rows per vector — tiny) serve the
    * confusion/report/rollup/agreement/calibration/RAG family for the
    * rest of the session. Top-1 consumers filter `rank = 1`, which by
    * the selection order is exactly the k=1 result. */
  def exactSelfTop3(spark: SparkSession, dir: String): DataFrame =
    graft.core.Artifacts.memo(spark, s"knn_self_top3:$dir") {
      // spread scan: the O(N·N·d) heap loop runs in the query side's
      // scan stage — one task on single-row-group test parquet (50 s
      // on one core at 10× sf0.1, with 31 idle)
      val e = graft.core.Tables(spark, dir).embeddingsSpread
      search(spark, e, e, 3, Exact)
    }

  /** All-pairs similarity above a threshold: broadcast + per-partition
    * primitive loops with precomputed norms; emits (a_id < b_id, cos).
    *
    * This is the EXACT-SCAN twin, O(n²) by construction — the right
    * tool for diagnostics, spec cross-checks, and tail-pair
    * enumeration at LOW thresholds, where no sub-quadratic exact
    * algorithm exists (measured on the synthetic embeddings: at
    * threshold 0.3 the background cloud is isotropic — avg pair cos
    * ≈ 4e-4, max 0.51 — so threshold pairs are the smooth tail of
    * random noise and ANY candidate scheme with full recall must
    * examine ~all pairs). Near-dup MINING — the training-pipeline
    * operator, threshold ≥ ~0.9 with a wide margin to background —
    * is [[cosinePairsAboveBanded]], which is sub-quadratic.
    * Spec-only: the all-pairs reference the banded path is checked
    * against. */
  private[graft] def cosinePairsAbove(spark: SparkSession, vectors: DataFrame,
                       threshold: Double): DataFrame = {
    import spark.implicits._
    val idx: Array[(Long, Array[Double])] = vectors
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val bc = spark.sparkContext.broadcast(idx)
    def normOf(v: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }
    vectors.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])]
      .flatMap { case (aId, av) =>
        val na = normOf(av)
        bc.value.iterator
          .filter(_._1 > aId)
          .map { case (bId, bv) =>
            var s = 0.0; var i = 0
            while (i < bv.length) { s += av(i) * bv(i); i += 1 }
            (aId, bId, s / (na * normOf(bv)))
          }
          .filter(_._3 >= threshold)
      }
      .toDF("a_id", "b_id", "cos")
  }

  /** Deterministic Rademacher (±1) projection planes for SRP-LSH,
    * derived from a splitmix64 stream of `SrpSeed` — identical on every
    * executor with no broadcast and no RNG-implementation dependence. */
  private def srpPlanes(nBits: Int, dim: Int): Array[Array[Double]] = {
    val planes = Array.ofDim[Double](nBits, dim)
    var j = 0
    while (j < nBits) {
      var k = 0
      while (k < dim) {
        var z = SrpSeed + (j.toLong * dim + k + 1) * 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^= (z >>> 31)
        planes(j)(k) = if ((z & 1L) == 0L) 1.0 else -1.0
        k += 1
      }
      j += 1
    }
    planes
  }

  /** Near-dup pairs ≥ `threshold` via banded signed-random-projection
    * LSH + exact cosine rerank — the corpus-scale path for embedding
    * near-dup mining (same inverted-index discipline as the minhash /
    * banded-simhash text paths).
    *
    * Signature stage is map-side: `bands·bitsPerBand` sign bits per
    * vector (sign of a Rademacher projection; P[bits agree] =
    * 1 − θ/π), packed into one long per band (`SrpBands` ×
    * `SrpBitsPerBand`). Candidates come from the
    * per-band equi-join — pairs must agree on ALL `bitsPerBand` bits
    * of some band, so candidate volume is ~n²·(1−θ/π)^bits per band,
    * vanishing for the isotropic background (θ ≈ π/2 → 2^-bits) while
    * near-dups (θ ≈ 0) collide with probability → 1. The exact rerank
    * then restores precision; misses are the only error mode, at
    * (1 − p^bits)^bands per true pair — ~5e-7 at cos 0.995 with the
    * 16×16 bands, and DETERMINISTIC given the fixed seed (the
    * equality spec vs [[cosinePairsAbove]] pins the realized recall
    * at 100%).
    *
    * Scale shape: no broadcast of the vector set, no n² scan — two
    * shuffles (signature equi-join on (band, sig), id-join rerank),
    * all partial-aggregatable. At 100 TB the signature join carries
    * `bands` longs per vector; skewed signature buckets (mass dup
    * clusters) are bounded upstream by exact dedup first. */
  def cosinePairsAboveBanded(spark: SparkSession, vectors: DataFrame,
                             threshold: Double): DataFrame = {
    val cands = srpCandidates(spark, vectors)
    // exact rerank: same fold order and same divide-by-norm-product
    // arithmetic as the all-pairs twin and the DuckDB oracle
    val va = vectors.select(col("vec_id").as("a_id"),
      col("embedding").cast("array<double>").as("av"))
    val vb = vectors.select(col("vec_id").as("b_id"),
      col("embedding").cast("array<double>").as("bv"))
    cands.join(va, Seq("a_id")).join(vb, Seq("b_id"))
      .withColumn("cos", VectorOps.cosine(col("av"), col("bv")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  /** The LSH candidate stage of [[cosinePairsAboveBanded]]: distinct
    * (a_id < b_id) pairs agreeing on at least one full band. Exposed
    * so specs can pin candidate sparsity (candidates ≪ n²/2). */
  private[graft] def srpCandidates(spark: SparkSession,
                                   vectors: DataFrame): DataFrame = {
    import spark.implicits._
    val bands = SrpBands
    val bitsPerBand = SrpBitsPerBand
    val nBits = bands * bitsPerBand
    val sigRows = vectors
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        var planes: Array[Array[Double]] = null // built once per partition
        it.flatMap { case (id, vec) =>
          if (planes == null) planes = srpPlanes(nBits, vec.length)
          val bandVals = new Array[Long](bands)
          var j = 0
          while (j < nBits) {
            val p = planes(j)
            var s = 0.0
            var k = 0
            while (k < vec.length) { s += p(k) * vec(k); k += 1 }
            if (s > 0) bandVals(j / bitsPerBand) |= 1L << (j % bitsPerBand)
            j += 1
          }
          (0 until bands).iterator.map(b => (id, b, bandVals(b)))
        }
      }
      .toDF("id", "band", "sig")
    val a = sigRows.select(col("id").as("a_id"), col("band"), col("sig"))
    val b = sigRows.select(col("id").as("b_id"), col("band"), col("sig"))
    a.join(b, Seq("band", "sig"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
  }

  /** A trained IVF index: the coarse quantizer's centroids
    * (centroid_id, embedding) and its inverted lists, one
    * (vec_id, centroid_id) assignment per indexed vector. */
  final case class IvfIndex(centroids: DataFrame, assignments: DataFrame)

  /** A trained PQ index: the per-subspace codebook (s, cid, cv) and
    * the compressed index, one (vec_id, s, cid) code row per indexed
    * vector and subspace. */
  final case class PqIndex(codebook: DataFrame, codes: DataFrame)

  private def doubles(vectors: DataFrame): DataFrame =
    vectors.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))

  /** Train an IVF index over `vectors` — the FAISS `train` + `add`
    * split from `search`: `nlist` centroids ([[resolveNlist]]: `None`
    * is ⌈√n⌉), then every vector's nearest-centroid assignment. The
    * index is a plain pair of frames, so it persists to parquet and
    * reloads into an [[IvfIndex]] (spec-pinned round-trip). */
  def ivfIndex(spark: SparkSession, vectors: DataFrame,
               nlist: Option[Int]): IvfIndex = {
    val v = doubles(vectors)
    val centroids = ivfCentroids(spark, v, resolveNlist(nlist, v))
    IvfIndex(centroids, nearestCentroids(spark, v, centroids, 1))
  }

  /** The DuckDB twin of [[ivfIndex]] over `vecs`: the centroids `cents`
    * of [[ivfCentroids]] (`None` lists as a ⌈√n⌉ subquery; each Lloyd
    * step's means summed through the Spark side's exact decimals) and
    * the inverted lists `asg` (vec_id, cid). */
  private[graft] def ivfIndexSql(vecs: String, nlist: Option[Int], cents: String,
                                 asg: String): String = {
    val n = nlist.fold(s"(SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM $vecs)")(_.toString)
    def step(i: Int) = if (i == LloydIters) cents else s"${cents}_$i"
    val lloyd = (1 to LloydIters).map { i =>
      val out = step(i)
      s"""${nearestCentroidsSql(vecs, step(i - 1), s"${out}_s")},
         |${out}_x AS (SELECT a.cid, unnest(r.v) AS x, generate_subscripts(r.v, 1) AS d
         |  FROM ${out}_s a JOIN $vecs r ON r.vec_id = a.vec_id WHERE a.rn = 1),
         |${out}_m AS (SELECT cid, d,
         |    CAST(sum(CAST(x AS DECIMAL(28,18))) AS DOUBLE)
         |      / CAST(count(*) AS DOUBLE) AS m
         |  FROM ${out}_x GROUP BY cid, d),
         |$out AS (SELECT cid, list(m ORDER BY d) AS cv FROM ${out}_m GROUP BY cid)""".stripMargin
    }
    (s"""${step(0)} AS (SELECT vec_id AS cid, v AS cv FROM $vecs
        |      ORDER BY md5('${graft.sample.Sampling.Seed}' || CAST(vec_id AS VARCHAR)), vec_id
        |      LIMIT $n)""".stripMargin +: lloyd :+
      nearestCentroidsSql(vecs, cents, s"${asg}_s") :+
      s"$asg AS (SELECT vec_id, cid FROM ${asg}_s WHERE rn = 1)").mkString(",\n")
  }

  /** [[ivfIndex]] as a session artifact: built once per (`key`,
    * `nlist`) and served to every later caller — the reference trains
    * its quantizer once per session. `nlist` is part of the memo key,
    * so an auto index and a pinned one never serve each other. Both
    * frames are lazy: an unread assignment relation is never
    * computed. */
  def ivfIndexArtifact(spark: SparkSession, key: String, vectors: => DataFrame,
                       nlist: Option[Int]): IvfIndex = {
    val id = s"$key:${nlist.fold("auto")(_.toString)}"
    lazy val v = doubles(vectors)
    val centroids = graft.core.Artifacts.memo(spark, s"ivf_centroids:$id")(
      ivfCentroids(spark, v, resolveNlist(nlist, v)))
    IvfIndex(centroids, graft.core.Artifacts.memo(spark, s"ivf_assign:$id")(
      nearestCentroids(spark, v, centroids, 1)))
  }

  /** IVF-style approximate kNN (builder brief: "IVF or LSH-bucketed
    * variant as the scale path"): the [[IvfIndex]] partitions the
    * index into inverted lists; each query probes its `NProbe`
    * nearest centroids and reranks exactly within those lists only.
    *
    * Every stage is deterministic AND replayable in SQL, k-means
    * included: assignment tie-breaks are (dot desc, centroid id asc)
    * and the per-dimension centroid means sum through exact decimals
    * (order-independent), so the refined centroids are bitwise
    * reproducible on any partitioning and the v10 oracle replays the
    * full pipeline. Lloyd iterations are linear scans (one bounded
    * shuffle each: per-(centroid, dim) partial sums); empty clusters
    * drop out, identically in both engines.
    *
    * Unlike the broadcast-exact path this never needs the full index
    * per executor — the candidate join shuffles on centroid id, so
    * the index can be arbitrarily large as long as single inverted
    * lists stay bounded (centroid count scales with √N as usual).
    */
  def approxIvf(spark: SparkSession, queries: DataFrame, index: DataFrame,
                ivf: IvfIndex, k: Int): DataFrame =
    rerank(probedLists(spark, queries, ivf), queries, index, k)

  /** The DuckDB twin of [[approxIvf]]: queries `q` searched in the
    * index `n` trained as (`cents`, `asg`) by [[ivfIndexSql]]. */
  private[graft] def approxIvfSql(q: String, n: String, cents: String, asg: String,
                                  out: String): String =
    s"""${probedListsSql(q, cents, asg, s"${out}_c")},
       |${rerankSql(s"${out}_c", q, n, out)}""".stripMargin

  /** (query_id, neighbor_id) candidates the coarse quantizer admits:
    * every vector in the query's `NProbe` nearest inverted lists, the
    * query itself excluded. Each pair appears once (a vector sits in
    * exactly one list). */
  private def probedLists(spark: SparkSession, queries: DataFrame,
                          ivf: IvfIndex): DataFrame =
    nearestCentroids(spark, queries, ivf.centroids, NProbe)
      .select(col("vec_id").as("query_id"), col("centroid_id"))
      .join(ivf.assignments.select(col("vec_id").as("neighbor_id"),
        col("centroid_id")), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))

  /** The DuckDB twin of [[probedLists]]: the (qid, nid) candidates of
    * `q` in its `NProbe` nearest lists of (`cents`, `asg`). */
  private def probedListsSql(q: String, cents: String, asg: String, out: String): String =
    s"""${nearestCentroidsSql(q, cents, s"${out}_s")},
       |$out AS (SELECT p.vec_id AS qid, a.vec_id AS nid
       |  FROM ${out}_s p JOIN $asg a ON a.cid = p.cid
       |  WHERE p.rn <= $NProbe AND a.vec_id <> p.vec_id)""".stripMargin

  /** Exact rerank of a (query_id, neighbor_id) candidate relation —
    * the last stage of every approximate search: full-precision dot
    * per pair, top-k by (sim desc, neighbor_id asc). No broadcast
    * hints: q and n are the full query/index relations (unbounded at
    * corpus scale) — AQE broadcasts when they fit. */
  private def rerank(cand: DataFrame, queries: DataFrame, index: DataFrame,
                     k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("q_emb"))
    val n = index.select(col("vec_id").as("neighbor_id"),
      col("embedding").cast("array<double>").as("n_emb"))
    bestK(cand.join(q, Seq("query_id")).join(n, Seq("neighbor_id"))
      .withColumn("sim", VectorOps.dot(col("q_emb"), col("n_emb"))), k)
  }

  /** The DuckDB twin of [[rerank]]: the candidates `cand` of queries
    * `q` in index `n`, scored by exact dot and ranked. */
  private def rerankSql(cand: String, q: String, n: String, out: String): String =
    s"""${out}_p AS (SELECT c.qid, c.nid, list_dot_product(q.v, n.v) AS sim
       |  FROM $cand c JOIN $q q ON q.vec_id = c.qid JOIN $n n ON n.vec_id = c.nid),
       |${rankSql(s"${out}_p", out)}""".stripMargin

  /** The approximate searches' candidate cut: the `n` best (query_id,
    * neighbor_id) pairs per query of `scored` by approximate `sim`. */
  private def candidateCut(scored: DataFrame, n: Int): DataFrame =
    bestK(scored, n).select(col("query_id"), col("neighbor_id"))

  /** The DuckDB twin of [[candidateCut]] over `scored` (qid, nid, sim). */
  private def candidateCutSql(scored: String, n: Int, out: String): String =
    s"""${rankSql(scored, s"${out}_r")},
       |$out AS (SELECT qid, nid FROM ${out}_r WHERE rnk <= $n)""".stripMargin

  /** nlist resolution for the IVF family: an explicit value is
    * honored verbatim; `None` applies the measured FAISS nlist ∝ √n
    * rule (v19's index; PERF.md round 6 — fixed 16 lists left
    * inverted lists of n/16 vectors, degrading the probe-side rerank
    * quadratically at 10× data). Costs one `count()` of the index,
    * and only on the auto path. Expected slopes under √n lists,
    * measured at 1×/10×/30× (PERF.md round-11 table): the Lloyd build
    * is O(iters·n·nlist) = O(n^1.5) but runs ONCE per session (index
    * artifact — every downstream query amortizes it; measured
    * 4.5→7.2 s from 2k to 60k vectors, still overhead-dominated);
    * per-query probe cost is O(nProbe·n/nlist) = O(√n), so a
    * SELF-join search is O(n^1.5) asymptotically (measured
    * 2.1→14.7 s = 7× at 30× data). A fixed nlist instead makes
    * per-query cost O(n) — the v10/v13 pinned contrast. */
  private[graft] def resolveNlist(nlist: Option[Int], index: DataFrame): Int =
    nlist.getOrElse(
      math.max(1, math.ceil(math.sqrt(index.count().toDouble)).toInt))

  /** The coarse quantizer of [[ivfIndex]]: a deterministic md5-ordered
    * sample of `nCentroids` index vectors, refined by `LloydIters`
    * Lloyd iterations whose per-dimension means sum through exact
    * decimals (order-independent) — bitwise reproducible on any
    * partitioning, replayable in SQL. `vecs` is (vec_id, double
    * embedding). */
  private def ivfCentroids(spark: SparkSession, vecs: DataFrame,
                           nCentroids: Int): DataFrame = {
    import graft.sample.Sampling
    var centroids = Sampling.fixedSample(vecs, nCentroids, col("vec_id"))
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    for (_ <- 0 until LloydIters) {
      val asg = nearestCentroids(spark, vecs, centroids, 1)
      centroids = vecs.join(asg, Seq("vec_id"))
        .select(col("centroid_id"), posexplode(col("embedding")).as(Seq("d", "x")))
        .groupBy(col("centroid_id"), col("d"))
        .agg((sum(col("x").cast("decimal(28,18)")).cast("double") /
          count(lit(1)).cast("double")).as("m"))
        .groupBy(col("centroid_id"))
        .agg(transform(array_sort(collect_list(struct(col("d"), col("m")))),
          x => x.getField("m")).as("embedding"))
    }
    // several consumers follow (assignment collect, probe collect,
    // centroid-similarity joins), each an action that would re-run the
    // final Lloyd groupBy chain — cache the tiny (nCentroids-row)
    // result for the duration of the query
    graft.core.Caches.transient(centroids)
  }

  /** (vec_id, centroid_id) rows: each row's `n` nearest centroids by
    * inner product, ties (dot desc, centroid id asc) — the assignment
    * and probing primitive of the IVF family. */
  private[graft] def nearestCentroids(spark: SparkSession, rows: DataFrame,
                                       centroids: DataFrame, n: Int): DataFrame =
    knnJoin(spark, rows,
        centroids.select(col("centroid_id").as("vec_id"), col("embedding")),
        n, excludeSelf = false)
      .select(col("query_id").as("vec_id"), col("neighbor_id").as("centroid_id"))

  /** The DuckDB twin of [[nearestCentroids]], every rank kept: `rows`
    * ranked against `cents` by (dot desc, cid asc), as `out` (vec_id, cid, rn). */
  private def nearestCentroidsSql(rows: String, cents: String, out: String): String =
    s"""$out AS (SELECT r.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY r.vec_id
       |      ORDER BY list_dot_product(r.v, c.cv) DESC, c.cid) AS rn
       |  FROM $rows r, $cents c)""".stripMargin

  /** INCREMENTAL IVF index maintenance — the append path of a
    * long-lived embedding store (the d16/d19 incremental pattern,
    * index edition): a per-batch append assigns its vectors to the
    * EXISTING centroids in one broadcast-centroid map-side pass —
    * [[nearestCentroids]] verbatim, exposed as caller-facing API
    * because it IS the maintenance operation — and unions the new
    * (vec_id, centroid_id) rows onto the stored assignment relation.
    * No old assignment is ever touched, no Lloyd retrain runs per
    * batch, and a search over the maintained index is bitwise-equal to
    * one whose assignment pass was re-run from scratch against the
    * same centroids (assignment is per-row independent and
    * deterministic; spec-pinned, and the v25 oracle replays the
    * incremental assignment from scratch in SQL). The amortized-build
    * story this completes: [[ivfIndex]] is the once-per-corpus
    * O(n·√n) cost (PERF.md round-11 ivfsplit attribution); with this
    * path it amortizes across the index's LIFETIME, not one session.
    * Retrain is a measured decision, not a schedule —
    * [[centroidDriftAudit]]. */
  def incrementalAssign(spark: SparkSession, newRows: DataFrame,
                        centroids: DataFrame): DataFrame =
    nearestCentroids(spark, newRows, centroids, 1)

  /** Per-vector assignment RESIDUALS against a centroid set: the
    * squared L2 distance ‖x − c‖² = x·x − 2·x·c + c·c of each row to
    * its (inner-product-)assigned centroid — the coarse quantizer's
    * per-row approximation error, and the drift statistic
    * [[centroidDriftAudit]] sketches. Pure dot-product arithmetic
    * (the same sequential fold as every sim), so the whole relation
    * replays in SQL. */
  def assignmentResiduals(spark: SparkSession, rows: DataFrame,
                          centroids: DataFrame): DataFrame = {
    val v = rows.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val c = centroids.select(col("centroid_id"),
      col("embedding").cast("array<double>").as("cv"))
    incrementalAssign(spark, rows, centroids)
      .join(v, Seq("vec_id"))
      .join(broadcast(c), Seq("centroid_id"))
      .select(col("vec_id"), col("centroid_id"),
        (VectorOps.dot(col("v"), col("v"))
          - lit(2.0) * VectorOps.dot(col("v"), col("cv"))
          + VectorOps.dot(col("cv"), col("cv"))).as("residual"))
  }

  /** The DuckDB twin of [[assignmentResiduals]]: `out` (vec_id, cid,
    * residual) for each row of `rows` against `cents`. */
  private[graft] def assignmentResidualsSql(rows: String, cents: String, out: String): String =
    s"""${nearestCentroidsSql(rows, cents, s"${out}_s")},
       |$out AS (SELECT a.vec_id, a.cid,
       |    list_dot_product(r.v, r.v) - 2*list_dot_product(r.v, c.cv)
       |      + list_dot_product(c.cv, c.cv) AS residual
       |  FROM ${out}_s a JOIN $rows r ON r.vec_id = a.vec_id JOIN $cents c ON c.cid = a.cid
       |  WHERE a.rn = 1)""".stripMargin

  /** CENTROID DRIFT AUDIT — the retrain trigger of the incremental
    * index ([[incrementalAssign]]), built exactly like the funnel's
    * threshold audit (`Lifecycles.thresholdAudit`, the p05 one-sided
    * pattern): the build-time residual p95 is the published design
    * point; the live batch's residual p95 is re-measured through the
    * bounded-state histogram sketch (≤`DriftBins` rows through the shuffle,
    * nothing sorts the residual relation); `recalibrate` fires ONE-
    * SIDED when the live p95 exceeds the published p95 by more than
    * the `DriftMargin` engineering margin plus BOTH sketches' error
    * bounds — residual GROWTH past the margin means the frozen
    * centroids no longer cover the live distribution and per-query
    * probe quality is provably below the design point. Shrinking
    * residuals stay quiet: the index is serving better than designed,
    * and retraining would buy nothing.
    *
    * The margin is the p05 permissive-side discipline in relative
    * form: out-of-sample residuals sit ABOVE in-sample ones by
    * construction (the quantizer was trained on the build set), so a
    * margin-free trigger would fire on the generalization gap of
    * every healthy append (measured: a held-out same-distribution
    * slice lands ~4% above the build p95 at sf0.001); 10% clears
    * that gap while real drift — a shifted distribution moves p95 by
    * whole multiples — still fires (spec-pinned both ways). One row:
    * (metric, q, est, bin_width, published, published_bin_width,
    * recalibrate). */
  def centroidDriftAudit(buildResiduals: DataFrame,
                         liveResiduals: DataFrame): DataFrame = {
    import graft.core.Sketches
    val pub = Sketches.histogramQuantilesWithWidth(
        buildResiduals, col("residual"), DriftBins, Seq(DriftProb))
      .select(col("est").as("published"),
        col("bin_width").as("published_bin_width"))
    Sketches.histogramQuantilesWithWidth(
        liveResiduals, col("residual"), DriftBins, Seq(DriftProb))
      .crossJoin(broadcast(pub))
      .select(lit(DriftMetric).as("metric"),
        col("q"), col("est"), col("bin_width"), col("published"),
        col("published_bin_width"),
        (col("est") > col("published") * lit(1.0 + DriftMargin)
          + col("bin_width")
          + col("published_bin_width")).cast("long").as("recalibrate"))
  }

  /** The DuckDB twin of [[centroidDriftAudit]] over the residual
    * relations `build` and `live` (…, residual), as the one-row `out`. */
  private[graft] def centroidDriftAuditSql(build: String, live: String, out: String): String = {
    import graft.core.Sketches.histogramQuantilesCtes
    def width(b: String) = s"($b.hi - $b.lo) / $DriftBins.0"
    s"""${out}_bx AS (SELECT residual AS x FROM $build),
       |${out}_lx AS (SELECT residual AS x FROM $live),
       |${histogramQuantilesCtes(s"${out}_bx", DriftBins, Seq(DriftProb), s"${out}_b")},
       |${histogramQuantilesCtes(s"${out}_lx", DriftBins, Seq(DriftProb), s"${out}_l")},
       |$out AS (SELECT '$DriftMetric' AS metric, l.q, l.est, ${width("lb")} AS bin_width,
       |    b.est AS published, ${width("bb")} AS published_bin_width,
       |    CAST(CASE WHEN l.est > b.est * ${1.0 + DriftMargin} + ${width("lb")}
       |      + ${width("bb")} THEN 1 ELSE 0 END AS BIGINT) AS recalibrate
       |  FROM ${out}_lest l CROSS JOIN ${out}_lb lb
       |  CROSS JOIN ${out}_best b CROSS JOIN ${out}_bb bb)""".stripMargin
  }

  /** Product-quantization approximate kNN (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search"): the 100 TB
    * INDEX-COMPRESSION member of the ladder — vectors quantize to
    * `PqM` sub-codes (nearest per-subspace centroid by L2), so the
    * searchable index is m small integers per vector instead of the
    * raw floats (64 dims × 8 B → 4 codes here: 128× smaller), and
    * query scoring is table lookups (asymmetric distance: the sum of
    * query-subvector · centroid dots), not full-dimension dots.
    *
    * Every stage is deterministic and SQL-replayable, same
    * discipline as IVF: md5-ordered per-subspace seed sample, ONE
    * Lloyd refinement through exact-decimal means, (dist asc, cid
    * asc) assignment tie-breaks, fixed-order sum of the m lookup
    * terms, (approx desc, id asc) candidate rank, exact rerank of the
    * top `PqCandidates`. The quantization stages ([[pqIndex]]) are
    * relational so the v12 oracle replays them; the candidate scan
    * runs in the production shape — broadcast per-query lookup tables
    * over a per-partition packed-code scan (the exact operator's
    * broadcast shape with 128× less index memory). The LUT broadcast
    * is bounded by Q·m·centroids doubles (~0.5 MB per 1k queries);
    * query sets past `queryChunk` split into successive searches —
    * one LUT broadcast and one code scan per chunk, results unioned —
    * so neither the driver collects nor the broadcast ever exceeds the
    * chunk bound no matter how many queries arrive (the reference
    * batches queries against its GPU index for the same reason,
    * `Fai_new.py:49-64`). Chunk membership is `qid % nChunks`
    * (nChunks from one count — no unbounded id collect anywhere);
    * chunks are disjoint and per-query heaps independent, so the
    * output is bitwise-independent of the chunk size (spec-asserted).
    */
  def approxPq(spark: SparkSession, queries: DataFrame, index: DataFrame,
               pq: PqIndex, k: Int, queryChunk: Int = 8192): DataFrame = {
    require(queryChunk > 0, "queryChunk must be positive")
    val qdots = pqLuts(queries, pq.codebook)
    val qv = queries.select(col("vec_id").as("qid"))
    // asymmetric scoring in the PRODUCTION shape the PQ paper implies:
    // per-query lookup tables (Q·centroids·m dots — ~1 MB/1k queries)
    // broadcast once, then each partition scans its PACKED CODE rows
    // and maintains bounded per-query heaps; a second bounded pass
    // merges partition partials. No Q×N relational intermediate at
    // all. The sum stays in fixed subspace order and selection uses
    // TopK's total order (score desc, id asc) in both phases, so the
    // candidate set — and the oracle hash — match the declarative
    // window form exactly.
    val aggs = (1 until PqM).map(s => max(when(col("s") === s, col("cid"))).as(s"c$s"))
    val codesWide = pq.codes.groupBy(col("vec_id"))
      .agg(max(when(col("s") === 0, col("cid"))).as("c0"), aggs: _*)
    val cand = {
      import spark.implicits._
      val nc = PqCandidates
      val mm = PqM
      // chunk membership is HASH(qid) % nChunks — a hash, not the raw
      // id, because an id space with a common stride sharing a factor
      // with nChunks would collapse most queries into one chunk and
      // restore the unbounded driver collect the chunking exists to
      // prevent. With hashed membership no driver collect is ever
      // unbounded in expectation: the per-chunk materializations are
      // that chunk's ids and its LUT rows (≈ queryChunk each). Chunks
      // are disjoint and cover every query, and per-query heaps are
      // independent, so the union below is chunk-layout-invariant
      // (the spec pins chunked ≡ unchunked bitwise).
      val totalQ = qv.count()
      val nChunks = math.max(1, math.ceil(totalQ.toDouble / queryChunk).toInt)
      val codesArr = codesWide
        .select(col("vec_id"), array((0 until PqM).map(s => col(s"c$s")): _*).as("cs"))
        .as[(Long, Seq[Long])]
        .coalesce(math.max(1, spark.sparkContext.defaultParallelism / 4))
      // several chunks scan the code rows several times — cache them
      // once (tiny: m longs per vector IS the compressed index)
      val codesShared =
        if (nChunks > 1) graft.core.Caches.transient(codesArr)
        else codesArr
      // the LUT relation's lineage includes the whole codebook build
      // (seed windows, Lloyd refinement) — cache it across chunks or
      // every chunk would re-train the quantizer
      val qdotsTyped0 = qdots.select(col("s"), col("cid"), col("qid"), col("qd"))
        .as[(Int, Long, Long, Double)]
      val qdotsTyped =
        if (nChunks > 1) graft.core.Caches.transient(qdotsTyped0)
        else qdotsTyped0
      val partials = (0 until nChunks).map { ci =>
        val member =
          pmod(hash(col("qid")).cast("long"), lit(nChunks.toLong)) === ci.toLong
        val qids: Array[Long] =
          qv.filter(member).as[Long].collect().sorted
        val qIdx = qids.zipWithIndex.toMap
        val luts: Array[Map[Long, Array[Double]]] = {
          val acc = Array.fill(PqM)(scala.collection.mutable.HashMap.empty[Long, Array[Double]])
          qdotsTyped.filter(member).collect()
            .foreach { case (s, cid, qid, qd) =>
              acc(s).getOrElseUpdate(cid, new Array[Double](qids.length))(qIdx(qid)) = qd
            }
          acc.map(_.toMap)
        }
        val bcLut = spark.sparkContext.broadcast((qids, luts))
        codesShared.mapPartitions { it =>
          val (qs, lut) = bcLut.value
          val heaps = Array.fill(qs.length)(new TopK(nc))
          it.foreach { case (vid, cs) =>
            val tabs = Array.tabulate(mm)(s => lut(s)(cs(s)))
            var qi = 0
            while (qi < qs.length) {
              var sc = tabs(0)(qi)
              var s = 1
              while (s < mm) { sc += tabs(s)(qi); s += 1 }
              if (qs(qi) != vid) heaps(qi).offer(vid, sc)
              qi += 1
            }
          }
          heaps.iterator.zipWithIndex.flatMap { case (top, qi) =>
            (0 until top.size).map(r => (qs(qi), top.ids(r), top.sims(r)))
          }
        }.toDF("qid", "vec_id", "sc")
      }.reduce(_ unionByName _)
      partials
        .repartition(col("qid"))
        .as[(Long, Long, Double)]
        .mapPartitions { it =>
          val heaps = scala.collection.mutable.LinkedHashMap.empty[Long, TopK]
          it.foreach { case (q, vid, sc) =>
            heaps.getOrElseUpdate(q, new TopK(nc)).offer(vid, sc)
          }
          heaps.iterator.flatMap { case (q, top) =>
            (0 until top.size).map(r => (q, top.ids(r)))
          }
        }
        .toDF("query_id", "neighbor_id")
    }
    rerank(cand, queries, index, k)
  }

  /** The DuckDB twin of [[approxPq]]: queries `q` searched in the index
    * `n` trained as (`book`, `codes`) by [[pqIndexSql]]. */
  private[graft] def approxPqSql(q: String, n: String, book: String, codes: String,
                                 out: String): String =
    s"""${pqLutsSql(q, book, s"${out}_l")},
       |${pqScoresSql(s"${out}_l", codes, "WHERE l.qid <> c.vec_id", s"${out}_a")},
       |${candidateCutSql(s"${out}_a", PqCandidates, s"${out}_c")},
       |${rerankSql(s"${out}_c", q, n, out)}""".stripMargin

  /** Per-subspace slicing: (id, s, subvector) rows — the PQ family's
    * shared projection. */
  private def pqSubspaces(df: DataFrame, idAs: String, xAs: String): DataFrame =
    df.select(col(df.columns.head).as(idAs), posexplode(array((0 until PqM).map(s =>
        slice(col(df.columns(1)), s * PqSubDim + 1, PqSubDim)): _*))
      .as(Seq("s", xAs)))

  /** The DuckDB twin of [[pqSubspaces]]: `out` (vec_id, s, x). */
  private def pqSubspacesSql(vecs: String, out: String): String =
    s"""$out AS (SELECT vec_id, s,
       |    v[CAST(s*$PqSubDim+1 AS INT):CAST(s*$PqSubDim+$PqSubDim AS INT)] AS x
       |  FROM $vecs, unnest(range(0, $PqM)) t(s))""".stripMargin

  /** Nearest-subspace-centroid assignment (L2, ties (dist asc, cid
    * asc)) of each (vec_id, s) subvector. */
  private def pqAssign(sub: DataFrame, cents: DataFrame): DataFrame = {
    def l2(x: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column) =
      VectorOps.dot(x, x) - lit(2.0) * VectorOps.dot(x, c) + VectorOps.dot(c, c)
    val wAsg = Window.partitionBy(col("vec_id"), col("s"))
      .orderBy(col("dist"), col("cid"))
    sub.join(broadcast(cents), Seq("s"))
      .withColumn("dist", l2(col("x"), col("cv")))
      .withColumn("rn", row_number().over(wAsg)).filter(col("rn") === 1)
      .select(col("vec_id"), col("s"), col("cid"))
  }

  /** The DuckDB twin of [[pqAssign]]: `sub` (vec_id, s, x) against
    * `cents` (s, cid, cv), as `out` (vec_id, s, cid). */
  private def pqAssignSql(sub: String, cents: String, out: String): String =
    s"""$out AS (SELECT vec_id, s, cid FROM (
       |    SELECT u.vec_id, u.s, c.cid, row_number() OVER (
       |      PARTITION BY u.vec_id, u.s
       |      ORDER BY list_dot_product(u.x, u.x) - 2*list_dot_product(u.x, c.cv)
       |        + list_dot_product(c.cv, c.cv), c.cid) AS rn
       |    FROM $sub u JOIN $cents c ON u.s = c.s) WHERE rn = 1)""".stripMargin

  /** Train a PQ index over `index` — the FAISS `train` + `add` of
    * [[approxPq]]/[[approxIvfPq]]: the codebook, then every vector's
    * `PqM` codes. */
  def pqIndex(index: DataFrame): PqIndex = {
    val codebook = pqCodebook(index)
    PqIndex(codebook, pqCodes(index, codebook))
  }

  /** The DuckDB twin of [[pqIndex]] over `vecs`: the codebook `book`
    * (s, cid, cv) and the codes `codes` (vec_id, s, cid). */
  private[graft] def pqIndexSql(vecs: String, book: String, codes: String): String =
    s"""${pqSubspacesSql(vecs, s"${book}_sub")},
       |${book}_seed AS (SELECT s, cid, cv FROM (
       |    SELECT s, vec_id AS cid, x AS cv, row_number() OVER (PARTITION BY s
       |      ORDER BY md5('${Seed}_' || CAST(s AS VARCHAR) || '_' || CAST(vec_id AS VARCHAR)),
       |        vec_id) AS rn
       |    FROM ${book}_sub) WHERE rn <= $PqCentroids),
       |${pqAssignSql(s"${book}_sub", s"${book}_seed", s"${book}_a")},
       |${book}_xp AS (SELECT s, cid, generate_subscripts(x, 1) AS d, unnest(x) AS xd
       |  FROM ${book}_sub JOIN ${book}_a USING (vec_id, s)),
       |${book}_m AS (SELECT s, cid, d,
       |    CAST(sum(CAST(xd AS DECIMAL(28,18))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mn
       |  FROM ${book}_xp GROUP BY s, cid, d),
       |$book AS (SELECT s, cid, list(mn ORDER BY d) AS cv FROM ${book}_m GROUP BY s, cid),
       |${pqAssignSql(s"${book}_sub", book, codes)}""".stripMargin

  /** PQ codebook construction: per-subspace md5-ordered seed sample,
    * ONE Lloyd refinement through exact-decimal means — the
    * (s, cid, cv) relation. Deterministic and SQL-replayable, so a
    * session can build it once (the artifact tier) and serve every PQ
    * search. */
  private[vector] def pqCodebook(index: DataFrame): DataFrame = {
    val v = index.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    // silent dimension mismatch would slice() into truncated or empty
    // subvectors and degrade results with no error — reject it here.
    // min/max over ALL rows (one scan-stage aggregate) so a MIXED-
    // dimension corpus is rejected too, not just a wrong first row;
    // the build behind this check is a once-per-session artifact, so
    // the extra scan amortizes with the codebook itself.
    v.agg(min(size(col("v"))).as("lo"), max(size(col("v"))).as("hi"))
      .collect().headOption.filterNot(_.isNullAt(0)).foreach { r =>
        require(r.getInt(0) == PqM * PqSubDim && r.getInt(1) == PqM * PqSubDim,
          s"embedding dims [${r.getInt(0)}, ${r.getInt(1)}] must all equal " +
            s"m*subDim = ${PqM * PqSubDim}")
      }
    val sub = pqSubspaces(v, "vec_id", "x")
    val wSeed = Window.partitionBy(col("s")).orderBy(
      md5(concat_ws("_", lit(Seed), col("s"), col("vec_id"))), col("vec_id"))
    val seeds = sub.withColumn("rn", row_number().over(wSeed))
      .filter(col("rn") <= PqCentroids)
      .select(col("s"), col("vec_id").as("cid"), col("x").as("cv"))
    // one Lloyd refinement: seed assignment → exact-decimal means.
    // The codebook is consumed by the code assignment AND the query
    // LUT, each reached by several downstream actions (LUT collect,
    // code scan, rerank) — cache the m×centroids-row result so the
    // refinement chain runs once per query, not per action.
    graft.core.Caches.transient(
      sub.join(pqAssign(sub, seeds), Seq("vec_id", "s"))
        .select(col("s"), col("cid"), posexplode(col("x")).as(Seq("d", "xd")))
        .groupBy(col("s"), col("cid"), col("d"))
        .agg((sum(col("xd").cast("decimal(28,18)")).cast("double") /
          count(lit(1)).cast("double")).as("mn"))
        .groupBy(col("s"), col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("d"), col("mn")))),
          x => x.getField("mn")).as("cv")))
  }

  /** The compressed index: one (vec_id, s, cid) code row per index
    * vector and subspace — m small integers replacing the raw floats. */
  private[vector] def pqCodes(index: DataFrame, cents: DataFrame): DataFrame = {
    val v = index.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    pqAssign(pqSubspaces(v, "vec_id", "x"), cents)
  }

  /** Query-side lookup relation: (qid, s, cid, qd) with qd the
    * query-subvector · centroid dot — the asymmetric-distance terms. */
  private def pqLuts(queries: DataFrame, cents: DataFrame): DataFrame = {
    val qv = queries.select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qv"))
    pqSubspaces(qv, "qid", "qx").join(broadcast(cents), Seq("s"))
      .select(col("qid"), col("s"), col("cid"),
        VectorOps.dot(col("qx"), col("cv")).as("qd"))
  }

  /** The DuckDB twin of [[pqLuts]]: `out` (qid, s, cid, qd) for the
    * queries `q` against the codebook `book`. */
  private def pqLutsSql(q: String, book: String, out: String): String =
    s"""${pqSubspacesSql(q, s"${out}_sub")},
       |$out AS (SELECT u.vec_id AS qid, u.s, c.cid, list_dot_product(u.x, c.cv) AS qd
       |  FROM ${out}_sub u JOIN $book c ON u.s = c.s)""".stripMargin

  /** The PQ asymmetric score in DuckDB, summed in [[approxIvfPq]]'s
    * fixed subspace order: `out` (qid, nid, sim) for each (query, code
    * row) pair of `l` (`luts`) and `c` (`codes`) that `admit` keeps. */
  private def pqScoresSql(luts: String, codes: String, admit: String,
                          out: String): String = {
    val sum = (0 until PqM).map(s => s"max(CASE WHEN l.s = $s THEN l.qd END)")
      .mkString(" + ")
    s"""$out AS (SELECT l.qid, c.vec_id AS nid, $sum AS sim
       |  FROM $codes c JOIN $luts l ON c.s = l.s AND c.cid = l.cid
       |  $admit
       |  GROUP BY l.qid, c.vec_id)""".stripMargin
  }

  /** IVF-PQ composition — the FAISS production shape (`IndexIVFPQ`):
    * the coarse quantizer prunes the search to `NProbe` inverted
    * lists, and within the probed lists candidates are scored from PQ
    * codes (asymmetric lookup sums), not full-dimension dots; the top
    * `IvfCandidates` get the exact rerank (the `IndexRefineFlat` step
    * — its refine factor is deliberately larger than [[approxPq]]'s
    * cut, because PQ's 4-subspace scores are coarse and pruning hard
    * inside an already-pruned probe pool compounds the two
    * approximations' misses). Both halves are the engine's existing
    * deterministic parts ([[IvfIndex]] + [[PqIndex]]/[[pqLuts]]), so
    * the whole pipeline replays in SQL and v13 runs under the full
    * oracle like v10/v12. Codes quantize RAW vectors (FAISS
    * `by_residual=false`), which keeps the query LUT list-independent:
    * one (qid, s, cid) relation serves every probed list.
    *
    * Scale shape: the candidate join shuffles on centroid id (index
    * never broadcast, lists bound executor memory like IVF) and
    * carries m small codes per index row (the 128× PQ compression) —
    * the posture for indexes that outgrow both [[Exact]]'s broadcast
    * and [[approxPq]]'s full-index code scan per query chunk. */
  def approxIvfPq(spark: SparkSession, queries: DataFrame, index: DataFrame,
                  ivf: IvfIndex, pq: PqIndex, k: Int): DataFrame = {
    val qdots = pqLuts(queries, pq.codebook)
    // asymmetric score: the m lookup terms summed in FIXED subspace
    // order (same arithmetic as approxPq's scan and the SQL oracle)
    val approxSum = (0 until PqM)
      .map(s => max(when(col("s") === s, col("qd")))).reduce(_ + _)
    // the PQ scan never sees a list the coarse quantizer did not admit
    val approx = probedLists(spark, queries, ivf)
      .join(pq.codes.select(col("vec_id").as("neighbor_id"), col("s"), col("cid")),
        Seq("neighbor_id"))
      .join(qdots.select(col("qid").as("query_id"), col("s"), col("cid"),
        col("qd")), Seq("query_id", "s", "cid"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(approxSum.as("sim"))
    rerank(candidateCut(approx, IvfCandidates), queries, index, k)
  }

  /** The DuckDB twin of [[approxIvfPq]] over an [[ivfIndexSql]] index
    * (`cents`, `asg`) and a [[pqIndexSql]] one (`book`, `codes`). */
  private[graft] def approxIvfPqSql(q: String, n: String, cents: String, asg: String,
                                    book: String, codes: String, out: String): String =
    s"""${probedListsSql(q, cents, asg, s"${out}_pl")},
       |${pqLutsSql(q, book, s"${out}_l")},
       |${pqScoresSql(s"${out}_l", codes,
          s"JOIN ${out}_pl pl ON pl.qid = l.qid AND pl.nid = c.vec_id", s"${out}_a")},
       |${candidateCutSql(s"${out}_a", IvfCandidates, s"${out}_c")},
       |${rerankSql(s"${out}_c", q, n, out)}""".stripMargin

  /** Per-dimension [lo, hi] quantization bounds for [[approxSq8]]:
    * ONE min/max aggregate over the index corpus — the train step of
    * FAISS `IndexScalarQuantizer(QT_8bit)`. Emits a 1-row frame
    * (lo array, hi array, dim-ordered); a session artifact like the
    * IVF centroids / PQ codebook. */
  private[graft] def sq8Stats(index: DataFrame): DataFrame =
    index
      .select(posexplode(col("embedding").cast("array<double>"))
        .as(Seq("d", "v")))
      .groupBy(col("d")).agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .agg(
        sort_array(collect_list(struct(col("d"), col("lo")))).as("los"),
        sort_array(collect_list(struct(col("d"), col("hi")))).as("his"))
      .select(
        transform(col("los"), s => s.getField("lo")).as("lo"),
        transform(col("his"), s => s.getField("hi")).as("hi"))

  /** The DuckDB twin of [[sq8Stats]]: `out` (d, lo, hi) over `vecs`. */
  private[graft] def sq8StatsSql(vecs: String, out: String): String =
    s"""${out}_x AS (SELECT generate_subscripts(v, 1) AS d, unnest(v) AS xv FROM $vecs),
       |$out AS (SELECT d, min(xv) AS lo, max(xv) AS hi FROM ${out}_x GROUP BY d)""".stripMargin

  /** Quantize-and-reconstruct expression builder from a collected
    * stats frame (bounded: 2·dim doubles — the quantizer "model",
    * the same tier as the collected PQ codebook/LUT). Shared by the
    * flat [[approxSq8]] and the composed [[approxIvfSq8]]. */
  private def sq8XhatFn(stats: DataFrame): Column => Column = {
    import graft.core.Expr.let
    val row = stats.collect()(0)
    val lo = typedLit(row.getSeq[Double](0))
    val hi = typedLit(row.getSeq[Double](1))
    (x: Column) => let(x) { xv =>
      transform(sequence(lit(0), size(xv) - 1), d => {
        val l = element_at(lo, (d + 1).cast("int"))
        val h = element_at(hi, (d + 1).cast("int"))
        val p = when(h > l,
          least(greatest(
            (element_at(xv, (d + 1).cast("int")) - l) / (h - l), lit(0.0)),
            lit(1.0))).otherwise(lit(0.0))
        l + (floor(p * 255.0 + lit(0.5)) / 255.0) * (h - l)
      })
    }
  }

  /** The DuckDB twin of [[sq8XhatFn]], operation for operation: `vecs`
    * quantized against `stats` and reconstructed, as `out` (vec_id, xhat). */
  private def sq8ReconSql(vecs: String, stats: String, out: String): String =
    s"""${out}_x AS (SELECT vec_id, generate_subscripts(v, 1) AS d, unnest(v) AS xv FROM $vecs),
       |$out AS (SELECT vec_id, list(lo +
       |      (floor((CASE WHEN hi > lo
       |          THEN least(greatest((xv - lo) / (hi - lo), 0.0), 1.0)
       |          ELSE 0.0 END) * 255.0 + 0.5) / 255.0) * (hi - lo)
       |      ORDER BY d) AS xhat
       |  FROM ${out}_x JOIN $stats USING (d) GROUP BY vec_id)""".stripMargin

  /** SQ8 approximate kNN — the scalar-quantization member of the
    * index ladder (FAISS `IndexScalarQuantizer` QT_8bit; reference
    * builds its FAISS flat indexes in `Neww_Fai.py`): every dimension
    * linearly quantized to 8 bits against the train-time per-dimension
    * [lo, hi] ([[sq8Stats]]), queries score FULL-precision against
    * RECONSTRUCTED index vectors (asymmetric distance), and the top
    * `Sq8Rerank` candidates per query re-rank on exact dot products.
    * The stored index is one byte per dimension — 4× smaller than
    * float32, 8× smaller than double — which at 100 TB is the
    * difference between an index that fits executor memory and one
    * that doesn't.
    *
    * Execution reuses the exact kNN operator (`knnJoin`) on the
    * reconstructed vectors, so the approx pass costs exactly one
    * map-side sweep (no Q×N materialization), and the rerank joins
    * touch only Q·rerank candidate rows. Quantize → reconstruct →
    * score is pure IEEE arithmetic (no transcendentals), so the whole
    * pipeline replays bit-for-bit in the SQL oracle. */
  def approxSq8(spark: SparkSession, queries: DataFrame, index: DataFrame,
                stats: DataFrame, k: Int): DataFrame = {
    val xhatOf = sq8XhatFn(stats)
    val recon = index.select(col("vec_id"),
      xhatOf(col("embedding").cast("array<double>")).as("embedding"))
    val cands = knnJoin(spark, queries, recon, Sq8Rerank, excludeSelf = true)
      .select(col("query_id"), col("neighbor_id"))
    rerank(cands, queries, index, k)
  }

  /** The DuckDB twin of [[approxSq8]]: queries `q` searched in the
    * index `n` quantized with the bounds `stats` of [[sq8StatsSql]]. */
  private[graft] def approxSq8Sql(q: String, n: String, stats: String, out: String): String =
    s"""${sq8ReconSql(n, stats, s"${out}_rec")},
       |${out}_a AS (SELECT q.vec_id AS qid, r.vec_id AS nid, list_dot_product(q.v, r.xhat) AS sim
       |  FROM $q q JOIN ${out}_rec r ON q.vec_id <> r.vec_id),
       |${candidateCutSql(s"${out}_a", Sq8Rerank, s"${out}_c")},
       |${rerankSql(s"${out}_c", q, n, out)}""".stripMargin

  /** IVF-SQ8 composition (FAISS `IndexIVFScalarQuantizer` shape —
    * completing the index matrix: Flat / Sharded / IVF / PQ / IVF-PQ /
    * SQ8 / IVF-SQ8): the coarse quantizer prunes to `NProbe` lists,
    * SQ8-reconstructed vectors score ONLY within the probed lists
    * (asymmetric — queries stay full-precision), and the top
    * `IvfCandidates` per query re-rank on exact dot products.
    * The 10× scale measurement (PERF.md round 6) is the motivation:
    * flat SQ8's whole-corpus approx scan is quadratic in n; list
    * pruning cuts it to nProbe/nlist of the corpus per query,
    * with the stored index at one byte per dimension. The candidate
    * join shuffles on centroid id; nothing broadcasts past the
    * bounded centroid set and the collected 2·dim stats. */
  def approxIvfSq8(spark: SparkSession, queries: DataFrame, index: DataFrame,
                   ivf: IvfIndex, stats: DataFrame, k: Int): DataFrame = {
    val xhatOf = sq8XhatFn(stats)
    val recon = index.select(col("vec_id").as("neighbor_id"),
      xhatOf(col("embedding").cast("array<double>")).as("n_hat"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("q_emb"))
    val scored = probedLists(spark, queries, ivf)
      .join(q, Seq("query_id")).join(recon, Seq("neighbor_id"))
      .withColumn("sim", VectorOps.dot(col("q_emb"), col("n_hat")))
    rerank(candidateCut(scored, IvfCandidates), queries, index, k)
  }

  /** The DuckDB twin of [[approxIvfSq8]] over an [[ivfIndexSql]] index
    * (`cents`, `asg`) quantized with the [[sq8StatsSql]] bounds `stats`. */
  private[graft] def approxIvfSq8Sql(q: String, n: String, cents: String, asg: String,
                                     stats: String, out: String): String =
    s"""${probedListsSql(q, cents, asg, s"${out}_pl")},
       |${sq8ReconSql(n, stats, s"${out}_rec")},
       |${out}_a AS (SELECT pl.qid, pl.nid, list_dot_product(q.v, r.xhat) AS sim
       |  FROM ${out}_pl pl JOIN $q q ON q.vec_id = pl.qid JOIN ${out}_rec r ON r.vec_id = pl.nid),
       |${candidateCutSql(s"${out}_a", IvfCandidates, s"${out}_c")},
       |${rerankSql(s"${out}_c", q, n, out)}""".stripMargin
}
