package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.core.Tables
import graft.text.TextOps
import graft.vector.VectorOps

/** Oracle-checked dedup queries over `documents` with PLANTED
  * duplicates: the synthetic corpus is word-soup with no natural
  * dups, so each query augments it identically on both engines —
  * exact copies at doc_id+200000 (doc_id<50) and near-copies with the
  * first word dropped at doc_id+100000 (doc_id<100). The operators
  * then have real work to find.
  */
object DedupPack extends QueryPack {

  /** documents ∪ planted near-dups ∪ planted exact dups.
    *
    * With `spread` (the default) the UNIONED output is round-robined
    * across the session's cores once: most consumers' next stage is a
    * per-row shingle/hash pass (minhash, simhash, word n-grams),
    * which on the single-row-group test parquet would otherwise run
    * as one task — at 10× sf0.1 the dedup-group build alone burned
    * 113 s on one core while 31 sat idle. One exchange after the
    * union, not one per branch: spreading the source scan instead
    * paid three exchanges for the same parallelism. Shuffle-light
    * consumers whose per-row work is a single md5 (d15's offset
    * election, d16's digest screen) pass `spread = false` — for them
    * the exchange costs more than the one-task scan (measured: d15
    * 4.4 → 3.1 s, d16 1.3 → 0.9 s at sf0.1). */
  def augmented(spark: SparkSession, dir: String,
                spread: Boolean = true): DataFrame = {
    val t = Tables(spark, dir)
    val d = t.documents.select(col("doc_id"), col("text"))
    val near = d.filter(col("doc_id") < 100)
      .select((col("doc_id") + 100000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s*", "").as("text"))
    val exact = d.filter(col("doc_id") < 50)
      .select((col("doc_id") + 200000).as("doc_id"), col("text"))
    val u = d.unionByName(near).unionByName(exact)
    if (spread)
      graft.core.Tables.spreadIfSmall(spark, u, s"$dir/documents.parquet")
    else u
  }

  private[graft] val augmentedSql = """
    |aug AS (
    |  SELECT doc_id, text FROM documents
    |  UNION ALL SELECT doc_id + 100000, regexp_replace(text, '^\S+\s*', '')
    |    FROM documents WHERE doc_id < 100
    |  UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id < 50)""".stripMargin

  /** Exact dedup: duplicate content groups (digest, keeper, count). */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(augmented(spark, dir), col("doc_id"),
        md5(col("text")).as("content_hash"))
      .filter(col("n_copies") > 1)
      .orderBy(col("content_hash"))

  /** d16: INCREMENTAL dedup — the daily-ingest shape d01 doesn't
    * cover: a new batch (the planted ids ≥ 100000) dedups against the
    * HISTORICAL corpus digest set (base ids) plus itself, without
    * ever rescanning history text. Per batch doc: 'dup_of_history'
    * (digest already in the historical set), 'dup_in_batch' (an
    * earlier batch doc-id owns the digest), or 'new' — the shared
    * [[Dedup.digestScreen]] over [[digestRowsOf]] digests, so a null
    * text digests as "" and still gets a status. The history side
    * carries ONE md5 per historical doc — at 100 TB that digest
    * relation joins by hash; the batch side is a day's ingest, not the
    * corpus. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val digests = digestRowsOf(augmented(spark, dir, spread = false))
    Dedup.digestScreen(digests.filter(col("doc_id") >= 100000), col("doc_id"),
        digests.filter(col("doc_id") < 100000))
      .select(col("doc_id"), col("h").as("content_hash"),
        when(col("ex_status") === "exact_new", "new")
          .otherwise(col("ex_status")).as("status"))
      .orderBy(col("doc_id"))
  }

  /** d19: incremental MinHash-LSH dedup — the FUZZY twin of d16's
    * exact digest screen, completing the continuous-ingest story: a
    * near-copy with one word changed sails through d16 (different
    * md5) but must not re-enter the corpus. The historical corpus
    * keeps its per-band minhash signature table (in production a
    * PERSISTED relation, built in the one pass that indexed history —
    * never rescanned per batch); the arriving batch (ids ≥ 100000)
    * computes signatures for its own docs only, candidates come from
    * the band equi-join batch→history, and exact hashed-shingle
    * Jaccard verifies CANDIDATES only — LSH screens, exact verifies,
    * the standard two-phase composition (d03's banding + d02's
    * verify, cross-relation). Per batch doc: candidate count, best
    * history match (max Jaccard, tie → min hist_id; −1 when none),
    * and the verdict at d02's 0.5 threshold.
    *
    * Scale shape: history-side cost amortizes across batches via the
    * persisted signature table; per-batch cost is the batch's own
    * signature pass plus a join keyed on (band, bandsig) whose
    * fan-out is the candidate set, and the verify join carries only
    * candidate docs' shingle sets. Nothing rescans history text. */
  def incrementalMinhash(spark: SparkSession, dir: String): DataFrame = {
    val aug = augmented(spark, dir)
    // the declared <100000 history/batch split applied as id-filters
    // of the session shingle/signature artifacts — identical rows to
    // the incrementalMinhashOf derivation over each side (per-row
    // functions commute with id predicates), one corpus-wide pass per
    // session instead of two per run
    val sigs = augBandSigs(spark, dir)
    val sh = augShingleRows(spark, dir)
    incrementalMinhashAgainst(
      sigs.filter(col("id") < 100000)
        .select(col("id").as("hist_id"), col("band"), col("bandsig")),
      sh.filter(col("id") < 100000),
      aug.filter(col("doc_id") >= 100000),
      sigs.filter(col("id") >= 100000)
        .select(col("id").as("doc_id"), col("band"), col("bandsig")),
      sh.filter(col("id") >= 100000))
  }

  /** Per-band minhash signatures of a (doc_id, text) relation — the
    * PERSISTED-RELATION unit of the continuous-ingest story: the
    * streaming gate ([[graft.streaming.Streams.dedupIngestGate]])
    * appends each admitted batch's signatures to a parquet history
    * table and never recomputes them. */
  private[graft] def bandSigsOf(df: DataFrame, idName: String): DataFrame =
    bandSigsFromMinhash(minhashRowsOf(df))
      .select(col("id").as(idName), col("band"), col("bandsig"))

  /** (id, sh) — the distinct 60-bit-hashed 3-shingles of a
    * (doc_id, text) relation: the ONE shingle derivation of the MinHash
    * family. The session artifact ([[augShingleRows]]), the stream gate
    * and the spec twins all call it, so an id-filter of the artifact is
    * the same rows as this over the id-filtered documents (per-row
    * derivation; DISTINCT commutes with id predicates — spec-pinned). */
  private[graft] def shingleRowsOf(docs: DataFrame): DataFrame =
    Dedup.hashedShingleRows(docs, col("doc_id"), col("text"), 3)

  /** (id, seed, mh) — 12 minhash values per document over its
    * 3-shingles (no distinct on the shingle rows: min() is duplicate-
    * insensitive): the ONE signature derivation, shared like
    * [[shingleRowsOf]] and banded by [[bandSigsFromMinhash]]. */
  private[graft] def minhashRowsOf(docs: DataFrame): DataFrame =
    Dedup.minhashRows(docs.select(col("doc_id").as("id"),
      explode(Dedup.shingles(col("text"), 3)).as("sh")), 12)

  /** The banding step of [[bandSigsOf]] over a prebuilt (id, seed, mh)
    * relation — 12 rows per doc in, 4 (id, band, bandsig) rows out. */
  private[graft] def bandSigsFromMinhash(mh: DataFrame): DataFrame =
    mh.withColumn("band", (col("seed") / 3).cast("int"))
      .groupBy(col("id"), col("band"))
      .agg(concat_ws(",",
        transform(array_sort(collect_list(struct(col("seed"), col("mh")))),
          s => s.getField("mh").cast("string"))).as("bandsig"))
      .select(col("id"), col("band"), col("bandsig"))

  /** Session artifacts of the shingle/minhash tier over the augmented
    * corpus — the "materialize ONCE and share" note on
    * [[Dedup.hashedShingleRows]], promoted to the session level (the
    * jaccard_pairs / ivf_centroids discipline): at corpus scale the
    * shingle extraction reads every byte of text, and before round 15
    * eight declared queries re-ran that pass per query. All three are
    * COMPACT proxy relations (ids, 60-bit hashes, minhash values,
    * band strings — never text). Shingling, hashing and minhashing
    * are per-row derivations and DISTINCT commutes with id
    * predicates, so every consumer's id-filter / semi-join of the
    * shared relation is bitwise identical to [[shingleRowsOf]] /
    * [[minhashRowsOf]] over the filtered corpus (spec-pinned). */
  private[graft] def augShingleRows(spark: SparkSession,
                                    dir: String): DataFrame =
    graft.core.Artifacts.memo(spark, s"shingle_rows:$dir")(
      shingleRowsOf(augmented(spark, dir)))

  /** [[minhashRowsOf]] over the augmented corpus. */
  private[graft] def augMinhashRows(spark: SparkSession,
                                    dir: String): DataFrame =
    graft.core.Artifacts.memo(spark, s"minhash_rows:$dir")(
      minhashRowsOf(augmented(spark, dir)))

  /** (id, band, bandsig) — the 4-band LSH signature relation derived
    * from [[augMinhashRows]] (rides the same heavy pass). */
  private[graft] def augBandSigs(spark: SparkSession,
                                 dir: String): DataFrame =
    graft.core.Artifacts.memo(spark, s"minhash_sigs:$dir")(
      bandSigsFromMinhash(augMinhashRows(spark, dir)))

  /** (id, hv16, hv60) over the augmented corpus — [[Dedup.wordHashes]]
    * as a session artifact: the word-level twin of [[augShingleRows]],
    * shared by d04/d05 (16-bit) and d10/d22 (60-bit). */
  private[graft] def augWordHashes(spark: SparkSession,
                                   dir: String): DataFrame =
    graft.core.Artifacts.memo(spark, s"word_hashes:$dir")(
      Dedup.wordHashes(augmented(spark, dir), col("doc_id"), col("text")))

  /** d19 core over explicit (history, batch) relations of
    * (doc_id, text) — derives both sides' state with the shared
    * derivations, then runs [[incrementalMinhashAgainst]]. */
  private[graft] def incrementalMinhashOf(hist: DataFrame,
                                          batch: DataFrame): DataFrame =
    incrementalMinhashAgainst(bandSigsOf(hist, "hist_id"),
      shingleRowsOf(hist), batch, bandSigsOf(batch, "doc_id"),
      shingleRowsOf(batch))

  /** d19 over PREBUILT state — `histSigs` (hist_id, band, bandsig) and
    * `histShingles` (id, sh) are the persisted relations a production
    * ingest maintains; `batchSigs` (doc_id, band, bandsig) and
    * `batchShingles` (id, sh) are the batch's own rows, derived by the
    * caller ([[bandSigsOf]], [[shingleRowsOf]]) or id-filtered from the
    * session artifacts. `batch` supplies the doc ids every verdict
    * covers. Nothing rescans history text. */
  private[graft] def incrementalMinhashAgainst(histSigs: DataFrame,
                                               histShingles: DataFrame,
                                               batch: DataFrame,
                                               batchSigs: DataFrame,
                                               batchShingles: DataFrame)
      : DataFrame = {
    val (cand, best) =
      minhashBestMatch(histSigs, histShingles, batchSigs, batchShingles)
    val nc = cand.groupBy(col("doc_id")).agg(count(lit(1)).as("n_candidates"))
    batch.select(col("doc_id"))
      .join(nc, Seq("doc_id"), "left")
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("hist_id"), lit(-1L)).as("best_hist_id"),
        round(coalesce(col("jac"), lit(0.0)), 6).as("best_jaccard"),
        when(coalesce(col("jac"), lit(0.0)) >= Dedup.JaccardThreshold,
          "near_dup_of_history")
          .otherwise("new").as("status"))
      .orderBy(col("doc_id"))
  }

  /** The shared CORE of the MinHash screen — the LSH candidate
    * relation (doc_id, hist_id) and the per-doc best history match
    * (doc_id, hist_id, jac); only docs with ≥1 candidate appear in
    * the latter. [[incrementalMinhashAgainst]] (d19) adds its
    * n_candidates column and the full-batch left join on top; the
    * dedup gate joins the best-match relation straight onto its
    * digest verdicts — its declared output carries no candidate
    * count, so the nc aggregation, the batch re-join and d19's
    * orderBy never enter the gate plan (Catalyst cannot prune an
    * unused left join itself). */
  private[graft] def minhashBestMatch(histSigs: DataFrame,
                                      histShingles: DataFrame,
                                      batchSigs: DataFrame,
                                      batchShingles: DataFrame)
      : (DataFrame, DataFrame) = {
    // lineage-CUT, not cached (the r14 s12 finding applied to the
    // MinHash screen, r14 verdict item 3): these relations are each
    // referenced 2-4× by the joins below, and their plans carry the
    // whole signature/shingle front (shingle explode → 12-way
    // minhash agg → band concat), which a mere .cache() re-
    // canonicalizes per reference per action — driver-serial seconds
    // at the gate's plan sizes. All COMPACT proxy rows (ids, 60-bit
    // hashes, band strings), never text — guide §8. The batch
    // shingles are used as the caller passes them: the gate cuts the
    // batch's rows itself, and d19 passes an id-filter of a session
    // artifact — a second localCheckpoint would re-materialize either
    // for nothing.
    val cand = graft.core.Caches.cut(Dedup.minhashBandJoin(
      batchSigs.withColumnRenamed("doc_id", "id"),
      histSigs.withColumnRenamed("hist_id", "id"), "doc_id" -> "hist_id", lit(true)))
    // only the candidates' history shingles: `inter` and `nh` read no
    // other hist_id, so the checkpoint does not grow with history
    val hsh = graft.core.Caches.cut(
      histShingles.select(col("id"), col("sh"))
        .join(cand.select(col("hist_id").as("id")).distinct(), Seq("id"), "left_semi"))
    val best = Dedup.bestMatch(Dedup.pairJaccard(cand, batchShingles, hsh),
      col("doc_id"), col("jac").desc, col("hist_id"))
    (cand, best)
  }

  /** The DuckDB twin of [[minhashBestMatch]] over the band-signature
    * relation `bands` (id, band, bandsig) and the hashed-shingle
    * relation `hsh` (id, sh): the candidate pairs `<out>_cand`
    * (doc_id, hist_id) between the `doc_id`s of relations `batch` and
    * `hist`, and the best history match per candidate doc as `out`
    * (doc_id, hist_id, jac). Defines `<out>_jc` (with its
    * [[Dedup.pairJaccardSql]] relations) on the way. */
  private[graft] def minhashBestMatchSql(bands: String, hsh: String, batch: String,
                                         hist: String, out: String): String = s"""
    |${Dedup.minhashBandJoinSql(bands, bands, "doc_id" -> "hist_id",
        s"a.id IN (SELECT doc_id FROM $batch) AND b.id IN (SELECT doc_id FROM $hist)",
        s"${out}_cand")},
    |${Dedup.pairJaccardSql(s"${out}_cand", "doc_id", "hist_id", hsh, s"${out}_jc")},
    |${Dedup.bestMatchSql(s"${out}_jc", "doc_id", "jac DESC, hist_id", out)}""".stripMargin

  /** The composed continuous-ingest DEDUP GATE (s09's relation, the
    * per-micro-batch body of the streaming gate): d16's exact digest
    * screen first ([[Dedup.digestScreen]]: 'dup_of_history',
    * 'dup_in_batch'), then d19's MinHash-LSH screen for the digest-new
    * remainder — 'near_dup_of_history' at d02's 0.5 Jaccard, else
    * 'new' (admit): [[Dedup.gateDecisions]], the rule the media gate
    * shares.
    * Exact screens before fuzzy for the same reason d18 collapses
    * before mining: a byte-identical copy never reaches the candidate
    * joins. History arrives as its PERSISTED derived relations
    * (digest set, band signatures, hashed shingles) — per batch,
    * history text is never rescanned and history signatures never
    * recomputed. The batch arrives as its digest (doc_id, h) rows
    * ([[digestRowsOf]] — the streaming caller derives its history
    * semi-join's probe from the same frame, so each row is digested
    * once), plus its signature (doc_id, band, bandsig) and shingle
    * (id, sh) rows over the WHOLE batch ([[bandSigsOf]] /
    * [[shingleRowsOf]], or id-filters of the session artifacts in the
    * s09 twin), which the MinHash screen takes as passed: an exact
    * duplicate's verdict is its digest verdict whatever its best
    * match.
    *
    * Returns (decisions, new digests (h), new band signatures
    * (hist_id, band, bandsig), new hashed shingles (id, sh)) so a
    * streaming caller appends the ADMITTED documents' history state
    * WITHOUT a second signature/shingle pass: the survivor relations
    * are cut once and filtered to the admitted ids for the append;
    * the one-shot twins keep only the decisions. A null text digests
    * as the empty string ([[Dedup.contentDigest]]), so no document is
    * dropped by the screen's digest join.
    * Decisions are unordered — the s09 entry point adds its own
    * orderBy; per-micro-batch consumers must not pay a global sort.
    *
    * Intra-batch near-dup scope (defined semantics, matched by the
    * s09 oracle): the MinHash screen runs against HISTORY only — two
    * non-identical near-duplicates arriving in the SAME batch both
    * admit as 'new' and both enter the history tables, so near-dup
    * leakage grows with micro-batch size (exact duplicates never
    * leak; the digest screen is within-batch). A caller needing
    * intra-batch fuzzy dedup composes the batch-side d03/d08
    * operators over the admitted set before the append — the screens
    * stay single-purpose rather than hiding a second LSH pass here. */
  private[graft] def dedupGateWithState(histDigests: DataFrame,
                                        histSigs: DataFrame,
                                        histShingles: DataFrame,
                                        batchDigests: DataFrame,
                                        batchSigs: DataFrame,
                                        batchShingles: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val b = graft.core.Caches.transient(batchDigests)
    val ex = graft.core.Caches.transient(
      Dedup.digestScreen(b, col("doc_id"), histDigests)
        .select(col("doc_id"), col("ex_status")))
    // the batch's signature/shingle rows as passed, shared by the
    // fuzzy screen and (filtered to admitted) the history append —
    // lineage-CUT (compact proxy rows; their plans otherwise carry the
    // whole signature/shingle front into every downstream reference).
    // Exact duplicates are screened too: their decision is their
    // ex_status whatever their best match, and the append keeps only
    // 'new' ids, so no digest-new cut is needed
    val sSigs = graft.core.Caches.cut(batchSigs)
    val sSh = graft.core.Caches.cut(batchShingles)
    // the gate consumes the screen's best-match CORE directly: d19's
    // n_candidates aggregation, its full-batch left join and its
    // orderBy would all be dead weight here (the decision columns
    // below never read them, and Catalyst cannot prune an unused
    // left join) — measured ~1/3 of the gate's jobs before the split
    val (_, fzBest) = minhashBestMatch(histSigs, histShingles, sSigs, sSh)
    val (decisions, newIds, newDigests) = Dedup.gateDecisions(b, ex, "doc_id",
      fzBest, near = col("jac") >= Dedup.JaccardThreshold,
      score = "best_jaccard" -> round(col("jac"), 6), default = lit(0.0))
    val newSigs = sSigs.join(newIds, Seq("doc_id"))
      .select(col("doc_id").as("hist_id"), col("band"), col("bandsig"))
    val newShingles = sSh
      .join(newIds.select(col("doc_id").as("id")), Seq("id"))
      .select(col("id"), col("sh"))
    (decisions, newDigests, newSigs, newShingles)
  }

  /** (doc_id, h) content-digest rows of a (doc_id, text) frame — the
    * ONE digest derivation of the text exact screens: the streaming
    * gate, its s09 twin, [[dedupGateOf]] and d16 all call it. */
  private[graft] def digestRowsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Dedup.contentDigest(col("text")).as("h"))

  /** [[dedupGateWithState]]'s decisions with both sides' state derived
    * from (doc_id, text) relations by the shared derivations — the
    * spec twin's entry. */
  private[graft] def dedupGateOf(hist: DataFrame,
                                 batch: DataFrame): DataFrame =
    dedupGateWithState(
      digestRowsOf(hist).select(col("h")),
      bandSigsOf(hist, "hist_id"), shingleRowsOf(hist), digestRowsOf(batch),
      bandSigsOf(batch, "doc_id"), shingleRowsOf(batch))._1

  /** Session-scoped Jaccard-pair artifact: d02 reports the pairs, d08
    * resolves them into groups — one mining pass serves both (the
    * `exactSelfTop3` discipline). */
  private def jaccardPairsArtifact(spark: SparkSession, dir: String): DataFrame =
    graft.core.Artifacts.memo(spark, s"jaccard_pairs:$dir")(
      Dedup.jaccardPairsFromHashed(augShingleRows(spark, dir)))

  /** n-gram Jaccard near-dup pairs (finds the planted near-copies). */
  def jaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardPairsArtifact(spark, dir)
      .orderBy(col("a_id"), col("b_id"))

  /** MinHash-LSH candidate pairs (banded self-join of the session
    * signature artifact — same 12-hash/4-band relation as inline). */
  def minhash(spark: SparkSession, dir: String): DataFrame = {
    val sigs = augBandSigs(spark, dir)
    Dedup.minhashBandJoin(sigs, sigs, "a_id" -> "b_id", col("a_id") < col("b_id"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** SimHash values per augmented doc (aggregated off the session
    * word-hash artifact — same rows as the inline text pass). */
  def simhashValues(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashOf(augWordHashes(spark, dir)
        .select(col("id"), col("hv16").as("hv")), 16)
      .orderBy(col("id"))

  /** SimHash near-dup pairs at Hamming ≤ 2 — through the banded-LSH
    * path (pigeonhole bands → equi-join candidates → exact Hamming
    * filter), the scale-safe default; the all-pairs twin remains as
    * the spec cross-check ([[Dedup.hammingPairsAllPairsOf]]). */
  def simhashNearDups(spark: SparkSession, dir: String): DataFrame = {
    val s = graft.core.Caches.cut(Dedup.simhashOf(augWordHashes(spark, dir)
      .select(col("id"), col("hv16").as("hv")), 16))
    Dedup.hammingBandJoin(s, s, "a_id" -> "b_id", 2, 16, col("a_id") < col("b_id"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** embeddings ∪ planted near-copies (vec_id+100000, first component
    * bumped by 0.1 → cos ≈ 0.995 against the base on these unit
    * vectors). Mirrors [[augmented]]'s planted-dup design: the raw
    * synthetic vectors are an isotropic cloud (measured: mean pair
    * cos 4e-4, max 0.51 at sf0.01 — and 879 of the 990 pairs above
    * 0.3 are CROSS-label noise), so they contain no near-dups to
    * find; planting makes the mining task real. */
  def augmentedVectors(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val near = e.filter(col("vec_id") < 100)
      .select((col("vec_id") + 100000).as("vec_id"),
        concat(array(element_at(col("embedding"), 1) + lit(0.1)),
          slice(col("embedding"), lit(2), size(col("embedding")) - 1)).as("embedding"))
    e.unionByName(near)
  }

  /** The DuckDB twin of [[augmentedVectors]]: `out` (vec_id, v),
    * defining `<out>_0` on the way. */
  private[graft] def augmentedVectorsSql(out: String): String =
    s"""${out}_0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |$out AS (SELECT vec_id, v FROM ${out}_0
       |  UNION ALL SELECT vec_id + 100000, list_concat([v[1] + 0.1], v[2:])
       |    FROM ${out}_0 WHERE vec_id < 100)""".stripMargin

  /** Embedding-cosine near-dup pairs over the augmented vectors, at a
    * true near-dup threshold (0.98: planted pairs sit at ~0.995, the
    * isotropic background tops out at ~0.6 at every SF — a wide
    * margin on BOTH sides). Declared path is banded SRP-LSH + exact
    * rerank ([[graft.vector.KnnJoin.cosinePairsAboveBanded]]) — no
    * broadcast of the vector set, no n² scan; a spec pins its output
    * equal to the all-pairs twin. Low-threshold tail enumeration
    * (the old 0.3 form) is NOT a near-dup task and keeps the exact
    * scan as its only honest implementation — see the scaladoc on
    * [[graft.vector.KnnJoin.cosinePairsAbove]]. */
  def embeddingNearDups(spark: SparkSession, dir: String): DataFrame =
    graft.vector.KnnJoin.cosinePairsAboveBanded(spark,
        augmentedVectors(spark, dir), 0.98)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos"))
      .orderBy(col("a_id"), col("b_id"))

  /** d02 with the stop-shingle cap: shingles in more than 20 docs are
    * dropped from candidate generation AND set sizes — the skew guard
    * that bounds inverted-index fan-out at corpus scale, here under
    * the same oracle discipline as the uncapped variant. */
  def jaccardStopShingle(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairsFromHashed(augShingleRows(spark, dir),
        maxShingleDocFreq = 20)
      .orderBy(col("a_id"), col("b_id"))

  /** d20: the BOUNDED-OUTPUT datasheet twin of the d02 pair report —
    * per-similarity-band TRUE pair counts (bands of width 0.1 from
    * the 0.5 threshold up, J = 1.0 its own band), zero-filled (a13's
    * absent-cell discipline). d02's cost IS its quadratic output
    * (every true pair, 8.4× at 10×) — honest for the report, unusable
    * at 100 TB, where the curator's question is "how MUCH near-
    * duplication, at what similarity?" — six numbers, not the pairs.
    *
    * Shape: the [[Dedup.exactGroups]] front bounds mining by the
    * DISTINCT corpus: intra-class pairs count CLOSED-FORM as m(m−1)/2
    * at J = 1.0, and each rep pair contributes m_a·m_b pairs to its
    * band; the output is ≤ 6 rows regardless of corpus. The DuckDB
    * oracle enumerates ALL pairs over the full corpus directly — the
    * independent check of the collapse argument. Zero-shingle classes (texts under k
    * words) produce no pairs on either side: the intra count guards
    * on the class's rep having shingle rows. */
  def pairBandCounts(spark: SparkSession, dir: String): DataFrame =
    pairBandCountsOf(spark, augmented(spark, dir), augShingleRows(spark, dir))

  /** d20 over a (doc_id, text) corpus and its [[shingleRowsOf]] rows
    * (the session artifact, or the derivation over the corpus). */
  private[graft] def pairBandCountsOf(spark: SparkSession,
                                      corpus: DataFrame,
                                      corpusShingles: DataFrame)
      : DataFrame = {
    // cut, not cache (compact (id, digest) rows; reps referenced 4×
    // below — the family-wide r15 lineage-cut discipline)
    val classes = graft.core.Caches.cut(
      corpus.select(col("doc_id"), Dedup.contentDigest(col("text")).as("h")))
    val reps = graft.core.Caches.cut(
      Dedup.exactGroups(classes, col("doc_id"), col("h"))
        .select(col("keeper_id").as("rep_id"), col("n_copies").as("m")))
    // rep-only shingles: a semi-join of the corpus shingle rows
    // (bitwise-equal to re-shingling the rep corpus — per-row
    // derivation, distinct commutes with the id filter)
    val repSh = corpusShingles.join(
      reps.select(col("rep_id").as("id")), Seq("id"), "left_semi")
    val cross = Dedup.jaccardPairsFromHashed(repSh)
      .join(reps.select(col("rep_id").as("a_id"), col("m").as("ma")), Seq("a_id"))
      .join(reps.select(col("rep_id").as("b_id"), col("m").as("mb")), Seq("b_id"))
      .select(floor(col("jaccard") * 10).cast("long").as("b10"),
        (col("ma") * col("mb")).as("w"))
    // m(m−1) is even, so the double division is exact (and long-cast
    // safe) for any class size below 2^26 — far past any real class
    val intra = reps.filter(col("m") > 1)
      .join(repSh.select(col("id").as("rep_id")), Seq("rep_id"), "left_semi")
      .select(lit(10L).as("b10"),
        ((col("m") * (col("m") - lit(1L))) / lit(2L)).cast("long").as("w"))
    val counts = cross.unionByName(intra)
      .groupBy(col("b10")).agg(sum(col("w")).as("n"))
    spark.range(5, 11).select(col("id").as("b10"))
      .join(counts, Seq("b10"), "left")
      .select((col("b10").cast("double") / lit(10.0)).as("band"),
        coalesce(col("n"), lit(0L)).as("n_pairs"))
      .orderBy(col("band"))
  }

  /** d21: MinHash ESTIMATOR-FIDELITY audit — the banding-tuning
    * instrument for the whole LSH family: for every d03 candidate
    * pair, the 12-seed match fraction is the unbiased Jaccard
    * estimator (Broder 1997), and this report rolls up, per match
    * count m ∈ 0..12 (zero-filled, the a13 absent-cell discipline),
    * the TRUE pair count, the weighted mean exact Jaccard, and the
    * weighted mean |m/12 − J| — the table a curator reads to decide
    * whether 12 seeds × 4 bands screens tightly enough before
    * raising either.
    *
    * Scale shape: the d20 [[Dedup.exactGroups]] front — cross-class
    * rows weight by m_a·m_b; every intra-class pair is a candidate at
    * exactly m = 12, J = 1.0, error 0, counted closed-form as c(c−1)/2
    * per class. Candidate mining and the exact verify run over the
    * DISTINCT corpus only; output is ≤ 13 rows at any scale. Weighted means go through 9-dp-rounded
    * decimal sums (the a08 discipline). The DuckDB oracle enumerates
    * ALL candidate pairs over the full corpus directly — the
    * independent check of the collapse argument. */
  def minhashFidelity(spark: SparkSession, dir: String): DataFrame =
    minhashFidelityOf(spark, augmented(spark, dir),
      augMinhashRows(spark, dir), augShingleRows(spark, dir))

  /** d21 over a (doc_id, text) corpus and its [[minhashRowsOf]] and
    * [[shingleRowsOf]] rows (the session artifacts, or the derivations
    * over the corpus). */
  private[graft] def minhashFidelityOf(spark: SparkSession,
                                       corpus: DataFrame,
                                       corpusMinhash: DataFrame,
                                       corpusShingles: DataFrame)
      : DataFrame = {
    val classes = graft.core.Caches.cut(
      corpus.select(col("doc_id"), Dedup.contentDigest(col("text")).as("h")))
    val reps = graft.core.Caches.cut(
      Dedup.exactGroups(classes, col("doc_id"), col("h"))
        .select(col("keeper_id").as("rep_id"), col("n_copies").as("cm")))
    val repIds = reps.select(col("rep_id").as("id"))
    // the distinct corpus's signatures: per-seed mins feed both the
    // band candidates and the per-pair match counts — a semi-join on
    // the rep ids (per-doc signatures are identical whichever corpus
    // slice they were computed over)
    val mh = corpusMinhash.join(repIds, Seq("id"), "left_semi")
    val sigs = bandSigsFromMinhash(mh)
    val cand = graft.core.Caches.cut(
      Dedup.minhashBandJoin(sigs, sigs, "a_id" -> "b_id", col("a_id") < col("b_id")))
    val matches = cand
      .join(mh.select(col("id").as("a_id"), col("seed"), col("mh").as("ma")),
        Seq("a_id"))
      .join(mh.select(col("id").as("b_id"), col("seed"), col("mh").as("mb")),
        Seq("b_id", "seed"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(when(col("ma") === col("mb"), 1L).otherwise(0L)).as("m"))
    val shRows = corpusShingles.join(repIds, Seq("id"), "left_semi")
    val perPair = Dedup.pairJaccard(cand, shRows, shRows)
      .join(matches, Seq("a_id", "b_id"))
      .join(reps.select(col("rep_id").as("a_id"), col("cm").as("wa")), Seq("a_id"))
      .join(reps.select(col("rep_id").as("b_id"), col("cm").as("wb")), Seq("b_id"))
      .select(col("m"), (col("wa") * col("wb")).as("w"), round(col("jac"), 9).as("jac"))
    val cross = perPair.select(col("m"), col("w"),
      (col("w").cast("decimal(28,9)") * col("jac").cast("decimal(28,9)"))
        .cast("decimal(38,9)").as("wj"),
      (col("w").cast("decimal(28,9)") *
        round(abs(col("m").cast("double") / lit(12.0) - col("jac")), 9)
          .cast("decimal(28,9)")).cast("decimal(38,9)").as("we"))
    // intra-class pairs: all bands equal -> m = 12, J = 1, error = 0;
    // a class has shingles iff its rep has shingle rows
    val intra = reps.filter(col("cm") > 1)
      .join(shRows.select(col("id").as("rep_id")), Seq("rep_id"), "left_semi")
      .select(lit(12L).as("m"),
        ((col("cm") * (col("cm") - lit(1L))) / lit(2L)).cast("long").as("w"),
        ((col("cm") * (col("cm") - lit(1L))) / lit(2L))
          .cast("decimal(38,9)").as("wj"),
        lit(0L).cast("decimal(38,9)").as("we"))
    val agg = cross.unionByName(intra)
      .groupBy(col("m"))
      .agg(sum(col("w")).as("n_pairs"), sum(col("wj")).as("sj"),
        sum(col("we")).as("se"))
    spark.range(0, 13).select(col("id").as("m"))
      .join(agg, Seq("m"), "left")
      .select(col("m"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        when(coalesce(col("n_pairs"), lit(0L)) > 0,
          round(col("sj").cast("double") / col("n_pairs").cast("double"), 6))
          .as("mean_jaccard"),
        when(coalesce(col("n_pairs"), lit(0L)) > 0,
          round(col("se").cast("double") / col("n_pairs").cast("double"), 6))
          .as("mean_abs_err"))
      .orderBy(col("m"))
  }

  /** d11: intra-corpus substring-overlap audit (the measurement that
    * motivates Lee et al. 2022's substring dedup — "Deduplicating
    * Training Data Makes Language Models Better" finds long repeated
    * spans ACROSS documents, not just whole-doc near-dups): per doc,
    * the fraction of its 10-gram word spans that occur in at least
    * one other document. Inverted-index shape end-to-end — shingle
    * doc-frequencies by groupBy, a semi-join back onto the posting
    * rows — fan-out linear in shingle rows, no pair enumeration; the
    * stop-shingle cap applies at corpus scale exactly as in d07/d09.
    * Docs under 10 words have no spans and report 0/0 → 0.0. */
  def sharedSpanFrac(spark: SparkSession, dir: String): DataFrame = {
    val aug = augmented(spark, dir)
    val sh = graft.core.Caches.cut(
      Dedup.hashedShingleRows(aug, col("doc_id"), col("text"), 10))
    val dupShingles = sh.groupBy(col("sh"))
      .agg(count(lit(1)).as("df_")).filter(col("df_") >= 2)
      .select(col("sh"))
    val nShared = sh.join(dupShingles, Seq("sh"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_shared"))
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n_spans"))
    aug.select(col("doc_id"))
      .join(sizes.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .join(nShared.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(when(coalesce(col("n_spans"), lit(0L)) > 0,
          coalesce(col("n_shared"), lit(0L)).cast("double") /
            col("n_spans").cast("double")).otherwise(0.0), 6)
          .as("shared_frac"))
      .orderBy(col("doc_id"))
  }

  /** d15: exact substring dedup — the removal transform d11 only
    * audits. Planted exact copies clean to EMPTY (every 10-gram span
    * is kept by the lower-id original), near-copies likewise (their
    * spans are the original's shifted by one), and the word-soup
    * background passes through untouched — all spec-asserted; the
    * oracle replays occurrence offsets, keeper election, coverage,
    * and reassembly. */
  def substringDedupQuery(spark: SparkSession, dir: String): DataFrame =
    Dedup.substringDedup(augmented(spark, dir, spread = false),
      col("doc_id"), col("text"))
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  /** Session-scoped groups artifact, built EXACT-COLLAPSE-FIRST: one
    * representative (min doc_id) per identical text
    * ([[Dedup.exactGroups]]), Jaccard pair mining + union-find over
    * the representatives only, then a linear expansion join attaching
    * every member to its representative's group. This is the standard
    * production composition (exact dedup before fuzzy — RefinedWeb
    * §3.3 runs exact dedup, then MinHash over survivors) and it is
    * GROUP-IDENTICAL to mining the full corpus by the collapse argument
    * in [[Dedup.exactGroups]]: a class of size ≥ 2 is always one group
    * (J = 1 ≥ any threshold), and the group keeper equals the
    * representative-level keeper. DedupSpec pins equality against the
    * direct full-pair path, on the corpus and on a 3×-replicated one.
    *
    * Why it matters at scale: true near-dup pairs grow QUADRATICALLY
    * in duplicate-cluster size — a 30×-replicated corpus has ~900×
    * the pairs, and the round-9 30× leg measured the full-corpus
    * mining path at 353 s (masked in round 8 by a retry that read
    * this very memo back; the scope-drop fix exposed it). Collapsing
    * first bounds mining by the DISTINCT corpus, which replication
    * does not grow; the d02 pair REPORT keeps the full-corpus path,
    * where emitting all true pairs is the task itself. */
  private def dedupGroupsArtifact(spark: SparkSession, dir: String): DataFrame =
    graft.core.Artifacts.memo(spark, s"dedup_groups:$dir")(
      groupsViaExactCollapse(augmented(spark, dir), augShingleRows(spark, dir)))

  /** The collapse-first groups pipeline over a (doc_id, text) corpus
    * and its [[shingleRowsOf]] rows (the session artifact, or the
    * derivation over the corpus) — see [[dedupGroupsArtifact]] for the
    * equality argument. Shared with the spec's direct-path
    * comparison. */
  private[graft] def groupsViaExactCollapse(corpus: DataFrame,
                                            corpusShingles: DataFrame): DataFrame = {
    val classes = graft.core.Caches.cut(
      corpus.select(col("doc_id"), Dedup.contentDigest(col("text")).as("h")))
    val reps = graft.core.Caches.cut(
      Dedup.exactGroups(classes, col("doc_id"), col("h"))
        .select(col("h"), col("keeper_id").as("rep_id"),
          col("n_copies").as("n_members")))
    // rep-only shingles: a semi-join of the corpus shingle rows (the
    // d20 front; jaccardPairsFromHashed cuts it)
    val repSh = corpusShingles.join(
      reps.select(col("rep_id").as("id")), Seq("id"), "left_semi")
    val repGroups = Dedup.dedupGroups(Dedup.jaccardPairsFromHashed(repSh))
    // membership contract unchanged: a doc appears iff it is in some
    // FULL pair — intra-class (class size ≥ 2, content with shingles:
    // its rep has shingle rows) or via its rep's pair
    classes.join(reps.join(repSh.select(col("id").as("rep_id")),
        Seq("rep_id"), "left_semi"), Seq("h"))
      .join(repGroups.select(col("doc_id").as("rep_id"), col("keeper_id")),
        Seq("rep_id"), "left")
      .filter(col("keeper_id").isNotNull || col("n_members") > 1)
      .select(col("doc_id"),
        coalesce(col("keeper_id"), col("rep_id")).as("keeper_id"))
  }

  /** Pairs → groups: transitive closure of the d02 Jaccard pairs.
    * The planted structure makes the components non-trivial — for
    * doc_id < 50 the exact copy AND the near copy chain into one
    * 3-doc group {i, i+100000, i+200000} whose keeper is i. */
  def dedupGroupsQuery(spark: SparkSession, dir: String): DataFrame =
    dedupGroupsArtifact(spark, dir)
      .orderBy(col("doc_id"))

  /** d14: dedup-aware (leakage-safe) split — the SPLIT UNIT is the
    * near-dup GROUP, not the document. A naive per-doc hash split
    * puts ~20% of each dup group's members on the test side, which is
    * exactly the train→test leakage Lee et al. 2022 measure (§6:
    * near-dup test examples inflate eval scores). Here every doc
    * splits by its group KEEPER's hash (singletons keep themselves),
    * so groups move atomically; the spec proves zero straddling
    * groups here vs real straddling under the naive split. Composes
    * the d02 pair artifact + d08 pointer-jumped components + the M2
    * hash split — at corpus scale each piece keeps its documented
    * shape and the split itself stays partition-independent. */
  def groupSplit(spark: SparkSession, dir: String): DataFrame = {
    val aug = augmented(spark, dir).select(col("doc_id"))
    val groups = dedupGroupsArtifact(spark, dir)
    val withKeeper = aug.join(groups, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("keeper_id"), col("doc_id")).as("keeper_id"))
    graft.sample.Sampling.hashSplit(withKeeper, col("keeper_id"), 0.8)
      .orderBy(col("doc_id"))
  }

  /** Benchmark decontamination (the GPT-3/PaLM eval-leakage check):
    * which train-split documents share word 3-gram shingles with the
    * held-out test split, and how much. Split is the engine's
    * partition-independent hash split ([[graft.sample.Sampling]]);
    * overlap is the inverted-index join again — train postings join
    * the DISTINCT test shingle set, so the fan-out is linear in train
    * shingle rows (no pair enumeration anywhere). At corpus scale the
    * stop-shingle cap applies to this join exactly as in d07. */
  /** The split-tagged hashed-shingle relation d09 and d13 both read:
    * (train rows (doc_id, sh) — transient-cached — and the distinct
    * test shingle set). One definition, so the two decontamination
    * forms can never shingle differently — the spec's
    * flagged-superset invariant depends on that. */
  private def splitShingles(spark: SparkSession,
                            dir: String): (DataFrame, DataFrame) = {
    // `documents` rows sit verbatim inside the augmented corpus, so
    // its shingle relation is a semi-join of the session artifact on
    // the documents ids (never an id-range guess — scale corpora
    // carry offset replica ids); the hash split is a pure function of
    // doc_id, applied after the derivation exactly as before (distinct
    // commutes: split is functionally dependent on the id)
    val hashed = graft.sample.Sampling.hashSplit(
      augShingleRows(spark, dir).select(col("id").as("doc_id"), col("sh"))
        .join(Tables(spark, dir).documents.select(col("doc_id")),
          Seq("doc_id"), "left_semi"),
      col("doc_id"), 0.8)
    val train = graft.core.Caches.cut(
      hashed.filter(col("split") === "train").drop("split"))
    val test = hashed.filter(col("split") === "test").select(col("sh")).distinct()
    (train, test)
  }

  def decontamination(spark: SparkSession, dir: String): DataFrame = {
    val (train, test) = splitShingles(spark, dir)
    val sizes = train.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    train.join(test, Seq("sh"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      .join(sizes, Seq("doc_id"))
      .select(col("doc_id"), col("n_shared"), col("n_shingles"),
        round(col("n_shared").cast("double") /
          col("n_shingles").cast("double"), 6).as("contam_frac"))
      .orderBy(col("doc_id"))
  }

  /** The augmented-vector 16-list coarse index shared by d12 and v14
    * — the same session artifact builder as the embeddings-table
    * index in [[graft.vector.VectorPack]]. */
  private[graft] def augIvfIndex(spark: SparkSession,
                                 dir: String): graft.vector.KnnJoin.IvfIndex =
    graft.vector.KnnJoin.ivfIndexArtifact(spark, s"aug:$dir",
      augmentedVectors(spark, dir), Some(graft.vector.KnnJoin.PinnedLists))

  /** d12: SemDeDup (Abbas et al. 2023) over the augmented vectors —
    * the semantic tier of the dedup ladder. The planted near-copies
    * (cos ≈ 0.995 to their base) land in the base vector's k-means
    * cluster, pair up inside it, and the pair member closer to the
    * centroid is dropped; the isotropic background (max pair cos
    * ~0.6) never reaches the 0.98 threshold, so `kept = 0` rows are
    * exactly the planted redundancy. Whole pipeline — seed sample,
    * Lloyd, assignment, within-cluster pairs, keeper rule — replays
    * in SQL via the shared v10 chain. */
  def semdedup(spark: SparkSession, dir: String): DataFrame = {
    graft.vector.SemDedup.semDedup(spark, augmentedVectors(spark, dir), 0.98,
        augIvfIndex(spark, dir))
      .orderBy(col("vec_id"))
  }

  /** d13: Bloom-filter decontamination — d09's check through a
    * fixed-size filter instead of the exact test-shingle join. The
    * bits relation is bounded by 2²⁰ positions NO MATTER how large
    * the held-out corpus grows (the exact join's build side grows
    * with it), at the price of the standard false-positive rate —
    * which the oracle reproduces bit-for-bit because positions are
    * md5-derived. Flagged ⊇ the exact d09 set (no false negatives;
    * spec-asserted), so the filter is a safe PRE-SCREEN: at corpus
    * scale run d13 map-side first, then the exact join only over the
    * tiny flagged remainder. */
  def bloomDecontamination(spark: SparkSession, dir: String): DataFrame = {
    val mBits = 1 << 20
    val k = 3
    val (train, test) = splitShingles(spark, dir)
    val bits = Dedup.bloomBits(test.select(col("sh").as("key")), k, mBits)
    val members = Dedup.bloomMembers(
      train.select(col("doc_id").as("id"), col("sh").as("key")), bits, k, mBits)
    val sizes = train.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    members.groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_flagged"))
      .join(sizes, Seq("doc_id"))
      .select(col("doc_id"), col("n_flagged"), col("n_shingles"),
        round(col("n_flagged").cast("double") /
          col("n_shingles").cast("double"), 6).as("flag_frac"))
      .orderBy(col("doc_id"))
  }

  /** d10: the Manku production shape — 60-bit simhash, Hamming ≤ 3,
    * 4 pigeonhole bands of 15 bits. The width is what survives scale:
    * per-band background collisions fall from 2^-5 (d05's 16-bit/3-
    * band layout) to 2^-15, so candidate volume stays near the true
    * near-dup count instead of n²/32. */
  def simhashWidePairs(spark: SparkSession, dir: String): DataFrame = {
    val s = graft.core.Caches.cut(Dedup.simhashOf(augWordHashes(spark, dir)
      .select(col("id"), col("hv60").as("hv")), 60))
    Dedup.hammingBandJoin(s, s, "a_id" -> "b_id", 3, 60, col("a_id") < col("b_id"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** d22: d10 BEHIND THE EXACT-COLLAPSE FRONT — the production
    * posture the round-13 adjudication (PERF.md bandblocks table) and
    * the 30× legs prescribe: byte-identical copies resolve at the
    * digest tier ([[Dedup.exactGroups]] over [[Dedup.contentDigest]]),
    * and only ONE representative per distinct content enters
    * the banded simhash join, so duplicate-cluster growth (the scale
    * corpus's growth mode: C(k,2) true pairs per k-replica cluster,
    * re-enumerated in every band) never reaches the band buckets.
    * Output = d10's near-dup pairs restricted to representatives (the
    * mm06 stance: exact-dup pairs are the digest tier's output, not
    * the fuzzy tier's; spec pins d22 ≡ d10 filtered to rep ids). d10
    * stays the declared full-corpus contrast, whose measured 27-32×
    * slope at 30× (bound 45) is exactly the growth this front
    * removes. */
  def simhashWidePairsCollapsed(spark: SparkSession, dir: String): DataFrame = {
    val reps = Dedup.exactGroups(augmented(spark, dir), col("doc_id"),
        Dedup.contentDigest(col("text")))
      .select(col("keeper_id").as("id"))
    // rep-only word hashes: a semi-join of the session artifact on the
    // rep ids — identical rows to re-deriving from the rep docs' text
    // (per-row derivation commutes with the id filter)
    val repWh = augWordHashes(spark, dir).join(reps, Seq("id"), "left_semi")
    val s = graft.core.Caches.cut(
      Dedup.simhashOf(repWh.select(col("id"), col("hv60").as("hv")), 60))
    Dedup.hammingBandJoin(s, s, "a_id" -> "b_id", 3, 60, col("a_id") < col("b_id"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** d17: corpus-level duplicate-LINE removal with document
    * reassembly — CCNet's first pipeline stage (Wenzek et al. 2020
    * §3.1 dedups paragraphs ACROSS documents by hash before any
    * model-based filtering; C4 likewise drops repeated three-sentence
    * spans corpus-wide). Sits between a07 (per-doc line rules, no
    * cross-doc state) and d11/d15 (word-10-gram span overlap): the
    * unit here is the whole normalized line, and the output is the
    * cleaned CORPUS, not an audit. Every occurrence of a line except
    * the globally first (smallest (doc_id, pos)) of its normalized
    * form — lowercased, punctuation/digits stripped, trimmed — is
    * removed, and each document is rebuilt from its surviving lines
    * in original order.
    *
    * Scale shape — two exchanges, no pair fan-out, skew-proof where
    * it matters: keeper election is [[Dedup.exactGroups]] over the
    * line hash with the struct id (doc_id, pos), a partial-
    * aggregatable min(struct) groupBy, so the boilerplate hot keys
    * this operator exists for (nav lines, cookie banners — here the
    * planted "javascript"/"lorem" lines in 1/7 and 1/11 of all docs)
    * collapse MAP-SIDE before the exchange.
    * A row_number window over the same key would ship every
    * occurrence of the hottest line into one unsplittable task; the
    * equivalent join-back on the hash IS splittable (AQE skew join —
    * the keeper side is one row per hash). Reassembly shuffles once
    * more on doc_id. Lines are derived by the same planted-lines
    * generator as a07 ([[graft.text.AnalysisPack.withPlantedLines]])
    * so both engines see identical corpora. */
  def lineDedup(spark: SparkSession, dir: String): DataFrame = {
    // the POSTING relation is the cached seam (not the lines base):
    // it feeds both the keeper election and the join probe, and
    // caching it makes the line generator AND the per-line
    // normalize+md5 pipeline run exactly once. Every downstream
    // per-doc number — n_lines included — comes from one conditional
    // aggregation over the flagged postings, so no second branch
    // re-derives the lines; only the zero-line-doc edge reads
    // documents again, as a doc_id-only column scan. Cache spills to
    // disk at scale (the `augmented` discipline).
    val posted = graft.core.Caches.transient(
      graft.text.AnalysisPack.withPlantedLines(spark, dir)
        .select(col("doc_id"), posexplode(col("lines")).as(Seq("pos", "line")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("line"),
          md5(trim(regexp_replace(lower(col("line")), "[^a-z ]", ""))).as("h")))
    val keepers = Dedup.exactGroups(posted, struct(col("doc_id"), col("pos")),
        col("h"))
      .select(col("h"), col("keeper_id.doc_id").as("k_doc"),
        col("keeper_id.pos").as("k_pos"))
    // the inner join on the hash preserves every posting row (keepers
    // is keyed by the same relation's hashes); kept-ness is a flag
    val flagged = posted.join(keepers, Seq("h"))
      .select(col("doc_id"), col("pos"), col("line"),
        (col("doc_id") === col("k_doc") && col("pos") === col("k_pos"))
          .as("keep"))
    val rebuilt = flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("keep"), lit(1L)).otherwise(lit(0L))).as("n_kept"),
        concat_ws("\n", transform(
          array_sort(collect_list(
            when(col("keep"), struct(col("pos"), col("line"))))),
          s => s.getField("line"))).as("cleaned"))
    Tables(spark, dir).documents.select(col("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
      .orderBy(col("doc_id"))
  }

  /** d18: keep-BEST dedup materialization — the removal POLICY on top
    * of d08's components. Within every near-dup group keep the member
    * with the highest a02 quality score (ties → smallest doc_id),
    * not blindly the smallest id: production pipelines keep one
    * representative per duplicate cluster and prefer the
    * better-quality copy (RefinedWeb §3.4's dedup stage composes
    * with its quality stage the same way). Emits the per-member
    * manifest: group, quality, elected best, keep flag.
    *
    * Scale shape: quality is scan-stage arithmetic on the augmented
    * corpus (the a02 native-expression formula, shared so the policy
    * cannot fork); groups come from the shared session artifact; the
    * election is a partial-aggregatable max(struct(quality, -doc_id))
    * per group plus one AQE-splittable join back — work is bounded by
    * the dup-group membership, never the corpus. */
  def keepBest(spark: SparkSession, dir: String): DataFrame = {
    val q = augmented(spark, dir, spread = false)
      .select(col("doc_id"),
        round(graft.text.TextAnalysis.qualityScore(col("text")), 6)
          .as("quality"))
    // transient-cached: `m` feeds both the election aggregation and
    // the final join probe; uncached, the full-corpus quality scan
    // (the expensive side) would execute twice
    val m = graft.core.Caches.cut(
      dedupGroupsArtifact(spark, dir)
        .withColumnRenamed("keeper_id", "group_id")
        .join(q, Seq("doc_id")))
    val best = m.groupBy(col("group_id"))
      .agg(max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("b"))
      .select(col("group_id"), (-col("b.nid")).as("best_id"))
    m.join(best, Seq("group_id"))
      .select(col("doc_id"), col("group_id"), col("quality"),
        col("best_id"), (col("doc_id") === col("best_id")).as("keep"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d18_keep_best" -> keepBest,
    "d17_line_dedup" -> lineDedup,
    "d11_shared_spans" -> sharedSpanFrac,
    "d12_semdedup" -> semdedup,
    "d13_bloom_decontam" -> bloomDecontamination,
    "d14_group_split" -> groupSplit,
    "d15_substring_dedup" -> substringDedupQuery,
    "d10_simhash_wide" -> simhashWidePairs,
    "d22_simhash_reps" -> simhashWidePairsCollapsed,
    "d08_dedup_groups" -> dedupGroupsQuery,
    "d09_decontamination" -> decontamination,
    "d07_jaccard_stopshingle" -> jaccardStopShingle,
    "d01_exact_dedup" -> exactDedup,
    "d16_incremental_dedup" -> incrementalDedup,
    "d19_incremental_minhash" -> incrementalMinhash,
    "d02_jaccard_pairs" -> jaccard,
    "d20_pair_band_counts" -> pairBandCounts,
    "d21_minhash_fidelity" -> minhashFidelity,
    "d03_minhash_candidates" -> minhash,
    "d04_simhash_values" -> simhashValues,
    "d05_simhash_pairs" -> simhashNearDups,
    "d06_embedding_near_dups" -> embeddingNearDups)

  override val artifacts: Map[String, (SparkSession, String) => DataFrame] =
    Map("jaccard_pairs" -> jaccardPairsArtifact,
      "dedup_groups" -> dedupGroupsArtifact,
      "aug_ivf_centroids" -> ((s, d) => augIvfIndex(s, d).centroids),
      "aug_ivf_assign" -> ((s, d) => augIvfIndex(s, d).assignments),
      // the shingle/minhash tier shared by d02/d03/d07/d09/d13/d19/
      // d20/d21, the s09 gate and p02's funnel (memo-linked:
      // minhash_sigs derives from minhash_rows; both in one "minhash"
      // build chain so nothing is computed twice)
      "shingle_rows" -> augShingleRows,
      "minhash_rows" -> augMinhashRows,
      "minhash_sigs" -> augBandSigs,
      // the word-level twin (one text pass, both simhash hash widths)
      // shared by d04/d05 (16-bit) and d10/d22 (60-bit)
      "word_hashes" -> augWordHashes)

  /** The 3-shingle relations `w`, `sh` and `hsh` over `aug`. */
  private val augShinglesSql = Dedup.hashedShingleRowsSql("aug", "w", "sh", "hsh")

  /** The minhash band-signature chain (32-bit base hash → 12-seed
    * family mins → 4 band signatures) — shared by the d03, d19, d21
    * and s09 oracles so the LSH family cannot fork. Assumes the `sh`
    * shingle CTE in scope. */
  private[graft] val minhashBandsSql = s"""hb AS (SELECT id,
    |  ${Dedup.hexIntSql("md5(sh)", 1, 8)} AS base
    |  FROM sh),
    |mh AS (SELECT id, seed,
    |    min(((1000003 + 222222 * seed) * base + 777767 * seed + 12345)
    |      % ${Dedup.MinhashP}) AS mh
    |  FROM hb, unnest(range(0, 12)) t(seed) GROUP BY id, seed),
    |bands AS (SELECT id, CAST(seed // 3 AS INT) AS band,
    |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS bandsig
    |  FROM mh GROUP BY id, CAST(seed // 3 AS INT))""".stripMargin

  /** The d08 recursive component chain (Jaccard pairs → bidirectional
    * edges → transitive reachability → min-label keepers) — shared by
    * the d08 and d14 oracles. Assumes aug/sh/hsh CTEs in scope. */
  private val dedupGroupsCtes = s"""
    |${Dedup.jaccardPairsSql("hsh", "jp")},
    |bi AS (SELECT a_id AS s, b_id AS d FROM jp
    |  UNION SELECT b_id, a_id FROM jp),
    |reach AS (SELECT s, d FROM bi
    |  UNION SELECT r.s, b.d FROM reach r JOIN bi b ON r.d = b.s WHERE b.d <> r.s),
    |lab AS (SELECT s AS doc_id, least(s, min(d)) AS keeper_id
    |  FROM reach GROUP BY s)""".stripMargin

  /** SQL bit position i of the d13 Bloom filter for key expression
    * `e` — mirrors `Dedup.bloomBitPositions` (md5-prefix hash of the
    * salted key string, mod 2²⁰). */
  private def bpos(i: Int, e: String): String =
    s"(${Dedup.hexIntSql(s"md5('bloom${i}_' || CAST($e AS VARCHAR))", 1, 15)} % 1048576)"

  val oracles: Map[String, String] = Map(
    "d15_substring_dedup" -> s"""
      |WITH $augmentedSql,
      |w AS (SELECT doc_id, ${TextOps.wordsSql("text")} AS words FROM aug),
      |wp AS (SELECT doc_id AS id, unnest(words) AS word,
      |    generate_subscripts(words, 1) - 1 AS p FROM w),
      |occ AS (SELECT doc_id AS id, i - 1 AS i,
      |    ${Dedup.hexIntSql("md5(array_to_string(words[i:i+9], ' '))", 1, 15)} AS sh
      |  FROM (SELECT doc_id, words, unnest(CASE WHEN len(words) >= 10
      |    THEN range(1, len(words) - 8) ELSE [] END) AS i FROM w)),
      |stats AS (SELECT sh, count(*) AS df_, min(id) AS keeper
      |  FROM (SELECT DISTINCT id, sh FROM occ) GROUP BY sh HAVING count(*) >= 2),
      |cov AS (SELECT DISTINCT o.id, p FROM occ o JOIN stats USING (sh),
      |    unnest(range(o.i, o.i + 10)) t(p)
      |  WHERE o.id <> stats.keeper),
      |kept AS (SELECT wp.id, wp.word, wp.p FROM wp
      |  WHERE NOT EXISTS (SELECT 1 FROM cov
      |    WHERE cov.id = wp.id AND cov.p = wp.p)),
      |reas AS (SELECT id, count(*) AS n_kept,
      |    string_agg(word, ' ' ORDER BY p) AS cleaned
      |  FROM kept GROUP BY id)
      |SELECT w.doc_id, CAST(len(w.words) AS BIGINT) AS n_words,
      |  CAST(coalesce(reas.n_kept, 0) AS BIGINT) AS n_kept,
      |  md5(coalesce(reas.cleaned, '')) AS cleaned_md5
      |FROM w LEFT JOIN reas ON reas.id = w.doc_id
      |ORDER BY w.doc_id""".stripMargin,
    "d13_bloom_decontam" -> s"""
      |WITH ${Dedup.hashedShingleRowsSql("documents", "w", "sh", "hsh")},
      |sp AS (SELECT doc_id,
      |  CASE WHEN substr(md5('42' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd'
      |    THEN 'train' ELSE 'test' END AS split FROM documents),
      |tr AS (SELECT h.id, h.sh FROM hsh h JOIN sp ON sp.doc_id = h.id
      |  WHERE sp.split = 'train'),
      |te AS (SELECT DISTINCT h.sh FROM hsh h JOIN sp ON sp.doc_id = h.id
      |  WHERE sp.split = 'test'),
      |bits AS (SELECT DISTINCT pos FROM (SELECT
      |  unnest([${bpos(0, "sh")}, ${bpos(1, "sh")}, ${bpos(2, "sh")}]) AS pos
      |  FROM te)),
      |prb AS (SELECT id, sh,
      |  unnest([${bpos(0, "sh")}, ${bpos(1, "sh")}, ${bpos(2, "sh")}]) AS pos,
      |  generate_subscripts([${bpos(0, "sh")}, ${bpos(1, "sh")}, ${bpos(2, "sh")}], 1) AS i
      |  FROM tr),
      |mem AS (SELECT id, sh FROM (SELECT p.id, p.sh, count(DISTINCT p.i) AS nh
      |  FROM prb p JOIN bits USING (pos) GROUP BY p.id, p.sh) WHERE nh = 3),
      |sizes AS (SELECT id, count(*) AS n FROM tr GROUP BY id),
      |flg AS (SELECT id, count(*) AS nf FROM mem GROUP BY id)
      |SELECT flg.id AS doc_id, CAST(nf AS BIGINT) AS n_flagged,
      |  CAST(n AS BIGINT) AS n_shingles,
      |  round(CAST(nf AS DOUBLE) / CAST(n AS DOUBLE), 6) AS flag_frac
      |FROM flg JOIN sizes ON sizes.id = flg.id ORDER BY doc_id""".stripMargin,
    "d09_decontamination" -> s"""
      |WITH ${Dedup.hashedShingleRowsSql("documents", "w", "sh", "hsh")},
      |sp AS (SELECT doc_id,
      |  CASE WHEN substr(md5('42' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd'
      |    THEN 'train' ELSE 'test' END AS split FROM documents),
      |tr AS (SELECT h.id, h.sh FROM hsh h JOIN sp ON sp.doc_id = h.id
      |  WHERE sp.split = 'train'),
      |te AS (SELECT DISTINCT h.sh FROM hsh h JOIN sp ON sp.doc_id = h.id
      |  WHERE sp.split = 'test'),
      |sizes AS (SELECT id, count(*) AS n FROM tr GROUP BY id),
      |c AS (SELECT tr.id, count(*) AS n_shared FROM tr JOIN te USING (sh)
      |  GROUP BY tr.id)
      |SELECT c.id AS doc_id, CAST(c.n_shared AS BIGINT) AS n_shared,
      |  CAST(sizes.n AS BIGINT) AS n_shingles,
      |  round(CAST(c.n_shared AS DOUBLE) / CAST(sizes.n AS DOUBLE), 6) AS contam_frac
      |FROM c JOIN sizes ON sizes.id = c.id ORDER BY doc_id""".stripMargin,
    "d08_dedup_groups" -> s"""
      |WITH RECURSIVE $augmentedSql, $augShinglesSql,
      |$dedupGroupsCtes
      |SELECT doc_id, keeper_id FROM lab ORDER BY doc_id""".stripMargin,
    "d14_group_split" -> s"""
      |WITH RECURSIVE $augmentedSql, $augShinglesSql,
      |$dedupGroupsCtes,
      |k AS (SELECT a.doc_id, coalesce(lab.keeper_id, a.doc_id) AS keeper_id
      |  FROM aug a LEFT JOIN lab ON lab.doc_id = a.doc_id)
      |SELECT doc_id, keeper_id,
      |  CASE WHEN substr(md5('42' || CAST(keeper_id AS VARCHAR)), 1, 4) < 'cccd'
      |    THEN 'train' ELSE 'test' END AS split
      |FROM k ORDER BY doc_id""".stripMargin,
    "d21_minhash_fidelity" -> s"""
      |WITH $augmentedSql, $augShinglesSql,
      |$minhashBandsSql,
      |${Dedup.minhashBandJoinSql("bands", "bands", "a_id" -> "b_id", "a.id < b.id", "cand")},
      |mm AS (SELECT c.a_id, c.b_id,
      |    sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS m
      |  FROM cand c JOIN mh x ON x.id = c.a_id
      |  JOIN mh y ON y.id = c.b_id AND y.seed = x.seed
      |  GROUP BY 1, 2),
      |${Dedup.pairJaccardSql("cand", "a_id", "b_id", "hsh", "pj")},
      |pp AS (SELECT mm.m, round(pj.jac, 9) AS jac
      |  FROM pj JOIN mm ON mm.a_id = pj.a_id AND mm.b_id = pj.b_id),
      |ag AS (SELECT m, count(*) AS n_pairs,
      |    sum(CAST(jac AS DECIMAL(28,9))) AS sj,
      |    sum(CAST(round(abs(CAST(m AS DOUBLE) / 12.0 - jac), 9)
      |      AS DECIMAL(28,9))) AS se
      |  FROM pp GROUP BY m)
      |SELECT CAST(g.m AS BIGINT) AS m,
      |  CAST(coalesce(ag.n_pairs, 0) AS BIGINT) AS n_pairs,
      |  CASE WHEN coalesce(ag.n_pairs, 0) > 0
      |    THEN round(CAST(sj AS DOUBLE) / CAST(n_pairs AS DOUBLE), 6)
      |  END AS mean_jaccard,
      |  CASE WHEN coalesce(ag.n_pairs, 0) > 0
      |    THEN round(CAST(se AS DOUBLE) / CAST(n_pairs AS DOUBLE), 6)
      |  END AS mean_abs_err
      |FROM generate_series(0, 12) g(m) LEFT JOIN ag ON ag.m = g.m
      |ORDER BY m""".stripMargin,
    "d20_pair_band_counts" -> s"""
      |WITH $augmentedSql, $augShinglesSql,
      |${Dedup.jaccardPairsSql("hsh", "jp")},
      |jb AS (SELECT CAST(floor(jaccard * 10) AS BIGINT) AS b10 FROM jp),
      |cnt AS (SELECT b10, count(*) AS n FROM jb GROUP BY b10)
      |SELECT CAST(g.b10 AS DOUBLE) / 10.0 AS band,
      |  CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_pairs
      |FROM generate_series(5, 10) g(b10) LEFT JOIN cnt ON cnt.b10 = g.b10
      |ORDER BY band""".stripMargin,
    "d07_jaccard_stopshingle" -> s"""
      |WITH $augmentedSql, $augShinglesSql,
      |rare AS (SELECT sh AS rsh FROM (SELECT sh, count(*) AS df_ FROM hsh GROUP BY sh)
      |  WHERE df_ <= 20),
      |shf AS (SELECT id, sh FROM hsh JOIN rare ON hsh.sh = rare.rsh),
      |${Dedup.jaccardPairsSql("shf", "jp")}
      |SELECT * FROM jp ORDER BY a_id, b_id""".stripMargin,
    "d18_keep_best" -> s"""
      |WITH RECURSIVE $augmentedSql, $augShinglesSql,
      |$dedupGroupsCtes,
      |${graft.text.AnalysisPack.qualityCtes("aug")},
      |m AS (SELECT lab.doc_id, lab.keeper_id AS group_id, qs.quality
      |  FROM lab JOIN qs USING (doc_id)),
      |bb AS (SELECT group_id, doc_id AS best_id FROM (
      |    SELECT group_id, doc_id,
      |      row_number() OVER (PARTITION BY group_id
      |        ORDER BY quality DESC, doc_id) AS rk FROM m)
      |  WHERE rk = 1)
      |SELECT m.doc_id, m.group_id, m.quality, bb.best_id,
      |  (m.doc_id = bb.best_id) AS keep
      |FROM m JOIN bb USING (group_id) ORDER BY m.doc_id""".stripMargin,
    "d17_line_dedup" -> s"""
      |WITH ${graft.text.AnalysisPack.plantedLinesCte},
      |x AS (SELECT doc_id, u.pos AS pos, u.line AS line,
      |    md5(trim(regexp_replace(lower(u.line), '[^a-z ]', '', 'g'))) AS h
      |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(lines)+1),
      |      i -> struct_pack(pos := i, line := lines[i]))) AS u FROM l1)),
      |r AS (SELECT doc_id, pos, line,
      |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk FROM x),
      |g AS (SELECT doc_id, count(*) AS n_kept,
      |    string_agg(line, chr(10) ORDER BY pos) AS cleaned
      |  FROM r WHERE rk = 1 GROUP BY doc_id),
      |nl AS (SELECT doc_id, len(lines) AS n_lines FROM l1)
      |SELECT nl.doc_id, CAST(nl.n_lines AS BIGINT) AS n_lines,
      |  CAST(coalesce(g.n_kept, 0) AS BIGINT) AS n_kept,
      |  coalesce(g.cleaned, '') AS cleaned
      |FROM nl LEFT JOIN g USING (doc_id) ORDER BY nl.doc_id""".stripMargin,
    "d01_exact_dedup" -> s"""
      |WITH $augmentedSql
      |SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
      |  count(*) AS n_copies
      |FROM aug GROUP BY md5(text) HAVING count(*) > 1
      |ORDER BY content_hash""".stripMargin,
    "d16_incremental_dedup" -> s"""
      |WITH $augmentedSql,
      |hist AS (SELECT text FROM aug WHERE doc_id < 100000),
      |batch AS (SELECT doc_id, text FROM aug WHERE doc_id >= 100000),
      |${Dedup.digestScreenSql("hist", "batch", "doc_id", "md5(coalesce(text, ''))", "ex")}
      |SELECT doc_id, h AS content_hash,
      |  CASE WHEN ex_status = 'exact_new' THEN 'new' ELSE ex_status END AS status
      |FROM ex ORDER BY doc_id""".stripMargin,
    "d19_incremental_minhash" -> s"""
      |WITH $augmentedSql, $augShinglesSql,
      |$minhashBandsSql,
      |bq AS (SELECT doc_id FROM aug WHERE doc_id >= 100000),
      |hq AS (SELECT doc_id FROM aug WHERE doc_id < 100000),
      |${minhashBestMatchSql("bands", "hsh", "bq", "hq", "mb")},
      |nc AS (SELECT doc_id, count(*) AS n_candidates FROM mb_cand GROUP BY 1)
      |SELECT a.doc_id,
      |  CAST(coalesce(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
      |  CAST(coalesce(b.hist_id, -1) AS BIGINT) AS best_hist_id,
      |  round(coalesce(b.jac, 0.0), 6) AS best_jaccard,
      |  CASE WHEN coalesce(b.jac, 0.0) >= ${Dedup.JaccardThreshold}
      |       THEN 'near_dup_of_history' ELSE 'new' END AS status
      |FROM bq a
      |LEFT JOIN nc ON nc.doc_id = a.doc_id
      |LEFT JOIN mb b ON b.doc_id = a.doc_id
      |ORDER BY a.doc_id""".stripMargin,
    "d02_jaccard_pairs" -> s"""
      |WITH $augmentedSql, $augShinglesSql,
      |${Dedup.jaccardPairsSql("hsh", "jp")}
      |SELECT * FROM jp ORDER BY a_id, b_id""".stripMargin,
    "d03_minhash_candidates" -> s"""
      |WITH $augmentedSql, $augShinglesSql,
      |$minhashBandsSql,
      |${Dedup.minhashBandJoinSql("bands", "bands", "a_id" -> "b_id", "a.id < b.id", "cand")}
      |SELECT * FROM cand ORDER BY a_id, b_id""".stripMargin,
    "d04_simhash_values" -> s"""
      |WITH $augmentedSql,
      |${Dedup.simhashSql("aug", 16, "sh16")}
      |SELECT id, simhash FROM sh16 ORDER BY id""".stripMargin,
    "d05_simhash_pairs" -> s"""
      |WITH $augmentedSql,
      |${Dedup.simhashSql("aug", 16, "sh16")},
      |${Dedup.hammingJoinSql("sh16", "sh16", "id", "simhash", "a_id" -> "b_id", 2,
          "a.id < b.id", "hp")}
      |SELECT * FROM hp ORDER BY a_id, b_id""".stripMargin,
    "d11_shared_spans" -> s"""
      |WITH $augmentedSql,
      |w AS (SELECT doc_id, ${TextOps.wordsSql("text")} AS words FROM aug),
      |sh10 AS (SELECT DISTINCT doc_id AS id, s AS sh
      |  FROM (SELECT doc_id, unnest(CASE WHEN len(words) >= 10
      |    THEN list_transform(range(1, len(words) - 8),
      |         i -> array_to_string(words[i:i+9], ' '))
      |    ELSE [] END) AS s FROM w)),
      |hsh10 AS (SELECT DISTINCT id, ${Dedup.hexIntSql("md5(sh)", 1, 15)} AS sh FROM sh10),
      |dupsh AS (SELECT sh FROM (SELECT sh, count(*) AS df_ FROM hsh10 GROUP BY sh)
      |  WHERE df_ >= 2),
      |shr AS (SELECT id, count(*) AS n_shared FROM hsh10
      |  JOIN dupsh ON hsh10.sh = dupsh.sh GROUP BY id),
      |sz AS (SELECT id, count(*) AS n_spans FROM hsh10 GROUP BY id)
      |SELECT a.doc_id,
      |  CAST(coalesce(sz.n_spans, 0) AS BIGINT) AS n_spans,
      |  CAST(coalesce(shr.n_shared, 0) AS BIGINT) AS n_shared,
      |  round(CASE WHEN coalesce(sz.n_spans, 0) > 0
      |    THEN CAST(coalesce(shr.n_shared, 0) AS DOUBLE) / CAST(sz.n_spans AS DOUBLE)
      |    ELSE 0.0 END, 6) AS shared_frac
      |FROM aug a
      |LEFT JOIN sz ON sz.id = a.doc_id
      |LEFT JOIN shr ON shr.id = a.doc_id
      |ORDER BY a.doc_id""".stripMargin,
    "d10_simhash_wide" -> s"""
      |WITH $augmentedSql,
      |${Dedup.simhashSql("aug", 60, "sh60")},
      |${Dedup.hammingJoinSql("sh60", "sh60", "id", "simhash", "a_id" -> "b_id", 3,
          "a.id < b.id", "hp")}
      |SELECT * FROM hp ORDER BY a_id, b_id""".stripMargin,
    "d22_simhash_reps" -> s"""
      |WITH $augmentedSql,
      |rp AS (SELECT min(doc_id) AS doc_id FROM aug
      |  GROUP BY md5(coalesce(text, ''))),
      |ra AS (SELECT a.doc_id, a.text FROM aug a
      |  JOIN rp ON rp.doc_id = a.doc_id),
      |${Dedup.simhashSql("ra", 60, "sh60")},
      |${Dedup.hammingJoinSql("sh60", "sh60", "id", "simhash", "a_id" -> "b_id", 3,
          "a.id < b.id", "hp")}
      |SELECT * FROM hp ORDER BY a_id, b_id""".stripMargin,
    "d12_semdedup" -> s"""
      |WITH ${augmentedVectorsSql("e")},
      |${graft.vector.KnnJoin.ivfIndexSql("e", Some(graft.vector.KnnJoin.PinnedLists),
          "cents", "asg")},
      |cs AS (SELECT a.vec_id, a.cid, ${VectorOps.cosineSql("e.v", "c.cv")} AS csim
      |  FROM asg a JOIN e ON e.vec_id = a.vec_id JOIN cents c ON c.cid = a.cid),
      |prs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.csim AS ca, b.csim AS cb
      |  FROM cs a JOIN cs b ON a.cid = b.cid AND a.vec_id < b.vec_id
      |  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
      |  WHERE ${VectorOps.cosineSql("ea.v", "eb.v")} >= 0.98),
      |rem AS (SELECT DISTINCT CASE WHEN ca > cb OR (ca = cb AND a_id > b_id)
      |    THEN a_id ELSE b_id END AS vec_id FROM prs)
      |SELECT cs.vec_id, cs.cid AS centroid_id, round(cs.csim, 6) AS sim_centroid,
      |  CAST(CASE WHEN rem.vec_id IS NOT NULL THEN 0 ELSE 1 END AS BIGINT) AS kept
      |FROM cs LEFT JOIN rem ON rem.vec_id = cs.vec_id
      |ORDER BY cs.vec_id""".stripMargin,
    "d06_embedding_near_dups" -> s"""
      |WITH ${augmentedVectorsSql("e")}
      |SELECT a.vec_id AS a_id, b.vec_id AS b_id, round(${VectorOps.cosineSql("a.v", "b.v")}, 6) AS cos
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE ${VectorOps.cosineSql("a.v", "b.v")} >= 0.98
      |ORDER BY a_id, b_id""".stripMargin)
}
