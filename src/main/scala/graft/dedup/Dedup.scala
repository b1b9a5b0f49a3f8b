package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextOps

/** Deduplication operators for LLM training-data pipelines — exact,
  * MinHash-LSH, SimHash, and n-gram Jaccard (SURVEY.md §7.4 note 5).
  *
  * Design for 100 TB:
  *  - exact dedup is a single hash-groupBy on a content digest (never
  *    on the raw text — the digest keeps shuffle rows small);
  *  - near-dup candidate generation is an inverted-index join (pairs
  *    must SHARE a band/shingle to meet), never an all-pairs scan;
  *  - signatures are fixed-width ints/strings so the candidate join
  *    shuffles O(docs·bands) small rows.
  *
  * All hashing is md5-derived so the DuckDB oracle can evaluate the
  * identical expressions.
  */
object Dedup {

  /** 16-bit value from the first 4 hex chars of md5 — Spark side uses
    * conv(); the oracle decodes nibbles with strpos arithmetic. Same
    * function, engine-native primitives. */
  def hash16(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 4), 16, 10).cast("long")

  /** The DuckDB twin of every hex-prefix integer ([[hash16]],
    * [[hash32]], [[hash60]], [[graft.multimodal.Multimodal.byteAt]]): the `nChars` hex
    * characters of the SQL expression `hex` from 1-based `start`, as a
    * BIGINT nibble sum. */
  private[graft] def hexIntSql(hex: String, start: Int, nChars: Int): String =
    (0 until nChars).map { i =>
      val mult = java.math.BigInteger.valueOf(16).pow(nChars - 1 - i)
      s"CAST(strpos('0123456789abcdef', substr($hex, ${start + i}, 1)) - 1 AS BIGINT) * $mult"
    }.mkString("(", " + ", ")")

  /** Exact duplicate classes: one row per distinct `digest` (named as
    * the caller names it), its keeper `keeper_id` — the least `id`, any
    * orderable type, struct ids field by field — and its size
    * `n_copies`. THE representative election of the exact tier.
    * Collapse-first consumers (d08, d17, d20–d22, mm06–mm08, s07, p02)
    * rest on one argument: identical content ⇒ identical shingles,
    * signatures and fingerprints (each is per-row), so a similarity
    * stage over the keepers finds every cross-class member pair as its
    * keepers' pair with the same similarity, intra-class pairs of
    * content with shingles are exact matches countable from
    * `n_copies`, and a merged group's
    * min-id keeper is the min over its classes' keepers. No cache, no
    * cut: the caller owns those. */
  def exactGroups(rows: DataFrame, id: Column, digest: Column): DataFrame =
    rows.groupBy(digest)
      .agg(min(id).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** The exact screen of an arriving batch against history: `batch`'s
    * rows plus `ex_status` — 'dup_of_history' when the row's digest `h`
    * is among `histDigests`' `h`, else 'dup_in_batch' when `id` is not
    * its class's [[exactGroups]] keeper, else 'exact_new'. The digest
    * must be non-null ([[contentDigest]] never is): the keeper join is
    * inner. No cache, no cut. */
  def digestScreen(batch: DataFrame, id: Column,
                   histDigests: DataFrame): DataFrame = {
    val inHist = histDigests.select(col("h")).distinct()
      .withColumn("in_hist", lit(true))
    val keepers = exactGroups(batch, id, col("h"))
      .select(col("h"), col("keeper_id"))
    val status = when(coalesce(col("in_hist"), lit(false)), "dup_of_history")
      .when(id =!= col("keeper_id"), "dup_in_batch")
      .otherwise("exact_new").as("ex_status")
    batch.join(inHist, Seq("h"), "left")
      .join(keepers, Seq("h"))
      .select(batch.columns.toSeq.map(col) :+ status: _*)
  }

  /** The DuckDB twin of [[digestScreen]]: the rows of relation `batch`
    * plus their digest `h` (the SQL expression `digest`, evaluated on
    * `batch` and on `hist` alike) and `ex_status`, as relation `out`.
    * Defines `<out>_hd`, `<out>_b` and `<out>_k` on the way. */
  private[graft] def digestScreenSql(hist: String, batch: String, id: String,
                                     digest: String, out: String): String = s"""
    |${out}_hd AS (SELECT DISTINCT $digest AS h FROM $hist),
    |${out}_b AS (SELECT *, $digest AS h FROM $batch),
    |${out}_k AS (SELECT h, min($id) AS keeper_id FROM ${out}_b GROUP BY h),
    |$out AS (SELECT b.*,
    |    CASE WHEN hd.h IS NOT NULL THEN 'dup_of_history'
    |         WHEN b.$id <> k.keeper_id THEN 'dup_in_batch'
    |         ELSE 'exact_new' END AS ex_status
    |  FROM ${out}_b b JOIN ${out}_k k ON k.h = b.h
    |  LEFT JOIN ${out}_hd hd ON hd.h = b.h)""".stripMargin

  /** Word k-gram shingles of a text column (distinct set per doc
    * comes from the caller's explode+distinct) — the native
    * single-pass expression ([[graft.plans.WordShingles]]). */
  def shingles(text: Column, k: Int): Column =
    graft.plans.WordShingles.shinglesNative(text, k)

  /** Higher-order-function twin of [[shingles]], kept as the
    * declarative cross-check (spec-asserted equal); three nested
    * lambda evaluations per shingle made it the dedup family's
    * dominant cost. */
  private[graft] def shinglesDeclarative(text: Column, k: Int): Column = {
    val ws = TextOps.words(text)
    when(size(ws) >= k,
      transform(sequence(lit(1), size(ws) - (k - 1)),
        i => concat_ws(" ", slice(ws, i, lit(k)))))
      .otherwise(array().cast("array<string>"))
  }

  /** 60-bit md5-prefix hash — the join-key representation for shingle
    * matching. String shingle keys (~25 B + string hash/compare per
    * probe) made the inverted-index join the d02 bench's dominant
    * stage; fixed-width longs cut it ~4×. The oracle decodes the same
    * 15 md5 nibbles, so any collision (≈ n²/2⁶¹ — irrelevant below
    * trillions of distinct shingles) is mirrored exactly. */
  def hash60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** The near-duplicate Jaccard cut every pair miner, d19's verdict
    * and the text ingest gate apply. */
  private[graft] val JaccardThreshold = 0.5

  /** |A∩B| / (|A| + |B| − |A∩B|) — THE Jaccard quotient of both pair
    * paths; a null intersection (no shared shingle) reads 0. */
  private def jaccardOf(inter: Column, na: Column, nb: Column): Column = {
    val i = coalesce(inter, lit(0L))
    i.cast("double") / (na + nb - i).cast("double")
  }

  /** The DuckDB twin of [[jaccardOf]], sizes aliased `sa`/`sb` (`n`). */
  private def jaccardSql(inter: String): String =
    s"CAST($inter AS DOUBLE) / CAST(sa.n + sb.n - $inter AS DOUBLE)"

  /** Distinct (id, 60-bit-hashed shingle) rows — the inverted-index
    * relation. Materialize ONCE and share when several consumers need
    * the same shingle universe (near-dup pairs + decontamination in
    * the corpus-prep funnel): at corpus scale the shingle extraction
    * is a full pass over every byte of text, so it is the thing you
    * least want to run twice. */
  def hashedShingleRows(df: DataFrame, id: Column, text: Column,
                        k: Int = 3): DataFrame =
    df.select(id.as("id"), explode(shingles(text, k)).as("sh"))
      .select(col("id"), hash60(col("sh")).as("sh"))
      .distinct()

  /** The DuckDB twin of [[hashedShingleRows]] at k = 3 over relation
    * `tbl` (doc_id, text): the words relation `w`, the distinct
    * (id, shingle) relation `sh` and its 60-bit hashed form `hsh`. The
    * rendering is p02's byte-frozen text. */
  private[graft] def hashedShingleRowsSql(tbl: String, w: String, sh: String,
                                          hsh: String): String = s"""
    |$w AS (SELECT doc_id, ${TextOps.wordsSql("text")} AS words FROM $tbl),
    |$sh AS (SELECT DISTINCT doc_id AS id, s AS sh
    |  FROM (SELECT doc_id, unnest(CASE WHEN len(words) >= 3
    |    THEN list_transform(range(1, len(words) - 1),
    |         i -> array_to_string(words[i:i+2], ' '))
    |    ELSE [] END) AS s FROM $w)),
    |$hsh AS (SELECT DISTINCT id, ${hexIntSql("md5(sh)", 1, 15)} AS sh FROM $sh)""".stripMargin

  /** n-gram Jaccard near-duplicate pairs ≥ threshold over a
    * [[hashedShingleRows]] relation. Candidates are generated by the
    * shared-shingle join (docs with zero common shingles never pair),
    * intersections counted per pair, Jaccard from |A|+|B|−|A∩B|. */
  def jaccardPairsFromHashed(hashed: DataFrame,
                             maxShingleDocFreq: Int = Int.MaxValue): DataFrame = {
    val (sizes, inter) =
      if (maxShingleDocFreq == Int.MaxValue) {
        // lineage-CUT (compact (id, 60-bit-hash) rows): the relation
        // is referenced three times below, and under .cache() each
        // reference re-canonicalizes the whole shingle-extraction
        // tree per action (r14 s12 finding, applied family-wide this
        // round with qreps A/B evidence per query)
        val rows = graft.core.Caches.cut(hashed)
        val sizes = rows.groupBy(col("id")).agg(count(lit(1)).as("n"))
        val a = rows.select(col("id").as("a_id"), col("sh"))
        val b = rows.select(col("id").as("b_id"), col("sh"))
        val inter = a.join(b, Seq("sh"))
          .filter(col("a_id") < col("b_id"))
          .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("inter"))
        (sizes, inter)
      } else {
        // stop-shingle mitigation (the standard skew guard at corpus
        // scale): shingles in more than `maxShingleDocFreq` docs carry
        // no dedup signal but quadratic cost — the cap bounds posting
        // lists, so pairs come straight off each sorted list (two
        // explodes, a_id < b_id by construction, at most C(cap,2)
        // rows per shingle) with NO self-join at all. Set sizes and
        // Jaccard are over the FILTERED universe (what the d07 oracle
        // mirrors; size over `hashed` if exact-set Jaccard is wanted).
        val lists = graft.core.Caches.cut(hashed.groupBy(col("sh"))
          .agg(sort_array(collect_list(col("id"))).as("ids"))
          .filter(size(col("ids")) <= maxShingleDocFreq))
        val sizes = lists.select(explode(col("ids")).as("id"))
          .groupBy(col("id")).agg(count(lit(1)).as("n"))
        val inter = lists.filter(size(col("ids")) > 1)
          .select(posexplode(col("ids")).as(Seq("i", "a_id")), col("ids"))
          .select(col("a_id"), explode(slice(col("ids"), col("i") + 2,
            size(col("ids")))).as("b_id"))
          .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("inter"))
        (sizes, inter)
      }
    inter
      .join(sizes.select(col("id").as("a_id"), col("n").as("na")), Seq("a_id"))
      .join(sizes.select(col("id").as("b_id"), col("n").as("nb")), Seq("b_id"))
      .withColumn("jaccard", jaccardOf(col("inter"), col("na"), col("nb")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("a_id"), col("b_id"), col("inter"), col("na"), col("nb"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** The all-pairs DuckDB twin of [[jaccardPairsFromHashed]] over the
    * (id, sh) relation `hsh` (a stop-shingle cap is the caller's filter
    * of it), as relation `out` with the same columns. Defines
    * `<out>_sizes` and `<out>_prs` on the way. */
  private[graft] def jaccardPairsSql(hsh: String, out: String): String = s"""
    |${out}_sizes AS (SELECT id, count(*) AS n FROM $hsh GROUP BY id),
    |${out}_prs AS (SELECT a.id AS a_id, b.id AS b_id, count(*) AS inter
    |  FROM $hsh a JOIN $hsh b USING (sh) WHERE a.id < b.id GROUP BY 1, 2),
    |$out AS (SELECT p.a_id, p.b_id, p.inter, sa.n AS na, sb.n AS nb,
    |    round(${jaccardSql("p.inter")}, 6) AS jaccard
    |  FROM ${out}_prs p JOIN ${out}_sizes sa ON sa.id = p.a_id
    |  JOIN ${out}_sizes sb ON sb.id = p.b_id
    |  WHERE ${jaccardSql("p.inter")} >= $JaccardThreshold)""".stripMargin

  /** The exact shingle-set Jaccard `jac` of each pair of `cand` (two
    * id columns, named as the caller names them), a's shingles in
    * `aShingles` (id, sh), b's in `bShingles`: the one verify of the
    * MinHash screens (d19, s09, the stream gate) and of d21. A pair
    * with no shared shingle reads 0. a's sizes are counted for cand's
    * a ids only (`aShingles` may be a whole batch); `bShingles` is
    * counted as passed, so narrow it to the candidates when it is large
    * (the gate's history cut). No cache, no cut. */
  def pairJaccard(cand: DataFrame, aShingles: DataFrame,
                  bShingles: DataFrame): DataFrame = {
    val Array(a, b) = cand.columns
    def side(sh: DataFrame, k: String) = sh.select(col("id").as(k), col("sh"))
    val inter = cand
      .join(side(aShingles, a), Seq(a))
      .join(side(bShingles, b), Seq(b, "sh"))
      .groupBy(col(a), col(b)).agg(count(lit(1)).as("inter"))
    val na = side(aShingles, a)
      .join(cand.select(col(a)).distinct(), Seq(a), "left_semi")
      .groupBy(col(a)).agg(count(lit(1)).as("na"))
    val nb = bShingles.groupBy(col("id").as(b)).agg(count(lit(1)).as("nb"))
    cand
      .join(inter, Seq(a, b), "left")
      .join(na, Seq(a))
      .join(nb, Seq(b))
      .select(col(a), col(b), jaccardOf(col("inter"), col("na"), col("nb")).as("jac"))
  }

  /** The DuckDB twin of [[pairJaccard]]: `cand`'s pairs (`a`, `b`), both
    * sides' shingles in `hsh`, as relation `out` (a, b, jac). Defines
    * `<out>_sizes` and `<out>_iv` on the way. */
  private[graft] def pairJaccardSql(cand: String, a: String, b: String,
                                    hsh: String, out: String): String = s"""
    |${out}_sizes AS (SELECT id, count(*) AS n FROM $hsh GROUP BY id),
    |${out}_iv AS (SELECT c.$a, c.$b, count(*) AS inter
    |  FROM $cand c JOIN $hsh x ON x.id = c.$a
    |  JOIN $hsh y ON y.id = c.$b AND y.sh = x.sh
    |  GROUP BY 1, 2),
    |$out AS (SELECT c.$a, c.$b, ${jaccardSql("coalesce(iv.inter, 0)")} AS jac
    |  FROM $cand c
    |  LEFT JOIN ${out}_iv iv ON iv.$a = c.$a AND iv.$b = c.$b
    |  JOIN ${out}_sizes sa ON sa.id = c.$a
    |  JOIN ${out}_sizes sb ON sb.id = c.$b)""".stripMargin

  /** The best history match per arriving `id`: the first row of each
    * id's `pairs` under `order` (score, then hist_id for ties) — max
    * Jaccard in the MinHash screen, min Hamming in the media gate. */
  def bestMatch(pairs: DataFrame, id: Column, order: Column*): DataFrame =
    pairs.withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(id)
          .orderBy(order: _*)))
      .filter(col("_rn") === 1)
      .drop("_rn")

  /** The DuckDB twin of [[bestMatch]], as relation `out`. */
  private[graft] def bestMatchSql(pairs: String, id: String, order: String,
                                  out: String): String = s"""
    |$out AS (SELECT * EXCLUDE (_rn) FROM (SELECT *,
    |    row_number() OVER (PARTITION BY $id ORDER BY $order) AS _rn
    |  FROM $pairs) WHERE _rn = 1)""".stripMargin

  /** THE decision rule of the text and media ingest gates, over the
    * [[digestScreen]] verdicts `screened` (`id`, ex_status) of the
    * arriving rows `batch` (`id`, h) and their best history matches
    * `best` (`id`, hist_id, …): `status` is the
    * exact verdict unless 'exact_new', else 'near_dup_of_history' where
    * `near` holds, else 'new'; a digest-new arrival carries its match's
    * hist_id and score `score._2` (−1 and `default` without a match),
    * every other arrival −1 and `default`. Returns (decisions, the
    * admitted ids, the admitted digests h — read from `batch`, whose
    * partitioning the state append keeps), unordered. No cache, no
    * cut. */
  def gateDecisions(batch: DataFrame, screened: DataFrame, id: String,
                    best: DataFrame, near: Column, score: (String, Column),
                    default: Column): (DataFrame, DataFrame, DataFrame) = {
    val fresh = col("ex_status") === "exact_new"
    val decisions = screened.select(col(id), col("ex_status"))
      .join(best, Seq(id), "left")
      .select(col(id),
        when(!fresh, col("ex_status"))
          .when(near, "near_dup_of_history").otherwise("new").as("status"),
        when(fresh, coalesce(col("hist_id"), lit(-1L))).otherwise(lit(-1L))
          .as("best_hist_id"),
        when(fresh, coalesce(score._2, default)).otherwise(default)
          .as(score._1))
    val admitted = decisions.filter(col("status") === "new").select(col(id))
    (decisions, admitted, batch.join(admitted, Seq(id)).select(col("h")))
  }

  /** The DuckDB twin of [[gateDecisions]]' decisions over
    * [[digestScreenSql]]'s `ex` and the best matches `best`, aliased `b`
    * in `near` and `score._2`, as relation `out`. */
  private[graft] def gateDecisionsSql(ex: String, best: String, id: String,
                                      near: String, score: (String, String),
                                      default: String, out: String): String = s"""
    |$out AS (SELECT e.$id,
    |  CASE WHEN e.ex_status <> 'exact_new' THEN e.ex_status
    |       WHEN $near THEN 'near_dup_of_history'
    |       ELSE 'new' END AS status,
    |  CAST(CASE WHEN e.ex_status <> 'exact_new' THEN -1
    |       ELSE coalesce(b.hist_id, -1) END AS BIGINT) AS best_hist_id,
    |  CASE WHEN e.ex_status <> 'exact_new' THEN $default
    |       ELSE coalesce(${score._2}, $default) END AS ${score._1}
    |FROM $ex e LEFT JOIN $best b ON b.$id = e.$id)""".stripMargin

  /** 32-bit base hash of a shingle (md5 prefix — hashed ONCE). */
  def hash32(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long")

  /** Universal-hash minhash family over the base hash:
    * h_i(x) = (a_i·x + b_i) mod p with p prime > 2³², a_i < 2³⁰ (so
    * a·x < 2⁶² never overflows a long). One md5 per shingle instead
    * of `numHashes` — the md5-per-seed variant was the round-1 bench's
    * second-hottest query. */
  val MinhashP = 4294967311L
  def minhashA(seed: Int): Long = 1000003L + 222222L * seed
  def minhashB(seed: Int): Long = 777767L * seed + 12345L

  /** MinHash signature rows: one row per (id, seed) with the family
    * min over the doc's shingle base hashes.
    *
    * The `numHashes` mins are computed as parallel aggregate columns
    * in ONE groupBy — partial-aggregatable map-side, so the shuffle
    * carries `docs` rows of 12 longs instead of the 12× exploded
    * (id, seed, h) fan-out (which tripled d03's bench time) — then
    * unpivoted with `posexplode` to keep the downstream banding shape. */
  def minhashRows(shingleRows: DataFrame, numHashes: Int): DataFrame = {
    val base = shingleRows.select(col("id"), hash32(col("sh")).as("base"))
    val mins = (0 until numHashes).map { s =>
      min(pmod(lit(minhashA(s)) * col("base") + lit(minhashB(s)),
        lit(MinhashP))).as(s"mh$s")
    }
    base.groupBy(col("id")).agg(mins.head, mins.tail: _*)
      .select(col("id"), posexplode(
        array((0 until numHashes).map(s => col(s"mh$s")): _*))
        .as(Seq("seed", "mh")))
  }

  /** THE MinHash-LSH band join: the distinct pairs of band-signature
    * relations `a` × `b` (each (id, band, bandsig)) that share at least
    * one full band signature and that `pairPredicate` (over the output
    * ids) admits, as (`ids._1`, `ids._2`). The corpus self-join (d03,
    * d21) passes one relation as both sides with `a_id < b_id`; the
    * history probe ([[DedupPack.minhashBestMatch]]: d19, s09, the text
    * stream gate) passes the batch's and history's signatures with
    * `lit(true)`. Candidates only — callers verify with [[pairJaccard]]
    * when exact Jaccard matters. No cache, no cut. */
  def minhashBandJoin(a: DataFrame, b: DataFrame, ids: (String, String),
                      pairPredicate: Column): DataFrame = {
    val (aId, bId) = ids
    a.select(col("id").as(aId), col("band"), col("bandsig"))
      .join(b.select(col("id").as(bId), col("band"), col("bandsig")),
        Seq("band", "bandsig"))
      .filter(pairPredicate)
      .select(col(aId), col(bId)).distinct()
  }

  /** The DuckDB twin of [[minhashBandJoin]] over band-signature
    * relations `a` and `b` (id, band, bandsig), `pred` over their
    * aliases `a` and `b`, as relation `out`. */
  private[graft] def minhashBandJoinSql(a: String, b: String, ids: (String, String),
                                        pred: String, out: String): String = s"""
    |$out AS (SELECT DISTINCT a.id AS ${ids._1}, b.id AS ${ids._2}
    |  FROM $a a JOIN $b b ON a.band = b.band AND a.bandsig = b.bandsig
    |  WHERE $pred)""".stripMargin

  /** (id, hv16, hv60) — one row per distinct word per document, both
    * simhash hash widths ([[hash16]], [[hash60]]) riding one text pass.
    * Compact proxy rows (ids and hashes, never words); hash collisions
    * keep their row multiplicity exactly as the word explode does, so
    * [[simhashOf]] over any id subset equals the pass over that
    * subset's text. */
  def wordHashes(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("id"),
        explode(array_distinct(TextOps.words(text))).as("w"))
      .select(col("id"), hash16(col("w")).as("hv16"),
        hash60(col("w")).as("hv60"))

  /** SimHash per document over an (id, hv) word-hash relation of
    * `bits`-bit hashes: per bit, sum ±1 weights from each word-hash
    * bit; positive sums set the bit. The `bits` bit-sums are parallel
    * aggregate columns in ONE groupBy (map-side partials, like the
    * minhash family mins); shifts/masks only, no floating point.
    *
    * 16 bits (d04/d05) is the small-corpus diagnostic width; 60 bits
    * (d10/d22) is the production width (Manku, Jain & Das Sarma,
    * WWW'07 use 64-bit simhash with Hamming ≤ 3; 60 here because the
    * hashing tier is md5-prefix-derived, so the DuckDB oracle
    * evaluates identical integer arithmetic). Width matters at corpus
    * scale: with B bands the banded join's background collision rate
    * per band is 2^-(bits/B), so 60/4 = 15 bits per band (vs 16/3 ≈ 5)
    * cuts random-collision candidates by ~2^10. */
  def simhashOf(words: DataFrame, bits: Int): DataFrame = {
    require(bits > 0 && bits <= 60, "simhash packs into hash60 bits")
    val bitSums = (0 until bits).map { b =>
      sum(shiftright(col("hv"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"s$b")
    }
    val simhashExpr = (0 until bits)
      .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    words.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"), simhashExpr.as("simhash"))
  }

  /** The DuckDB twin of [[wordHashes]] then [[simhashOf]] at `bits`
    * (16 or 60: the [[hash16]] or [[hash60]] word hash) over relation
    * `tbl` (doc_id, text), as relation `out` (id, simhash). Defines
    * `<out>_w`, `<out>_dw`, `<out>_hb` and `<out>_bs` on the way. */
  private[graft] def simhashSql(tbl: String, bits: Int, out: String): String = {
    require(bits == 16 || bits == 60, "simhash hashes words with hash16 or hash60")
    s"""
    |${out}_w AS (SELECT doc_id, ${TextOps.wordsSql("text")} AS words FROM $tbl),
    |${out}_dw AS (SELECT DISTINCT doc_id AS id, u AS word
    |  FROM (SELECT doc_id, unnest(words) AS u FROM ${out}_w)),
    |${out}_hb AS (SELECT id, ${hexIntSql("md5(word)", 1, bits / 4)} AS hv FROM ${out}_dw),
    |${out}_bs AS (SELECT id, bit, sum(((hv >> bit) & 1) * 2 - 1) AS s
    |  FROM ${out}_hb, unnest(range(0, $bits)) t(bit) GROUP BY id, bit),
    |$out AS (SELECT id, CAST(sum(CASE WHEN s > 0
    |    THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
    |  FROM ${out}_bs GROUP BY id)""".stripMargin
  }

  /** Deterministic Bloom-filter membership, relationally executed —
    * the BOUNDED-MEMORY decontamination path. The exact-join check
    * (d09) carries the full distinct test-shingle set through the
    * join; at 100 TB that set grows with the held-out corpus. A Bloom
    * filter is fixed at `mBits` regardless of test size: the bits
    * relation below is AT MOST mBits rows (⌈2²⁰/8⌉ = 128 KiB as a
    * bitmap — always broadcastable), so the membership join's build
    * side is CONSTANT in corpus scale, and the price is the standard
    * false-positive rate (1−e^(−kn/m))^k, measurable here and
    * mirrored EXACTLY by the oracle because the k bit positions are
    * md5-derived (no engine-private hashing). False negatives are
    * impossible — every truly-shared shingle probes only set bits —
    * so the flagged set is a superset of the exact join's
    * (spec-asserted). */
  def bloomBitPositions(sh: Column, k: Int, mBits: Int): Seq[Column] =
    (0 until k).map(i =>
      pmod(hash60(concat(lit(s"bloom${i}_"), sh.cast("string"))),
        lit(mBits.toLong)))

  /** The set-bits relation of a Bloom filter over `keys` (one `key`
    * column): distinct positions across the k hash functions. */
  def bloomBits(keys: DataFrame, k: Int, mBits: Int): DataFrame =
    keys.select(explode(array(
        bloomBitPositions(col(keys.columns.head), k, mBits): _*)).as("pos"))
      .distinct()

  /** Rows of `probes` (id, key) whose key tests POSITIVE against the
    * filter bits: all k positions set. `countDistinct(i)` = k ⇔ every
    * probe position matched (duplicate positions across hash
    * functions still require each i to hit). */
  def bloomMembers(probes: DataFrame, bits: DataFrame,
                   k: Int, mBits: Int): DataFrame =
    probes
      .select(col("id"), col("key"),
        posexplode(array(bloomBitPositions(col("key"), k, mBits): _*))
          .as(Seq("i", "pos")))
      .join(bits, Seq("pos"))
      .groupBy(col("id"), col("key"))
      .agg(count_distinct(col("i")).as("nhit"))
      .filter(col("nhit") === k)
      .select(col("id"), col("key"))

  /** Span length, in words, of [[substringDedup]]'s shingles. */
  private val SubstringK = 10

  /** Exact substring dedup — the REMOVAL transform behind Lee et al.
    * 2022 ("Deduplicating Training Data Makes Language Models
    * Better"): repeated long spans are cut from every document except
    * the span's keeper, so each duplicated passage survives exactly
    * once in the corpus. Span unit is the word `k`-gram (the paper
    * uses 50-token character spans; the engine's shingle tier is the
    * word-gram equivalent d11 audits): a shingle occurring in ≥ 2
    * docs keeps its copy in the MIN doc_id holding it, and every
    * position the shingle covers in any other doc is dropped; the
    * cleaned text is the surviving words in original order.
    *
    * Distributed shape — inverted-index, no pair enumeration:
    * occurrence rows (doc, offset, hash) from one shingle pass;
    * doc-frequency + keeper from one groupBy over DISTINCT (doc,
    * hash); covered positions from a bounded explode (k rows per
    * shared occurrence); reassembly is a sorted-struct fold per doc
    * (the flattenPages shape). At corpus scale the stop-shingle cap
    * applies to the df relation exactly as in d07. Deterministic and
    * fully SQL-replayable. */
  def substringDedup(df: DataFrame, id: Column, text: Column): DataFrame = {
    val k = SubstringK
    // tokenization is the full text pass — cache it, two consumers
    // below (positions and the final n_words join)
    val words = graft.core.Caches.transient(
      df.select(id.as("id"), graft.text.TextOps.words(text).as("ws")))
    val wpos = words.select(col("id"), posexplode(col("ws")).as(Seq("p", "w")))
    // occurrence rows carry the IN-DOC OFFSET (posexplode of the
    // shingle array), unlike the distinct set d02/d11 use.
    // occ is compact (id, offset, 60-bit hash) → lineage-cut; words
    // carries the tokenized TEXT and stays a plain transient cache
    // (never checkpoint content — the §5 discipline)
    val occ = graft.core.Caches.cut(
      df.select(id.as("id"), posexplode(shingles(text, k)).as(Seq("i", "s")))
        .select(col("id"), col("i"), hash60(col("s")).as("sh")))
    val byDoc = occ.select(col("id"), col("sh")).distinct()
    val stats = byDoc.groupBy(col("sh"))
      .agg(count(lit(1)).as("df_"), min(col("id")).as("keeper"))
      .filter(col("df_") >= 2)
    // covered: positions i..i+k−1 of every shared-shingle occurrence
    // in a NON-keeper doc (the keeper retains its copy)
    val covered = occ.join(stats, Seq("sh"))
      .filter(col("id") =!= col("keeper"))
      .select(col("id"), explode(sequence(col("i"), col("i") + (k - 1))).as("p"))
      .distinct()
    val kept = wpos.join(covered, Seq("id", "p"), "left_anti")
    val reassembled = kept.groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("p"), col("w")))),
          x => x.getField("w"))).as("cleaned"))
    words.select(col("id"), size(col("ws")).cast("long").as("n_words"))
      .join(reassembled, Seq("id"), "left")
      .select(col("id"), col("n_words"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        md5(coalesce(col("cleaned"), lit(""))).as("cleaned_md5"))
  }

  /** Transitive dedup-group resolution: near-dup PAIRS become
    * actionable groups — each doc labeled with the min id of its
    * connected component (the keeper; everything else in the group is
    * droppable). Per round every node takes the least of (its label,
    * its neighbors' labels, ITS LABEL'S label) — the last term is
    * pointer jumping, which halves label-chain depth each round, so
    * convergence is O(log diameter) instead of O(diameter): a 64-node
    * chain resolves in ~7 rounds, not 63 (spec-measured). That is
    * what keeps the round count — each round is one bounded shuffle —
    * flat at corpus scale, where billion-edge near-dup graphs still
    * have shallow-after-jumping label forests. Only docs that appear
    * in some pair are returned (singletons are their own keepers
    * trivially). Deterministic; mirrored by a recursive oracle CTE.
    *
    * SMALL-GRAPH DISPATCH: below [[CollectMaxEdges]] pairs the
    * component resolution runs as driver union-find over one bounded
    * collect — identical min-label output, ONE job instead of ~3 jobs
    * × O(log diameter) rounds. The distributed loop is pure overhead
    * at that size (measured: the sf0.1 groups artifact swung
    * 2.5–14.9 s run-to-run on an idle box, scheduler + checkpoint
    * noise on ~21 sequential near-empty-task jobs, while the same
    * resolution is milliseconds in memory); past the threshold the
    * pointer-jumping loop IS the scale path and dispatch never
    * collects. The threshold is an edge COUNT measured via
    * `limit(max+1)` — one materialization either way, never a
    * full-count job on an above-threshold graph. */
  def dedupGroups(pairs: DataFrame): DataFrame =
    dedupGroupsWithRounds(pairs)._1

  /** Round bound of the distributed pointer-jumping loop: it reaches
    * its fixpoint in O(log diameter) rounds, far below this. */
  private val MaxIters = 50

  /** Max pair-edges resolved driver-side: 4M edges × 16 bytes = 64 MB
    * — the repo's bounded-collect budget (broadcast-index discipline,
    * `KnnJoin.search`). A banded near-dup pass over even a billion-doc
    * corpus rarely emits more true pairs than this; when it does, the
    * distributed loop takes over with no API change. */
  private[graft] val CollectMaxEdges = 4000000

  private[graft] def dedupGroupsWithRounds(pairs: DataFrame): (DataFrame, Int) = {
    val collectMax = CollectMaxEdges
    val spark = pairs.sparkSession
    val sample = pairs
      .select(col("a_id").cast("long"), col("b_id").cast("long"))
      .limit(collectMax + 1).collect()
    if (sample.length <= collectMax) {
      // union-find with min-id roots: find(x) follows parents to the
      // component's least id (parents only ever point downward, so
      // the root IS the min seen so far); union parents the larger
      // root under the smaller. Path compression keeps it ~O(E α(E)).
      val parent = new java.util.HashMap[Long, Long](sample.length * 2)
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x
        while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      sample.foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      val ids = parent.keySet().toArray(Array.empty[java.lang.Long])
      val out = ids.map(id => (id.longValue, find(id.longValue))).toSeq
      import spark.implicits._
      return (out.toDF("doc_id", "keeper_id"), 0)
    }
    dedupGroupsDistributed(pairs)
  }

  private[graft] def dedupGroupsDistributed(pairs: DataFrame): (DataFrame, Int) = {
    val edges = graft.core.Caches.transient(pairs
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .distinct())
    var labels: DataFrame = graft.core.Caches.transient(
      edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("label")))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < MaxIters) {
      // One join + one aggregation per round. The propagation edge set
      // is edges ∪ self-loops (id→id: keep own label) ∪ jump edges
      // (label(id)→id: pull label(label(id)) — pointer jumping), so
      //   min over nl = least(own, neighbor min, label-of-label)
      // falls out of a single groupBy(dst).min instead of three
      // separate joins; every node has its self-loop, so no node
      // drops out and no null-coalescing is needed.
      val propagate = edges
        .unionByName(labels.select(col("id").as("src"), col("id").as("dst")))
        .unionByName(labels.select(col("label").as("src"), col("id").as("dst")))
      // a cut, not a cache: each round references the prior round's
      // frame several times (self-loop/jump unions, the label join,
      // the change count), so without truncating lineage the logical
      // plan grows exponentially in rounds and planning itself OOMs
      // after ~8 rounds. The prior round is released once this one is
      // counted; the last one when the caller's scope exits.
      val next = graft.core.Caches.cut(propagate
        .join(labels.select(col("id").as("src"), col("label").as("nl")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(min(col("nl")).as("label")))
      changed = next
        .join(labels.select(col("id"), col("label").as("old")), Seq("id"))
        .filter(col("label") =!= col("old")).count()
      graft.core.Caches.release(labels)
      labels = next
      iter += 1
    }
    graft.core.Caches.release(edges)
    (labels.select(col("id").as("doc_id"), col("label").as("keeper_id")), iter)
  }

  /** THE content digest of the exact-dedup tier: md5 over the
    * null-coalesced text (null ≡ "", so a null text still gets a
    * digest and a decision). Single definition shared by the gates'
    * digest pass, the history semi-join's probe and d16's screen —
    * the probe and the state builder MUST stay bit-identical, so
    * neither may re-derive this expression locally. */
  def contentDigest(text: Column): Column = md5(coalesce(text, lit("")))

  /** THE banded Hamming join: every pair of fingerprint relations `a` ×
    * `b` (each `(id, simhash)` of `bits`-bit fingerprints) within
    * `maxDist` bit flips that `pairPredicate` (over the output ids)
    * admits, with its exact Hamming distance, as (`ids._1`, `ids._2`,
    * hamming). The corpus self-join (d05, d10, d22, mm06,
    * [[graft.multimodal.MultimodalPack.clipContainmentFromUnits]])
    * passes one relation as both sides with `a_id < b_id` in the
    * predicate; the history probe (s12, the streaming media gate)
    * passes the arrivals and the history fingerprints with `lit(true)`.
    * Pigeonhole banding: `maxDist + 1` bands of `bits/(maxDist+1)`
    * bits, so two fingerprints within `maxDist` flips agree exactly on
    * at least one band; candidates shuffle on band values (a history
    * relation's fingerprints are only shifted and masked into band
    * keys, never recomputed), never an all-pairs scan.
    *
    * The pair predicate and the exact popcount filter run INSIDE each
    * band join, before the cross-band dedup aggregation shuffles (the
    * band join itself still shuffles both projections on bv). Simhash
    * bits over a shared vocabulary are correlated across documents, so
    * band buckets skew far above the 2^-width uniform estimate;
    * materializing every intra-bucket candidate pair into the
    * cross-band shuffle made the 50k-doc probe SLOWER than the
    * quadratic twin (79 s vs 14 s — PERF.md round 6). Pairs a caller
    * discards (mm07/mm08's same-item unit pairs, per-item-quadratic in
    * temporally self-similar media) likewise never transit that
    * shuffle; identical output to post-filtering (spec-asserted on a
    * dense-frames fixture).
    *
    * Each side is read once per band, so both must be materialized (a
    * [[graft.core.Caches.cut]] or a persisted relation): uncut, the
    * fingerprint expression trees (66-md5 dHash, chroma grids, simhash
    * bit-sums) are re-canonicalized by every band branch on every
    * action — measured as seconds of single-threaded driver planning
    * per query. No cache, no cut: the caller owns those. */
  def hammingBandJoin(a: DataFrame, b: DataFrame, ids: (String, String),
                      maxDist: Int, bits: Int, pairPredicate: Column): DataFrame = {
    val (aId, bId) = ids
    val nBands = maxDist + 1
    val bounds = (0 to nBands).map(i => i * bits / nBands)
    (0 until nBands).map { i =>
      val lo = bounds(i)
      val band = shiftright(col("simhash"), lo)
        .bitwiseAND(lit((1L << (bounds(i + 1) - lo)) - 1))
      a.select(col("id").as(aId), col("simhash").as("ha"), band.as("bv"))
        .join(b.select(col("id").as(bId), col("simhash").as("hb"), band.as("bv")),
          Seq("bv"))
        .filter(pairPredicate)
        .withColumn("hamming",
          bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
        .filter(col("hamming") <= maxDist)
        .select(col(aId), col(bId), col("hamming"))
    }.reduce(_ unionByName _)
      // a pair found by several bands collapses to one row; hamming is
      // a function of the ids, so min() just picks the constant
      .groupBy(col(aId), col(bId))
      .agg(min(col("hamming")).as("hamming"))
  }

  /** The all-pairs DuckDB twin of [[hammingBandJoin]]: every pair of
    * relations `a` × `b` (id column `id`, fingerprint column `fp`)
    * within `maxDist` bit flips that `pred` (over the aliases `a` and
    * `b`) admits, as relation `out` (`ids._1`, `ids._2`, hamming) —
    * pair-for-pair the banded join's output by the pigeonhole
    * argument, and bounded at oracle scale. */
  private[graft] def hammingJoinSql(a: String, b: String, id: String, fp: String,
                                    ids: (String, String), maxDist: Int,
                                    pred: String, out: String): String = s"""
    |$out AS (SELECT a.$id AS ${ids._1}, b.$id AS ${ids._2},
    |    CAST(bit_count(xor(a.$fp, b.$fp)) AS BIGINT) AS hamming
    |  FROM $a a JOIN $b b ON $pred
    |  WHERE bit_count(xor(a.$fp, b.$fp)) <= $maxDist)""".stripMargin

  /** The quadratic all-pairs twin of [[hammingBandJoin]] over the same
    * inputs. Kept as the specs' recall oracle: banding must return
    * exactly its pairs, self-join and history probe alike. */
  private[graft] def hammingPairsAllPairsOf(a: DataFrame, b: DataFrame,
                                            ids: (String, String), maxDist: Int,
                                            pairPredicate: Column): DataFrame = {
    val (aId, bId) = ids
    a.select(col("id").as(aId), col("simhash").as("ha"))
      .join(b.select(col("id").as(bId), col("simhash").as("hb")), pairPredicate)
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= maxDist)
      .select(col(aId), col(bId), col("hamming"))
  }
}
