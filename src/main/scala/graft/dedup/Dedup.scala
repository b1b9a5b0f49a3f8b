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

  /** n-gram Jaccard near-duplicate pairs ≥ threshold. Candidates are
    * generated by the shared-shingle join (docs with zero common
    * shingles never pair), intersections counted per pair, Jaccard
    * from |A|+|B|−|A∩B|. The text form stays because the d03 groups
    * artifact ([[DedupPack.groupsViaExactCollapse]]) mines pairs over
    * the representative corpus, which no shared shingle artifact
    * covers. Pairs are over word 3-shingles. */
  def jaccardPairs(df: DataFrame, id: Column, text: Column): DataFrame =
    // hash BEFORE the (single) distinct: dedup-ing the string rows
    // first would just add a second shuffle for the same result set
    jaccardPairsFromHashed(hashedShingleRows(df, id, text))

  /** The near-duplicate Jaccard cut every pair miner applies. */
  private val JaccardThreshold = 0.5

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

  /** [[jaccardPairs]] over a pre-built [[hashedShingleRows]] relation. */
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
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("a_id"), col("b_id"), col("inter"), col("na"), col("nb"),
        round(col("jaccard"), 6).as("jaccard"))
  }

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

  /** MinHash-LSH candidate pairs: seeds grouped into bands, docs
    * sharing any full band signature pair up — the banded self-join
    * over a prebuilt (id, band, bandsig) signature relation (the
    * session artifact path). Candidates only — callers verify with
    * [[jaccardPairsFromHashed]] when exact Jaccard matters. */
  def minhashCandidatesFromSigs(sigs: DataFrame): DataFrame = {
    val a = sigs.select(col("id").as("a_id"), col("band"), col("bandsig"))
    val b = sigs.select(col("id").as("b_id"), col("band"), col("bandsig"))
    a.join(b, Seq("band", "bandsig"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
  }

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
    val edges = pairs
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .distinct().cache()
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label")).cache()
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
      val next = propagate
        .join(labels.select(col("id").as("src"), col("label").as("nl")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(min(col("nl")).as("label"))
        // localCheckpoint, not cache: each round references the prior
        // round's frame several times (self-loop/jump unions, the
        // label join, the change count), so without truncating lineage
        // the logical plan grows exponentially in rounds and planning
        // itself OOMs after ~8 rounds. Eager checkpoint pins the
        // round's result and restarts lineage — mandatory for any
        // iterate-to-fixpoint loop at corpus scale.
        .localCheckpoint(true)
      changed = next
        .join(labels.select(col("id"), col("label").as("old")), Seq("id"))
        .filter(col("label") =!= col("old")).count()
      labels.unpersist()
      labels = next
      iter += 1
    }
    edges.unpersist()
    (labels.select(col("id").as("doc_id"), col("label").as("keeper_id")), iter)
  }

  /** THE content digest of the exact-dedup tier: md5 over the
    * null-coalesced text (null ≡ "", so a null text still gets a
    * digest and a decision). Single definition shared by the gates'
    * digest pass, the history semi-join's probe and d16's screen —
    * the probe and the state builder MUST stay bit-identical, so
    * neither may re-derive this expression locally. */
  def contentDigest(text: Column): Column = md5(coalesce(text, lit("")))

  /** Banded Hamming near-dup join over an ARBITRARY fingerprint
    * relation `(id, simhash)` — the d04/d10 banding machinery exposed
    * for fingerprints that are not text simhashes (mm06's perceptual
    * image dHash). Same pigeonhole guarantee: `maxDist + 1` bands of
    * `bits/(maxDist+1)` bits, two fingerprints within `maxDist` bit
    * flips MUST agree exactly on at least one band, the exact popcount
    * filter keeps precision. Candidates shuffle on band values, never
    * an all-pairs scan.
    *
    * `pairPredicate` (over `a_id`/`b_id`) runs INSIDE each band join,
    * beside the exact Hamming filter — pairs a caller is going to
    * discard (mm07/mm08's same-item frame pairs) never transit the
    * cross-band dedup shuffle. This matters when excluded pairs are
    * per-group-quadratic: real video is temporally self-similar, so
    * dense frame sampling makes intra-video near-dup pairs grow as the
    * square of frames-per-video through one shuffle if filtered only
    * after the aggregation. Identical output to post-filtering
    * (spec-asserted on a dense-frames fixture). */
  def hammingPairsBandedOf(sig: DataFrame, maxDist: Int, bits: Int,
                           pairPredicate: Column = lit(true)): DataFrame = {
    // lineage-CUT, not just cached: the fingerprint expression trees
    // (66-md5 dHash, chroma grids, simhash bit-sums) would otherwise be
    // re-canonicalized by every one of the 2·(maxDist+1) band-branch
    // references on every action — measured as seconds of
    // single-threaded driver planning per query
    val s = graft.core.Caches.cut(sig)
    val nBands = maxDist + 1
    val bounds = (0 to nBands).map(i => i * bits / nBands)
    val cands = (0 until nBands).map { i =>
      val lo = bounds(i)
      val width = bounds(i + 1) - lo
      val band = shiftright(col("simhash"), lo)
        .bitwiseAND(lit((1L << width) - 1))
      val a = s.select(col("id").as("a_id"), col("simhash").as("ha"),
        band.as("bv"))
      val b = s.select(col("id").as("b_id"), col("simhash").as("hb"),
        band.as("bv"))
      // the exact Hamming filter runs INSIDE the band join — applied as
      // the join evaluates, before the cross-band dedup aggregation
      // shuffles (the band join itself still shuffles both projections
      // on bv). Simhash bits over a shared vocabulary
      // are correlated across documents, so band buckets skew far above
      // the 2^-width uniform estimate; materializing every intra-bucket
      // candidate pair into the cross-band dedup shuffle made the 50k-doc
      // probe SLOWER than the quadratic twin (79 s vs 14 s — PERF.md
      // round 6). Filtered here, only true near-dup pairs (≈ output
      // size) reach the dedup aggregation below.
      a.join(b, Seq("bv"))
        .filter(col("a_id") < col("b_id"))
        .filter(pairPredicate)
        .withColumn("hamming",
          bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
        .filter(col("hamming") <= maxDist)
        .select(col("a_id"), col("b_id"), col("hamming"))
    }.reduce(_ unionByName _)
    // a pair found by several bands collapses to one row; hamming is a
    // function of the ids, so min() just picks the constant
    cands
      .groupBy(col("a_id"), col("b_id"))
      .agg(min(col("hamming")).as("hamming"))
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** ASYMMETRIC banded Hamming join — probe fingerprints `(id,
    * simhash)` against a HISTORY fingerprint relation `(id, simhash)`,
    * emitting every (id, hist_id) pair within `maxDist` bit flips with
    * its exact Hamming distance. The [[hammingPairsBandedOf]] pigeonhole
    * machinery with the self-join replaced by a probe-side/history-side
    * join: candidates shuffle on band values (history is typically a
    * persisted parquet relation — its dHash is NEVER recomputed, only
    * shifted/masked into band keys at read, which is three integer ops
    * per band against 66 md5s for the fingerprint itself), the exact
    * popcount filter runs inside each band join, and the cross-band
    * dedup aggregation sees only true near-dup pairs. This is the
    * perceptual screen of the streaming media ingest gate
    * ([[graft.streaming.Streams.mediaIngestGate]]). */
  def hammingProbeBanded(probe: DataFrame, hist: DataFrame,
                         maxDist: Int, bits: Int): DataFrame = {
    val p = graft.core.Caches.transient(probe)
    val nBands = maxDist + 1
    val bounds = (0 to nBands).map(i => i * bits / nBands)
    (0 until nBands).map { i =>
      val lo = bounds(i)
      val width = bounds(i + 1) - lo
      def band(c: Column): Column =
        shiftright(c, lo).bitwiseAND(lit((1L << width) - 1))
      val a = p.select(col("id"), col("simhash").as("hp"),
        band(col("simhash")).as("bv"))
      val b = hist.select(col("id").as("hist_id"), col("simhash").as("hh"),
        band(col("simhash")).as("bv"))
      a.join(b, Seq("bv"))
        .withColumn("hamming",
          bit_count(col("hp").bitwiseXOR(col("hh"))).cast("long"))
        .filter(col("hamming") <= maxDist)
        .select(col("id"), col("hist_id"), col("hamming"))
    }.reduce(_ unionByName _)
      .groupBy(col("id"), col("hist_id"))
      .agg(min(col("hamming")).as("hamming"))
  }

  /** The quadratic all-pairs twin of [[hammingPairsBandedOf]] over the
    * same `(id, simhash)` relation. Kept as the specs' recall oracle:
    * banding must return exactly its pairs. */
  private[graft] def hammingPairsAllPairsOf(s: DataFrame,
                                            maxDist: Int): DataFrame = {
    val a = s.select(col("id").as("a_id"), col("simhash").as("ha"))
    val b = s.select(col("id").as("b_id"), col("simhash").as("hb"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= maxDist)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }
}
