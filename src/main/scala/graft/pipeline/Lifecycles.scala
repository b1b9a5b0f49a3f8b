package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.llm.LlmPack
import graft.metrics.Classification
import graft.sample.Sampling
import graft.text.TextOps
import graft.vector.KnnJoin

/** The reference's end-to-end entry points (SURVEY §3) as
  * composable jobs over the engine's operators — the §7.1 module-8
  * deliverable (§3.1 ingestion/consolidation is
  * [[graft.ingest.Ingest.readPages]] itself). Each lifecycle
  * recombines already-oracle-checked stages; the flagship
  * classification lifecycle additionally runs under its own DuckDB
  * oracle ([[PipelinePack]] p01).
  */
object Lifecycles {

  /** §3.2 flagship: document-level anti-leakage split → train-index
    * kNN top-1 → sklearn-style classification report. The split is the
    * hash split (partition-count independent); the index side is the
    * TRAIN half only, so evaluation never sees its own row as a
    * neighbor by construction. The search is exact, the reference's
    * flat index (p01's oracle replays it). Train fraction 0.8. */
  def classifyAndReport(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
      .select(col("vec_id"), col("label"), col("embedding"))
    val split = Sampling.hashSplit(e, col("vec_id"), 0.8)
    val train = split.filter(col("split") === "train").drop("split")
    val test = split.filter(col("split") === "test").drop("split")
    val hits = KnnJoin.search(spark, test, train, 1, KnnJoin.Exact,
      excludeSelf = false)
    val preds = hits.join(
      test.select(col("vec_id").as("query_id"), col("label").as("true_label")),
      Seq("query_id"))
    Classification.classificationReport(preds, col("true_label"), col("n_label"))
  }

  /** §3.3's feedback loop closed end-to-end (`feebback
    * agent_8_29.py:32-71`: Capture → Compare → Cluster → Suggest →
    * Approve → Apply): extraction diffs become suggested corrections,
    * an approval rule stands in for the reviewer (even doc_ids are
    * accepted), and the approved subset is applied back onto the
    * extraction artifact. Returns the corrected long frame — l02's
    * accuracy table over it measures the lift. */
  def feedbackApply(spark: SparkSession, dir: String): DataFrame = {
    import graft.metrics.FeedbackPack
    val approved = FeedbackPack.fieldDiffs(spark, dir)
      .filter(pmod(col("doc_id"), lit(2L)) === 0)
      .select(col("doc_id"), col("field"),
        col("ground_truth").as("corrected_value"))
    FeedbackPack.applyCorrections(LlmPack.extractLong(spark, dir), approved)
      .orderBy(col("doc_id"), col("field"))
  }

  /** §3.4 validation-confirmation as a BATCH OPERATOR over arbitrary
    * (document text, SoR fields) columns: deterministic 2-of-3 rule
    * (first name, last name, all address tokens present). Routing is
    * a filter on the decision column. */
  def confirm(df: DataFrame, fullText: Column, sorFirst: Column,
              sorLast: Column, sorAddress: Column): DataFrame = {
    val ws = TextOps.words(lower(fullText))
    val firstM = array_contains(ws, lower(sorFirst))
    val lastM = array_contains(ws, lower(sorLast))
    val addrM = forall(TextOps.words(lower(sorAddress)),
      t => array_contains(ws, t))
    val matches = firstM.cast("int") + lastM.cast("int") + addrM.cast("int")
    df.withColumn("first_match", firstM)
      .withColumn("last_match", lastM)
      .withColumn("addr_match", addrM)
      .withColumn("decision", when(matches >= 2, "yes").otherwise("no"))
  }

  /** The §3.3/§3.4 tail as ONE relation: extraction results confirmed
    * field-by-field against the system of record, then routed — `STP`
    * (straight-through processing, every field confirmed) vs `HITL`
    * (human in the loop). The reference runs this per watched-folder
    * arrival (`ocr_agent_8_29.py:19-33` feeding
    * `validation_confirmation_feedback.py:125-134`); here it is a pure
    * function of the extraction long frame, so the p04 batch query
    * (over the session extraction artifact) and the per-micro-batch
    * streaming form ([[graft.streaming.Streams.extractConfirmRoute]])
    * are the same plan — one groupBy on doc_id, partial-aggregatable,
    * no other shuffle. */
  def confirmRoute(extractLong: DataFrame): DataFrame = {
    def fld(f: String, c: Column): Column =
      max(when(col("field") === f, c))
    extractLong.groupBy(col("doc_id"))
      .agg(
        fld("first_word", col("predicted_value")).as("pred_first_word"),
        fld("word_count", col("predicted_value")).as("pred_word_count"),
        fld("first_word", col("accuracy")).as("fw_ok"),
        fld("word_count", col("accuracy")).as("wc_ok"))
      .withColumn("route",
        when(col("fw_ok") + col("wc_ok") === 2, "STP").otherwise("HITL"))
      .orderBy(col("doc_id"))
  }

  /** Training-corpus preparation funnel — the 100 TB pipeline this
    * engine exists for, composed end-to-end from its own operators:
    *
    *   raw (crawl with planted dups) → quality/repetition filter →
    *   language balance cap → exact dedup → near-dup group resolution
    *   → benchmark decontamination → α-weighted mixture sampling
    *
    * Returns the per-stage survivor counts (the funnel audit table).
    * Every stage is the already-oracle-checked operator: quality
    * score (a02) + dup-word fraction (a04), per-language quality cap
    * in the a20 threshold-prefilter shape (see [[langBalanceCap]]),
    * content-digest keepers (d01), Jaccard pairs → connected
    * components (d02/d08), shingle overlap vs the held-out split
    * (d09), per-source hash-threshold rates (a06). Thresholds
    * (0.45 / 0.7 / 0.3) are data-derived percentile cuts — see
    * PipelinePack for the measured basis. */
  /** The funnel's PUBLISHED stage-1 cuts (measured once at small SF:
    * quality p05 ≈ 0.487 → cut 0.45 on its permissive side; dup-word
    * fraction p95 ≈ 0.688 → cut 0.7 likewise): ONE definition shared
    * by [[corpusPrep]] (which applies them) and [[funnelThresholds]]
    * (which audits them), so the filter and its audit can never cite
    * different constants. */
  private[graft] val QualityCut = 0.45
  private[graft] val DupFracCut = 0.7

  /** The funnel's augmented input corpus (crawl with planted near/exact
    * dups) — shared by [[corpusPrep]] and the [[funnelThresholds]]
    * audit so the two can never diverge on what "the corpus" is. */
  private[graft] def corpusAug(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), col("lang"), col("text"), col("source"))
    val near = docs.filter(col("doc_id") < 100)
      .select((col("doc_id") + 100000).as("doc_id"), col("lang"),
        regexp_replace(col("text"), "^\\S+\\s*", "").as("text"), col("source"))
    val exactCp = docs.filter(col("doc_id") < 50)
      .select((col("doc_id") + 200000).as("doc_id"), col("lang"),
        col("text"), col("source"))
    docs.unionByName(near).unionByName(exactCp)
  }

  def corpusPrep(spark: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    import graft.text.{TextAnalysis, TextOps => T}
    // Stage frames are lineage-CUT, not merely persisted: measured on
    // an isolated p02 run, 11 s of its 22.7 s span was ZERO-TASK
    // driver time — 61 jobs each re-planning a funnel plan that nests
    // every stage above it (guide §7.3 "very large plans can spend
    // minutes in planning"; §3.3 — materialising an intermediate
    // truncates the plan). Storage volume is unchanged (persist
    // already materialized every stage for its audit count); only the
    // plan under each reference shrinks to a compact scan. Blocks
    // release at the query-boundary sweep instead of the manual
    // unpersist loop this replaces.
    val cut = (df: DataFrame) => graft.core.Caches.cut(df)
    val aug = cut(corpusAug(spark, dir))

    // stage 1: quality + repetition cut (staged arrays — see a04)
    val qual = cut(aug
      .select(col("doc_id"), col("lang"), col("text"), col("source"),
        T.words(col("text")).as("ws"))
      .select(col("doc_id"), col("lang"), col("text"), col("source"),
        size(col("ws")).as("n"), size(array_distinct(col("ws"))).as("d"))
      .filter(TextAnalysis.qualityScore(col("text")) >= QualityCut &&
        (lit(1.0) - col("d").cast("double") / col("n").cast("double"))
          <= DupFracCut)
      .select(col("doc_id"), col("lang"), col("text"), col("source")))

    // stage 2: language balance cap — the a16/a20 operator as the
    // funnel's default, in the skew-safe a20 shape
    val capped = cut(langBalanceCap(qual))

    // stage 3: exact dedup — content-digest keepers only
    val exKeepers = Dedup.exactGroups(capped, col("doc_id"), md5(col("text")))
      .select(col("keeper_id").as("doc_id"))
    val ex = cut(capped.join(exKeepers, Seq("doc_id"), "left_semi"))

    // ONE shingle pass serves stages 3 AND 4: at scale the shingle
    // extraction reads every byte of text — never run it twice. The
    // funnel corpus's (doc_id → text) mapping is identical to the
    // augmented corpus's (same base docs, same planted +100000/
    // +200000 transforms), so the rows come off the session shingle
    // artifact via a semi-join on the stage-3 survivor ids — no
    // per-query text pass at all.
    val exSh = cut(graft.dedup.DedupPack.augShingleRows(spark, dir)
      .join(ex.select(col("doc_id").as("id")), Seq("id"), "left_semi"))

    // stage 3: near-dup groups — drop everything but each keeper.
    // Pair mining runs under the stop-shingle cap (the d07 skew
    // guard): shingles in more than 20 docs carry no dedup signal but
    // quadratic fan-out, so the flagship funnel bounds its posting
    // lists exactly like the standalone operator does at corpus scale.
    val pairs = Dedup.jaccardPairsFromHashed(exSh, maxShingleDocFreq = 20)
    val dropIds = Dedup.dedupGroups(pairs)
      .filter(col("doc_id") =!= col("keeper_id")).select(col("doc_id"))
    val nr = cut(ex.join(dropIds, Seq("doc_id"), "left_anti"))

    // stage 4: decontamination — the 20% held-out side is the
    // benchmark (dropped); train docs sharing > 30% of their shingles
    // with it are contaminated (dropped). Shingles come from the
    // shared relation: one broadcast anti-join removes the dedup
    // drops, and split membership is a PURE FUNCTION of the id (hash
    // split), so each side is a map-side filter — no per-side join.
    val split = Sampling.hashSplit(nr, col("doc_id"), 0.8)
    val tr = split.filter(col("split") === "train").drop("split")
    val splitThr = f"${math.round(0.8 * 65536).min(65535)}%04x"
    val nrSh = exSh.join(broadcast(dropIds.select(col("doc_id").as("id"))),
      Seq("id"), "left_anti")
    def shingleSide(train: Boolean): DataFrame = {
      val cond = substring(Sampling.hashKey(col("id")), 1, 4) < lit(splitThr)
      nrSh.filter(if (train) cond else !cond)
        .select(col("id").as("doc_id"), col("sh"))
    }
    val trSh = cut(shingleSide(train = true))
    val contamIds = trSh.join(
        shingleSide(train = false).select(col("sh")).distinct(),
        Seq("sh"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      .join(trSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles")),
        Seq("doc_id"))
      .filter(col("n_shared").cast("double") /
        col("n_shingles").cast("double") > 0.3)
      .select(col("doc_id"))
    val dec = cut(tr.join(contamIds, Seq("doc_id"), "left_anti"))

    // stage 5: α=0.5 mixture rates on surviving char mass per source
    val per = dec.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(length(col("text"))).as("mass"))
    val totals = per.agg(
      sum(col("n_docs")).as("n_total"),
      aggregate(
        sort_array(collect_list(struct(col("source"),
          sqrt(col("mass").cast("double")).as("w")))),
        lit(0.0), (acc, x) => acc + x.getField("w")).as("w_total"))
    val rates = per.crossJoin(broadcast(totals))
      .withColumn("rate", least(lit(1.0),
        (lit(0.5) * col("n_total").cast("double"))
          * (sqrt(col("mass").cast("double")) / col("w_total"))
          / col("n_docs").cast("double")))
      .withColumn("thresh16", floor(col("rate") * 65536).cast("long"))
    val sampled = dec
      .join(broadcast(rates.select(col("source"), col("thresh16"))),
        Seq("source"))
      .filter(Dedup.hash16(
        concat(lit("7"), col("doc_id").cast("string"))) < col("thresh16"))

    // The audit table is six numbers; computing it eagerly lets the
    // funnel release its cached working set (seven intermediates)
    // instead of leaking the blocks for the rest of the session.
    // Each count reads the persisted frame above it, so the total
    // work matches the previous lazily-unioned form.
    import spark.implicits._
    val counts = Seq(
      (0L, "raw", aug.count()),
      (1L, "quality", qual.count()),
      (2L, "lang_cap", capped.count()),
      (3L, "exact_dedup", ex.count()),
      (4L, "near_dedup", nr.count()),
      (5L, "decontam", dec.count()),
      (6L, "mixture", sampled.count()))
    counts.toDF("stage_idx", "stage", "n_docs").orderBy(col("stage_idx"))
  }

  /** p05: the funnel-threshold AUDIT — re-derive [[corpusPrep]]'s
    * stage-1 percentile cuts on the live corpus through the
    * bounded-state histogram sketch ([[graft.core.Sketches]]): the
    * funnel's constants (quality ≥ 0.45 from the quality p05, dup-word
    * fraction ≤ 0.7 from its p95) were measured once at small SF, and
    * THIS query is how they are re-measured on a 100 TB corpus — ≤1000
    * histogram rows through the shuffle per metric, no sort or window
    * ever touches the input relation (spec plan-asserted), where the
    * exact `percentile` aggregate would carry every value to one
    * buffer. One row per metric: (metric, q, est, bin_width,
    * published, recalibrate); est is the sketched cut, bin_width its
    * error bound, and `recalibrate` is the trigger itself — see
    * [[thresholdAudit]] for its one-sided semantics. */
  def funnelThresholds(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.{TextAnalysis, TextOps => T}
    val m = graft.core.Caches.transient(corpusAug(spark, dir)
      .select(
        round(TextAnalysis.qualityScore(col("text")), 6).as("quality"),
        graft.core.Expr.let(T.words(col("text"))) { ws =>
          when(size(ws) > 0, round(lit(1.0) -
            size(array_distinct(ws)).cast("double") /
              size(ws).cast("double"), 6))
        }.as("dupfrac")))
    thresholdAudit(m)
  }

  /** The audit body of [[funnelThresholds]] over a prepared
    * (quality, dupfrac) metric frame — split out so specs can drive
    * the trigger on synthetic distributions. Each cut was published
    * on the PERMISSIVE side of its measured percentile ([[QualityCut]]
    * below the quality p05, [[DupFracCut]] above the dup-fraction
    * p95), so drift that matters is ONE-SIDED: `recalibrate` fires
    * when the live percentile crosses the published cut by more than
    * the sketch's error bound (quality p05 falling BELOW the ≥-cut,
    * dupfrac p95 rising ABOVE the ≤-cut) — the cut is then provably
    * stricter than its design point and drops more than the intended
    * 5% tail. Movement on the permissive side stays quiet: the filter
    * still admits at least its designed mass. */
  private[graft] def thresholdAudit(m: DataFrame): DataFrame = {
    def cut(metric: String, x: org.apache.spark.sql.Column, prob: Double,
            published: Double, stricterBelow: Boolean): DataFrame =
      graft.core.Sketches.histogramQuantilesWithWidth(
          m, x, bins = 1000, probs = Seq(prob))
        .select(lit(metric).as("metric"), col("q"), col("est"),
          col("bin_width"), lit(published).as("published"),
          (if (stricterBelow) col("est") < lit(published) - col("bin_width")
           else col("est") > lit(published) + col("bin_width"))
            .cast("long").as("recalibrate"))
    cut("dupfrac_p95", col("dupfrac"), 0.95, DupFracCut,
        stricterBelow = false)
      .unionByName(cut("quality_p05", col("quality"), 0.05, QualityCut,
        stricterBelow = true))
      .orderBy(col("metric"))
  }

  /** LANGUAGE BALANCE CAP — the funnel's routing of the quality-cap
    * operator (a16's semantics, a20's shape): no language may keep
    * more documents than the corpus's MEDIAN language count (lower
    * median under (count, lang) order — a data-derived budget, so the
    * stage binds proportionally at every corpus size instead of going
    * inert or absolute); over-budget languages keep their TOP-quality
    * documents, ranked by (round(quality, 6) desc, doc_id).
    *
    * The stage is [[graft.text.AnalysisPack.capByQuality]] — the
    * collapsed-count threshold + broadcast prefilter +
    * rank-over-survivors composition — never the plain a16 window,
    * which at 100 TB funnels a dominant language (en is ~42% of even
    * this synthetic mix) through one rank partition. The spec
    * plan-asserts the threshold prefilter join and pins per-lang
    * output ≤ cap; the count collect is |langs| rows. A null lang
    * counts toward the "" language, for the budget median and for the
    * cap (the dedup tier's null ≡ "" discipline — and a null key must
    * never NPE the driver-side sort); rows keep their original lang
    * value. The cap stage sees only (doc_id, key, quality), and its
    * survivors semi-join back onto `docs` (unique doc_ids), so the
    * text never enters the stage's checkpoint. */
  private[graft] def langBalanceCap(docs: DataFrame): DataFrame = {
    val counts = docs
      .groupBy(coalesce(col("lang"), lit("")).as("lang"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(counts.nonEmpty, "langBalanceCap on an empty corpus")
    val sorted = counts.sortBy { case (l, c) => (c, l) }
    val cap = sorted((sorted.length + 1) / 2 - 1)._2
    require(cap > 0, s"degenerate language-count median: $cap")
    val kept = graft.text.AnalysisPack.capByQuality(
        docs.select(col("doc_id"), coalesce(col("lang"), lit("")).as("key"),
          graft.text.TextAnalysis.qualityScore(col("text")).as("quality")),
        col("key"), col("quality"), cap)
      .select(col("doc_id"))
    docs.join(kept, Seq("doc_id"), "left_semi")
  }

  /** p03: the corpus DATASHEET (Gebru et al. 2021, "Datasheets for
    * Datasets") — the per-source summary a data curator publishes with
    * a release: document and token volume, exact-duplicate rate, and
    * mean quality, with an Overall rollup row. Runs over the augmented
    * corpus (planted dups give the dup-rate column real signal);
    * planted ids inherit their base document's source via id % 100000.
    *
    * Scale shape: one scan computes digest + word count + quality as
    * scan-stage expressions; the report is a single ROLLUP aggregation
    * (partial-aggregatable; `countDistinct` rewrites to a two-level
    * expand-aggregate). Quality means go through the rounded-decimal
    * sum (order-independent, the a08 discipline). */
  def corpusReport(spark: SparkSession, dir: String): DataFrame = {
    val aug = graft.dedup.DedupPack.augmented(spark, dir)
    val src = Tables(spark, dir).documents
      .select(col("doc_id").as("base_id"), col("source"))
    // no broadcast hint: `src` is one row per BASE document — unbounded
    // at corpus scale — so the join strategy is left to AQE, which
    // broadcasts when the mapping actually fits and shuffles when not
    val scored = aug
      .withColumn("base_id", pmod(col("doc_id"), lit(100000L)))
      .join(src, Seq("base_id"))
      .select(col("source"), col("doc_id"),
        md5(col("text")).as("h"),
        size(TextOps.words(col("text"))).cast("long").as("nw"),
        round(graft.text.TextAnalysis.qualityScore(col("text")), 6)
          .cast("decimal(18,6)").as("q"))
    scored.rollup(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nw")).as("n_words"),
        countDistinct(col("h")).as("n_distinct"),
        sum(col("q")).cast("double").as("qsum"))
      .select(coalesce(col("source"), lit("Overall")).as("source"),
        col("n_docs"), col("n_words"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double") /
          col("n_docs").cast("double"), 6).as("dup_frac"),
        round(col("qsum") / col("n_docs").cast("double"), 6).as("mean_quality"))
      .orderBy(col("source"))
  }
}
