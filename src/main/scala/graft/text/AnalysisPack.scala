package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.core.Tables
import graft.dedup.Dedup

/** Oracle-checked text-analysis queries: language ID, quality
  * scoring, rolling-hash fingerprints over `documents`. */
object AnalysisPack extends QueryPack {

  def langId(spark: SparkSession, dir: String): DataFrame = {
    val (detected, score) = TextAnalysis.langId(col("text"))
    Tables(spark, dir).documents
      .select(col("doc_id"), detected.as("lang_detected"),
        score.cast("long").as("score"))
      .orderBy(col("doc_id"))
  }

  def quality(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"),
        TextAnalysis.alphaChars(col("text")).cast("long").as("alpha_chars"),
        TextAnalysis.punctChars(col("text")).cast("long").as("punct_chars"),
        TextAnalysis.digitChars(col("text")).cast("long").as("digit_chars"),
        round(TextAnalysis.qualityScore(col("text")), 6).as("quality"))
      .orderBy(col("doc_id"))

  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      .orderBy(col("doc_id"))

  /** Gopher-style repetition signals per doc: duplicate-word fraction
    * and top-bigram fraction (the MassiveText quality filters).
    *
    * The word and bigram arrays are STAGED as projected columns, not
    * inlined: `topCount` references its input array once per lambda
    * iteration, and higher-order lambdas run interpreted — inlining
    * the split/transform subtree would re-evaluate it per distinct
    * element (measured: a single sf0.1 partition pinned a core for
    * 10+ minutes). As attribute references the arrays are computed
    * once per row; CollapseProject keeps them staged because it never
    * duplicates expensive expressions referenced more than once. */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val n = size(col("ws"))
    val d = size(array_distinct(col("ws")))
    val top = TextAnalysis.topCount(col("bg"))
    Tables(spark, dir).documentsSpread
      .select(col("doc_id"), TextOps.words(col("text")).as("ws"))
      .select(col("doc_id"), col("ws"),
        TextAnalysis.bigrams(col("ws")).as("bg"))
      .select(col("doc_id"),
        n.cast("long").as("n_words"),
        d.cast("long").as("distinct_words"),
        round(when(n > 0, lit(1.0) - d.cast("double") / n.cast("double"))
          .otherwise(lit(0.0)), 6).as("dup_word_frac"),
        top.cast("long").as("top_bigram_n"),
        round(when(n > 1, top.cast("double") / (n - 1).cast("double"))
          .otherwise(lit(0.0)), 6).as("top_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  /** a09: the full Gopher §A.1.1 repetition-filter suite (Rae et al.
    * 2021; a04 carries the word-level pair): per doc, the fraction of
    * characters covered by the most frequent {2,3,4}-gram and by all
    * duplicated {5..10}-grams. N-gram arrays come from the native
    * single-pass shingle expression and every measure is a row-local
    * sorted fold (the a04 staging lesson) — scan-stage, no shuffle.
    * Denominator is the doc's character length; "covered" is
    * count × gram length (overlaps counted per occurrence — declared
    * definition, mirrored exactly in the oracle). */
  def gopherRepetition(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.RepetitionChars
    val topNs = Seq(2, 3, 4)
    val dupNs = Seq(5, 6, 7, 8, 9, 10)
    // ONE staged word array (≈ the text's own size) feeds nine native
    // single-pass counters — no n-gram array is ever materialized or
    // sorted. The declarative sorted-fold twins
    // (TextAnalysis.topElemChars/dupElemChars) remain the spec
    // cross-check; they made a09 the suite's slowest scan query
    // (interpreted lambda folds over nine sorted gram arrays).
    def frac(chars: org.apache.spark.sql.Column) =
      round(when(col("nc") > 0, chars.cast("double") / col("nc").cast("double"))
        .otherwise(0.0), 6)
    Tables(spark, dir).documentsSpread
      .select(col("doc_id"), length(col("text")).as("nc"),
        TextOps.words(col("text")).as("ws"))
      .select(Seq(col("doc_id")) ++
        topNs.map(n => frac(RepetitionChars.topGramChars(col("ws"), n))
          .as(s"top_${n}gram_frac")) ++
        dupNs.map(n => frac(RepetitionChars.dupGramChars(col("ws"), n))
          .as(s"dup_${n}gram_frac")): _*)
      .orderBy(col("doc_id"))
  }

  /** PII suffix planted on doc_id < 100 — the corpus is digit-free
    * word-soup with no natural PII, so the scrub operator gets real
    * work the same way DedupPack plants duplicates: both engines
    * append the identical deterministic string. */
  private val piiSuffix = "@mail.example or 415-555-0134 ssn 123-45-6789"
  private def withPlantedPii(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents.select(col("doc_id"),
      when(col("doc_id") < 100,
        concat(col("text"), lit(" reach u"), col("doc_id").cast("string"),
          lit(piiSuffix)))
        .otherwise(col("text")).as("text"))

  /** PII redaction with audit count (email/SSN/phone patterns). */
  def piiRedact(spark: SparkSession, dir: String): DataFrame =
    withPlantedPii(spark, dir)
      .select(col("doc_id"),
        TextAnalysis.piiCount(col("text")).cast("long").as("n_pii"),
        TextAnalysis.redact(col("text")).as("text_redacted"))
      .orderBy(col("doc_id"))

  /** The deterministic sqrt-mass fold shared by a06 and a17: per-source
    * sqrt(tok_sum) summed in SORTED source order, so the double total
    * is identical across engines and partitionings (a sorted fold, not
    * a sum aggregate). One definition so the two mixture operators'
    * weight denominators cannot fork. */
  private def sqrtMassTotal: org.apache.spark.sql.Column =
    aggregate(
      sort_array(collect_list(struct(col("source"),
        sqrt(col("tok_sum").cast("double")).as("w")))),
      lit(0.0), (acc, x) => acc + x.getField("w")).as("w_total")

  /** Training-mixture sampling: per-source keep rates ∝ (char mass)^α
    * with α = 0.5 — the standard pretraining up/down-sampling shape
    * (mixture targets set on token budget, not doc count). The rate
    * computation is fully declarative: per-source aggregates, one
    * broadcast scalar (the α-weighted mass total, folded in sorted
    * source order so the double sum is deterministic on BOTH engines),
    * then a hash-threshold filter per row — partition-independent,
    * cluster-size-independent, no driver collect. Output is the
    * per-source audit table (rates + realized sample counts). */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val per = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("tok_sum"))
    val totals = per.agg(
      sum(col("n_docs")).as("n_total"), sqrtMassTotal)
    val rates = per.crossJoin(broadcast(totals))
      .withColumn("rate", least(lit(1.0),
        (lit(0.5) * col("n_total").cast("double"))
          * (sqrt(col("tok_sum").cast("double")) / col("w_total"))
          / col("n_docs").cast("double")))
      .withColumn("thresh16", floor(col("rate") * 65536).cast("long"))
    val sampled = docs
      .join(broadcast(rates.select(col("source"), col("thresh16"))), Seq("source"))
      .filter(graft.dedup.Dedup.hash16(
        concat(lit("7"), col("doc_id").cast("string"))) < col("thresh16"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_sampled"))
    rates.join(sampled, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("tok_sum"),
        round(col("rate"), 6).as("rate"), col("thresh16"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
      .orderBy(col("source"))
  }

  /** a17: mixture token-budget planning — the feasibility number
    * behind every pretraining data recipe (the Llama/Gopher-style
    * "sample source s at weight α_s, never repeat a source more than
    * E epochs" discipline): with a06's √-mass mixture weights, the
    * largest achievable budget is B* = min(B_req, min_s E·T_s/α_s) —
    * past that, the scarcest source would exceed its epoch cap at its
    * mixture share. Emits the per-source plan (weight, tokens
    * selected at B*, realized epochs) and flags the binding source.
    * Requested budget B_req = 6× the corpus, above the ≤4×-total
    * ceiling the epoch cap imposes under √-mass weights (equal
    * masses maximize min_s E·T_s/α_s at exactly E·total), so the
    * cap genuinely binds and the plan shows the scarce source.
    *
    * Scale shape: two tiny aggregations over the per-source relation
    * (bounded by the number of sources, not data) with broadcast
    * scalars between them — no window, no collect; the √-mass total
    * folds in sorted source order so the double sum is deterministic
    * on both engines (the a06 discipline), and min() over the epoch
    * ratios is order-independent by construction. */
  def mixtureBudget(spark: SparkSession, dir: String): DataFrame = {
    val EpochCap = 4.0
    val per = Tables(spark, dir).documents.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("tok_sum"))
    val totals = per.agg(sum(col("tok_sum")).as("total"), sqrtMassTotal)
    val wa = per.crossJoin(broadcast(totals))
      .withColumn("alpha",
        sqrt(col("tok_sum").cast("double")) / col("w_total"))
      .withColumn("ratio",
        lit(EpochCap) * col("tok_sum").cast("double") / col("alpha"))
    val cap = wa.agg(min(col("ratio")).as("min_ratio"))
    wa.crossJoin(broadcast(cap))
      .withColumn("bmax",
        least(lit(6.0) * col("total").cast("double"), col("min_ratio")))
      .select(col("source"), col("n_docs"), col("tok_sum"),
        round(col("alpha"), 6).as("alpha"),
        round(col("alpha") * col("bmax"), 3).as("tokens_sel"),
        round(col("alpha") * col("bmax") / col("tok_sum").cast("double"), 6)
          .as("epochs"),
        (col("ratio") === col("bmax")).as("binding"))
      .orderBy(col("source"))
  }

  /** Deterministic line structure planted on the word-soup corpus so
    * the C4 rules have real work (the PII/dedup planting discipline):
    * words chunk into 8-word lines, even-indexed lines get a terminal
    * period (so roughly half survive the punctuation rule), docs with
    * doc_id % 7 == 0 gain a "javascript" line (killed by the line
    * rule despite its period) and doc_id % 11 == 0 a "lorem ipsum"
    * line (kills the whole page). Both engines synthesize the exact
    * same lines. */
  private[graft] def withPlantedLines(spark: SparkSession, dir: String): DataFrame = {
    // `words(text)` is let-bound ([[graft.core.Expr.let]]): the
    // chunking lambda reads it per element, and a lambda body is
    // re-evaluated per ELEMENT — with the regex-split tree inline
    // there, every 8-word chunk would re-split the whole document
    // (O(lines·len) per doc instead of O(len)). The binding holds
    // regardless of how CollapseProject rewrites the projection.
    def linesOf(ws: org.apache.spark.sql.Column) = {
      val nChunks = ceil(size(ws).cast("double") / 8.0).cast("int")
      when(size(ws) === 0, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), nChunks - 1), i =>
          concat(concat_ws(" ", slice(ws, i * 8 + 1, lit(8))),
            when(i % 2 === 0, lit(".")).otherwise(lit("")))))
    }
    def planted(cond: org.apache.spark.sql.Column, line: String) =
      when(cond, array(lit(line))).otherwise(array().cast("array<string>"))
    Tables(spark, dir).documents
      .select(col("doc_id"),
        concat(
          graft.core.Expr.let(TextOps.words(col("text")))(linesOf),
          planted(pmod(col("doc_id"), lit(7L)) === 0, "javascript void menu here."),
          planted(pmod(col("doc_id"), lit(11L)) === 0, "lorem ipsum dolor sit."))
          .as("lines"))
  }

  /** a07: C4-style cleaning (Raffel et al. 2020 §2.2) — line rules
    * (terminal punctuation, ≥ 3 words, no "javascript") then page
    * rules ("lorem ipsum" / "{" / fewer than 5 surviving lines drop
    * the page). Emits the audit columns + the cleaned page. */
  def c4Clean(spark: SparkSession, dir: String): DataFrame = {
    val kept = TextAnalysis.c4KeptLines(col("lines"))
    withPlantedLines(spark, dir)
      .select(col("doc_id"), col("lines"), kept.as("kept"))
      .select(col("doc_id"),
        size(col("lines")).cast("long").as("n_lines"),
        size(col("kept")).cast("long").as("n_kept"),
        TextAnalysis.c4PageKeep(col("lines"), col("kept")).as("page_keep"),
        when(TextAnalysis.c4PageKeep(col("lines"), col("kept")),
          concat_ws("\n", col("kept"))).as("cleaned"))
      .orderBy(col("doc_id"))
  }

  /** a08: CCNet-style unigram log-prob quality scoring (Wenzek et al.
    * 2020 use KenLM perplexity to split a crawl into head/middle/tail
    * buckets; the deterministic stand-in is the corpus' own unigram
    * model — swap the counts table for real LM scores at the same
    * seam). Per doc: mean negative log-probability of its words under
    * the corpus unigram distribution, then tercile buckets from EXACT
    * percentiles (one aggregate + map-side comparison — no global
    * sort/ntile window, which would single-partition at corpus
    * scale). Per-word terms round to 9 decimals then sum through
    * decimals, so the mean is order-independent on both engines. */
  /** The shared per-doc mean-NLL relation of a08/a11. */
  private def meanNllBase(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val w = docs.select(col("doc_id"),
      explode(TextOps.words(col("text"))).as("w"))
    val counts = w.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("t"))
    val scored = w.join(counts, Seq("w"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        round(-log(col("cnt").cast("double") / col("t").cast("double")), 9)
          .cast("decimal(28,9)").as("nll"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nw"), sum(col("nll")).as("s"))
    docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nw"), lit(0L)).as("n_words"),
        round(coalesce(col("s").cast("double") / col("nw").cast("double"),
          lit(0.0)), 6).as("mean_nll"))
  }

  def unigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val base = meanNllBase(spark, dir)
    val qs = base.agg(
      percentile(col("mean_nll"), lit(1.0 / 3)).as("q1"),
      percentile(col("mean_nll"), lit(2.0 / 3)).as("q2"))
    base.crossJoin(broadcast(qs))
      .select(col("doc_id"), col("n_words"), col("mean_nll"),
        when(col("mean_nll") <= col("q1"), "head")
          .when(col("mean_nll") <= col("q2"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** a11: a08's buckets with SAMPLED thresholds — the corpus-scale
    * form of quantile bucketing. Exact percentiles over the full
    * column need every value in one sorted pass; when the quantile is
    * only a THRESHOLD (not a report), the standard move is exact
    * percentiles over a deterministic hash sample (~25% here — at
    * real scale a fixed-size sample), then a map-side bucket compare
    * for the whole corpus. Sampling error only shifts docs near the
    * tercile boundaries; the spec bounds disagreement vs a08's exact
    * buckets. The hash sample replays in SQL, so a11 is fully
    * oracle-checked — no sketch-opacity compromise. */
  def sampledTerciles(spark: SparkSession, dir: String): DataFrame = {
    val base = meanNllBase(spark, dir)
    val samp = base.filter(
      substring(md5(concat(lit("q"), col("doc_id").cast("string"))), 1, 4)
        < "4000")
    val qs = samp.agg(
      percentile(col("mean_nll"), lit(1.0 / 3)).as("q1"),
      percentile(col("mean_nll"), lit(2.0 / 3)).as("q2"))
    base.crossJoin(broadcast(qs))
      .select(col("doc_id"), col("mean_nll"),
        when(col("mean_nll") <= col("q1"), "head")
          .when(col("mean_nll") <= col("q2"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** a10: DSIR importance resampling — select 50 raw-pool docs whose
    * hashed-bigram distribution matches the `src0` target domain
    * (Gumbel-top-k over smoothed log importance ratios; see
    * [[graft.sample.Dsir]]). On the synthetic corpus every source
    * draws from the same word soup, so the selection is driven by the
    * bucket-level sampling noise the estimator is designed to detect
    * — the oracle replays model building, scoring, and the Gumbel
    * perturbation exactly. */
  def dsirResample(spark: SparkSession, dir: String): DataFrame =
    graft.sample.Dsir.importanceResample(spark,
      Tables(spark, dir).documents.select(col("doc_id"), col("text"),
        col("source")),
      targetSource = "src0")

  /** a12: bigram language-model scoring — the 2-gram step up from
    * a08's unigram CCNet stand-in (Wenzek et al. 2020 filter with a
    * 5-gram KenLM; the seam is identical — swap this corpus-trained
    * model for real LM scores at the same join). Add-one (Laplace)
    * smoothed conditional: P(w2|w1) = (c(w1w2)+1)/(c(w1·)+V), with
    * c(w1·) the count of bigrams starting w1 and V the corpus
    * vocabulary size. Per doc: mean of round(−ln P, 9) over its
    * bigrams through decimal sums (order-independent, the a08
    * discipline). Bigram extraction is a let-bound scan-stage array
    * transform; model counts are two linear groupBys joined back by
    * bigram key — inverted-index shapes only, nothing quadratic. */
  def bigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val bg = docs.select(col("doc_id"),
        explode(graft.core.Expr.let(TextOps.words(col("text"))) { ws =>
          when(size(ws) < 2,
            array().cast("array<struct<w1:string,w2:string>>"))
            .otherwise(transform(sequence(lit(1), size(ws) - 1), i =>
              struct(element_at(ws, i).as("w1"),
                element_at(ws, i + 1).as("w2"))))
        }).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bgShared = graft.core.Caches.cut(bg)
    val bgCounts = bgShared.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cb"))
    val prefCounts = bgShared.groupBy(col("w1")).agg(count(lit(1)).as("cp"))
    val vocab = docs.select(explode(TextOps.words(col("text"))).as("w"))
      .agg(countDistinct(col("w")).as("vv"))
    val scored = bgShared
      .join(bgCounts, Seq("w1", "w2")).join(prefCounts, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        round(-log((col("cb").cast("double") + 1.0) /
          (col("cp").cast("double") + col("vv").cast("double"))), 9)
          .cast("decimal(28,9)").as("nll"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nb"), sum(col("nll")).as("s"))
    docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("nb"), lit(0L)).as("n_bigrams"),
        round(coalesce(col("s").cast("double") / col("nb").cast("double"),
          lit(0.0)), 6).as("mean_nll"))
      .orderBy(col("doc_id"))
  }

  /** a13: metadata association audit — mutual information and the
    * χ² independence statistic between two categorical columns
    * (lang × source), the datasheet-level check for "is this signal
    * confounded with that one?" before a column is trusted as a
    * sampling/stratification key. One groupBy for the joint counts,
    * two for marginals, N from one aggregate; the term relation is
    * the FULL marginal cross grid (cardinality |lang|·|source| —
    * label counts, always tiny) so absent cells pay their χ²
    * expected-count term. MI terms (p·ln p-ratio) and χ² terms
    * ((o−e)²/e) round at 9 decimals then decimal-sum, so both
    * statistics are order-independent and bitwise-replayable in the
    * oracle. */
  def miChi2(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val joint = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("nxy0"))
    val mx = docs.groupBy(col("lang")).agg(count(lit(1)).as("nx"))
    val my = docs.groupBy(col("source")).agg(count(lit(1)).as("ny"))
    val tot = docs.agg(count(lit(1)).as("n"),
      countDistinct(col("lang")).as("cx"),
      countDistinct(col("source")).as("cy"))
    val d = (c: org.apache.spark.sql.Column) => c.cast("double")
    val e = d(col("nx")) * d(col("ny")) / d(col("n"))
    // the FULL cx×cy grid, not just observed combos: χ² owes every
    // absent cell its (0−e)²/e = e contribution — exactly the cells a
    // strongly-confounded pair produces — or the strongest
    // associations would report the most understated statistic. MI
    // keeps the standard 0·ln0 = 0 convention for those cells.
    val grid = mx.crossJoin(my)
      .join(joint, Seq("lang", "source"), "left")
      .select(col("nx"), col("ny"),
        coalesce(col("nxy0"), lit(0L)).as("nxy"))
    grid.crossJoin(broadcast(tot))
      .select(col("cx"), col("cy"), col("n"),
        when(col("nxy") > 0,
          round((d(col("nxy")) / d(col("n"))) *
            log((d(col("nxy")) * d(col("n"))) / (d(col("nx")) * d(col("ny")))), 9))
          .otherwise(lit(0.0))
          .cast("decimal(28,9)").as("mi_term"),
        round((d(col("nxy")) - e) * (d(col("nxy")) - e) / e, 9)
          .cast("decimal(28,9)").as("chi2_term"))
      .groupBy(col("cx"), col("cy"), col("n"))
      .agg(round(sum(col("mi_term")).cast("double"), 6).as("mi"),
        round(sum(col("chi2_term")).cast("double"), 6).as("chi2"))
      .select(col("mi"), col("chi2"),
        ((col("cx") - 1) * (col("cy") - 1)).as("dof"), col("n"))
  }

  /** a14 planting: a VALID test card for doc_id < 50, a Luhn-FAILING
    * near-miss (last digit bumped) for 50 ≤ doc_id < 100 — the
    * checksum must accept the first and reject the second, which a
    * pattern-only scrubber (a05) cannot distinguish. */
  private val validCard = "4539 1488 0343 6467"
  private val invalidCard = "4539 1488 0343 6468"
  private def withPlantedCards(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents.select(col("doc_id"),
      when(col("doc_id") < 50,
        concat(col("text"), lit(s" pay $validCard now")))
        .when(col("doc_id") < 100,
          concat(col("text"), lit(s" pay $invalidCard now")))
        .otherwise(col("text")).as("text"))

  /** a14: Luhn-validated card redaction — the checksum tier of the
    * PII scrub (a05 is pattern-only): candidate digit runs from one
    * regex pass, each VALIDATED by the Luhn fold
    * ([[TextAnalysis.luhnValid]]), and only validated numbers redact.
    * Scan-stage: regex + a ≤19-step integer fold per candidate, no
    * shuffle; false-positive digit runs (invoice ids, timestamps)
    * survive untouched, which is exactly why production scrubbers
    * checksum before redacting.
    *
    * Declared limitations (shared with regex-candidate scrubbers
    * generally, and mirrored by the oracle): two cards adjacent with
    * no non-digit gap merge into one over-length candidate and
    * neither redacts (the greedy non-overlapping match cannot split
    * them — a boundary-anchored `(?<!\\d)` pattern would, but
    * lookaround sits outside the Java∩RE2 subset the oracle can
    * replay); and `replace` rewrites a validated number wherever it
    * occurs, including inside a longer unvalidated digit run that
    * happens to embed it. */
  def luhnRedact(spark: SparkSession, dir: String): DataFrame = {
    val cands = call_function("regexp_extract_all", col("text"),
      lit("[0-9][0-9 -]{10,22}[0-9]"), lit(0))
    val valid = filter(col("cands"), c =>
      TextAnalysis.luhnValid(regexp_replace(c, "[ -]", "")))
    withPlantedCards(spark, dir)
      .select(col("doc_id"), col("text"), cands.as("cands"))
      .select(col("doc_id"), col("text"), valid.as("valid"))
      .select(col("doc_id"),
        size(col("valid")).cast("long").as("n_cards"),
        aggregate(col("valid"), col("text"),
          (acc, c) => replace(acc, c, lit("<card>"))).as("text_redacted"))
      .orderBy(col("doc_id"))
  }

  /** a15: corpus heavy hitters through the Misra–Gries sketch
    * ([[HeavyHitters.MisraGries]]) — top-20 words by estimated count.
    * Capacity 4096 far exceeds this corpus's vocabulary, so the
    * sketch runs in its EXACT regime and the oracle hash-checks it
    * against plain word counts (the r14-twins-r13 discipline; the
    * sub-capacity error bound is spec-covered). The aggregation is a
    * true partial: each partition reduces tokens into one
    * `capacity`-bounded map and only maps shuffle — the plan a 100 TB
    * vocabulary needs, where the exact groupBy's shuffle of billions
    * of distinct tokens is the thing this operator exists to avoid. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables(spark, dir).documentsSpread
      .select(explode(TextOps.words(col("text"))).as("tok"))
    val sketch = toks.agg(HeavyHitters.mg(4096)(col("tok")).as("mg"))
      .select(explode(col("mg")).as(Seq("word", "est_count")))
    val w = Window.orderBy(col("est_count").desc, col("word"))
    // rank over ≤capacity sketch rows — never over raw tokens
    sketch.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 20)
      .select(col("rank").cast("long").as("rank"), col("word"),
        col("est_count"))
      .orderBy(col("rank"))
  }

  /** a16: per-language QUALITY CAP — the corpus-balancing truncation
    * (keep the best [[CapPerLang]] documents of each language, drop the
    * rest): over-represented sources get capped by quality rank, not
    * random-dropped, which is how Common-Crawl-scale mixes bound a
    * dominant language without throwing away its best documents. Rank
    * = row_number over (quality desc, doc_id) per lang — one shuffle
    * on lang, rank within partition. At corpus scale a skewed
    * language holds its whole partition — [[capByQuality]] is the
    * scale form (a20); at 50 per lang over the synthetic mix the
    * plain window is the honest shape, and it is the reference the
    * specs hold the scale form to. */
  def qualityCap(spark: SparkSession, dir: String): DataFrame =
    qualityCapOf(Tables(spark, dir).documents, CapPerLang)

  private val CapPerLang = 50

  private[graft] def qualityCapOf(docs: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("quality").desc, col("doc_id"))
    docs
      .select(col("doc_id"), col("lang"),
        round(TextAnalysis.qualityScore(col("text")), 6).as("quality"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= n)
      .select(col("doc_id"), col("lang"), col("quality"),
        col("rk").cast("long").as("rk"))
      .orderBy(col("lang"), col("rk"))
  }

  /** a20: a16 through the scale form [[capByQuality]] — identical
    * result (same oracle SQL, the full-window replay), keyed on the
    * raw `lang`, so a null language is its own group exactly as in
    * a16's `PARTITION BY lang`. */
  def qualityCapScaled(spark: SparkSession, dir: String): DataFrame =
    qualityCapScaledOf(Tables(spark, dir).documents, CapPerLang)

  private[graft] def qualityCapScaledOf(docs: DataFrame, n: Int): DataFrame =
    capByQuality(docs.select(col("doc_id"), col("lang"),
        TextAnalysis.qualityScore(col("text")).as("quality")),
        col("lang"), col("quality"), n)
      .select(col("doc_id"), col("lang"), col("_q").as("quality"),
        col("_rk").cast("long").as("rk"))
      .orderBy(col("lang"), col("rk"))

  /** The quality cap as a pipeline stage: keep the top `n` rows of
    * each `key` group of a frame with a `doc_id` column, by
    * (round(quality, 6) desc, doc_id), with every input column plus
    * the rounded quality `_q` and the in-group rank `_rk`. The stage
    * cuts its input, so a caller that does not need the text passes
    * its quality pre-computed and leaves the text out (content never
    * enters a checkpoint it does not have to).
    *
    * Scale shape, so a dominant group never funnels its whole corpus
    * through one rank partition:
    *  - threshold: each group's n-th largest quality, counting
    *    duplicates, from the 6-dp-COLLAPSED per-(key, quality) counts
    *    — one map-side-combining groupBy to ≤ 1,000,001 rows per group
    *    and a cumulative window over that bounded relation. Its state
    *    is bounded by the value domain, not by `n`, so it serves a
    *    constant cap (a20's 50) and a budget that grows with the
    *    corpus (p02's median count) alike;
    *  - prefilter: a broadcast join of the thresholds on the
    *    null-safe key keeps `quality >= nth` (≤ n + ties rows per
    *    group). A group with fewer than n rows has no threshold and
    *    keeps everything;
    *  - rank: row_number over the survivors only.
    * Equality with the full window: every row with quality > nth has
    * full rank < n; threshold-tie rows are all kept and rank among
    * themselves by doc_id as in the full window; every dropped row has
    * at least n rows ahead of it. */
  private[graft] def capByQuality(docs: DataFrame, key: Column,
                                  quality: Column, n: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n > 0, "cap must be positive")
    val scored = graft.core.Caches.cut(
      docs.withColumn("_q", round(quality, 6)).withColumn("_gk", key))
    val wq = Window.partitionBy(col("_tk")).orderBy(col("_q").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = scored.groupBy(col("_gk").as("_tk"), col("_q"))
      .agg(count(lit(1)).as("_c"))
      .withColumn("_cum", sum(col("_c")).over(wq))
      .filter(col("_cum") >= n)
      .groupBy(col("_tk")).agg(max(col("_q")).as("_q_nth"))
    val w = Window.partitionBy(col("_gk"))
      .orderBy(col("_q").desc, col("doc_id"))
    scored.join(broadcast(thr), col("_gk") <=> col("_tk"), "left")
      .filter(col("_q") >=
        coalesce(col("_q_nth"), lit(Double.NegativeInfinity)))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= n)
      .drop("_gk", "_tk", "_q_nth")
  }

  /** a18: cross-source n-gram overlap matrix — the datasheet table
    * every multi-source corpus publishes (e.g. the component-overlap
    * audits in Pile/Dolma-style datasheets): for each source pair,
    * the count and Jaccard of shared distinct word-3-gram shingles.
    * Scale shape: distinct (source, 60-bit shingle hash) rows — the
    * d02 hashing discipline — then a self-join keyed on the SHINGLE;
    * per-key fan-out is bounded by |sources|² (a constant), never by
    * corpus size, unlike doc-pair joins. The final grid is the full
    * source×source upper triangle (a13's absent-cell discipline:
    * non-overlapping pairs report 0, not absence) — the source list
    * comes from `documents`, not the shingle table, so a source whose
    * documents are all <3 words (zero shingles) still gets its grid
    * rows with n=0 rather than vanishing. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlapOf(Tables(spark, dir).documents)

  private[graft] def sourceOverlapOf(docs: DataFrame): DataFrame = {
    val sh = graft.core.Caches.cut(
      docs
        .select(col("source"),
          explode(graft.dedup.Dedup.shingles(col("text"), 3)).as("s"))
        .select(col("source"), graft.dedup.Dedup.hash60(col("s")).as("sh"))
        .distinct())
    val sizes = docs.select(col("source")).distinct()
      .join(sh.groupBy(col("source")).agg(count(lit(1)).as("cnt")),
        Seq("source"), "left")
      .select(col("source"), coalesce(col("cnt"), lit(0L)).as("n"))
    val common = sh.as("a").join(sh.as("b"), col("a.sh") === col("b.sh"))
      .filter(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("c"))
    val d = (c: org.apache.spark.sql.Column) => c.cast("double")
    sizes.select(col("source").as("source_a"), col("n").as("n_a"))
      .crossJoin(broadcast(
        sizes.select(col("source").as("source_b"), col("n").as("n_b"))))
      .filter(col("source_a") < col("source_b"))
      .join(common, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        coalesce(col("c"), lit(0L)).as("n_common"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_common"),
        // a shingle-free pair has denominator 0 — report jaccard 0,
        // not NaN (the absent-cell contract extends to the value)
        round(when(col("n_a") + col("n_b") - col("n_common") === 0, lit(0.0))
          .otherwise(d(col("n_common")) /
            d(col("n_a") + col("n_b") - col("n_common"))), 6).as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val DriftBuckets = 256

  /** a19: per-source distribution-drift report — KL(source ‖ corpus)
    * over add-1-smoothed hashed-unigram bucket models (the a08/DSIR
    * bucket discipline: the model is [[DriftBuckets]] rows regardless
    * of vocabulary, so every per-bucket relation broadcasts at any
    * corpus size). The mixture-monitoring number: which source's
    * token distribution is drifting from the corpus average, e.g.
    * after an ingest or filter change. Terms are computed on the FULL
    * source×bucket grid (absent buckets pay their smoothed term),
    * rounded at 9 decimals and decimal-summed so the statistic is
    * order-independent and bitwise-replayable. */
  def sourceDrift(spark: SparkSession, dir: String): DataFrame =
    sourceDriftOf(Tables(spark, dir).documents)

  private[graft] def sourceDriftOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val B = DriftBuckets
    val toks = graft.core.Caches.cut(
      docs
        .select(col("source"), explode(TextOps.words(col("text"))).as("w"))
        .select(col("source"),
          pmod(graft.dedup.Dedup.hash60(col("w")), lit(B.toLong)).as("b")))
    val joint = toks.groupBy(col("source"), col("b")).agg(count(lit(1)).as("c"))
    val ts = toks.groupBy(col("source")).agg(count(lit(1)).as("t_s"))
    val cb = toks.groupBy(col("b")).agg(count(lit(1)).as("c_b"))
    val tot = toks.agg(count(lit(1)).as("t"))
    val buckets = spark.range(0, B).select(col("id").as("b"))
    val d = (c: org.apache.spark.sql.Column) => c.cast("double")
    val p = d(coalesce(col("c"), lit(0L)) + 1) / d(col("t_s") + B)
    val q = d(coalesce(col("c_b"), lit(0L)) + 1) / d(col("t") + B)
    ts.crossJoin(broadcast(buckets))
      .join(joint, Seq("source", "b"), "left")
      .join(broadcast(cb), Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("t_s"),
        round(p * log(p / q), 9).cast("decimal(28,9)").as("term"))
      .groupBy(col("source"), col("t_s"))
      .agg(round(sum(col("term")).cast("double"), 6).as("kl"))
      .select(col("source"), col("t_s").as("n_tokens"), col("kl"))
      .orderBy(col("source"))
  }

  /** a21: per-document character-entropy report — the classic
    * low-entropy junk detector (binary blobs, repeated-character
    * padding, template spam score near 0; natural prose sits around
    * 4–4.5 bits/char): Shannon entropy over the document's code
    * points, plus the character count and distinct-alphabet size.
    * C4/Gopher-era pipelines use exactly this signal to drop
    * machine-generated or binary-contaminated pages that pass
    * length/stopword checks (cf. reference quality filtering,
    * `Neww_Fai.py` page-quality gating; the formula is public
    * information theory).
    *
    * Characters are code points via `regexp_extract_all('[\s\S]')`
    * on BOTH engines — Java regex and RE2 both match a class per
    * code point, so surrogate pairs count once (a raw split("")
    * would halve astral characters on the JVM side only).
    *
    * Determinism: H = (ln N − (Σ n_c·ln n_c)/N)/ln 2 with each
    * n_c·ln n_c term rounded to 9 decimals and summed through
    * DECIMAL(28,9) (the a08/a19 discipline), so the sum is
    * order-independent; `+ 0.0` collapses a −0.0 from the uniform
    * single-character edge on both engines. Scale shape: the explode
    * stays inside whole-stage codegen (never materialized) and both
    * aggregations partial map-side — the (doc, char) shuffle carries
    * at most the per-doc alphabet, the doc shuffle one row per doc.
    * Empty documents report (0, 0, 0.0) via the left join, not
    * absence. */
  def charEntropy(spark: SparkSession, dir: String): DataFrame =
    charEntropyOf(Tables(spark, dir).documents)

  private[graft] def charEntropyOf(docs: DataFrame): DataFrame = {
    val d = (c: org.apache.spark.sql.Column) => c.cast("double")
    val ch = docs.select(col("doc_id"),
      explode(regexp_extract_all(col("text"), lit("[\\s\\S]"), lit(0))).as("ch"))
    val per = ch.groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("cnt"))
      .select(col("doc_id"), col("cnt"),
        round(d(col("cnt")) * log(d(col("cnt"))), 9)
          .cast("decimal(28,9)").as("term"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n"), count(lit(1)).as("n_uniq"),
        sum(col("term")).as("s"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(0L)).as("n_chars"),
        coalesce(col("n_uniq"), lit(0L)).as("n_uniq"),
        (round(coalesce(
          (log(d(col("n"))) - d(col("s")) / d(col("n"))) / log(lit(2.0)),
          lit(0.0)), 6) + lit(0.0)).as("entropy"))
      .orderBy(col("doc_id"))
  }

  /** a22: per-source exact-duplication datasheet — for every source
    * the doc count, distinct-content count, within-source duplicate
    * count/rate, and how many of its content digests also appear in
    * ANOTHER source (the cross-source contamination column of a
    * corpus datasheet; cf. Dolma/Pile per-source dedup tables). The
    * synthetic corpus is dup-free, so duplication is PLANTED
    * deterministically on both engines (the a14/n18 discipline):
    * docs with id < 60 duplicated into their own source, docs with
    * id < 30 mirrored into a synthetic 'mirror' source.
    *
    * Scale shape: one digest groupBy (the d01 shape, map-side
    * partial), a digest-level source count (rows bounded by distinct
    * digests), and a per-source rollup — no joins keyed wider than
    * the digest. */
  def sourceDedupRate(spark: SparkSession, dir: String): DataFrame =
    sourceDedupRateOf(Tables(spark, dir).documents)

  private[graft] def sourceDedupRateOf(docs0: DataFrame): DataFrame = {
    val base = docs0.select(col("doc_id"), col("source"), col("text"))
    val within = base.filter(col("doc_id") < 60)
      .select((col("doc_id") + 200000).as("doc_id"), col("source"), col("text"))
    val cross = base.filter(col("doc_id") < 30)
      .select((col("doc_id") + 300000).as("doc_id"),
        lit("mirror").as("source"), col("text"))
    val aug = base.unionByName(within).unionByName(cross)
    val byDig = graft.core.Caches.cut(
      aug.select(col("source"), md5(col("text")).as("dig"))
        .groupBy(col("source"), col("dig")).agg(count(lit(1)).as("cnt")))
    val nSources = byDig.groupBy(col("dig")).agg(count(lit(1)).as("n_sources"))
    byDig.join(nSources, Seq("dig"))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_docs"),
        count(lit(1)).as("n_distinct"),
        (sum(col("cnt")) - count(lit(1))).as("dup_docs"),
        round((sum(col("cnt")) - count(lit(1))).cast("double") /
          sum(col("cnt")).cast("double"), 6).as("dup_rate"),
        sum(when(col("n_sources") >= 2, 1L).otherwise(0L)).as("shared_digests"))
      .orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a22_source_dedup_rate" -> sourceDedupRate,
    "a18_source_overlap" -> sourceOverlap,
    "a21_char_entropy" -> charEntropy,
    "a19_source_drift" -> sourceDrift,
    "a15_heavy_hitters" -> heavyHitters,
    "a16_quality_cap" -> ((s, d) => qualityCap(s, d)),
    "a20_quality_cap_scaled" -> ((s, d) => qualityCapScaled(s, d)),
    "a01_lang_id" -> langId,
    "a12_bigram_logprob" -> bigramLogprob,
    "a13_mi_chi2" -> miChi2,
    "a14_luhn_redact" -> luhnRedact,
    "a10_dsir_resample" -> dsirResample,
    "a11_sampled_terciles" -> sampledTerciles,
    "a02_quality" -> quality,
    "a03_fingerprint" -> fingerprint,
    "a04_repetition" -> repetition,
    "a05_pii_redact" -> piiRedact,
    "a06_mixture_sample" -> mixtureSample,
    "a17_mixture_budget" -> mixtureBudget,
    "a07_c4_clean" -> c4Clean,
    "a08_unigram_logprob" -> unigramLogprob,
    "a09_gopher_repetition" -> gopherRepetition)

  private val profiles = TextAnalysis.Profiles

  private val wordsCte = s"""
    |w AS (SELECT doc_id, text, ${TextOps.wordsSql("text")} AS words
    |  FROM documents)""".stripMargin

  /** The planted-lines derivation (`l1` = doc_id, lines) shared by the
    * a07 oracle and DedupPack's d17 — the SQL twin of
    * [[withPlantedLines]]. Self-contained WITH body (brings its own
    * words CTE). The string-concat operator sits at END of line: this
    * constant is interpolated into oracle strings that stripMargin
    * AFTER interpolation, and a line-leading concat operator would be
    * eaten as a margin character. */
  private[graft] val plantedLinesCte: String = s"""$wordsCte,
    |l0 AS (SELECT doc_id,
    |  CASE WHEN len(words) = 0 THEN []
    |   ELSE list_transform(range(0, CAST(ceil(len(words) / 8.0) AS BIGINT)),
    |     i -> array_to_string(words[CAST(i*8+1 AS BIGINT):CAST(i*8+8 AS BIGINT)], ' ') ${"||"}
    |          CASE WHEN i % 2 = 0 THEN '.' ELSE '' END)
    |  END AS body FROM w),
    |l1 AS (SELECT doc_id, list_concat(list_concat(body,
    |    CASE WHEN doc_id % 7 = 0 THEN ['javascript void menu here.'] ELSE [] END),
    |    CASE WHEN doc_id % 11 = 0 THEN ['lorem ipsum dolor sit.'] ELSE [] END) AS lines
    |  FROM l0)""".stripMargin

  /** SQL replay of a02's quality score over relation `rel` (doc_id,
    * text, plus any comma-free `carry` column passed through) — CTEs
    * qw/qs with qs = (doc_id[, carry], quality). Shared by the a16, a20
    * and d18 oracles; the formula is [[TextAnalysis.qualityOfSql]]'s. */
  private[graft] def qualityCtes(rel: String, carry: String = ""): String = {
    val c = if (carry.isEmpty) "" else s"$carry, "
    s"""qw AS (SELECT doc_id, ${c}text, ${TextOps.wordsSql("text")} AS words FROM $rel),
    |qs AS (SELECT doc_id, $c
    |  round(${TextAnalysis.qualityOfSql("words", "text")}, 6) AS quality
    |  FROM qw)""".stripMargin
  }

  /** The per-doc mean-NLL chain (`b`) shared by the a08/a11 oracles —
    * assumes the `w` words CTE in scope. */
  private val meanNllSql = """
    |u AS (SELECT doc_id, unnest(words) AS wd FROM w),
    |c AS (SELECT wd, count(*) AS cnt FROM u GROUP BY wd),
    |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM c),
    |s AS (SELECT u.doc_id, count(*) AS nw,
    |   sum(CAST(round(-ln(CAST(c.cnt AS DOUBLE) / CAST(t.t AS DOUBLE)), 9)
    |       AS DECIMAL(28,9))) AS s
    |  FROM u JOIN c USING (wd), t GROUP BY u.doc_id),
    |b AS (SELECT d.doc_id,
    |   CAST(coalesce(s.nw, 0) AS BIGINT) AS n_words,
    |   round(coalesce(CAST(s.s AS DOUBLE) / CAST(s.nw AS DOUBLE), 0.0), 6) AS mean_nll
    |  FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "a22_source_dedup_rate" -> s"""
      |WITH aug AS (SELECT doc_id, source, text FROM documents
      |  UNION ALL SELECT doc_id + 200000, source, text FROM documents WHERE doc_id < 60
      |  UNION ALL SELECT doc_id + 300000, 'mirror', text FROM documents WHERE doc_id < 30),
      |bd AS (SELECT source, md5(text) AS dig, count(*) AS cnt FROM aug GROUP BY 1, 2),
      |ns AS (SELECT dig, count(*) AS n_sources FROM bd GROUP BY dig)
      |SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs,
      |  count(*) AS n_distinct,
      |  CAST(sum(cnt) - count(*) AS BIGINT) AS dup_docs,
      |  round(CAST(sum(cnt) - count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6) AS dup_rate,
      |  CAST(sum(CASE WHEN n_sources >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS shared_digests
      |FROM bd JOIN ns USING (dig) GROUP BY source ORDER BY source""".stripMargin,
    "a21_char_entropy" -> s"""
      |WITH ch AS (SELECT doc_id, unnest(regexp_extract_all(text, '[\\s\\S]')) AS ch
      |  FROM documents),
      |c AS (SELECT doc_id, ch, count(*) AS cnt FROM ch GROUP BY 1, 2),
      |p AS (SELECT doc_id, sum(cnt) AS n, count(*) AS n_uniq,
      |    sum(CAST(round(CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE)), 9)
      |        AS DECIMAL(28,9))) AS s
      |  FROM c GROUP BY 1)
      |SELECT d.doc_id, CAST(coalesce(p.n, 0) AS BIGINT) AS n_chars,
      |  CAST(coalesce(p.n_uniq, 0) AS BIGINT) AS n_uniq,
      |  round(coalesce((ln(CAST(p.n AS DOUBLE)) - CAST(p.s AS DOUBLE)
      |      / CAST(p.n AS DOUBLE)) / ln(2.0), 0.0), 6) + 0.0 AS entropy
      |FROM documents d LEFT JOIN p ON p.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin,
    "a18_source_overlap" -> s"""
      |WITH w AS (SELECT source, ${TextOps.wordsSql("text")} AS words FROM documents),
      |sh AS (SELECT DISTINCT source, ${Dedup.hexIntSql("md5(s)", 1, 15)} AS sh
      |  FROM (SELECT source, unnest(CASE WHEN len(words) >= 3
      |    THEN list_transform(range(1, len(words) - 1),
      |         i -> array_to_string(words[i:i+2], ' '))
      |    ELSE [] END) AS s FROM w)),
      |sz AS (SELECT ds.source, coalesce(sc.n, 0) AS n
      |  FROM (SELECT DISTINCT source FROM documents) ds
      |  LEFT JOIN (SELECT source, count(*) AS n FROM sh GROUP BY source) sc
      |    ON sc.source = ds.source),
      |cm AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS c
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source GROUP BY 1, 2),
      |g AS (SELECT sa.source AS source_a, sb.source AS source_b,
      |    sa.n AS n_a, sb.n AS n_b
      |  FROM sz sa, sz sb WHERE sa.source < sb.source)
      |SELECT g.source_a, g.source_b, CAST(n_a AS BIGINT) AS n_a,
      |  CAST(n_b AS BIGINT) AS n_b, CAST(coalesce(c, 0) AS BIGINT) AS n_common,
      |  round(CASE WHEN n_a + n_b - coalesce(c, 0) = 0 THEN 0.0
      |    ELSE CAST(coalesce(c, 0) AS DOUBLE)
      |      / CAST(n_a + n_b - coalesce(c, 0) AS DOUBLE) END, 6) AS jaccard
      |FROM g LEFT JOIN cm ON cm.source_a = g.source_a AND cm.source_b = g.source_b
      |ORDER BY g.source_a, g.source_b""".stripMargin,
    "a19_source_drift" -> s"""
      |WITH tk AS (SELECT source, ${Dedup.hexIntSql("md5(wd)", 1, 15)} % $DriftBuckets AS b
      |  FROM (SELECT source, unnest(${TextOps.wordsSql("text")}) AS wd FROM documents)),
      |j AS (SELECT source, b, count(*) AS c FROM tk GROUP BY 1, 2),
      |ts AS (SELECT source, count(*) AS t_s FROM tk GROUP BY 1),
      |cb AS (SELECT b, count(*) AS c_b FROM tk GROUP BY 1),
      |tt AS (SELECT count(*) AS t FROM tk),
      |g AS (SELECT ts.source, ts.t_s, r.range AS b FROM ts, range(0, $DriftBuckets) r),
      |terms AS (SELECT g.source, g.t_s,
      |    CAST(round(
      |      (CAST(coalesce(j.c, 0) + 1 AS DOUBLE) / CAST(g.t_s + $DriftBuckets AS DOUBLE))
      |      * ln((CAST(coalesce(j.c, 0) + 1 AS DOUBLE) / CAST(g.t_s + $DriftBuckets AS DOUBLE))
      |        / (CAST(coalesce(cb.c_b, 0) + 1 AS DOUBLE) / CAST(tt.t + $DriftBuckets AS DOUBLE))),
      |      9) AS DECIMAL(28,9)) AS term
      |  FROM g LEFT JOIN j ON j.source = g.source AND j.b = g.b
      |  LEFT JOIN cb ON cb.b = g.b, tt)
      |SELECT source, CAST(t_s AS BIGINT) AS n_tokens,
      |  round(CAST(sum(term) AS DOUBLE), 6) AS kl
      |FROM terms GROUP BY 1, 2 ORDER BY source""".stripMargin,
    "a16_quality_cap" -> s"""
      |WITH ${qualityCtes("documents", "lang")},
      |r AS (SELECT doc_id, lang, quality,
      |    row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rk
      |  FROM qs)
      |SELECT doc_id, lang, quality, CAST(rk AS BIGINT) AS rk
      |FROM r WHERE rk <= 50 ORDER BY lang, rk""".stripMargin,
    // a20 = a16's result through the skew-escaped plan; the oracle is
    // the SAME full-window replay — the whole point is hash-equality
    "a20_quality_cap_scaled" -> s"""
      |WITH ${qualityCtes("documents", "lang")},
      |r AS (SELECT doc_id, lang, quality,
      |    row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rk
      |  FROM qs)
      |SELECT doc_id, lang, quality, CAST(rk AS BIGINT) AS rk
      |FROM r WHERE rk <= 50 ORDER BY lang, rk""".stripMargin,
    "a15_heavy_hitters" -> s"""
      |WITH w AS (SELECT ${TextOps.wordsSql("text")} AS words FROM documents),
      |t AS (SELECT unnest(words) AS word FROM w),
      |c AS (SELECT word, count(*) AS est_count FROM t GROUP BY word),
      |r AS (SELECT word, est_count,
      |    row_number() OVER (ORDER BY est_count DESC, word) AS rank FROM c)
      |SELECT CAST(rank AS BIGINT) AS rank, word, CAST(est_count AS BIGINT) AS est_count
      |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin,
    "a10_dsir_resample" -> s"""
      |WITH w AS (SELECT doc_id, source, ${TextOps.wordsSql("text")} AS words FROM documents),
      |bg AS (SELECT doc_id, source, ${Dedup.hexIntSql("md5(s)", 1, 15)} % 1024 AS bucket
      |  FROM (SELECT doc_id, source, unnest(CASE WHEN len(words) >= 2
      |    THEN list_transform(range(1, len(words)),
      |         i -> array_to_string(words[i:i+1], ' '))
      |    ELSE [] END) AS s FROM w)),
      |tc AS (SELECT bucket, count(*) AS c FROM bg WHERE source = 'src0' GROUP BY 1),
      |tt AS (SELECT count(*) AS t FROM bg WHERE source = 'src0'),
      |rc AS (SELECT bucket, count(*) AS c FROM bg WHERE source <> 'src0' GROUP BY 1),
      |rt AS (SELECT count(*) AS t FROM bg WHERE source <> 'src0'),
      |terms AS (SELECT b.doc_id,
      |    CAST(round(ln(CAST(coalesce(tc.c, 0) + 1 AS DOUBLE) / CAST(tt.t + 1024 AS DOUBLE))
      |      - ln(CAST(coalesce(rc.c, 0) + 1 AS DOUBLE) / CAST(rt.t + 1024 AS DOUBLE)), 9)
      |      AS DECIMAL(28,9)) AS ts
      |  FROM bg b LEFT JOIN tc ON tc.bucket = b.bucket
      |  LEFT JOIN rc ON rc.bucket = b.bucket, tt, rt
      |  WHERE b.source <> 'src0'),
      |sc AS (SELECT doc_id, count(*) AS n_feats, CAST(sum(ts) AS DOUBLE) AS logw
      |  FROM terms GROUP BY 1),
      |pool AS (SELECT d.doc_id,
      |    CAST(coalesce(sc.n_feats, 0) AS BIGINT) AS n_feats,
      |    coalesce(sc.logw, 0.0) AS logw,
      |    round(coalesce(sc.logw, 0.0)
      |      + (-ln(-ln((${Dedup.hexIntSql("md5('dsir_' || CAST(d.doc_id AS VARCHAR))", 1, 4)} + 0.5) / 65536.0))), 6) AS score
      |  FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
      |  WHERE d.source <> 'src0'),
      |r AS (SELECT doc_id, n_feats, logw, score,
      |    row_number() OVER (ORDER BY score DESC, doc_id) AS rnk FROM pool)
      |SELECT doc_id, CAST(rnk AS BIGINT) AS rank, n_feats,
      |  round(logw, 6) AS logw, score
      |FROM r WHERE rnk <= 50 ORDER BY rank""".stripMargin,
    "a01_lang_id" -> s"""
      |WITH $wordsCte,
      |s AS (SELECT doc_id,
      |  ${profiles.map { case (n, p) =>
             s"${TextAnalysis.profileScoreSql("words", p)} AS s_$n"
           }.mkString(",\n  ")}
      | FROM w)
      |SELECT doc_id,
      | CASE ${profiles.init.map { case (n, _) =>
             s"WHEN s_$n = greatest(${profiles.map("s_" + _._1).mkString(", ")}) THEN '$n'"
           }.mkString(" ")}
      |      ELSE '${profiles.last._1}' END AS lang_detected,
      | CAST(greatest(${profiles.map("s_" + _._1).mkString(", ")}) AS BIGINT) AS score
      |FROM s ORDER BY doc_id""".stripMargin,
    "a02_quality" -> s"""
      |WITH $wordsCte
      |SELECT doc_id,
      |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha_chars,
      |  CAST(${TextAnalysis.punctCharsSql("text")} AS BIGINT) AS punct_chars,
      |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS digit_chars,
      |  round(${TextAnalysis.qualityOfSql("words", "text")}, 6) AS quality
      |FROM w ORDER BY doc_id""".stripMargin,
    "a03_fingerprint" -> s"""
      |WITH $wordsCte
      |SELECT doc_id,
      |  list_reduce([CAST(0 AS BIGINT)] || list_transform(words, x -> ${Dedup.hexIntSql("md5(x)", 1, 4)}),
      |    (acc, v) -> (acc * 31 + v) % 2147483647) AS fingerprint
      |FROM w ORDER BY doc_id""".stripMargin,
    "a04_repetition" -> s"""
      |WITH $wordsCte,
      |b AS (SELECT doc_id, words, len(words) AS n,
      |  CASE WHEN len(words) >= 2
      |    THEN list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i+1])
      |    ELSE [] END AS bg
      | FROM w),
      |m AS (SELECT doc_id, n, len(list_distinct(words)) AS d,
      |  coalesce(list_max(list_transform(list_distinct(bg),
      |    x -> len(list_filter(bg, y -> y = x)))), 0) AS topbg
      | FROM b)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_words,
      |  CAST(d AS BIGINT) AS distinct_words,
      |  round(CASE WHEN n > 0 THEN 1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE)
      |        ELSE 0.0 END, 6) AS dup_word_frac,
      |  CAST(topbg AS BIGINT) AS top_bigram_n,
      |  round(CASE WHEN n > 1 THEN CAST(topbg AS DOUBLE) / CAST(n - 1 AS DOUBLE)
      |        ELSE 0.0 END, 6) AS top_bigram_frac
      |FROM m ORDER BY doc_id""".stripMargin,
    "a05_pii_redact" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ssn = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
      val phone = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
      s"""
      |WITH p AS (SELECT doc_id,
      |  CASE WHEN doc_id < 100
      |    THEN text || ' reach u' || CAST(doc_id AS VARCHAR) || '$piiSuffix'
      |    ELSE text END AS text
      | FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '$email'))
      |     + len(regexp_extract_all(text, '$ssn'))
      |     + len(regexp_extract_all(text, '$phone')) AS BIGINT) AS n_pii,
      |  regexp_replace(regexp_replace(regexp_replace(text,
      |    '$email', '<email>', 'g'), '$ssn', '<ssn>', 'g'),
      |    '$phone', '<phone>', 'g') AS text_redacted
      |FROM p ORDER BY doc_id""".stripMargin
    },
    "a17_mixture_budget" -> s"""
      |WITH per AS (SELECT source, count(*) AS n_docs,
      |    CAST(sum(n_chars) AS BIGINT) AS tok_sum
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(sum(tok_sum) AS BIGINT) AS total,
      |  list_reduce(
      |    list_prepend(CAST(0.0 AS DOUBLE),
      |      list(sqrt(CAST(tok_sum AS DOUBLE)) ORDER BY source)),
      |    (a, b) -> a + b) AS w_total
      |  FROM per),
      |wa AS (SELECT p.source, p.n_docs, p.tok_sum, t.total,
      |    sqrt(CAST(p.tok_sum AS DOUBLE)) / t.w_total AS alpha,
      |    4.0 * CAST(p.tok_sum AS DOUBLE)
      |      / (sqrt(CAST(p.tok_sum AS DOUBLE)) / t.w_total) AS ratio
      |  FROM per p, tot t),
      |cap AS (SELECT min(ratio) AS min_ratio FROM wa),
      |b AS (SELECT wa.*, least(6.0 * CAST(total AS DOUBLE), min_ratio) AS bmax
      |  FROM wa, cap)
      |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, tok_sum,
      |  round(alpha, 6) AS alpha,
      |  round(alpha * bmax, 3) AS tokens_sel,
      |  round(alpha * bmax / CAST(tok_sum AS DOUBLE), 6) AS epochs,
      |  (ratio = bmax) AS binding
      |FROM b ORDER BY source""".stripMargin,
    "a06_mixture_sample" -> s"""
      |WITH per AS (SELECT source, count(*) AS n_docs,
      |    CAST(sum(n_chars) AS BIGINT) AS tok_sum
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
      |  list_reduce(
      |    list_prepend(CAST(0.0 AS DOUBLE),
      |      list(sqrt(CAST(tok_sum AS DOUBLE)) ORDER BY source)),
      |    (a, b) -> a + b) AS w_total
      |  FROM per),
      |r AS (SELECT p.source, p.n_docs, p.tok_sum,
      |  least(1.0, (0.5 * CAST(t.n_total AS DOUBLE))
      |    * (sqrt(CAST(p.tok_sum AS DOUBLE)) / t.w_total)
      |    / CAST(p.n_docs AS DOUBLE)) AS rate
      |  FROM per p, tot t),
      |rr AS (SELECT source, n_docs, tok_sum, rate,
      |    CAST(floor(rate * 65536) AS BIGINT) AS thresh16 FROM r),
      |s AS (SELECT d.source, count(*) AS n_sampled
      |  FROM documents d JOIN rr ON rr.source = d.source
      |  WHERE ${Dedup.hexIntSql("md5('7' || CAST(doc_id AS VARCHAR))", 1, 4)} < rr.thresh16
      |  GROUP BY d.source)
      |SELECT rr.source, CAST(rr.n_docs AS BIGINT) AS n_docs, rr.tok_sum,
      |  round(rr.rate, 6) AS rate, rr.thresh16,
      |  CAST(coalesce(s.n_sampled, 0) AS BIGINT) AS n_sampled
      |FROM rr LEFT JOIN s ON s.source = rr.source
      |ORDER BY rr.source""".stripMargin,
    "a07_c4_clean" -> s"""
      |WITH $plantedLinesCte,
      |k AS (SELECT doc_id, lines,
      |   list_filter(lines, l -> regexp_matches(l, '[.!?"]$$')
      |     AND len(string_split(l, ' ')) >= 3
      |     AND NOT contains(lower(l), 'javascript')) AS kept FROM l1),
      |p AS (SELECT doc_id, len(lines) AS n_lines, len(kept) AS n_kept,
      |   (NOT contains(lower(array_to_string(lines, chr(10))), 'lorem ipsum'))
      |   AND (NOT contains(lower(array_to_string(lines, chr(10))), '{'))
      |   AND len(kept) >= 5 AS page_keep,
      |   kept FROM k)
      |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
      |  CAST(n_kept AS BIGINT) AS n_kept, page_keep,
      |  CASE WHEN page_keep THEN array_to_string(kept, chr(10)) END AS cleaned
      |FROM p ORDER BY doc_id""".stripMargin,
    "a08_unigram_logprob" -> s"""
      |WITH $wordsCte,
      |$meanNllSql,
      |q AS (SELECT quantile_cont(mean_nll, 1.0/3) AS q1,
      |   quantile_cont(mean_nll, 2.0/3) AS q2 FROM b)
      |SELECT doc_id, n_words, mean_nll,
      |  CASE WHEN mean_nll <= q.q1 THEN 'head'
      |       WHEN mean_nll <= q.q2 THEN 'middle' ELSE 'tail' END AS bucket
      |FROM b, q ORDER BY doc_id""".stripMargin,
    "a11_sampled_terciles" -> s"""
      |WITH $wordsCte,
      |$meanNllSql,
      |q AS (SELECT quantile_cont(mean_nll, 1.0/3) AS q1,
      |   quantile_cont(mean_nll, 2.0/3) AS q2 FROM b
      |  WHERE substr(md5('q' || CAST(doc_id AS VARCHAR)), 1, 4) < '4000')
      |SELECT doc_id, mean_nll,
      |  CASE WHEN mean_nll <= q.q1 THEN 'head'
      |       WHEN mean_nll <= q.q2 THEN 'middle' ELSE 'tail' END AS bucket
      |FROM b, q ORDER BY doc_id""".stripMargin,
    "a09_gopher_repetition" -> {
      val topNs = Seq(2, 3, 4)
      val dupNs = Seq(5, 6, 7, 8, 9, 10)
      def gramCtes(n: Int) = s"""
        |g$n AS (SELECT doc_id, unnest(CASE WHEN len(words) >= $n
        |    THEN list_transform(range(1, len(words) - ${n - 2}),
        |         i -> array_to_string(words[i:i+${n - 1}], ' '))
        |    ELSE [] END) AS g FROM base),
        |u$n AS (SELECT doc_id, g, count(*) AS c FROM g$n GROUP BY doc_id, g)""".stripMargin
      val topCtes = topNs.map(n => s"""
        |t$n AS (SELECT doc_id, c * length(g) AS chars FROM (
        |   SELECT doc_id, g, c, row_number() OVER (PARTITION BY doc_id
        |     ORDER BY c DESC, g) AS rn FROM u$n) WHERE rn = 1)""".stripMargin)
      val dupCtes = dupNs.map(n => s"""
        |d$n AS (SELECT doc_id, sum(c * length(g)) AS chars
        |  FROM u$n WHERE c > 1 GROUP BY doc_id)""".stripMargin)
      def fracCol(alias: String, out: String) =
        s"round(CASE WHEN base.nc > 0 THEN coalesce(CAST($alias.chars AS DOUBLE), 0.0)" +
          s" / CAST(base.nc AS DOUBLE) ELSE 0.0 END, 6) AS $out"
      val joins = (topNs.map(n => s"t$n") ++ dupNs.map(n => s"d$n"))
        .map(a => s"LEFT JOIN $a ON $a.doc_id = base.doc_id").mkString("\n|")
      s"""
      |WITH $wordsCte,
      |base AS (SELECT doc_id, length(text) AS nc, words FROM w),
      |${(topNs ++ dupNs).map(gramCtes).mkString(",")},
      |${topCtes.mkString(",")},
      |${dupCtes.mkString(",")}
      |SELECT base.doc_id,
      |  ${(topNs.map(n => fracCol(s"t$n", s"top_${n}gram_frac")) ++
           dupNs.map(n => fracCol(s"d$n", s"dup_${n}gram_frac"))).mkString(",\n|  ")}
      |FROM base
      |$joins
      |ORDER BY base.doc_id""".stripMargin
    }) +
    ("a12_bigram_logprob" -> s"""
      |WITH $wordsCte,
      |bg AS (SELECT doc_id, words[i] AS w1, words[i + 1] AS w2
      |  FROM (SELECT doc_id, words,
      |          unnest(generate_series(1, len(words) - 1)) AS i
      |        FROM w WHERE len(words) >= 2)),
      |bc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2),
      |pc AS (SELECT w1, count(*) AS cp FROM bg GROUP BY w1),
      |v AS (SELECT count(DISTINCT wd) AS vv
      |      FROM (SELECT unnest(words) AS wd FROM w)),
      |sc AS (SELECT doc_id,
      |    CAST(round(-ln((CAST(cb AS DOUBLE) + 1.0)
      |      / (CAST(cp AS DOUBLE) + CAST(vv AS DOUBLE))), 9)
      |      AS DECIMAL(28,9)) AS nll
      |  FROM bg JOIN bc USING (w1, w2) JOIN pc USING (w1) CROSS JOIN v),
      |ag AS (SELECT doc_id, count(*) AS nb, sum(nll) AS s
      |       FROM sc GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(nb, 0) AS n_bigrams,
      |  round(coalesce(CAST(s AS DOUBLE) / CAST(nb AS DOUBLE), 0.0), 6) AS mean_nll
      |FROM documents d LEFT JOIN ag ON d.doc_id = ag.doc_id
      |ORDER BY d.doc_id""".stripMargin) +
    ("a13_mi_chi2" -> """
      |WITH j AS (SELECT lang, source, count(*) AS nxy0
      |           FROM documents GROUP BY lang, source),
      |mx AS (SELECT lang, count(*) AS nx FROM documents GROUP BY lang),
      |my AS (SELECT source, count(*) AS ny FROM documents GROUP BY source),
      |t AS (SELECT count(*) AS n, count(DISTINCT lang) AS cx,
      |        count(DISTINCT source) AS cy FROM documents),
      |g AS (SELECT mx.lang, my.source, mx.nx, my.ny,
      |        coalesce(j.nxy0, 0) AS nxy
      |      FROM mx CROSS JOIN my
      |      LEFT JOIN j ON j.lang = mx.lang AND j.source = my.source),
      |terms AS (SELECT cx, cy, n,
      |    CAST(CASE WHEN nxy > 0 THEN
      |      round((CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE))
      |        * ln((CAST(nxy AS DOUBLE) * CAST(n AS DOUBLE))
      |          / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))), 9)
      |      ELSE 0.0 END AS DECIMAL(28,9)) AS mi_term,
      |    CAST(round((CAST(nxy AS DOUBLE)
      |        - CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))
      |      * (CAST(nxy AS DOUBLE)
      |        - CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))
      |      / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)), 9)
      |      AS DECIMAL(28,9)) AS chi2_term
      |  FROM g CROSS JOIN t)
      |SELECT round(CAST(sum(mi_term) AS DOUBLE), 6) AS mi,
      |  round(CAST(sum(chi2_term) AS DOUBLE), 6) AS chi2,
      |  (cx - 1) * (cy - 1) AS dof, n
      |FROM terms GROUP BY cx, cy, n""".stripMargin) +
    ("a14_luhn_redact" -> s"""
      |WITH pl AS (SELECT doc_id,
      |    CASE WHEN doc_id < 50 THEN text || ' pay $validCard now'
      |         WHEN doc_id < 100 THEN text || ' pay $invalidCard now'
      |         ELSE text END AS text
      |  FROM documents),
      |cn AS (SELECT doc_id, text,
      |    regexp_extract_all(text, '[0-9][0-9 -]{10,22}[0-9]') AS cands
      |  FROM pl),
      |vf AS (SELECT doc_id, text,
      |    list_filter(cands, c ->
      |      len(regexp_replace(c, '[ -]', '', 'g')) BETWEEN 13 AND 19 AND
      |      list_reduce([0] || list_transform(
      |          generate_series(1, length(regexp_replace(c, '[ -]', '', 'g'))), i ->
      |        CASE WHEN i % 2 = 0
      |          THEN CAST(substr(reverse(regexp_replace(c, '[ -]', '', 'g')), i, 1) AS BIGINT) * 2
      |            - CASE WHEN CAST(substr(reverse(regexp_replace(c, '[ -]', '', 'g')), i, 1) AS BIGINT) * 2 > 9
      |                THEN 9 ELSE 0 END
      |          ELSE CAST(substr(reverse(regexp_replace(c, '[ -]', '', 'g')), i, 1) AS BIGINT)
      |        END), (a, b) -> a + b) % 10 = 0) AS valid
      |  FROM cn)
      |SELECT doc_id, CAST(len(valid) AS BIGINT) AS n_cards,
      |  list_reduce([text] || valid, (a, c) -> replace(a, c, '<card>')) AS text_redacted
      |FROM vf ORDER BY doc_id""".stripMargin)
}
