package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, document fingerprinting (builder brief; SURVEY.md
  * §7.4 note 5 ties them to the 100 TB posture).
  *
  * Everything is a per-row expression tree — no shuffle, no UDF —
  * so these run inside the scan stage at full codegen speed, which is
  * exactly where corpus filtering wants to be at 100 TB (drop rows
  * before anything shuffles).
  */
object TextAnalysis {

  /** Language profiles: token lists scored by occurrence. Their
    * tokens are also the stopword list of [[qualityScore]]. */
  val Profiles: Seq[(String, Seq[String])] = Seq(
    "db" -> Seq("join", "merge", "sort", "hash", "scan", "filter"),
    "en" -> Seq("the", "a", "of", "and"),
    "sp" -> Seq("spark", "stream", "batch", "window"))

  /** Occurrences of any profile token in the word sequence. */
  private[graft] def profileScore(words: Column, profile: Seq[String]): Column =
    aggregate(words, lit(0),
      (acc, w) => acc + when(w.isin(profile: _*), 1).otherwise(0))

  /** The DuckDB twin of [[profileScore]] over the word-list expression
    * `words`. */
  private[graft] def profileScoreSql(words: String, profile: Seq[String]): String =
    s"len(list_filter($words, x -> x IN (${profile.map(w => s"'$w'").mkString(", ")})))"

  /** N-gram/stopword-heuristic language ID: (detected, score).
    * Ties break toward the earlier profile — encode the same CASE
    * order in any oracle. Hit counts come from the native
    * [[graft.plans.ProfileHits]] byte-scan kernel (one pass per
    * profile, no split array, stays in whole-stage codegen); the
    * declarative [[profileScore]] twin is the spec cross-check. */
  def langId(text: Column): (Column, Column) = {
    val scores = Profiles.map { case (name, p) =>
      name -> graft.plans.ProfileHits.count(text, p)
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val detected = scores.init.foldRight(lit(scores.last._1)) {
      case ((name, s), rest) => when(s === best, name).otherwise(rest)
    }
    (detected, best)
  }

  /** Quality-signal columns (length/punct/stopword ratios) — native
    * one-pass byte-scan counters ([[graft.plans.CharClassCount]]);
    * the regex formulations below are the spec twins. */
  def alphaChars(text: Column): Column = graft.plans.CharClassCount.alpha(text)
  def punctChars(text: Column): Column = graft.plans.CharClassCount.punct(text)
  def digitChars(text: Column): Column = graft.plans.CharClassCount.digit(text)

  private[graft] def alphaCharsRegex(text: Column): Column =
    length(regexp_replace(text, "[^A-Za-z]", ""))
  private[graft] def punctCharsRegex(text: Column): Column =
    length(regexp_replace(text, "[A-Za-z0-9\\s]", ""))
  private[graft] def digitCharsRegex(text: Column): Column =
    length(regexp_replace(text, "[^0-9]", ""))

  /** Composite quality score in [0,1]: stopword presence + low punct
    * + reasonable length, the reference-style heuristic blend.
    * Word/stopword counts come from the native byte-scan kernels
    * ([[graft.plans.ProfileHits]]/[[graft.plans.WordTokenCount]] —
    * no split array, no interpreted lambda); identical values to the
    * declarative forms, spec-pinned. */
  def qualityScore(text: Column): Column = {
    // coalesce to -1 on null text: the engine's non-ANSI sessions run
    // with legacy sizeOfNull, where the declarative size(words) form
    // yields -1 — value parity includes the null row
    val n = coalesce(graft.plans.WordTokenCount.count(text), lit(-1L))
    val stopRatio = when(n > 0,
      graft.plans.ProfileHits.count(text, StopWords).cast("double")
        / n.cast("double"))
      .otherwise(lit(0.0))
    val punctRatio = when(length(text) > 0,
      punctChars(text).cast("double") / length(text).cast("double"))
      .otherwise(lit(0.0))
    val lenScore = least(lit(1.0), n.cast("double") / 100.0)
    lit(0.4) * stopRatio + lit(0.3) * (lit(1.0) - punctRatio) + lit(0.3) * lenScore
  }

  /** The stopword list of [[qualityScore]]. */
  private val StopWords = Profiles.flatMap(_._2)

  /** The DuckDB twin of [[punctCharsRegex]] over the SQL text `text`. */
  private[graft] def punctCharsSql(text: String): String =
    s"length(regexp_replace($text, '[A-Za-z0-9\\s]', '', 'g'))"

  /** The DuckDB twin of [[qualityScore]], unrounded like it, over SQL
    * expressions for the word count `n`, the stopword count `stopN`,
    * the punctuation count `punct` and the text length `textLen`. The
    * rendering is p02's byte-frozen text. */
  private[graft] def qualitySql(n: String, stopN: String, punct: String,
                                textLen: String): String =
    s"""0.4 * (CASE WHEN $n > 0 THEN CAST($stopN AS DOUBLE) / CAST($n AS DOUBLE) ELSE 0.0 END)
       |      + 0.3 * (1.0 - (CASE WHEN $textLen > 0
       |          THEN CAST($punct AS DOUBLE) / CAST($textLen AS DOUBLE) ELSE 0.0 END))
       |      + 0.3 * least(1.0, CAST($n AS DOUBLE) / 100.0)""".stripMargin

  /** [[qualitySql]] of the word-list expression `words` (its
    * [[graft.text.TextOps.wordsSql]] split) and its text `text`. */
  private[graft] def qualityOfSql(words: String, text: String): String =
    qualitySql(s"len($words)", stopCountSql(words), punctCharsSql(text),
      s"length($text)")

  /** Stopword occurrences in the word-list expression `words`. */
  private[graft] def stopCountSql(words: String): String =
    profileScoreSql(words, StopWords)

  /** Polynomial rolling-hash fingerprint over the word sequence
    * (order-sensitive: reordered documents fingerprint differently,
    * unlike the simhash/minhash set signatures), modulo 2³¹ − 1. */
  def fingerprint(text: Column): Column =
    aggregate(TextOps.words(text), lit(0L),
      (acc, w) => pmod(acc * 31 + Dedup.hash16(w), lit(2147483647L)))

  // --- Repetition signals (the Gopher/MassiveText repetition filters:
  // Rae et al. 2021 §A.1.1 — duplicate-word fraction and top-n-gram
  // fraction flag low-quality boilerplate/looping text). Everything is
  // a per-row array expression: no shuffle, runs in the scan stage,
  // which is where corpus filtering must sit at 100 TB.

  /** Adjacent word bigrams ("w1 w2") of a word array. */
  def bigrams(ws: Column): Column =
    when(size(ws) >= 2,
      transform(sequence(lit(1), size(ws) - 1),
        i => concat(element_at(ws, i), lit(" "), element_at(ws, i + 1))))
      .otherwise(array().cast("array<string>"))

  /** Occurrence count of the most frequent element (0 for empty):
    * sort, then the longest equal-run via a linear fold — O(n log n)
    * per ROW with cheap per-element ops, vs the naive
    * count-per-distinct-element scan at O(distinct·n) with an array
    * traversal per lambda step (higher-order lambdas run interpreted,
    * so the constant matters). Row-local document work either way —
    * stays map-side at any scale. */
  def topCount(arr: Column): Column =
    aggregate(array_sort(arr),
      struct(lit(null).cast("string").as("prev"), lit(0).as("run"),
        lit(0).as("best")),
      (a, x) => {
        val run = when(x === a.getField("prev"), a.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(a.getField("best"), run).as("best"))
      },
      a => a.getField("best"))

  /** Characters covered by the most frequent element: count × element
    * length, ties to the lexicographically smallest element (the
    * sorted fold keeps the FIRST element reaching the maximum run —
    * mirror with `ORDER BY count DESC, gram` in SQL). Same
    * sorted-run-length discipline as [[topCount]]. */
  private[graft] def topElemChars(arr: Column): Column =
    aggregate(array_sort(arr),
      struct(lit(null).cast("string").as("prev"), lit(0).as("run"),
        lit(0).as("best"), lit(null).cast("string").as("bestg")),
      (a, x) => {
        val run = when(x === a.getField("prev"), a.getField("run") + 1)
          .otherwise(lit(1))
        val better = run > a.getField("best")
        struct(x.as("prev"), run.as("run"),
          when(better, run).otherwise(a.getField("best")).as("best"),
          when(better, x).otherwise(a.getField("bestg")).as("bestg"))
      },
      a => when(a.getField("best") > 0,
        a.getField("best").cast("long") * length(a.getField("bestg")))
        .otherwise(lit(0L)))

  /** Characters covered by all elements occurring more than once:
    * Σ count·length over distinct repeated elements — one sorted
    * fold, closing each run as the element changes. */
  private[graft] def dupElemChars(arr: Column): Column = {
    def closed(prev: Column, run: Column): Column =
      when(run >= 2, run.cast("long") * length(prev)).otherwise(lit(0L))
    aggregate(array_sort(arr),
      struct(lit(null).cast("string").as("prev"), lit(0).as("run"),
        lit(0L).as("acc")),
      (a, x) => {
        val same = x === a.getField("prev")
        struct(x.as("prev"),
          when(same, a.getField("run") + 1).otherwise(lit(1)).as("run"),
          (a.getField("acc") + when(same, lit(0L))
            .otherwise(closed(a.getField("prev"), a.getField("run")))).as("acc"))
      },
      a => a.getField("acc") + closed(a.getField("prev"), a.getField("run")))
  }

  // --- PII redaction: pattern → placeholder rewrites with an audit
  // count, the standard scrub step before training-corpus release.
  // Patterns stay in the Java-regex ∩ RE2 subset (no lookaround) so
  // the DuckDB oracle can run them verbatim.

  /** Scrub rules, applied in order: email, SSN-shaped,
    * US-phone-shaped. SSN (3-2-4) before phone (3-3-4) — the two are
    * disjoint, but keeping fixed order makes the fold deterministic
    * under future overlapping additions. */
  private val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<email>",
    "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b" -> "<ssn>",
    "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b" -> "<phone>")

  /** Sequential pattern→placeholder rewrite. */
  def redact(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (t, (p, r)) => regexp_replace(t, p, r) }

  /** Total matches across all patterns, counted on the ORIGINAL text
    * (so the audit count is independent of replacement order). */
  def piiCount(text: Column): Column =
    PiiPatterns.map { case (p, _) =>
      size(call_function("regexp_extract_all", text, lit(p), lit(0)))
    }.reduce(_ + _)

  /** Luhn checksum over a digit string (ISO/IEC 7812) — the
    * VALIDATION step that separates a real card number from any
    * 13-19 digit run, which no regex can express: from the right,
    * every second digit doubles (minus 9 when that overflows), and
    * the total must divide by 10. Pure integer arithmetic over a
    * ≤19-element sequence, identical on both engines. */
  def luhnValid(ds: Column): Column = {
    val rs = reverse(ds)
    val total = aggregate(sequence(lit(1), length(ds)), lit(0L), (acc, i) => {
      val d = rs.substr(i, lit(1)).cast("long")
      val e = d * 2 - when(d * 2 > 9, 9L).otherwise(0L)
      acc + when(pmod(i.cast("long"), lit(2L)) === 0L, e).otherwise(d)
    })
    length(ds).between(13, 19) && pmod(total, lit(10L)) === 0
  }

  // --- C4-style page cleaning (Raffel et al. 2020 §2.2, the rules
  // that built the Colossal Clean Crawled Corpus). Line level: keep
  // only lines ending in terminal punctuation, with ≥ 3 words, and
  // without the word "javascript"; page level: drop pages containing
  // "lorem ipsum" or "{", or with fewer than 5 surviving
  // lines. Per-row array expressions — scan-stage, no shuffle.

  /** Lines surviving the C4 line rules, from a '\n'-separated text. */
  def c4KeptLines(lines: Column): Column =
    filter(lines, l =>
      l.rlike("[.!?\"]$") &&
        size(split(l, " ")) >= 3 &&
        !lower(l).contains("javascript"))

  /** The C4 page predicate over the original lines + kept lines. */
  def c4PageKeep(lines: Column, kept: Column): Column = {
    val joined = lower(concat_ws("\n", lines))
    !joined.contains("lorem ipsum") && !joined.contains("{") &&
      size(kept) >= 5
  }
}
