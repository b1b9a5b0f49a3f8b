package graft.metrics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.core.Tables
import graft.vector.KnnJoin

/** Oracle-checked evaluation metrics over the kNN classifier's
  * predictions (SURVEY.md §2.4): confusion matrix, classification
  * report, doc-level rollup, n-way agreement, reliability bins + ECE,
  * wide pivot.
  */
object MetricsPack extends QueryPack {

  /** top-3 neighbors with the query's own label attached (shared
    * session-memoized artifact — computed once for m01..m06). */
  private def hits(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    KnnJoin.exactSelfTop3(spark, dir)
      .join(e.select(col("vec_id").as("query_id"),
        col("label").as("true_label")), Seq("query_id"))
  }

  def confusion(spark: SparkSession, dir: String): DataFrame =
    Classification.confusionMatrix(
        hits(spark, dir).filter(col("rank") === 1),
        col("true_label"), col("n_label"))
      .orderBy(col("true_label"), col("pred_label"))

  def report(spark: SparkSession, dir: String): DataFrame =
    Classification.classificationReport(
      hits(spark, dir).filter(col("rank") === 1),
      col("true_label"), col("n_label"))

  /** A8: groups of 10 consecutive vec_ids act as one "document"; the
    * doc is correct only if every member row is. */
  def docRollup(spark: SparkSession, dir: String): DataFrame =
    Classification.docRollup(
        hits(spark, dir).filter(col("rank") === 1),
        floor(col("query_id") / 10).cast("long"),
        when(col("true_label") === col("n_label"), 1L).otherwise(0L))
      .orderBy(col("doc"))

  /** A9: do the rank-1/2/3 neighbor labels agree? */
  def agreement(spark: SparkSession, dir: String): DataFrame = {
    val wide = hits(spark, dir)
      .groupBy(col("query_id"))
      .agg(
        max(when(col("rank") === 1, col("n_label"))).as("p1"),
        max(when(col("rank") === 2, col("n_label"))).as("p2"),
        max(when(col("rank") === 3, col("n_label"))).as("p3"))
    Evaluation.agreementRate(wide, Seq(col("p1"), col("p2"), col("p3")))
  }

  /** Confidence = rescaled top-1 sim; outcome = top-1 correct. */
  private def calibInput(spark: SparkSession, dir: String): DataFrame =
    hits(spark, dir).filter(col("rank") === 1)
      .select(col("query_id"),
        round((lit(1.0) + col("sim")) / 2.0, 6).as("prob"),
        when(col("true_label") === col("n_label"), 1L).otherwise(0L).as("y"))

  def reliability(spark: SparkSession, dir: String): DataFrame =
    Calibration.reliabilityBins(calibInput(spark, dir), col("prob"), col("y"))
      .orderBy(col("bin"))

  def ece(spark: SparkSession, dir: String): DataFrame =
    Calibration.ece(calibInput(spark, dir), col("prob"), col("y"))

  /** m08: the full calibration summary — ECE + MCE + Brier. */
  def calibSummary(spark: SparkSession, dir: String): DataFrame =
    Calibration.calibrationSummary(calibInput(spark, dir), col("prob"), col("y"))

  /** m09: temperature scaling fit on the 80% deterministic split
    * (query_id mod 5 < 4), ECE before/after reported on the held-out
    * 20% — the M2-split discipline. On THIS head t_star lands at the
    * grid's upper edge by construction, not by accident: every
    * confidence-derived logit is positive while accuracy ≈ the 10%
    * base rate, so NLL improves monotonically as T flattens p toward
    * 0.5 — a boundary t_star is the operator's honest signal that the
    * head is miscalibrated beyond what rescaling can fix (the
    * CalibrationSpec shows exact T recovery on a plantable head). */
  def temperature(spark: SparkSession, dir: String): DataFrame = {
    val ci = calibInput(spark, dir)
    Calibration.temperatureScale(
      ci.filter(pmod(col("query_id"), lit(5L)) < 4),
      ci.filter(pmod(col("query_id"), lit(5L)) === 4),
      col("prob"), col("y"))
  }

  /** m10: isotonic calibration over the reliability bins. */
  def isotonic(spark: SparkSession, dir: String): DataFrame =
    Calibration.isotonicBins(calibInput(spark, dir), col("prob"), col("y"))

  /** M5: statistical sample-size calculator n = ⌈Z²·p(1−p)/E²⌉
    * (`email_717.py:13-92`) — p observed FROM the corpus (share of
    * English documents), crossed with the confidence/error grid the
    * reference uses. Pure rational double arithmetic (no
    * transcendentals), so both engines compute bit-identical values;
    * [[graft.sample.Sampling.sampleSize]] is the scalar twin
    * (spec-pinned equal on this grid). */
  /** (Z, E) confidence/error grid — ONE definition, mirrored into the
    * oracle SQL so the two sides cannot drift. */
  private val sampleGrid: Seq[(Double, Double)] =
    Seq(1.645 -> 0.05, 1.96 -> 0.05, 2.576 -> 0.05,
      1.96 -> 0.03, 1.96 -> 0.01)

  def sampleSizeGrid(spark: SparkSession, dir: String): DataFrame = {
    val grid = sampleGrid
    val docs = Tables(spark, dir).documents
    val p = docs.agg(
      (sum(when(col("lang") === "en", 1L).otherwise(0L)).cast("double") /
        count(lit(1)).cast("double")).as("p"))
    import spark.implicits._
    val gridDf = grid.zipWithIndex
      .map { case ((z, e), i) => (i.toLong, z, e) }.toDF("grid_id", "z", "e")
    p.crossJoin(gridDf)
      .select(col("grid_id"), col("z"), col("e"),
        round(col("p"), 6).as("p"),
        ceil(col("z") * col("z") * col("p") * (lit(1.0) - col("p"))
          / (col("e") * col("e"))).cast("long").as("n_required"))
      .orderBy(col("grid_id"))
  }

  /** A6: wide pivot with a deterministic `last` (max_by on doc_id). */
  def pivotWide(spark: SparkSession, dir: String): DataFrame = {
    val langs = Seq("de", "en", "es", "fr", "zh")
    Tables(spark, dir).documents
      .withColumn("fn", pmod(col("doc_id"), lit(50L)))
      .groupBy(col("fn"))
      .pivot("lang", langs)
      .agg(max_by(col("source"), col("doc_id")))
      .na.fill("NULL", langs)
      .orderBy(col("fn"))
  }

  val BootReplicates = 200

  /** m12: Poisson-bootstrap confidence interval for the classifier's
    * top-1 accuracy — the scalable bootstrap (each row draws a
    * Poisson(1) weight per replicate instead of the classical
    * resample-by-index, so no global row indexing, no per-replicate
    * pass over the data; Chamandy et al. 2012 "Estimating uncertainty
    * for massive data streams" is the public account of the
    * technique, Kleiner et al. 2014's BLB its sampled refinement).
    * Reports the point accuracy, bootstrap mean/std, and the discrete
    * 95% CI (the 6th and 195th order statistics of the 200 replicate
    * accuracies, i.e. floor(αB/2)+1 from each end).
    *
    * Determinism: the weight is the inverse-CDF of Poisson(1) applied
    * to u = (first 52 bits of md5("m12:" + replicate + ":" + qid)) /
    * 2^52 — u is a dyadic rational both engines compute bit-exactly,
    * and the cumulative thresholds are shared double literals, so
    * every weight matches the DuckDB oracle's exactly (weights ≥ 8,
    * cumulative mass 1e-5, truncate to 7 — identically on both
    * sides). Replicate accuracies are rounded to 9 decimals and
    * decimal-summed (the a08 discipline) so means/stds are
    * order-independent.
    *
    * Scale shape: the ×B row expansion is a map-side crossJoin with a
    * broadcast 200-row relation and partially aggregates to ≤ B rows
    * per partition before the one tiny shuffle (B groups); the order
    * statistics rank exactly B = [[BootReplicates]] rows — a bounded
    * window over a constant-size relation, never over the data. */
  def bootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    val p1 = hits(spark, dir).filter(col("rank") === 1)
      .select(col("query_id").as("qid"),
        when(col("true_label") === col("n_label"), 1L).otherwise(0L).as("y"))
    val reps = spark.range(BootReplicates).select(col("id").as("b"))
    val u = conv(substring(md5(concat(lit("m12:"), col("b").cast("string"),
        lit(":"), col("qid").cast("string"))), 1, 13), 16, 10)
      .cast("long").cast("double") / lit(4503599627370496.0)
    val wt = when(u < 0.36787944117144233, 0L)
      .when(u < 0.7357588823428847, 1L)
      .when(u < 0.9196986029286058, 2L)
      .when(u < 0.9810118431238463, 3L)
      .when(u < 0.9963401531726563, 4L)
      .when(u < 0.9994058151824183, 5L)
      .when(u < 0.999916758850712, 6L)
      .otherwise(7L)
    val accs = graft.core.Caches.transient(
      p1.crossJoin(broadcast(reps))
        .select(col("b"), col("y"), wt.as("wt"))
        .groupBy(col("b"))
        .agg(round(sum(col("wt") * col("y")).cast("double") /
          sum(col("wt")).cast("double"), 9).as("acc")))
    val ranked = accs.withColumn("rn",
      row_number().over(Window.orderBy(col("acc"), col("b"))))
    val stats = accs.agg(count(lit(1)).as("nb"),
      sum(round(col("acc"), 9).cast("decimal(28,9)")).cast("double").as("sa"),
      sum(round(col("acc") * col("acc"), 9).cast("decimal(28,9)"))
        .cast("double").as("sa2"))
    val pt = p1.agg(count(lit(1)).as("n_rows"),
      (sum(col("y")).cast("double") / count(lit(1)).cast("double")).as("pa"))
    val nbd = col("nb").cast("double")
    val mean = col("sa") / nbd
    pt.crossJoin(stats)
      .crossJoin(ranked.filter(col("rn") === 6)
        .select(round(col("acc"), 6).as("ci_lo")))
      .crossJoin(ranked.filter(col("rn") === BootReplicates - 5)
        .select(round(col("acc"), 6).as("ci_hi")))
      .select(col("n_rows"), col("nb").as("n_boot"),
        round(col("pa"), 6).as("point_acc"),
        round(mean, 6).as("boot_mean"),
        round(sqrt(greatest((col("sa2") - nbd * mean * mean) / (nbd - 1.0),
          lit(0.0))), 6).as("boot_std"),
        col("ci_lo"), col("ci_hi"))
  }

  /** m13: paired-classifier comparison — the model-comparison
    * discipline for eval suites: classifier A (top-1 neighbor label)
    * vs classifier B (l03's 2-of-3 vote) on the same queries.
    * Reports the paired contingency counts (n00/n01/n10/n11 over
    * correctness), both accuracies, McNemar's χ² with Edwards'
    * continuity correction (max(|n01−n10|−1, 0)² / (n01+n10) — the
    * exact-discordant-pair test for "is B better than A on the SAME
    * data"; McNemar 1947), and Cohen's κ between the two LABEL
    * sequences (po−pe)/(1−pe) (Cohen 1960) — agreement corrected for
    * chance.
    *
    * Determinism: κ's chance term Σ_l P(A=l)·P(B=l) is per-label
    * rounded to 9 and decimal-summed (the a08 discipline) so the
    * label order can't move the double sum; counts are exact longs.
    * Scale shape: one wide pass per query (the shared hits
    * artifact), a count aggregate, and two label-marginal aggregates
    * joined on label — marginals are bounded by |labels|, never query
    * count. */
  def pairedCompare(spark: SparkSession, dir: String): DataFrame = {
    val wide = graft.core.Caches.transient(
      hits(spark, dir).groupBy(col("query_id")).agg(
          max(when(col("rank") === 1, col("n_label"))).as("a"),
          max(when(col("rank") === 2, col("n_label"))).as("q2"),
          max(when(col("rank") === 3, col("n_label"))).as("q3"),
          max(col("true_label")).as("t"))
        .select(col("query_id"), col("a"),
          when(col("q2") === col("q3") && col("q2") =!= col("a"), col("q2"))
            .otherwise(col("a")).as("b"), col("t")))
    val counts = wide.agg(
      count(lit(1)).as("n"),
      sum(when(col("a") =!= col("t") && col("b") =!= col("t"), 1L).otherwise(0L)).as("n00"),
      sum(when(col("a") =!= col("t") && col("b") === col("t"), 1L).otherwise(0L)).as("n01"),
      sum(when(col("a") === col("t") && col("b") =!= col("t"), 1L).otherwise(0L)).as("n10"),
      sum(when(col("a") === col("t") && col("b") === col("t"), 1L).otherwise(0L)).as("n11"),
      sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("agree"))
    val margA = wide.groupBy(col("a").as("lab")).agg(count(lit(1)).as("ca"))
    val margB = wide.groupBy(col("b").as("lab")).agg(count(lit(1)).as("cb"))
    val nd = col("n").cast("double")
    val pe = margA.join(margB, Seq("lab"), "full_outer")
      .crossJoin(broadcast(counts.select(col("n"))))
      .select(round(coalesce(col("ca"), lit(0L)).cast("double") / nd *
          (coalesce(col("cb"), lit(0L)).cast("double") / nd), 9)
        .cast("decimal(28,9)").as("term"))
      .agg(sum(col("term")).cast("double").as("pe"))
    val d = abs(col("n01") - col("n10")).cast("double")
    val disc = (col("n01") + col("n10")).cast("double")
    val po = col("agree").cast("double") / nd
    counts.crossJoin(broadcast(pe))
      .select(col("n"), col("n00"), col("n01"), col("n10"), col("n11"),
        round((col("n10") + col("n11")).cast("double") / nd, 6).as("acc_top1"),
        round((col("n01") + col("n11")).cast("double") / nd, 6).as("acc_vote"),
        when(disc > 0,
            round(pow(greatest(d - 1.0, lit(0.0)), 2) / disc, 6))
          .otherwise(lit(0.0)).as("mcnemar_chi2"),
        when(lit(1.0) - col("pe") =!= 0.0,
            round((po - col("pe")) / (lit(1.0) - col("pe")), 6))
          .otherwise(lit(0.0)).as("kappa"))
  }

  /** m14: exact ROC-AUC of the calibrated top-1 confidence against
    * top-1 correctness, via the Mann–Whitney rank statistic with
    * tie-averaged ranks — AUC = (Σ rank⁺ − n₁(n₁+1)/2) / (n₁n₀),
    * identical to sklearn's `roc_auc_score`. Every step up to the
    * final division is INTEGER arithmetic (2×avg-rank per tied score
    * group = 2·(cum−n)+n+1 stays integral), carried through
    * DECIMAL(38,0) on both engines (the t09 lesson: the product
    * np·2N overflows a 64-bit long once row counts pass ~2³¹), so
    * the one double division at the end is the same IEEE op on the
    * same exact integers — bit-equal in DuckDB.
    *
    * Scale shape: scores are 6-dp-rounded probabilities in [0,1], so
    * the groupBy collapses the corpus to ≤ 1,000,001 rows BEFORE the
    * rank window — the cumulative sum runs over a bounded relation
    * regardless of corpus size (the x04 histogram exemption), and the
    * heavy pass is one map-side-combining aggregate. */
  def rocAuc(spark: SparkSession, dir: String): DataFrame = {
    val ci = calibInput(spark, dir)
      .select(col("prob").cast("decimal(18,6)").as("p"), col("y"))
    val g = ci.groupBy(col("p"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("np"))
    val wc = Window.orderBy(col("p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = g.withColumn("cum", sum(col("n")).over(wc))
    val d38 = "decimal(38,0)"
    val t = c.select(
        (col("np").cast(d38) *
          (lit(2L) * (col("cum") - col("n")) + col("n") + lit(1L)).cast(d38))
          .as("s2"),
        col("np"), col("n"))
      .agg(sum(col("s2")).as("s2"), sum(col("np")).as("n1"),
        sum(col("n")).as("ntot"))
    val n0 = col("ntot") - col("n1")
    val num = (col("s2").cast(d38) -
      col("n1").cast(d38) * (col("n1") + lit(1L)).cast(d38)).cast("double")
    val den = (lit(2L).cast(d38) * col("n1").cast(d38) * n0.cast(d38))
      .cast("double")
    t.select(
      col("n1").as("n_pos"), n0.as("n_neg"),
      when(col("n1") > 0 && n0 > 0, num / den).as("auc"),
      when(col("n1") > 0 && n0 > 0, lit(2.0) * (num / den) - lit(1.0))
        .as("gini"))
  }

  /** m15: average precision (PR-AUC) of the calibrated top-1
    * confidence against top-1 correctness — the threshold-free eval
    * companion to m14 for imbalanced outcomes (ROC-AUC reads
    * optimistic when negatives dominate; the PR curve does not —
    * Davis & Goadrich 2006). Computed as sklearn's
    * `average_precision_score`: AP = Σ_i (R_i − R_{i−1}) · P_i over
    * distinct thresholds descending, which over the score-collapsed
    * relation is Σ np_t · (ctp_t / cn_t) / n₁ with ctp/cn the
    * cumulative positive/total counts at score ≥ t.
    *
    * Determinism: every precision is ONE IEEE division of exact
    * integers (same op in DuckDB), each term np·P is rounded to 9
    * decimals and decimal-summed (the a08 discipline) so threshold
    * order can't move the double sum, and the final /n₁ is again one
    * shared division. `baseline` = n₁/n (the random-classifier AP).
    *
    * Scale shape: identical to m14 — the 6-dp probability collapse
    * bounds the relation to ≤ 1,000,001 rows BEFORE the cumulative
    * window (the x04 histogram exemption), and the heavy pass is one
    * map-side-combining aggregate. */
  def prAuc(spark: SparkSession, dir: String): DataFrame = {
    val ci = calibInput(spark, dir)
      .select(col("prob").cast("decimal(18,6)").as("p"), col("y"))
    val g = ci.groupBy(col("p"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("np"))
    val wc = Window.orderBy(col("p").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = g
      .withColumn("ctp", sum(col("np")).over(wc))
      .withColumn("cn", sum(col("n")).over(wc))
    val t = c.select(
        round(col("np").cast("double") *
          (col("ctp").cast("double") / col("cn").cast("double")), 9)
          .cast("decimal(28,9)").as("term"),
        col("np"), col("n"))
      .agg(sum(col("term")).as("s"), sum(col("np")).as("n1"),
        sum(col("n")).as("ntot"))
    t.select(
      col("n1").as("n_pos"), (col("ntot") - col("n1")).as("n_neg"),
      when(col("n1") > 0,
        col("s").cast("double") / col("n1").cast("double"))
        .as("average_precision"),
      when(col("ntot") > 0,
        round(col("n1").cast("double") / col("ntot").cast("double"), 9))
        .as("baseline"))
  }

  /** Auto-processing thresholds for the m16 risk–coverage table.
    * Built as i/100.0 so the DuckDB grid (CAST(i AS DOUBLE)/100.0)
    * lands on bit-identical doubles — i·0.05 would not. */
  private val RiskThresholdCents: Seq[Int] = 50 to 95 by 5

  /** m16: RISK–COVERAGE table — the reference's STP/HITL routing
    * made quantitative (`validation_confirmation_feedback.py:125-134`
    * routes on a confirmation decision; production gates route on
    * CALIBRATED CONFIDENCE): at each threshold t, documents with
    * top-1 confidence ≥ t auto-process (STP) and the rest go to human
    * review — the selective-prediction coverage/selective-accuracy
    * tradeoff (Geifman & El-Yaniv 2017). One pass: a broadcast
    * 10-row threshold grid crossJoin, map-side-combining conditional
    * sums to ≤ |grid| rows per partition; every reported ratio is a
    * single IEEE division of exact integers (bit-equal in DuckDB). */
  def riskCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ci = calibInput(spark, dir)
    val grid = RiskThresholdCents.map(_ / 100.0).toDF("threshold")
    ci.crossJoin(broadcast(grid))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("prob") >= col("threshold"), 1L).otherwise(0L))
          .as("n_auto"),
        sum(when(col("prob") >= col("threshold"), col("y")).otherwise(0L))
          .as("correct_auto"))
      .select(col("threshold"),
        col("n_auto"), (col("n") - col("n_auto")).as("n_hitl"),
        round(col("n_auto").cast("double") / col("n").cast("double"), 9)
          .as("coverage"),
        when(col("n_auto") > 0,
          round(col("correct_auto").cast("double") /
            col("n_auto").cast("double"), 9)).as("acc_auto"))
      .orderBy(col("threshold"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m16_risk_coverage" -> riskCoverage,
    "m15_pr_auc" -> prAuc,
    "m14_roc_auc" -> rocAuc,
    "m13_paired_compare" -> pairedCompare,
    "m12_bootstrap_ci" -> bootstrapCi,
    "m01_confusion" -> confusion,
    "m02_classification_report" -> report,
    "m03_doc_rollup" -> docRollup,
    "m04_agreement" -> agreement,
    "m05_reliability_bins" -> reliability,
    "m06_ece" -> ece,
    "m07_pivot_wide" -> pivotWide,
    "m08_calibration_summary" -> calibSummary,
    "m09_temperature_scaling" -> temperature,
    "m10_isotonic_bins" -> isotonic,
    "m11_sample_size" -> sampleSizeGrid)

  private val predsCte = s"""${graft.vector.KnnJoin.knnCte},
    |p1 AS (SELECT qid, CAST(tlabel AS VARCHAR) AS t, CAST(nlabel AS VARCHAR) AS p, sim
    |       FROM r WHERE rnk = 1)""".stripMargin

  /** sklearn-style report SQL over any CTE chain ending in
    * `p1(qid, t, p)` — shared with the pipeline pack's flagship
    * lifecycle oracle. */
  private[graft] def reportSqlFrom(cte: String): String = s"""
      |WITH $cte,
      |bt AS (SELECT t AS label, count(*) AS support,
      |         sum(CASE WHEN t = p THEN 1 ELSE 0 END) AS tp FROM p1 GROUP BY t),
      |bp AS (SELECT p AS label, count(*) AS pred_n FROM p1 GROUP BY p),
      |pc AS (SELECT coalesce(bt.label, bp.label) AS label,
      |         coalesce(support, 0) AS support, coalesce(tp, 0) AS tp,
      |         coalesce(pred_n, 0) AS pred_n
      |       FROM bt FULL OUTER JOIN bp ON bt.label = bp.label),
      |pc2 AS (SELECT label, support, tp,
      |         CASE WHEN pred_n > 0 THEN CAST(tp AS DOUBLE) / CAST(pred_n AS DOUBLE) ELSE 0.0 END AS precision,
      |         CASE WHEN support > 0 THEN CAST(tp AS DOUBLE) / CAST(support AS DOUBLE) ELSE 0.0 END AS recall
      |       FROM pc),
      |pc3 AS (SELECT *, CASE WHEN precision + recall > 0.0
      |         THEN 2.0 * precision * recall / (precision + recall) ELSE 0.0 END AS f1
      |       FROM pc2),
      |s AS (SELECT count(*) AS n_classes,
      |        list_reduce([0.0] || list(precision ORDER BY label), (a, b) -> a + b) AS sp,
      |        list_reduce([0.0] || list(recall ORDER BY label), (a, b) -> a + b) AS sr,
      |        list_reduce([0.0] || list(f1 ORDER BY label), (a, b) -> a + b) AS sf,
      |        CAST(sum(support) AS BIGINT) AS total, CAST(sum(tp) AS BIGINT) AS correct,
      |        list_reduce([0.0] || list(precision * CAST(support AS DOUBLE) ORDER BY label), (a, b) -> a + b) AS wp,
      |        list_reduce([0.0] || list(recall * CAST(support AS DOUBLE) ORDER BY label), (a, b) -> a + b) AS wr,
      |        list_reduce([0.0] || list(f1 * CAST(support AS DOUBLE) ORDER BY label), (a, b) -> a + b) AS wf
      |      FROM pc3)
      |SELECT label, precision, recall, f1, CAST(support AS BIGINT) AS support FROM (
      |  SELECT 0 AS ord, label, precision, recall, f1, support FROM pc3
      |  UNION ALL SELECT 1, 'accuracy',
      |    CAST(correct AS DOUBLE) / CAST(total AS DOUBLE),
      |    CAST(correct AS DOUBLE) / CAST(total AS DOUBLE),
      |    CAST(correct AS DOUBLE) / CAST(total AS DOUBLE), total FROM s
      |  UNION ALL SELECT 2, 'macro avg',
      |    sp / CAST(n_classes AS DOUBLE),
      |    sr / CAST(n_classes AS DOUBLE),
      |    sf / CAST(n_classes AS DOUBLE), total FROM s
      |  UNION ALL SELECT 3, 'weighted avg',
      |    wp / CAST(total AS DOUBLE),
      |    wr / CAST(total AS DOUBLE),
      |    wf / CAST(total AS DOUBLE), total FROM s)
      |ORDER BY ord, label""".stripMargin

  /** Shared Poisson(1) inverse-CDF thresholds (cumulative e^-1/k!) —
    * the same double literals the Spark side compares against. */
  private val poissonCaseSql: String =
    "CASE WHEN u < 0.36787944117144233 THEN 0" +
      " WHEN u < 0.7357588823428847 THEN 1" +
      " WHEN u < 0.9196986029286058 THEN 2" +
      " WHEN u < 0.9810118431238463 THEN 3" +
      " WHEN u < 0.9963401531726563 THEN 4" +
      " WHEN u < 0.9994058151824183 THEN 5" +
      " WHEN u < 0.999916758850712 THEN 6 ELSE 7 END"

  val oracles: Map[String, String] = Map(
    "m16_risk_coverage" -> s"""
      |WITH $predsCte,
      |ci AS (SELECT round((1.0 + sim) / 2.0, 6) AS prob,
      |         CASE WHEN t = p THEN 1 ELSE 0 END AS y FROM p1),
      |g AS (SELECT CAST(i AS DOUBLE) / 100.0 AS threshold
      |      FROM generate_series(50, 95, 5) s(i)),
      |agg AS (SELECT threshold, count(*) AS n,
      |    sum(CASE WHEN prob >= threshold THEN 1 ELSE 0 END) AS n_auto,
      |    sum(CASE WHEN prob >= threshold THEN y ELSE 0 END) AS correct_auto
      |  FROM ci, g GROUP BY threshold)
      |SELECT threshold, CAST(n_auto AS BIGINT) AS n_auto,
      |  CAST(n - n_auto AS BIGINT) AS n_hitl,
      |  round(CAST(n_auto AS DOUBLE) / CAST(n AS DOUBLE), 9) AS coverage,
      |  CASE WHEN n_auto > 0 THEN
      |    round(CAST(correct_auto AS DOUBLE) / CAST(n_auto AS DOUBLE), 9)
      |  END AS acc_auto
      |FROM agg ORDER BY threshold""".stripMargin,
    "m15_pr_auc" -> s"""
      |WITH $predsCte,
      |ci AS (SELECT CAST(round((1.0 + sim) / 2.0, 6) AS DECIMAL(18,6)) AS pp,
      |         CASE WHEN t = p THEN 1 ELSE 0 END AS y FROM p1),
      |g AS (SELECT pp, count(*) AS n, sum(y) AS np FROM ci GROUP BY pp),
      |c AS (SELECT n, np,
      |        sum(np) OVER (ORDER BY pp DESC ROWS UNBOUNDED PRECEDING) AS ctp,
      |        sum(n) OVER (ORDER BY pp DESC ROWS UNBOUNDED PRECEDING) AS cn
      |      FROM g),
      |agg AS (SELECT
      |    sum(CAST(round(CAST(np AS DOUBLE)
      |        * (CAST(ctp AS DOUBLE) / CAST(cn AS DOUBLE)), 9)
      |      AS DECIMAL(28,9))) AS s,
      |    CAST(sum(np) AS BIGINT) AS n1, CAST(sum(n) AS BIGINT) AS ntot
      |  FROM c)
      |SELECT n1 AS n_pos, ntot - n1 AS n_neg,
      |  CASE WHEN n1 > 0
      |    THEN CAST(s AS DOUBLE) / CAST(n1 AS DOUBLE) END AS average_precision,
      |  CASE WHEN ntot > 0
      |    THEN round(CAST(n1 AS DOUBLE) / CAST(ntot AS DOUBLE), 9) END AS baseline
      |FROM agg""".stripMargin,
    "m14_roc_auc" -> s"""
      |WITH $predsCte,
      |ci AS (SELECT CAST(round((1.0 + sim) / 2.0, 6) AS DECIMAL(18,6)) AS pp,
      |         CASE WHEN t = p THEN 1 ELSE 0 END AS y FROM p1),
      |g AS (SELECT pp, count(*) AS n, sum(y) AS np FROM ci GROUP BY pp),
      |c AS (SELECT n, np,
      |        sum(n) OVER (ORDER BY pp ROWS UNBOUNDED PRECEDING) AS cum
      |      FROM g),
      |agg AS (SELECT
      |    sum(CAST(np AS DECIMAL(38,0)) *
      |        CAST(2 * (cum - n) + n + 1 AS DECIMAL(38,0))) AS s2,
      |    CAST(sum(np) AS BIGINT) AS n1, CAST(sum(n) AS BIGINT) AS ntot
      |  FROM c)
      |SELECT n1 AS n_pos, ntot - n1 AS n_neg,
      |  CASE WHEN n1 > 0 AND ntot - n1 > 0 THEN
      |    CAST(CAST(s2 AS DECIMAL(38,0))
      |         - CAST(n1 AS DECIMAL(38,0)) * CAST(n1 + 1 AS DECIMAL(38,0))
      |      AS DOUBLE)
      |    / CAST(CAST(2 AS DECIMAL(38,0)) * CAST(n1 AS DECIMAL(38,0))
      |           * CAST(ntot - n1 AS DECIMAL(38,0)) AS DOUBLE)
      |  END AS auc,
      |  CASE WHEN n1 > 0 AND ntot - n1 > 0 THEN
      |    2.0 * (CAST(CAST(s2 AS DECIMAL(38,0))
      |         - CAST(n1 AS DECIMAL(38,0)) * CAST(n1 + 1 AS DECIMAL(38,0))
      |      AS DOUBLE)
      |    / CAST(CAST(2 AS DECIMAL(38,0)) * CAST(n1 AS DECIMAL(38,0))
      |           * CAST(ntot - n1 AS DECIMAL(38,0)) AS DOUBLE)) - 1.0
      |  END AS gini
      |FROM agg""".stripMargin,
    "m13_paired_compare" -> s"""
      |WITH $predsCte,
      |wide AS (SELECT qid,
      |    max(CASE WHEN rnk = 1 THEN nlabel END) AS a,
      |    max(CASE WHEN rnk = 2 THEN nlabel END) AS q2,
      |    max(CASE WHEN rnk = 3 THEN nlabel END) AS q3,
      |    max(tlabel) AS t
      |  FROM r WHERE rnk <= 3 GROUP BY qid),
      |w2 AS (SELECT qid, a,
      |    CASE WHEN q2 = q3 AND q2 <> a THEN q2 ELSE a END AS b, t FROM wide),
      |counts AS (SELECT count(*) AS n,
      |    sum(CASE WHEN a <> t AND b <> t THEN 1 ELSE 0 END) AS n00,
      |    sum(CASE WHEN a <> t AND b = t THEN 1 ELSE 0 END) AS n01,
      |    sum(CASE WHEN a = t AND b <> t THEN 1 ELSE 0 END) AS n10,
      |    sum(CASE WHEN a = t AND b = t THEN 1 ELSE 0 END) AS n11,
      |    sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree
      |  FROM w2),
      |ma AS (SELECT a AS lab, count(*) AS ca FROM w2 GROUP BY a),
      |mb AS (SELECT b AS lab, count(*) AS cb FROM w2 GROUP BY b),
      |pe AS (SELECT CAST(sum(CAST(round(
      |      CAST(coalesce(ca, 0) AS DOUBLE) / CAST(n AS DOUBLE)
      |      * (CAST(coalesce(cb, 0) AS DOUBLE) / CAST(n AS DOUBLE)), 9)
      |    AS DECIMAL(28,9))) AS DOUBLE) AS pe
      |  FROM ma FULL OUTER JOIN mb USING (lab), counts)
      |SELECT CAST(n AS BIGINT) AS n, CAST(n00 AS BIGINT) AS n00,
      |  CAST(n01 AS BIGINT) AS n01, CAST(n10 AS BIGINT) AS n10,
      |  CAST(n11 AS BIGINT) AS n11,
      |  round(CAST(n10 + n11 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS acc_top1,
      |  round(CAST(n01 + n11 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS acc_vote,
      |  CASE WHEN n01 + n10 > 0 THEN round(
      |      power(greatest(CAST(abs(n01 - n10) AS DOUBLE) - 1.0, 0.0), 2)
      |      / CAST(n01 + n10 AS DOUBLE), 6) ELSE 0.0 END AS mcnemar_chi2,
      |  CASE WHEN 1.0 - pe <> 0.0 THEN round(
      |      (CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) - pe) / (1.0 - pe), 6)
      |    ELSE 0.0 END AS kappa
      |FROM counts, pe""".stripMargin,
    "m12_bootstrap_ci" -> s"""
      |WITH $predsCte,
      |py AS (SELECT qid, CASE WHEN t = p THEN 1 ELSE 0 END AS y FROM p1),
      |reps AS (SELECT i AS b FROM generate_series(0, ${BootReplicates - 1}) AS g(i)),
      |w0 AS (SELECT b, y,
      |    md5('m12:' || CAST(b AS VARCHAR) || ':' || CAST(qid AS VARCHAR)) AS h
      |  FROM py, reps),
      |w1 AS (SELECT b, y, CAST(${graft.dedup.Dedup.hexIntSql("h", 1, 13)} AS DOUBLE) / 4503599627370496.0 AS u FROM w0),
      |w AS (SELECT b, y, $poissonCaseSql AS wt FROM w1),
      |accs AS (SELECT b, round(CAST(sum(wt * y) AS DOUBLE)
      |    / CAST(sum(wt) AS DOUBLE), 9) AS acc FROM w GROUP BY b),
      |ranked AS (SELECT acc, row_number() OVER (ORDER BY acc, b) AS rn FROM accs),
      |stats AS (SELECT count(*) AS nb,
      |    CAST(sum(CAST(round(acc, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sa,
      |    CAST(sum(CAST(round(acc * acc, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sa2
      |  FROM accs),
      |pt AS (SELECT count(*) AS n_rows,
      |    CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pa FROM py)
      |SELECT pt.n_rows, stats.nb AS n_boot, round(pt.pa, 6) AS point_acc,
      |  round(sa / CAST(nb AS DOUBLE), 6) AS boot_mean,
      |  round(sqrt(greatest((sa2 - CAST(nb AS DOUBLE) * (sa / CAST(nb AS DOUBLE))
      |    * (sa / CAST(nb AS DOUBLE))) / (CAST(nb AS DOUBLE) - 1.0), 0.0)), 6) AS boot_std,
      |  (SELECT round(acc, 6) FROM ranked WHERE rn = 6) AS ci_lo,
      |  (SELECT round(acc, 6) FROM ranked WHERE rn = ${BootReplicates - 5}) AS ci_hi
      |FROM pt, stats""".stripMargin,
    "m01_confusion" -> s"""
      |WITH $predsCte
      |SELECT t AS true_label, p AS pred_label, count(*) AS n
      |FROM p1 GROUP BY t, p ORDER BY true_label, pred_label""".stripMargin,
    "m02_classification_report" -> reportSqlFrom(predsCte),
    "m03_doc_rollup" -> s"""
      |WITH $predsCte
      |SELECT CAST(floor(qid / 10) AS BIGINT) AS doc,
      |  min(CASE WHEN t = p THEN 1 ELSE 0 END) AS doc_correct,
      |  count(*) AS n_rows
      |FROM p1 GROUP BY 1 ORDER BY doc""".stripMargin,
    "m04_agreement" -> s"""
      |WITH $predsCte,
      |wide AS (SELECT qid,
      |    max(CASE WHEN rnk = 1 THEN nlabel END) AS p1,
      |    max(CASE WHEN rnk = 2 THEN nlabel END) AS p2,
      |    max(CASE WHEN rnk = 3 THEN nlabel END) AS p3
      |  FROM r WHERE rnk <= 3 GROUP BY qid)
      |SELECT CAST(sum(CASE WHEN p1 = p2 AND p2 = p3 THEN 1 ELSE 0 END) AS BIGINT) AS agree,
      |  count(*) AS total,
      |  CAST(sum(CASE WHEN p1 = p2 AND p2 = p3 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS agreement_pct
      |FROM wide""".stripMargin,
    "m05_reliability_bins" -> s"""
      |WITH $predsCte,
      |ci AS (SELECT round((1.0 + sim) / 2.0, 6) AS prob,
      |         CASE WHEN t = p THEN 1 ELSE 0 END AS y FROM p1),
      |b AS (SELECT CAST(least(floor(prob * 10), 9) AS INT) AS bin,
      |        CAST(prob AS DECIMAL(18,6)) AS pd, y FROM ci)
      |SELECT bin, count(*) AS n,
      |  CAST(sum(pd) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS confidence,
      |  CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS accuracy
      |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
    "m06_ece" -> s"""
      |WITH $predsCte,
      |ci AS (SELECT round((1.0 + sim) / 2.0, 6) AS prob,
      |         CASE WHEN t = p THEN 1 ELSE 0 END AS y FROM p1),
      |b AS (SELECT CAST(least(floor(prob * 10), 9) AS INT) AS bin,
      |        CAST(prob AS DECIMAL(18,6)) AS pd, y FROM ci),
      |rb AS (SELECT bin, count(*) AS n,
      |    CAST(sum(pd) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS confidence,
      |    CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS accuracy
      |  FROM b GROUP BY bin)
      |SELECT CAST(sum(CAST(CAST(n AS DOUBLE) * abs(accuracy - confidence)
      |    AS DECIMAL(28,12))) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS ece
      |FROM rb""".stripMargin,
    "m08_calibration_summary" -> s"""
      |WITH $predsCte,
      |ci AS (SELECT round((1.0 + sim) / 2.0, 6) AS prob,
      |         CASE WHEN t = p THEN 1 ELSE 0 END AS y FROM p1),
      |b AS (SELECT CAST(least(floor(prob * 10), 9) AS INT) AS bin,
      |        CAST(prob AS DECIMAL(18,6)) AS pd, y FROM ci),
      |rb AS (SELECT bin, count(*) AS n,
      |    sum(CAST(round((CAST(pd AS DOUBLE) - CAST(y AS DOUBLE))
      |          * (CAST(pd AS DOUBLE) - CAST(y AS DOUBLE)), 9) AS DECIMAL(28,9))) AS sq,
      |    CAST(sum(pd) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS confidence,
      |    CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS accuracy
      |  FROM b GROUP BY bin)
      |SELECT CAST(sum(CAST(CAST(n AS DOUBLE) * abs(accuracy - confidence)
      |    AS DECIMAL(28,12))) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS ece,
      |  max(abs(accuracy - confidence)) AS mce,
      |  CAST(sum(sq) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS brier
      |FROM rb""".stripMargin,
    "m09_temperature_scaling" -> s"""
      |WITH $predsCte,
      |ci AS (SELECT qid, round((1.0 + sim) / 2.0, 6) AS prob,
      |         CASE WHEN t = p THEN 1 ELSE 0 END AS y FROM p1),
      |fz AS (SELECT round(ln(greatest(least(prob, 1.0 - 1e-6), 1e-6)
      |           / (1.0 - greatest(least(prob, 1.0 - 1e-6), 1e-6))), 9) AS z, y
      |       FROM ci WHERE qid % 5 < 4),
      |grid AS (SELECT CAST(i AS DOUBLE) * 0.05 AS t FROM generate_series(5, 200) AS g(i)),
      |nl AS (SELECT t,
      |    CAST(sum(CAST(round(ln(1.0 + exp((1.0 - 2.0 * y) * z / t)), 9)
      |      AS DECIMAL(28,9))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS nll
      |  FROM fz CROSS JOIN grid GROUP BY t),
      |ts AS (SELECT t AS t_star, round(nll, 6) AS nll_star
      |       FROM nl ORDER BY nll, t LIMIT 1),
      |ez AS (SELECT round(ln(greatest(least(prob, 1.0 - 1e-6), 1e-6)
      |           / (1.0 - greatest(least(prob, 1.0 - 1e-6), 1e-6))), 9) AS z,
      |         CAST(prob AS DECIMAL(18,6)) AS p, y
      |       FROM ci WHERE qid % 5 = 4),
      |sc AS (SELECT t_star, nll_star, p, y,
      |    CAST(round(1.0 / (1.0 + exp(-z / t_star)), 6) AS DECIMAL(18,6)) AS p_cal
      |  FROM ez CROSS JOIN ts),
      |lng AS (SELECT t_star, nll_star, 0 AS which, p AS pp, y FROM sc
      |        UNION ALL SELECT t_star, nll_star, 1, p_cal, y FROM sc),
      |bn AS (SELECT t_star, nll_star, which,
      |    CAST(least(floor(CAST(pp AS DOUBLE) * 10), 9) AS INT) AS bin,
      |    count(*) AS n,
      |    CAST(sum(pp) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS confidence,
      |    CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS accuracy
      |  FROM lng GROUP BY t_star, nll_star, which, CAST(least(floor(CAST(pp AS DOUBLE) * 10), 9) AS INT)),
      |ec AS (SELECT t_star, nll_star, which,
      |    CAST(sum(CAST(CAST(n AS DOUBLE) * abs(accuracy - confidence)
      |      AS DECIMAL(28,12))) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS ece
      |  FROM bn GROUP BY t_star, nll_star, which)
      |SELECT t_star, nll_star,
      |  round(max(CASE WHEN which = 0 THEN ece END), 6) AS ece_before,
      |  round(max(CASE WHEN which = 1 THEN ece END), 6) AS ece_after
      |FROM ec GROUP BY t_star, nll_star""".stripMargin,
    "m10_isotonic_bins" -> s"""
      |WITH $predsCte,
      |ci AS (SELECT round((1.0 + sim) / 2.0, 6) AS prob,
      |         CASE WHEN t = p THEN 1 ELSE 0 END AS y FROM p1),
      |b AS (SELECT CAST(least(floor(prob * 10), 9) AS INT) AS bin,
      |        CAST(prob AS DECIMAL(18,6)) AS pd, y FROM ci),
      |rb AS (SELECT bin, count(*) AS n, sum(pd) AS sp, sum(y) AS sy
      |       FROM b GROUP BY bin),
      |iv AS (SELECT j.bin AS j, k.bin AS k,
      |    CAST(sum(l.sy) AS DOUBLE) / CAST(sum(l.n) AS DOUBLE) AS m
      |  FROM rb j JOIN rb k ON j.bin <= k.bin
      |  JOIN rb l ON l.bin BETWEEN j.bin AND k.bin
      |  GROUP BY j.bin, k.bin),
      |inn AS (SELECT i.bin AS i, iv.j, min(iv.m) AS mn
      |  FROM rb i JOIN iv ON iv.j <= i.bin AND i.bin <= iv.k
      |  GROUP BY i.bin, iv.j),
      |iso AS (SELECT i, max(mn) AS iso FROM inn GROUP BY i)
      |SELECT rb.bin, rb.n,
      |  CAST(rb.sp AS DOUBLE) / CAST(rb.n AS DOUBLE) AS confidence,
      |  CAST(rb.sy AS DOUBLE) / CAST(rb.n AS DOUBLE) AS accuracy,
      |  iso.iso
      |FROM rb JOIN iso ON rb.bin = iso.i ORDER BY bin""".stripMargin,
    "m07_pivot_wide" -> """
      |SELECT doc_id % 50 AS fn,
      |  coalesce(max_by(source, doc_id) FILTER (WHERE lang = 'de'), 'NULL') AS de,
      |  coalesce(max_by(source, doc_id) FILTER (WHERE lang = 'en'), 'NULL') AS en,
      |  coalesce(max_by(source, doc_id) FILTER (WHERE lang = 'es'), 'NULL') AS es,
      |  coalesce(max_by(source, doc_id) FILTER (WHERE lang = 'fr'), 'NULL') AS fr,
      |  coalesce(max_by(source, doc_id) FILTER (WHERE lang = 'zh'), 'NULL') AS zh
      |FROM documents GROUP BY doc_id % 50 ORDER BY fn""".stripMargin,
    "m11_sample_size" -> s"""
      |WITH p AS (SELECT
      |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
      |      / CAST(count(*) AS DOUBLE) AS p
      |  FROM documents),
      |g AS (SELECT * FROM (VALUES ${sampleGrid.zipWithIndex.map {
               case ((z, e), i) =>
                 s"(CAST($i AS BIGINT), CAST($z AS DOUBLE), CAST($e AS DOUBLE))"
             }.mkString(", ")}) t(grid_id, z, e))
      |SELECT g.grid_id, g.z, g.e, round(p.p, 6) AS p,
      |  CAST(ceil(g.z * g.z * p.p * (1 - p.p) / (g.e * g.e)) AS BIGINT)
      |    AS n_required
      |FROM p, g ORDER BY grid_id""".stripMargin)
}
