package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Lifecycles

class PipelineSpec extends AnyFunSuite {
  import SparkTestSession._

  test("flagship lifecycle report has the sklearn summary rows") {
    val rows = Lifecycles.classifyAndReport(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(rows.contains("accuracy"))
    assert(rows.contains("macro avg"))
    assert(rows.contains("weighted avg"))
    // summary rows carry the full test-side support
    assert(rows("accuracy") == rows("weighted avg") && rows("accuracy") > 0)
  }

  test("confirm operator matches the l04 golden-vector decisions") {
    import spark.implicits._
    val df = graft.llm.LlmPack.confirmVectors.zipWithIndex
      .map { case ((t, f, l, a), i) => (i.toLong, t, f, l, a) }
      .toDF("id", "full_text", "sor_first", "sor_last", "sor_address")
    val viaLifecycle = Lifecycles.confirm(df, col("full_text"),
        col("sor_first"), col("sor_last"), col("sor_address"))
      .select(col("id"), col("decision"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaPack = graft.llm.LlmPack.confirmation(spark, sf)
      .select(col("id"), col("decision"))
      .collect().map(r => r.getInt(0).toLong -> r.getString(1)).toMap
    assert(viaLifecycle == viaPack)
  }

  test("feedback Apply: approved rows corrected, the rest untouched") {
    import spark.implicits._
    val extract = Seq(
      (1L, "first_word", "wrong", "right", 0L),
      (1L, "word_count", "7", "7", 1L),
      (2L, "first_word", "bad", "good", 0L))
      .toDF("doc_id", "field", "predicted_value", "ground_truth", "accuracy")
    val approved = Seq((1L, "first_word", "right"))
      .toDF("doc_id", "field", "corrected_value")
    val out = graft.metrics.FeedbackPack.applyCorrections(extract, approved)
      .orderBy(col("doc_id"), col("field"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(4),
        r.getBoolean(5)))
    assert(out.toSeq == Seq(
      (1L, "first_word", "right", 1L, true), // corrected → accurate
      (1L, "word_count", "7", 1L, false),    // untouched, still right
      (2L, "first_word", "bad", 0L, false))) // unapproved stays wrong
  }

  test("feedback Apply lifecycle never lowers accuracy, lifts approved half") {
    val before = graft.llm.LlmPack.extractLong(spark, sf)
      .agg(sum(col("accuracy"))).collect()(0).getLong(0)
    val applied = Lifecycles.feedbackApply(spark, sf)
    val after = applied.agg(sum(col("accuracy"))).collect()(0).getLong(0)
    assert(after >= before)
    // every corrected row carries the approved ground truth → accurate
    assert(applied.filter(col("corrected") && col("accuracy") =!= 1L).count() == 0)
    // and something was actually corrected on this corpus
    assert(applied.filter(col("corrected")).count() > 0)
  }

  test("lang cap: null lang joins \"\" as one capped language, rows keep " +
      "their original value, no NPE in the lifecycle entry") {
    import spark.implicits._
    val docs = Seq(
      (1L, null.asInstanceOf[String], "aa bb cc dd ee"),
      (2L, null.asInstanceOf[String], "ff gg hh ii jj"),
      (3L, "", "kk ll mm nn oo"),
      (4L, "en", "pp qq rr ss tt"),
      (5L, "en", "uu vv ww xx yy"),
      (6L, "en", "zz ab cd ef gh"))
      .toDF("doc_id", "lang", "text")
    // the lifecycle keys the cap on coalesce(lang, ""): null ≡ "" is
    // ONE language of 3 members, capped like "en"
    val out = graft.text.AnalysisPack.capByQuality(docs,
        coalesce(col("lang"), lit("")),
        graft.text.TextAnalysis.qualityScore(col("text")), 2)
      .collect().map(r => (r.getLong(0), Option(r.getString(1))))
    assert(out.count(_._2.forall(_ == "")) == 2,
      s"nullish language not capped: ${out.toSeq}")
    assert(out.count(_._2.contains("en")) == 2)
    // rows keep their original lang (null stays null, not "")
    assert(out.exists(_._2.isEmpty))
    // and the lifecycle entry's driver-side median no longer NPEs
    assert(Lifecycles.langBalanceCap(docs).count() == 6L)
  }

  test("feedback Suggest: modal GT per f02 cluster, wired end-to-end " +
      "clusters -> suggestions -> apply") {
    val sfd = SparkTestSession.sf
    val pack = graft.metrics.FeedbackPack
    val sugg = pack.suggestCorrections(spark, sfd)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getString(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // exactly one suggestion per f02 error cluster, support = cluster n
    val clusters = pack.errorClusters(spark, sfd)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(sugg.keySet == clusters.keySet)
    clusters.foreach { case (k, n) => assert(sugg(k)._2 == n) }
    // the suggestion really is the modal normalized ground truth
    val diffs = pack.fieldDiffs(spark, sfd).collect()
      .map(r => (r.getString(1), r.getString(4),
        Option(r.getString(3)).map(_.trim).filter(s => s.nonEmpty && s != "NULL")
          .getOrElse("NULL")))
    diffs.groupBy(d => (d._1, d._2)).foreach { case (k, rows) =>
      val modal = rows.groupBy(_._3).view.mapValues(_.size).toSeq
        .sortBy { case (v, c) => (-c, v) }.head
      assert(sugg(k)._1 == modal._1, s"cluster $k suggestion")
      assert(sugg(k)._3 == modal._2.toLong, s"cluster $k n_agree")
      assert(sugg(k)._4 > 0.0 && sugg(k)._4 <= 1.0)
    }
    // end-to-end: Capture/Compare -> Cluster -> Suggest -> Approve
    // (accept every real-valued suggestion) -> Apply
    val extract = graft.llm.LlmPack.extractLong(spark, sfd)
    val approved = pack.correctionsFromSuggestions(
      pack.fieldDiffs(spark, sfd), pack.suggestCorrections(spark, sfd), 0.0)
    val applied = pack.applyCorrections(extract, approved)
    val before = extract.agg(sum(col("accuracy"))).collect()(0).getLong(0)
    val after = applied.agg(sum(col("accuracy"))).collect()(0).getLong(0)
    // a modal-value fix can only add accuracy: corrected rows were all
    // wrong, and rows whose own truth matches the cluster mode flip to 1
    assert(after > before, s"suggest-apply did not lift accuracy " +
      s"($before -> $after)")
    assert(applied.filter(col("corrected") &&
      trim(col("final_value")) === trim(col("ground_truth")) &&
      col("accuracy") =!= 1L).count() == 0)
    assert(applied.filter(col("corrected")).count() > 0)
    // the Apply gate never installs a value contradicting row-level
    // truth: EVERY corrected row now agrees with its ground truth —
    // minority rows stay uncorrected for human review
    assert(applied.filter(col("corrected")).count() ==
      applied.filter(col("corrected") && col("accuracy") === 1L).count())
  }

  test("corpus-prep funnel is monotone and every stage does real work") {
    val rows = graft.pipeline.Lifecycles.corpusPrep(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.map(_._2).toSeq == Seq("raw", "quality", "lang_cap",
      "exact_dedup", "near_dedup", "decontam", "mixture"))
    val counts = rows.map(_._3)
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
      s"funnel not monotone: ${counts.toSeq}")
    assert(counts.head == 650, "raw = documents + planted dups")
    assert(counts.last > 0)
    // the cap must BIND (en is ~42% of the synthetic mix) and the
    // dedup stages must still remove planted duplicates
    assert(counts(2) < counts(1), "language cap did not bind")
    assert(counts(3) < counts(2) && counts(4) < counts(3))
  }

  test("lang cap routes through the a20 threshold-prefilter shape and " +
      "respects the median budget per language") {
    val docs = graft.core.Tables(spark, sf).documents
      .select(col("doc_id"), col("lang"), col("text"), col("source"))
    val capped = graft.pipeline.Lifecycles.langBalanceCap(docs)
    // plan assertion: the threshold-prefilter composition must be in
    // the plan — the broadcast _q_nth join feeding the quality filter
    // — so the funnel's default is the skew-safe shape, never the
    // bare full window over the raw corpus
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("_q_nth"),
      s"lang cap is not routed through the threshold prefilter:\n$plan")
    // budget: lower-median per-lang count of the input
    val inCounts = docs.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy { case (l, c) => (c, l) }
    val cap = inCounts((inCounts.length + 1) / 2 - 1)._2
    val outCounts = capped.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    inCounts.foreach { case (lang, n) =>
      assert(outCounts(lang) == math.min(n, cap),
        s"lang $lang: expected min($n, $cap), got ${outCounts(lang)}")
    }
    // membership equality with the full-window form (a16's shape) on
    // the same frame — the a20 equality argument, exercised here on a
    // frame that carries extra columns through the stage
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("_q").desc, col("doc_id"))
    val direct = docs
      .withColumn("_q",
        round(graft.text.TextAnalysis.qualityScore(col("text")), 6))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= cap).drop("_q", "_rk")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(capped.select(col("doc_id")).collect().map(_.getLong(0)).toSet
      == direct)
  }

  test("corpus report: rollup is consistent and dup rate reflects planted copies") {
    val rows = graft.pipeline.Lifecycles.corpusReport(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    val overall = rows.find(_._1 == "Overall").get
    val sources = rows.filterNot(_._1 == "Overall")
    assert(sources.length == 20)
    // the rollup row is the column sums of the per-source rows
    assert(sources.map(_._2).sum == overall._2 && overall._2 == 650)
    assert(sources.map(_._3).sum == overall._3)
    // only the 50 planted exact copies repeat content: overall
    // distinct = 600 → dup_frac = 1 − 600/650
    assert(overall._4 == 600)
    assert(math.abs(overall._5 - (1.0 - 600.0 / 650.0)) < 1e-6)
    // quality is a weighted-sum score in (0, 1]
    assert(rows.forall(r => r._6 > 0.0 && r._6 <= 1.0))
  }

  test("p05 funnel thresholds: sketched cuts sit within one bin width " +
      "of exact percentiles and never window the input corpus") {
    import graft.text.{TextAnalysis, TextOps => T}
    val thr = graft.pipeline.Lifecycles.funnelThresholds(spark, sf)
    val rows = thr.collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(rows.keySet == Set("quality_p05", "dupfrac_p95"))
    // the sketch contract vs the exact percentile aggregate on the
    // same 6-dp metric columns
    val m = graft.pipeline.Lifecycles.corpusAug(spark, sf).select(
      round(TextAnalysis.qualityScore(col("text")), 6).as("quality"),
      graft.core.Expr.let(T.words(col("text"))) { ws =>
        when(size(ws) > 0, round(lit(1.0) -
          size(array_distinct(ws)).cast("double") /
            size(ws).cast("double"), 6))
      }.as("dupfrac"))
    val ex = m.agg(percentile(col("quality"), lit(0.05)).as("q"),
      percentile(col("dupfrac"), lit(0.95)).as("d")).collect()(0)
    val (q05, qbw) = rows("quality_p05")
    val (d95, dbw) = rows("dupfrac_p95")
    assert(math.abs(q05 - ex.getDouble(0)) <= qbw + 1e-12,
      s"quality p05 $q05 vs exact ${ex.getDouble(0)} (bin $qbw)")
    assert(math.abs(d95 - ex.getDouble(1)) <= dbw + 1e-12,
      s"dupfrac p95 $d95 vs exact ${ex.getDouble(1)} (bin $dbw)")
    // plan assertion: only the bounded (bin, cnt) sketch relation is
    // ever windowed — the corpus is never sorted or single-partitioned
    val plan = thr.queryExecution.optimizedPlan.toString
    val windows = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("bin")),
      s"expected only bin-sketch Windows, got:\n$plan")
    assert(!plan.contains("Sort [quality") && !plan.contains("Sort [dupfrac"),
      s"input metrics must not be globally sorted:\n$plan")
  }

  test("p05 drift trigger: published cuts on their permissive side stay " +
      "quiet; a cut stricter than the live percentile fires") {
    val calm = Lifecycles.funnelThresholds(spark, sf).collect()
    assert(calm.length == 2)
    // the planted corpus IS the calibration basis: both published cuts
    // sit on the permissive side of their measured percentiles, so the
    // audit must not demand re-calibration
    calm.foreach(r => assert(r.getAs[Long]("recalibrate") == 0L,
      s"planted corpus must sit inside the bound: $r"))
    import spark.implicits._
    // degraded corpus: the quality mass collapses far below the 0.45
    // cut — the >=-filter would now drop nearly everything it was
    // designed to keep 95% of; dupfrac stays on the permissive side
    // and must stay quiet
    val degraded = Seq.tabulate(200)(i => (0.05 + (i % 10) * 0.01, 0.1))
      .toDF("quality", "dupfrac")
    val audit = Lifecycles.thresholdAudit(degraded).collect()
    assert(audit.find(_.getString(0) == "quality_p05").get
      .getAs[Long]("recalibrate") == 1L,
      s"stricter-than-percentile quality cut must fire: ${audit.toSeq}")
    assert(audit.find(_.getString(0) == "dupfrac_p95").get
      .getAs[Long]("recalibrate") == 0L,
      s"permissive-side dupfrac cut must stay quiet: ${audit.toSeq}")
  }
}
