package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.core.Tables
import graft.dedup.Dedup
import graft.metrics.Evaluation
import graft.normalize.JsonRepair
import graft.text.TextOps
import graft.vector.KnnJoin

/** The LLM lifecycles of SURVEY.md §3.3/§3.4 run end-to-end with the
  * deterministic stub model: extraction → JSON repair → parse →
  * post-process → evaluate; RAG retrieve → context → vote; SoR
  * validation-confirmation with the deterministic 2-of-3 rule.
  *
  * The stub's behavior is SQL-expressible BY DESIGN, so the DuckDB
  * oracle replays the entire pipeline — including the "model" — and
  * the hash compare covers the real `mapPartitions` stage, the repair
  * chain and the metrics in one pass.
  */
object LlmPack extends QueryPack {

  /** Extraction pipeline, long format: one row per (doc, field).
    *
    * Session-scoped artifact, same discipline as
    * [[graft.vector.KnnJoin.exactSelfTop3]]: the first caller pays the
    * model stage once and persists the (tiny — 2 rows per doc) long
    * frame; l01/l02 and the whole feedback family (f01–f03) then read
    * the artifact instead of re-running the `mapPartitions` LLM stage.
    * With a real remote model that re-execution is a 5× cost bug, not
    * just wall-time (`ext_3_4.py:150-188` checkpoints for the same
    * reason). [[LlmStage.ResultCache]] is the per-executor retry tier
    * underneath; this memo is the per-session artifact tier.
    */
  def extractLong(spark: SparkSession, dir: String): DataFrame =
    graft.core.Artifacts.memo(spark, s"llm_extract:$dir")(
      extractLongPlan(spark, dir))

  private def extractLongPlan(spark: SparkSession, dir: String): DataFrame =
    // spread scan: the per-row extract/repair/parse chain is the cost
    extractLongOn(Tables(spark, dir).documentsSpread
      .select(col("doc_id"), col("text")))

  /** The extraction pipeline over an ARBITRARY (doc_id, text) frame —
    * the seam the p04 streaming lifecycle feeds one micro-batch at a
    * time (each row's extraction/repair/parse chain is a pure function
    * of that row, so batch composition is exact: running it per
    * micro-batch and unioning equals running it once over the union). */
  private[graft] def extractLongOn(docs0: DataFrame): DataFrame = {
    val docs = docs0.select(col("doc_id"), col("text"))
    val responses = LlmStage.complete(docs, col("doc_id"),
      LlmStage.extractionPrompt(col("doc_id"), col("text")),
      new RetryingClient(StubExtractor))
    val parsed = docs
      .join(responses.withColumnRenamed("id", "doc_id"), Seq("doc_id"))
      .select(col("doc_id"), col("text"),
        coalesce(JsonRepair.field(col("response"), "first_word"), lit("NULL"))
          .as("pred_first_word"),
        coalesce(JsonRepair.field(col("response"), "word_count"), lit("NULL"))
          .as("pred_word_count"))
    val truth = parsed
      .withColumn("ws", TextOps.words(col("text")))
      .withColumn("gt_first_word",
        when(size(col("ws")) === 0, "NULL").otherwise(element_at(col("ws"), 1)))
      .withColumn("gt_word_count", size(col("ws")).cast("string"))
    // long format via ONE explode, not a union of two branches — a
    // union would execute the whole extraction stage (mapPartitions
    // LLM calls included) once per branch
    truth
      .select(col("doc_id"), explode(array(
        struct(lit("first_word").as("field"),
          col("pred_first_word").as("predicted_value"),
          col("gt_first_word").as("ground_truth")),
        struct(lit("word_count").as("field"),
          col("pred_word_count").as("predicted_value"),
          col("gt_word_count").as("ground_truth")))).as("r"))
      .select(col("doc_id"), col("r.field").as("field"),
        col("r.predicted_value").as("predicted_value"),
        col("r.ground_truth").as("ground_truth"))
      .withColumn("accuracy",
        when(trim(col("predicted_value")) === trim(col("ground_truth")), 1L)
          .otherwise(0L))
      .orderBy(col("doc_id"), col("field"))
  }

  /** A5 over the extraction run: per-field accuracy + Overall. */
  def extractAccuracy(spark: SparkSession, dir: String): DataFrame =
    Evaluation.accuracyTable(extractLong(spark, dir), col("field"),
        col("accuracy"))
      .orderBy(col("field"))

  /** l12: token-level F1 over the extraction run — the SQuAD answer
    * metric (Rajpurkar et al. 2016 §6.1): per (doc, field) the
    * multiset intersection of whitespace tokens between prediction
    * and ground truth gives precision/recall/F1; report the mean per
    * field plus Overall (ROLLUP). The graded complement to l02's
    * exact-match accuracy — partial credit for near-miss
    * extractions. Edge policy (shared verbatim by the oracle): both
    * sides empty → 1.0; no common token → 0.0.
    *
    * Scale shape: two explode→count aggregations (map-side partial),
    * one (doc, field, token)-keyed join bounded by per-value token
    * counts, a rollup. F1 terms rounded to 9 and decimal-summed (the
    * a08 discipline). */
  def tokenF1(spark: SparkSession, dir: String): DataFrame = {
    // measured: cutting this frame REGRESSED l12 (qreps min 2.43 ->
    // 3.25 s) — the token arrays are cheap to re-plan and the eager
    // checkpoint pass costs more than the cache lookups it saves;
    // transient stays (the one site in the r15 cut sweep that lost)
    val tk = graft.core.Caches.transient(
      extractLong(spark, dir).select(col("doc_id"), col("field"),
        TextOps.words(col("predicted_value")).as("pt"),
        TextOps.words(col("ground_truth")).as("gt")))
    def counts(c: String, out: String) = tk
      .select(col("doc_id"), col("field"), explode(col(c)).as("tok"))
      .groupBy(col("doc_id"), col("field"), col("tok"))
      .agg(count(lit(1)).as(out))
    val cm = counts("pt", "cp")
      .join(counts("gt", "cg"), Seq("doc_id", "field", "tok"))
      .groupBy(col("doc_id"), col("field"))
      .agg(sum(least(col("cp"), col("cg"))).as("c"))
    val cd = col("c").cast("double")
    val p = cd / col("np")
    val r = cd / col("ng")
    val f = round(
      when(col("np") === 0 && col("ng") === 0, 1.0)
        .when(col("c") === 0, 0.0)
        .otherwise(lit(2.0) * p * r / (p + r)), 9)
    tk.select(col("doc_id"), col("field"),
        size(col("pt")).cast("long").as("np"),
        size(col("gt")).cast("long").as("ng"))
      .join(cm, Seq("doc_id", "field"), "left")
      .select(col("doc_id"), col("field"),
        coalesce(col("c"), lit(0L)).as("c"), col("np"), col("ng"))
      .select(col("field"), f.as("f"))
      .rollup(col("field"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("f").cast("decimal(28,9)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_token_f1"))
      .select(coalesce(col("field"), lit("Overall")).as("field"),
        col("n"), col("mean_token_f1"))
      .orderBy(col("field"))
  }

  /** L6 RAG: top-3 docs as context blocks + 2-of-3 label vote. */
  def ragContext(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val snippets = t.documents.select(col("doc_id"),
      concat_ws(" ", slice(TextOps.words(col("text")), 1, 10)).as("snippet"))
    val hits = KnnJoin.exactSelfTop3(spark, dir)
      .join(snippets.withColumnRenamed("doc_id", "neighbor_id"), Seq("neighbor_id"))
      .withColumn("block",
        concat(lit("[Document "), col("rank"), lit("]: "), col("snippet")))
    hits.groupBy(col("query_id"))
      .agg(
        concat_ws("\n", transform(
          array_sort(collect_list(struct(col("rank"), col("block")))),
          x => x.getField("block"))).as("context"),
        max(when(col("rank") === 1, col("n_label"))).as("p1"),
        max(when(col("rank") === 2, col("n_label"))).as("p2"),
        max(when(col("rank") === 3, col("n_label"))).as("p3"))
      .select(col("query_id"), md5(col("context")).as("context_md5"),
        when(col("p2") === col("p3") && col("p2") =!= col("p1"), col("p2"))
          .otherwise(col("p1")).cast("long").as("voted_label"))
      .orderBy(col("query_id"))
  }

  /** l07: BM25 sparse retrieval — the lexical half of the RAG
    * retrieval stack (the dense half is l03's kNN context). Query set
    * is derived deterministically from the corpus: the first 5 words
    * of each doc_id < 20 as that query's term set; top-5 docs per
    * query. The self-doc ranking at/near the top is the expected
    * retrieval sanity signal (spec-asserted). */
  /** The l07/l08 query-term set: first 5 words of each doc_id < 20 —
    * ONE definition, mirrored once by the shared `bm25Cte` qt CTE, so
    * the two retrieval queries can never drift apart. */
  private def bm25QueryTerms(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") < 20)
      .select(col("doc_id").as("query_id"),
        explode(slice(TextOps.words(col("text")), 1, 5)).as("term"))
      .distinct()

  def bm25Retrieval(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents.select(col("doc_id"), col("text"))
    Bm25.topK(docs, bm25QueryTerms(docs))
      .orderBy(col("query_id"), col("rank"))
  }

  /** l08: hybrid retrieval — reciprocal-rank fusion (Cormack, Clarke
    * & Buettcher 2009: RRF(d) = Σ_lists 1/(k₀ + rank), k₀ = 60) of
    * the DENSE ranking (the session self-kNN artifact) and the SPARSE
    * BM25 ranking over the same doc_id < 20 query set. This is the
    * production retrieval stack: embeddings catch paraphrase, BM25
    * catches exact identifiers, RRF needs no score calibration
    * between the two. Absence from a list contributes 0; ties (e.g.
    * dense-only rank r vs sparse-only rank r) break by doc_id. Both
    * input rankings are deterministic, so the fusion replays in SQL. */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val dense = KnnJoin.exactSelfTop3(spark, dir)
      .filter(col("query_id") < 20)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("drank"))
    val docs = Tables(spark, dir).documents.select(col("doc_id"), col("text"))
    val sparse = Bm25.topK(docs, bm25QueryTerms(docs))
      .select(col("query_id"), col("doc_id"), col("rank").as("srank"))
    val rrf = coalesce(lit(1.0) / (lit(60L) + col("drank")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(60L) + col("srank")), lit(0.0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("rrf").desc, col("doc_id"))
    dense.join(sparse, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf", rrf)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("doc_id"), round(col("rrf"), 6).as("rrf"))
      .orderBy(col("query_id"), col("rank"))
  }

  val MmrPool = 10      // candidate pool per query
  val MmrSelect = 5     // diversified picks
  // 0.7 / 0.3 as independent literals on BOTH engines — never derive one from
  // the other (1.0 - 0.7 in IEEE doubles is 0.30000000000000004)
  private val MmrLam = 0.7
  private val MmrComp = 0.3

  /** Shared l11 inputs: the top-[[MmrPool]] candidate pool per query
    * (doc_id < 20 query set, dense similarity) and the bounded
    * candidate-pair sims (≤ pool² rows per query). Dots through
    * [[graft.plans.ArrayDot]] (sequential accumulation, = DuckDB's
    * list_dot_product); every sim rounded to 9 before any compare. */
  private def mmrInputs(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import graft.plans.ArrayDot.dotNative
    val e = Tables(spark, dir).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val sims = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("did"),
        round(dotNative(col("qv"), col("v")), 9).as("qsim"))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("qsim").desc, col("did"))
    val cands = graft.core.Caches.cut(
      sims.withColumn("rnk", row_number().over(wq))
        .filter(col("rnk") <= MmrPool).drop("rnk"))
    val cv = cands.join(e, cands("did") === e("vec_id"))
      .select(col("qid"), col("did"), col("v"))
    val cp = cv.as("a").join(cv.as("b"),
        col("a.qid") === col("b.qid") && col("a.did") =!= col("b.did"))
      .select(col("a.qid").as("qid"), col("a.did").as("d1"),
        col("b.did").as("d2"),
        round(dotNative(col("a.v"), col("b.v")), 9).as("psim"))
    (cands, cp)
  }

  /** Spark's `round(x, 9)` as a scalar — BigDecimal.valueOf + HALF_UP,
    * the exact semantic the staged twin and the DuckDB oracle apply. */
  private def r9(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()

  /** l11: MMR diversified re-rank (Carbonell & Goldstein 1998:
    * maximal marginal relevance, score = λ·sim(q,d) −
    * (1−λ)·max_{s∈S} sim(d,s)) — the diversity-aware tail of the
    * retrieval stack: after l03/l07/l08 fetch candidates, MMR picks a
    * context set that is relevant AND non-redundant, the standard
    * remedy for near-duplicate passages crowding a RAG window.
    * Greedy over a BOUNDED candidate pool (top-[[MmrPool]] by dense
    * similarity, doc_id < 20 query set), [[MmrSelect]] picks at
    * λ = 0.7.
    *
    * Scale shape: ONE shuffle — candidates and pair sims cogroup by
    * query and the greedy runs in memory over the ≤ pool²-element
    * group (the SequencePacking carve-out: genuinely iterative
    * per-group logic over a CONSTANT-bounded group, never corpus
    * size). The first, fully declarative formulation
    * ([[mmrRerankStaged]]) paid ~15 barrier stages for the same
    * 5-step greedy — measured at 5-6 s of pure tiny-stage scheduling
    * at sf0.1 — and survives as the spec-pinned twin. Determinism:
    * scores re-rounded to 9 via the same BigDecimal HALF_UP semantic
    * as Spark's `round`, ties break by doc_id (ascending scan +
    * strict >); the oracle replays the greedy as [[MmrSelect]]
    * chained CTE stages (the t10 staged-oracle discipline). */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (cands, cp) = mmrInputs(spark, dir)
    val lam = MmrLam
    val comp = MmrComp
    val k = MmrSelect
    val picked = cands.select(col("qid"), col("did"), col("qsim"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .cogroup(cp.select(col("qid"), col("d1"), col("d2"), col("psim"))
        .as[(Long, Long, Long, Double)].groupByKey(_._1)) { (qid, cs, ps) =>
        val cand = cs.map(c => (c._2, c._3)).toArray.sortBy(_._1)
        val psim = ps.map(p => ((p._2, p._3), p._4)).toMap
        val qsimOf = cand.toMap
        val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
        val remaining = scala.collection.mutable.ArrayBuffer(cand.map(_._1): _*)
        var i = 1
        while (i <= k && remaining.nonEmpty) {
          var bestDid = -1L
          var bestScore = Double.NegativeInfinity
          for (d <- remaining) { // ascending did + strict > → tie breaks low
            val pen =
              if (selected.isEmpty) 0.0
              else selected.iterator.map(s => psim.getOrElse((d, s), 0.0)).max
            val score = r9(lam * qsimOf(d) - comp * pen)
            if (score > bestScore) { bestScore = score; bestDid = d }
          }
          out += ((qid, bestDid, i.toLong, bestScore))
          selected += bestDid
          remaining -= bestDid
          i += 1
        }
        out.iterator
      }
    picked.toDF("qid", "did", "rank", "score")
      .select(col("qid").as("query_id"), col("rank"), col("did").as("doc_id"),
        round(col("score"), 6).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The fully declarative l11 twin — a fixed [[MmrSelect]]-stage
    * plan: per stage an anti-join (drop picked), a bounded pair-join
    * penalty max, and a per-query rank window. Result-identical to
    * [[mmrRerank]] (spec-pinned); kept as the no-typed-API reference
    * formulation and the shape the SQL oracle mirrors. */
  private[graft] def mmrRerankStaged(spark: SparkSession, dir: String): DataFrame = {
    val (cands0, cp0) = mmrInputs(spark, dir)
    val cp = graft.core.Caches.transient(cp0)
    val wpick = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("did"))
    var selected: DataFrame = null
    var rem = cands0
    for (i <- 1 to MmrSelect) {
      val scored =
        if (selected == null)
          rem.select(col("qid"), col("did"),
            round(lit(MmrLam) * col("qsim"), 9).as("score"))
        else {
          val pen = cp
            .join(selected.select(col("qid"), col("did").as("d2")), Seq("qid", "d2"))
            .groupBy(col("qid"), col("d1")).agg(max(col("psim")).as("pen"))
            .withColumnRenamed("d1", "did")
          rem.join(pen, Seq("qid", "did"), "left")
            .select(col("qid"), col("did"),
              round(lit(MmrLam) * col("qsim") -
                lit(MmrComp) * coalesce(col("pen"), lit(0.0)), 9).as("score"))
        }
      // cache each pick: stage i's plan references every earlier
      // pick, so an uncached loop doubles the logical plan per stage
      // (2^MmrSelect subtree copies); the cache manager swaps the
      // cached subtree in at planning time, keeping it linear
      val pick = graft.core.Caches.transient(
        scored.withColumn("rn", row_number().over(wpick))
          .filter(col("rn") === 1)
          .select(col("qid"), col("did"), lit(i.toLong).as("rank"), col("score")))
      selected = if (selected == null) pick else selected.unionByName(pick)
      rem = rem.join(pick.select(col("qid"), col("did")), Seq("qid", "did"), "left_anti")
    }
    selected
      .select(col("qid").as("query_id"), col("rank"), col("did").as("doc_id"),
        round(col("score"), 6).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** One MMR greedy stage as SQL — anti-join the picked set, max
    * penalty against it through the shared pair sims, rank the
    * re-scored remainder (tie → doc_id), append the winner. */
  private def mmrStageSql(i: Int): String = {
    val prev = i - 1
    s"""
      |rem$i AS (SELECT c.* FROM mcands c LEFT JOIN msel$prev s
      |  ON c.qid = s.qid AND c.did = s.did WHERE s.did IS NULL),
      |pen$i AS (SELECT mcp.qid, mcp.d1 AS did, max(mcp.psim) AS pen
      |  FROM mcp JOIN msel$prev s ON mcp.qid = s.qid AND mcp.d2 = s.did
      |  GROUP BY mcp.qid, mcp.d1),
      |msc$i AS (SELECT r.qid, r.did,
      |    round($MmrLam * r.qsim - $MmrComp * coalesce(p.pen, 0.0), 9) AS score
      |  FROM rem$i r LEFT JOIN pen$i p ON p.qid = r.qid AND p.did = r.did),
      |mp$i AS (SELECT qid, did, score FROM (SELECT *, row_number() OVER
      |    (PARTITION BY qid ORDER BY score DESC, did) AS rn FROM msc$i) WHERE rn = 1),
      |msel$i AS (SELECT * FROM msel$prev
      |  UNION ALL SELECT qid, did, CAST($i AS BIGINT), score FROM mp$i)""".stripMargin
  }

  private def mmrOracleSql: String = s"""
    |WITH me AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    |mq AS (SELECT vec_id AS qid, v AS qv FROM me WHERE vec_id < 20),
    |msims AS (SELECT qid, me.vec_id AS did, round(list_dot_product(qv, me.v), 9) AS qsim
    |  FROM mq, me WHERE me.vec_id <> qid),
    |mcands AS (SELECT qid, did, qsim FROM (SELECT *, row_number() OVER
    |    (PARTITION BY qid ORDER BY qsim DESC, did) AS rnk FROM msims) WHERE rnk <= $MmrPool),
    |mcv AS (SELECT qid, did, v FROM mcands JOIN me ON me.vec_id = mcands.did),
    |mcp AS (SELECT a.qid, a.did AS d1, b.did AS d2,
    |    round(list_dot_product(a.v, b.v), 9) AS psim
    |  FROM mcv a JOIN mcv b ON a.qid = b.qid AND a.did <> b.did),
    |msc1 AS (SELECT qid, did, round($MmrLam * qsim, 9) AS score FROM mcands),
    |mp1 AS (SELECT qid, did, score FROM (SELECT *, row_number() OVER
    |    (PARTITION BY qid ORDER BY score DESC, did) AS rn FROM msc1) WHERE rn = 1),
    |msel1 AS (SELECT qid, did, CAST(1 AS BIGINT) AS rank, score FROM mp1),
    |${(2 to MmrSelect).map(mmrStageSql).mkString(",").stripPrefix(",")}
    |SELECT qid AS query_id, rank, did AS doc_id, round(score, 6) AS score
    |FROM msel$MmrSelect ORDER BY query_id, rank""".stripMargin

  /** §3.4 validation-confirmation: deterministic 2-of-3 rule over
    * (first name, last name, address tokens) + edit distance. */
  val confirmVectors: Seq[(String, String, String, String)] = Seq(
    ("robert smith 123 main st springfield", "Robert", "Smith", "123 Main St"),
    ("bob smith lives at 123 main st", "Robert", "Smith", "123 Main St"),
    ("jane doe 99 oak ave", "John", "Doe", "1 Pine Rd"),
    ("acme llc invoice", "Robert", "Smith", "123 Main"),
    ("robert smith somewhere", "Robert", "Smith", "456 Elm St"),
    ("robert j smith po box 55", "robert", "SMITH", "PO Box 55"))

  def confirmation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val df = confirmVectors.zipWithIndex
      .map { case ((t, f, l, a), i) => (i, t, f, l, a) }
      .toDF("id", "full_text", "sor_first", "sor_last", "sor_address")
    val ws = TextOps.words(lower(col("full_text")))
    val firstM = array_contains(ws, lower(col("sor_first")))
    val lastM = array_contains(ws, lower(col("sor_last")))
    val addrM = forall(TextOps.words(lower(col("sor_address"))),
      t => array_contains(ws, t))
    val matches = firstM.cast("int") + lastM.cast("int") + addrM.cast("int")
    df.select(col("id"),
        firstM.as("first_match"), lastM.as("last_match"), addrM.as("addr_match"),
        when(matches >= 2, "yes").otherwise("no").as("decision"),
        levenshtein(
          lower(concat_ws(" ", col("sor_first"), col("sor_last"))),
          concat_ws(" ", slice(ws, 1, 2))).cast("long").as("name_lev"))
      .orderBy(col("id"))
  }

  /** l09: the L1 batch-embed stage end to end — the `mapPartitions`
    * encoder seam run with the deterministic [[EmbedStage
    * .HashingEmbedder]], exploded to (doc, dim, value) rows so the
    * oracle hash covers every coordinate of every embedding. The
    * stage itself is the thing under test: a model-backed encoder
    * plugs into the same seam unchanged. */
  def hashEmbed(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documentsSpread
      .select(col("doc_id"), col("text"))
    EmbedStage.embed(docs, col("doc_id"), col("text"),
        new EmbedStage.HashingEmbedder())
      .select(col("id").as("doc_id"),
        posexplode(col("embedding")).as(Seq("dim", "value")))
      .select(col("doc_id"), col("dim").cast("long").as("dim"),
        round(col("value"), 6).as("value"))
      .orderBy(col("doc_id"), col("dim"))
  }

  /** l10: retrieval-quality metrics over the BM25 ranking (the
    * training-data-curation eval loop: is the retriever good enough
    * to mine hard negatives / RAG context from?). Graded relevance is
    * derived from the corpus itself — the query's own doc (gain 2),
    * same-`source` docs (gain 1) — so MRR, nDCG@5 and capped
    * recall@5 are all oracle-replayable. DCG/IDCG terms follow the
    * a08 transcendental discipline (round 9 → exact DECIMAL sum);
    * the ideal ranking is materialized per query, never a global
    * sort. The `query_id = -1` row — FIRST under the query_id
    * ordering — is the macro average. */
  def retrievalMetrics(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir).documents
    val docs = t.select(col("doc_id"), col("text"))
    val srcs = t.select(col("doc_id"), col("source"))
    val hits = Bm25.topK(docs, bm25QueryTerms(docs))
      .select(col("query_id"), col("doc_id"), col("rank"))
    val srcN = srcs.groupBy(col("source")).agg(count(lit(1)).as("src_n"))
    val q = srcs.filter(col("doc_id") < 20)
      .join(srcN, Seq("source"))
      .select(col("doc_id").as("query_id"), col("source").as("q_source"),
        (col("src_n") - 1L).as("n_same"))
    def dcgTerm(rel: Column, rank: Column): Column =
      round(rel / (log(rank.cast("double") + 1) / log(lit(2.0))), 9)
        .cast("decimal(18,9)")
    val graded = hits
      .join(q, Seq("query_id"))
      .join(srcs.select(col("doc_id"), col("source").as("d_source")),
        Seq("doc_id"))
      .withColumn("rel", when(col("doc_id") === col("query_id"), 2d)
        .when(col("d_source") === col("q_source"), 1d).otherwise(0d))
    val perQ = graded.groupBy(col("query_id"))
      .agg(sum(dcgTerm(col("rel"), col("rank"))).as("dcg"),
        min(when(col("rel") > 0, col("rank"))).as("first_rel"),
        sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_hit"))
    val ideal = q
      .withColumn("rank",
        explode(sequence(lit(1L), least(col("n_same") + 1L, lit(5L)))))
      .withColumn("rel", when(col("rank") === 1L, 2d).otherwise(1d))
      .groupBy(col("query_id"))
      .agg(sum(dcgTerm(col("rel"), col("rank"))).as("idcg"))
    val m = q.join(perQ, Seq("query_id")).join(ideal, Seq("query_id"))
      .select(col("query_id"),
        when(col("first_rel").isNull, lit(0d))
          .otherwise(round(lit(1d) / col("first_rel").cast("double"), 6))
          .cast("decimal(18,6)").as("mrr"),
        round(col("dcg").cast("double") / col("idcg").cast("double"), 6)
          .cast("decimal(18,6)").as("ndcg5"),
        round(col("n_hit").cast("double") /
            least(col("n_same") + 1L, lit(5L)).cast("double"), 6)
          .cast("decimal(18,6)").as("recall5"))
    // ROLLUP emits the per-query rows AND the macro-average grand-total
    // row from ONE aggregation pass — a plain union of `m` with an
    // aggregate over `m` would recompute the whole BM25 ranking twice
    // (the plan audit showed the duplicated subtree). Per-query groups
    // hold exactly one row, so round(sum/count, 6) is the value itself.
    def macroAvg(c: String): Column =
      round(sum(col(c)).cast("double") / count(lit(1)).cast("double"), 6).as(c)
    m.rollup(col("query_id"))
      .agg(macroAvg("mrr"), macroAvg("ndcg5"), macroAvg("recall5"))
      .select(coalesce(col("query_id"), lit(-1L)).as("query_id"),
        col("mrr"), col("ndcg5"), col("recall5"))
      .orderBy(col("query_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "l01_extract_long" -> extractLong,
    "l02_extract_accuracy" -> extractAccuracy,
    "l03_rag_context" -> ragContext,
    "l04_confirmation" -> confirmation,
    "l07_bm25_retrieval" -> bm25Retrieval,
    "l08_hybrid_rrf" -> hybridRrf,
    "l11_mmr_rerank" -> mmrRerank,
    "l12_token_f1" -> tokenF1,
    "l09_hash_embed" -> hashEmbed,
    "l10_retrieval_metrics" -> retrievalMetrics)

  override val artifacts: Map[String, (SparkSession, String) => DataFrame] =
    Map("llm_extract" -> extractLong)

  /** The stub model + repair chain, replayed in SQL (shared with the
    * p04 oracle in [[graft.pipeline.PipelinePack]] — the paired-query
    * discipline: ONE SQL definition of the extraction chain). */
  private[graft] val stubCte = raw"""
    |w AS (SELECT doc_id, text, ${TextOps.wordsSql("text")} AS words FROM documents),
    |resp AS (SELECT doc_id, words,
    |    CASE WHEN len(words) = 0 THEN 'NULL' ELSE words[1] END AS fw,
    |    CAST(len(words) AS VARCHAR) AS wc,
    |    CASE WHEN doc_id % 13 = 0 THEN '{"first_word": "NULL", "word_count": "NULL"}'
    |         WHEN doc_id % 7 = 0 THEN '```json' || chr(10) || '{"first_word": "' ||
    |           (CASE WHEN len(words) = 0 THEN 'NULL' ELSE words[1] END) ||
    |           '", "word_count": "' || CAST(len(words) AS VARCHAR) || '"' || chr(10) || '```'
    |         ELSE 'Result: {"first_word": "' ||
    |           (CASE WHEN len(words) = 0 THEN 'NULL' ELSE words[1] END) ||
    |           '", "word_count": "' || CAST(len(words) AS VARCHAR) || '"} done'
    |    END AS response
    |  FROM w),
    |rep0 AS (SELECT *, regexp_replace(response, '```(?:json)?\s*|```', '', 'g') AS s0 FROM resp),
    |rep1 AS (SELECT *, '{' || (CASE WHEN strpos(s0, '{') > 0
    |    THEN substr(s0, strpos(s0, '{') + 1) ELSE s0 END) AS w1 FROM rep0),
    |rep AS (SELECT *, CASE WHEN strpos(reverse(w1), '}') = 0 THEN w1 || '}'
    |    ELSE substr(w1, 1, length(w1) - strpos(reverse(w1), '}') + 1) END AS repaired FROM rep1),
    |parsed AS (SELECT doc_id, words, fw, wc,
    |    coalesce(CASE WHEN json_valid(repaired)
    |      THEN json_extract_string(repaired, '$$.first_word') END, 'NULL') AS pfw,
    |    coalesce(CASE WHEN json_valid(repaired)
    |      THEN json_extract_string(repaired, '$$.word_count') END, 'NULL') AS pwc
    |  FROM rep),
    |longf AS (
    |  SELECT doc_id, 'first_word' AS field, pfw AS predicted_value, fw AS ground_truth,
    |    CASE WHEN trim(pfw) = trim(fw) THEN 1 ELSE 0 END AS accuracy FROM parsed
    |  UNION ALL
    |  SELECT doc_id, 'word_count', pwc, wc,
    |    CASE WHEN trim(pwc) = trim(wc) THEN 1 ELSE 0 END FROM parsed)""".stripMargin

  private val ragCte = raw"""${graft.vector.KnnJoin.knnCte},
    |sn AS (SELECT doc_id, array_to_string(
    |    (${TextOps.wordsSql("text")})[1:10], ' ') AS snippet
    |  FROM documents),
    |blocks AS (SELECT r.qid, r.rnk, r.nlabel,
    |    '[Document ' || CAST(r.rnk AS VARCHAR) || ']: ' || sn.snippet AS block
    |  FROM r JOIN sn ON sn.doc_id = r.nid WHERE r.rnk <= 3)""".stripMargin

  /** The BM25 scoring chain (corpus stats → postings → per-term
    * decimal-summed scores → ranked `rb`) — shared by the l07 and l08
    * oracles. */
  private val bm25Cte = raw"""
    |w AS (SELECT doc_id, ${TextOps.wordsSql("text")} AS words FROM documents),
    |st AS (SELECT count(*) AS n, sum(len(words)) AS sdl FROM w),
    |post AS (SELECT doc_id, term, count(*) AS tf
    |  FROM (SELECT doc_id, unnest(words) AS term FROM w) GROUP BY 1, 2),
    |dfr AS (SELECT term, count(*) AS df FROM post GROUP BY term),
    |dl AS (SELECT doc_id, len(words) AS dl FROM w),
    |qt AS (SELECT DISTINCT doc_id AS query_id, term
    |  FROM (SELECT doc_id, unnest(words[1:5]) AS term FROM w WHERE doc_id < 20)),
    |terms AS (SELECT qt.query_id, post.doc_id,
    |    CAST(round(ln(1.0 + (st.n - dfr.df + 0.5) / (dfr.df + 0.5))
    |      * ((post.tf * (1.2 + 1)) / (post.tf + 1.2 * ((1.0 - 0.75)
    |        + 0.75 * (CAST(dl.dl AS DOUBLE)
    |          / (CAST(st.sdl AS DOUBLE) / CAST(st.n AS DOUBLE)))))), 9)
    |      AS DECIMAL(28,9)) AS ts
    |  FROM qt JOIN post ON post.term = qt.term JOIN dfr ON dfr.term = qt.term
    |  JOIN dl ON dl.doc_id = post.doc_id, st),
    |sc AS (SELECT query_id, doc_id, CAST(sum(ts) AS DOUBLE) AS score
    |  FROM terms GROUP BY 1, 2),
    |rb AS (SELECT query_id, doc_id, score, row_number()
    |    OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk FROM sc)""".stripMargin

  val oracles: Map[String, String] = Map(
    "l01_extract_long" -> s"""
      |WITH $stubCte
      |SELECT doc_id, field, predicted_value, ground_truth,
      |  CAST(accuracy AS BIGINT) AS accuracy
      |FROM longf ORDER BY doc_id, field""".stripMargin,
    "l02_extract_accuracy" -> s"""
      |WITH $stubCte
      |SELECT coalesce(field, 'Overall') AS field,
      |  CAST(sum(accuracy) AS BIGINT) AS correct, count(*) AS support,
      |  CAST(CAST(sum(accuracy) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS accuracy
      |FROM longf GROUP BY ROLLUP(field) ORDER BY field""".stripMargin,
    "l03_rag_context" -> s"""
      |WITH $ragCte,
      |agg AS (SELECT qid,
      |    string_agg(block, chr(10) ORDER BY rnk) AS context,
      |    max(CASE WHEN rnk = 1 THEN nlabel END) AS p1,
      |    max(CASE WHEN rnk = 2 THEN nlabel END) AS p2,
      |    max(CASE WHEN rnk = 3 THEN nlabel END) AS p3
      |  FROM blocks GROUP BY qid)
      |SELECT qid AS query_id, md5(context) AS context_md5,
      |  CAST(CASE WHEN p2 = p3 AND p2 <> p1 THEN p2 ELSE p1 END AS BIGINT) AS voted_label
      |FROM agg ORDER BY query_id""".stripMargin,
    "l04_confirmation" -> s"""
      |WITH x AS (SELECT * FROM (VALUES ${confirmVectors.zipWithIndex.map {
           case ((t, f, l, a), i) => s"($i, '$t', '$f', '$l', '$a')"
         }.mkString(", ")}) t(id, full_text, sor_first, sor_last, sor_address)),
      |f AS (SELECT id, sor_first, sor_last,
      |    regexp_split_to_array(trim(lower(full_text)), '\\s+') AS ws,
      |    regexp_split_to_array(trim(lower(sor_address)), '\\s+') AS addr_ws
      |  FROM x),
      |m AS (SELECT id, sor_first, sor_last, ws,
      |    list_contains(ws, lower(sor_first)) AS first_match,
      |    list_contains(ws, lower(sor_last)) AS last_match,
      |    len(list_filter(addr_ws, t -> NOT list_contains(ws, t))) = 0 AS addr_match
      |  FROM f)
      |SELECT id, first_match, last_match, addr_match,
      |  CASE WHEN CAST(first_match AS INT) + CAST(last_match AS INT)
      |    + CAST(addr_match AS INT) >= 2 THEN 'yes' ELSE 'no' END AS decision,
      |  CAST(levenshtein(lower(sor_first || ' ' || sor_last),
      |    array_to_string(ws[1:2], ' ')) AS BIGINT) AS name_lev
      |FROM m ORDER BY id""".stripMargin,
    "l07_bm25_retrieval" -> s"""
      |WITH $bm25Cte
      |SELECT query_id, CAST(rnk AS BIGINT) AS rank, doc_id, round(score, 6) AS score
      |FROM rb WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin,
    "l11_mmr_rerank" -> mmrOracleSql,
    "l12_token_f1" -> s"""
      |WITH $stubCte,
      |tk AS (SELECT doc_id, field,
      |    ${TextOps.wordsSql("predicted_value")} AS pt,
      |    ${TextOps.wordsSql("ground_truth")} AS gt
      |  FROM longf),
      |pc AS (SELECT doc_id, field, tok, count(*) AS cp
      |  FROM (SELECT doc_id, field, unnest(pt) AS tok FROM tk) GROUP BY 1, 2, 3),
      |gc AS (SELECT doc_id, field, tok, count(*) AS cg
      |  FROM (SELECT doc_id, field, unnest(gt) AS tok FROM tk) GROUP BY 1, 2, 3),
      |cm AS (SELECT pc.doc_id, pc.field, sum(least(cp, cg)) AS c
      |  FROM pc JOIN gc ON pc.doc_id = gc.doc_id AND pc.field = gc.field
      |    AND pc.tok = gc.tok GROUP BY 1, 2),
      |rf AS (SELECT tk.doc_id, tk.field, coalesce(cm.c, 0) AS c,
      |    len(pt) AS np, len(gt) AS ng
      |  FROM tk LEFT JOIN cm ON cm.doc_id = tk.doc_id AND cm.field = tk.field),
      |f1 AS (SELECT field, round(
      |    CASE WHEN np = 0 AND ng = 0 THEN 1.0
      |      WHEN c = 0 THEN 0.0
      |      ELSE 2.0 * (CAST(c AS DOUBLE) / np) * (CAST(c AS DOUBLE) / ng)
      |        / (CAST(c AS DOUBLE) / np + CAST(c AS DOUBLE) / ng) END, 9) AS f
      |  FROM rf)
      |SELECT coalesce(field, 'Overall') AS field, count(*) AS n,
      |  round(CAST(sum(CAST(f AS DECIMAL(28,9))) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS mean_token_f1
      |FROM f1 GROUP BY ROLLUP(field) ORDER BY field""".stripMargin,
    "l08_hybrid_rrf" -> s"""
      |WITH $bm25Cte,
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
      |eq AS (SELECT * FROM e WHERE vec_id < 20),
      |${graft.vector.KnnJoin.searchSql("eq", "e", "dr")},
      |dn AS (SELECT qid AS query_id, nid AS doc_id, rnk AS drank FROM dr WHERE rnk <= 3),
      |sp AS (SELECT query_id, doc_id, rnk AS srank FROM rb WHERE rnk <= 5),
      |f AS (SELECT coalesce(dn.query_id, sp.query_id) AS query_id,
      |    coalesce(dn.doc_id, sp.doc_id) AS doc_id,
      |    coalesce(1.0 / (60 + dn.drank), 0.0)
      |      + coalesce(1.0 / (60 + sp.srank), 0.0) AS rrf
      |  FROM dn FULL OUTER JOIN sp
      |    ON sp.query_id = dn.query_id AND sp.doc_id = dn.doc_id),
      |rr AS (SELECT query_id, doc_id, rrf, row_number() OVER (PARTITION BY query_id
      |    ORDER BY rrf DESC, doc_id) AS rnk FROM f)
      |SELECT query_id, CAST(rnk AS BIGINT) AS rank, doc_id, round(rrf, 6) AS rrf
      |FROM rr WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin,
    "l09_hash_embed" -> s"""
      |WITH toks AS (SELECT doc_id,
      |    unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS tok
      |  FROM documents),
      |h AS (SELECT doc_id, md5(tok) AS h FROM toks WHERE tok <> ''),
      |b AS (SELECT doc_id,
      |    ${Dedup.hexIntSql("h", 1, 1)} AS dim,
      |    CASE WHEN substr(h, 2, 1) < '8' THEN 1 ELSE -1 END AS sgn FROM h),
      |s AS (SELECT doc_id, dim, CAST(sum(sgn) AS DOUBLE) AS v
      |  FROM b GROUP BY doc_id, dim),
      |g AS (SELECT d.doc_id, gd.dim
      |  FROM (SELECT DISTINCT doc_id FROM documents) d,
      |       (SELECT unnest(range(0, 16)) AS dim) gd),
      |f AS (SELECT g.doc_id, CAST(g.dim AS BIGINT) AS dim,
      |    coalesce(s.v, 0.0) AS v
      |  FROM g LEFT JOIN s ON s.doc_id = g.doc_id AND s.dim = g.dim),
      |n AS (SELECT doc_id, sqrt(sum(v * v)) AS nrm FROM f GROUP BY doc_id)
      |SELECT f.doc_id, f.dim,
      |  round(CASE WHEN n.nrm = 0 THEN 0.0 ELSE f.v / n.nrm END, 6) AS value
      |FROM f JOIN n ON n.doc_id = f.doc_id
      |ORDER BY f.doc_id, f.dim""".stripMargin,
    "l10_retrieval_metrics" -> s"""
      |WITH $bm25Cte,
      |h AS (SELECT query_id, doc_id, rnk AS rank FROM rb WHERE rnk <= 5),
      |srcs AS (SELECT doc_id, source FROM documents),
      |sn AS (SELECT source, count(*) AS src_n FROM srcs GROUP BY source),
      |q AS (SELECT s.doc_id AS query_id, s.source AS q_source,
      |    sn.src_n - 1 AS n_same
      |  FROM srcs s JOIN sn ON sn.source = s.source WHERE s.doc_id < 20),
      |g AS (SELECT h.query_id, h.rank,
      |    CASE WHEN h.doc_id = h.query_id THEN 2.0
      |         WHEN d.source = q.q_source THEN 1.0 ELSE 0.0 END AS rel
      |  FROM h JOIN q ON q.query_id = h.query_id
      |  JOIN srcs d ON d.doc_id = h.doc_id),
      |pq AS (SELECT query_id,
      |    sum(CAST(round(rel / (ln(CAST(rank + 1 AS DOUBLE)) / ln(2.0)), 9)
      |      AS DECIMAL(18,9))) AS dcg,
      |    min(CASE WHEN rel > 0 THEN rank END) AS first_rel,
      |    sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS n_hit
      |  FROM g GROUP BY query_id),
      |ideal AS (SELECT query_id,
      |    unnest(range(1, CAST(least(n_same + 1, 5) AS BIGINT) + 1)) AS rank
      |  FROM q),
      |idc AS (SELECT query_id,
      |    sum(CAST(round((CASE WHEN rank = 1 THEN 2.0 ELSE 1.0 END)
      |        / (ln(CAST(rank + 1 AS DOUBLE)) / ln(2.0)), 9)
      |      AS DECIMAL(18,9))) AS idcg
      |  FROM ideal GROUP BY query_id),
      |m AS (SELECT q.query_id,
      |    CAST(CASE WHEN pq.first_rel IS NULL THEN 0.0
      |      ELSE round(1.0 / CAST(pq.first_rel AS DOUBLE), 6) END
      |      AS DECIMAL(18,6)) AS mrr,
      |    CAST(round(CAST(pq.dcg AS DOUBLE) / CAST(idc.idcg AS DOUBLE), 6)
      |      AS DECIMAL(18,6)) AS ndcg5,
      |    CAST(round(CAST(pq.n_hit AS DOUBLE)
      |        / CAST(least(q.n_same + 1, 5) AS DOUBLE), 6)
      |      AS DECIMAL(18,6)) AS recall5
      |  FROM q
      |  JOIN pq ON pq.query_id = q.query_id
      |  JOIN idc ON idc.query_id = q.query_id)
      |SELECT coalesce(query_id, -1) AS query_id,
      |  round(CAST(sum(mrr) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mrr,
      |  round(CAST(sum(ndcg5) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS ndcg5,
      |  round(CAST(sum(recall5) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS recall5
      |FROM m GROUP BY ROLLUP(query_id)
      |ORDER BY query_id""".stripMargin)
}
