package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm._

class LlmSpec extends AnyFunSuite {
  import SparkTestSession._

  test("retrying client survives transient failures with backoff") {
    FlakyClient.reset()
    val client = new RetryingClient(new FlakyClient(StubExtractor, 2))
    val out = client.complete("EXTRACT|1|hello world")
    assert(out.contains("\"first_word\": \"hello\""))
    assert(FlakyClient.attempts.get("EXTRACT|1|hello world").get() == 3)
  }

  test("retrying client gives up after maxRetries") {
    FlakyClient.reset()
    val client = new RetryingClient(new FlakyClient(StubExtractor, 10))
    intercept[RuntimeException] {
      client.complete("EXTRACT|2|a b c")
    }
  }

  test("stage memoizes duplicate (id, prompt) rows within a partition") {
    FlakyClient.reset()
    LlmStage.ResultCache.clear()
    import spark.implicits._
    // same id+prompt twice in ONE partition: client must fire once
    val df = Seq((1L, "EXTRACT|1|x y"), (1L, "EXTRACT|1|x y")).toDF("id", "p")
      .coalesce(1)
    val client = new FlakyClient(StubExtractor, 0) // counts invocations
    val n = LlmStage.complete(df, col("id"), col("p"), client).count()
    assert(n == 2)
    assert(FlakyClient.attempts.get("EXTRACT|1|x y").get() == 1)
  }

  /** Counts every invocation in FlakyClient.attempts; throws on the
    * FIRST attempt of any prompt containing `marker`, succeeds after. */
  private final class CountingFailOnce(marker: String) extends LlmClient {
    def complete(prompt: String): String = {
      val n = FlakyClient.attempts
        .computeIfAbsent(prompt, _ => new java.util.concurrent.atomic.AtomicInteger(0))
        .incrementAndGet()
      if (prompt.contains(marker) && n == 1)
        throw new RuntimeException("transient failure")
      StubExtractor.complete(prompt)
    }
  }

  test("result cache survives a failed attempt: succeeded rows never re-prompted") {
    FlakyClient.reset()
    LlmStage.ResultCache.clear()
    import spark.implicits._
    // one partition, row 1 first: attempt 1 completes row 1, dies on
    // row 2 — the retried execution must serve row 1 from the cache
    val df = Seq((1L, "EXTRACT|1|alpha beta"), (2L, "EXTRACT|2|BOOM gamma"))
      .toDF("id", "p").coalesce(1)
    val client = new CountingFailOnce("BOOM")
    intercept[Exception] {
      LlmStage.complete(df, col("id"), col("p"), client).count()
    }
    val n = LlmStage.complete(df, col("id"), col("p"), client).count()
    assert(n == 2)
    assert(FlakyClient.attempts.get("EXTRACT|1|alpha beta").get() == 1,
      "succeeded row was re-prompted on the retried attempt")
    assert(FlakyClient.attempts.get("EXTRACT|2|BOOM gamma").get() == 2)
  }

  test("extraction artifact: consumers reuse the persisted run, no new model calls") {
    LlmPack.extractLong(spark, sf).count() // materialize + persist the artifact
    LlmStage.ResultCache.clear()
    graft.metrics.FeedbackPack.accuracyTrend(spark, sf).count()
    LlmPack.extractAccuracy(spark, sf).count()
    assert(LlmStage.ResultCache.size == 0,
      "a consumer re-executed the extraction model stage")
  }

  test("extraction pipeline: malformed modes parse, sentinel mode fails accuracy") {
    val rows = LlmPack.extractLong(spark, sf)
      .filter(col("field") === "word_count").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(4)))
    val by = rows.map(r => r._1 -> r).toMap
    // doc 7: fenced+unclosed JSON repaired → correct
    assert(by(7L)._3 == 1L, s"doc 7 got ${by(7L)}")
    // doc 13: "NULL" sentinel → wrong vs real count
    assert(by(13L)._2 == "NULL" && by(13L)._3 == 0L)
    // doc 91 = 7·13: the %13 branch wins
    assert(by(91L)._2 == "NULL")
    // plain mode correct
    assert(by(1L)._3 == 1L)
  }

  test("bm25: idf, tf saturation, length normalization, and the stop-term cap") {
    import spark.implicits._
    val docs = Seq(
      (0L, "zebra apple apple"),
      (1L, "apple apple apple apple"),
      (2L, "zebra"),
      (3L, "apple banana cherry durian elderberry fig grape")
    ).toDF("doc_id", "text")
    def run(qs: Seq[(Long, String)], cap: Long = Long.MaxValue) =
      Bm25.topK(docs, qs.toDF("query_id", "term"), maxTermDocFreq = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3)))
    // rare term: both zebra docs hit; the shorter doc wins the length
    // normalization (same tf, smaller dl → larger score)
    val zebra = run(Seq((0L, "zebra")))
    assert(zebra.map(_._3).toSeq == Seq(2L, 0L))
    // common term: tf drives the order, saturated by dl
    val apple = run(Seq((1L, "apple")))
    assert(apple.map(_._3).toSeq == Seq(1L, 0L, 3L))
    // docs sharing no query term never appear
    assert(!zebra.exists(_._3 == 1L) && !zebra.exists(_._3 == 3L))
    // stop-term cap: apple (df=3) drops at cap 2, zebra (df=2) stays —
    // the two-term query then scores docs by zebra alone
    val capped = run(Seq((2L, "apple"), (2L, "zebra")), cap = 2L)
    assert(capped.map(_._3).toSet == Set(0L, 2L))
    val uncapped = run(Seq((2L, "apple"), (2L, "zebra")))
    assert(uncapped.map(_._3).toSet == Set(0L, 1L, 2L, 3L))
  }

  test("hybrid rrf ranks both-list docs above any single-list doc") {
    // worst both-lists score 1/63 + 1/65 ≈ 0.0313 beats best
    // single-list score 1/61 ≈ 0.0164, so consensus docs must
    // dominate the fused ranking — the property RRF is chosen for
    val dense = graft.vector.KnnJoin.exactSelfTop3(spark, sf)
      .filter(col("query_id") < 20)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val sparse = LlmPack.bm25Retrieval(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val fused = LlmPack.hybridRrf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(fused.nonEmpty)
    fused.groupBy(_._1).foreach { case (q, rows) =>
      val byRank = rows.sortBy(_._2)
      val scores = byRank.map(_._4)
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      val inBoth = byRank.filter(r => dense((q, r._3)) && sparse((q, r._3)))
      val inOne = byRank.filter(r => dense((q, r._3)) ^ sparse((q, r._3)))
      if (inBoth.nonEmpty && inOne.nonEmpty)
        assert(inBoth.map(_._2).max < inOne.map(_._2).min,
          s"query $q: single-list doc outranked a consensus doc")
    }
  }

  test("confirmation applies the 2-of-3 rule") {
    val d = LlmPack.confirmation(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getString(4)).toMap
    assert(d(0) == "yes") // all three match
    assert(d(1) == "yes") // last + address
    assert(d(2) == "no")  // last only
    assert(d(3) == "no")  // none
    assert(d(4) == "yes") // first + last
  }

  test("hashing embedder: unit norm, determinism, bucket math, empty text") {
    val e = new EmbedStage.HashingEmbedder()
    val v = e.embed("hello world hello")
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-12, "L2 norm must be 1")
    assert(v.sameElements(e.embed("hello world hello")), "must be deterministic")
    // md5('hello') = 5d41..., md5('world') = 7d79...: buckets 5 and 7,
    // signs from the second nibble (d≥8 → −1 for both)
    val raw = Array.fill(16)(0.0)
    raw(5) = -2.0; raw(7) = -1.0
    val n = math.sqrt(5.0)
    assert(v.zip(raw.map(_ / n)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    assert(e.embed("").forall(_ == 0.0), "empty text → zero vector")
    assert(e.embed(null).forall(_ == 0.0), "null text → zero vector")
  }

  test("embed stage (mapPartitions seam) equals per-row direct embedding") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta"), (2L, ""), (3L, "Gamma, gamma; DELTA!"))
      .toDF("doc_id", "text").repartition(3)
    val emb = new EmbedStage.HashingEmbedder()
    val staged = EmbedStage.embed(docs, col("doc_id"), col("text"), emb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    for ((id, t) <- Seq(1L -> "alpha beta", 2L -> "", 3L -> "Gamma, gamma; DELTA!"))
      assert(staged(id).sameElements(emb.embed(t)), s"doc $id diverged")
    // tokenization is case-insensitive on [a-z0-9]+ runs
    assert(staged(3L).sameElements(emb.embed("gamma gamma delta")))
  }

  test("retrieval metrics: ranges, self-doc MRR, and the macro-average row") {
    val rows = LlmPack.retrievalMetrics(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val (overall, perQ) = rows.partition(_._1 == -1L)
    assert(overall.length == 1 && perQ.length == 20)
    perQ.foreach { case (q, mrr, ndcg, recall) =>
      assert(mrr >= 0 && mrr <= 1, s"q$q mrr out of range")
      assert(ndcg >= 0 && ndcg <= 1 + 1e-9, s"q$q ndcg out of range")
      assert(recall >= 0 && recall <= 1, s"q$q recall out of range")
    }
    // independent MRR twin: recompute from the l07 ranking + sources
    // with plain Scala (the corpus is word-salad, so relevance at the
    // top is sparse — the metric, not the retriever, is under test)
    val srcOf = graft.core.Tables(spark, sf).documents
      .select(col("doc_id"), col("source"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expMrr = LlmPack.bm25Retrieval(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (q, rows) =>
        val firstRel = rows.sortBy(_._2).collectFirst {
          case (_, rank, d) if d == q || srcOf(d) == srcOf(q) => rank
        }
        q -> firstRel.fold(0.0)(r => 1.0 / r)
      }
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-6
    perQ.foreach { case (q, mrr, _, _) =>
      assert(close(mrr, expMrr(q)), s"q$q mrr $mrr != twin ${expMrr(q)}")
    }
    // ndcg/recall are positive exactly when some relevant doc was hit
    perQ.foreach { case (q, mrr, ndcg, recall) =>
      assert((mrr > 0) == (ndcg > 0) && (mrr > 0) == (recall > 0), s"q$q")
    }
    assert(close(overall.head._2,
      BigDecimal(perQ.map(_._2).sum / 20).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble))
  }

  test("mmr rerank: relevance-first pick, no repeats, diversity bite") {
    import graft.llm.LlmPack
    val sf = SparkTestSession.sf
    val rows = LlmPack.mmrRerank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.size == 20 && byQ.values.forall(_.length == 5))
    byQ.foreach { case (q, rs) =>
      // rank 1..5, no duplicate docs within a query
      assert(rs.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L), s"q$q")
      assert(rs.map(_._3).distinct.length == 5, s"q$q repeats")
      // stage scores never increase: the penalty only grows as S fills
      val inOrder = rs.sortBy(_._2).map(_._4)
      assert(inOrder.zip(inOrder.tail).forall { case (a, b) => a >= b - 1e-9 },
        s"q$q scores $inOrder")
    }
    // rank-1 is the pure-relevance argmax: equals the kNN top neighbor
    val top1 = graft.vector.KnnJoin.exactSelfTop3(spark, sf)
      .filter(org.apache.spark.sql.functions.col("rank") === 1)
      .filter(org.apache.spark.sql.functions.col("query_id") < 20)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toMap
    byQ.foreach { case (q, rs) =>
      assert(rs.find(_._2 == 1L).get._3 == top1(q), s"q$q rank-1 not the kNN top")
    }
    // determinism
    val again = LlmPack.mmrRerank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq == again.toSeq)
    // the one-shuffle cogroup greedy equals the declarative staged twin
    val staged = LlmPack.mmrRerankStaged(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq == staged.toSeq)
  }
}

/** Fails the first `failTimes` attempts per distinct prompt, then
  * delegates — exercises the retry path deterministically. */
final class FlakyClient(inner: LlmClient, failTimes: Int) extends LlmClient {
  def complete(prompt: String): String = {
    val n = FlakyClient.attempts
      .computeIfAbsent(prompt, _ => new java.util.concurrent.atomic.AtomicInteger(0))
      .incrementAndGet()
    if (n <= failTimes) throw new RuntimeException(s"flaky failure #$n")
    inner.complete(prompt)
  }
  // responses (when they arrive) are inner's — share its cache identity
  override def cacheKey: String = inner.cacheKey
}

object FlakyClient {
  /** JVM-wide attempt counts (local-mode tests share one JVM). */
  val attempts =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()
  def reset(): Unit = attempts.clear()
}
