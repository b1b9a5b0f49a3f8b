package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextOps

/** Okapi BM25 sparse retrieval (Robertson & Zaragoza 2009, "The
  * Probabilistic Relevance Framework: BM25 and Beyond") — the lexical
  * half of a RAG retrieval stack, next to the dense kNN half the l03
  * context composer uses. The reference's retrieval tier is embedding-
  * only (FAISS); production RAG pairs it with a term-match scorer for
  * exact identifiers, rare names, and out-of-embedding-vocabulary
  * strings, which is exactly what BM25 contributes.
  *
  * Score(q, d) = Σ_{t ∈ q∩d} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
  * with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).
  *
  * Distributed shape — inverted-index end-to-end, the d07/d09
  * discipline:
  *  - postings (term → doc, tf) come from ONE token explode +
  *    groupBy: linear in corpus tokens, partial-aggregatable;
  *  - the scoring join touches only postings OF QUERY TERMS —
  *    fan-out is Σ df(t) over query terms, never |docs|×|queries|;
  *  - corpus stats (N, Σdl) ride along as a one-row broadcast cross
  *    join, no driver action;
  *  - `maxTermDocFreq` is the stop-term skew guard: terms in more
  *    than that many docs carry ~zero idf but dominate posting-list
  *    fan-out at corpus scale, so they drop from scoring exactly like
  *    d07's stop shingles (bounded posting lists ⇒ bounded join).
  *
  * Determinism/oracle parity: per-term scores round to 9 decimals and
  * sum as DECIMAL(28,9) (order-independent — the a08 log-prob
  * discipline, which also absorbs any last-ulp `ln` difference between
  * engines); ranks tie-break (score desc, doc_id asc).
  */
object Bm25 {

  /** Hits kept per query, and the Robertson–Zaragoza defaults for
    * term-frequency saturation (k1) and length normalization (b). */
  private val K = 5
  private val K1 = 1.2
  private val B = 0.75

  /** Top-[[K]] BM25 hits per query. `docs` carries (doc_id, text);
    * `queryTerms` carries distinct (query_id, term) rows. */
  def topK(docs: DataFrame, queryTerms: DataFrame,
           maxTermDocFreq: Long = Long.MaxValue): DataFrame = {
    val w = docs.select(col("doc_id"), TextOps.words(col("text")).as("words"))
    val tokens = w.select(col("doc_id"), explode(col("words")).as("term"))
    val postings = tokens.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfr = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxTermDocFreq)
    val dl = w.select(col("doc_id"), size(col("words")).cast("long").as("dl"))
    val stats = w.agg(count(lit(1)).as("n"),
      sum(size(col("words")).cast("long")).as("sdl"))
    val avgdl: Column = col("sdl").cast("double") / col("n").cast("double")
    val idf: Column = log(lit(1.0) +
      (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val norm: Column = col("tf") + lit(K1) *
      ((lit(1.0) - lit(B)) + lit(B) * (col("dl").cast("double") / avgdl))
    val perTerm = queryTerms
      .join(postings, Seq("term"))
      .join(dfr, Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        round(idf * ((col("tf") * lit(K1 + 1)) / norm), 9)
          .cast("decimal(28,9)").as("ts"))
    val scored = perTerm.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("ts")).cast("double").as("score"))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("doc_id"), round(col("score"), 6).as("score"))
  }
}
