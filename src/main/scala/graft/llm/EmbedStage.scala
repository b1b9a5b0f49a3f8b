package graft.llm

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The batch-embedding table stage (SURVEY.md §2.9 L1): DataFrame in,
  * DataFrame + `embedding: array<double>` out, via the same
  * `mapPartitions` seam as [[LlmStage]] / [[graft.multimodal
  * .MediaStage]] — one model instance per partition, so encoder
  * setup amortizes across the batch (the reference's
  * `model.encode(list_of_texts)` pattern, `Neww_Fai.py:873-881`).
  *
  * At 100 TB the stage scales with partition count and holds no
  * per-executor state beyond the encoder itself; embeddings flow
  * straight into the vector surface ([[graft.vector.KnnJoin]])
  * without a driver round-trip.
  */
object EmbedStage {

  /** Partition-local encoder seam. Implementations must be
    * Serializable (shipped to executors) and deterministic per text
    * if their queries are to be oracle- or replay-checked. */
  trait Embedder extends Serializable {
    def embed(text: String): Array[Double]
  }

  /** Deterministic feature-hashing encoder (the signed hashing trick,
    * Weinberger et al. 2009): tokens = lowercased `[a-z0-9]+` runs;
    * each token occurrence adds ±1 to the md5-chosen dimension
    * (first hex nibble = bucket, so the vector has exactly 16
    * dimensions; second nibble's high bit = sign); the vector is
    * L2-normalized. Pure integer accumulation + one sqrt, so the
    * embedding replays bit-identically in SQL on any engine with
    * md5 — this is the test-mode encoder that makes the
    * L1 stage hash-checkable end to end (query l09). A production
    * deployment swaps in a model-backed [[Embedder]] at this seam;
    * nothing downstream changes. */
  final class HashingEmbedder extends Embedder {
    override def embed(text: String): Array[Double] = {
      val v = new Array[Double](16)
      val md = MessageDigest.getInstance("MD5")
      // Locale.ROOT: default-locale lowercasing is executor-JVM state
      // (tr_TR turns "TITLE" into "tıtle" and splits the token), and
      // the SQL oracle's lower() is locale-free
      val tokens = Option(text).getOrElse("")
        .toLowerCase(java.util.Locale.ROOT)
        .split("[^a-z0-9]+").iterator.filter(_.nonEmpty)
      tokens.foreach { tok =>
        md.reset()
        val h = md.digest(tok.getBytes(StandardCharsets.UTF_8))
        val bucket = (h(0) >> 4) & 0xf
        val sign = if (((h(0) >> 3) & 1) == 0) 1.0 else -1.0
        v(bucket) += sign
      }
      val norm = math.sqrt(v.map(x => x * x).sum)
      if (norm == 0) v else v.map(_ / norm)
    }
  }

  /** Run `embedder` over (id, text) rows → (id, embedding). */
  def embed(df: DataFrame, id: Column, text: Column,
            embedder: Embedder): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(id.cast("long").as("id"), text.as("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        // one encoder per partition — the amortization point where a
        // model-backed embedder loads weights once per task
        rows.map { case (rowId, t) => (rowId, embedder.embed(t)) }
      }
      .toDF("id", "embedding")
  }
}
