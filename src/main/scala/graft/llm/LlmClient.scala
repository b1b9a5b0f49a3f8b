package graft.llm

/** LLM service boundary (SURVEY.md §2.9 L5).
  *
  * The reference calls a remote GenAI endpoint with retry/backoff,
  * batching and throttling (`internal_rag.py:4-31,93-121,139-158`;
  * backoff `ext_3_4.py:150-188`). The engine isolates that behind a
  * trait so every pipeline is testable with a deterministic stub —
  * the correctness gate never depends on a network.
  *
  * Clients must be Serializable: they ship to executors inside
  * `mapPartitions` closures and are invoked once per row with
  * per-partition batching.
  */
trait LlmClient extends Serializable {
  /** Complete a prompt; implementations may throw — the stage layer
    * owns retries. */
  def complete(prompt: String): String

  /** Identity under which completions may be cached: two clients with
    * the same key are interchangeable for the same prompt (same model,
    * same decoding config). Defaults to the class name, which is only
    * correct for configuration-free clients (every client in this
    * repo) — a configurable client MUST override it to include its
    * config (e.g. "http:model:temperature"), or two instances of the
    * same class pointed at different models would share cached
    * responses. Keep the key STABLE across serialization round-trips
    * (no identity hashes: closures deserialize a fresh instance per
    * task, and a per-instance key would defeat the cross-attempt
    * cache). Wrappers that do not change the response distribution
    * (retry, throttling) delegate to the wrapped client's key.
    * Without client identity in the cache key, two models compared in
    * one session would silently share responses through the
    * executor-wide [[LlmStage.ResultCache]]. */
  def cacheKey: String = getClass.getName
}

/** Deterministic template extractor used as the test-mode model.
  *
  * Prompt contract: `EXTRACT|<doc_id>|<text>`. Returns a JSON object
  * with `first_word` and `word_count` (strings, per the reference's
  * "every value should be a string" contract), wrapped in the three
  * malformation modes the repair chain must survive:
  *  - doc_id % 13 == 0 → "NULL" sentinel values;
  *  - doc_id % 7 == 0 → markdown fence + missing closing brace;
  *  - otherwise → prose around the JSON object.
  *
  * The behavior is intentionally SQL-expressible so the DuckDB oracle
  * can replay the entire pipeline including the model.
  */
object StubExtractor extends LlmClient {
  def complete(prompt: String): String = {
    val parts = prompt.split("\\|", 3)
    require(parts.length == 3 && parts(0) == "EXTRACT", s"bad prompt: $prompt")
    val docId = parts(1).toLong
    val words = parts(2).trim.split("\\s+").filter(_.nonEmpty)
    val first = if (words.isEmpty) "NULL" else words.head
    val count = words.length.toString
    if (docId % 13 == 0)
      """{"first_word": "NULL", "word_count": "NULL"}"""
    else if (docId % 7 == 0)
      "```json\n{\"first_word\": \"" + first + "\", \"word_count\": \"" + count + "\"\n```"
    else
      "Result: {\"first_word\": \"" + first + "\", \"word_count\": \"" + count + "\"} done"
  }
}

/** Retry with exponential backoff (reference: `2**retries` seconds,
  * `ext_3_4.py:150-188` — scaled down here to 1 ms, 2 ms, 4 ms over
  * three retries). Retries are PER ROW: a failed row never re-invokes
  * rows that already succeeded (Spark task retry is too coarse —
  * SURVEY §7.4 note 4). The extraction stage calls its model through
  * it. */
final class RetryingClient(inner: LlmClient) extends LlmClient {
  private val MaxRetries = 3
  override def cacheKey: String = inner.cacheKey
  def complete(prompt: String): String = {
    var attempt = 0
    while (true) {
      try return inner.complete(prompt)
      catch {
        case e: Exception =>
          if (attempt >= MaxRetries) throw e
          Thread.sleep(1L << attempt)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
