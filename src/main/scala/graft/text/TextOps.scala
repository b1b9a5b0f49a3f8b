package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-shaping operators (SURVEY.md §2.2-2.3 P3/P4, §2.8 F13/F14).
  *
  * Chunking is the engine's 1→N table function: expressed as an array
  * expression + `posexplode`, it preserves (doc, chunk_idx) lineage
  * without a shuffle and stays inside whole-stage codegen — the
  * explode fan-out is the scale-safe replacement for the reference's
  * per-document Python loops (`faiss_new_.py:400-410`).
  */
object TextOps {

  /** Python-`str.split()` word array: whitespace runs, no empties. */
  def words(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(c), "\\s+"))

  /** The DuckDB twin of [[words]] over the SQL expression `x` — every
    * oracle's word split. The line break is part of the rendering:
    * p02's oracle text is byte-frozen on it. */
  private[graft] def wordsSql(x: String): String =
    s"""CASE WHEN length(trim($x)) = 0 THEN []
       |    ELSE regexp_split_to_array(trim($x), '\\s+') END""".stripMargin

  /** P3: character length. */
  def charLen(c: Column): Column = length(c)

  /** P3: whitespace word count. */
  def wordLen(c: Column): Column = size(words(c))

  /** P4: deterministic BPE-ish token count — words, number runs and
    * punctuation runs with an optional leading space, the common
    * subset of GPT-style pre-tokenizers expressible in both Java
    * regex and RE2 (so the DuckDB oracle can run the same pattern). */
  val tokenPattern = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"
  def tokenCount(c: Column): Column =
    when(c.isNull, lit(null).cast("int"))
      .otherwise(size(call_function("regexp_extract_all", c, lit(tokenPattern), lit(0))))

  /** F14 chunk start offsets: 0, step, 2·step … < wordCount, where
    * step = chunkSize − overlap (`faiss_new_.py:400-410`; step guard
    * `rag_2.py:136-146`). */
  def chunkStarts(wordCount: Column, chunkSize: Int, overlap: Int): Column = {
    require(chunkSize > overlap, s"chunkSize $chunkSize must exceed overlap $overlap")
    val step = chunkSize - overlap
    when(wordCount > 0, sequence(lit(0), wordCount - 1, lit(step)))
      .otherwise(array().cast("array<int>"))
  }

  /** F14: array of chunk texts for one document's text column. */
  def chunkTexts(text: Column, chunkSize: Int, overlap: Int): Column = {
    val ws = words(text)
    transform(
      chunkStarts(size(ws), chunkSize, overlap),
      start => concat_ws(" ", slice(ws, start + 1, lit(chunkSize))))
  }

  /** F14 as a table op: one row per chunk with lineage + stats.
    * `posexplode` keeps (id, chunk_idx) without any shuffle; empty
    * documents produce no rows, like the reference's `range(0, 0)`. */
  def chunkTable(df: DataFrame, idCol: Column, textCol: Column,
                 chunkSize: Int, overlap: Int): DataFrame = {
    val ws = words(textCol)
    df.select(
        idCol.as("id"),
        size(ws).as("doc_word_len"),
        posexplode(chunkStarts(size(ws), chunkSize, overlap))
          .as(Seq("chunk_idx", "start_word")))
      .select(
        col("id"), col("chunk_idx"), col("start_word"),
        least(lit(chunkSize), col("doc_word_len") - col("start_word"))
          .as("chunk_word_len"))
  }

  /** F13 `truncate_doc_text` (`rag_2.py:52-61`): keep the first 4 +
    * last 4 lines; documents at or under the budget pass through
    * unchanged. */
  def truncateTopBottom(c: Column): Column = {
    val (topN, bottomN) = (4, 4)
    val lines = split(c, "\n")
    val n = size(lines)
    when(c.isNull, lit(null).cast("string"))
      .when(n <= topN + bottomN, c)
      .otherwise(concat_ws("\n",
        concat(slice(lines, 1, topN), slice(lines, -bottomN, bottomN))))
  }

  /** F13 `keep_lines` variant (`faiss_new_.py:396-398`): first+last 2
    * lines joined unconditionally (lines duplicate when the doc is
    * short — reference behavior, kept). */
  def keepLines(c: Column): Column = {
    val numLines = 2
    val lines = split(c, "\n")
    val n = size(lines)
    concat_ws("\n",
      concat(slice(lines, lit(1), least(lit(numLines), n)),
        slice(lines, -least(lit(numLines), n), least(lit(numLines), n))))
  }
}
