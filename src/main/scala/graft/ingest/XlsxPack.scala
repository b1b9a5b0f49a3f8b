package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.core.Tables
import graft.sources.Xlsx
import graft.text.TextOps

/** S5 end-to-end: a GT-workbook-shaped frame derived from `documents`
  * is written as real .xlsx, read back through the distributed
  * workbook reader, and compared against an oracle recomputed from
  * `documents` alone — covering the writer, the zip/XML reader, and
  * the string-typed cell contract in one hash.
  */
object XlsxPack extends QueryPack {

  private val NDocs = 10

  def xlsxRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val ws = TextOps.words(col("text"))
    val gt = Tables(spark, dir).documents
      .filter(col("doc_id") < NDocs)
      .select(col("doc_id").cast("string").as("doc_id"),
        element_at(ws, 1).as("first_word"),
        size(ws).cast("string").as("word_count"))
      .orderBy(col("doc_id").cast("long"))
    val path = s"${graft.core.TempDirs.fixtureRoot("i04", dir)}/gt.xlsx"
    Xlsx.write(gt, path)
    Xlsx.read(spark, path)
      .select(col("doc_id").cast("long").as("doc_id"), col("first_word"),
        col("word_count").cast("long").as("word_count"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "i04_xlsx_roundtrip" -> xlsxRoundtrip)

  val oracles: Map[String, String] = Map(
    "i04_xlsx_roundtrip" -> s"""
      |WITH d AS (SELECT doc_id,
      |    ${TextOps.wordsSql("text")} AS words
      |  FROM documents WHERE doc_id < $NDocs)
      |SELECT doc_id, words[1] AS first_word,
      |  CAST(len(words) AS BIGINT) AS word_count
      |FROM d ORDER BY doc_id""".stripMargin)
}
