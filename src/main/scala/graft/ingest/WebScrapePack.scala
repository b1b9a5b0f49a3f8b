package graft.ingest

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.core.Tables

/** S9 end-to-end through the real connector: the query materializes a
  * deterministic fixture "site" (one HTML rates-table page per doc,
  * derived from `documents`), scans it with the
  * [[graft.sources.WebSourceProvider]] DataSource V2 connector
  * (partition-planned fetches, prunable content column), parses the
  * table rows with engine expressions, and the oracle recomputes the
  * same table from `documents` alone — covering the connector, the
  * parse, and the lineage column in one hash.
  */
object WebScrapePack extends QueryPack {

  private val NDocs = 20
  private val NRows = 5

  /** One `doc<id>.html` per doc: an HTML table of the first `NRows`
    * words and their lengths — the reference's scraped rates table
    * shape (label column + value column). */
  private def writeSite(spark: SparkSession, dir: String): Seq[String] = {
    val root = graft.core.TempDirs.fixtureRoot("i03", dir)
    Files.createDirectories(Paths.get(root))
    val docs = Tables(spark, dir).documents
      .filter(col("doc_id") < NDocs)
      .select(col("doc_id"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    docs.toIndexedSeq.map { case (id, text) =>
      val words = text.trim.split("\\s+").filter(_.nonEmpty).take(NRows)
      val rows = words
        .map(w => s"<tr><td>$w</td><td>${w.length}</td></tr>")
        .mkString("")
      val p = Paths.get(root, s"doc$id.html")
      Files.writeString(p, s"<html><body><table>$rows</table></body></html>")
      s"file:${p.toAbsolutePath}"
    }
  }

  /** Connector scan → table-row parse → (fn, row_num, word, wlen). */
  def webScrape(spark: SparkSession, dir: String): DataFrame = {
    val urls = writeSite(spark, dir)
    val pages = spark.read.format("graft-web")
      .option("urls", urls.mkString(","))
      .load()
    pages
      .select(element_at(split(col("url"), "/"), -1).as("fn"),
        posexplode(regexp_extract_all(col("content"),
          lit("<tr><td>([a-z0-9]+)</td><td>([0-9]+)</td></tr>"), lit(0)))
          .as(Seq("i", "r")))
      .select(col("fn"),
        (col("i") + 1).cast("long").as("row_num"),
        regexp_extract(col("r"), "<td>([a-z0-9]+)</td>", 1).as("word"),
        regexp_extract(col("r"), "<td>([0-9]+)</td></tr>", 1)
          .cast("long").as("wlen"))
      .orderBy(col("fn"), col("row_num"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "i03_web_scrape" -> webScrape)

  val oracles: Map[String, String] = Map(
    "i03_web_scrape" -> s"""
      |WITH d AS (SELECT doc_id,
      |    'doc' || CAST(doc_id AS VARCHAR) || '.html' AS fn,
      |    regexp_split_to_array(trim(text), '\\s+') AS words
      |  FROM documents WHERE doc_id < $NDocs),
      |r AS (SELECT fn, unnest(range(1, least(len(words), $NRows) + 1)) AS rn,
      |    words FROM d)
      |SELECT fn, CAST(rn AS BIGINT) AS row_num, words[rn] AS word,
      |  CAST(length(words[rn]) AS BIGINT) AS wlen
      |FROM r ORDER BY fn, row_num""".stripMargin)
}
