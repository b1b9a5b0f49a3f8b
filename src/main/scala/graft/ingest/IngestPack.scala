package graft.ingest

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.core.Tables

/** End-to-end check of the CSV ingestion path (SURVEY.md §2.1 S1-S3 +
  * P10/P11 + §3.1): the query materializes a REAL per-channel CSV
  * tree (derived deterministically from `documents`), reads it back
  * through [[Ingest.readPages]] — glob scan, lineage columns, page
  * numbering window — and the oracle recomputes the same table from
  * `documents` alone. If the scan, the window, or the path-derived
  * columns are wrong, the hashes diverge.
  */
object IngestPack extends QueryPack {

  private val channels = Seq("EML", "FAX", "WIN", "SCN")
  private val PageWords = 10
  private val NDocs = 40

  /** Deterministic fixture tree under [[graft.core.TempDirs.fixtureRoot]]. */
  private def writeFixtures(spark: SparkSession, dir: String): String = {
    val root = graft.core.TempDirs.fixtureRoot("i01", dir)
    val docs = Tables(spark, dir).documents
      .filter(col("doc_id") < NDocs)
      .select(col("doc_id"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
    docs.foreach { case (id, text) =>
      val channel = channels((id % channels.length).toInt)
      // same discipline as the i05 writer: split-then-drop-empties is
      // exactly the oracle's list_filter(regexp_split), with no
      // Java-trim-vs-SQL-trim asymmetry on \t/\n edges
      val words = text.split("\\s+").filter(_.nonEmpty)
      val pages = words.grouped(PageWords).map(_.mkString(" ")).toSeq
      val chDir = Paths.get(root, channel)
      Files.createDirectories(chDir)
      Files.writeString(chDir.resolve(s"doc$id.csv"), pages.mkString("\n") + "\n")
    }
    root
  }

  /** Scan the fixture tree → page table → (fn, channel, PE_num, md5). */
  def ingestPages(spark: SparkSession, dir: String): DataFrame = {
    val root = writeFixtures(spark, dir)
    Ingest.readPages(spark, root, channels)
      .select(col("fn"), col("channel"), col("PE_num").cast("long").as("pe_num"),
        md5(col("text")).as("page_md5"))
      .orderBy(col("fn"), col("pe_num"))
  }

  /** S8 on the scanned pages: per-file flatten ordered by PE_num. */
  def ingestFlatten(spark: SparkSession, dir: String): DataFrame = {
    val root = writeFixtures(spark, dir)
    Ingest.flattenPages(
        Ingest.readPages(spark, root, channels),
        col("fn"), col("PE_num"), col("text"))
      .select(col("fn"), md5(col("full_text")).as("full_md5"))
      .orderBy(col("fn"))
  }

  private val PairDocs = 30
  private val PairWords = 12

  /** Deterministic PDF↔text sibling tree: every non-empty doc < 30
    * gets `docN.txt` (first 12 words); ids with `id % 3 != 0` also get
    * a sibling `docN.pdf` (stub bytes — the pairing logic under test
    * is filesystem/schema plumbing, not PDF decoding); doc 100, if
    * present, is an orphan PDF with no text sibling. */
  private def writePairFixtures(spark: SparkSession, dir: String): String = {
    val root = graft.core.TempDirs.fixtureRoot("i05", dir)
    val rootPath = Paths.get(root)
    // clear stale fixtures first: a doc that disappeared or emptied in
    // a regenerated corpus must not survive on disk and desync the
    // glob-scanned side from the documents-derived oracle
    if (Files.isDirectory(rootPath)) {
      val old = Files.list(rootPath)
      try old.forEach(p => Files.deleteIfExists(p)) finally old.close()
    }
    Files.createDirectories(rootPath)
    val docs = Tables(spark, dir).documents
      .filter(col("doc_id") < PairDocs || col("doc_id") === 100)
      .select(col("doc_id"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
    docs.foreach { case (id, text) =>
      // split-then-drop-empties == trim+split for every \s edge, and it
      // is exactly what the oracle's list_filter(regexp_split) computes
      val words = text.split("\\s+").filter(_.nonEmpty)
      if (id < PairDocs && words.nonEmpty)
        Files.writeString(Paths.get(root, s"doc$id.txt"),
          words.take(PairWords).mkString(" "))
      if ((id < PairDocs && id % 3 != 0) || id == 100)
        Files.writeString(Paths.get(root, s"doc$id.pdf"), s"PDF doc$id")
    }
    root
  }

  /** S7 + P8 + S11: pair PDFs with their text siblings by file stem —
    * two differently-shaped scans ([[Ingest.conformTo]]-aligned, then
    * schema union) rolled up to one presence row per stem. The rollup
    * is a partial-aggregatable groupBy, not a join: at corpus scale
    * the two listings shuffle once on the stem. */
  def pdfTextPairing(spark: SparkSession, dir: String): DataFrame = {
    val root = writePairFixtures(spark, dir)
    val stemOf = (p: org.apache.spark.sql.Column) =>
      regexp_extract(p, "([^/]+)\\.(txt|pdf)$", 1)
    // pathGlobFilter (not a path glob) so zero matching .txt files
    // yields an empty frame instead of AnalysisException — the pdf
    // side's binaryFile read already degrades the same way
    val txt = spark.read.format("text")
      .option("pathGlobFilter", "*.txt").load(root)
      .select(stemOf(input_file_name()).as("stem"),
        md5(col("value")).as("txt_md5"))
    val pdf = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.pdf").load(root)
      .select(stemOf(col("path")).as("stem"),
        col("length").cast("string").as("pdf_size"))
    val target = Seq("stem", "txt_md5", "pdf_size")
    Ingest.unionAll(Seq(
        Ingest.conformTo(txt, Map.empty, target),
        Ingest.conformTo(pdf, Map.empty, target)))
      .groupBy(col("stem"))
      .agg(max(col("txt_md5")).as("txt_md5"),
        max(col("pdf_size")).as("pdf_size"))
      .select(col("stem"), col("txt_md5").isNotNull.as("has_txt"),
        col("pdf_size").isNotNull.as("has_pdf"),
        (col("txt_md5").isNotNull && col("pdf_size").isNotNull).as("paired"),
        col("txt_md5"), col("pdf_size"))
      .orderBy(col("stem"))
  }

  private val FmtDocs = 200

  /** Shared fixture writer for the format round-trips: a documents
    * subset materialized in `fmt`, then read back through the engine.
    * The oracle recomputes from the parquet `documents` table alone,
    * so any write/read lossiness (string escaping, type mapping,
    * partition-value encoding) fails the hash. */
  private def writeFormat(spark: SparkSession, dir: String, fmt: String,
                          partitionBy: Seq[String]): String = {
    val root = graft.core.TempDirs.fixtureRoot(fmt, dir)
    val w = Tables(spark, dir).documents
      .filter(col("doc_id") < FmtDocs)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      .write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .format(fmt).save(root)
    root
  }

  /** i06: JSONL round-trip — the interchange format every
    * training-data pipeline reads and writes. Written PARTITIONED BY
    * lang (the corpus-layout demo for a text format: the `lang`
    * filter prunes whole directories before a byte is parsed —
    * spec-asserted), read back with an explicit schema (schema
    * inference is a full extra pass at 100 TB), text hashed AFTER the
    * round-trip so JSON string escaping is inside the checked
    * surface. */
  def jsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val root = writeFormat(spark, dir, "json", Seq("lang"))
    spark.read
      .schema("doc_id LONG, n_chars LONG, text STRING, lang STRING")
      .json(root)
      .filter(col("lang") === "en")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(col("text")).as("text_md5"))
      .orderBy(col("doc_id"))
  }

  /** i07: ORC round-trip — the second columnar format, with its own
    * reader and predicate-pushdown path (spec asserts the range
    * predicate reaches the ORC scan). Text hashed after the
    * round-trip, same discipline as i06. */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val root = writeFormat(spark, dir, "orc", Seq.empty)
    spark.read.orc(root)
      .filter(col("n_chars") >= 200)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(col("text")).as("text_md5"))
      .orderBy(col("doc_id"))
  }

  /** i08: small-file COMPACTION round-trip — the standing 100 TB
    * maintenance job ([[graft.relational.Skew.compact]]): the docs
    * subset is deliberately fragmented into 64 tiny files (the
    * streaming-sink / over-parallel-writer pathology), compacted to
    * a byte-budget-derived file count, and read back hashed. The
    * oracle recomputes from the parquet `documents` table alone, so
    * any row lost or mangled across the fragment→compact→read chain
    * fails the hash; the spec asserts the file-count collapse and
    * near-target sizes. */
  def compactedRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    // per-JVM fixture root: two JVMs benching the same data dir never
    // race on the overwrite-then-read-back (Spark overwrite deletes
    // first), and the tree goes at JVM exit
    val frag = graft.core.TempDirs.fixtureRoot("frag", dir)
    Tables(spark, dir).documents
      .filter(col("doc_id") < FmtDocs)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      .repartition(64)
      .write.mode("overwrite").parquet(frag)
    val out = graft.relational.Skew
      .compact(spark, frag, frag + "_compacted", 64 * 1024L)
    spark.read.parquet(out)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(col("text")).as("text_md5"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "i01_ingest_pages" -> ingestPages,
    "i02_ingest_flatten" -> ingestFlatten,
    "i05_pdf_text_pairing" -> pdfTextPairing,
    "i06_jsonl_roundtrip" -> jsonlRoundtrip,
    "i07_orc_roundtrip" -> orcRoundtrip,
    "i08_compacted_roundtrip" -> compactedRoundtrip)

  private val pagesCte = s"""
    |d AS (SELECT doc_id, 'doc' || CAST(doc_id AS VARCHAR) || '.csv' AS fn,
    |    ['EML', 'FAX', 'WIN', 'SCN'][CAST(doc_id % 4 AS INT) + 1] AS channel,
    |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS words
    |  FROM documents WHERE doc_id < $NDocs),
    |p AS (SELECT fn, channel, words,
    |    unnest(range(0, len(words), $PageWords)) AS s
    |  FROM d),
    |pages AS (SELECT fn, channel, CAST(s // $PageWords + 1 AS BIGINT) AS pe_num,
    |    array_to_string(words[s+1:least(s+$PageWords, len(words))], ' ') AS page
    |  FROM p)""".stripMargin

  val oracles: Map[String, String] = Map(
    "i01_ingest_pages" -> s"""
      |WITH $pagesCte
      |SELECT fn, channel, pe_num, md5(page) AS page_md5
      |FROM pages ORDER BY fn, pe_num""".stripMargin,
    "i02_ingest_flatten" -> s"""
      |WITH $pagesCte
      |SELECT fn, md5(string_agg(page, chr(10) ORDER BY pe_num)) AS full_md5
      |FROM pages GROUP BY fn ORDER BY fn""".stripMargin,
    "i05_pdf_text_pairing" -> s"""
      |WITH w0 AS (SELECT doc_id,
      |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS words
      |  FROM documents WHERE doc_id < $PairDocs),
      |t AS (SELECT 'doc' || CAST(doc_id AS VARCHAR) AS stem,
      |    md5(array_to_string(words[1:$PairWords], ' ')) AS txt_md5
      |  FROM w0 WHERE len(words) > 0),
      |p AS (SELECT 'doc' || CAST(doc_id AS VARCHAR) AS stem,
      |    CAST(length('PDF doc' || CAST(doc_id AS VARCHAR)) AS VARCHAR) AS pdf_size
      |  FROM documents
      |  WHERE (doc_id < $PairDocs AND doc_id % 3 <> 0) OR doc_id = 100)
      |SELECT coalesce(t.stem, p.stem) AS stem,
      |  t.stem IS NOT NULL AS has_txt, p.stem IS NOT NULL AS has_pdf,
      |  (t.stem IS NOT NULL AND p.stem IS NOT NULL) AS paired,
      |  t.txt_md5, p.pdf_size
      |FROM t FULL OUTER JOIN p ON t.stem = p.stem
      |ORDER BY stem""".stripMargin,
    "i06_jsonl_roundtrip" -> s"""
      |SELECT doc_id, lang, n_chars, md5(text) AS text_md5
      |FROM documents WHERE doc_id < $FmtDocs AND lang = 'en'
      |ORDER BY doc_id""".stripMargin,
    "i07_orc_roundtrip" -> s"""
      |SELECT doc_id, lang, n_chars, md5(text) AS text_md5
      |FROM documents WHERE doc_id < $FmtDocs AND n_chars >= 200
      |ORDER BY doc_id""".stripMargin,
    "i08_compacted_roundtrip" -> s"""
      |SELECT doc_id, lang, n_chars, md5(text) AS text_md5
      |FROM documents WHERE doc_id < $FmtDocs
      |ORDER BY doc_id""".stripMargin)
}
