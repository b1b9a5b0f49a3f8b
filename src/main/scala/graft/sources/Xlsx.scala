package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** S5 Excel I/O (reference: GT workbooks and prediction sheets read/
  * written as .xlsx — `post_pro_9_8.py:116`, `remove_paranthesis.py:
  * 4,24`, `ext_3_4.py:35`) with ZERO added dependencies: .xlsx is a
  * zip of SpreadsheetML XML, and the JDK's zip + DOM cover the subset
  * those surfaces use (single sheet, string cells — the reference's
  * own contract is "every value should be a string").
  *
  * Scale posture, honestly stated:
  *  - [[write]] is a DRIVER-SIDE bounded materialization — the
  *    GT-workbook surface is small by definition (the format itself
  *    caps a sheet at ~1M rows), and the row cap makes the bound
  *    explicit. Large outputs belong in parquet/CSV sinks.
  *  - [[read]] is DISTRIBUTED: a `binaryFile` scan hands each
  *    executor whole workbook bytes; parsing (zip + DOM) runs in
  *    `flatMap` on the executors, so a directory of many workbooks
  *    parallelizes file-per-task. A single workbook is one task —
  *    bounded by the format's own sheet cap, not by the engine.
  *
  * String cells are written as inline strings and numeric schema
  * columns as bare number cells (`<v>`); the reader resolves inline
  * strings, shared-strings tables (`t="s"`) and numeric `<v>` cells —
  * the shapes basic external writers emit.
  */
object Xlsx {

  private def xmlEscape(s: String): String = s
    .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    .replace("\"", "&quot;").replace("'", "&apos;")

  private def colRef(i: Int): String = {
    var n = i
    val sb = new StringBuilder
    while (n >= 0) { sb.insert(0, ('A' + n % 26).toChar); n = n / 26 - 1 }
    sb.toString
  }

  /** Parse a column reference like "BC12" → 0-based column index. */
  private def colIndex(ref: String): Int = {
    var acc = 0
    var i = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i) - 'A' + 1)
      i += 1
    }
    acc - 1
  }

  /** Row cap of [[write]]: the GT workbook is a driver-side artifact. */
  private[graft] val MaxRows = 100000

  /** Write `df` (null → empty cell) as a single-sheet workbook.
    * String columns become inline-string cells; NUMERIC schema columns
    * become bare `<v>` number cells, so a human opening the workbook
    * in Excel sorts/filters them numerically (the reader resolves both
    * shapes — the stringified round-trip value is identical). Bounded,
    * driver-side — see scaladoc. */
  def write(df: DataFrame, path: String): Unit = {
    import org.apache.spark.sql.types.NumericType
    val names = df.columns
    val numeric = df.schema.fields.map(_.dataType.isInstanceOf[NumericType])
    val rows = df.limit(MaxRows + 1).collect()
    require(rows.length <= MaxRows,
      s"xlsx write is the bounded GT-workbook surface (cap $MaxRows rows); " +
        "use the parquet/CSV sinks for large tables")
    // NaN/Infinity are not valid SpreadsheetML numbers — Excel would
    // "repair" (drop) such cells; they fall back to inline strings
    def finiteNumber(v: String): Boolean =
      v != "NaN" && v != "Infinity" && v != "-Infinity"
    def rowXml(r: Int, cells: Seq[String], asNumber: Int => Boolean): String =
      s"""<row r="${r + 1}">""" + cells.zipWithIndex.map { case (v, c) =>
        if (v == null) ""
        else if (asNumber(c) && finiteNumber(v))
          s"""<c r="${colRef(c)}${r + 1}"><v>""" + xmlEscape(v) + "</v></c>"
        else s"""<c r="${colRef(c)}${r + 1}" t="inlineStr"><is><t>""" +
          xmlEscape(v) + "</t></is></c>"
      }.mkString + "</row>"
    val body = new StringBuilder
    body ++= rowXml(0, names.toSeq, _ => false)
    rows.zipWithIndex.foreach { case (row, i) =>
      body ++= rowXml(i + 1,
        names.indices.map(j => if (row.isNullAt(j)) null else String.valueOf(row.get(j))),
        numeric(_))
    }
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        s"<sheetData>$body</sheetData></worksheet>"
    val workbook =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" """ +
        """xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
        """<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>"""
    val workbookRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>"""
    val rootRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>"""
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/></Types>"""
    val out = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(out, StandardCharsets.UTF_8)
    def entry(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(content.getBytes(StandardCharsets.UTF_8))
      zip.closeEntry()
    }
    entry("[Content_Types].xml", contentTypes)
    entry("_rels/.rels", rootRels)
    entry("xl/workbook.xml", workbook)
    entry("xl/_rels/workbook.xml.rels", workbookRels)
    entry("xl/worksheets/sheet1.xml", sheet)
    zip.close()
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.write(p, out.toByteArray)
  }

  /** Parse workbook bytes → rows of cells (sparse refs null-filled). */
  private[sources] def parseSheet(bytes: Array[Byte]): Seq[Array[String]] = {
    var sheetXml: Array[Byte] = null
    var sharedXml: Array[Byte] = null
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    var e = zin.getNextEntry
    while (e != null) {
      if (e.getName == "xl/worksheets/sheet1.xml") sheetXml = zin.readAllBytes()
      else if (e.getName == "xl/sharedStrings.xml") sharedXml = zin.readAllBytes()
      e = zin.getNextEntry
    }
    zin.close()
    require(sheetXml != null, "no xl/worksheets/sheet1.xml in workbook")
    val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    dbf.setNamespaceAware(false)
    // XXE hardening: workbooks can come from outside the engine, and a
    // crafted DTD would otherwise disclose local files into the
    // DataFrame (or SSRF from executors). SpreadsheetML needs no DTDs.
    dbf.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    dbf.setFeature("http://xml.org/sax/features/external-general-entities", false)
    dbf.setFeature("http://xml.org/sax/features/external-parameter-entities", false)
    dbf.setXIncludeAware(false)
    dbf.setExpandEntityReferences(false)
    def parse(b: Array[Byte]) =
      dbf.newDocumentBuilder().parse(new ByteArrayInputStream(b))
    val shared: IndexedSeq[String] = if (sharedXml == null) IndexedSeq.empty else {
      val doc = parse(sharedXml)
      val sis = doc.getElementsByTagName("si")
      (0 until sis.getLength).map(i => sis.item(i).getTextContent)
    }
    val doc = parse(sheetXml)
    val rowNodes = doc.getElementsByTagName("row")
    (0 until rowNodes.getLength).map { ri =>
      val row = rowNodes.item(ri).asInstanceOf[org.w3c.dom.Element]
      val cells = row.getElementsByTagName("c")
      val buf = ArrayBuffer.empty[String]
      (0 until cells.getLength).foreach { ci =>
        val c = cells.item(ci).asInstanceOf[org.w3c.dom.Element]
        val ref = c.getAttribute("r")
        val idx = if (ref.nonEmpty) colIndex(ref) else buf.length
        while (buf.length < idx) buf += null
        val t = c.getAttribute("t")
        val v = t match {
          case "inlineStr" => c.getTextContent
          case "s" =>
            val vn = c.getElementsByTagName("v")
            if (vn.getLength > 0) shared(vn.item(0).getTextContent.trim.toInt)
            else null
          case _ =>
            val vn = c.getElementsByTagName("v")
            if (vn.getLength > 0) vn.item(0).getTextContent else null
        }
        if (buf.length == idx) buf += v else buf(idx) = v
      }
      buf.toArray
    }
  }

  /** Distributed read of one or many workbooks (glob accepted): header
    * row → column names (all StringType), one output row per data row.
    * Every file must share the first file's header. */
  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val files = spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
    val header: Array[String] = {
      val first = files.orderBy(col("path")).limit(1).collect()
      require(first.nonEmpty, s"no files at $path")
      parseSheet(first(0).getAs[Array[Byte]]("content")).headOption
        .getOrElse(throw new IllegalArgumentException("empty sheet"))
    }
    val n = header.length
    val parsed = files.as[(String, Array[Byte])].flatMap { case (p, bytes) =>
      val rows = parseSheet(bytes)
      require(rows.headOption.map(_.toSeq).contains(header.toSeq),
        s"$p: header ${rows.headOption.map(_.mkString(","))} != expected ${header.mkString(",")}")
      rows.drop(1).map(r => r.padTo(n, null).take(n).toSeq)
    }
    val schema = StructType(header.map(StructField(_, StringType, nullable = true)))
    parsed.map(Row.fromSeq(_))(org.apache.spark.sql.Encoders.row(schema)).toDF()
  }
}
