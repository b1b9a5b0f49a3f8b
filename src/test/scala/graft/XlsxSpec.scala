package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Xlsx

class XlsxSpec extends AnyFunSuite {
  import SparkTestSession._

  test("write → read round-trips values, nulls, and XML specials") {
    import spark.implicits._
    val df = Seq(
      ("a", Some("1 < 2 & 3"), "x"),
      ("b", None, "it's \"quoted\""),
      ("c", Some("plain"), "z"))
      .toDF("k", "maybe", "v")
    val path = "target/fixtures_xlsx_spec/roundtrip.xlsx"
    Xlsx.write(df, path)
    val back = Xlsx.read(spark, path).orderBy(col("k")).collect()
    assert(back.map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    assert(back(0).getString(1) == "1 < 2 & 3")
    assert(back(1).isNullAt(1))
    assert(back(1).getString(2) == "it's \"quoted\"")
  }

  test("reader resolves shared strings and bare numeric cells") {
    // a minimal externally-written workbook shape: t="s" cells indexing
    // sharedStrings.xml plus an untyped numeric <v> cell
    val sheet =
      """<?xml version="1.0"?><worksheet><sheetData>""" +
        """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>""" +
        """<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>42</v></c></row>""" +
        """</sheetData></worksheet>"""
    val shared =
      """<?xml version="1.0"?><sst><si><t>name</t></si><si><t>amount</t></si>""" +
        """<si><t>acme</t></si></sst>"""
    val out = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(out, StandardCharsets.UTF_8)
    def entry(n: String, c: String): Unit = {
      zip.putNextEntry(new ZipEntry(n))
      zip.write(c.getBytes(StandardCharsets.UTF_8)); zip.closeEntry()
    }
    entry("xl/worksheets/sheet1.xml", sheet)
    entry("xl/sharedStrings.xml", shared)
    zip.close()
    val dir = Paths.get("target/fixtures_xlsx_spec")
    Files.createDirectories(dir)
    Files.write(dir.resolve("external.xlsx"), out.toByteArray)
    val back = Xlsx.read(spark,
      "target/fixtures_xlsx_spec/external.xlsx").collect()
    assert(back.length == 1)
    assert(back(0).getString(0) == "acme" && back(0).getString(1) == "42")
  }

  test("numeric schema columns round-trip as real number cells") {
    import spark.implicits._
    val df = Seq((1L, 2.5, "a"), (10L, -0.125, "b"), (2L, 3.0, "c"))
      .toDF("id", "score", "tag")
    val path = "target/fixtures_xlsx_spec/typed.xlsx"
    Xlsx.write(df, path)
    // the sheet XML must carry bare <v> number cells for the numeric
    // columns (so Excel sorts 2 < 10 numerically, not lexically) and
    // inline strings for the rest
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(Files.readAllBytes(Paths.get(path))))
    var sheetXml = ""
    var e = zin.getNextEntry
    while (e != null) {
      if (e.getName == "xl/worksheets/sheet1.xml")
        sheetXml = new String(zin.readAllBytes(), StandardCharsets.UTF_8)
      e = zin.getNextEntry
    }
    assert(sheetXml.contains("""<c r="A2"><v>1</v></c>"""))
    assert(sheetXml.contains("""<c r="B2"><v>2.5</v></c>"""))
    assert(sheetXml.contains("""t="inlineStr"><is><t>a</t>"""))
    val back = Xlsx.read(spark, path).orderBy(col("id").cast("long")).collect()
    assert(back.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
      == Seq(("1", "2.5", "a"), ("2", "3.0", "c"), ("10", "-0.125", "b")))
  }

  test("non-finite numerics fall back to inline strings (valid workbook)") {
    import spark.implicits._
    val df = Seq((1L, 2.5), (2L, Double.NaN), (3L, Double.PositiveInfinity))
      .toDF("id", "score")
    val path = "target/fixtures_xlsx_spec/nonfinite.xlsx"
    Xlsx.write(df, path)
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(Files.readAllBytes(Paths.get(path))))
    var sheetXml = ""
    var e = zin.getNextEntry
    while (e != null) {
      if (e.getName == "xl/worksheets/sheet1.xml")
        sheetXml = new String(zin.readAllBytes(), StandardCharsets.UTF_8)
      e = zin.getNextEntry
    }
    // NaN/Infinity must not appear as bare number cells
    assert(!sheetXml.contains("<v>NaN</v>"))
    assert(!sheetXml.contains("<v>Infinity</v>"))
    assert(sheetXml.contains("""t="inlineStr"><is><t>NaN</t>"""))
    val back = Xlsx.read(spark, path).orderBy(col("id")).collect()
    assert(back.map(_.getString(1)).toSeq == Seq("2.5", "NaN", "Infinity"))
  }

  test("reader rejects workbooks with DTDs (XXE hardening)") {
    // a crafted external workbook whose sheet declares an external
    // entity — without disallow-doctype-decl this would read local
    // files into the DataFrame
    val sheet =
      """<?xml version="1.0"?><!DOCTYPE worksheet [""" +
        """<!ENTITY xxe SYSTEM "file:///etc/hostname">]>""" +
        """<worksheet><sheetData>""" +
        """<row r="1"><c r="A1" t="inlineStr"><is><t>h</t></is></c></row>""" +
        """<row r="2"><c r="A2" t="inlineStr"><is><t>&xxe;</t></is></c></row>""" +
        """</sheetData></worksheet>"""
    val out = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(out, StandardCharsets.UTF_8)
    zip.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"))
    zip.write(sheet.getBytes(StandardCharsets.UTF_8)); zip.closeEntry()
    zip.close()
    val dir = Paths.get("target/fixtures_xlsx_xxe")
    Files.createDirectories(dir)
    Files.write(dir.resolve("evil.xlsx"), out.toByteArray)
    intercept[Exception] {
      Xlsx.read(spark, "target/fixtures_xlsx_xxe/evil.xlsx").collect()
    }
  }

  test("write refuses tables past the GT-workbook cap") {
    val big = spark.range(Xlsx.MaxRows + 1L).toDF("n")
    intercept[IllegalArgumentException] {
      Xlsx.write(big, "target/fixtures_xlsx_spec/too_big.xlsx")
    }
  }

  test("directory read unions workbooks file-per-task") {
    import spark.implicits._
    val dir = "target/fixtures_xlsx_multi"
    Xlsx.write(Seq(("1", "a")).toDF("id", "v"), s"$dir/p1.xlsx")
    Xlsx.write(Seq(("2", "b"), ("3", "c")).toDF("id", "v"), s"$dir/p2.xlsx")
    val back = Xlsx.read(spark, dir).orderBy(col("id"))
    assert(back.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("1", "a"), ("2", "b"), ("3", "c")))
  }
}
