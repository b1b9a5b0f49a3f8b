package graft.normalize

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.QueryPack
import graft.metrics.Evaluation
import graft.text.TextOps

/** Oracle-checked golden-vector queries for the normalizer surface
  * (SURVEY.md §2.8). Each query builds the same inline VALUES relation
  * on both engines — the vectors live once, in Scala, and the oracle
  * SQL is generated from them, so the two sides cannot drift.
  *
  * Vectors are the documented edge cases from the reference
  * (FIXTURES.md §4): paren/trailing/leading negatives, `-$0.00`,
  * "NULL" sentinels, multi-format dates, masked account numbers,
  * malformed JSON.
  */
object NormalizePack extends QueryPack {

  private def sqlLit(s: String): String =
    if (s == null) "NULL" else "'" + s.replace("'", "''") + "'"

  /** `(VALUES (0,'a'),(1,'b')) t(id, c1)` from Scala rows. */
  private def valuesSql(rows: Seq[Seq[String]], cols: Seq[String]): String =
    rows.zipWithIndex
      .map { case (r, i) => (i.toString +: r.map(sqlLit)).mkString("(", ", ", ")") }
      .mkString("(VALUES ", ", ", s") t(id, ${cols.mkString(", ")})")

  private def df1(spark: SparkSession, rows: Seq[String]): DataFrame = {
    import spark.implicits._
    rows.zipWithIndex.map { case (s, i) => (i, s) }.toDF("id", "s")
  }

  private def df(spark: SparkSession, rows: Seq[Seq[String]],
                 cols: Seq[String]): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.IntegerType, nullable = false) +:
        cols.map(c => org.apache.spark.sql.types.StructField(c, StringType)))
    val data = rows.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(i +: r)
    }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(data).asJava), schema)
  }

  // ---- golden vectors -----------------------------------------------------

  val moneyVectors: Seq[String] = Seq(
    "1053.75", "($1,053.75)", "$1053.7-", "-$0.00", "NULL", "", "abc",
    "$1,234,567.89", "1.2.3", "12", "(5)", "5-", "CR 10.50", "  42.00  ",
    "-", "$.50", "(0.00)", "$0.00")

  val creditVectors: Seq[String] = Seq(
    "$123.45", "($123.45)", "-$123.45", "$0.00", "-$0.00", "(0.00)",
    "123.45", "$abc", "NULL", "1,234.50", "", "(12.00)")

  val dateVectors: Seq[String] = Seq(
    "09/01/2025", "9/1/2025", "13/45/2025", "Sep 1, 2025",
    "September 1, 2025", "2025-09-01", "1899-12-31", "2031-01-01",
    "12/31/24", "02/29/2023", "02/29/2024", "not a date", "NULL", "",
    "  2026-01-15  ")

  val acctVendorVectors: Seq[Seq[String]] = Seq(
    Seq("xxxx1234", "CapitalOne"), Seq("XXXX5678", "capital one"),
    Seq("ending in:9999", "CAPITALONE"), Seq("Ending in: 4321", "Chase"),
    Seq("1234567890", "Wells Fargo"), Seq("x123", "Capital  One"),
    Seq("ending in 5555", "cap one"), Seq(null, null))

  val addressVectors: Seq[Seq[String]] = Seq(
    Seq("John Doe 123  Main St,Apt 4,Springfield, IL 62704", "John Doe", "Acme"),
    Seq("P.O. Box 123, Denver, CO", "NULL", ""),
    Seq("p o box 55,  Austin , TX", "", "NULL"),
    Seq("Acme Corp, 9 Elm St", "NULL", "Acme Corp"),
    Seq("  ,123 Road,  ", "NULL", "NULL"),
    Seq("NULL", "x", "y"),
    Seq("Suite 200, 1 Infinite Loop,Cupertino,CA", "NULL", "NULL"))

  val cleanseVectors: Seq[String] = Seq(
    "(1,234.56)", "$1,053.75", "['a','b']", "  hello  ", "A\\B", "(x)")

  val moneyCompareVectors: Seq[Seq[String]] = Seq(
    Seq("-$1,053.75", "($1,053.75)"), Seq("$10.00", "10.00"),
    Seq("$10.00", "$10.50"), Seq("NULL", "5.00"), Seq("(7.25)", "7.25"),
    Seq("$0.00", "0"))

  val validationVectors: Seq[Seq[String]] = Seq(
    Seq("123", "123"), Seq("NULL", "456"), Seq("789", "NULL"),
    Seq("12", "13"), Seq(" 5 ", "5"), Seq("", ""), Seq(null, "9"))

  val refFormatVectors: Seq[Seq[String]] = Seq(
    Seq("20250901 DP 1234567", "20250901 DP 1234567"),
    Seq("None", "20250901 DP 1234567"),
    Seq("20250901 DP 1234567", ""),
    Seq("20250901-XX", "20250901 DP 9999999"),
    Seq("None", "NaN"), Seq("ABC", "ABC"),
    Seq("20250901 DP 1", "20250902 DP 1"))

  val jsonVectors: Seq[String] = Seq(
    """Here is the result: {"a": "1", "b": "2"} thanks""",
    """{"a": "1"""",
    "```json\n{\"a\": \"3\"}\n```",
    "garbage",
    """{"a": "4"} extra } here""",
    """noise {"a": "5", "nested": {"x": "y"}} tail""")

  // ---- queries ------------------------------------------------------------

  def moneyNorm(spark: SparkSession, dir: String): DataFrame =
    df1(spark, moneyVectors)
      .select(col("id"), col("s"), Normalize.moneyOrNull(col("s")).as("money_norm"))
      .orderBy(col("id"))

  def moneyCredits(spark: SparkSession, dir: String): DataFrame =
    df1(spark, creditVectors)
      .select(col("id"), col("s"),
        Normalize.ensureNegativeMoney(col("s")).as("credits"))
      .orderBy(col("id"))

  def dateSane(spark: SparkSession, dir: String): DataFrame =
    df1(spark, dateVectors)
      .select(col("id"), col("s"), Normalize.dateSane(col("s")).as("date_sane"))
      .orderBy(col("id"))

  def acctVendor(spark: SparkSession, dir: String): DataFrame =
    df(spark, acctVendorVectors, Seq("acct", "vendor"))
      .select(col("id"),
        Normalize.acctLast4(col("acct")).as("acct_last4"),
        Normalize.vendorNormalize(col("vendor")).as("vendor_norm"))
      .orderBy(col("id"))

  def addressClean(spark: SparkSession, dir: String): DataFrame =
    df(spark, addressVectors, Seq("addr", "client", "vendor"))
      .select(col("id"),
        Normalize.cleanAddress(col("addr"), col("client"), col("vendor"))
          .as("address"))
      .orderBy(col("id"))

  def cleanseParens(spark: SparkSession, dir: String): DataFrame =
    df1(spark, cleanseVectors)
      .select(col("id"), col("s"),
        Normalize.cleanse(col("s")).as("cleansed"),
        Normalize.parensToNegative(col("s")).as("negged"),
        Normalize.hadParens(col("s")).as("had_parens"))
      .orderBy(col("id"))

  def moneyCompare(spark: SparkSession, dir: String): DataFrame =
    df(spark, moneyCompareVectors, Seq("pred", "gt"))
      .select(col("id"), col("pred"), col("gt"),
        when(Normalize.moneyMagnitude(col("pred")).isNotNull &&
          Normalize.moneyMagnitude(col("gt")).isNotNull &&
          Normalize.moneyMagnitude(col("pred")) === Normalize.moneyMagnitude(col("gt")),
          1L).otherwise(0L).as("acc_sign_insensitive"))
      .orderBy(col("id"))

  def validationStatus(spark: SparkSession, dir: String): DataFrame =
    df(spark, validationVectors, Seq("pred", "gt"))
      .select(col("id"),
        Evaluation.validationStatus(col("pred"), col("gt")).as("status"))
      .orderBy(col("id"))

  def refFormat(spark: SparkSession, dir: String): DataFrame =
    df(spark, refFormatVectors, Seq("extracted", "expected"))
      .select(col("id"),
        Normalize.refFormatMatch(col("extracted"), col("expected"))
          .as("is_format_match"))
      .orderBy(col("id"))

  def jsonRepair(spark: SparkSession, dir: String): DataFrame =
    df1(spark, jsonVectors)
      .select(col("id"),
        JsonRepair.field(col("s"), "a").as("field_a"))
      .orderBy(col("id"))

  val w2Vectors: Seq[Seq[String]] = Seq(
    Seq("D", "Union Dues, 5.00, SDI, $12.34"),
    Seq("CI", "Uniform, 99, extra"),
    Seq("AA", "OnlyDesc"),
    Seq("no", "a, b, 3.50"),
    Seq("Z", ""),
    Seq("HH", "x, 1.5, y, $7.00"))

  def w2Refine(spark: SparkSession, dir: String): DataFrame =
    df(spark, w2Vectors, Seq("code", "box14"))
      .select(col("id"),
        W2Refine.box12Code(col("code")).as("box12_code"),
        when(W2Refine.refineEmpty(col("box14")) === "NULL", lit("NULL"))
          .otherwise(array_join(W2Refine.box14Group(col("box14")), "|"))
          .as("box14_grouped"))
      .orderBy(col("id"))

  val answerVectors: Seq[String] = Seq(
    """{"document_type": "Paystub", "is_first_page": true} trailing""",
    "The doc is a Bank Statement, first page: true",
    "W2 second page",
    "no idea",
    """### Answer {"document_type": "Other", "is_first_page": false}""",
    """{"nested": {"document_type": "W2"}} x""")

  def answerExtract(spark: SparkSession, dir: String): DataFrame =
    df1(spark, answerVectors)
      .select(col("id"), W2Refine.answerExtract(col("s")).as("composite"))
      .orderBy(col("id"))

  val synonymMap: Map[String, String] = Map(
    "fast" -> "quick", "big" -> "large", "small" -> "tiny",
    "data" -> "information")

  /** n01's semantics through the NATIVE Catalyst expression — the
    * codegen path under the same DuckDB oracle as the declarative
    * formulation. */
  def moneyNormNative(spark: SparkSession, dir: String): DataFrame =
    df1(spark, moneyVectors)
      .select(col("id"), col("s"),
        graft.plans.MoneyNorm.moneyNormNative(col("s")).as("money_norm"))
      .orderBy(col("id"))

  def queryExpansion(spark: SparkSession, dir: String): DataFrame =
    graft.core.Tables(spark, dir).documents
      .select(col("doc_id"),
        md5(W2Refine.expandQuery(col("text"), synonymMap)).as("expanded_md5"))
      .orderBy(col("doc_id"))

  /** F11 vectors: sign/zero/rounding/grouping edges. String inputs
    * cast straight to DECIMAL(18,2) on BOTH engines (never through
    * double — `BigDecimal.valueOf(2.005d)` and a binary 2.005 round
    * to different cents), both engines rounding half-away-from-zero. */
  val formatMoneyVectors: Seq[String] = Seq(
    "1234.5", "0.07", "1053.75", "0", "-1053.75", "1234567.891",
    "2.005", "-2.005", "-0.004", "9999999999.99", "0.005", "not a number",
    null, ".5", "-12")

  /** F11 `formatMoney` (`post_9_9.py:13-19`): numeric → `-$#,##0.00`. */
  def formatMoneyQ(spark: SparkSession, dir: String): DataFrame =
    df1(spark, formatMoneyVectors)
      .select(col("id"),
        Normalize.formatMoney(col("s").cast("decimal(18,2)")).as("fmt"))
      .orderBy(col("id"))

  /** F16 vectors: the staged-repair failure modes from the reference's
    * `json_error.py` corpus — trailing commas, single-quoted
    * keys/values, fences, wrapped braces, and irreparable garbage. */
  val stagedJsonVectors: Seq[String] = Seq(
    """{"a": 1,}""",
    """{'key': 'value'}""",
    "```json\n{\"x\": 5,}\n```",
    """Some text {"k": "v",} trailing""",
    """{"a": [1, 2,], "b": 'c',}""",
    """{"a": 1""",
    """"a": 1}""",
    "not json",
    "",
    """{'nums': [1, 2, 3,], 'tag': 'x',}""")

  /** F16 staged repairs: brace repair → trailing-comma strip →
    * quote normalization, with the strict-validity verdict. */
  def jsonRepairStaged(spark: SparkSession, dir: String): DataFrame = {
    val repaired = JsonRepair.repairCommon(col("s"))
    df1(spark, stagedJsonVectors)
      .select(col("id"), repaired.as("repaired"),
        JsonRepair.isValidJson(repaired).as("valid"))
      .orderBy(col("id"))
  }

  /** F17 vectors (`safe_parser.py:3-23` shapes): well-formed, missing
    * `]`, single-quoted (the reference's `ast.literal_eval` accepts
    * these; so does Spark's lenient parser), empty, garbage. */
  val listVectors: Seq[String] = Seq(
    """["AA", "BB"]""",
    """["AA", "BB"""",
    """['DD 10', 'RET 20.5']""",
    """['one'""",
    "plain string",
    "[]",
    """["only"]""",
    """[1, 2]""",
    "")

  /** F17 `safe_parse_list`: parse / retry-with-`]` / singleton-wrap. */
  def safeParseListQ(spark: SparkSession, dir: String): DataFrame = {
    val parsed = JsonRepair.safeParseList(col("s"), StringType)
    df1(spark, listVectors)
      .select(col("id"), size(parsed).cast("long").as("n"),
        array_join(parsed, "|").as("joined"))
      .orderBy(col("id"))
  }

  /** Deterministic unicode damage planted on every 5th document (the
    * a14 planting discipline — the synthetic corpus is pure ASCII, so
    * the oracle-checked interesting cases are constructed identically
    * on both engines): precomposed and combining-sequence accents, a
    * double space, NBSP, a BEL control, a tab. */
  val unicodePlant: String =
    "\u00DCn\u00EFcode  caf\u00E9\u00A0(e\u0301)\u0007\ttest "

  private val unicodePlantSql: String =
    "chr(220) || 'n' || chr(239) || 'code  caf' || chr(233) || chr(160)" +
      " || '(e' || chr(769) || ')' || chr(7) || chr(9) || 'test '"

  /** n18: corpus unicode cleanup through the native
    * [[graft.plans.UnicodeClean]] kernel (NFC + accent strip + NBSP
    * unification + control removal + whitespace collapse — see its
    * scaladoc for the pipeline and citations). Reports per doc whether
    * cleaning changed anything, the before/after code-point lengths,
    * and the cleaned-content hash; the DuckDB oracle replays the same
    * five steps as `strip_accents(nfc_normalize(..))` + a regexp
    * chain. Scale shape: one codegen'd scan, no shuffle before the
    * ordered output. */
  def unicodeCleanQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.core.Tables(spark, dir).documents
    docs.select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(lit(unicodePlant), col("text")))
          .otherwise(col("text")).as("t"))
      .select(col("doc_id"), col("t"),
        graft.plans.UnicodeClean.unicodeClean(col("t")).as("c"))
      .select(col("doc_id"),
        when(col("c") =!= col("t"), 1L).otherwise(0L).as("changed"),
        length(col("t")).cast("long").as("len_raw"),
        length(col("c")).cast("long").as("len_clean"),
        md5(col("c")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "n18_unicode_clean" -> unicodeCleanQ,
    "n01_money_norm" -> moneyNorm,
    "n02_money_credits" -> moneyCredits,
    "n03_date_sane" -> dateSane,
    "n04_acct_vendor" -> acctVendor,
    "n05_address_clean" -> addressClean,
    "n06_cleanse_parens" -> cleanseParens,
    "n07_money_compare" -> moneyCompare,
    "n08_validation_status" -> validationStatus,
    "n09_ref_format" -> refFormat,
    "n10_json_repair" -> jsonRepair,
    "n11_w2_refine" -> w2Refine,
    "n12_answer_extract" -> answerExtract,
    "n13_query_expansion" -> queryExpansion,
    "n14_money_norm_native" -> moneyNormNative,
    "n15_format_money" -> formatMoneyQ,
    "n16_json_repair_staged" -> jsonRepairStaged,
    "n17_safe_parse_list" -> safeParseListQ)

  // ---- oracle SQL ---------------------------------------------------------

  private val moneyFmt =
    """'$' || format('{:,}', CAST(floor(AMT) AS BIGINT)) || '.' ||
      |lpad(CAST(CAST(AMT*100 AS BIGINT) % 100 AS VARCHAR), 2, '0')""".stripMargin

  private def fmt(amtExpr: String): String = moneyFmt.replace("AMT", amtExpr)

  private val oracles0: Map[String, String] = Map(
    "n18_unicode_clean" -> s"""
      |WITH raw AS (SELECT doc_id,
      |  CASE WHEN doc_id % 5 = 0 THEN $unicodePlantSql || text ELSE text END AS t
      | FROM documents),
      |c1 AS (SELECT doc_id, t, strip_accents(nfc_normalize(t)) AS s FROM raw),
      |c2 AS (SELECT doc_id, t,
      |  regexp_replace(s, '[\\x{00A0}\\x{2007}\\x{202F}]', ' ', 'g') AS s FROM c1),
      |c3 AS (SELECT doc_id, t,
      |  regexp_replace(s, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g') AS s FROM c2),
      |c4 AS (SELECT doc_id, t,
      |  trim(regexp_replace(s, '[ \\t]+', ' ', 'g'), ' ') AS s FROM c3)
      |SELECT doc_id,
      |  CAST(CASE WHEN s <> t THEN 1 ELSE 0 END AS BIGINT) AS changed,
      |  CAST(length(t) AS BIGINT) AS len_raw,
      |  CAST(length(s) AS BIGINT) AS len_clean,
      |  md5(s) AS clean_md5
      |FROM c4 ORDER BY doc_id""".stripMargin,
    "n01_money_norm" -> s"""
      |WITH x AS (SELECT * FROM ${valuesSql(moneyVectors.map(Seq(_)), Seq("s"))}),
      |a AS (SELECT id, s, trim(s) AS s0 FROM x),
      |b AS (SELECT *, (starts_with(s0,'(') AND ends_with(s0,')')) AS pneg FROM a),
      |b2 AS (SELECT *, CASE WHEN pneg THEN regexp_replace(regexp_replace(s0,'^\\(',''),'\\)$$','') ELSE s0 END AS s1 FROM b),
      |c AS (SELECT *, ends_with(s1,'-') AS tneg FROM b2),
      |c2 AS (SELECT *, CASE WHEN tneg THEN regexp_replace(s1,'-$$','') ELSE s1 END AS s2 FROM c),
      |d AS (SELECT *, starts_with(s2,'-') AS lneg FROM c2),
      |d2 AS (SELECT *, CASE WHEN lneg THEN regexp_replace(s2,'^-','') ELSE s2 END AS s3 FROM d),
      |e AS (SELECT *, TRY_CAST(regexp_replace(s3,'[^0-9.]','','g') AS DECIMAL(18,2)) AS amt FROM d2)
      |SELECT id, s,
      | CASE WHEN s IS NULL OR trim(s)='' OR upper(trim(s))='NULL' OR amt IS NULL THEN NULL
      | ELSE (CASE WHEN (pneg OR tneg OR lneg) AND amt<>0 THEN '-' ELSE '' END) || ${fmt("amt")}
      | END AS money_norm
      |FROM e ORDER BY id""".stripMargin,
    "n02_money_credits" -> s"""
      |WITH x AS (SELECT * FROM ${valuesSql(creditVectors.map(Seq(_)), Seq("s"))}),
      |a AS (SELECT id, s AS raw, trim(s) AS s FROM x),
      |b AS (SELECT *, (starts_with(s,'-') OR (starts_with(s,'(') AND ends_with(s,')'))) AS alreadyneg,
      |  TRY_CAST(regexp_replace(s, '[$$,()\\-]', '', 'g') AS DECIMAL(18,2)) AS amtneg,
      |  TRY_CAST(regexp_replace(s, '[$$,]', '', 'g') AS DECIMAL(18,2)) AS amtpos
      | FROM a)
      |SELECT id, raw AS s,
      | CASE WHEN raw IS NULL OR s='' OR upper(s)='NULL' THEN NULL
      |      WHEN alreadyneg AND amtneg IS NULL THEN s
      |      WHEN alreadyneg AND amtneg = 0 THEN '$$0.00'
      |      WHEN alreadyneg THEN s
      |      WHEN amtpos IS NULL THEN s
      |      WHEN amtpos = 0 THEN '$$0.00'
      |      WHEN starts_with(s,'$$') THEN '-' || s
      |      ELSE '-' || ${fmt("amtpos")}
      | END AS credits
      |FROM b ORDER BY id""".stripMargin,
    "n03_date_sane" -> s"""
      |WITH x AS (SELECT * FROM ${valuesSql(dateVectors.map(Seq(_)), Seq("s"))}),
      |p AS (SELECT id, s, COALESCE(
      |  ${Seq("%m/%d/%Y", "%m/%d/%y", "%b %d, %Y", "%B %d, %Y", "%Y-%m-%d")
           .map(f =>
             s"""CASE WHEN CAST(try_strptime(trim(s), '$f') AS DATE) >= DATE '1900-01-01'
                |    AND CAST(try_strptime(trim(s), '$f') AS DATE) <= current_date + 370
                |   THEN try_strptime(trim(s), '$f') END""".stripMargin)
           .mkString(",\n  ")}) AS dt FROM x)
      |SELECT id, s,
      | CASE WHEN s IS NULL OR trim(s)='' OR upper(trim(s))='NULL' OR dt IS NULL THEN NULL
      | ELSE trim(s) END AS date_sane
      |FROM p ORDER BY id""".stripMargin,
    "n04_acct_vendor" -> s"""
      |WITH x AS (SELECT * FROM ${valuesSql(acctVendorVectors, Seq("acct", "vendor"))})
      |SELECT id,
      | CASE WHEN acct IS NULL THEN NULL
      |      WHEN nullif(regexp_extract(trim(acct), '^[xX]+([0-9]{4})$$', 1), '') IS NOT NULL
      |        THEN regexp_extract(trim(acct), '^[xX]+([0-9]{4})$$', 1)
      |      WHEN nullif(regexp_extract(trim(acct), '(?i)^ending\\s*in:\\s*([0-9]{4})$$', 1), '') IS NOT NULL
      |        THEN regexp_extract(trim(acct), '(?i)^ending\\s*in:\\s*([0-9]{4})$$', 1)
      |      ELSE 'NULL' END AS acct_last4,
      | CASE WHEN vendor IS NULL THEN NULL
      |      WHEN lower(regexp_replace(vendor, '\\s+', '', 'g')) = 'capitalone' THEN 'Capital One'
      |      ELSE vendor END AS vendor_norm
      |FROM x ORDER BY id""".stripMargin,
    "n05_address_clean" -> s"""
      |WITH x AS (SELECT * FROM ${valuesSql(addressVectors, Seq("addr", "client", "vendor"))}),
      |a AS (SELECT id, addr, client, vendor,
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |    regexp_replace(trim(addr), '\\s+', ' ', 'g'),
      |    '(?i)\\bP\\.?\\s*O\\.?\\s*Box\\b', 'PO Box', 'g'),
      |    '\\s*,\\s*', ', ', 'g'), '\\s{2,}', ' ', 'g'),
      |    '^[ ,]+|[ ,]+$$', '', 'g') AS na FROM x),
      |b AS (SELECT *, CASE WHEN client IS NOT NULL AND trim(client) <> ''
      |    AND trim(client) <> 'NULL' AND starts_with(lower(na), lower(trim(client)))
      |  THEN regexp_replace(substr(na, length(trim(client)) + 1), '^[ ,]+', '')
      |  ELSE na END AS nb FROM a),
      |c AS (SELECT *, CASE WHEN vendor IS NOT NULL AND trim(vendor) <> ''
      |    AND trim(vendor) <> 'NULL' AND starts_with(lower(nb), lower(trim(vendor)))
      |  THEN regexp_replace(substr(nb, length(trim(vendor)) + 1), '^[ ,]+', '')
      |  ELSE nb END AS nc FROM b)
      |SELECT id, CASE WHEN addr IS NULL OR trim(addr)='' OR upper(trim(addr))='NULL'
      |  OR nc = '' THEN NULL ELSE nc END AS address
      |FROM c ORDER BY id""".stripMargin,
    "n06_cleanse_parens" -> s"""
      |WITH x AS (SELECT * FROM ${valuesSql(cleanseVectors.map(Seq(_)), Seq("s"))})
      |SELECT id, s,
      | trim(upper(translate(s, '$$,''[]\\', ''))) AS cleansed,
      | CASE WHEN regexp_matches(s, '^\\s*\\(.*\\)\\s*$$')
      |   THEN '-' || regexp_replace(trim(s), '^\\(|\\)$$', '', 'g')
      |   ELSE s END AS negged,
      | regexp_matches(s, '^\\s*\\(.*\\)\\s*$$') AS had_parens
      |FROM x ORDER BY id""".stripMargin,
    "n07_money_compare" -> s"""
      |WITH x AS (SELECT * FROM ${valuesSql(moneyCompareVectors, Seq("pred", "gt"))}),
      |m AS (SELECT id, pred, gt,
      |  TRY_CAST(regexp_replace(trim(pred), '[^0-9.]', '', 'g') AS DECIMAL(18,2)) AS mp,
      |  TRY_CAST(regexp_replace(trim(gt), '[^0-9.]', '', 'g') AS DECIMAL(18,2)) AS mg
      | FROM x)
      |SELECT id, pred, gt,
      | CASE WHEN mp IS NOT NULL AND mg IS NOT NULL AND mp = mg THEN 1 ELSE 0 END AS acc_sign_insensitive
      |FROM m ORDER BY id""".stripMargin,
    "n08_validation_status" -> s"""
      |WITH x AS (SELECT * FROM ${valuesSql(validationVectors, Seq("pred", "gt"))}),
      |f AS (SELECT id, pred, gt,
      |  (pred IS NULL OR pred = 'NULL' OR pred = '') AS pa,
      |  (gt IS NULL OR gt = 'NULL' OR gt = '') AS ga FROM x)
      |SELECT id,
      | CASE WHEN pa AND ga THEN 'MATCH'
      |      WHEN NOT pa AND ga THEN 'FALSE_POSITIVE'
      |      WHEN pa AND NOT ga THEN 'MISSING'
      |      WHEN trim(pred) = trim(gt) THEN 'MATCH'
      |      ELSE 'MISMATCH' END AS status
      |FROM f ORDER BY id""".stripMargin,
    "n09_ref_format" -> s"""
      |WITH x AS (SELECT * FROM ${valuesSql(refFormatVectors, Seq("extracted", "expected"))}),
      |f AS (SELECT id, extracted, expected,
      |  (expected IS NULL OR expected = '' OR expected = 'NaN') AS expempty,
      |  regexp_extract(extracted, '([0-9]{8})', 1) AS exdate,
      |  regexp_extract(expected, '([0-9]{8})', 1) AS expdate FROM x)
      |SELECT id,
      | CASE WHEN extracted = expected THEN true
      |      WHEN extracted = 'None' AND NOT expempty THEN false
      |      WHEN extracted <> 'None' AND expempty THEN false
      |      WHEN exdate <> '' AND expdate <> '' THEN exdate = expdate
      |      ELSE false END AS is_format_match
      |FROM f ORDER BY id""".stripMargin,
    "n10_json_repair" -> s"""
      |WITH x AS (SELECT * FROM ${valuesSql(jsonVectors.map(Seq(_)), Seq("s"))}),
      |nf AS (SELECT id, regexp_replace(s, '```(?:json)?\\s*|```', '', 'g') AS s0 FROM x),
      |a AS (SELECT id, '{' || (CASE WHEN strpos(s0, '{') > 0
      |  THEN substr(s0, strpos(s0, '{') + 1) ELSE s0 END) AS w FROM nf),
      |b AS (SELECT id, CASE WHEN strpos(reverse(w), '}') = 0 THEN w || '}'
      |  ELSE substr(w, 1, length(w) - strpos(reverse(w), '}') + 1) END AS repaired FROM a)
      |SELECT id, CASE WHEN json_valid(repaired)
      |  THEN json_extract_string(repaired, '$$.a') END AS field_a
      |FROM b ORDER BY id""".stripMargin,
    "n11_w2_refine" -> s"""
      |WITH x AS (SELECT * FROM ${valuesSql(w2Vectors, Seq("code", "box14"))}),
      |e AS (SELECT id,
      |  CASE WHEN code IS NULL OR code IN ('no', 'No', '', '""') THEN 'NULL' ELSE code END AS code_e,
      |  CASE WHEN box14 IS NULL OR box14 IN ('no', 'No', '', '""') THEN 'NULL' ELSE box14 END AS b14_e,
      |  box14 FROM x),
      |g AS (SELECT id, code_e, b14_e,
      |  list_filter(list_transform(string_split(box14, ','), s -> trim(s)), s -> s <> '') AS items
      | FROM e),
      |f AS (SELECT id, code_e, b14_e,
      |  list_reduce(
      |    [{'o': []::VARCHAR[], 'p': ''}] ||
      |      list_transform(items, v -> {'o': []::VARCHAR[], 'p': v}),
      |    (acc, v) -> CASE
      |      WHEN acc.p = '' THEN {'o': acc.o, 'p': v.p}
      |      WHEN regexp_matches(v.p, '^\\$$?[0-9]+(\\.[0-9]{2})?$$')
      |        THEN {'o': list_append(acc.o, acc.p || ' ' || v.p), 'p': ''}
      |      ELSE {'o': list_append(acc.o, acc.p), 'p': v.p} END) AS acc
      | FROM g WHERE len(items) > 0)
      |SELECT e.id,
      |  CASE WHEN e.code_e = 'NULL' THEN 'NULL'
      |       WHEN e.code_e IN (${W2Refine.allowedBox12.map(c => s"'$c'").mkString(", ")}) THEN e.code_e
      |       ELSE 'NULL' END AS box12_code,
      |  CASE WHEN e.b14_e = 'NULL' THEN 'NULL'
      |       ELSE array_to_string(CASE WHEN f.acc.p <> ''
      |         THEN list_append(f.acc.o, f.acc.p) ELSE f.acc.o END, '|')
      |  END AS box14_grouped
      |FROM e LEFT JOIN f ON e.id = f.id ORDER BY e.id""".stripMargin,
    "n12_answer_extract" -> s"""
      |WITH x AS (SELECT * FROM ${valuesSql(answerVectors.map(Seq(_)), Seq("s"))}),
      |b AS (SELECT id, s, regexp_extract(s, '(?s)(\\{.*?\\})', 1) AS blob FROM x),
      |j AS (SELECT *, (blob <> '' AND json_valid(blob)) AS ok FROM b)
      |SELECT id,
      | CASE WHEN s IS NULL THEN NULL
      |      WHEN ok THEN coalesce(json_extract_string(blob, '$$.document_type'), 'Unknown')
      |        || ':' ||
      |        (CASE WHEN lower(coalesce(json_extract_string(blob, '$$.is_first_page'), 'false')) = 'true'
      |         THEN 'true' ELSE 'false' END)
      |      WHEN blob <> '' THEN 'Unknown:false'
      |      ELSE (CASE WHEN contains(s, 'Bank Statement') THEN 'Bank Statement'
      |                 WHEN contains(s, 'Paystub') THEN 'Paystub'
      |                 WHEN contains(s, 'W2') THEN 'W2'
      |                 WHEN contains(s, 'Other') THEN 'Other'
      |                 ELSE 'Unknown' END)
      |        || ':' ||
      |        (CASE WHEN contains(lower(s), 'true') THEN 'true' ELSE 'false' END)
      | END AS composite
      |FROM j ORDER BY id""".stripMargin,
    "n13_query_expansion" -> s"""
      |WITH w AS (SELECT doc_id, text, ${TextOps.wordsSql("text")} AS words FROM documents),
      |s AS (SELECT doc_id, text,
      |  list_filter(list_transform(words, x -> CASE
      |    ${synonymMap.toSeq.sortBy(_._1).map { case (k, v) =>
             s"WHEN x = '$k' THEN '$v'"
           }.mkString(" ")}
      |    ELSE NULL END), x -> x IS NOT NULL) AS syns
      | FROM w)
      |SELECT doc_id,
      |  md5(CASE WHEN len(syns) > 0
      |    THEN text || ' ' || array_to_string(syns, ' ')
      |    ELSE text END) AS expanded_md5
      |FROM s ORDER BY doc_id""".stripMargin,
    "n15_format_money" -> s"""
      |WITH x AS (SELECT * FROM ${valuesSql(formatMoneyVectors.map(Seq(_)), Seq("s"))}),
      |d AS (SELECT id, TRY_CAST(s AS DECIMAL(18,2)) AS amt FROM x)
      |SELECT id, CASE
      |  WHEN amt IS NULL THEN NULL
      |  WHEN amt < 0 THEN '-' || ${fmt("(-amt)")}
      |  ELSE ${fmt("amt")} END AS fmt
      |FROM d ORDER BY id""".stripMargin,
    "n16_json_repair_staged" -> s"""
      |WITH x AS (SELECT * FROM ${valuesSql(stagedJsonVectors.map(Seq(_)), Seq("s"))}),
      |nf AS (SELECT id, regexp_replace(s, '```(?:json)?\\s*|```', '', 'g') AS s0 FROM x),
      |a AS (SELECT id, '{' || (CASE WHEN strpos(s0, '{') > 0
      |  THEN substr(s0, strpos(s0, '{') + 1) ELSE s0 END) AS w FROM nf),
      |b AS (SELECT id, CASE WHEN strpos(reverse(w), '}') = 0 THEN w || '}'
      |  ELSE substr(w, 1, length(w) - strpos(reverse(w), '}') + 1) END AS br FROM a),
      |c1 AS (SELECT id, regexp_replace(br, ',\\s*([}\\]])', '\\1', 'g') AS r FROM b),
      |c2 AS (SELECT id, regexp_replace(r, '([{,\\[]\\s*)''', '\\1"', 'g') AS r FROM c1),
      |c3 AS (SELECT id, regexp_replace(r, '''(\\s*[:,}\\]])', '"\\1', 'g') AS r FROM c2),
      |c4 AS (SELECT id, regexp_replace(r, '(:\\s*)''', '\\1"', 'g') AS repaired FROM c3)
      |SELECT id, repaired, json_valid(repaired) AS valid
      |FROM c4 ORDER BY id""".stripMargin,
    "n17_safe_parse_list" -> s"""
      |WITH x AS (SELECT * FROM ${valuesSql(listVectors.map(Seq(_)), Seq("s"))}),
      |qn AS (SELECT id, s, replace(s, '''', '"') AS q FROM x),
      |p AS (SELECT id, s, CASE
      |  WHEN json_valid(s) AND json_type(try_cast(s AS JSON)) = 'ARRAY'
      |    THEN json_transform(s, '["VARCHAR"]')
      |  WHEN json_valid(s || ']') AND json_type(try_cast(s || ']' AS JSON)) = 'ARRAY'
      |    THEN json_transform(s || ']', '["VARCHAR"]')
      |  WHEN json_valid(q) AND json_type(try_cast(q AS JSON)) = 'ARRAY'
      |    THEN json_transform(q, '["VARCHAR"]')
      |  WHEN json_valid(q || ']') AND json_type(try_cast(q || ']' AS JSON)) = 'ARRAY'
      |    THEN json_transform(q || ']', '["VARCHAR"]')
      |  ELSE [s] END AS parsed FROM qn)
      |SELECT id, CAST(len(parsed) AS BIGINT) AS n,
      |  coalesce(array_to_string(parsed, '|'), '') AS joined
      |FROM p ORDER BY id""".stripMargin)

  /** n14 shares n01's oracle verbatim: same semantics, native
    * Catalyst execution path. */
  val oracles: Map[String, String] =
    oracles0 + ("n14_money_norm_native" -> oracles0("n01_money_norm"))
}
