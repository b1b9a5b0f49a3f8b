package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One session configuration serves specs, Verify, Bench and the
  * probes: only [[core.GraftSession]] builds a SparkSession, and the
  * kNN strategy and rewrite rule come from GraftExtensions, never from
  * the session's experimental hooks. Environment reads stay in the
  * harness mains (data and output paths, the query filter) and the
  * session factory (the CPU count), so no process-wide knob can change
  * what a query computes. No function takes an optional frame it
  * would derive inline when absent: an approximate search takes its
  * trained index, and an ingest screen its batch's derived rows, as
  * required arguments. Every public or `private[graft]` member of a
  * main object is named by some main source or the benchmark harness,
  * or is on [[Reachable]]'s allowlist with its reason. Each shared
  * oracle derivation has one DuckDB spelling, in the file of the Spark
  * form it mirrors. Only `Caches` and `Artifacts` cache, persist or
  * locally checkpoint a frame, so each such frame has an owner that
  * releases it. A scan of the main sources keeps it that way. */
class SessionGuardSpec extends AnyFunSuite {

  private val builder = """SparkSession\s*\.\s*builder""".r
  private val hookAssign =
    """experimental\s*\.\s*extra(Strategies|Optimizations)\s*=(?!=)""".r
  private val envRead = """sys\s*\.\s*env\b|System\s*\.\s*getenv\b""".r
  private val optionalFrame = """\w\s*:\s*Option\s*\[\s*DataFrame\s*\]""".r
  private val wordSplit = ("""CASE WHEN length\(trim\([^()]*\)\) = 0 THEN (\[\]|0)""" +
    """[\s|]*ELSE (len\()?regexp_split_to_array\(trim\(""").r
  private val nibbleTable = """'0123456789abcdef'""".r
  private val qualityFormula = """0\.3 \* least\(1\.0""".r
  private val jaccardQuotient = """CAST\(\w+\.n \+ \w+\.n - """.r
  private val gateCase = """WHEN \w+\.ex_status <> 'exact_new' THEN""".r
  private val popcountPair = """bit_count\(xor\(""".r
  private val bandJoin = """\.bandsig = \w+\.bandsig""".r
  private val knnWindow = """PARTITION BY qid[\s|]+ORDER BY sim DESC, nid\)""".r
  private val dotRankWindow = """ORDER BY list_dot_product\(""".r
  private val cosineQuotient = """/ \(sqrt\(list_dot_product\(""".r
  private val plantedVectors = """list_concat\(\[v\[1\] \+ 0\.1\]""".r
  private val p02Frozen = Map(Paths.get("pipeline", "PipelinePack.scala") ->
    ("p02's oracle text is byte-frozen: its DuckDB replay runs out of memory " +
      "on a 15 GiB box, so no oracle run can check a change to it"))
  private val cacheCall = """\.\s*(cache|persist|localCheckpoint)\b""".r
  /** The owners of query-lifetime and session state: a cache, persist
    * or local checkpoint anywhere else escapes every scope. */
  private val cacheOwners = Seq(Paths.get("core", "Caches.scala"),
    Paths.get("core", "Artifacts.scala"))
  /** Other files allowed a direct cache call → why. */
  private val cacheSites = Map.empty[Path, String]
  /** (what, inline pattern, owner file, files keeping a copy → why). */
  private val spellings = Seq(
    ("the word split", wordSplit, Paths.get("text", "TextOps.scala"), Map.empty[Path, String]),
    ("the hex nibble table", nibbleTable, Paths.get("dedup", "Dedup.scala"), p02Frozen),
    ("the quality formula", qualityFormula, Paths.get("text", "TextAnalysis.scala"),
      Map.empty[Path, String]),
    ("the Jaccard quotient", jaccardQuotient, Paths.get("dedup", "Dedup.scala"), p02Frozen),
    ("the gate decision CASE", gateCase, Paths.get("dedup", "Dedup.scala"),
      Map.empty[Path, String]),
    ("the popcount pair filter", popcountPair, Paths.get("dedup", "Dedup.scala"),
      Map.empty[Path, String]),
    ("the band equi-join", bandJoin, Paths.get("dedup", "Dedup.scala"),
      Map.empty[Path, String]),
    ("the exact kNN window", knnWindow, Paths.get("vector", "KnnJoin.scala"),
      Map.empty[Path, String]),
    ("the dot-ordered rank window", dotRankWindow, Paths.get("vector", "KnnJoin.scala"),
      Map.empty[Path, String]),
    ("the SQL cosine quotient", cosineQuotient, Paths.get("vector", "VectorOps.scala"),
      Map.empty[Path, String]),
    ("the planted-vector CTE", plantedVectors, Paths.get("dedup", "DedupPack.scala"),
      Map.empty[Path, String]))
  private val envReaders = Seq(Paths.get("Bench.scala"),
    Paths.get("ScaleCorpus.scala"), Paths.get("PerfProbe.scala"),
    Paths.get("core", "GraftSession.scala"))

  private def sources(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }
  private def mainSources: Seq[Path] = sources("src/main/scala")

  test("the guard patterns match what they forbid") {
    // a qualified call split across lines is a reference
    assert(Reachable.references("compact", Reachable.code(
      "val out = graft.relational.Skew\n      .compact(spark, frag)")))
    // a scaladoc mention is not
    assert(!Reachable.references("compact", Reachable.code(
      "/** the [[graft.relational.Skew.compact]] posture */ val x = 1")))
    assert(!Reachable.references("compact", Reachable.code(
      "val y = 2 // Skew.compact(spark)")))
    assert(Reachable.references("compact", Reachable.code(
      "val z = \"s3://b/\" + compact(d)")))
    assert(!Reachable.references("compact", Reachable.code("compacted(d)")))
    // a name referenced only by specs is not: specs are not scanned
    val main = Seq(
      "A.scala" -> ("object A {\n  def used = 1\n  def specOnly = 2\n" +
        "  private def own = 3\n  private class C { def member = 4 }\n}"),
      "B.scala" -> "object B {\n  /** [[A.specOnly]] */\n  val x = A.used\n}")
    assert(Reachable.unreferenced(main, Nil) == Seq("A.specOnly", "B.x"))
    assert(Reachable.unreferenced(main, Seq("B.x")) == Seq("A.specOnly"))
    assert(builder.findFirstIn("SparkSession\n  .builder()").nonEmpty)
    assert(hookAssign.findFirstIn(
      "spark.experimental.extraStrategies =\n  Seq(s)").nonEmpty)
    assert(hookAssign.findFirstIn(
      "spark.experimental.extraOptimizations = rules").nonEmpty)
    assert(hookAssign.findFirstIn(
      "spark.experimental.extraStrategies == Nil").isEmpty)
    assert(envRead.findFirstIn("sys.env.get(\"X\")").nonEmpty)
    assert(envRead.findFirstIn("sys\n  .env.getOrElse(\"X\", \"\")").nonEmpty)
    assert(envRead.findFirstIn("System.getenv(\"X\")").nonEmpty)
    assert(envRead.findFirstIn("sys.environment").isEmpty)
    assert(optionalFrame.findFirstIn(
      "centroidsOpt: Option[DataFrame] = None)").nonEmpty)
    assert(optionalFrame.findFirstIn(
      "statsOpt: Option[ DataFrame ]=None,").nonEmpty)
    assert(optionalFrame.findFirstIn(
      "batchSigs: Option[DataFrame],").nonEmpty)
    assert(optionalFrame.findFirstIn(
      "batchShingles: Option[DataFrame])").nonEmpty)
    assert(optionalFrame.findFirstIn(
      "batchFps:\n    Option[DataFrame] = None)").nonEmpty)
    assert(optionalFrame.findFirstIn("stats: DataFrame,").isEmpty)
    assert(optionalFrame.findFirstIn("dirs: Option[Seq[DataFrame]]").isEmpty)
    assert(wordSplit.findFirstIn("w AS (SELECT doc_id, CASE WHEN length(trim(text)) " +
      "= 0 THEN []\n    |    ELSE regexp_split_to_array(trim(text), '\\s+') END").nonEmpty)
    assert(wordSplit.findFirstIn("CAST(CASE WHEN length(trim(text)) = 0 THEN 0\n" +
      "      |    ELSE len(regexp_split_to_array(trim(text), '\\\\s+')) END AS BIGINT)")
      .nonEmpty)
    assert(wordSplit.findFirstIn("CASE WHEN length(trim(ground_truth)) = 0 THEN [] " +
      "ELSE regexp_split_to_array(trim(ground_truth), '\\s+') END").nonEmpty)
    assert(wordSplit.findFirstIn(
      "regexp_split_to_array(trim(lower(full_text)), '\\s+') AS ws").isEmpty)
    assert(wordSplit.findFirstIn(
      "list_filter(string_split(text, ' '), x -> x <> '')").isEmpty)
    assert(nibbleTable.findFirstIn(
      "(strpos('0123456789abcdef', substr(md5(sh), 1, 1)) - 1)").nonEmpty)
    assert(nibbleTable.findFirstIn("conv(substring(md5(c), 1, 4), 16, 10)").isEmpty)
    assert(qualityFormula.findFirstIn(
      "      |      + 0.3 * least(1.0, CAST(n AS DOUBLE) / 100.0), 6) AS q").nonEmpty)
    assert(qualityFormula.findFirstIn("least(lit(1.0), n / 100.0)").isEmpty)
    assert(jaccardQuotient.findFirstIn("round(CAST(p.inter AS DOUBLE) / " +
      "CAST(sa.n + sb.n - p.inter AS DOUBLE), 6) AS jaccard").nonEmpty)
    assert(jaccardQuotient.findFirstIn("    |      / CAST(sa.n + sb.n - " +
      "coalesce(iv.inter, 0) AS DOUBLE) AS jac").nonEmpty)
    assert(jaccardQuotient.findFirstIn(
      "(col(\"na\") + col(\"nb\") - col(\"inter\")).cast(\"double\")").isEmpty)
    assert(jaccardQuotient.findFirstIn(
      "round(CAST(n_flagged AS DOUBLE) / CAST(n AS DOUBLE), 6)").isEmpty)
    assert(gateCase.findFirstIn("  CASE WHEN ex.ex_status <> 'exact_new' " +
      "THEN ex.ex_status").nonEmpty)
    assert(gateCase.findFirstIn("  CAST(CASE WHEN e.ex_status <> 'exact_new' " +
      "THEN -1").nonEmpty)
    assert(gateCase.findFirstIn("CASE WHEN ex_status = 'exact_new' THEN 'new' " +
      "ELSE ex_status END AS status").isEmpty)
    assert(gateCase.findFirstIn(
      "sv AS (SELECT doc_id FROM ex WHERE ex_status = 'exact_new')").isEmpty)
    assert(popcountPair.findFirstIn(
      "  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming").nonEmpty)
    assert(popcountPair.findFirstIn(
      "FROM gb b JOIN gh h ON bit_count(xor(b.fp, h.fp)) <= 4),").nonEmpty)
    assert(popcountPair.findFirstIn(
      "bit_count(col(\"ha\").bitwiseXOR(col(\"hb\"))).cast(\"long\")").isEmpty)
    assert(popcountPair.findFirstIn("list_sum(list_transform(range(0, 60), k ->").isEmpty)
    assert(bandJoin.findFirstIn(
      "FROM bands a JOIN bands b ON a.band = b.band AND a.bandsig = b.bandsig").nonEmpty)
    assert(bandJoin.findFirstIn(
      "JOIN $bands h ON b.band = h.band AND b.bandsig = h.bandsig").nonEmpty)
    assert(bandJoin.findFirstIn(
      ".join(b.select(col(bId), col(\"band\"), col(\"bandsig\")), Seq(\"band\", \"bandsig\"))")
      .isEmpty)
    assert(bandJoin.findFirstIn(
      "string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS bandsig").isEmpty)
    assert(knnWindow.findFirstIn(
      "    |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk")
      .nonEmpty)
    assert(knnWindow.findFirstIn("      |dr AS (SELECT qid, nid, row_number() OVER " +
      "(PARTITION BY qid\n      |        ORDER BY sim DESC, nid) AS drank FROM pr),")
      .nonEmpty)
    assert(knnWindow.findFirstIn("    SELECT qid, vec_id, row_number() OVER " +
      "(PARTITION BY qid\n      ORDER BY approx_ip DESC, vec_id) AS crn").isEmpty)
    assert(knnWindow.findFirstIn("    row_number() OVER (PARTITION BY cand.qid\n" +
      "      ORDER BY list_dot_product(q.v, n.v) DESC, cand.vec_id) AS rnk").isEmpty)
    assert(dotRankWindow.findFirstIn("    |    row_number() OVER (PARTITION BY e.vec_id\n" +
      "    |      ORDER BY list_dot_product(e.v, c.cv) DESC, c.cid) AS rn").nonEmpty)
    assert(dotRankWindow.findFirstIn("row_number() OVER (PARTITION BY cand.qid " +
      "ORDER BY list_dot_product(q.x, n.x) DESC, cand.nid) AS rnk").nonEmpty)
    assert(dotRankWindow.findFirstIn(
      "row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk").isEmpty)
    assert(dotRankWindow.findFirstIn(
      "row_number() OVER (PARTITION BY cid ORDER BY dot DESC, vec_id) AS rk").isEmpty)
    assert(cosineQuotient.findFirstIn("  round(list_dot_product(a.v, b.v)\n    / " +
      "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)").nonEmpty)
    assert(cosineQuotient.findFirstIn("  WHERE list_dot_product(ea.v, eb.v) / (sqrt(" +
      "list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.98")
      .nonEmpty)
    assert(cosineQuotient.findFirstIn(
      "n AS (SELECT vec_id, sqrt(list_dot_product(v, v)) AS nb,").isEmpty)
    assert(cosineQuotient.findFirstIn("VectorOps.dot(col(\"av\"), col(\"bv\")) /\n" +
      "  (sqrt(VectorOps.dot(col(\"av\"), col(\"av\"))) *").isEmpty)
    assert(plantedVectors.findFirstIn(
      "  UNION ALL SELECT vec_id + 100000, list_concat([v[1] + 0.1], v[2:])").nonEmpty)
    assert(plantedVectors.findFirstIn("SELECT vec_id + 100000, " +
      "list_concat([v[1] + 0.1], v[2:]) FROM e0 WHERE vec_id < 100").nonEmpty)
    assert(plantedVectors.findFirstIn("concat(array(element_at(col(\"embedding\"), 1) " +
      "+ lit(0.1)),").isEmpty)
    assert(plantedVectors.findFirstIn("list_concat([v[1] + 0.2], v[2:])").isEmpty)
    assert(cacheCall.findFirstIn("val d = docs.cache()").nonEmpty)
    assert(cacheCall.findFirstIn("batch.select(col(\"x\"))\n  .persist()").nonEmpty)
    assert(cacheCall.findFirstIn("df.persist(StorageLevel.DISK_ONLY)").nonEmpty)
    assert(cacheCall.findFirstIn(".groupBy(k).agg(m)\n  .localCheckpoint(true)").nonEmpty)
    assert(cacheCall.findFirstIn("graft.core.Caches.transient(df)").isEmpty)
    assert(cacheCall.findFirstIn("graft.core.Caches.cut(df)").isEmpty)
    assert(cacheCall.findFirstIn("labels.unpersist()").isEmpty)
    assert(cacheCall.findFirstIn("spark.catalog.cacheTable(\"t\")").isEmpty)
    assert(cacheCall.findFirstIn(Reachable.code("// a .cache() re-plans")).isEmpty)
  }

  test("only core/GraftSession.scala builds a SparkSession; nothing assigns " +
      "the experimental planner hooks") {
    val files = mainSources
    assert(files.exists(_.endsWith(Paths.get("core", "GraftSession.scala"))))
    val offenders = files.flatMap { f =>
      val text = Files.readString(f)
      val own = f.endsWith(Paths.get("core", "GraftSession.scala"))
      (if (!own && builder.findFirstIn(text).nonEmpty)
        Seq(s"$f: SparkSession.builder") else Nil) ++
        (if (hookAssign.findFirstIn(text).nonEmpty)
          Seq(s"$f: experimental hook assignment") else Nil)
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("only the harness mains and the session factory read the environment") {
    val root = Paths.get("src/main/scala", "graft")
    envReaders.foreach(a => assert(Files.exists(root.resolve(a)), s"$a missing"))
    val offenders = mainSources.filterNot(f =>
        envReaders.exists(a => f.endsWith(root.resolve(a))))
      .filter(f => envRead.findFirstIn(Files.readString(f)).nonEmpty)
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("no main source takes an optional DataFrame parameter") {
    val offenders = mainSources
      .filter(f => optionalFrame.findFirstIn(Files.readString(f)).nonEmpty)
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("each oracle derivation is spelled once: the word split, the hex " +
      "nibble table and the quality formula occur only in their twin's file") {
    val root = Paths.get("src/main/scala", "graft")
    val files = mainSources.map(f => f -> Files.readString(f))
    val offenders = spellings.flatMap { case (what, pattern, owner, frozen) =>
      frozen.keys.foreach(k => assert(Files.exists(root.resolve(k)), s"$k missing"))
      (if (pattern.findFirstIn(Files.readString(root.resolve(owner))).isEmpty)
        Seq(s"$owner: holds no spelling of $what") else Nil) ++
        files.collect { case (f, text) if !f.endsWith(root.resolve(owner)) &&
            !frozen.keys.exists(k => f.endsWith(root.resolve(k))) &&
            pattern.findFirstIn(text).nonEmpty => s"$f: $what" }
    }
    assert(offenders.isEmpty, "each derivation's one spelling belongs in its " +
      "owner file, called from everywhere else:\n" + offenders.mkString("\n"))
  }

  test("only core/Caches.scala and core/Artifacts.scala cache, persist or " +
      "locally checkpoint a frame") {
    val root = Paths.get("src/main/scala", "graft")
    (cacheOwners ++ cacheSites.keys).foreach(a =>
      assert(Files.exists(root.resolve(a)), s"$a missing"))
    val offenders = mainSources.filterNot(f =>
        (cacheOwners ++ cacheSites.keys).exists(a => f.endsWith(root.resolve(a))))
      .flatMap(f => cacheCall.findAllMatchIn(Reachable.code(Files.readString(f)))
        .map(m => s"$f: ${m.matched}"))
    assert(offenders.isEmpty, "register the frame through Caches.transient or " +
      "Caches.cut, so its scope releases it:\n" + offenders.mkString("\n"))
  }

  test("every public or private[graft] member of a main object is named " +
      "by another main source or the benchmark harness, or is allowlisted") {
    def read(ps: Seq[Path]) = ps.map(p => p.toString -> Files.readString(p))
    val bench = sources("perfbench/src").map(p => Files.readString(p))
    val open = Reachable.unreferenced(read(mainSources), bench)
    val unlisted = open.filterNot(Reachable.allowlist.contains)
    assert(unlisted.isEmpty, "unreferenced main surface — delete it or " +
      "allowlist it with its reason:\n" + unlisted.mkString("\n"))
    val stale = Reachable.allowlist.keys.toSeq.sorted.filterNot(open.contains)
    assert(stale.isEmpty, "allowlisted but now referenced or gone:\n" +
      stale.mkString("\n"))
  }
}

/** The unreferenced-surface scan: members declared at the top level of
  * a main `object`'s body, minus `private` (other than
  * `private[graft]`), `protected` and `override` members, whose name
  * occurs in no main or benchmark source outside comments other than
  * at a declaration of that name. */
private object Reachable {

  /** Members kept with no caller in the main sources or the benchmark
    * harness, each with its reason. */
  val allowlist: Map[String, String] = Map(
    "Dedup.shinglesDeclarative" -> "declarative twin of the native WordShingles",
    "Dedup.hammingPairsAllPairsOf" -> "all-pairs oracle of hammingBandJoin",
    "DedupPack.incrementalMinhashOf" ->
      "d19 spec entry: both sides' state derived from text",
    "DedupPack.dedupGateOf" -> "s09 spec twin: both sides' state derived from text",
    "LlmPack.mmrRerankStaged" -> "declarative twin of l11's MMR selection",
    "FeedbackPack.correctionsFromSuggestions" ->
      "f07's Approve stage: suggestions to corrections, wired end to end by PipelineSpec",
    "Lifecycles.confirm" ->
      "l04's confirmation rule over arbitrary columns, pinned equal to l04",
    "Sampling.sampleSize" -> "scalar twin of m11's sample-size grid",
    "Streams.tumblingCountsWatermarked" -> "s01's append-mode streaming form",
    "Streams.rateLimitStream" -> "s08's streaming form",
    "Streams.extractConfirmRouteEventTime" -> "p04's event-time streaming form",
    "Streams.mediaIngestGate" -> "s12's streaming form",
    "Streams.readMediaDecisionsLog" -> "reader of s12's streaming decision log",
    "Streams.compactDecisionsLog" -> "seam of s09's decision-log compaction",
    "Streams.readSummaryLog" -> "reader of the s09 stream gate's run-summary log",
    "Bpe.trainOnTypes" -> "naive merge loop, oracle of trainOnTypesIncremental",
    "TextAnalysis.profileScore" -> "declarative twin of the native ProfileHits",
    "TextAnalysis.alphaCharsRegex" -> "regex twin of the native CharClassCount",
    "TextAnalysis.punctCharsRegex" -> "regex twin of the native CharClassCount",
    "TextAnalysis.digitCharsRegex" -> "regex twin of the native CharClassCount",
    "TextAnalysis.topElemChars" -> "declarative twin of the native RepetitionChars",
    "TextAnalysis.dupElemChars" -> "declarative twin of the native RepetitionChars",
    "KnnJoin.exactCross" -> "declarative oracle of the exact kNN operator",
    "KnnJoin.cosinePairsAbove" -> "all-pairs oracle of cosinePairsAboveBanded",
    "KnnJoin.pqIndex" ->
      "the PQ trainer; the session artifacts memoize its codebook and codes apart",
    "MlPack.mlpPlan" -> "un-memoized MLP transform twin",
    "MlPack.firstPgPlan" -> "un-memoized first_pg transform twin",
    "VectorOps.dotDeclarative" -> "declarative twin of the native ArrayDot")

  /** `source` with comments removed; string literals stay. */
  def code(source: String): String = {
    val out = new StringBuilder
    var i = 0
    val n = source.length
    def at(s: String) = source.startsWith(s, i)
    while (i < n) {
      if (at("//")) {
        while (i < n && source(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 0
        do {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
        } while (i < n && depth > 0)
        out += ' '
      } else if (at("\"\"\"")) {
        val end = source.indexOf("\"\"\"", i + 3)
        val j = if (end < 0) n else end + 3
        out ++= source.substring(i, j)
        i = j
      } else if (source(i) == '"') {
        var j = i + 1
        while (j < n && source(j) != '"' && source(j) != '\n')
          j += (if (source(j) == '\\') 2 else 1)
        j = math.min(j + 1, n)
        out ++= source.substring(i, j)
        i = j
      } else if (source(i) == '\'' && charLiteral(source, i) > 0) {
        val len = charLiteral(source, i) // '"' must not open a string
        out ++= source.substring(i, i + len)
        i += len
      } else {
        out += source(i)
        i += 1
      }
    }
    out.toString
  }

  /** Length of the char literal at `i` (plain, escaped or unicode-escaped), else 0. */
  private def charLiteral(s: String, i: Int): Int =
    Seq(3, 4, 8).find(len => i + len <= s.length && s(i + len - 1) == '\'' &&
      (len == 3 || s(i + 1) == '\\') && (len != 8 || s(i + 2) == 'u'))
      .getOrElse(0)

  private def word(name: String) =
    ("(?<![\\w$])" + java.util.regex.Pattern.quote(name) + "(?![\\w$])").r

  def references(name: String, code: String): Boolean =
    word(name).findFirstIn(code).nonEmpty

  private val declKw = "(def|val|var|object|class|trait|type)"
  private val decl = ("(?m)^[ \t]*((?:(?:private(?:\\[\\w+\\])?|protected|" +
    "override|final|implicit|lazy|case|sealed|abstract)\\s+)*)" + declKw +
    "\\s+([A-Za-z_]\\w*)").r
  private val topObject = "(?m)^(?:(?:private\\[graft\\]|case)\\s+)*object\\s+(\\w+)[^{\\n]*\\{".r

  /** (object, member) for each scanned member of `code`. */
  private def members(code: String): Seq[(String, String)] = {
    // braces inside string literals do not nest
    val skeleton = code.replaceAll("\"\"\"[\\s\\S]*?\"\"\"|\"(?:\\\\.|[^\"\\\\\\n])*\"", "\"\"")
    val depth = skeleton.scanLeft(0) {
      case (d, '{') => d + 1
      case (d, '}') => d - 1
      case (d, _) => d
    }
    topObject.findAllMatchIn(skeleton).filter(m => depth(m.start) == 0)
      .toSeq.flatMap { m =>
        val end = (m.end until skeleton.length)
          .find(i => skeleton(i) == '}' && depth(i) == 1).getOrElse(skeleton.length)
        decl.findAllMatchIn(skeleton.substring(0, end)).filter { d =>
          d.start >= m.end && depth(d.start(3)) == 1 &&
          !"\\bprivate\\b(?!\\[graft\\])|\\bprotected\\b|\\boverride\\b".r
            .findFirstIn(d.group(1)).isDefined &&
          !Set("main", "apply", "unapply").contains(d.group(3))
        }.map(d => m.group(1) -> d.group(3))
      }
  }

  /** "Object.member" for every scanned member of `main` (path, source)
    * whose name no main or `bench` source references, sorted. */
  def unreferenced(main: Seq[(String, String)], bench: Seq[String]): Seq[String] = {
    val mainCode = main.map { case (_, s) => code(s) }
    val all = mainCode ++ bench.map(code)
    mainCode.flatMap(members).distinct.filter { case (_, name) =>
      val uses = all.map(word(name).findAllMatchIn(_).size).sum
      val decls = mainCode.map(c =>
        (declKw + "\\s+" + java.util.regex.Pattern.quote(name) + "(?![\\w$])")
          .r.findAllMatchIn(c).size).sum
      uses <= decls
    }.map { case (o, n) => s"$o.$n" }.sorted
  }
}
