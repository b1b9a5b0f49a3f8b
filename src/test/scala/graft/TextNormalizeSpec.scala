package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.normalize.{JsonRepair, Normalize}
import graft.text.TextOps

class TextNormalizeSpec extends AnyFunSuite {
  import SparkTestSession._

  private def one(c: org.apache.spark.sql.Column, input: String): Any = {
    import spark.implicits._
    Seq(Option(input)).toDF("s").select(c.as("r")).collect()(0).get(0)
  }

  test("moneyOrNull golden vectors from the reference docstring") {
    val m = (s: String) => one(Normalize.moneyOrNull(col("s")), s)
    assert(m("1053.75") == "$1,053.75")
    assert(m("($1,053.75)") == "-$1,053.75")
    assert(m("$1053.7-") == "-$1,053.70")
    assert(m("-$0.00") == "$0.00")
    assert(m("NULL") == null)
    assert(m("abc") == null)
    assert(m("$1,234,567.89") == "$1,234,567.89")
  }

  test("ensureNegativeMoney follows the code, not the docstring") {
    val f = (s: String) => one(Normalize.ensureNegativeMoney(col("s")), s)
    assert(f("$123.45") == "-$123.45")
    assert(f("($123.45)") == "($123.45)") // pass-through: already negative
    assert(f("-$0.00") == "$0.00")
    assert(f("123.45") == "-$123.45")
    assert(f("$abc") == "$abc")
  }

  test("dateSane keeps originals only in-window, first sane format wins") {
    val d = (s: String) => one(Normalize.dateSane(col("s")), s)
    assert(d("09/01/2025") == "09/01/2025")
    assert(d("12/31/24") == "12/31/24") // yy → 2024, despite yyyy mis-parse
    assert(d("1899-12-31") == null)
    assert(d("02/29/2023") == null)
    assert(d("02/29/2024") == "02/29/2024")
  }

  test("chunker covers every word with the step formula") {
    import spark.implicits._
    val words = (1 to 47).map(i => s"w$i").mkString(" ")
    val chunks = Seq(words).toDF("text")
      .select(TextOps.chunkTexts(col("text"), 20, 5).as("c"))
      .collect()(0).getSeq[String](0)
    // starts 0,15,30,45 → 4 chunks; last has 2 words
    assert(chunks.length == 4)
    assert(chunks(0).split(" ").length == 20)
    assert(chunks(0).startsWith("w1 ") && chunks(1).startsWith("w16 "))
    assert(chunks(3) == "w46 w47")
    // consecutive chunks overlap by exactly 5 words
    assert(chunks(0).split(" ").takeRight(5).toSeq ==
      chunks(1).split(" ").take(5).toSeq)
  }

  test("chunker emits nothing for empty text") {
    import spark.implicits._
    val n = Seq("", "   ").toDF("text")
      .select(explode(TextOps.chunkTexts(col("text"), 20, 5))).count()
    assert(n == 0)
  }

  test("truncateTopBottom keeps short docs unchanged") {
    val t = (s: String) => one(TextOps.truncateTopBottom(col("s")), s)
    assert(t("a\nb\nc") == "a\nb\nc")
    assert(t("1\n2\n3\n4\n5\n6\n7\n8") == "1\n2\n3\n4\n5\n6\n7\n8")
    assert(t("1\n2\n3\n4\n5\n6\n7\n8\n9\n10") == "1\n2\n3\n4\n7\n8\n9\n10")
  }

  test("json repair slices to the outer braces and parses strictly") {
    val f = (s: String) => one(JsonRepair.field(col("s"), "a"), s)
    assert(f("""text {"a": "1"} more""") == "1")
    assert(f("""{"a": "1"""") == "1")
    assert(f("garbage") == null)
    assert(f("""{"a": "4"} extra }""") == null) // json.loads would raise
  }

  test("misra-gries: exact when capacity covers the vocabulary, " +
      "partition-order independent") {
    import spark.implicits._
    import graft.text.HeavyHitters
    val rnd = new scala.util.Random(7)
    val toks = Seq.fill(5000)(s"w${rnd.nextInt(40)}")
    val exact = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (parts <- Seq(1, 7)) {
      val got = toks.toDF("tok").repartition(parts)
        .agg(HeavyHitters.mg(64)(col("tok")).as("mg"))
        .collect()(0).getMap[String, Long](0)
      assert(got.toMap == exact, s"parts=$parts diverged from exact counts")
    }
  }

  test("misra-gries: under-count bound and heavy-hitter survival " +
      "below capacity") {
    import spark.implicits._
    import graft.text.HeavyHitters
    // skewed stream: two heavy items + a long tail of singletons
    val toks = Seq.fill(400)("heavy1") ++ Seq.fill(250)("heavy2") ++
      (0 until 350).map(i => s"tail$i")
    val n = toks.size
    val k = 8
    val exact = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (parts <- Seq(1, 5)) {
      val got = toks.toDF("tok").repartition(parts)
        .agg(HeavyHitters.mg(k)(col("tok")).as("mg"))
        .collect()(0).getMap[String, Long](0).toMap
      assert(got.size <= k)
      got.foreach { case (t, est) =>
        val truth = exact(t)
        assert(est <= truth, s"$t over-counted: $est > $truth")
        assert(est >= truth - n / (k + 1),
          s"$t under bound: $est < $truth - ${n / (k + 1)}")
      }
      exact.filter(_._2 > n / (k + 1)).keys.foreach { t =>
        assert(got.contains(t), s"heavy item $t evicted (parts=$parts)")
      }
    }
  }

  test("formatMoney renders -$#,##0.00 with half-up cents") {
    val f = (s: String) =>
      one(Normalize.formatMoney(col("s").cast("decimal(18,2)")), s)
    assert(f("1234.5") == "$1,234.50")
    assert(f("-1053.75") == "-$1,053.75")
    assert(f("1234567.891") == "$1,234,567.89")
    assert(f("2.005") == "$2.01")   // string→decimal half-up, never via double
    assert(f("-2.005") == "-$2.01") // half-AWAY-FROM-ZERO on negatives
    assert(f("-0.004") == "$0.00")  // rounds to zero: no "-$0.00"
    assert(f("0") == "$0.00")
    assert(f(".5") == "$0.50")
    assert(f("junk") == null)
    assert(f(null) == null)
  }

  test("staged json repairs fix trailing commas and single quotes") {
    val r = (s: String) => one(JsonRepair.repairCommon(col("s")), s)
    val v = (s: String) =>
      one(JsonRepair.isValidJson(JsonRepair.repairCommon(col("s"))), s)
    assert(r("""{"a": 1,}""") == """{"a": 1}""")
    assert(r("""{'key': 'value'}""") == """{"key": "value"}""")
    assert(r("""{"a": [1, 2,], "b": 'c',}""") == """{"a": [1, 2], "b": "c"}""")
    assert(v("""{'nums': [1, 2, 3,], 'tag': 'x',}""") == true)
    assert(v("not json") == false)
    // apostrophes inside double-quoted values survive the quote pass
    assert(r("""{"note": "it's fine",}""") == """{"note": "it's fine"}""")
  }

  test("safe_parse_list: parse, retry with ], singleton fallback") {
    import org.apache.spark.sql.types.StringType
    val p = (s: String) =>
      one(JsonRepair.safeParseList(col("s"), StringType), s)
        .asInstanceOf[scala.collection.Seq[String]].toList
    assert(p("""["AA", "BB"]""") == List("AA", "BB"))
    assert(p("""["AA", "BB"""") == List("AA", "BB")) // repaired with ]
    assert(p("""['DD 10', 'RET 20.5']""") == List("DD 10", "RET 20.5"))
    assert(p("""['one'""") == List("one"))
    assert(p("plain string") == List("plain string")) // singleton wrap
    assert(p("[]") == Nil)
    assert(p("""[1, 2]""") == List("1", "2")) // numeric tokens coerce
  }

  test("validation status covers all four states") {
    import spark.implicits._
    val rows = Seq(("1", "1"), ("NULL", "2"), ("3", ""), ("4", "5"))
      .toDF("p", "g")
      .select(graft.metrics.Evaluation.validationStatus(col("p"), col("g")))
      .collect().map(_.getString(0)).toSeq
    assert(rows == Seq("MATCH", "MISSING", "FALSE_POSITIVE", "MISMATCH"))
  }

  test("repetition signals: bigrams and top counts on crafted docs") {
    import graft.text.TextAnalysis
    import spark.implicits._
    val r = Seq("go go go stop", "a b c d", "x", "").toDF("s")
      .select(
        TextAnalysis.topCount(TextAnalysis.bigrams(TextOps.words(col("s"))))
          .as("top"),
        size(array_distinct(TextOps.words(col("s")))).as("d"))
      .collect().map(x => (x.getInt(0), x.getInt(1))).toSeq
    // "go go" bigram occurs twice; all-distinct doc tops at 1; one
    // word / empty text have no bigrams at all
    assert(r == Seq((2, 2), (1, 4), (0, 1), (0, 0)))
  }

  test("mixture sampling: heterogeneous rates, realized counts track targets") {
    val rows = graft.text.AnalysisPack.mixtureSample(spark, SparkTestSession.sf)
      .collect()
    assert(rows.length >= 2)
    // char-mass weighting must produce genuinely different rates
    assert(rows.map(_.getLong(4)).distinct.length >= 2, "rates all equal")
    rows.foreach { r =>
      assert(r.getLong(5) <= r.getLong(1), "sampled more than available")
    }
    val total = rows.map(_.getLong(1)).sum.toDouble
    val sampled = rows.map(_.getLong(5)).sum.toDouble
    // target mass is half the corpus; hash thresholds realize it
    // within binomial noise on this small SF
    assert(math.abs(sampled / total - 0.5) < 0.15,
      s"sampled fraction ${sampled / total}")
  }

  test("mixture budget: epoch cap binds the scarcest source, plan is feasible") {
    val rows = graft.text.AnalysisPack
      .mixtureBudget(spark, SparkTestSession.sf).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getBoolean(6)))
    assert(rows.length >= 2)
    // weights are a distribution; tokens split by them
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4)
    val b = rows.map(_._5 * 1.0) // epochs
    // feasible: nobody exceeds the 4-epoch cap (rounding slack only)
    assert(b.forall(_ <= 4.0 + 1e-6), s"epochs ${b.max}")
    // under sqrt-mass weights min_s E*T_s/alpha_s <= E*total (equal
    // masses maximize it at exactly E*total), so a 6x-total request
    // always drives the epoch cap to bind: the scarcest-per-share
    // source(s) sit AT the cap, everyone else strictly below
    val binding = rows.filter(_._6)
    assert(binding.nonEmpty, "no binding source")
    assert(binding.forall(r => math.abs(r._5 - 4.0) < 1e-6))
    assert(rows.filterNot(_._6).forall(_._5 < 4.0))
    // selected tokens sum to the achieved budget = min epoch ratio
    val bmax = rows.map(r => 4.0 * r._2 / r._3).min
    assert(math.abs(rows.map(_._4).sum - bmax) < 1e-3 * bmax)
  }

  test("pii redaction scrubs email, ssn and phone with an audit count") {
    import graft.text.TextAnalysis
    val s = "mail a.b+c@ex-1.org ssn 123-45-6789 tel 415-555-0134 end"
    assert(one(TextAnalysis.redact(col("s")), s) ==
      "mail <email> ssn <ssn> tel <phone> end")
    assert(one(TextAnalysis.piiCount(col("s")), s) == 3)
    // untouched text passes through with count 0
    assert(one(TextAnalysis.redact(col("s")), "plain words 123") ==
      "plain words 123")
    assert(one(TextAnalysis.piiCount(col("s")), "plain words 123") == 0)
  }

  test("sequence packing: distributed prefix sum equals the window form " +
      "and is partition-count independent") {
    import org.apache.spark.sql.expressions.Window
    val d = graft.core.Tables(spark, sf).documents
    def run(np: Int) = graft.text.SequencePacking
      .packSequences(d, col("doc_id"), TextOps.wordLen(col("text")), 256L, np)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val w = Window.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val expected = d
      .select(col("doc_id"), TextOps.wordLen(col("text")).cast("long").as("n"))
      .withColumn("start", coalesce(sum(col("n")).over(w), lit(0L)))
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(2) / 256L,
        r.getLong(2) % 256L))
      .toSet
    assert(run(3) == expected)
    assert(run(7) == run(3), "positions must not depend on partitioning")
  }

  test("vocab coverage: level closed form equals the global rank scan") {
    val out = graft.text.TextPack.vocabCoverage(spark, sf).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    // rank-scan twin: order the whole vocabulary by (count desc, word),
    // running-sum it, take the first rank covering p of all tokens —
    // the formulation the operator exists to avoid at corpus scale
    val counts = graft.core.Tables(spark, sf).documents
      .select(explode(TextOps.words(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val total = counts.map(_._2).sum
    val cum = counts.sortBy { case (w, c) => (-c, w) }.map(_._2)
      .scanLeft(0L)(_ + _).drop(1)
    for ((p, k, vocab, tot) <- out) {
      assert(tot == total && vocab == counts.length.toLong)
      assert(k == cum.indexWhere(_ >= p * total) + 1,
        s"p=$p: closed form $k vs rank scan")
    }
    assert(out.map(_._1).toSeq == Seq(0.5, 0.9, 0.95, 0.99))
    // the level relation the prefix sums and the crossing join run
    // over is far smaller than the vocabulary (Zipf: ~sqrt scaling)
    val nLevels = counts.map(_._2).distinct.length
    assert(nLevels < counts.length,
      s"levels $nLevels should compress vocab ${counts.length}")
  }

  test("train order manifest equals a driver-side brute-force replay") {
    import graft.text.TextPack
    val out = TextPack.trainOrder(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSeq
    // brute force: md5 every doc key, shard on the 60-bit slice, sort
    // within shard, accumulate the positional checksum in BigInt
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String) = md.digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val docs = graft.core.Tables(spark, sf).documents
      .select(col("doc_id"), TextOps.wordLen(col("text")).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val keyed = docs.map { case (id, n) =>
      val k = hex(s"${TextPack.OrderSeed}:$id")
      val shard = java.lang.Long.parseLong(k.substring(0, 15), 16) % TextPack.NShards
      val h32 = java.lang.Long.parseLong(k.substring(16, 24), 16)
      (shard, k, id, n, h32)
    }
    val expected = keyed.groupBy(_._1).toSeq.sortBy(_._1).map { case (s, g) =>
      val ordered = g.sortBy(_._2)
      val checksum = ordered.zipWithIndex
        .map { case ((_, _, _, _, h32), i) => BigInt(i + 1) * BigInt(h32) }.sum
      (s, g.length.toLong, g.map(_._4).sum, ordered.head._3, checksum.toString)
    }
    assert(out == expected)
    assert(out.map(_._1) == (0L until TextPack.NShards.toLong),
      "every shard id present")
    // the checksum is order-sensitive: permuting two positions changes it
    val h = keyed.filter(_._1 == 0L).sortBy(_._2).map(_._5)
    assert(h.length >= 2 && BigInt(1) * BigInt(h(0)) + BigInt(2) * BigInt(h(1))
      != BigInt(1) * BigInt(h(1)) + BigInt(2) * BigInt(h(0)),
      "swapping adjacent docs must move the checksum")
  }

  test("quality cap skew escape equals the plain window, incl. skewed corpus") {
    import spark.implicits._
    val sf = SparkTestSession.sf
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    assert(rows(graft.text.AnalysisPack.qualityCap(spark, sf))
      == rows(graft.text.AnalysisPack.qualityCapScaled(spark, sf)))
    // deliberately skewed corpus: one language at 50:1 dominance with
    // many exact quality ties (identical texts), so the threshold-tie
    // path (quality == nth kept, ranked by doc_id) is exercised; a
    // null-lang group and a separate "" group, which a16's
    // PARTITION BY lang keeps as two languages of their own
    val docs = (0 until 530).map { i =>
      val lang =
        if (i < 500) Some("big") else if (i < 510) Some("small")
        else if (i < 520) None else Some("")
      val text = if (i % 5 == 0) "the of and is in repeated words here now"
        else s"unique text number $i with the of and some words w${i % 11}"
      (i.toLong, lang, text)
    }.toDF("doc_id", "lang", "text")
    for (cap <- Seq(7, 20)) // 20 > |small|: the under-full keep-all path
      assert(rows(graft.text.AnalysisPack.qualityCapOf(docs, cap))
        == rows(graft.text.AnalysisPack.qualityCapScaledOf(docs, cap)),
        s"cap=$cap")
    // the null and "" languages are capped as two separate groups
    val capped = rows(graft.text.AnalysisPack.qualityCapScaledOf(docs, 7))
    assert(capped.count(_._2 == null) == 7 && capped.count(_._2 == "") == 7)
  }

  test("source overlap grid keeps shingle-free sources with zero rows") {
    import spark.implicits._
    // V and W have <3 words → zero shingles; they must still appear in
    // the grid with n=0, and the V-W pair's 0/0 jaccard reports 0.0
    val docs = Seq(("V", "hi"), ("W", "yo x"),
      ("X", "a b c d"), ("Y", "a b c e")).toDF("source", "text")
    val out = graft.text.AnalysisPack.sourceOverlapOf(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(out.toSeq == Seq(
      ("V", "W", 0L, 0L, 0L, 0.0),
      ("V", "X", 0L, 2L, 0L, 0.0),
      ("V", "Y", 0L, 2L, 0L, 0.0),
      ("W", "X", 0L, 2L, 0L, 0.0),
      ("W", "Y", 0L, 2L, 0L, 0.0),
      ("X", "Y", 2L, 2L, 1L, 0.333333)))
  }

  test("source overlap matrix: crafted corpus with known shingle sets") {
    import spark.implicits._
    // X:{<a b c>,<b c d>} Y:{<a b c>,<b c e>} Z:{<x y z>,<y z w>}
    val docs = Seq(("X", "a b c d"), ("Y", "a b c e"), ("Z", "x y z w"))
      .toDF("source", "text")
    val out = graft.text.AnalysisPack.sourceOverlapOf(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(out.toSeq == Seq(
      ("X", "Y", 2L, 2L, 1L, 0.333333),
      ("X", "Z", 2L, 2L, 0L, 0.0),
      ("Y", "Z", 2L, 2L, 0L, 0.0)))
  }

  test("source overlap on the corpus equals a driver string-set replay") {
    import spark.implicits._
    val sf = SparkTestSession.sf
    val out = graft.text.AnalysisPack.sourceOverlap(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val sets = graft.core.Tables(spark, sf).documents
      .select(col("source"),
        explode(graft.dedup.Dedup.shingles(col("text"), 3)).as("s"))
      .distinct().as[(String, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val srcs = sets.keys.toSeq.sorted
    val expected = for {
      a <- srcs; b <- srcs if a < b
    } yield (a, b, sets(a).size.toLong, sets(b).size.toLong,
      (sets(a) & sets(b)).size.toLong)
    assert(out == expected.sortBy(t => (t._1, t._2)))
  }

  test("char entropy: closed-form vectors, code-point counting, empty docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aaaa"),      // uniform single char: H = 0 (and never -0.0)
      (2L, "abab"),      // two equiprobable chars: H = 1 bit
      (3L, "abcd"),      // four distinct: H = 2 bits
      (4L, ""),          // empty: reported as (0, 0, 0.0), not dropped
      (5L, "😀😀") // astral emoji twice: ONE code
                         // point counted twice, H = 0 — a code-unit
                         // split would see 2 half-surrogates, H = 1
    ).toDF("doc_id", "text")
    val out = graft.text.AnalysisPack.charEntropyOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (1L, 4L, 1L, 0.0), (2L, 4L, 2L, 1.0), (3L, 4L, 4L, 2.0),
      (4L, 0L, 0L, 0.0), (5L, 2L, 1L, 0.0)))
    // the +0.0 guard: a zero entropy must be +0.0, never -0.0
    assert(out.forall(t => t._4 != 0.0 || !(1.0 / t._4).isNegInfinity))
  }

  test("char entropy on the corpus equals a driver code-point replay") {
    val sf = SparkTestSession.sf
    val out = graft.text.AnalysisPack.charEntropy(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val docs = graft.core.Tables(spark, sf).documents
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val expected = docs.map { case (id, text) =>
      val cps = text.codePoints().toArray
      if (cps.isEmpty) (id, 0L, 0L, 0.0)
      else {
        val counts = cps.groupBy(identity).view.mapValues(_.length.toLong)
        val n = cps.length.toLong
        val s = counts.values.toSeq.sorted.map(c => BigDecimal(c * math.log(c.toDouble))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)).sum
        val h = (math.log(n.toDouble) - (s / n).toDouble) / math.log(2.0)
        (id, n, counts.size.toLong,
          BigDecimal(h).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0)
      }
    }
    assert(out == expected.toSeq)
  }

  test("source drift: single source has exactly zero KL; corpus KLs are " +
      "non-negative over the full grid") {
    import spark.implicits._
    val one = Seq(("only", "a b c a"), ("only", "b d")).toDF("source", "text")
    val kl0 = graft.text.AnalysisPack.sourceDriftOf(one).collect()
    assert(kl0.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      == Seq(("only", 6L, 0.0)))
    val corpus = graft.text.AnalysisPack
      .sourceDrift(spark, SparkTestSession.sf).collect()
    assert(corpus.nonEmpty)
    // KL >= 0 up to the 9-decimal term rounding accumulated over 256 terms
    assert(corpus.forall(_.getDouble(2) >= -1e-6),
      "KL divergence must be non-negative")
  }

  test("sampled terciles agree with exact terciles away from the boundaries") {
    val sf = SparkTestSession.sf
    val exact = graft.text.AnalysisPack.unigramLogprob(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val sampled = graft.text.AnalysisPack.sampledTerciles(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(sampled.keySet == exact.keySet)
    // thresholds from a ~25% hash sample only shift docs near the
    // tercile boundaries — the overwhelming majority agree
    val agree = exact.count { case (id, b) => sampled(id) == b }
    assert(agree >= exact.size * 85 / 100,
      s"only $agree/${exact.size} bucket agreements")
    // all three buckets are populated under the sampled thresholds
    assert(sampled.values.toSet == Set("head", "middle", "tail"))
  }

  test("sketch tercile thresholds sit within one bin width of exact and " +
      "never window the input relation") {
    val sf = SparkTestSession.sf
    val base = graft.text.AnalysisPack.unigramLogprob(spark, sf)
      .select(col("mean_nll")).cache()
    try {
      val thr = graft.core.Sketches.histogramQuantilesWithWidth(
          base, col("mean_nll"), bins = 1000, probs = Seq(1.0 / 3, 2.0 / 3))
        .agg(max(when(col("q") < 0.5, col("est"))).as("q1"),
          max(when(col("q") > 0.5, col("est"))).as("q2"),
          max(col("bin_width")).as("bin_width"))
      val row = thr.collect()(0)
      val (q1s, q2s, bw) =
        (row.getDouble(0), row.getDouble(1), row.getDouble(2))
      assert(bw > 0, "degenerate value range")
      // the sketch's own contract: within one bin width of the value
      // at its target rank ceil(q*n)
      val sorted = base.collect().map(_.getDouble(0)).sorted
      val n = sorted.length
      def atRank(q: Double): Double = sorted(math.ceil(q * n).toInt - 1)
      assert(math.abs(q1s - atRank(1.0 / 3)) <= bw + 1e-12,
        s"q1 sketch $q1s vs rank value ${atRank(1.0 / 3)} (bin $bw)")
      assert(math.abs(q2s - atRank(2.0 / 3)) <= bw + 1e-12,
        s"q2 sketch $q2s vs rank value ${atRank(2.0 / 3)} (bin $bw)")
      // and against a08's exact percentile aggregate on this corpus
      val ex = base.agg(
        percentile(col("mean_nll"), lit(1.0 / 3)).as("q1"),
        percentile(col("mean_nll"), lit(2.0 / 3)).as("q2")).collect()(0)
      assert(math.abs(q1s - ex.getDouble(0)) <= bw + 1e-12)
      assert(math.abs(q2s - ex.getDouble(1)) <= bw + 1e-12)
      // plan assertion: the only Window runs over the bounded
      // (bin, cnt) sketch relation — the input column is never
      // sorted or windowed, so nothing single-partitions the corpus
      val plan = thr.queryExecution.optimizedPlan.toString
      val windows = plan.linesIterator.filter(_.contains("Window")).toSeq
      assert(windows.nonEmpty && windows.forall(_.contains("bin")),
        s"expected the one Window over the bin sketch, got:\n$plan")
      assert(!plan.contains("Sort [mean_nll"),
        s"input relation must not be globally sorted:\n$plan")
    } finally { base.unpersist(); () }
  }
}
