package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.normalize.{Normalize, NormalizePack}
import graft.plans.MoneyNorm

class CatalystExtensionSpec extends AnyFunSuite {
  import SparkTestSession._

  test("native MoneyNorm expression matches the declarative formulation") {
    import spark.implicits._
    val fuzz = (0 until 500).map { i =>
      val c = (i * 2654435761L) % 100000000L
      val base = f"${c / 100}%d.${c % 100}%02d"
      i % 8 match {
        case 0 => base
        case 1 => s"($$$base)"
        case 2 => s"$base-"
        case 3 => s"-$$$base"
        case 4 => s"$$$base"
        case 5 => "junk" + base
        case 6 => ""
        case _ => "NULL"
      }
    }
    val df = (NormalizePack.moneyVectors ++ fuzz).toDF("s")
    val mismatches = df.select(
        Normalize.moneyOrNull(col("s")).as("declarative"),
        MoneyNorm.moneyNormNative(col("s")).as("native"))
      .filter(!(col("declarative") <=> col("native")))
      .count()
    assert(mismatches == 0)
  }

  test("native expression survives inside whole-stage codegen") {
    import spark.implicits._
    val df = Seq.fill(100)("($1,053.75)").toDF("s")
      .select(MoneyNorm.moneyNormNative(col("s")).as("m"))
      .groupBy("m").count()
    val rows = df.collect()
    assert(rows.length == 1 && rows(0).getString(0) == "-$1,053.75"
      && rows(0).getLong(1) == 100)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no codegen span in:\n$plan")
  }

  test("native ArrayDot matches the declarative zip_with fold bitwise") {
    import spark.implicits._
    import graft.vector.VectorOps
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 300).map { i =>
      val n = if (i % 11 == 0) 7 else 8 // some length mismatches
      (Array.fill(n)(rnd.nextFloat()), Array.fill(8)(rnd.nextFloat()))
    }
    val df = vecs.toDF("a", "b")
    val mismatches = df.select(
        VectorOps.dot(col("a"), col("b")).as("native"),
        VectorOps.dotDeclarative(col("a"), col("b")).as("declarative"))
      .filter(!(col("native") <=> col("declarative")))
      .count()
    assert(mismatches == 0)
    // null element propagates to NULL like zip_with padding
    val withNull = spark.sql(
      "SELECT CAST(array(1.0, NULL, 2.0) AS ARRAY<DOUBLE>) AS a, " +
        "CAST(array(1.0, 1.0, 1.0) AS ARRAY<DOUBLE>) AS b")
    assert(withNull.select(VectorOps.dot(col("a"), col("b"))).collect()(0).isNullAt(0))
  }

  test("native ArrayDot survives inside whole-stage codegen") {
    import spark.implicits._
    val df = Seq.fill(50)((Array(1.0f, 2.0f, 3.0f), Array(2.0f, 0.5f, 1.0f)))
      .toDF("a", "b")
      .select(graft.vector.VectorOps.dot(col("a"), col("b")).as("d"))
      .groupBy("d").count()
    val rows = df.collect()
    assert(rows.length == 1 && rows(0).getDouble(0) == 6.0 && rows(0).getLong(1) == 50)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no codegen span in:\n$plan")
  }

  test("native WordShingles matches the declarative transform chain") {
    import spark.implicits._
    import graft.dedup.Dedup
    val texts: Seq[String] = Seq(
      null, "", "   ", "one", "one two", "one two three",
      "a b c d e f g", "  leading and   internal\truns\nnewlines  ",
      (1 to 40).map(i => s"w${i % 7}").mkString(" "))
    for (k <- Seq(1, 2, 3, 5)) {
      val df = texts.toDF("t")
      val mismatches = df.select(
          Dedup.shingles(col("t"), k).as("native"),
          Dedup.shinglesDeclarative(col("t"), k).as("declarative"))
        .filter(!(col("native") <=> col("declarative")))
        .count()
      assert(mismatches == 0, s"k=$k")
    }
  }

  test("native RepetitionChars matches the sorted-fold twins for every n") {
    import graft.plans.RepetitionChars
    import graft.text.{TextAnalysis, TextOps}
    val docs = graft.core.Tables(spark, sf).documents
      .select(col("doc_id"), col("text"), TextOps.words(col("text")).as("ws"))
    for (n <- 2 to 10) {
      val both = docs.select(
          RepetitionChars.topGramChars(col("ws"), n).as("nt"),
          TextAnalysis.topElemChars(graft.dedup.Dedup.shingles(col("text"), n))
            .as("ft"),
          RepetitionChars.dupGramChars(col("ws"), n).as("nd"),
          TextAnalysis.dupElemChars(graft.dedup.Dedup.shingles(col("text"), n))
            .as("fd"))
        .filter(col("nt") =!= col("ft") || col("nd") =!= col("fd"))
      assert(both.count() == 0, s"n=$n native != fold")
    }
    // edge vectors: empty, below-n, exact ties
    import spark.implicits._
    val edges = Seq("", "one two", "b a b a", "x x x y y y").toDF("text")
      .select(col("text"), TextOps.words(col("text")).as("ws"))
    val vals = edges.select(
        RepetitionChars.topGramChars(col("ws"), 1).as("t1"),
        TextAnalysis.topElemChars(graft.dedup.Dedup.shingles(col("text"), 1))
          .as("f1"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    vals.foreach { case (nv, fv) => assert(nv == fv) }
    // "x x x y y y": counts tie at 3 → binary-smallest gram "x" wins
    assert(vals.last._1 == 3L)
  }

  test("native ProfileHits/WordTokenCount match the declarative forms") {
    import spark.implicits._
    import graft.plans.{ProfileHits, WordTokenCount}
    import graft.text.{TextAnalysis, TextOps}
    val profile = Seq("the", "join", "spark", "a")
    // whitespace pathologies: leading tab (split keeps one empty
    // token), mixed runs, trailing whitespace, space-only, empty,
    // repeated profile words (multiplicity counts)
    val texts: Seq[String] = Seq(
      null, "", "   ", "\t", "\tthe join", "the the the", "a b a",
      "the  join\tspark\nscan ", " nothing matches here ",
      "joinjoin\fjoin\rthe", "word " * 50 + "the")
    val df = texts.toDF("t")
    val m1 = df.select(
        ProfileHits.count(col("t"), profile).as("native"),
        TextAnalysis.profileScore(TextOps.words(col("t")), profile)
          .cast("long").as("twin"))
      .filter(!(col("native") <=> col("twin"))).count()
    assert(m1 == 0, "profile hits diverge")
    // coalesce(-1) mirrors the legacy sizeOfNull of the non-ANSI
    // session, so the null row participates in the parity check too
    val m2 = df.select(
        coalesce(WordTokenCount.count(col("t")), lit(-1L)).as("native"),
        size(TextOps.words(col("t"))).cast("long").as("twin"))
      .filter(!(col("native") <=> col("twin"))).count()
    assert(m2 == 0, "word counts diverge")
    // corpus sweep: the composed quality score equals the old
    // declarative formulation on every document
    val oldQuality = {
      val ws = TextOps.words(col("text"))
      val n = size(ws)
      val stop = when(n > 0,
        TextAnalysis.profileScore(ws,
          TextAnalysis.Profiles.flatMap(_._2)).cast("double")
          / n.cast("double")).otherwise(lit(0.0))
      val punct = when(length(col("text")) > 0,
        TextAnalysis.punctCharsRegex(col("text")).cast("double")
          / length(col("text")).cast("double")).otherwise(lit(0.0))
      lit(0.4) * stop + lit(0.3) * (lit(1.0) - punct) +
        lit(0.3) * least(lit(1.0), n.cast("double") / 100.0)
    }
    val m3 = graft.core.Tables(spark, sf).documents
      .select(TextAnalysis.qualityScore(col("text")).as("native"),
        oldQuality.as("twin"))
      .filter(!(col("native") <=> col("twin"))).count()
    assert(m3 == 0, "quality score diverges")
    // char-class counters vs the regex twins, corpus + pathologies
    // (multi-byte codepoints land in punct, never alpha/digit)
    val edge = texts.filter(_ != null) ++ Seq(
      "héllo wörld", "a1!b2? ", "北京 123", "é中!x9")
    val chDf = graft.core.Tables(spark, sf).documents.select(col("text"))
      .unionByName(edge.toDF("text"))
    val m4 = chDf.select(
        graft.plans.CharClassCount.alpha(col("text")).as("na"),
        TextAnalysis.alphaCharsRegex(col("text")).cast("long").as("ta"),
        graft.plans.CharClassCount.digit(col("text")).as("nd"),
        TextAnalysis.digitCharsRegex(col("text")).cast("long").as("td"),
        graft.plans.CharClassCount.punct(col("text")).as("np"),
        TextAnalysis.punctCharsRegex(col("text")).cast("long").as("tp"))
      .filter(!(col("na") <=> col("ta")) || !(col("nd") <=> col("td")) ||
        !(col("np") <=> col("tp"))).count()
    assert(m4 == 0, "char-class counts diverge from regex twins")
  }

  test("native text kernels survive inside whole-stage codegen") {
    import graft.plans.{CharClassCount, ProfileHits, WordTokenCount}
    val df = graft.core.Tables(spark, sf).documents
      .select(CharClassCount.alpha(col("text")).as("a"),
        CharClassCount.punct(col("text")).as("p"),
        ProfileHits.count(col("text"), Seq("the", "join")).as("h"),
        WordTokenCount.count(col("text")).as("w"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no codegen span in:\n$plan")
    val r = df.agg(sum(col("a")), sum(col("p")), sum(col("h")),
      sum(col("w"))).collect()(0)
    // alpha/hits/words are positive on the word-soup corpus; punct
    // may legitimately be zero there (letters + whitespace only)
    assert(r.getLong(0) > 0L && r.getLong(2) > 0L && r.getLong(3) > 0L)
    assert(r.getLong(1) >= 0L)
  }

  test("native RepetitionChars survives inside whole-stage codegen") {
    import graft.plans.RepetitionChars
    import graft.text.TextOps
    val df = graft.core.Tables(spark, sf).documents
      .select(TextOps.words(col("text")).as("ws"))
      .select(RepetitionChars.dupGramChars(col("ws"), 5).as("d"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no codegen span in:\n$plan")
    assert(df.agg(sum(col("d"))).collect()(0).getLong(0) >= 0L)
  }

  test("SQL registration: money_norm and chunk work in plain SQL") {
    // GraftExtensions comes with the factory session: no registration
    // by hand, so this is the same surface Verify and Bench run on
    val m = spark.sql("SELECT money_norm('($1,053.75)') AS m").collect()(0).getString(0)
    assert(m == "-$1,053.75")
    val d = spark.sql(
      "SELECT array_dot(CAST(array(1.0, 2.0) AS ARRAY<DOUBLE>), " +
        "CAST(array(3.0, 0.5) AS ARRAY<DOUBLE>)) AS d").collect()(0).getDouble(0)
    assert(d == 4.0)
    val chunks = spark.sql(
      """SELECT chunk_idx, start_word, chunk_text
        |FROM (SELECT 'a b c d e f g' AS t)
        |LATERAL VIEW chunk(t, 3, 1) AS chunk_idx, start_word, chunk_text""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2)))
    assert(chunks.toSeq == Seq((0, 0, "a b c"), (1, 2, "c d e"),
      (2, 4, "e f g"), (3, 6, "g")))
  }

  test("factory session plans KnnJoinPlan through KnnJoinExec with no hand wiring") {
    assert(!spark.experimental.extraStrategies.contains(graft.plans.KnnJoinStrategy),
      "the strategy must come from GraftExtensions, not the experimental hook")
    val e = graft.core.Tables(spark, sf).embeddings
    val df = graft.plans.KnnJoinPlan.knnJoin(spark, e, e, 2)
    // SparkPlan.nodeName strips the Exec suffix in tree rendering
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("KnnJoin"), s"plan:\n$physical")
    assert(df.count() == 2 * e.count())
  }

  test("chunk generator agrees with the array-expression chunker") {
    import spark.implicits._
    val texts = (1 to 30).map(n => (1 to n).map(i => s"w$i").mkString(" "))
    val df = texts.toDF("t")
    val viaGen = df.select(
        org.apache.spark.sql.graftbridge.ColumnBridge.column(
          graft.plans.ChunkWords(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("t")),
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(lit(7)),
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(lit(2)))))
      .select(col("chunk_text"))
      .collect().map(_.getString(0)).toSeq.sorted
    val viaExpr = df.select(explode(
        graft.text.TextOps.chunkTexts(col("t"), 7, 2)))
      .collect().map(_.getString(0)).toSeq.sorted
    assert(viaGen == viaExpr)
  }
}
