package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.{Bpe, TextOps}

/** Pins the BPE induction semantics the t10/t11 oracles replay: the
  * overlapping pair-count convention, leftmost non-overlapping
  * application, deterministic tie-breaks, full-symbol replace safety,
  * and replace-chain ≡ driver-array application parity. */
class BpeSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Deterministic syllable-composed Zipf vocabulary — production-
    * shaped type tables (word length 4–24 chars, long count-1 tail)
    * for the incremental-vs-naive test; the suite corpus itself has a
    * ~31-word vocabulary. */
  private def syntheticZipfTypes(n: Int): Seq[(String, Long)] = {
    val syl = Array("ka", "to", "ri", "mu", "en", "sha", "lo", "ve",
      "qu", "zi", "na", "ber", "ten", "gra", "pol", "dis")
    def synWord(i: Int): String = {
      val h = i * 0x9e3779b9
      (0 until (2 + math.floorMod(h, 5))).map(j =>
        syl(math.floorMod(h >> (j * 4 + 3), 16))).mkString
    }
    (0 until n).map(i =>
      (synWord(i) + i, math.max(1L, 3000000L / (i + 1))))
  }

  test("overlapping counts + leftmost application on a repeat run") {
    // 'aaaa': pair (a,a) counts 3 (zip-with-tail, Sennrich get_stats);
    // application is leftmost non-overlapping → [aa, aa] → next merge
    // is (aa, aa) with count 1
    val ms = Bpe.trainOnTypes(Seq(("aaaa", 1L)))
    assert(ms.take(2) == Seq(Bpe.Merge("a", "a", 3L), Bpe.Merge("aa", "aa", 1L)))
  }

  test("Sennrich worked example merges in the published order") {
    val types = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    val ms = Bpe.trainOnTypes(types)
    // (e,s)=9 ties (s,t)=9 → "e s" wins binary order; then est, lo, low
    assert(ms.take(4) == Seq(Bpe.Merge("e", "s", 9L), Bpe.Merge("es", "t", 9L),
      Bpe.Merge("l", "o", 7L), Bpe.Merge("lo", "w", 7L)))
  }

  private def applyOne(s: String, ms: Seq[Bpe.Merge]): String = {
    import spark.implicits._
    Seq(Tuple1(s)).toDF("w")
      .select(Bpe.render(Bpe.applyMerges(Bpe.symbolize(col("w")), ms)).as("r"))
      .as[String].collect()(0)
  }

  test("replace is full-symbol-safe and boundary-sharing merges chain") {
    val ab = Seq(Bpe.Merge("a", "b", 0L))
    // adjacent same-pair runs merge left-to-right, sharing boundaries
    assert(applyOne("abab", ab ++ Seq(Bpe.Merge("ab", "ab", 0L))) == "abab")
    assert(applyOne("abab", ab) == "ab ab")
    // (a,b) must not fire when 'a' is the tail of a longer symbol: the
    // symbol string "  xa  b  " holds symbols [xa, b], not [x, a, b]
    val kept = {
      import spark.implicits._
      Seq(Tuple1("k")).toDF("w")
        .select(Bpe.render(Bpe.applyMerges(lit("  xa  b  "), ab)).as("r"))
        .as[String].collect()(0)
    }
    assert(kept == "xa b", "pair must not match inside symbol 'xa'")
    // nor when 'b' is the head of a longer symbol ([a, bx])
    val kept2 = {
      import spark.implicits._
      Seq(Tuple1("k")).toDF("w")
        .select(Bpe.render(Bpe.applyMerges(lit("  a  bx  "), ab)).as("r"))
        .as[String].collect()(0)
    }
    assert(kept2 == "a bx", "pair must not match into symbol 'bx'")
  }

  test("replace-chain application equals driver array application on " +
      "every corpus word") {
    import spark.implicits._
    val ms = Bpe.merges(spark, sf)
    assert(ms.size == Bpe.NMerges)
    val words = graft.core.Tables(spark, sf).documents
      .select(explode(TextOps.words(col("text"))).as("w"))
      .distinct().as[String].collect().sorted.toSeq
    val viaChain = words.map(w => applyOne(w, ms))
    val viaDriver = words.map { w =>
      val syms0 = w.map(_.toString).toList // corpus is ASCII (spec'd below)
      ms.foldLeft(syms0)((s, m) => Bpe.mergeOnce(s, m.lhs, m.rhs)).mkString(" ")
    }
    assert(words.forall(w => !w.exists(_ > 0x7e)), "corpus words are ASCII")
    assert(viaChain == viaDriver)
  }

  test("incremental trainer equals the naive loop on the suite corpus " +
      "and a synthetic Zipf vocabulary") {
    // the tricky shapes first: overlapping runs and exhaustion
    assert(Bpe.trainOnTypesIncremental(Seq(("aaaa", 1L)), 16)
      == Bpe.trainOnTypes(Seq(("aaaa", 1L)), 16))
    assert(Bpe.trainOnTypesIncremental(Seq(("ab", 2L), ("ab", 3L)), 16)
      == Bpe.trainOnTypes(Seq(("ab", 2L), ("ab", 3L)), 16),
      "duplicate type entries must group-sum identically")
    // the suite corpus types at the suite merge count
    val types = graft.core.Tables(spark, sf).documents
      .select(explode(TextOps.words(col("text"))).as("wd"))
      .groupBy(col("wd")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("wd")).limit(Bpe.MaxTypes)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(Bpe.trainOnTypesIncremental(types) == Bpe.trainOnTypes(types))
    // a production-shaped vocabulary, deep merge sequence (ties, long
    // count-1 tail, multi-char code-point-composed symbols)
    val zipf = syntheticZipfTypes(4096)
    assert(Bpe.trainOnTypesIncremental(zipf, 256)
      == Bpe.trainOnTypes(zipf, 256))
  }

  test("training is deterministic and memoized per (session, dir)") {
    val a = Bpe.merges(spark, sf)
    assert(Bpe.merges(spark, sf) eq a)
    // re-derivation from the same histogram reproduces the merges
    val types = graft.core.Tables(spark, sf).documents
      .select(explode(TextOps.words(col("text"))).as("wd"))
      .groupBy(col("wd")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("wd")).limit(Bpe.MaxTypes)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(Bpe.trainOnTypes(types) == a)
  }

  test("fertility report aggregates t11's per-doc counts by language") {
    // t12's rollup must agree with summing the per-document tokenize
    // report joined to the documents table — same merges, same corpus
    val t11 = graft.text.TextPack.bpeTokenize(spark, sf)
      .join(graft.core.Tables(spark, sf).documents
        .select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(sum(col("n_words")).as("w"), sum(col("n_bpe")).as("b"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val t12 = graft.text.TextPack.bpeFertility(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(4))).toMap
    assert(t12.keySet == t11.keySet)
    t12.foreach { case (lang, (w, b, fert)) =>
      assert((w, b) == t11(lang), s"lang $lang counts")
      assert(math.abs(fert - b.toDouble / w.toDouble) < 1e-6)
      // BPE at 16 merges can only split words into >= 1 token each
      assert(fert >= 1.0, s"fertility below 1 for $lang")
    }
  }
}
