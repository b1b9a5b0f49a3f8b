package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** BPE tokenizer induction over the corpus word histogram — the
  * subword vocabulary step every pretraining pipeline runs before
  * tokenizing (Sennrich et al. 2016, `learn_bpe`; the reference's
  * pipelines tokenize with a FIXED vocab, so induction is part of the
  * training-data surface this engine adds, like t07/t08).
  *
  * Shape: word counts are ONE map-side-combined shuffle; the type
  * table is capped to the top [[MaxTypes]] types by (count desc, word)
  * — the standard frequency cutoff, which bounds the driver collect
  * regardless of corpus size (a 100 TB corpus still has a vocabulary,
  * and BPE past the head of the Zipf curve learns noise). The merge
  * loop itself is the classic driver-side algorithm over that bounded
  * table: count adjacent symbol pairs weighted by word frequency
  * (overlapping, `zip(syms, syms.tail)` — Sennrich's `get_stats`),
  * merge the argmax pair everywhere (leftmost non-overlapping), repeat
  * [[NMerges]] times. APPLICATION back on the corpus is a shuffle-free
  * scan: each word becomes a two-space-separated symbol string and the
  * learned merges replay as a literal `replace` chain (see
  * [[symbolize]]/[[applyMerges]] for why the double-space framing makes
  * every replace full-symbol-safe), so tokenization runs inside
  * whole-stage codegen with the merges as broadcast-free literals.
  *
  * The DuckDB oracle needs NO embedded state: each merge stage is a
  * one-row argmax CTE cross-joined into the next stage's `replace`, so
  * the oracle independently re-trains the whole tokenizer and the hash
  * compare pins every (pair, count) of the trajectory inductively.
  *
  * Tie-breaks everywhere are (count desc, "lhs rhs" asc) under UTF-8
  * BINARY order — the collation Spark's UTF8String and DuckDB both
  * use; the driver loop compares UTF-8 bytes explicitly so a JVM
  * UTF-16 `compareTo` can never disagree on supplementary characters.
  */
object Bpe {

  val NMerges = 16
  val MaxTypes = 4096

  /** Symbol separator inside a symbolized word. TWO spaces, with a
    * leading/trailing pair, so a merge of (l, r) can replace the
    * literal ` l  r ` (one space + l + two spaces + r + one space)
    * with ` lr `: the single outer spaces are each HALF of a
    * boundary, leaving the other half in place for an adjacent match
    * — left-to-right non-overlapping `replace` then merges runs like
    * `a b a b` correctly — while the full two-space interior makes a
    * match start/end only at symbol boundaries (no symbol contains a
    * space, so ` l` cannot match a suffix and `r ` cannot match a
    * prefix of a longer symbol). */
  val Sep = "  "

  final case class Merge(lhs: String, rhs: String, count: Long)

  /** UTF-8 binary comparison (unsigned byte order) — see class doc. */
  private[graft] def u8Compare(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    while (i < x.length && i < y.length) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** Code-point split, matching what `regexp_replace(w, "(.)", ...)`
    * sees in both engines (Java regex and RE2 match code points). */
  private def codePoints(w: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.toArray
  }

  private val pairOrd: Ordering[((String, String), Long)] =
    new Ordering[((String, String), Long)] {
      def compare(a: ((String, String), Long), b: ((String, String), Long)): Int = {
        val c = java.lang.Long.compare(b._2, a._2) // larger count first
        if (c != 0) c
        else u8Compare(a._1._1 + " " + a._1._2, b._1._1 + " " + b._1._2)
      }
    }

  /** The classic merge loop over a bounded (word, count) table.
    * `nMerges` defaults to the suite constant; realistic vocab-sized
    * values document the driver loop's cost curve (PERF.md). */
  private[graft] def trainOnTypes(types: Seq[(String, Long)],
                                  nMerges: Int = NMerges): Seq[Merge] = {
    var vocab: Map[List[String], Long] = types
      .groupMapReduce { case (w, _) => codePoints(w).toList } { case (_, c) => c }(_ + _)
    val out = Seq.newBuilder[Merge]
    var it = 0
    var exhausted = false
    while (it < nMerges && !exhausted) {
      val stats = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, c) <- vocab; Seq(l, r) <- syms.sliding(2) if syms.sizeIs > 1)
        stats.updateWith((l, r))(v => Some(v.getOrElse(0L) + c))
      if (stats.isEmpty) exhausted = true
      else {
        val ((l, r), c) = stats.min(pairOrd)
        out += Merge(l, r, c)
        vocab = vocab.groupMapReduce { case (syms, _) =>
          mergeOnce(syms, l, r)
        } { case (_, cc) => cc }(_ + _)
        it += 1
      }
    }
    out.result()
  }

  /** INCREMENTAL pair statistics — Sennrich's `learn_bpe` indexing
    * (the public reference implementation of 2016's subword-nmt):
    * maintain the pair→count table and a pair→containing-words index
    * across merges, so each iteration touches only the words that
    * actually contain the merged pair instead of re-scanning every
    * symbol of every type. The naive loop ([[trainOnTypes]]) costs
    * O(merges × total-symbols) — measured ~265 s at a realistic
    * (1,024 merges, 65,536 types); here a merge pays one argmax scan
    * over the live pair table plus a subtract-old/add-new pass over
    * the touched words only.
    *
    * Exactly equal to the naive loop by construction (spec-pinned on
    * the suite corpus and a synthetic Zipf vocabulary): the naive
    * stats are Σ over words of count × pair-multiset, which is
    * precisely the invariant this table maintains (subtract the whole
    * old multiset, add the whole new one — no delta arithmetic to get
    * overlapping runs like `a a a` wrong), grouping identical words
    * never changes the sum, zero-count entries are evicted so the
    * argmax candidate set matches, and ties break by the same
    * (count desc, UTF-8 "lhs rhs" asc) order. */
  private[graft] def trainOnTypesIncremental(types: Seq[(String, Long)],
                                             nMerges: Int = NMerges): Seq[Merge] = {
    val words = types.map { case (w, _) => codePoints(w) }.toArray
    val cnts = types.map(_._2).toArray
    val stats = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val where = scala.collection.mutable
      .HashMap.empty[(String, String), scala.collection.mutable.Set[Int]]
    def addWord(i: Int, sign: Long): Unit = {
      val syms = words(i)
      var j = 0
      while (j < syms.length - 1) {
        val p = (syms(j), syms(j + 1))
        val c = stats.getOrElse(p, 0L) + sign * cnts(i)
        if (c == 0L) stats.remove(p) else stats.update(p, c)
        if (sign > 0)
          where.getOrElseUpdate(p, scala.collection.mutable.Set.empty) += i
        else
          where.get(p).foreach { s => s -= i; if (s.isEmpty) where.remove(p) }
        j += 1
      }
    }
    var i = 0
    while (i < words.length) { addWord(i, 1L); i += 1 }
    val out = Seq.newBuilder[Merge]
    var it = 0
    while (it < nMerges && stats.nonEmpty) {
      // argmax under the shared (count desc, "l r" u8 asc) order; the
      // byte compare runs only on count ties
      var bl: String = null; var br: String = null; var bc = Long.MinValue
      stats.foreach { case ((l, r), c) =>
        if (c > bc || (c == bc &&
            u8Compare(l + " " + r, bl + " " + br) < 0)) {
          bl = l; br = r; bc = c
        }
      }
      out += Merge(bl, br, bc)
      val touched = where.getOrElse((bl, br),
        scala.collection.mutable.Set.empty[Int]).toArray
      java.util.Arrays.sort(touched)
      var t = 0
      while (t < touched.length) {
        val w = touched(t)
        addWord(w, -1L)
        words(w) = mergeOnceArr(words(w), bl, br)
        addWord(w, 1L)
        t += 1
      }
      it += 1
    }
    out.result()
  }

  /** Array twin of [[mergeOnce]] (leftmost non-overlapping). */
  private def mergeOnceArr(syms: Array[String], l: String,
                           r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Leftmost non-overlapping single-merge application — the array
    * twin of one literal `replace` pass (spec-pinned equal). */
  private[graft] def mergeOnce(syms: List[String], l: String, r: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var rest = syms
    while (rest.nonEmpty) rest match {
      case a :: b :: tl if a == l && b == r => out += (l + r); rest = tl
      case a :: tl => out += a; rest = tl
      case Nil => ()
    }
    out.toList
  }

  /** Corpus word histogram — the one distributed pass of training. */
  private def wordCounts(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(explode(TextOps.words(col("text"))).as("wd"))
      .groupBy(col("wd")).agg(count(lit(1)).as("cnt"))

  /** Trained merges, memoized per (session, dir) — the MlPack keying
    * discipline; entries bound to a stopped context are evicted. */
  private val mergeRec =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Seq[Merge]]

  def merges(spark: SparkSession, dir: String): Seq[Merge] = {
    mergeRec.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
    mergeRec.getOrElseUpdate((spark, dir), {
      // bounded collect: top MaxTypes word types under the SAME
      // (count desc, word) binary order the oracle's LIMIT uses —
      // Spark string sort is UTF8String byte order, matching DuckDB
      val types = wordCounts(spark, dir)
        .orderBy(col("cnt").desc, col("wd")).limit(MaxTypes)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      // production default: the incremental trainer (spec-equal to
      // the naive loop, ~2 orders faster at realistic vocab sizes)
      trainOnTypesIncremental(types)
    })
  }

  /** `word` → padded two-space symbol string (see [[Sep]]):
    * "hi" → `"  h  i  "`. */
  def symbolize(word: Column): Column =
    concat(lit(Sep), regexp_replace(word, "(.)", "$1  "))

  /** Replay learned merges as a literal replace chain (codegen'd). */
  def applyMerges(sym: Column, ms: Seq[Merge]): Column =
    ms.foldLeft(sym) { (e, m) =>
      replace(e, lit(" " + m.lhs + Sep + m.rhs + " "), lit(" " + m.lhs + m.rhs + " "))
    }

  /** Symbol count of an applied word string. */
  def tokenCount(applied: Column): Column =
    size(split(trim(applied), Sep)).cast("long")

  /** Single-space rendering of an applied word string ("ab c"). */
  def render(applied: Column): Column =
    regexp_replace(trim(applied), Sep, " ")
}
