package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.sample.Sampling
import graft.vector.KnnJoin

class VectorSpec extends AnyFunSuite {
  import SparkTestSession._

  test("broadcast heap kNN agrees exactly with the declarative form") {
    val e = Tables(spark, sf).embeddings
    def hits(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val cross = hits(KnnJoin.exactCross(e, e, 3))
    assert(cross.size == 3 * e.count())
    assert(hits(KnnJoin.search(spark, e, e, 3, KnnJoin.Exact)) == cross)
  }

  test("exact search builds a lazy plan: no Spark job before an action") {
    val e = Tables(spark, sf).embeddings
    val sc = spark.sparkContext
    val group = s"knn-lazy-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, "kNN search build")
    try {
      val df = KnnJoin.search(spark, e, e, 3, KnnJoin.Exact)
      assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty,
        "building the search ran a job")
      // control: the group does see the jobs once an action runs
      assert(df.count() == 3 * e.count())
      assert(sc.statusTracker.getJobIdsForGroup(group).nonEmpty)
    } finally sc.clearJobGroup()
  }

  test("exactSelfTop3 is a session memo: a second call returns the same frame") {
    val top3 = KnnJoin.exactSelfTop3(spark, sf)
    assert(KnnJoin.exactSelfTop3(spark, sf) eq top3)
    assert(top3.columns.toSeq ==
      Seq("query_id", "rank", "neighbor_id", "sim", "n_label"))
  }

  test("hash split fractions are close to requested and deterministic") {
    val d = Tables(spark, sf).documents
    val s1 = Sampling.hashSplit(d, col("doc_id"), 0.8)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = s1.values.sum.toDouble
    assert(math.abs(s1("train") / total - 0.8) < 0.1)
    val s2 = Sampling.hashSplit(d.repartition(7), col("doc_id"), 0.8)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s1 == s2, "split must not depend on partitioning")
  }

  test("doc split keeps all rows of a source on one side") {
    val d = Tables(spark, sf).documents
    val n = Sampling.docSplit(d, col("source"), 0.8)
      .groupBy("source").agg(countDistinct("split").as("k"))
      .filter(col("k") > 1).count()
    assert(n == 0)
  }

  test("statistical sample size reproduces the reference's 136") {
    assert(Sampling.sampleSize(1.96, 0.9021, 0.05) == 136L)
  }

  test("m11 relational sample-size grid equals the scalar calculator") {
    val rows = graft.metrics.MetricsPack.sampleSizeGrid(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (z, e, p, n) =
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4))
      // p column is rounded for display; recompute from the corpus
      val docs = Tables(spark, sf).documents
      val pExact = docs.filter(col("lang") === "en").count().toDouble /
        docs.count().toDouble
      assert(math.abs(p - pExact) < 1e-6)
      assert(n == Sampling.sampleSize(z, pExact, e),
        s"grid (z=$z, e=$e) diverged from the scalar twin")
    }
  }

  test("row split is key-deterministic and lands near the fraction") {
    val s = graft.vector.VectorPack.rowSplit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val again = graft.vector.VectorPack.rowSplit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(s == again, "split must not depend on partitioning/run")
    val frac = s.values.count(_ == "train").toDouble / s.size
    assert(math.abs(frac - 0.8) < 0.15, s"train fraction $frac far from 0.8")
  }

  test("index recall report: exact anchors at 1.0, every member recalls") {
    val rows = graft.vector.VectorPack.indexRecall(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(rows.keySet == Set("exact", "ivf", "ivf_auto", "ivfpq",
      "ivfsq8", "pq", "sq8"))
    val (eh, et, er) = rows("exact")
    assert(eh == et && er == 1.0, "exact row must anchor at recall 1.0")
    rows.foreach { case (m, (h, t, r)) =>
      assert(t == et, s"$m total differs from exact's")
      assert(h > 0 && r > 0.0 && r <= 1.0, s"$m recall out of range: $r")
    }
  }

  test("cluster report partitions the corpus; shares/purity well-formed") {
    val out = graft.vector.VectorPack.clusterReport(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5)))
    val total = graft.core.Tables(spark, sf).embeddings.count()
    assert(out.map(_._2).sum == total, "cluster sizes must partition the corpus")
    assert(out.map(_._1).distinct.length == out.length, "one row per cluster")
    assert(math.abs(out.map(_._3).sum - 1.0) < 1e-4, "shares must sum to 1")
    val labels = graft.core.Tables(spark, sf).embeddings
      .select(col("label").cast("long")).distinct().collect()
      .map(_.getLong(0)).toSet
    out.foreach { case (cid, n, share, _, top, purity) =>
      assert(n > 0 && share > 0.0, s"cluster $cid empty")
      assert(labels.contains(top), s"cluster $cid modal label $top unknown")
      assert(purity > 0.0 && purity <= 1.0, s"cluster $cid purity $purity")
    }
  }

  test("prototype pruning: exact 25% per-cluster cut, pruned = the " +
      "top-score members, covers the corpus") {
    val out = graft.vector.VectorPack.prototypePruning(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getBoolean(4)))
    assert(out.length == graft.core.Tables(spark, sf).embeddings.count(),
      "one row per vector")
    assert(out.map(_._1).distinct.length == out.length)
    out.groupBy(_._2).foreach { case (cid, rows) =>
      val n = rows.length
      val pruned = rows.filter(_._5)
      assert(pruned.length == math.ceil(0.25 * n).toLong,
        s"cluster $cid: ${pruned.length} pruned of $n")
      // the pruned set is exactly the prototypicality-rank prefix;
      // ranks are dense 1..n and scores non-increasing along them
      // (ranks order by the 9-dp score, the output rounds to 6 — an
      // exact re-sort on the rounded column could flake on near-ties)
      val byRank = rows.sortBy(_._4)
      assert(byRank.map(_._4).toSeq == (1 to n).map(_.toLong),
        s"cluster $cid ranks not 1..$n")
      assert(byRank.map(_._3).sliding(2).forall(
        p => p.length < 2 || p(0) >= p(1)),
        s"cluster $cid scores not non-increasing along ranks")
      assert(pruned.map(_._4).max <= rows.filterNot(_._5).map(_._4).min,
        s"cluster $cid pruned ranks must prefix kept ranks")
    }
  }

  test("fixed sample is a deterministic 25-doc subset") {
    val a = graft.vector.VectorPack.fixedSample(spark, sf).collect()
      .map(_.getLong(0)).toSeq
    val b = graft.vector.VectorPack.fixedSample(spark, sf).collect()
      .map(_.getLong(0)).toSeq
    assert(a == b && a.length == 25 && a.distinct.length == 25)
  }

  test("balanced sample returns exactly n per label") {
    val e = Tables(spark, sf).embeddings
    val counts = Sampling.balancedSample(e, col("label"), 10, col("vec_id"))
      .groupBy("label").count().collect().map(_.getLong(1))
    assert(counts.forall(_ == 10))
  }
}

class MlSpec extends org.scalatest.funsuite.AnyFunSuite {
  import SparkTestSession._

  test("MLP head trains and beats random guessing on its train set") {
    val preds = graft.vector.MlPack.mlpClassify(spark, sf).collect()
    val acc = preds.count(r => r.getLong(1) == r.getLong(2)).toDouble / preds.length
    assert(preds.length == 500)
    assert(acc > 0.2, s"train accuracy $acc should beat 10-class chance")
  }

  test("sharded exact kNN equals the unsharded broadcast path exactly") {
    val e = Tables(spark, sf).embeddings
    def collectHits(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"),
          col("n_label"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getAs[Number](4).longValue)).toSet
    val unsharded = collectHits(KnnJoin.search(spark, e, e, 3, KnnJoin.Exact))
    for (nShards <- Seq(2, 4)) {
      val sharded = collectHits(
        KnnJoin.search(spark, e, e, 3, KnnJoin.Sharded(nShards)))
      assert(sharded == unsharded, s"nShards=$nShards")
    }
  }

  test("first_pg head learns the content-derived signal") {
    val preds = graft.vector.MlPack.firstPgClassify(spark, sf).collect()
    val acc = preds.count(r => r.getLong(1) == r.getLong(2)).toDouble / preds.length
    assert(preds.length == 500)
    assert(acc > 0.9, s"first_pg train accuracy $acc — signal is linear in the features")
  }

  test("joint two-head eval: Overall row consistent, exact-match composite") {
    val rows = graft.vector.MlPack.jointEval(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val overall = rows.find(_._1 == "Overall").get
    val perClass = rows.filterNot(_._1 == "Overall")
    assert(perClass.map(_._2).sum == overall._2)
    assert(perClass.map(_._3).sum == overall._3)
    assert(overall._3 == 500)
    // joint exact-match can never beat either single head
    val labelAcc = {
      val p = graft.vector.MlPack.mlpClassify(spark, sf).collect()
      p.count(r => r.getLong(1) == r.getLong(2)).toDouble / p.length
    }
    assert(overall._4 <= labelAcc + 1e-9)
  }

  test("both heads are deterministic across invocations") {
    def run() = graft.vector.MlPack.jointEval(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(run() == run())
  }

  test("index artifacts persist to parquet and reload to identical searches") {
    // the reference's faiss.write_index/read_index workflow: a trained
    // index round-trips through storage and serves identical results.
    // Artifacts are plain frames, so persistence IS parquet write/read.
    val e = graft.core.Tables(spark, sf).embeddings
    val dir = java.nio.file.Files.createTempDirectory("graft_idx").toString
    def sig(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq.sorted
    val ivf = KnnJoin.ivfIndex(spark, e, Some(16))
    ivf.centroids.write.mode("overwrite").parquet(s"$dir/ivf_centroids")
    ivf.assignments.write.mode("overwrite").parquet(s"$dir/ivf_assign")
    val loaded = KnnJoin.IvfIndex(spark.read.parquet(s"$dir/ivf_centroids"),
      spark.read.parquet(s"$dir/ivf_assign"))
    val fresh = sig(KnnJoin.approxIvf(spark, e, e, ivf, 3))
    val replayed = sig(KnnJoin.approxIvf(spark, e, e, loaded, 3))
    assert(fresh == replayed, "IVF search from the reloaded index diverged")
  }

  test("SQ8 quantized kNN: near-exact recall through 4x-compressed codes") {
    val e = graft.core.Tables(spark, sf).embeddings
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(KnnJoin.search(spark, e, e, 3, KnnJoin.Exact))
    def run() = pairs(KnnJoin.approxSq8(spark, e, e, KnnJoin.sq8Stats(e), 3))
    val sq8 = run()
    val recall = (exact & sq8).size.toDouble / exact.size
    assert(recall >= 0.95, s"SQ8 recall@3 $recall — 8-bit + rerank-20 " +
      "should be near-exact")
    // deterministic: a second build/search replays identically
    assert(sq8 == run())
  }

  test("IVF-SQ8 composition holds recall at the IVF level") {
    val e = graft.core.Tables(spark, sf).embeddings
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(KnnJoin.search(spark, e, e, 3, KnnJoin.Exact))
    val index = KnnJoin.ivfIndex(spark, e, None)
    val composed = pairs(
      KnnJoin.approxIvfSq8(spark, e, e, index, KnnJoin.sq8Stats(e), 3))
    val ivf = pairs(KnnJoin.approxIvf(spark, e, e, index, 3))
    val rc = (exact & composed).size.toDouble / exact.size
    val ri = (exact & ivf).size.toDouble / exact.size
    assert(rc >= 0.5, s"IVF-SQ8 recall@3 $rc below floor")
    // quantization costs at most a few points over the coarse pruning
    assert(rc >= ri - 0.05, s"IVF-SQ8 $rc should track IVF $ri")
  }

  test("relational scoring from exported weights replays MLlib transform") {
    // the l05/l06 oracle story rests on this: argmax(W2·σ(W1x+b1)+b2)
    // computed as rounded relational folds must equal model.transform
    // row for row (and the logistic margin sign must equal the LR
    // 0.5-threshold decision). Bitwise prediction equality is not
    // GUARANTEEABLE (a logit tie inside the 1e-9 rounding could flip
    // an argmax between engines), so the assertion is tolerance-aware:
    // a disagreement is legal ONLY where the logits show a genuine
    // boundary tie — any flip at a decisive margin is a scoring bug.
    def preds(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val mlpTol = 1e-8  // logits rounded to 9 decimals: ties live below this
    val lrTol = 1e-9
    val relM = preds(graft.vector.MlPack.mlpClassify(spark, sf))
    val twinM = preds(graft.vector.MlPack.mlpPlan(spark, sf))
    assert(relM.keySet == twinM.keySet)
    val wv = graft.vector.MlPack.mlpWeights(spark, sf)
      .collect()(0).getSeq[Double](0)
    val logits = graft.vector.MlPack
      .mlpLogits(graft.vector.MlPack.features(spark, sf), wv)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](2)).toMap
    val mlpFlips = relM.keys.filter(id => relM(id) != twinM(id)).toSeq
    mlpFlips.foreach { id =>
      val ll = logits(id).sorted.reverse
      assert(ll(0) - ll(1) <= mlpTol,
        s"vec $id: relational ${relM(id)} vs transform ${twinM(id)} with " +
          s"DECISIVE top-2 logit gap ${ll(0) - ll(1)} — scoring bug, not a tie")
    }
    // boundary ties must stay what they are: rare accidents, not drift
    assert(mlpFlips.size <= math.max(1, relM.size / 100),
      s"${mlpFlips.size}/${relM.size} MLP flips — too many to be ties")
    val relL = preds(graft.vector.MlPack.firstPgClassify(spark, sf))
    val twinL = preds(graft.vector.MlPack.firstPgPlan(spark, sf))
    assert(relL.keySet == twinL.keySet)
    val lw = graft.vector.MlPack.firstPgWeights(spark, sf)
      .collect()(0).getSeq[Double](0)
    val margins = graft.vector.MlPack
      .lrMargins(graft.vector.MlPack.features(spark, sf), lw)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val lrFlips = relL.keys.filter(id => relL(id) != twinL(id)).toSeq
    lrFlips.foreach { id =>
      assert(math.abs(margins(id)) <= lrTol,
        s"vec $id: first_pg flip at decisive margin ${margins(id)}")
    }
    assert(lrFlips.size <= math.max(1, relL.size / 100),
      s"${lrFlips.size}/${relL.size} LR flips — too many to be ties")
  }

  test("weight recordings are keyed per (session, dir): two dirs, two oracles") {
    // the l05/l06 oracle embeds FITTED weights as SQL literals; if two
    // data dirs are scored in one JVM, each dir's dumped oracle must
    // carry that dir's own weights (a single-slot recording would
    // silently embed whichever ran last). Verify reads oraclesFor(dir).
    val dirB = "/root/testdata/sf0.01"
    graft.vector.MlPack.mlpClassify(spark, sf).collect()
    graft.vector.MlPack.mlpClassify(spark, dirB).collect()
    def w1(dir: String): String = java.lang.Double.toString(
      graft.vector.MlPack.mlpWeights(spark, dir).collect()(0)
        .getSeq[Double](0).head)
    val oa = graft.vector.MlPack.oraclesFor(sf)("l05_mlp_classify")
    val ob = graft.vector.MlPack.oraclesFor(dirB)("l05_mlp_classify")
    assert(w1(sf) != w1(dirB), "two dirs should fit different weights")
    assert(oa.contains(w1(sf)) && !oa.contains(w1(dirB)))
    assert(ob.contains(w1(dirB)) && !ob.contains(w1(sf)))
  }

  test("RETRAINING both heads reproduces identical predictions") {
    // bypasses the session memo: two full training runs per head
    // (seeded MLP; LogisticRegression has no seed param — LBFGS from
    // the fixed init is deterministic, and this pins it empirically)
    def sig(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(sig(graft.vector.MlPack.mlpPlan(spark, sf)) ==
      sig(graft.vector.MlPack.mlpPlan(spark, sf)))
    assert(sig(graft.vector.MlPack.firstPgPlan(spark, sf)) ==
      sig(graft.vector.MlPack.firstPgPlan(spark, sf)))
  }
}

class PqSpec extends org.scalatest.funsuite.AnyFunSuite {
  import SparkTestSession._
  import org.apache.spark.sql.functions._

  test("PQ approx kNN reaches usable recall and never exceeds k") {
    val e = graft.core.Tables(spark, sf).embeddings
    val exact = graft.vector.KnnJoin.exactCross(e, e, 3)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = graft.vector.KnnJoin.approxPq(spark, e, e,
        graft.vector.KnnJoin.pqIndex(e), 3)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pq.groupBy(_._1).values.forall(_.length <= 3))
    val recall = (exact intersect pq.toSet).size.toDouble / exact.size
    assert(recall > 0.3, s"PQ recall $recall too low")
    info(s"PQ recall vs exact: $recall")
  }

  test("PQ is deterministic across runs") {
    val e = graft.core.Tables(spark, sf).embeddings
    def run() = graft.vector.KnnJoin.approxPq(spark, e, e,
        graft.vector.KnnJoin.pqIndex(e), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run() == run())
  }

  test("query chunking is invisible in the result") {
    // 500 queries at chunk 64 = 8 successive LUT broadcasts + scans;
    // chunks partition the id space by hash, so the output must be
    // bitwise-identical to the single-chunk run
    val e = graft.core.Tables(spark, sf).embeddings
    val pq = graft.vector.KnnJoin.pqIndex(e)
    def run(chunk: Int) =
      graft.vector.KnnJoin.approxPq(spark, e, e, pq, 3, queryChunk = chunk)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
    assert(run(64) == run(8192))
  }

  test("PQ rejects an embedding dim that does not equal m*subDim") {
    // the index trains 4 subspaces of 16 dims; a 60-dim corpus must
    // fail at the build, not slice into short subvectors
    val e = graft.core.Tables(spark, sf).embeddings // dim 64
      .select(col("vec_id"), slice(col("embedding"), 1, 60).as("embedding"))
    intercept[IllegalArgumentException] {
      graft.vector.KnnJoin.approxPq(spark, e, e,
        graft.vector.KnnJoin.pqIndex(e), 3)
    }
  }
}

class IvfPqSpec extends org.scalatest.funsuite.AnyFunSuite {
  import SparkTestSession._
  import org.apache.spark.sql.functions._

  test("IVF-PQ recall matches IVF (PQ candidate cut costs nothing here)") {
    val e = graft.core.Tables(spark, sf).embeddings
    val exact = graft.vector.KnnJoin.exactCross(e, e, 3)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def hits(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val index = graft.vector.KnnJoin.ivfIndex(spark, e, None)
    val ivf = hits(graft.vector.KnnJoin.approxIvf(spark, e, e, index, 3))
    val ivfpq = hits(graft.vector.KnnJoin.approxIvfPq(spark, e, e, index,
      graft.vector.KnnJoin.pqIndex(e), 3))
    assert(ivfpq.groupBy(_._1).values.forall(_.length <= 3))
    val rIvf = (exact intersect ivf.toSet).size.toDouble / exact.size
    val rIvfPq = (exact intersect ivfpq.toSet).size.toDouble / exact.size
    info(s"recall IVF: $rIvf, IVF-PQ: $rIvfPq")
    // within probed lists the PQ top-30 cut virtually always retains
    // the true top-3, so composition must not lose recall vs IVF
    assert(rIvfPq >= rIvf - 0.02, s"IVF-PQ recall $rIvfPq << IVF $rIvf")
    assert(rIvfPq > 0.5, s"IVF-PQ recall $rIvfPq too low")
  }

  test("IVF-PQ is deterministic across runs") {
    val e = graft.core.Tables(spark, sf).embeddings
    def run() = graft.vector.KnnJoin.approxIvfPq(spark, e, e,
        graft.vector.KnnJoin.ivfIndex(spark, e, None),
        graft.vector.KnnJoin.pqIndex(e), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run() == run())
  }
}

class IvfSpec extends org.scalatest.funsuite.AnyFunSuite {
  import SparkTestSession._
  import org.apache.spark.sql.functions._

  test("IVF approx kNN reaches usable recall and never exceeds k") {
    val e = graft.core.Tables(spark, sf).embeddings
    val exact = graft.vector.KnnJoin.exactCross(e, e, 3)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = graft.vector.KnnJoin.approxIvf(spark, e, e,
        graft.vector.KnnJoin.ivfIndex(spark, e, None), 3)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ivf.groupBy(_._1).values.forall(_.length <= 3))
    val recall = (exact intersect ivf.toSet).size.toDouble / exact.size
    // pre-k-means (hash-sampled centroids) this floor was 0.3; the
    // two Lloyd iterations lift measured recall to ~0.61 at sf0.001
    assert(recall > 0.5, s"IVF recall $recall too low")
    info(s"IVF recall vs exact: $recall")
  }

  test("IVF is deterministic across runs") {
    val e = graft.core.Tables(spark, sf).embeddings
    def run() = graft.vector.KnnJoin.approxIvf(spark, e, e,
        graft.vector.KnnJoin.ivfIndex(spark, e, None), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run() == run())
  }

  test("unspecified nCentroids auto-sizes to ceil(sqrt(n)) — measured rule") {
    import graft.vector.KnnJoin
    val e = graft.core.Tables(spark, sf).embeddings
    // two corpus sizes: the full test table and a 100-row slice
    val full = e.count().toInt                        // 500 at sf0.001
    val slice = e.orderBy(col("vec_id")).limit(100)
    assert(KnnJoin.resolveNlist(None, e) ==
      math.ceil(math.sqrt(full.toDouble)).toInt)
    assert(KnnJoin.resolveNlist(None, slice) == 10)
    // explicit values are honored verbatim (the pinned-oracle path)
    assert(KnnJoin.resolveNlist(Some(16), e) == 16)
    // and the auto-sized index IS the explicit ceil(sqrt(n)) index
    def sig(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def search(nlist: Option[Int]) =
      sig(KnnJoin.approxIvf(spark, e, e, KnnJoin.ivfIndex(spark, e, nlist), 3))
    val auto = search(None)
    val pinned = search(Some(math.ceil(math.sqrt(full.toDouble)).toInt))
    assert(auto == pinned, "nlist None must equal explicit ceil(sqrt(n))")
  }

  test("the session IVF builder memoizes per (key, nlist) and serves the " +
      "same search as a freshly trained index") {
    import graft.vector.KnnJoin
    val e = graft.core.Tables(spark, sf).embeddings
    val key = "ivf-memo-spec"
    val pinned = KnnJoin.ivfIndexArtifact(spark, key, e, Some(16))
    val again = KnnJoin.ivfIndexArtifact(spark, key, e, Some(16))
    assert(again.centroids eq pinned.centroids)
    assert(again.assignments eq pinned.assignments)
    // nlist is part of the memo identity: the auto index is its own
    val auto = KnnJoin.ivfIndexArtifact(spark, key, e, None)
    assert(!(auto.centroids eq pinned.centroids))
    assert(!(auto.assignments eq pinned.assignments))
    assert(auto.centroids.collect().toSet != pinned.centroids.collect().toSet)
    def hits(ivf: KnnJoin.IvfIndex) = KnnJoin.approxIvf(spark, e, e, ivf, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(hits(pinned) == hits(KnnJoin.ivfIndex(spark, e, Some(16))),
      "a search over the memoized index must equal a fresh index's")
  }

  test("incremental IVF maintenance: appends assign to frozen centroids " +
      "and searches equal a from-scratch assignment pass") {
    import graft.vector.KnnJoin
    val e = graft.core.Tables(spark, sf).embeddings
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("embedding"))
    val base = e.filter(pmod(col("vec_id"), lit(5L)) =!= 0)
    val appended = e.filter(pmod(col("vec_id"), lit(5L)) === 0)
    val cents = KnnJoin.ivfIndex(spark, base, Some(16)).centroids
    // the maintained assignment relation: stored base rows + the
    // incremental append — NO Lloyd retrain, no old row touched
    val maintained = KnnJoin.incrementalAssign(spark, base, cents)
      .unionByName(KnnJoin.incrementalAssign(spark, appended, cents))
    // a from-scratch assignment pass over the union, same centroids
    val rebuilt = KnnJoin.incrementalAssign(spark, e, cents)
    def asg(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(asg(maintained) == asg(rebuilt),
      "maintained assignment must equal the rebuilt pass")
    // and the SEARCH over the maintained index is bitwise the rebuilt
    // index's search — the user-facing form of the equality
    def hits(a: org.apache.spark.sql.DataFrame) =
      KnnJoin.approxIvf(spark, e, e, KnnJoin.IvfIndex(cents, a), 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
    assert(hits(maintained) == hits(rebuilt),
      "search over the maintained index must equal the rebuilt index")
  }

  test("centroid drift audit: planted drift fires the one-sided " +
      "trigger; same-distribution appends stay quiet") {
    import graft.vector.KnnJoin
    val e = graft.core.Tables(spark, sf).embeddings
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
    val base = e.filter(pmod(col("vec_id"), lit(5L)) =!= 0)
    val cents = KnnJoin.ivfIndex(spark, base, Some(16)).centroids
    def res(df: org.apache.spark.sql.DataFrame) =
      KnnJoin.assignmentResiduals(spark, df, cents)
        .select(col("residual"))
    val build = res(base)
    // undrifted: the held-out same-distribution slice — quiet
    val quiet = KnnJoin.centroidDriftAudit(build,
      res(e.filter(pmod(col("vec_id"), lit(5L)) === 0))).collect()(0)
    assert(quiet.getString(0) == "residual_p95" &&
      quiet.getLong(6) == 0L, s"undrifted append fired: $quiet")
    // planted drift: every appended vector shifted by a constant
    // offset — residuals to the frozen centroids grow past the
    // published p95 by more than both sketches' error bounds
    val drifted = e.filter(pmod(col("vec_id"), lit(5L)) === 0)
      .select(col("vec_id"),
        transform(col("embedding"), x => x + lit(3.0)).as("embedding"))
    val fired = KnnJoin.centroidDriftAudit(build, res(drifted)).collect()(0)
    assert(fired.getLong(6) == 1L, s"planted drift did not fire: $fired")
    assert(fired.getDouble(2) > fired.getDouble(4),
      "drifted live p95 must exceed the published p95")
  }
}
