package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{Dedup, DedupPack}
import graft.text.TextAnalysis

class DedupSpec extends AnyFunSuite {
  import SparkTestSession._

  /** (id, simhash) of a (doc_id, text) corpus through the inline word
    * pass — the text-entry reference the artifact path must equal. */
  private def simhashes(docs: org.apache.spark.sql.DataFrame, hv: String,
                        bits: Int, id: String = "doc_id"): org.apache.spark.sql.DataFrame =
    Dedup.simhashOf(Dedup.wordHashes(docs, col(id), col("text"))
      .select(col("id"), col(hv).as("hv")), bits)

  /** The banded Hamming self-join of an (id, simhash) relation. */
  private def selfPairs(s: org.apache.spark.sql.DataFrame, maxDist: Int,
                        bits: Int): org.apache.spark.sql.DataFrame =
    Dedup.hammingBandJoin(s, s, "a_id" -> "b_id", maxDist, bits, col("a_id") < col("b_id"))

  /** Its all-pairs twin. */
  private def selfAllPairs(s: org.apache.spark.sql.DataFrame,
                           maxDist: Int): org.apache.spark.sql.DataFrame =
    Dedup.hammingPairsAllPairsOf(s, s, "a_id" -> "b_id", maxDist, col("a_id") < col("b_id"))

  test("exact dedup finds exactly the planted copies") {
    val groups = DedupPack.exactDedup(spark, sf).collect()
    assert(groups.length == 50)
    assert(groups.forall(_.getLong(2) == 2))
    assert(groups.forall(_.getLong(1) < 50)) // keeper is the original
  }

  test("jaccard pairs recover planted near-dups with high similarity") {
    val pairs = DedupPack.jaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(5)))
    val planted = pairs.filter { case (a, b, _) => b == a + 100000 }
    assert(planted.length >= 90) // near-copies of docs 0..99
    assert(planted.forall(_._3 > 0.8))
  }

  test("minhash candidates contain the planted near-dups") {
    val cands = DedupPack.minhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0L until 100L).map(i => (i, i + 100000))
      .count(cands.contains)
    assert(planted >= 90)
  }

  test("incremental minhash: dup, near-dup, and genuinely-new batch docs") {
    import spark.implicits._
    val hist = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "totally different historical content about spark engines here")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (11L, "alpha beta gamma delta epsilon zeta eta theta"),        // exact
      (12L, "one two three four five six seven eight nine eleven"),  // near
      (13L, "fresh unrelated words nothing shared with any history") // new
    ).toDF("doc_id", "text")
    val out = DedupPack.incrementalMinhashOf(hist, batch).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getString(4)))
    val byId = out.map(t => t._1 -> t).toMap
    assert(out.length == 3)
    assert(byId(11L)._5 == "near_dup_of_history" && byId(11L)._3 == 1L
      && byId(11L)._4 == 1.0, "exact copy must match history doc 1 at 1.0")
    assert(byId(12L)._5 == "near_dup_of_history" && byId(12L)._3 == 2L
      && byId(12L)._4 > 0.5, "near copy must match history doc 2")
    assert(byId(13L)._5 == "new" && byId(13L)._2 == 0L
      && byId(13L)._3 == -1L && byId(13L)._4 == 0.0,
      "unrelated doc must report new with no candidates")
  }

  test("incremental minhash flags every planted batch copy on the corpus") {
    val out = DedupPack.incrementalMinhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(4)))
    assert(out.length == 150)
    val exact = out.filter(_._1 >= 200000)
    assert(exact.length == 50 && exact.forall { case (id, best, s) =>
      s == "near_dup_of_history" && best == id - 200000 })
    val near = out.filter(t => t._1 >= 100000 && t._1 < 200000)
    assert(near.count(_._3 == "near_dup_of_history") >= 90,
      "LSH band screen must recall nearly all planted near-copies")
  }

  test("simhash of a document equals simhash of its exact copy") {
    val s = DedupPack.simhashValues(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 50L).foreach { i =>
      assert(s(i) == s(i + 200000), s"doc $i vs exact copy")
    }
  }

  test("banded simhash pairs equal the all-pairs scan exactly") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables(spark, sf).documents
      .select(col("doc_id"), col("text"))
    def collectPairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sims = simhashes(docs, "hv16", 16).cache()
    // the history probe: arrivals (the upper id range) against history
    val (arriving, hist) = (sims.filter(col("id") >= 250), sims.filter(col("id") < 250))
    for (maxDist <- Seq(1, 2, 3)) {
      val banded = collectPairs(selfPairs(sims, maxDist, 16))
      val allPairs = collectPairs(selfAllPairs(sims, maxDist))
      assert(banded == allPairs, s"maxDist=$maxDist")
      val probe = collectPairs(Dedup.hammingBandJoin(arriving, hist,
        "id" -> "hist_id", maxDist, 16, lit(true)))
      val allProbe = collectPairs(Dedup.hammingPairsAllPairsOf(arriving, hist,
        "id" -> "hist_id", maxDist, lit(true)))
      assert(probe == allProbe, s"probe maxDist=$maxDist")
      assert(probe.nonEmpty, s"probe maxDist=$maxDist found no pair")
    }
    sims.unpersist()
  }

  test("banded SRP cosine pairs equal the all-pairs scan exactly") {
    val vecs = DedupPack.augmentedVectors(spark, sf)
    def collectPairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val banded = collectPairs(
      graft.vector.KnnJoin.cosinePairsAboveBanded(spark, vecs, 0.98))
    val allPairs = collectPairs(
      graft.vector.KnnJoin.cosinePairsAbove(spark, vecs, 0.98))
    assert(banded == allPairs)
    assert(banded.nonEmpty) // the planted near-copies
  }

  test("SRP candidate stage is sparse: no hidden all-pairs fan-out") {
    val vecs = DedupPack.augmentedVectors(spark, sf)
    val n = vecs.count()
    val cands = graft.vector.KnnJoin.srpCandidates(spark, vecs)
      .count()
    // isotropic background collides at ~bands/2^bits per pair; allow
    // a generous 5% of n(n-1)/2 before calling it quadratic
    assert(cands < n * (n - 1) / 2 / 20,
      s"$cands candidates from $n vectors looks quadratic")
  }

  test("d06 physical plan has no quadratic join operator") {
    val plan = DedupPack.embeddingNearDups(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.linesIterator.take(5).mkString("\n"))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.linesIterator.take(5).mkString("\n"))
  }

  test("second-wave operators plan without quadratic join operators") {
    // the scale contract of the continuation-session surface: every
    // new operator's physical plan must stay free of cartesian /
    // nested-loop joins — the oracle can't catch a plan regression
    // that is merely slow
    // scalarAttach: queries that cross-join a ONE-ROW stats/threshold
    // aggregate — Spark plans that as a BroadcastNestedLoopJoin with a
    // single-row build side, which is the sanctioned scalar-attach
    // shape (a08/a06 use it too), so only the cartesian check applies
    val plans = Seq(
      ("d13", DedupPack.bloomDecontamination(spark, sf), false),
      ("d14", DedupPack.groupSplit(spark, sf), false),
      ("d15", DedupPack.substringDedupQuery(spark, sf), false),
      ("l07", graft.llm.LlmPack.bm25Retrieval(spark, sf), true),
      ("l08", graft.llm.LlmPack.hybridRrf(spark, sf), true),
      ("a10", graft.text.AnalysisPack.dsirResample(spark, sf), true),
      ("s07", graft.streaming.StreamPack.ingestGate(spark, sf), false),
      ("p03", graft.pipeline.Lifecycles.corpusReport(spark, sf), false))
    plans.foreach { case (name, df, scalarAttach) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name has a cartesian product")
      if (!scalarAttach)
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name has a nested-loop join")
    }
  }

  test("d06 finds exactly the planted embedding near-copies") {
    val pairs = DedupPack.embeddingNearDups(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b, c) => b == a + 100000 && c > 0.99 })
  }

  test("dedup groups resolve transitive chains to one keeper") {
    import spark.implicits._
    // a 4-chain and an isolated pair: closure must cross the chain
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("a_id", "b_id")
    val labels = Dedup.dedupGroups(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("pointer jumping resolves a 64-chain in logarithmic rounds") {
    import spark.implicits._
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    // the distributed loop directly — the scale path above the
    // small-graph collect threshold
    val rddsBefore = spark.sparkContext.getPersistentRDDs.size
    val (got, rounds) = graft.core.Caches.scoped("pointer jumping") {
      val (labels, rounds) = Dedup.dedupGroupsDistributed(pairs)
      (labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
    }
    assert(got.size == 64 && got.values.forall(_ == 0L))
    // every round's checkpoint is released once the scope closes
    assert(spark.sparkContext.getPersistentRDDs.size == rddsBefore,
      s"${spark.sparkContext.getPersistentRDDs.size - rddsBefore} RDDs outlived the scope")
    // plain min-propagation would need ~63 rounds; jumping collapses
    // the chain in O(log n) (+1 round to detect the fixpoint)
    assert(rounds <= 12, s"took $rounds rounds")
  }

  test("small-graph union-find matches the distributed loop exactly") {
    import spark.implicits._
    // chains, a star, an isolated pair, and ids that union in
    // "wrong" order (larger root first) — the shapes that catch a
    // path-compression or min-root bug
    val edges = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L),
      (100L, 7L), (100L, 8L), (100L, 9L), (50L, 60L), (60L, 40L))
    val pairs = edges.toDF("a_id", "b_id")
    val fast = Dedup.dedupGroupsWithRounds(pairs)._1.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.dedupGroupsDistributed(pairs)._1.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == dist)
    assert(fast(5L) == 1L && fast(100L) == 7L && fast(50L) == 40L)
  }

  test("d08 groups the planted copies under the original keeper") {
    val labels = DedupPack.dedupGroupsQuery(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs with BOTH planted copies form {i, i+100000, i+200000}
    (0L until 50L).filter(i => labels.contains(i + 200000)).foreach { i =>
      assert(labels(i + 200000) == labels.getOrElse(i + 100000, i),
        s"component of doc $i split")
    }
    assert(labels.values.forall(k => labels.getOrElse(k, k) == k),
      "a keeper must be its own keeper")
  }

  test("exact-collapse groups equal the direct full-pair path, incl. " +
      "on a replicated corpus") {
    import org.apache.spark.sql.functions.{col, lit}
    def direct(c: org.apache.spark.sql.DataFrame) =
      Dedup.dedupGroups(Dedup.jaccardPairsFromHashed(
        Dedup.hashedShingleRows(c, col("doc_id"), col("text"))))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def collapsed(c: org.apache.spark.sql.DataFrame) =
      DedupPack.groupsViaExactCollapse(c, DedupPack.shingleRowsOf(c))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val aug = DedupPack.augmented(spark, sf, spread = false)
    assert(collapsed(aug) == direct(aug))
    // replicate 3x with distinct ids — exact-dup cliques grow 3x, true
    // pairs ~9x; the collapse must still reproduce groups EXACTLY
    val rep3 = (0 until 3).map { k =>
      aug.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"), col("text"))
    }.reduce(_ unionByName _)
    assert(collapsed(rep3) == direct(rep3))
    // identical texts without 3-word shingles pair with nothing, so
    // they form no group on either path
    import spark.implicits._
    val edge = Seq(1L -> "alpha beta", 2L -> "alpha beta",
      3L -> "the quick brown fox jumps over the lazy dog",
      4L -> "the quick brown fox jumps over the lazy cat",
      5L -> "", 6L -> "").toDF("doc_id", "text")
    assert(direct(edge) == Map(3L -> 3L, 4L -> 3L))
    assert(collapsed(edge) == direct(edge))
  }

  test("d20 band counts equal direct full-pair banding, incl. on a " +
      "replicated corpus") {
    import org.apache.spark.sql.functions.{coalesce, col, count, floor, lit}
    // the independent twin: enumerate EVERY true pair and band it
    def direct(c: org.apache.spark.sql.DataFrame): Map[Double, Long] = {
      val banded = Dedup.jaccardPairsFromHashed(
          Dedup.hashedShingleRows(c, col("doc_id"), col("text")))
        .groupBy(floor(col("jaccard") * 10).cast("long").as("b10"))
        .agg(count(lit(1)).as("n"))
      spark.range(5, 11).select(col("id").as("b10"))
        .join(banded, Seq("b10"), "left")
        .select((col("b10").cast("double") / lit(10.0)).as("band"),
          coalesce(col("n"), lit(0L)).as("n"))
        .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    }
    def collapsed(c: org.apache.spark.sql.DataFrame): Map[Double, Long] =
      DedupPack.pairBandCountsOf(spark, c, DedupPack.shingleRowsOf(c))
        .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val aug = DedupPack.augmented(spark, sf, spread = false)
    val base = collapsed(aug)
    assert(base == direct(aug))
    assert(base.values.sum > 0, "planted dups must produce banded pairs")
    // replicate 3x with distinct ids: true pairs grow ~9x but the
    // collapse front still mines only the distinct corpus — counts
    // must track the full enumeration exactly
    val rep3 = (0 until 3).map { k =>
      aug.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"), col("text"))
    }.reduce(_ unionByName _)
    val r3 = collapsed(rep3)
    assert(r3 == direct(rep3))
    assert(r3.values.sum > base.values.sum * 8,
      "replication must grow true-pair mass ~9x")
  }

  test("d21 fidelity report equals direct candidate enumeration, incl. " +
      "on a replicated corpus") {
    import org.apache.spark.sql.functions.col
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSeq
    val aug = DedupPack.augmented(spark, sf, spread = false)
    val base = rows(DedupPack.minhashFidelityOf(spark, aug,
      DedupPack.minhashRowsOf(aug), DedupPack.shingleRowsOf(aug)))
    assert(base.map(_._2).sum > 0, "planted dups must produce candidates")
    // the m=12 row holds the 50 exact-dup cliques (J=1) plus the
    // near-copies coarse 12-seed signatures cannot separate — its
    // mean must sit well above the estimator's own 12/12 would-be
    // claim minus the known near-copy mass
    val m12 = base.find(_._1 == 12L).get
    assert(m12._2 >= 50 && m12._3.exists(_ > 0.8), s"m12 = $m12")
    // replicate 3x: candidate pairs grow ~9x through the dup cliques,
    // but the collapse front mines only the distinct corpus — the
    // report must still match the direct path exactly
    val rep3 = (0 until 3).map { k =>
      aug.select((col("doc_id") + org.apache.spark.sql.functions
        .lit(k * 10000000L)).as("doc_id"), col("text"))
    }.reduce(_ unionByName _)
    val r3 = rows(DedupPack.minhashFidelityOf(spark, rep3,
      DedupPack.minhashRowsOf(rep3), DedupPack.shingleRowsOf(rep3)))
    // direct path: run the SAME collapse-free computation by making
    // every doc its own class (distinct ids, distinct texts is not
    // true here, so instead compare against the 1x report scaled
    // through the closed form: cross rows grow 9x, intra rows grow
    // by the clique formula). The sharpest cheap check: totals.
    val basePairs = base.map(_._2).sum
    val r3Pairs = r3.map(_._2).sum
    assert(r3Pairs > basePairs * 8, s"$basePairs -> $r3Pairs")
    // and the oracle-verified 1x report is the ground truth for the
    // collapse path (hash-checked in CI); here pin the replicated
    // run's weighted Jaccard means stay identical for every m bucket
    // that exists on both sides EXCEPT m=12 (intra mass shifts its
    // mean toward 1.0 by construction)
    base.filter(b => b._1 != 12L && b._2 > 0).foreach { b =>
      val r = r3.find(_._1 == b._1).get
      assert(r._3 == b._3,
        s"m=${b._1}: mean jaccard moved ${b._3} -> ${r._3}")
    }
  }

  test("pairJaccard over the MinHash candidates equals jaccardPairsFromHashed " +
      "on every pair both return, on the corpus and on an edge frame") {
    import spark.implicits._
    /** (a_id, b_id) → (verify Jaccard at 6 dp, all-pairs Jaccard) for
      * the pairs both paths return. */
    def agree(docs: org.apache.spark.sql.DataFrame): Map[(Long, Long), (Double, Double)] =
      graft.core.Caches.scoped("pair jaccard spec") {
        val sh = DedupPack.shingleRowsOf(docs)
        val sigs = DedupPack.bandSigsOf(docs, "id")
        val cand = Dedup.minhashBandJoin(sigs, sigs, "a_id" -> "b_id", col("a_id") < col("b_id"))
        Dedup.pairJaccard(cand, sh, sh)
          .join(Dedup.jaccardPairsFromHashed(sh), Seq("a_id", "b_id"))
          .select(col("a_id"), col("b_id"), round(col("jac"), 6), col("jaccard"))
          .collect().map(r => (r.getLong(0), r.getLong(1)) ->
            (r.getDouble(2), r.getDouble(3))).toMap
      }
    val corpus = agree(DedupPack.augmented(spark, sf, spread = false))
    assert(corpus.size >= 90, s"only ${corpus.size} shared pairs")
    corpus.foreach { case (p, (v, a)) => assert(v == a, s"$p: $v vs $a") }
    val words = (1 to 20).map(i => s"w$i")
    val edge = Seq[(Long, String)](
      (1L, null), (2L, ""), (3L, "one"), (4L, "one two"),
      (5L, "alpha beta gamma delta epsilon zeta eta theta"),
      (6L, "alpha beta gamma delta epsilon zeta eta theta"),
      (7L, words.mkString(" ")),
      (8L, (words.init :+ "other").mkString(" "))).toDF("doc_id", "text")
    val e = agree(edge)
    assert(e.keySet == Set((5L, 6L), (7L, 8L)), s"edge pairs ${e.keySet}")
    e.foreach { case (p, (v, a)) => assert(v == a, s"$p: $v vs $a") }
    assert(e((5L, 6L))._1 == 1.0 && e((7L, 8L))._1 == 0.894737)
    // a candidate pair that shares no shingle reads 0
    val sh = DedupPack.shingleRowsOf(edge)
    val disjoint = Dedup.pairJaccard(Seq((5L, 7L)).toDF("a_id", "b_id"), sh, sh)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(disjoint.toSeq == Seq((5L, 7L, 0.0)))
  }

  test("dedup gate never drops a null-text document (null digests as empty)") {
    import spark.implicits._
    // md5(null) is null and a null join key silently vanishes from an
    // inner join — the gate must digest null as "" so EVERY batch doc
    // gets a decision
    val hist = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val batch = Seq((10L, null.asInstanceOf[String]), (11L, ""),
      (12L, "alpha beta gamma")).toDF("doc_id", "text")
    val out = DedupPack.dedupGateOf(hist, batch).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == Set(10L, 11L, 12L), s"docs dropped: $out")
    assert(out(12L) == "dup_of_history")
    // null ≡ "" for dedup identity: the min-id arrival of the empty
    // class admits, its twin is an in-batch duplicate
    assert(out(10L) == "new" && out(11L) == "dup_in_batch", s"$out")
  }

  test("d16 never drops a null-text batch document (null digests as empty)") {
    import spark.implicits._
    // ids >= 100000 are d16's batch: two null texts and an empty one
    // form one class there, next to a near copy (100001) and an exact
    // copy (200001) of the one history document
    val dir = java.nio.file.Files.createTempDirectory("graft_d16_null").toString
    Seq((1L, "alpha beta gamma"), (150000L, null.asInstanceOf[String]),
        (150001L, ""), (150002L, null.asInstanceOf[String]))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val out = DedupPack.incrementalDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(out.keySet == Set(100001L, 150000L, 150001L, 150002L, 200001L),
      s"docs dropped: $out")
    assert(out.view.mapValues(_._2).toMap == Map(100001L -> "new",
      150000L -> "new", 150001L -> "dup_in_batch", 150002L -> "dup_in_batch",
      200001L -> "dup_of_history"), s"$out")
    val emptyMd5 = "d41d8cd98f00b204e9800998ecf8427e"
    assert(Seq(150000L, 150001L, 150002L).forall(out(_)._1 == emptyMd5))
  }

  test("exactGroups elects the min id per digest, struct ids too; " +
      "digestScreen puts history before the batch keeper") {
    import spark.implicits._
    val rows = Seq((5L, 0L, "a"), (3L, 4L, "a"), (3L, 1L, "a"), (3L, 0L, "b"),
      (9L, 2L, "c")).toDF("doc_id", "pos", "h")
    val flat = Dedup.exactGroups(rows, col("doc_id"), col("h")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(flat == Map("a" -> (3L, 3L), "b" -> (3L, 1L), "c" -> (9L, 1L)))
    // struct ids compare field by field: (3, 1) < (3, 4) < (5, 0)
    val byStruct = Dedup.exactGroups(rows, struct(col("doc_id"), col("pos")),
        col("h"))
      .select(col("h"), col("keeper_id.doc_id"), col("keeper_id.pos"),
        col("n_copies"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(byStruct == Map("a" -> (3L, 1L, 3L), "b" -> (3L, 0L, 1L),
      "c" -> (9L, 2L, 1L)))

    val batch = Seq((12L, "x", "s1"), (10L, "x", "s2"), (11L, "y", "s3"),
      (14L, "y", "s4"), (13L, "z", "s5")).toDF("doc_id", "h", "src")
    def screen(hist: org.apache.spark.sql.DataFrame) = {
      val out = Dedup.digestScreen(batch, col("doc_id"), hist)
      assert(out.columns.toSeq == Seq("doc_id", "h", "src", "ex_status"))
      val rs = out.collect()
      assert(rs.length == 5, "one row per batch row")
      rs.map(r => r.getLong(0) -> r.getString(3)).toMap
    }
    // 10 is x's batch keeper, but x is in history (listed twice): both
    // x rows are history duplicates
    assert(screen(Seq("x", "x", "w").toDF("h")) == Map(
      10L -> "dup_of_history", 12L -> "dup_of_history",
      11L -> "exact_new", 14L -> "dup_in_batch", 13L -> "exact_new"))
    assert(screen(Seq.empty[String].toDF("h")) == Map(
      10L -> "exact_new", 12L -> "dup_in_batch",
      11L -> "exact_new", 14L -> "dup_in_batch", 13L -> "exact_new"))
  }

  test("d09 decontamination flags only train docs, with sane fractions") {
    val rows = DedupPack.decontamination(spark, sf).collect()
    assert(rows.nonEmpty, "word-soup vocabulary overlap should exist")
    val trainIds = graft.sample.Sampling
      .hashSplit(graft.core.Tables(spark, sf).documents, col("doc_id"), 0.8)
      .filter(col("split") === "train")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    rows.foreach { r =>
      assert(trainIds.contains(r.getLong(0)), s"doc ${r.getLong(0)} not train")
      val (shared, total, frac) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(shared >= 1 && shared <= total)
      assert(frac > 0.0 && frac <= 1.0)
    }
  }

  test("wide simhash: banded pairs equal the all-pairs twin exactly") {
    val aug = graft.dedup.DedupPack.augmented(spark, sf)
    def collectPairs(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sims = simhashes(aug, "hv60", 60).cache()
    val banded = collectPairs(selfPairs(sims, 3, 60))
    val allPairs = collectPairs(selfAllPairs(sims, 3))
    assert(banded == allPairs)
    assert(banded.nonEmpty)
    sims.unpersist()
  }

  test("shingle, minhash and band-signature artifacts filtered to id >= 300 " +
      "equal the shared derivations over the filtered corpus") {
    // the identity the s09/d19 twins and the stream gate rely on: the
    // twins id-filter the session artifacts, the stream derives the
    // same rows over each arriving batch
    val aug = DedupPack.augmented(spark, sf)
    val batch = aug.filter(col("doc_id") >= 300)
    def same(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame): Unit = {
      assert(a.count() > 0)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    }
    same(DedupPack.augShingleRows(spark, sf).filter(col("id") >= 300),
      DedupPack.shingleRowsOf(batch))
    same(DedupPack.augMinhashRows(spark, sf).filter(col("id") >= 300),
      DedupPack.minhashRowsOf(batch))
    same(DedupPack.augBandSigs(spark, sf).filter(col("id") >= 300),
      DedupPack.bandSigsOf(batch, "id"))
  }

  test("simhash word-hash artifact path is row-identical to the inline " +
      "text pass (d04 values, d05/d10/d22 pairs)") {
    val aug = DedupPack.augmented(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // d04: values off the artifact vs the inline derivation
    assert(rows(DedupPack.simhashValues(spark, sf)) ==
      rows(simhashes(aug, "hv16", 16)))
    // d05: 16-bit banded pairs
    assert(rows(DedupPack.simhashNearDups(spark, sf)) ==
      rows(selfPairs(simhashes(aug, "hv16", 16), 2, 16)))
    // d10: 60-bit banded pairs
    assert(rows(DedupPack.simhashWidePairs(spark, sf)) ==
      rows(selfPairs(simhashes(aug, "hv60", 60), 3, 60)))
    // d22: rep-collapsed pairs — artifact semi-join vs inline rep corpus
    val reps = aug.groupBy(Dedup.contentDigest(col("text")).as("d"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val repDocs = aug.join(reps, Seq("doc_id"), "left_semi")
    assert(rows(DedupPack.simhashWidePairsCollapsed(spark, sf)) ==
      rows(selfPairs(simhashes(repDocs, "hv60", 60), 3, 60)))
  }

  test("d22: collapsed simhash pairs equal d10 restricted to content " +
      "representatives; exact-copy pairs move to the digest tier") {
    val aug = graft.dedup.DedupPack.augmented(spark, sf)
    val reps = aug
      .groupBy(Dedup.contentDigest(col("text")).as("d"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    def collectPairs(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = collectPairs(
      graft.dedup.DedupPack.simhashWidePairs(spark, sf))
    val collapsed = collectPairs(
      graft.dedup.DedupPack.simhashWidePairsCollapsed(spark, sf))
    // collapsed ≡ full restricted to representative ids: the front
    // removes exactly the rows whose content identity the digest tier
    // already resolves, nothing else
    assert(collapsed ==
      full.filter(p => reps.contains(p._1) && reps.contains(p._2)))
    assert(collapsed.nonEmpty)
    // the planted exact copies (i, i+200000) pair at Hamming 0 in d10
    // and are ABSENT from d22 — their identity is d01's output
    val exactPairs = (0L until 50L).map(i => (i, i + 200000L)).toSet
    val fullIds = full.map(p => (p._1, p._2))
    val collapsedIds = collapsed.map(p => (p._1, p._2))
    assert(exactPairs.forall(fullIds.contains),
      "d10 must see every planted exact copy at Hamming 0")
    assert(exactPairs.forall(!collapsedIds.contains(_)),
      "d22 must leave exact copies to the digest tier")
  }

  test("wide simhash recovers most planted near-copies at Hamming <= 3") {
    val aug = graft.dedup.DedupPack.augmented(spark, sf)
    val pairs = selfPairs(simhashes(aug, "hv60", 60), 3, 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // planted: (i, i+100000) near-copies for i < 100 (measured at
    // sf0.01: 125/150 of all planted links within distance 3)
    val recovered = (0L until 100L).count(i => pairs.contains((i, i + 100000L)))
    assert(recovered >= 75, s"only $recovered/100 planted near-copies found")
  }

  test("shared-span audit: planted copies fully overlap, background does not") {
    val fr = graft.dedup.DedupPack.sharedSpanFrac(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // exact copies share every 10-gram span with their original
    (0L until 50L).foreach { i =>
      assert(fr(i + 200000L) == 1.0, s"copy of $i")
      assert(fr(i) == 1.0, s"original $i")
    }
    // the word-soup background has essentially no repeated 10-grams
    val background = fr.filter { case (id, _) =>
      id >= 100 && id < 100000
    }.values
    assert(background.count(_ == 0.0) > background.size * 9 / 10)
  }

  test("bloom decontamination flags a superset of the exact join, never misses") {
    val exact = DedupPack.decontamination(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = DedupPack.bloomDecontamination(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // no false negatives: every truly-contaminated doc is flagged,
    // with at least its exact shared-shingle count (FPs only add)
    exact.foreach { case (doc, nShared) =>
      assert(bloom.contains(doc), s"doc $doc missed by the bloom filter")
      assert(bloom(doc) >= nShared, s"doc $doc flagged fewer than exact")
    }
    // false positives are the bounded price: at k=3, m=2^20 and this
    // corpus' ~60k set bits the expected FP count is single-digit
    val fpDocs = bloom.keySet -- exact.keySet
    val fpShingles = bloom.map { case (d, n) => n - exact.getOrElse(d, 0L) }.sum
    assert(fpDocs.size <= 20, s"${fpDocs.size} FP docs — filter far off spec")
    assert(fpShingles <= 100, s"$fpShingles FP shingles — filter far off spec")
  }

  test("semdedup removes one member per planted pair, keeper farther from centroid") {
    val rows = DedupPack.semdedup(spark, sf).collect()
    val kept = rows.map(r => r.getLong(0) -> r.getLong(3)).toMap
    val csim = rows.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val cluster = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // planted pairs (i, i+100000) at cos ≈ 0.995: exactly one member
    // removed whenever both land in the same k-means cluster (the
    // cross-cluster straddle is the documented miss mode)
    val sameCluster = (0L until 100L).filter(i => cluster(i) == cluster(i + 100000))
    assert(sameCluster.size >= 90, s"only ${sameCluster.size}/100 pairs co-clustered")
    sameCluster.foreach { i =>
      assert(kept(i) + kept(i + 100000) == 1, s"pair $i not resolved to one keeper")
      // keeper rule: the kept member sits no closer to the centroid
      val (k, r) = if (kept(i) == 1) (i, i + 100000) else (i + 100000, i)
      assert(csim(k) <= csim(r) + 2e-6, s"pair $i kept the prototypical member")
    }
    // the isotropic background (max pair cos ~0.6) never pairs at 0.98,
    // so removals are confined to planted pair members
    rows.filter(_.getLong(3) == 0).map(_.getLong(0)).foreach { id =>
      assert(id < 100 || id >= 100000, s"background vector $id removed")
    }
  }

  test("semdedup auto-sqrt-n clustering preserves the planted-pair " +
      "resolution (the corpus-scale form)") {
    // the ceil(sqrt(n))-list index is the scale form that keeps the
    // within-cluster pair space at n^1.5 instead of the pinned-16
    // form's n^2/16; same keeper semantics, different partition, so
    // the properties (not the exact rows) are pinned
    val vecs = DedupPack.augmentedVectors(spark, sf)
    val rows = graft.vector.SemDedup.semDedup(spark, vecs, 0.98,
        graft.vector.KnnJoin.ivfIndex(spark, vecs, None))
      .collect()
    val kept = rows.map(r => r.getLong(0) -> r.getLong(3)).toMap
    val cluster = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nClusters = cluster.values.toSet.size
    assert(nClusters > 16, s"auto-k resolved to $nClusters clusters")
    // planted pairs at cos ≈ 0.995 still overwhelmingly co-cluster
    // under the finer partition, and each co-clustered pair resolves
    // to exactly one keeper
    val sameCluster = (0L until 100L)
      .filter(i => cluster(i) == cluster(i + 100000))
    assert(sameCluster.size >= 80,
      s"only ${sameCluster.size}/100 pairs co-clustered at k=$nClusters")
    sameCluster.foreach { i =>
      assert(kept(i) + kept(i + 100000) == 1, s"pair $i not resolved")
    }
    // background vectors are never removed
    rows.filter(_.getLong(3) == 0).map(_.getLong(0)).foreach { id =>
      assert(id < 100 || id >= 100000, s"background vector $id removed")
    }
  }

  test("semdedup kept set has no same-cluster pair above the threshold") {
    val rows = DedupPack.semdedup(spark, sf).collect()
    val kept = rows.filter(_.getLong(3) == 1).map(_.getLong(0)).toSet
    val cluster = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every ≥-threshold pair (diagnostic all-pairs scan is exact) that
    // shares a cluster must have lost a member — the pairwise rule
    // covers ALL within-cluster pairs, so this invariant is total
    val pairs = graft.vector.KnnJoin.cosinePairsAbove(spark,
        DedupPack.augmentedVectors(spark, sf), 0.98)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.filter { case (a, b) => cluster(a) == cluster(b) }.foreach {
      case (a, b) =>
        assert(!(kept.contains(a) && kept.contains(b)),
          s"same-cluster near-dup pair ($a,$b) fully kept")
    }
  }

  test("group split keeps every near-dup group on one side; naive split leaks") {
    val rows = DedupPack.groupSplit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // every group is single-sided: split is a function of the keeper
    rows.groupBy(_._2).foreach { case (keeper, members) =>
      assert(members.map(_._3).distinct.length == 1,
        s"group $keeper straddles the split")
    }
    // both sides are populated (the 0.8 hash split really splits)
    val sides = rows.map(_._3).toSet
    assert(sides == Set("train", "test"))
    // the naive per-doc split DOES leak: at least one multi-member
    // group ends up with members on both sides — the failure mode
    // d14 exists to remove
    val naive = graft.sample.Sampling.hashSplit(
        DedupPack.augmented(spark, sf).select(col("doc_id")), col("doc_id"), 0.8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val leaked = rows.groupBy(_._2).values
      .filter(_.length > 1)
      .count(members => members.map(m => naive(m._1)).distinct.length > 1)
    assert(leaked > 0, "synthetic corpus unexpectedly leak-free under naive split")
  }

  test("substring dedup: copies emptied, keepers and background untouched") {
    val rows = DedupPack.substringDedupQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val by = rows.map(r => r._1 -> r).toMap
    // exact copies: every 10-gram span is kept by the lower-id
    // original, so the whole copy is covered and removed
    (0L until 50L).foreach { i =>
      assert(by(i + 200000)._3 == 0, s"copy of $i not fully removed")
    }
    // doc 0 is the global min id, so it is the keeper of every span
    // it holds — it can never lose a word (other originals CAN: a
    // naturally repeated 10-gram with a lower-id doc elects that doc)
    assert(by(0L)._3 == by(0L)._2, "doc 0 lost words despite being global keeper")
    // nothing ever grows
    rows.foreach(r => assert(r._3 <= r._2))
    // near-copies (first word dropped): all their spans equal the
    // original's shifted spans → fully covered when ≥ 10 words remain
    (0L until 100L).filter(i => by(i + 100000)._2 >= 10).foreach { i =>
      assert(by(i + 100000)._3 == 0, s"near-copy of $i not fully removed")
    }
    // the word-soup background mostly has no repeated 10-grams
    val bg = rows.filter(r => r._1 >= 100 && r._1 < 100000)
    assert(bg.count(r => r._3 == r._2) > bg.length / 2)
    // empty cleanings hash the empty string on both engines
    assert(by(200000L)._4 == by(200001L)._4)
  }

  test("contrastive triplets pair each planted anchor with its twin + a hard negative") {
    val rows = graft.vector.VectorPack.contrastive(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (anchor, pos, neg, posCos, negCos) =>
      // the positive is the planted twin (±100000)
      assert(math.abs(anchor - pos) == 100000L, s"anchor $anchor pos $pos")
      assert(posCos >= 0.98 && negCos < 0.98)
      assert(neg != pos && neg != anchor)
      // hard negative is genuinely the near-miss tier, not a dup
      assert(negCos < posCos)
    }
    // triplets come in both directions of each pair
    val anchors = rows.map(_._1).toSet
    assert(rows.map(_._2).toSet == anchors.map(a =>
      if (a < 100000) a + 100000 else a - 100000))
  }

  test("keep-best dedup elects the max-quality member exactly once per group") {
    val out = DedupPack.keepBest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getBoolean(4)))
    val byGroup = out.groupBy(_._2)
    for ((g, ms) <- byGroup) {
      val kept = ms.filter(_._5)
      assert(kept.length == 1, s"group $g keeps ${kept.length}")
      // the elected best is the (quality desc, doc_id asc) argmax and
      // every member row agrees on it
      val expect = ms.minBy(m => (-m._3, m._1))._1
      assert(kept.head._1 == expect && ms.forall(_._4 == expect), s"group $g")
    }
    // same membership as the d08 components it builds on
    val groups = DedupPack.dedupGroupsQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.map(m => m._1 -> m._2).toMap == groups)
    // the quality election is not vacuous: some groups keep a
    // non-min-id member (a near-copy outscoring its original)
    assert(out.count(m => m._5 && m._1 != m._2) > 0, "election vacuous")
  }

  test("line dedup keeps exactly each normalized line's first global occurrence") {
    val out = DedupPack.lineDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // reference model: walk the same planted corpus in (doc_id, pos)
    // order, keeping a line iff its normalized form is unseen
    val posted = graft.text.AnalysisPack.withPlantedLines(spark, sf)
      .select(col("doc_id"), posexplode(col("lines")).as(Seq("pos", "line")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .sortBy(t => (t._1, t._2))
    val norm = (s: String) => s.toLowerCase.replaceAll("[^a-z ]", "").trim
    val seen = scala.collection.mutable.Set.empty[String]
    val expected = posted.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (id, ls) =>
        val kept = ls.sortBy(_._2).collect {
          case (_, _, l) if seen.add(norm(l)) => l
        }
        (id, ls.length.toLong, kept.length.toLong, kept.mkString("\n"))
    }
    assert(out.toSeq == expected)
    // the planted boilerplate (1/7 and 1/11 of docs) survives only in
    // its first carrier, doc 0 — the hot-key case the operator is for
    def carriers(line: String) = out.collect {
      case (id, _, _, cleaned) if cleaned.split("\n").contains(line) => id
    }
    assert(carriers("javascript void menu here.").toSeq == Seq(0L))
    assert(carriers("lorem ipsum dolor sit.").toSeq == Seq(0L))
    // global invariant: total kept == distinct normalized lines
    assert(out.map(_._3).sum == posted.map(t => norm(t._3)).toSet.size)
  }

  test("fingerprint is order-sensitive where set signatures are not") {
    import spark.implicits._
    val df = Seq("alpha beta gamma", "gamma beta alpha").toDF("text")
      .withColumn("id", monotonically_increasing_id())
    val fps = df.select(TextAnalysis.fingerprint(col("text")))
      .collect().map(_.getLong(0))
    assert(fps(0) != fps(1))
    val sims = simhashes(df, "hv16", 16, id = "id")
      .collect().map(_.getLong(1))
    assert(sims(0) == sims(1))
  }
}
