package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{MediaStage, MultimodalPack}

class MultimodalSpec extends AnyFunSuite {
  import SparkTestSession._

  test("mapPartitions decode stage agrees with the expression twin") {
    val m = MultimodalPack.media(spark, sf)
    val staged = MediaStage.decode(m, col("media_id"), col("content"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3), r.getInt(4)))
      .toSet
    val expr = MultimodalPack.decodeMeta(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2).toInt,
        r.getString(3), r.getLong(4).toInt))
      .toSet
    assert(staged == expr)
  }

  test("binary media round-trips parquet with metadata-only pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft_media").toString
    MultimodalPack.media(spark, sf).write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.schema("content").dataType ==
      org.apache.spark.sql.types.BinaryType)
    // metadata-only projection must not read the content column
    val plan = back.select(col("media_id")).queryExecution.executedPlan.toString
    assert(plan.contains("media_id") && !plan.contains("content"),
      s"content column not pruned:\n$plan")
    assert(back.count() == MultimodalPack.media(spark, sf).count())
  }

  test("frame sampling explodes 64-byte content into 6 frames") {
    val n = MultimodalPack.frames(spark, sf)
      .groupBy("media_id").count().select(min("count"), max("count"))
      .collect()(0)
    // 16 frames sampled every 3rd → indices 0,3,6,9,12,15 → 6
    assert(n.getLong(0) == 6 && n.getLong(1) == 6)
  }

  test("shard plan: size-bounded, contiguous, covers every sample once") {
    val S = MultimodalPack.ShardBytes
    val shards = MultimodalPack.shardPlan(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val docs = graft.core.Tables(spark, sf).documents
      .select(col("doc_id"), octet_length(col("text")).cast("long") + 64L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // full single coverage: shard item counts sum to the corpus
    assert(shards.map(_._2).sum == docs.length)
    assert(shards.map(_._3).sum == docs.map(_._2).sum)
    // the tar-shard rule: a shard may overflow the budget only by the
    // straddling sample — never by more than one max payload
    val maxPayload = docs.map(_._2).max
    shards.foreach { case (sid, _, bytes, _, _) =>
      assert(bytes < S + maxPayload, s"shard $sid bytes $bytes over bound")
    }
    // contiguous id ranges: each shard starts after the previous ends
    shards.sortBy(_._1).sliding(2).foreach {
      case Array((_, _, _, _, lastA), (_, _, _, firstB, _)) =>
        assert(firstB > lastA, "shard id ranges must be contiguous")
      case _ =>
    }
    // no underfull shards except the final one: a non-final shard's
    // byte range is [kS,(k+1)S) minus at most one straddling sample's
    // tail on each side, so it holds at least S − maxPayload bytes
    shards.sortBy(_._1).dropRight(1).foreach { case (sid, _, bytes, _, _) =>
      assert(bytes >= S - maxPayload,
        s"shard $sid underfull at $bytes bytes (bound ${S - maxPayload})")
    }
  }

  test("sharded write materializes the plan: one dir per shard, " +
      "plan-equal row counts, size-bounded") {
    val S = MultimodalPack.ShardBytes
    val root = MultimodalPack.shardedWriteDir(spark, sf)
    val plan = MultimodalPack.shardPlan(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // one shard_id=K directory per planned shard, nothing extra
    val dirs = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard_id="))
      .map(f => f.getName.stripPrefix("shard_id=").toLong)
      .toSet
    assert(dirs == plan.keySet, "on-disk shard dirs must equal the plan")
    // per-shard row counts and byte totals equal the plan's manifest
    val onDisk = spark.read.parquet(root)
      .groupBy(col("shard_id").cast("long").as("sid"))
      .agg(count(lit(1)).as("n"), sum(col("payload_bytes")).as("b"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(onDisk == plan, "per-shard (rows, bytes) must equal the manifest")
    // size bound on the materialized shards (budget + one straddler)
    val maxPayload = graft.core.Tables(spark, sf).documents
      .select(max(octet_length(col("text")).cast("long") + 64L))
      .collect()(0).getLong(0)
    onDisk.foreach { case (sid, (_, bytes)) =>
      assert(bytes < S + maxPayload, s"shard $sid bytes $bytes over bound")
    }
  }

  test("the gate fingerprint artifact filtered to media_id >= 300 equals " +
      "the media derivation over the filtered fixture") {
    // the identity s12 and the streaming media gate rely on: s12
    // id-filters the artifact, the stream derives each batch's rows
    val batch = MultimodalPack.gateMedia(spark, sf)
      .filter(col("media_id") >= 300)
    val art = MultimodalPack.gateMediaFps(spark, sf)
      .filter(col("media_id") >= 300)
    val derived = MultimodalPack.fpRowsOf(batch, graft.multimodal.Multimodal.dHash)
    assert(art.count() > 0)
    assert(art.exceptAll(derived).isEmpty && derived.exceptAll(art).isEmpty)
  }

  test("mm06: perceptual dHash catches the planted re-encode/resize " +
      "twins that exact md5 misses") {
    import graft.multimodal.Multimodal
    val m = MultimodalPack.sceneMedia(spark, sf)
    // the planted variants share NO content digest with their original
    // (one changed container byte is enough to sink a byte-level hash)
    val d = m.filter(col("media_id").isin(0L, 10000000L, 5L, 20000005L))
      .select(col("media_id"), md5(Multimodal.hexOf(col("content"))).as("d"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d(0L) != d(10000000L) && d(5L) != d(20000005L),
      "planted twins must NOT be exact-digest duplicates")
    val pairs = MultimodalPack.imageNearDups(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pairSet = pairs.map(p => (p._1, p._2)).toSet
    // every planted (original, variant) pair is found…
    val docs = graft.core.Tables(spark, sf).documents
      .select(col("doc_id")).collect().map(_.getLong(0))
    val planted = docs.filter(_ % 10 == 0).map(i => (i, i + 10000000L)) ++
      docs.filter(_ % 10 == 5).map(i => (i, i + 20000000L))
    planted.foreach(p => assert(pairSet.contains(p), s"missing planted $p"))
    // …within the Hamming budget (one perturbed pixel per encoding ⇒
    // at most 4 flipped gradient bits), and NOTHING else pairs:
    // unrelated scenes are md5-uniform, ~30 bits apart
    pairs.foreach(p => assert(p._3 <= 4, s"pair $p over budget"))
    assert(pairSet == planted.toSet,
      s"expected exactly the ${planted.length} planted pairs, got ${pairs.length}")
    // cross-strategy: the banded join is pair-for-pair equal to the
    // quadratic scan over the same signatures (the d04/d05 contract)
    val sig = m.select(col("media_id").as("id"),
      Multimodal.gridHash(col("content"), "px",
        Multimodal.DhashGridRows, Multimodal.DhashGridCols).as("simhash"))
    val a = sig.select(col("id").as("a_id"), col("simhash").as("ha"))
    val b = sig.select(col("id").as("b_id"), col("simhash").as("hb"))
    val brute = a.join(b, col("a_id") < col("b_id"))
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= 4)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(brute.map(p => (p._1, p._2)).toSet == pairSet)
  }

  test("mm07: per-frame dHash + offset-consistent rollup finds the " +
      "planted re-encoded clip inside the longer video") {
    import graft.multimodal.Multimodal
    val vf = MultimodalPack.videoFrames(spark, sf)
    // the clip's frames share NO content digest with the source video's
    // (different encoder tag -> every container byte differs), and the
    // two videos differ in length (4 vs 8 frames) — so both the exact
    // digest tier AND any whole-video fingerprint (mm06's approach
    // applied to the full content) miss the pair by construction
    val d = vf.filter(col("video_id").isin(3L, 10000003L))
      .select(col("video_id"),
        md5(Multimodal.hexOf(col("content"))).as("d"))
      .collect()
    val baseD = d.filter(_.getLong(0) == 3L).map(_.getString(1)).toSet
    val clipD = d.filter(_.getLong(0) == 10000003L).map(_.getString(1)).toSet
    assert(baseD.size == 8 && clipD.size == 4)
    assert(baseD.intersect(clipD).isEmpty,
      "clip frames must not be exact-digest duplicates of source frames")
    // the containment rollup returns EXACTLY the planted pairs: every
    // clip matched to its source at the planted temporal offset (clip
    // frame j ≡ source frame j+2), all 4 clip frames covered
    val rows = MultimodalPack.videoClipDups(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val docs = graft.core.Tables(spark, sf).documents
      .select(col("doc_id")).collect().map(_.getLong(0))
    val planted = docs.filter(_ % 10 == 3)
      .map(i => (i, i + 10000000L, 2L, 4L)).toSet
    assert(rows.map(t => (t._1, t._2, t._3, t._4)).toSet == planted,
      s"expected exactly the ${planted.size} planted containments, " +
        s"got ${rows.length}")
    // per-frame perturbation flips at most 2 gradient bits per
    // encoding -> matched frames sit within the Hamming budget
    rows.foreach(t => assert(t._5 <= 4L, s"row $t over budget"))
  }

  test("mm08: per-window chromaprint + offset-consistent rollup finds " +
      "the planted re-encoded audio trim") {
    import graft.multimodal.Multimodal
    val aw = MultimodalPack.audioWindows(spark, sf)
    // the trim's windows share NO content digest with the source's
    // (different codec tag -> every container byte differs) and the
    // two audios differ in length (3 vs 6 windows)
    val d = aw.filter(col("audio_id").isin(7L, 10000007L))
      .select(col("audio_id"), md5(Multimodal.hexOf(col("content"))).as("d"))
      .collect()
    val baseD = d.filter(_.getLong(0) == 7L).map(_.getString(1)).toSet
    val clipD = d.filter(_.getLong(0) == 10000007L).map(_.getString(1)).toSet
    assert(baseD.size == 6 && clipD.size == 3)
    assert(baseD.intersect(clipD).isEmpty,
      "trim windows must not be exact-digest duplicates of the source")
    // the rollup returns EXACTLY the planted containments: every trim
    // matched to its source at the planted temporal offset (trim
    // window j ≡ source window j+2), all 3 trim windows covered
    val rows = MultimodalPack.audioClipDups(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val docs = graft.core.Tables(spark, sf).documents
      .select(col("doc_id")).collect().map(_.getLong(0))
    val planted = docs.filter(_ % 10 == 7)
      .map(i => (i, i + 10000000L, 2L, 3L)).toSet
    assert(rows.map(t => (t._1, t._2, t._3, t._4)).toSet == planted,
      s"expected exactly the ${planted.size} planted containments, " +
        s"got ${rows.length}")
    // one perturbed chroma sample per encoding flips at most 2
    // gradient bits -> matched windows sit within the Hamming budget
    rows.foreach(t => assert(t._5 <= 4L, s"row $t over budget"))
  }

  /** [[graft.multimodal.Multimodal.sceneContent]] with a COLUMN
    * encoder tag — the fixtures below vary the encoder per row. */
  private def sceneContentCol(text: org.apache.spark.sql.Column,
                              enc: org.apache.spark.sql.Column) =
    unhex(concat(
      substring(md5(concat(text, lit("|h"), enc)), 1, 6),
      md5(text),
      md5(concat(text, lit("|n"), enc))))

  test("in-join same-item exclusion: dense near-identical frames " +
      "never transit the band join, output identical to post-filter") {
    import graft.dedup.Dedup
    import graft.multimodal.Multimodal
    // one video of 50 near-identical frames (same latent scene, a
    // distinct encoder perturbation per frame — the dense-sampling
    // worst case: every intra-video frame pair is a true near-dup)
    // plus a 5-frame re-encoded clip of the same scene
    val dense = spark.range(50).select(lit(1L).as("item_id"),
      col("id").as("unit_idx"),
      sceneContentCol(lit("dense scene"), concat(lit("e"), col("id")))
        .as("content"))
    val clip = spark.range(5).select(lit(2L).as("item_id"),
      col("id").as("unit_idx"),
      sceneContentCol(lit("dense scene"), concat(lit("c"), col("id")))
        .as("content"))
    val sig = dense.unionByName(clip)
      .select(struct(col("item_id").as("item"), col("unit_idx").as("unit"))
        .as("id"), Multimodal.gridHash(col("content"), "px",
        Multimodal.DhashGridRows, Multimodal.DhashGridCols).as("simhash"))
    def key(r: org.apache.spark.sql.Row) = {
      val a = r.getStruct(0); val b = r.getStruct(1)
      ((a.getLong(0), a.getLong(1)), (b.getLong(0), b.getLong(1)),
        r.getLong(2))
    }
    val unfiltered = Dedup.hammingBandJoin(sig, sig, "a_id" -> "b_id", 4,
        Multimodal.DhashBits, col("a_id") < col("b_id"))
      .collect().map(key)
    val postFiltered = unfiltered
      .filter { case ((ai, _), (bi, _), _) => ai != bi }.toSet
    val inJoin = Dedup.hammingBandJoin(sig, sig, "a_id" -> "b_id", 4,
        Multimodal.DhashBits, col("a_id") < col("b_id") && col("a_id.item") =!= col("b_id.item"))
      .collect().map(key).toSet
    assert(inJoin == postFiltered,
      "in-join exclusion must equal post-filtering the unfiltered join")
    // the drop the pushdown exists for: without it, the per-video-
    // quadratic intra-video pairs (C(50,2) here) all reach the
    // cross-band dedup shuffle only to be discarded
    val intra = unfiltered.length - postFiltered.size
    assert(intra == 50 * 49 / 2 + 5 * 4 / 2,
      s"dense fixture should mine every intra-item pair, got $intra")
    assert(inJoin.nonEmpty && inJoin.forall {
      case ((ai, _), (bi, _), h) => ai == 1L && bi == 2L && h <= 4L
    })
  }

  test("clip containment with struct keys: a >100-frame video works " +
      "(the r13 composite-id cap is gone)") {
    import graft.multimodal.Multimodal
    // 120 distinct-scene frames; the clip re-encodes frames 100..109
    val base = spark.range(120).select(lit(1L).as("item_id"),
      col("id").as("unit_idx"),
      sceneContentCol(concat(lit("vid|f"), col("id")), lit("v0"))
        .as("content"))
    val clip = spark.range(10).select(lit(2L).as("item_id"),
      col("id").as("unit_idx"),
      sceneContentCol(concat(lit("vid|f"), col("id") + 100), lit("v1"))
        .as("content"))
    val rows = MultimodalPack.clipContainmentFromUnits(
        graft.core.Caches.cut(MultimodalPack.fpRowsOf(base.unionByName(clip),
          Multimodal.dHash)), maxDist = 4, bits = Multimodal.DhashBits)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.length == 1, s"expected one containment, got ${rows.toSeq}")
    val (a, b, off, n, h) = rows(0)
    assert(a == 1L && b == 2L && off == 100L && n == 10L && h <= 4L,
      s"unexpected containment row ${rows(0)}")
  }
}
