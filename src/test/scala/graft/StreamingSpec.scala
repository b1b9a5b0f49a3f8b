package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.streaming.Streams

class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val streamDir: String = {
    val dir = Files.createTempDirectory("graft_stream_in").toString
    Tables(spark, sf).events.repartition(4)
      .write.mode("overwrite").parquet(dir)
    dir
  }
  private lazy val eventsSchema = Tables(spark, sf).events.schema

  test("watched-folder stream reproduces the batch tumbling aggregation") {
    val stream = Streams.watchedFolder(spark, streamDir, eventsSchema, 2)
    val q = Streams.tumblingCounts(stream)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("tumbling_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("tumbling_out")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batch = Streams.tumblingCounts(Tables(spark, sf).events)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("stateful per-user running count matches batch counts") {
    import spark.implicits._
    val stream = Streams.watchedFolder(spark, streamDir, eventsSchema, 2)
    val counted = stream.select(col("user_id").cast("long")).as[Long]
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Long], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (user, n)
      }
    val q = counted.toDF("user_id", "n")
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("state_out").start()
    try q.processAllAvailable() finally q.stop()
    // last update per user == total batch count
    val finalCounts = spark.table("state_out")
      .groupBy("user_id").agg(max("n").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Tables(spark, sf).events.groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(finalCounts == batch)
  }

  test("foreachBatch drives the LLM stage incrementally") {
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val stream = Streams.watchedFolder(spark, streamDir, eventsSchema, 2)
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // the per-microbatch hook the reference's LLM stages plug into
        seen.addAndGet(batch.count())
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(seen.get() == Tables(spark, sf).events.count())
  }

  test("append-mode watermarked aggregation emits finalized windows") {
    val stream = Streams.watchedFolder(spark, streamDir, eventsSchema, 2)
    val q = Streams.tumblingCountsWatermarked(stream)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("wm_out").start()
    try q.processAllAvailable() finally q.stop()
    // all but the trailing watermark-held windows are finalized
    val emitted = spark.table("wm_out").count()
    val total = Streams.tumblingCounts(Tables(spark, sf).events).count()
    assert(emitted > 0 && emitted <= total)
  }
}

class StreamDedupSpec extends org.scalatest.funsuite.AnyFunSuite {
  import SparkTestSession._
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.streaming.OutputMode

  test("stream-stream attribution join equals the batch range join") {
    val dir = java.nio.file.Files.createTempDirectory("graft_attrib").toString
    val events = graft.core.Tables(spark, sf).events
    events.repartition(4).write.mode("overwrite").parquet(dir)
    def side(t: String) = graft.streaming.Streams
      .watchedFolder(spark, dir, events.schema, 2)
      .filter(col("event_type") === t)
    val q = graft.streaming.Streams.attribution(side("view"), side("purchase"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("attrib_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("attrib_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.streaming.Streams.attribution(
        events.filter(col("event_type") === "view"),
        events.filter(col("event_type") === "purchase"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("dedupKeys streaming run equals the batch DISTINCT") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dedupkeys").toString
    val events = graft.core.Tables(spark, sf).events
    events.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = graft.streaming.Streams.watchedFolder(
      spark, dir, events.schema, 2)
    val q = graft.streaming.Streams.dedupKeys(stream)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedupkeys_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("dedupkeys_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val batch = graft.streaming.Streams.dedupKeys(events).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // append mode may hold back keys newer than the final watermark;
    // everything emitted must be a batch key, and coverage must be
    // essentially complete on this bounded input
    assert(streamed.subsetOf(batch))
    assert(streamed.size >= batch.size - 50,
      s"streamed ${streamed.size} of ${batch.size} keys")
  }

  test("streaming ingest gate: dedup state survives micro-batch boundaries") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_gatestream").toString
    val aug = graft.dedup.DedupPack.augmented(spark, sf)
    // originals arrive first (one file = one micro-batch), planted
    // copies in a LATER batch — the exact copies must be dropped by
    // digest state carried across the batch boundary
    aug.filter(col("doc_id") < 100000).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    aug.filter(col("doc_id") >= 100000).coalesce(1)
      .write.mode("append").parquet(dir)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val stream = Streams.watchedFolder(spark, dir, schema, 1)
    val q = Streams.ingestGate(stream, 0.45)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("gate_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("gate_out")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = graft.streaming.StreamPack.ingestGate(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batch,
      s"stream ${streamed.size} rows vs batch ${batch.size}")
    // the copies really did arrive in a separate micro-batch
    assert(spark.table("gate_out").count() > 0)
  }

  test("dedup ingest gate: per-micro-batch d16+d19 screens equal the batch twin") {
    import org.apache.spark.sql.types._
    val aug = graft.dedup.DedupPack.augmented(spark, sf)
    val watchDir = Files.createTempDirectory("graft_dgate_in").toString
    val outDir = Files.createTempDirectory("graft_dgate_out").toString + "/decisions"
    val histDir = Files.createTempDirectory("graft_dgate_hist").toString + "/hist"
    // history first, then the batch side split over TWO further files —
    // maxFilesPerTrigger=1 makes three micro-batches, so the fuzzy
    // screen's history state really crosses batch boundaries
    aug.filter(col("doc_id") < 300).coalesce(1)
      .write.mode("overwrite").parquet(watchDir)
    aug.filter(col("doc_id") >= 300 && col("doc_id") < 100000).coalesce(1)
      .write.mode("append").parquet(watchDir)
    aug.filter(col("doc_id") >= 100000).coalesce(1)
      .write.mode("append").parquet(watchDir)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val q = Streams.dedupIngestGate(spark, watchDir, schema, outDir, histDir,
      maxFilesPerTrigger = 1)
    try q.processAllAvailable() finally q.stop()
    val dec = spark.read.option("recursiveFileLookup", "true").parquet(outDir)
    // batch 0 = the history file against EMPTY state: all distinct
    // base docs admit as new
    assert(dec.filter(col("doc_id") < 300 && col("status") === "new").count() == 300)
    // the batch side's decisions equal the one-shot batch twin (s09)
    val streamed = dec.filter(col("doc_id") >= 300)
      .select(col("doc_id"), col("status"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = graft.streaming.StreamPack.dedupGate(spark, sf)
      .select(col("doc_id"), col("status"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batch, s"stream ${streamed.size} vs batch ${batch.size}")
    // the history tables carry exactly the admitted documents
    val admitted = dec.filter(col("status") === "new")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val sigIds = spark.read.option("recursiveFileLookup", "true")
      .parquet(histDir + "/sigs")
      .select(col("hist_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(sigIds == admitted,
      s"signature table ${sigIds.size} ids vs ${admitted.size} admitted")
  }

  test("dedup ingest gate: checkpoint recovery carries decision AND " +
      "signature-table state exactly-once") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    def txt(seed: String): String = (1 to 20).map(i => seed + i).mkString(" ")
    def nearOf(seed: String): String =
      ((1 to 19).map(i => seed + i) :+ "zzz").mkString(" ")
    val watchDir = Files.createTempDirectory("graft_dgater_in").toString
    val outDir = Files.createTempDirectory("graft_dgater_out").toString + "/decisions"
    val histDir = Files.createTempDirectory("graft_dgater_hist").toString + "/hist"
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    def drop(rows: Seq[(Long, String)], name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_dgater_b").toString
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      java.nio.file.Files.list(java.nio.file.Paths.get(tmp)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".parquet"))
        .foreach(p => java.nio.file.Files.copy(p,
          java.nio.file.Paths.get(watchDir, name + p.getFileName)))
    }
    def run(): Unit = {
      val q = Streams.dedupIngestGate(spark, watchDir, schema, outDir,
        histDir, maxFilesPerTrigger = 1)
      try q.processAllAvailable() finally q.stop()
    }
    // run 1: two fresh history docs admit
    drop(Seq(1L -> txt("alpha"), 2L -> txt("beta")), "a_")
    run()
    // mid-feed arrival + RESTART on the same checkpoint: an exact copy
    // of doc 1, a fresh doc, its same-batch twin, a near copy of doc 2
    drop(Seq(10L -> txt("alpha"), 11L -> txt("gamma"),
      12L -> txt("gamma"), 13L -> nearOf("beta")), "b_")
    run()
    // second restart: screens against state ADMITTED BY THE PREVIOUS
    // RUN'S batch — exact copy of 11, near copy of 11, copy of the
    // rejected 12 (whose content is 11's, admitted)
    drop(Seq(20L -> txt("gamma"), 21L -> nearOf("gamma"),
      22L -> txt("gamma")), "c_")
    run()
    val dec = spark.read.option("recursiveFileLookup", "true").parquet(outDir)
      .select(col("doc_id"), col("status"), col("best_hist_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // exactly-once across two restarts: 9 decisions, no doc twice
    assert(dec.length == 9 && dec.map(_._1).distinct.length == 9,
      s"expected 9 exactly-once decisions, got ${dec.toSeq}")
    val status = dec.map(d => d._1 -> d._2).toMap
    assert(status == Map(1L -> "new", 2L -> "new",
      10L -> "dup_of_history", 11L -> "new", 12L -> "dup_in_batch",
      13L -> "near_dup_of_history",
      20L -> "dup_of_history", 21L -> "near_dup_of_history",
      22L -> "dup_of_history"), s"got $status")
    // the fuzzy matches point at the right history docs — doc 13 at
    // run-1 state, doc 21 at state admitted AFTER the first restart
    val best = dec.map(d => d._1 -> d._3).toMap
    assert(best(13L) == 2L && best(21L) == 11L)
    // signature/digest tables hold exactly the admitted docs' state
    val sigIds = spark.read.option("recursiveFileLookup", "true")
      .parquet(histDir + "/sigs")
      .select(col("hist_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(sigIds == Set(1L, 2L, 11L))
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(histDir + "/digests").distinct().count() == 3)
  }

  test("gate state lifecycle: 20+ direct micro-batches — compaction " +
      "keeps decisions bit-identical with state dirs bounded") {
    val aug = graft.dedup.DedupPack.augmented(spark, sf)
      .select(col("doc_id"), col("text"))
    val ids = aug.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val chunks = ids.grouped(math.max(1,
      math.ceil(ids.length / 22.0).toInt)).toSeq
    assert(chunks.length >= 20, s"need >=20 micro-batches, got ${chunks.length}")
    def runAll(tag: String, opts: Streams.GateOptions): (String, String) = {
      val outDir = Files.createTempDirectory(s"graft_gl_${tag}_o").toString +
        "/decisions"
      val histDir = Files.createTempDirectory(s"graft_gl_${tag}_h").toString +
        "/hist"
      chunks.zipWithIndex.foreach { case (chunk, i) =>
        Streams.dedupGateBatch(spark,
          aug.filter(col("doc_id").isin(chunk: _*)), i.toLong,
          outDir, histDir, opts)
      }
      (outDir, histDir)
    }
    val (outA, histA) = runAll("base", Streams.GateOptions(compactEvery = 0))
    val (outB, histB) = runAll("life", Streams.GateOptions(compactEvery = 5))
    def decs(out: String) = spark.read
      .option("recursiveFileLookup", "true").parquet(out)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val a = decs(outA)
    assert(a == decs(outB), "lifecycle options changed gate decisions")
    assert(a.exists(_._2 != "new"), "fixture produced no duplicate verdicts")
    // the compacted run's state listing is bounded (1 generation +
    // at most compactEvery live batch dirs); the baseline keeps one
    // dir per batch — the growth the lifecycle exists to stop
    for (kind <- Seq("digests", "sigs", "shingles")) {
      val nB = Option(new java.io.File(s"$histB/$kind").listFiles())
        .fold(0)(_.count(_.isDirectory))
      assert(nB <= 6, s"$kind: $nB state dirs under compactEvery=5")
      val nA = Option(new java.io.File(s"$histA/$kind").listFiles())
        .fold(0)(_.count(_.isDirectory))
      assert(nA == chunks.length, s"$kind baseline kept $nA dirs")
    }
    // run summaries: one row per batch, counts sum to the decision split
    val sums = spark.read.option("recursiveFileLookup", "true")
      .parquet(outB + "_summary")
    assert(sums.count() == chunks.length)
    val agg = sums.agg(sum(col("n_seen")), sum(col("n_new")),
      sum(col("n_dup_of_history")), sum(col("n_dup_in_batch")),
      sum(col("n_near_dup_of_history"))).collect()(0)
    assert(agg.getLong(0) == ids.length)
    val byStatus = a.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(agg.getLong(1) == byStatus.getOrElse("new", 0L))
    assert(agg.getLong(2) == byStatus.getOrElse("dup_of_history", 0L))
    assert(agg.getLong(3) == byStatus.getOrElse("dup_in_batch", 0L))
    assert(agg.getLong(4) == byStatus.getOrElse("near_dup_of_history", 0L))
  }

  test("gate retention TTL: expired duplicate re-admits, in-window still " +
      "gates, and the policy composes with compaction") {
    import spark.implicits._
    def txt(seed: String): String = (1 to 20).map(i => seed + i).mkString(" ")
    def nearOf(seed: String): String =
      ((1 to 19).map(i => seed + i) :+ "zzz").mkString(" ")
    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq(1L -> txt("alpha")),
      Seq(2L -> txt("beta")),
      Seq(3L -> txt("gamma")),
      Seq(10L -> txt("alpha"),    // exact copy of batch-0 state
          11L -> nearOf("alpha"), // near copy of batch-0 state
          12L -> txt("gamma"),    // exact copy of batch-2 state
          13L -> nearOf("beta"))) // near copy of batch-1 state
    def run(opts: Streams.GateOptions): Map[Long, String] = {
      val outDir = Files.createTempDirectory("graft_ttl_o").toString + "/d"
      val histDir = Files.createTempDirectory("graft_ttl_h").toString + "/h"
      batches.zipWithIndex.foreach { case (rows, i) =>
        Streams.dedupGateBatch(spark, rows.toDF("doc_id", "text"),
          i.toLong, outDir, histDir, opts)
      }
      spark.read.option("recursiveFileLookup", "true").parquet(outDir)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    // retention 2 at batch 3 keeps state written by batches >= 1:
    // batch-0's alpha expired (10/11 re-admit as new BY DESIGN),
    // batch-1's beta and batch-2's gamma still gate
    val expected = Map(1L -> "new", 2L -> "new", 3L -> "new",
      10L -> "new", 11L -> "new",
      12L -> "dup_of_history", 13L -> "near_dup_of_history")
    assert(run(Streams.GateOptions(retentionBatches = 2)) == expected)
    // compaction physically drops expired rows but never changes the
    // decisions the TTL defines
    assert(run(Streams.GateOptions(retentionBatches = 2,
      compactEvery = 2)) == expected)
    // and without a TTL the same feed gates the batch-0 copies — the
    // contrast that proves retention, not batch layout, re-admitted
    val forever = run(Streams.GateOptions())
    assert(forever(10L) == "dup_of_history" &&
      forever(11L) == "near_dup_of_history")
  }

  test("retention treats legacy state (no src_batch column) as in-window, " +
      "never expired") {
    import spark.implicits._
    def txt(seed: String): String = (1 to 20).map(i => seed + i).mkString(" ")
    val outDir = Files.createTempDirectory("graft_leg_o").toString + "/d"
    val histDir = Files.createTempDirectory("graft_leg_h").toString + "/h"
    // pre-lifecycle state layout: the three original kinds, WITHOUT
    // the src_batch provenance column (reads back as null)
    val legacy = Seq(1L -> txt("alpha")).toDF("doc_id", "text")
    legacy.select(md5(coalesce(col("text"), lit(""))).as("h"))
      .write.parquet(s"$histDir/digests/batch=0")
    graft.dedup.DedupPack.bandSigsOf(legacy, "hist_id")
      .write.parquet(s"$histDir/sigs/batch=0")
    graft.dedup.Dedup.hashedShingleRows(legacy, col("doc_id"), col("text"), 3)
      .write.parquet(s"$histDir/shingles/batch=0")
    // a much-later batch under a TTL that would expire batch 0 if the
    // legacy rows carried src_batch=0: null provenance must read as
    // in-window, so the duplicate still gates
    Streams.dedupGateBatch(spark,
      Seq(10L -> txt("alpha"), 11L -> txt("beta")).toDF("doc_id", "text"),
      batchId = 9L, outDir, histDir,
      Streams.GateOptions(retentionBatches = 2))
    val st = spark.read.option("recursiveFileLookup", "true").parquet(outDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(st == Map(10L -> "dup_of_history", 11L -> "new"), s"got $st")
  }

  test("a bloom tree left under the history dir is neither read nor " +
      "deleted: a duplicate of history it does not cover still gates") {
    import spark.implicits._
    def txt(seed: String): String = (1 to 20).map(i => seed + i).mkString(" ")
    val outDir = Files.createTempDirectory("graft_sbl_o").toString + "/d"
    val histDir = Files.createTempDirectory("graft_sbl_h").toString + "/h"
    val opts = Streams.GateOptions(compactEvery = 1)
    def feed(i: Long, rows: Seq[(Long, String)]): Unit =
      Streams.dedupGateBatch(spark, rows.toDF("doc_id", "text"), i,
        outDir, histDir, opts)
    feed(0, Seq(1L -> txt("alpha")))
    // a committed bits tree beside the digests, in the layout older
    // gates wrote, holding one position: alpha's three positions are
    // not all set, so a screen that trusted it would test alpha's copy
    // negative and admit it
    val bloomDir = s"$histDir/bloom/batch=0"
    Seq((7L, 0L)).toDF("pos", "src_batch")
      .write.mode("overwrite").parquet(bloomDir)
    feed(1, Seq(10L -> txt("alpha"), 11L -> txt("beta")))
    val status = Streams.readDecisionsLog(spark, outDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(status == Map(1L -> "new", 10L -> "dup_of_history",
      11L -> "new"), s"got $status")
    // the tree is left as it was: no batch=1 append, no generation
    val names = new java.io.File(s"$histDir/bloom").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(names == Seq("batch=0"), s"bloom dirs: $names")
    assert(new java.io.File(bloomDir, "_SUCCESS").exists())
  }

  test("a gate batch whose decision write fails releases its cached " +
      "frames, and the next batch on a valid dir commits") {
    import spark.implicits._
    def txt(seed: String): String = (1 to 20).map(i => seed + i).mkString(" ")
    val root = Files.createTempDirectory("graft_gfail").toString
    // a regular file where the decision directory should be
    val fileOut = new java.io.File(root, "decisions")
    Files.write(fileOut.toPath, Array[Byte](1))
    val histDir = s"$root/hist"
    val rows = Seq(1L -> txt("alpha"), 2L -> txt("beta"), 3L -> txt("alpha"))
      .toDF("doc_id", "text")
    def plans = org.apache.spark.sql.graftbridge.CachedPlans.count(spark)
    val plansBefore = plans
    val rddsBefore = spark.sparkContext.getPersistentRDDs.size
    intercept[Exception](Streams.dedupGateBatch(spark, rows, 0L,
      fileOut.toString, histDir))
    assert(plans <= plansBefore,
      s"cached plans $plans after the failure, $plansBefore before")
    assert(spark.sparkContext.getPersistentRDDs.size <= rddsBefore,
      "persisted RDDs outlived the failed batch")
    val outDir = s"$root/ok/decisions"
    Streams.dedupGateBatch(spark, rows, 0L, outDir, histDir)
    val status = Streams.readDecisionsLog(spark, outDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(status == Map(1L -> "new", 2L -> "new", 3L -> "dup_in_batch"),
      s"got $status")
  }

  test("a warm gate batch compiles no generated class") {
    import spark.implicits._
    import org.apache.spark.metrics.source.CodegenMetrics
    def txt(seed: String): String = (1 to 20).map(i => s"${seed}_$i").mkString(" ")
    def nearOf(seed: String): String =
      ((1 to 19).map(i => s"${seed}_$i") :+ "zzz").mkString(" ")
    val outDir = Files.createTempDirectory("graft_warm_o").toString + "/d"
    val histDir = Files.createTempDirectory("graft_warm_h").toString + "/h"
    // every batch has the same shape: from batch 1 on, one exact and
    // one near copy of the previous batch, one in-batch copy, two new
    def rows(b: Int): Seq[(Long, String)] = Seq(
      b * 10L + 1 -> txt(s"fresh$b"),
      b * 10L + 2 -> txt(s"other$b"),
      b * 10L + 3 -> txt(s"fresh${b - 1}"),
      b * 10L + 4 -> nearOf(s"other${b - 1}"),
      b * 10L + 5 -> txt(s"fresh$b"))
    def feed(b: Int): Unit = Streams.dedupGateBatch(spark,
      rows(b).toDF("doc_id", "text"), b.toLong, outDir, histDir)
    (0 to 2).foreach(feed)
    // the count is JVM-wide: it holds because the forked test JVM runs
    // one suite at a time and this batch is the only work in flight
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val before = compiles
    feed(3)
    val n = compiles - before
    assert(n == 0, s"warm gate batch 3 compiled $n classes")
    val status = spark.read.parquet(s"$outDir/batch=3")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(status == Map(31L -> "new", 32L -> "new", 33L -> "dup_of_history",
      34L -> "near_dup_of_history", 35L -> "dup_in_batch"), s"got $status")
  }

  test("dedup ingest gate: streaming with compaction + run summary " +
      "equals the batch twin") {
    import org.apache.spark.sql.types._
    val aug = graft.dedup.DedupPack.augmented(spark, sf)
    val watchDir = Files.createTempDirectory("graft_glife_in").toString
    val outDir = Files.createTempDirectory("graft_glife_out").toString + "/decisions"
    val histDir = Files.createTempDirectory("graft_glife_hist").toString + "/hist"
    // history file, then the WHOLE batch side as one file: summary
    // row 1 must equal the s10 one-shot twin
    aug.filter(col("doc_id") < 300).coalesce(1)
      .write.mode("overwrite").parquet(watchDir)
    aug.filter(col("doc_id") >= 300).coalesce(1)
      .write.mode("append").parquet(watchDir)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val q = Streams.dedupIngestGate(spark, watchDir, schema, outDir, histDir,
      maxFilesPerTrigger = 1,
      opts = Streams.GateOptions(compactEvery = 1))
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.option("recursiveFileLookup", "true")
      .parquet(outDir)
      .filter(col("doc_id") >= 300).select(col("doc_id"), col("status"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = graft.streaming.StreamPack.dedupGate(spark, sf)
      .select(col("doc_id"), col("status"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batch)
    // compaction ran at batch 1: each state kind is one generation +
    // the live batch dir
    for (kind <- Seq("digests", "sigs", "shingles")) {
      val names = Option(new java.io.File(s"$histDir/$kind").listFiles())
        .fold(Seq.empty[String])(_.filter(_.isDirectory).map(_.getName).toSeq)
      assert(names.sorted == Seq("batch=1", "gen=0"), s"$kind: $names")
    }
    // the batch-1 run summary equals the s10 batch twin (batch_id aside)
    val twin = graft.streaming.StreamPack.runSummary(spark, sf)
      .collect()(0).toSeq.drop(1)
    val row1 = spark.read.option("recursiveFileLookup", "true")
      .parquet(outDir + "_summary")
      .filter(col("batch_id") === 1).collect()(0).toSeq.drop(1)
    assert(row1 == twin, s"summary $row1 vs twin $twin")
  }

  test("decisions-log compaction: full history through the reader is " +
      "bit-identical, src_batch total, dirs bounded") {
    val docs = Tables(spark, sf).documents
      .select(col("doc_id"), col("text"))
    val nBatches = 8
    val per = 60L
    def run(opts: Streams.GateOptions): (String, String) = {
      val root = Files.createTempDirectory("graft_logcomp").toString
      val outDir = root + "/decisions"
      for (i <- 0 until nBatches)
        Streams.dedupGateBatch(spark,
          docs.filter(col("doc_id") >= i * per && col("doc_id") < (i + 1) * per),
          i.toLong, outDir, root + "/hist", opts)
      (root, outDir)
    }
    val (_, baselineOut) = run(Streams.GateOptions())
    val (_, compactedOut) = run(Streams.GateOptions(
      compactEvery = 3, compactLogs = true))
    def logOf(out: String) = Streams.readDecisionsLog(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSet
    val base = logOf(baselineOut)
    val comp = logOf(compactedOut)
    assert(base == comp, s"baseline ${base.size} rows vs compacted ${comp.size}")
    // provenance is total and correct: docs arrived in id order, 60/batch
    assert(base.forall { case (id, _, _, _, src) => src == id / per })
    // the compacted layout is bounded: one generation + the live tail
    val dirs = Option(new java.io.File(compactedOut).listFiles())
      .fold(Seq.empty[String])(_.filter(_.isDirectory).map(_.getName).toSeq)
    assert(dirs.count(_.startsWith("gen=")) == 1 &&
      dirs.count(_.startsWith("batch=")) <= 3,
      s"expected gen=5 + <=3 live batch dirs, got $dirs")
    // the baseline layout is NOT (the growth the option bounds)
    val bdirs = Option(new java.io.File(baselineOut).listFiles())
      .fold(0)(_.count(f => f.isDirectory && f.getName.startsWith("batch=")))
    assert(bdirs == nBatches)
    // the summary log reads back whole too, and feeds the s11 trend
    def sums(out: String) = Streams.readSummaryLog(spark, out)
    assert(sums(compactedOut).collect().map(_.toSeq).toSet ==
      sums(baselineOut).collect().map(_.toSeq).toSet)
    val trend = Streams.summaryTrendOf(sums(compactedOut)).collect()
    assert(trend.length == nBatches)
  }

  test("log compaction refuses uncommitted batch= sources: not folded, " +
      "not deleted, invisible to readers") {
    val docs = Tables(spark, sf).documents.select(col("doc_id"),
      lit("new").as("status"), col("doc_id").as("best_hist_id"),
      lit(0.0).as("best_jaccard"))
    val root = Files.createTempDirectory("graft_logguard").toString +
      "/decisions"
    val per = 50L
    for (i <- 0 until 6)
      docs.filter(col("doc_id") >= i * per && col("doc_id") < (i + 1) * per)
        .coalesce(1).write.mode("overwrite").parquet(s"$root/batch=$i")
    // abandon batch=2: drop its commit marker — the shape a crashed or
    // abandoned run leaves behind below the compaction horizon
    val marker = new java.io.File(s"$root/batch=2/_SUCCESS")
    assert(marker.exists && marker.delete())
    Streams.compactDecisionsLog(spark, root, 6L)
    val dirs = Option(new java.io.File(root).listFiles())
      .fold(Seq.empty[String])(_.filter(_.isDirectory).map(_.getName).toSeq)
      .toSet
    assert(dirs.contains("gen=5"), s"no generation written: $dirs")
    assert(dirs.contains("batch=2"),
      s"uncommitted source must survive the sweep for repair: $dirs")
    assert(!dirs.exists(d => d.startsWith("batch=") && d != "batch=2"),
      s"committed sources must be deleted after the fold: $dirs")
    // the generation holds EXACTLY the committed dirs' rows — the
    // partial dir is neither baked in nor readable downstream
    val log = Streams.readDecisionsLog(spark, root)
    val ids = log.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val expected = (0 until 6).filter(_ != 2)
      .flatMap(i => (i * per) until ((i + 1) * per)).map(_.toLong).toSet
    assert(ids == expected,
      s"expected the 5 committed batches' ids, got ${ids.size} rows")
    // provenance was stamped from the folded dir names and is total
    assert(log.filter(col("src_batch").isNull ||
      col("src_batch") === 2L).count() == 0)
  }

  test("s11 summary trend: the trend over the gate's per-batch summary " +
      "writes equals the batch twin") {
    val aug = graft.dedup.DedupPack.augmented(spark, sf)
    val outDir = Files.createTempDirectory("graft_trend_out").toString +
      "/decisions"
    val histDir = Files.createTempDirectory("graft_trend_hist").toString +
      "/hist"
    // batch 0 seeds the <300 history; batches 1-3 are exactly the
    // twin's three regime slices (base remainder / near copies /
    // exact copies), each dup class arriving after its history — the
    // documented label-equivalence scope
    val slices = Seq((0L, 300L), (300L, 100000L), (100000L, 200000L),
      (200000L, Long.MaxValue))
    slices.zipWithIndex.foreach { case ((lo, hi), i) =>
      Streams.dedupGateBatch(spark,
        aug.filter(col("doc_id") >= lo && col("doc_id") < hi), i.toLong,
        outDir, histDir)
    }
    // the trend operator consumes the summary rows the gate WROTE
    // beside its decisions; shift ids so the history batch aligns out
    val summaries = spark.read.option("recursiveFileLookup", "true")
      .parquet(outDir + "_summary")
      .filter(col("batch_id") >= 1)
      .withColumn("batch_id", col("batch_id") - 1)
    val streamed = Streams.summaryTrendOf(summaries)
      .collect().map(_.toSeq).toSeq
    val twin = graft.streaming.StreamPack.summaryTrend(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed == twin,
      s"stream $streamed\nvs batch twin $twin")
    // the trend shows the planted drift: admit rate collapses across
    // the three regimes, dup rate does the inverse
    val admit = streamed.map(_(2).asInstanceOf[Double])
    assert(admit(0) > 0.9 && admit(2) == 0.0, s"admit rates $admit")
  }

  test("rate-limit gate: flatMapGroupsWithState carries per-user counts across batches") {
    val dir = Files.createTempDirectory("graft_ratestream").toString
    val ev = Tables(spark, sf).events
    // time-ordered arrival in TWO files = two micro-batches; per-user
    // admission state must carry from batch 1 into batch 2
    val split = ev.agg(expr("percentile_approx(unix_micros(ts), 0.5)"))
      .collect()(0).getLong(0)
    ev.filter(unix_micros(col("ts")) <= split).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    ev.filter(unix_micros(col("ts")) > split).coalesce(1)
      .write.mode("append").parquet(dir)
    val stream = Streams.watchedFolder(spark, dir, ev.schema, 1)
    val q = Streams.rateLimitStream(spark, stream, 5)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("rate_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("rate_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Streams.rateLimitBatch(ev, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch,
      s"stream ${streamed.size} admissions vs batch ${batch.size}")
    // the cap really binds: no user exceeds 5, and some user hits it
    val perUser = spark.table("rate_out").groupBy("user_id").count()
      .collect().map(_.getLong(1))
    assert(perUser.max <= 5 && perUser.contains(5L))
  }

  test("extract-confirm-route lifecycle: stream equals batch across micro-batches") {
    val docs = graft.core.Tables(spark, sf).documents
      .select(col("doc_id"), col("text"))
    val watchDir = java.nio.file.Files.createTempDirectory("graft_p04_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_p04_out").toString + "/routed"
    // three input files + maxFilesPerTrigger=1 forces >= 3 micro-batches,
    // so the equality below really crosses batch boundaries
    docs.repartition(3).write.mode("overwrite").parquet(watchDir)
    val q = Streams.extractConfirmRoute(spark, watchDir,
      docs.schema, outDir, maxFilesPerTrigger = 1)
    try q.processAllAvailable() finally q.stop()
    def sig(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "pred_first_word", "pred_word_count", "fw_ok",
        "wc_ok", "route")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getString(5))).toSet
    val streamed = sig(spark.read.parquet(outDir))
    val batch = sig(graft.pipeline.Lifecycles.confirmRoute(
      graft.llm.LlmPack.extractLongOn(docs)))
    assert(streamed == batch, s"stream ${streamed.size} vs batch ${batch.size}")
    // the routing partitions exist as independently consumable feeds
    // and together cover every document
    val stp = spark.read.parquet(outDir + "/route=STP").count()
    val hitl = spark.read.parquet(outDir + "/route=HITL").count()
    assert(stp > 0 && hitl > 0, s"both routes must carry traffic ($stp/$hitl)")
    assert(stp + hitl == docs.count())
  }

  test("p04 checkpoint recovery: restart mid-feed is exactly-once") {
    // the round-8 brief: the checkpoint dir existed but no spec ever
    // exercised RECOVERY. Kill the watched-folder stream between
    // micro-batches, drop more files, restart on the SAME checkpoint:
    // the file source must not re-ingest the pre-kill files (their
    // offsets are committed) and must pick up the new ones — the
    // partitioned sink ends with exactly one row per document.
    val docs = graft.core.Tables(spark, sf).documents
      .select(col("doc_id"), col("text")).limit(30).cache()
    val a = docs.filter(col("doc_id") < 20)
    val b = docs.filter(col("doc_id") >= 20 && col("doc_id") < 25)
    val c = docs.filter(col("doc_id") >= 25)
    val watchDir = java.nio.file.Files.createTempDirectory("graft_p04r_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_p04r_out").toString + "/routed"
    a.coalesce(1).write.mode("overwrite").parquet(watchDir)
    val q1 = Streams.extractConfirmRoute(spark, watchDir,
      docs.schema, outDir, maxFilesPerTrigger = 1)
    try q1.processAllAvailable() finally q1.stop() // the "kill"
    val afterFirst = spark.read.parquet(outDir).count()
    assert(afterFirst == a.count(), "first run processed file A")
    // mid-feed arrivals while the stream is down
    def drop(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_p04r_b").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      java.nio.file.Files.list(java.nio.file.Paths.get(tmp)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".parquet"))
        .foreach(p => java.nio.file.Files.copy(p,
          java.nio.file.Paths.get(watchDir, name + p.getFileName)))
    }
    drop(b, "b_")
    drop(c, "c_")
    // restart on the same checkpoint (same outDir derives it)
    val q2 = Streams.extractConfirmRoute(spark, watchDir,
      docs.schema, outDir, maxFilesPerTrigger = 1)
    try q2.processAllAvailable() finally q2.stop()
    val routed = spark.read.parquet(outDir)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    // exactly-once across the restart: every doc once, none twice
    assert(routed.size == docs.count(), s"${routed.size} rows for ${docs.count()} docs")
    assert(routed.distinct.size == routed.size, "no doc may be re-processed")
    // and the recovered composition still equals the batch twin
    def sig(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "route").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(sig(spark.read.parquet(outDir)) ==
      sig(graft.pipeline.Lifecycles.confirmRoute(
        graft.llm.LlmPack.extractLongOn(docs))))
  }

  test("event-time p04: late docs drop, replays collapse, on-time equals batch") {
    import org.apache.spark.sql.functions.lit
    val docs = graft.core.Tables(spark, sf).documents
      .select(col("doc_id"), col("text")).limit(30).cache()
    val onTimeA = docs.filter(col("doc_id") < 20)
      .withColumn("ingest_ts", lit("2026-01-01 12:00:00").cast("timestamp"))
    // a replayed arrival carries the SAME scan timestamp — (id, ts)
    // is the arrival identity the dedup collapses on
    val dupX = docs.filter(col("doc_id") === 3)
      .withColumn("ingest_ts", lit("2026-01-01 12:00:00").cast("timestamp"))
    val lateY = docs.filter(col("doc_id") === 25)
      .withColumn("ingest_ts", lit("2026-01-01 10:00:00").cast("timestamp"))
    val freshZ = docs.filter(col("doc_id") === 28)
      .withColumn("ingest_ts", lit("2026-01-01 12:01:00").cast("timestamp"))
    val watchDir = java.nio.file.Files.createTempDirectory("graft_p04e_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_p04e_out").toString + "/routed"
    // Three files with strictly increasing mod times form three
    // micro-batches under maxFilesPerTrigger=1:
    //  batch 0 (file A)  — the on-time corpus, advances the watermark
    //    to 11:50 at commit;
    //  batch 1 (doc 28)  — on time, routes normally; Spark's
    //    multi-stateful-operator discipline filters LATE rows against
    //    the PREVIOUS batch's watermark, so this batch is what makes
    //    11:50+ the late bar for the next one;
    //  batch 2 (docs 25 + 3) — doc 25 is two hours old -> below the
    //    late bar -> dropped; doc 3 is a replay (same id, same scan
    //    ts, state still unevicted at the eviction watermark) -> the
    //    dedup collapses it ACROSS two batch boundaries.
    onTimeA.coalesce(1).write.mode("overwrite").parquet(watchDir)
    val aTime = java.nio.file.Files.list(java.nio.file.Paths.get(watchDir))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
      .map(p => java.nio.file.Files.getLastModifiedTime(p).toMillis).max
    def addBatch(df: org.apache.spark.sql.DataFrame, name: String,
                 modMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_p04e_b").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      java.nio.file.Files.list(java.nio.file.Paths.get(tmp)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".parquet"))
        .foreach { p =>
          val dst = java.nio.file.Paths.get(watchDir, name + p.getFileName)
          java.nio.file.Files.copy(p, dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(modMs))
        }
    }
    addBatch(freshZ, "b1_", aTime + 5000)
    addBatch(lateY.unionByName(dupX), "b2_", aTime + 10000)
    val q = Streams.extractConfirmRouteEventTime(spark, watchDir,
      onTimeA.schema, outDir, lateness = "10 minutes", maxFilesPerTrigger = 1)
    try q.processAllAvailable() finally q.stop()
    q.recentProgress.foreach(p => info(
      s"batch ${p.batchId}: rows=${p.numInputRows} eventTime=${p.eventTime} " +
        p.stateOperators.map(s => s"op=${s.operatorName} dropped=${s.numRowsDroppedByWatermark} total=${s.numRowsTotal}").mkString(";")))
    def sig(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "pred_first_word", "pred_word_count", "fw_ok",
        "wc_ok", "route")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getString(5))).toSet
    val streamed = sig(spark.read.parquet(outDir))
    // the surviving arrivals are exactly (file A) ∪ {doc 28}: the
    // replay deduped, the late doc dropped — and each survivor routes
    // exactly as the UNCHANGED batch twin says
    val expected = sig(graft.pipeline.Lifecycles.confirmRoute(
      graft.llm.LlmPack.extractLongOn(
        docs.filter(col("doc_id") < 20 || col("doc_id") === 28))))
    assert(streamed == expected,
      s"stream ${streamed.size} rows vs expected ${expected.size}")
    val ids = streamed.map(_._1)
    assert(!ids.contains(25L), "late document must be dropped")
    assert(ids.count(_ == 3L) == 1, "replayed document must appear once")
    assert(ids.contains(28L), "on-time batch-B document must route")
  }

  test("media ingest gate: a streamed re-encode of ANY historical " +
      "image gates as a near-dup; stream equals the s12 batch twin") {
    import org.apache.spark.sql.types._
    val m = graft.multimodal.MultimodalPack.gateMedia(spark, sf)
    val watchDir = Files.createTempDirectory("graft_mgate_in").toString
    val outDir = Files.createTempDirectory("graft_mgate_out").toString +
      "/decisions"
    val histDir = Files.createTempDirectory("graft_mgate_hist").toString +
      "/hist"
    // history first, then the batch side over TWO further files split
    // by BASE scene id — no scene's duplicate class straddles a
    // micro-batch boundary (the s09 equivalence scope), while the
    // perceptual matches genuinely cross batches: file 2's re-encodes
    // pair with file 1's history state
    val baseId = pmod(col("media_id"), lit(10000000L))
    m.filter(col("media_id") < 300).coalesce(1)
      .write.mode("overwrite").parquet(watchDir)
    m.filter(col("media_id") >= 300 && baseId < 400).coalesce(1)
      .write.mode("append").parquet(watchDir)
    m.filter(col("media_id") >= 300 && baseId >= 400).coalesce(1)
      .write.mode("append").parquet(watchDir)
    val schema = StructType(Seq(StructField("media_id", LongType),
      StructField("content", BinaryType)))
    val q = Streams.mediaIngestGate(spark, watchDir, schema, outDir, histDir,
      maxFilesPerTrigger = 1)
    try q.processAllAvailable() finally q.stop()
    val dec = Streams.readMediaDecisionsLog(spark, outDir)
    // batch 0 = history against EMPTY state: all distinct scenes admit
    assert(dec.filter(col("media_id") < 300 &&
      col("status") === "new").count() == 300)
    // the batch side's decisions equal the one-shot batch twin (s12)
    val streamed = dec.filter(col("media_id") >= 300)
      .select(col("media_id"), col("status"), col("best_hist_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = graft.streaming.StreamPack.mediaGate(spark, sf)
      .select(col("media_id"), col("status"), col("best_hist_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch, s"stream ${streamed.size} vs batch ${batch.size}")
    // the headline capability: every planted re-encode of a HISTORICAL
    // image (base < 300, doc_id % 10 == 0) — zero shared container
    // bytes, so the digest tier is blind to it — gates as a near-dup
    // pointing at its historical original
    val nearByBase = streamed
      .collect { case (id, st, best) if id >= 10000000L && id < 20000000L &&
        id - 10000000L < 300 => (id - 10000000L, st, best) }
    assert(nearByBase.nonEmpty)
    nearByBase.foreach { case (base, st, best) =>
      assert(st == "near_dup_of_history" && best == base,
        s"re-encode of historical $base read ($st, $best)")
    }
    // fingerprint state holds exactly the admitted media's dHashes
    val admitted = dec.filter(col("status") === "new")
      .select(col("media_id")).collect().map(_.getLong(0)).toSet
    val fpIds = spark.read.option("recursiveFileLookup", "true")
      .parquet(histDir + "/fps")
      .select(col("id")).distinct().collect().map(_.getLong(0)).toSet
    assert(fpIds == admitted,
      s"fps table ${fpIds.size} ids vs ${admitted.size} admitted")
  }

  test("media gate lifecycle: compaction keeps decisions " +
      "bit-identical with state dirs bounded") {
    import graft.multimodal.Multimodal
    // batch i: 12 fresh scenes, plus (from batch 1 on) a RE-ENCODE of
    // the previous batch's scene 0, an exact byte copy of the previous
    // batch's scene 1, and a same-batch byte-copy pair — every verdict
    // exercised against PERSISTED state on every batch
    def media(i: Int): org.apache.spark.sql.DataFrame = {
      def scenes(enc: String, ids: Seq[(Long, Int, Int)]) = {
        import spark.implicits._
        ids.toDF("media_id", "b", "j")
          .select(col("media_id"),
            Multimodal.sceneContent(
              concat(lit("s"), col("b"), lit("_"), col("j")), enc)
              .as("content"))
      }
      val fresh = scenes("enc0",
        (0 until 12).map(j => (i * 1000L + j, i, j)))
      if (i == 0) fresh
      else fresh
        .unionByName(scenes("enc1", Seq((i * 1000L + 100, i - 1, 0))))
        .unionByName(scenes("enc0", Seq((i * 1000L + 101, i - 1, 1))))
        .unionByName(scenes("enc0",
          Seq((i * 1000L + 102, i, 50), (i * 1000L + 103, i, 50))))
    }
    def runAll(tag: String, opts: Streams.GateOptions): (String, String) = {
      val outDir = Files.createTempDirectory(s"graft_mgl_${tag}_o")
        .toString + "/decisions"
      val histDir = Files.createTempDirectory(s"graft_mgl_${tag}_h")
        .toString + "/hist"
      (0 until 8).foreach(i =>
        Streams.mediaGateBatch(spark, media(i), i.toLong, outDir, histDir,
          opts))
      (outDir, histDir)
    }
    val (outA, _) = runAll("base", Streams.GateOptions(compactEvery = 0))
    val (outB, histB) = runAll("life",
      Streams.GateOptions(compactEvery = 3, compactLogs = true))
    def decs(out: String) = Streams.readMediaDecisionsLog(spark, out)
      .select(col("media_id"), col("status"), col("best_hist_id"),
        col("best_hamming"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val a = decs(outA)
    assert(a == decs(outB), "lifecycle options changed media-gate decisions")
    // every verdict class really occurred, against persisted state
    val byStatus = a.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byStatus.getOrElse("near_dup_of_history", 0) == 7 &&
      byStatus.getOrElse("dup_of_history", 0) == 7 &&
      byStatus.getOrElse("dup_in_batch", 0) == 7, s"got $byStatus")
    // re-encodes point at the PREVIOUS batch's admitted original
    a.collect { case (id, "near_dup_of_history", best, h) => (id, best, h) }
      .foreach { case (id, best, h) =>
        assert(best == id - 1000L - 100L && h <= 4L,
          s"re-encode $id matched $best (hamming $h)")
      }
    // compacted state listing is bounded; both kinds compact
    for (kind <- Seq("digests", "fps")) {
      val nB = Option(new java.io.File(s"$histB/$kind").listFiles())
        .fold(0)(_.count(_.isDirectory))
      assert(nB <= 4, s"$kind: $nB state dirs under compactEvery=3")
    }
  }

  test("streaming dropDuplicates removes replayed events exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dupstream").toString
    val events = graft.core.Tables(spark, sf).events.limit(500)
    // write the same events TWICE — a replayed/at-least-once source
    events.write.mode("overwrite").parquet(dir)
    events.write.mode("append").parquet(dir)
    val stream = graft.streaming.Streams.watchedFolder(
      spark, dir, graft.core.Tables(spark, sf).events.schema, 3)
    val q = stream
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy().count()
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("dedup_out").start()
    try q.processAllAvailable() finally q.stop()
    val n = spark.table("dedup_out").collect()(0).getLong(0)
    assert(n == events.count(), s"expected exactly-once count, got $n")
  }
}
