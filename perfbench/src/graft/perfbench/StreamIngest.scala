package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.streaming.Streams

/** `stream_ingest`: the per-arrival path, one client in a closed loop.
  *
  * The client moves one arrival file into the folder watched by
  * `Streams.dedupIngestGate`, waits for the gate to commit that batch,
  * writes the arrival's admitted documents (status `new`) into the
  * folder watched by `Streams.extractConfirmRoute`, and waits for that
  * stream to commit too. One operation is that whole round trip. */
object StreamIngest {
  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Wait for `ckpt/commits/<batchId>`, failing fast if the stream died. */
  private def awaitCommit(q: StreamingQuery, ckpt: String, batchId: Int): Unit = {
    val marker = Paths.get(ckpt, "commits", batchId.toString)
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (!Files.exists(marker)) {
      q.exception.foreach(e => throw e)
      if (!q.isActive) throw new IllegalStateException(s"stream ${q.id} stopped")
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"batch $batchId not committed in 120 s")
      Thread.sleep(1)
    }
  }

  def run(ctx: Ctx, warmups: Int, ops: Int): Outcome = {
    val spark = ctx.spark
    val d = ctx.dir
    val gateIn = s"$d/gate_in"
    val routeIn = s"$d/route_in"
    val gateOut = s"$d/gate_out"
    val hist = s"$d/gate_hist"
    val routeOut = s"$d/route_out"
    Seq(gateIn, routeIn).foreach(p => Files.createDirectories(Paths.get(p)))
    val gate = Streams.dedupIngestGate(spark, gateIn, schema, gateOut, hist)
    val route = Streams.extractConfirmRoute(spark, routeIn, schema, routeOut)
    ctx.trace.foreach { t => t.nameStream(gate.id, "gate"); t.nameStream(route.id, "route") }

    def arrive(a: Int): Unit = {
      val file = Paths.get(gateIn, s"arrival$a.parquet")
      Files.move(Paths.get(d, "arrivals", s"arrival$a.parquet"), file,
        StandardCopyOption.ATOMIC_MOVE)
      awaitCommit(gate, s"${hist}_ckpt", a)
      val admitted = spark.read.parquet(file.toString).join(
        spark.read.parquet(s"$gateOut/batch=$a")
          .filter(col("status") === "new").select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      val staging = s"$d/admit_tmp/$a"
      admitted.coalesce(1).write.parquet(staging)
      val part = Files.list(Paths.get(staging)).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(routeIn, s"admitted$a.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
      awaitCommit(route, s"${routeOut}_ckpt", a)
    }

    val warm = ctx.warmups(warmups)(arrive)
    val opSeconds = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    (warmups until warmups + ops).foreach { a =>
      val (_, s) = ctx.timed(arrive(a), settle = ctx.trace.foreach { t =>
        // progress events are posted just after the commit marker
        while (t.lastBatchOf("gate") < a || t.lastBatchOf("route") < a) {
          Thread.sleep(1); t.drain()
        }
      })
      opSeconds += s
    }
    val timedWall = (System.nanoTime() - t0) / 1e9
    gate.stop()
    route.stop()

    val n = warmups + ops
    val layers = streamLayers(ctx) ++ Map(
      "streaming.state_files" -> Harness.fileCount(hist).toDouble)
    Outcome(opSeconds.toSeq, timedWall,
      items = spark.read.parquet((warmups until n)
        .map(a => s"$gateIn/arrival$a.parquet"): _*).count(), itemName = "docs",
      warmupSeconds = warm, attempted = n, failed = 0,
      checkFailures = check(ctx, n, gateOut, hist, routeOut),
      layers = layers, extra = Map.empty)
  }

  /** The per-layer streaming metrics from the listener's per-trigger
    * phases, plus the engine counters, as medians over the arrivals. */
  private def streamLayers(ctx: Ctx): Map[String, Double] = {
    if (ctx.trace.isEmpty) Map.empty
    else {
      def s(k: String): Seq[Double] = ctx.series.get(k).map(_.toSeq).getOrElse(Seq.empty)
      def sum(keys: String*): Seq[Double] = {
        val cols = keys.map(s).filter(_.nonEmpty)
        if (cols.isEmpty) Seq(0.0) else cols.transpose.map(_.sum)
      }
      def med(xs: Seq[Double]) = Harness.quantile(if (xs.isEmpty) Seq(0.0) else xs, 0.5)
      ctx.layerMedians ++ Map(
        "streaming.gate_batch_s" -> med(s("stream.gate.addBatch")),
        "streaming.route_batch_s" -> med(s("stream.route.addBatch")),
        "streaming.source_s" -> med(sum("stream.gate.latestOffset", "stream.gate.getBatch",
          "stream.route.latestOffset", "stream.route.getBatch")),
        "streaming.commit_s" -> med(sum("stream.gate.walCommit", "stream.gate.commitOffsets",
          "stream.route.walCommit", "stream.route.commitOffsets")))
    }
  }

  private def shingles(text: String): Set[String] = {
    val w = text.trim.split("\\s+").filter(_.nonEmpty)
    if (w.length < 3) Set.empty else w.sliding(3).map(_.mkString(" ")).toSet
  }

  private def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else (a & b).size.toDouble / (a | b).size

  /** Output checks, made against the generated inputs and the method's
    * own definitions (see README.md); returns one line per failure. */
  private def check(ctx: Ctx, n: Int, gateOut: String, hist: String,
                    routeOut: String): Seq[String] = {
    val spark = ctx.spark
    val fail = mutable.ArrayBuffer.empty[String]
    val manifest = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get(ctx.dir, "arrivals", "manifest.json").toFile)
    // arrival index, doc id, text — in file order
    val docs = (0 until n).flatMap { a =>
      spark.read.parquet(s"${ctx.dir}/gate_in/arrival$a.parquet").collect()
        .map(r => (a, r.getLong(0), r.getString(1)))
    }
    val textOf = docs.map(x => x._2 -> x._3).toMap
    val arrivalOf = docs.map(x => x._2 -> x._1).toMap
    val dec = Streams.readDecisionsLog(spark, gateOut)
      .select("doc_id", "status", "best_hist_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val decCount = dec.groupBy(_._1).view.mapValues(_.length).toMap
    val status = dec.map(x => x._1 -> x._2).toMap
    val bestHist = dec.map(x => x._1 -> x._3).toMap

    val missing = docs.count(x => !decCount.contains(x._2))
    val multi = decCount.count(_._2 != 1)
    val stray = decCount.keySet.count(id => !textOf.contains(id))
    if (missing + multi + stray > 0)
      fail += s"decisions: $missing docs without one, $multi with several, $stray for unknown ids"

    val exact = (0 until n).flatMap(a => manifest.get(a).get("exact").elements.asScala.map(_.asLong))
    val near = (0 until n).flatMap(a => manifest.get(a).get("near").elements.asScala.map(_.asLong))
    val twins = (0 until n).flatMap(a => manifest.get(a).get("twin").elements.asScala
      .map(p => (p.get(0).asLong, p.get(1).asLong)))
    exact.foreach { id =>
      val st = status.getOrElse(id, "none")
      val earlierTwin = docs.exists(x => x._1 == arrivalOf(id) && x._2 < id && x._3 == textOf(id))
      if (!(st == "dup_of_history" || (st == "dup_in_batch" && earlierTwin)))
        fail += s"planted exact re-arrival $id decided $st"
    }
    twins.foreach { case (first, second) =>
      if (!status.get(first).contains("new") || !status.get(second).contains("dup_in_batch"))
        fail += s"twin pair ($first, $second) decided ${status.get(first)}/${status.get(second)}"
    }
    near.foreach { id =>
      if (!status.get(id).contains("near_dup_of_history"))
        fail += s"planted near copy $id decided ${status.getOrElse(id, "none")}"
    }
    val admittedTexts = mutable.HashSet.empty[String]
    val admittedIds = mutable.LinkedHashSet.empty[Long]
    docs.sortBy(x => (x._1, x._2)).foreach { case (_, id, text) =>
      if (status.get(id).contains("new")) {
        if (!admittedTexts.add(text)) fail += s"new doc $id repeats an admitted text"
        admittedIds += id
      }
    }
    status.foreach { case (id, st) if st == "near_dup_of_history" =>
        val h = bestHist(id)
        val j = (textOf.get(id), textOf.get(h)) match {
          case (Some(a), Some(b)) => jaccard(shingles(a), shingles(b))
          case _ => -1.0
        }
        if (j < 0.5 || !admittedIds.contains(h) || arrivalOf(h) >= arrivalOf(id))
          fail += s"near dup $id -> $h: shingle Jaccard $j, admitted earlier ${admittedIds.contains(h)}"
      case _ => ()
    }
    val sigIds = spark.read.parquet(s"$hist/sigs").select("hist_id").distinct()
      .collect().map(_.getLong(0)).toSet
    if (sigIds != admittedIds.toSet)
      fail += s"signature history holds ${sigIds.size} ids, ${admittedIds.size} admitted " +
        s"(${(sigIds -- admittedIds).size} extra, ${(admittedIds.toSet -- sigIds).size} missing)"
    val routed = spark.read.parquet(routeOut)
      .select("doc_id", "route", "pred_first_word", "pred_word_count").collect()
    val routedCount = routed.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    if (routedCount.keySet != admittedIds.toSet || routedCount.values.exists(_ != 1))
      fail += s"route output: ${routed.length} rows over ${routedCount.size} ids, " +
        s"${admittedIds.size} admitted"
    routed.filter(r => textOf.contains(r.getLong(0))).foreach { r =>
      val w = textOf(r.getLong(0)).trim.split("\\s+").filter(_.nonEmpty)
      val ok = r.getString(2) == w.headOption.getOrElse("NULL") &&
        r.getString(3) == w.length.toString
      if ((r.getString(1) == "STP") != ok)
        fail += s"doc ${r.getLong(0)} routed ${r.getString(1)} with fields correct=$ok"
    }
    fail.toSeq
  }
}
