package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, regexp_extract}

import graft.ingest.Ingest
import graft.llm.LlmPack
import graft.metrics.{Classification, Evaluation}
import graft.pipeline.Lifecycles
import graft.vector.KnnJoin

/** `doc_pipeline`: one batch job per operation, one client in a
  * closed loop. Each job ingests a fresh page-CSV tree, classifies its
  * documents by exact 1-NN against a fixed labelled index, extracts
  * and confirms two fields, routes every document to STP or HITL, and
  * reports classification and extraction accuracy. Intermediates read
  * by two later steps (documents, predictions, extraction) are
  * materialized once with an eager `localCheckpoint` and released when
  * the job ends; every output is collected. */
object DocPipeline {
  private final case class JobOut(docs: Array[Row], preds: Array[Row], ext: Array[Row],
                                  route: Array[Row], report: Array[Row], acc: Array[Row])

  private def cut(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  def run(ctx: Ctx, warmups: Int, ops: Int): Outcome = {
    val spark = ctx.spark
    val index = spark.read.parquet(s"${ctx.dir}/index.parquet")

    def job(root: String): JobOut = {
      val emb = spark.read.parquet(s"$root/emb.parquet")
      val docs = ctx.span("ingest.read_pages_s") {
        cut(Ingest.flattenPages(Ingest.readPages(spark, root),
            col("fn"), col("PE_num"), col("text"))
          .select(regexp_extract(col("fn"), "^doc(\\d+)\\.csv$", 1).cast("long").as("doc_id"),
            col("full_text").as("text")))
      }
      val preds = ctx.span("vector.knn_s") {
        cut(KnnJoin.search(spark, emb, index, 1, KnnJoin.Exact, excludeSelf = false))
      }
      val ext = ctx.span("llm.extract_s")(cut(LlmPack.extractLongOn(docs)))
      val route = ctx.span("pipeline.confirm_route_s")(Lifecycles.confirmRoute(ext).collect())
      val (report, acc) = ctx.span("metrics.report_s") {
        val labelled = preds.join(emb.select(col("vec_id").as("query_id"), col("label")),
          Seq("query_id"))
        (Classification.classificationReport(labelled, col("label"), col("n_label")).collect(),
          Evaluation.accuracyTable(ext, col("field"), col("accuracy")).collect())
      }
      JobOut(docs.collect(), preds.collect(), ext.collect(), route, report, acc)
    }

    def release(): Unit = {
      graft.core.Caches.releaseTransients()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    val indexVecs = vectors(index)
    val fail = mutable.ArrayBuffer.empty[String]
    def runJob(k: Int): JobOut = {
      val root = s"${ctx.dir}/job$k"
      val out = job(root)
      release()
      out
    }
    val warm = ctx.warmups(warmups)(k => runJob(k))
    val opSeconds = mutable.ArrayBuffer.empty[Double]
    var items = 0L
    val t0 = System.nanoTime()
    (warmups until warmups + ops).foreach { k =>
      val (out, s) = ctx.timed(runJob(k))
      opSeconds += s
      items += out.docs.length
      fail ++= check(ctx, s"${ctx.dir}/job$k", out, indexVecs)
    }
    val timedWall = (System.nanoTime() - t0) / 1e9
    fail ++= checkPageNumbers(ctx, s"${ctx.dir}/job${warmups + ops - 1}")
    Outcome(opSeconds.toSeq, timedWall, items, "docs", warm,
      attempted = warmups + ops, failed = 0, checkFailures = fail.toSeq,
      layers = if (ctx.trace.isDefined) ctx.layerMedians else Map.empty,
      extra = Map.empty)
  }

  /** id -> (vector as doubles, label) of an `embeddings`-schema frame. */
  private def vectors(df: DataFrame): Map[Long, (Array[Double], Int)] =
    df.select("vec_id", "embedding", "label").collect().map { r =>
      r.getLong(0) -> (r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2))
    }.toMap

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Pages of each generated document, read back from the job's files. */
  private def pagesOf(root: String): Map[Long, Seq[String]] =
    Seq("EML", "FAX", "WIN", "SCN").flatMap { ch =>
      Files.list(Paths.get(root, ch)).iterator.asScala.map { p =>
        val id = p.getFileName.toString.stripPrefix("doc").stripSuffix(".csv").toLong
        id -> Files.readAllLines(p).asScala.toSeq
      }
    }.toMap

  private def check(ctx: Ctx, root: String, out: JobOut,
                    index: Map[Long, (Array[Double], Int)]): Seq[String] = {
    val fail = mutable.ArrayBuffer.empty[String]
    val job = root.split('/').last
    val pages = pagesOf(root)
    val queries = vectors(ctx.spark.read.parquet(s"$root/emb.parquet"))
    // flatten: each document's text is its pages in written line order
    val texts = out.docs.map(r => r.getLong(0) -> r.getString(1)).toMap
    if (texts.keySet != pages.keySet) fail += s"$job: flattened ${texts.size} docs of ${pages.size}"
    val badText = pages.count { case (id, ps) => !texts.get(id).contains(ps.mkString("\n")) }
    if (badText > 0) fail += s"$job: $badText documents flattened out of page order"
    // kNN: brute-force top-1 under (inner product desc, id asc)
    val preds = out.preds.map(r => r.getAs[Long]("query_id") ->
      (r.getAs[Long]("neighbor_id"), r.getAs[Double]("sim"), r.getAs[Int]("n_label"))).toMap
    if (preds.size != queries.size || out.preds.length != queries.size)
      fail += s"$job: ${out.preds.length} predictions for ${queries.size} queries"
    var wrongNn = 0
    queries.foreach { case (qid, (qv, _)) =>
      var bestId = -1L; var best = Double.NegativeInfinity
      index.foreach { case (nid, (nv, _)) =>
        val s = dot(qv, nv)
        if (s > best || (s == best && nid < bestId)) { best = s; bestId = nid }
      }
      preds.get(qid) match {
        case Some((nid, sim, lab)) if (nid == bestId || math.abs(sim - best) <= 1e-9) &&
            index.get(nid).exists(_._2 == lab) && math.abs(dot(qv, index(nid)._1) - sim) <= 1e-9 => ()
        case _ => wrongNn += 1
      }
    }
    if (wrongNn > 0) fail += s"$job: $wrongNn predictions differ from the brute-force top-1"
    // report: supports are the generated label counts; accuracy = matches / queries
    val support = queries.values.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val matches = queries.count { case (qid, (_, lab)) => preds.get(qid).exists(_._3 == lab) }
    val rep = out.report.map(r => r.getAs[String]("label") -> r).toMap
    support.foreach { case (lab, n) =>
      if (!rep.get(lab.toString).exists(_.getAs[Long]("support") == n))
        fail += s"$job: report support for label $lab is not $n"
    }
    val accRow = rep.get("accuracy")
    if (!accRow.exists(r => r.getAs[Long]("support") == queries.size &&
        r.getAs[Double]("precision") == matches.toDouble / queries.size))
      fail += s"$job: report accuracy is not $matches / ${queries.size}"
    // extraction ground truth = first word and word count of the generated text
    val truth = pages.map { case (id, ps) =>
      val w = ps.mkString(" ").trim.split("\\s+").filter(_.nonEmpty)
      id -> Map("first_word" -> w.headOption.getOrElse("NULL"), "word_count" -> w.length.toString)
    }
    val badGt = out.ext.count { r =>
      !truth.get(r.getAs[Long]("doc_id"))
        .exists(_.get(r.getAs[String]("field")).contains(r.getAs[String]("ground_truth")))
    }
    if (badGt > 0 || out.ext.length != 2 * pages.size)
      fail += s"$job: $badGt of ${out.ext.length} extraction rows disagree with the text"
    val acc = out.acc.map(r => r.getAs[String]("field") -> r).toMap
    Seq("first_word" -> pages.size.toLong, "word_count" -> pages.size.toLong,
        "Overall" -> 2L * pages.size).foreach { case (f, n) =>
      if (!acc.get(f).exists(r => r.getAs[Long]("support") == n &&
          r.getAs[Double]("accuracy") == r.getAs[Long]("correct").toDouble / n))
        fail += s"$job: accuracy row $f is not correct / $n"
    }
    // routing: every document once; STP exactly when both fields are right
    val routed = out.route.groupBy(_.getAs[Long]("doc_id"))
    if (routed.keySet != pages.keySet || routed.values.exists(_.length != 1))
      fail += s"$job: ${out.route.length} route rows for ${pages.size} documents"
    val badRoute = out.route.count { r =>
      val t = truth.getOrElse(r.getAs[Long]("doc_id"), Map.empty[String, String])
      val ok = t.get("first_word").contains(r.getAs[String]("pred_first_word")) &&
        t.get("word_count").contains(r.getAs[String]("pred_word_count"))
      (r.getAs[String]("route") == "STP") != ok
    }
    if (badRoute > 0) fail += s"$job: $badRoute documents routed against their fields"
    fail.toSeq
  }

  /** `PE_num` runs 1..n in written line order within every file. */
  private def checkPageNumbers(ctx: Ctx, root: String): Seq[String] = {
    val pages = pagesOf(root)
    val got = Ingest.readPages(ctx.spark, root).select("fn", "PE_num", "text").collect()
      .groupBy(_.getString(0)).map { case (fn, rs) =>
        fn.stripPrefix("doc").stripSuffix(".csv").toLong ->
          rs.sortBy(_.getInt(1)).map(r => (r.getInt(1), r.getString(2))).toSeq
      }
    val bad = pages.count { case (id, ps) =>
      !got.get(id).contains(ps.zipWithIndex.map { case (t, i) => (i + 1, t) })
    }
    if (bad > 0 || got.size != pages.size) Seq(s"${root.split('/').last}: $bad files with wrong PE_num")
    else Seq.empty
  }
}
