package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** `report_session`: one analysis session over the engine's tables, a
  * closed loop of declared queries from `SparkEntry.queries`.
  *
  * Set-up builds the session artifacts the mix reads and runs one
  * warm-up pass over each distinct query. Each timed
  * round then runs every distinct query once, in an order drawn from
  * the seed. One operation is one query, materialized by `collect()`;
  * `Caches.releaseTransients()` follows every query, as in
  * `graft.Bench`. After the timed phase each distinct query's first
  * result is written for the DuckDB oracle check in `run.py`. */
object ReportSession {
  /** The mix. For each pack, the declared query with an oracle that has
    * the lowest committed sf0.1 single-shot time in `BENCH_FULL.json`,
    * skipping `r13_approx_distinct` and queries that read a session
    * artifact other than [[MixArtifacts]] (the dedup, ML and BPE
    * artifact builds alone cost about 20 s of set-up at this scale; the
    * ML pack has no other query). Added to those: the declared twins of
    * the batch pipeline's report and kNN steps, `m02_classification_report`,
    * `l02_extract_accuracy` and `v02_knn_classify`. */
  val Mix: Seq[String] = Seq(
    "a14_luhn_redact", "d01_exact_dedup", "f01_field_diffs", "i02_ingest_flatten",
    "i03_web_scrape", "i04_xlsx_roundtrip", "l01_extract_long", "l02_extract_accuracy",
    "m02_classification_report", "m06_ece", "mm03_resized", "n08_validation_status",
    "p04_confirm_route", "r10_union_segments", "s02_sliding_counts", "t06_truncate",
    "v02_knn_classify", "v18_fixed_sample", "x03_quantiles_exact")

  /** Session artifacts the mix reads, each built and timed in set-up:
    * `llm_extract` is `LlmPack.extractLongOn` over the documents table,
    * `knn_self_top3` is the exact `KnnJoin` self top-3 over embeddings. */
  val MixArtifacts: Seq[String] = Seq("llm_extract", "knn_self_top3")

  /** The batch pipeline's module layers, measured in `report_session` on the
    * artifact build or the declared queries that make the same call. */
  private val moduleOfArtifact = Map(
    "llm_extract" -> "llm.extract_s", "knn_self_top3" -> "vector.knn_s")
  private val moduleOfQuery = Map(
    "i02_ingest_flatten" -> "ingest.read_pages_s",
    "p04_confirm_route" -> "pipeline.confirm_route_s",
    "m02_classification_report" -> "metrics.report_s",
    "l02_extract_accuracy" -> "metrics.report_s")

  /** Layer name of a pack: the object name without `Pack`, lower-cased. */
  private def packName(q: String): String =
    SparkEntry.packs.find(_.queries.contains(q)).get.getClass.getSimpleName
      .stripSuffix("$").stripSuffix("Pack").toLowerCase

  val packLayers: Seq[String] = Mix.map(packName).distinct.sorted.map(p => s"report.${p}_s")

  private type Rows = Array[org.apache.spark.sql.Row]

  private def digest(rows: Rows): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def run(ctx: Ctx, warmups: Int, rounds: Int): Outcome = {
    val spark = ctx.spark
    val tables = s"${ctx.dir}/tables"
    val fns = SparkEntry.queries
    val fail = mutable.ArrayBuffer.empty[String]
    var failed = 0
    val first = mutable.LinkedHashMap.empty[String, (Rows, StructType)]
    val digests = mutable.Map.empty[String, String]
    val runs = mutable.Map.empty[String, Int].withDefaultValue(0)

    /** One query, collected; `None` if it threw. */
    def query(q: String): Option[(Rows, StructType)] =
      try {
        val df = fns(q)(spark, tables)
        Some((df.collect(), df.schema))
      } catch { case e: Exception =>
        fail += s"$q threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        None
      } finally graft.core.Caches.releaseTransients()

    def compare(q: String, out: Option[(Rows, StructType)]): Unit = {
      runs(q) += 1
      out match {
        case None => failed += 1
        case Some((rows, schema)) =>
          first.getOrElseUpdate(q, (rows, schema))
          val d = digest(rows)
          if (digests.getOrElseUpdate(q, d) != d) fail += s"$q returned different rows on run ${runs(q)}"
      }
    }

    val builders = SparkEntry.packs.flatMap(_.artifacts).toMap
    val artifactS = MixArtifacts.map { a =>
      val t = System.nanoTime()
      builders(a)(spark, tables).write.format("noop").mode("overwrite").save()
      graft.core.Caches.releaseTransients()
      a -> (System.nanoTime() - t) / 1e9
    }.toMap
    val artifactsS = artifactS.values.sum
    val warm = ctx.warmups(warmups * Mix.size) { i =>
      val q = Mix(i % Mix.size)
      compare(q, query(q))
    }
    val heldMb = Harness.storageHeldMb(spark)

    val opSeconds = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    (0 until rounds).foreach { r =>
      val order = new scala.util.Random(ctx.seed * 1000003L + r).shuffle(Mix)
      order.foreach { q =>
        val (out, s) = ctx.timed(query(q))
        opSeconds += s
        ctx.record(s"report.${packName(q)}_s", s)
        ctx.record(s"query.$q", s)
        compare(q, out)
      }
    }
    val timedWall = (System.nanoTime() - t0) / 1e9

    // each query's first result, for the oracle check in run.py
    val outDir = s"${ctx.dir}/results"
    first.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(s"$outDir/$q")
    }
    val oracles = SparkEntry.oracleSqlFor(tables).filter { case (q, _) => Mix.contains(q) }
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(outDir, "oracle_sql.json"), Harness.json(oracles))

    Outcome(opSeconds.toSeq, timedWall, opSeconds.size.toLong, "queries", warm,
      attempted = runs.values.sum, failed = failed, checkFailures = fail.toSeq,
      layers = if (ctx.trace.isDefined) {
        val med = ctx.layerMedians
        val modules = moduleOfQuery.toSeq.groupMapReduce(_._2)(x => med(s"query.${x._1}"))(_ + _) ++
          moduleOfArtifact.map { case (a, m) => m -> artifactS(a) }
        med ++ modules ++ Map("core.artifacts_s" -> artifactsS, "storage.held_mb" -> heldMb)
      } else Map.empty,
      extra = Map("artifacts_s" -> artifactsS, "distinct_queries" -> Mix.size.toDouble,
        "runs_per_query" -> (warmups + rounds).toDouble))
  }
}
