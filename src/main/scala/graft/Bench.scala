package graft

/** Per-round benchmark: every declared query materialized to the
  * no-op sink (full execution including projections — `.count()`
  * would let Catalyst prune most of the work) on
  * `SPARK_GRAFT_SF_DIR`, one JSON line to stdout.
  *
  * Observability fields (round 7): `canary` = [pre, post] seconds of a
  * fixed-work CPU-bound query bracketing the run (box-speed control —
  * cross-box query ratios are meaningful only relative to the canary
  * ratio); `artifact_ms` = per-artifact build wall ms (abbreviated
  * keys); `BENCH_DETAIL.json` in the cwd carries the same with full
  * names. `tools/benchdiff.py` consumes consecutive rounds' JSON and
  * flags canary-normalized >1.5x movers.
  *
  * Round 9: the retry instrument covers BOTH outliers (>max(3 s,
  * 8x median) — transient windows on a shared host) and round-over-
  * round MOVERS (>=1.5x the previous committed BENCH_FULL line,
  * canary-normalized, same sf) — the sub-3 s blind band where round
  * 8's a05/a06/x01/x03 regressions sat without an in-artifact second
  * opinion. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = core.GraftSession.local()
    // one warmup pass primes the JIT + parquet footer caches so the
    // numbers measure the queries, not JVM startup
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable =>
      // a broken flagship must be VISIBLE: the timed numbers below
      // would silently include JIT warm-up if this failed quietly
      System.err.println(s"BENCH WARMUP FAIL: $e")
    }
    // a failed query records -1 (NOT a normal-looking elapsed time) and
    // goes to stderr, so the bench JSON distinguishes crash from fast
    // SPARK_GRAFT_ONLY=d02,f01 limits the run for local iteration;
    // a bare family prefix (ONLY=d02) selects d02_* but "d1" does NOT
    // select d10..d15 — a prefix must be the full name or end at '_'
    // blank env (SPARK_GRAFT_ONLY= exported-but-empty) means "unset",
    // not "select nothing"
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.trim).filter(_.nonEmpty)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Fixed-work canary: a constant CPU-bound computation (no input
    // data, no shuffle past the final one-row sum, fully codegen'd)
    // that does IDENTICAL work every round and on every box. Its
    // seconds calibrate the box: driver_canary / local_canary is the
    // machine-speed factor, so a query whose driver/local ratio far
    // exceeds the canary ratio is a real anomaly, not box noise —
    // the attribution instrument the a07 investigation lacked.
    // Run twice, bracketing the timed work, so mid-run load shifts
    // (co-located processes on a shared box) are visible as canary
    // disagreement rather than silently polluting query numbers.
    import org.apache.spark.sql.functions.{col, sum, xxhash64}
    def canary(): Double = {
      val t = System.nanoTime()
      spark.range(0, 1L << 32, 1, 32)
        .select(sum(xxhash64(col("id"), xxhash64(col("id")))))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t) / 1e9
    }
    // one untimed run JIT-warms the canary codepath so pre/post
    // measure box speed, not compilation state
    val canaryPre = if (only.isEmpty) { canary(); canary() } else -1.0
    def matches(n: String, o: String): Boolean =
      n == o || n.startsWith(o + "_") || (o.contains("_") && n.startsWith(o))
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(matches(n, _))) }
    // Session artifacts (extraction long frame, self-kNN top-3, pair
    // mining, trained heads) are compute-once state shared by many
    // queries — the reference builds its FAISS index/checkpoint ONCE.
    // Build and materialize them BEFORE the timed loop and report the
    // cost as its own line; each query's scope below releases only
    // transient caches, so queries measure consumption, not
    // re-derivation of shared state.
    // SPARK_GRAFT_ONLY subset runs (local iteration) skip the warm —
    // an unrelated subset would otherwise pay for model training and
    // index builds it never reads; artifact cost then lands inside
    // whichever selected query builds it, exactly as pre-warm runs do.
    val tArt = System.nanoTime()
    val artifactsFailedCnt = new java.util.concurrent.atomic.AtomicInteger(0)
    // per-artifact wall ms — the round-6 artifact line (36% of the
    // driver total) was one opaque aggregate; this is its breakdown
    val artMs = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    if (only.isEmpty) {
      // OVERLAP independent artifact builds from a small thread pool
      // (guide §2.6: actions are only sequential because the driver
      // calls them sequentially — a 2-3-deep pool lets the next
      // build's tasks back-fill the cores a straggling tail leaves
      // idle; at sf0.1 most builds run 1-3 near-serial stages, so the
      // phase was ~driver-serial). Builds stay grouped by family
      // prefix and sequential WITHIN the group, preserving today's
      // build order for memo-linked pairs (ivf_assign trains
      // ivf_centroids inside itself, pq_codes reads pq_codebook, the
      // aug_ivf pair likewise), so no artifact is trained twice.
      // Job descriptions are thread-local — each build labels its own
      // jobs. Per-artifact wall ms keeps its meaning (that build's
      // own start→finish), but builds now overlap, so the per-name
      // values no longer sum to the phase wall ("artifacts").
      val chains = SparkEntry.packs.flatMap(_.artifacts.toSeq).sortBy(_._1)
        .groupBy { case (n, _) => n.split('_').head }.toSeq.sortBy(_._1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val futures = chains.map { case (_, arts) =>
        scala.concurrent.Future {
          arts.foreach { case (name, build) =>
            spark.sparkContext.setJobDescription(s"artifact: $name")
            val t0 = System.nanoTime()
            // its own scope: no build transient stays pinned into the
            // timed queries
            try core.Caches.scoped(name) {
              build(spark, sfDir).write.format("noop").mode("overwrite").save()
              artMs.synchronized {
                artMs += name -> ((System.nanoTime() - t0) / 1000000)
              }
            } catch { case e: Throwable =>
              // tracked in the JSON: a failed warm silently shifts the
              // artifact's cost into whichever query rebuilds it, so a
              // bench line with artifacts_failed>0 is not comparable
              artifactsFailedCnt.incrementAndGet()
              System.err.println(s"BENCH ARTIFACT FAIL $name: $e")
            }
          }
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futures),
        scala.concurrent.duration.Duration.Inf)
      pool.shutdown()
      spark.sparkContext.setJobDescription(null)
      // stable output order regardless of completion interleaving
      val sorted = artMs.sortBy(_._1).toSeq
      artMs.clear(); artMs ++= sorted
    }
    val artifactsFailed = artifactsFailedCnt.get
    val artifactsSec = (System.nanoTime() - tArt) / 1e9
    val results = selected.map { case (name, fn) =>
      // the query's scope labels its memo creations, so a retry drops
      // exactly what this pass built and re-measures the same work
      // (a memo-hit retry would collapse scale factors), and releases
      // its caches so one query's working set doesn't GC-tax the next;
      // cleanup counts against its query. Artifacts stay cached.
      val t0 = System.nanoTime()
      val err = core.Caches.scoped(name) {
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable => Some(e) }
      }
      err match {
        case None => name -> (System.nanoTime() - t0) / 1e9
        case Some(e) =>
          System.err.println(s"BENCH FAIL $name: $e")
          name -> -1.0
      }
    }
    // Anomaly retries: single-shot timings on a shared-host microVM
    // carry 4-20x transient windows (measured locally: a07 3.6 s and
    // 15.9 s, d09 2.8 s and 44.9 s, same code/box/canary) that the
    // pre/post canary brackets cannot see mid-run. Re-run the
    // outliers once after the sweep: a retry far below the first
    // pass attributes the first to a transient (contention/JIT), a
    // retry that matches it confirms the cost is real. Headline
    // total keeps the first-pass numbers (honest: that work
    // happened); `retry` carries the second opinion.
    val med = {
      val ok = results.map(_._2).filter(_ >= 0).sorted
      if (ok.isEmpty) 0.0 else ok(ok.size / 2)
    }
    def shortName(n: String): String = n.indexOf('_') match {
      case -1 => n
      case i  => n.substring(0, i)
    }
    // Round-over-round movers: the outlier bar above leaves a BLIND
    // BAND — a sub-3 s query that doubled since last round got no
    // in-artifact second opinion (round-8 verdict: a05/a06/x01/x03).
    // BENCH_FULL.json in the cwd is the PREVIOUS round's committed
    // driver line at this point (this run overwrites it only at the
    // end), so compare each first pass against it, canary-normalized,
    // and retry anything >= 1.5x its prior time. Same-sf lines only —
    // scalerun's scale leg sees the 1x leg's line and must not treat
    // 10x data as a regression.
    val movers: Seq[String] =
      if (only.nonEmpty || canaryPre <= 0) Seq.empty
      else try {
        val p = java.nio.file.Paths.get("BENCH_FULL.json")
        if (!java.nio.file.Files.exists(p)) Seq.empty
        else {
          val root = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(java.nio.file.Files.readString(p))
          if (root.path("sf").asText("") != new java.io.File(sfDir).getName)
            Seq.empty
          else {
            val prevCanary = {
              val c = root.path("canary")
              val vs = (0 until c.size).map(c.get(_).asDouble(-1)).filter(_ > 0)
              if (vs.isEmpty) -1.0 else vs.sum / vs.size
            }
            val norm = if (prevCanary > 0) canaryPre / prevCanary else 1.0
            val prevQ = root.path("queries")
            results.collect {
              // prev == 0.00 means the prior committed line ROUNDED a
              // sub-5ms query to zero (2-decimal stdout format) — a
              // regression from there to just under the 3 s outlier
              // bar would otherwise never retry; treat any >= 0.4 s
              // first pass over a 0.00 prior as a mover too
              case (n, s)
                  if s >= 0.4 && {
                    val prev = prevQ.path(shortName(n)).asDouble(-1)
                    prev == 0.0 || (prev > 0 && s > 1.5 * prev * norm)
                  } =>
                n
            }
          }
        }
      } catch { case e: Throwable =>
        System.err.println(s"BENCH MOVER SCAN FAIL: $e"); Seq.empty
      }
    val outliers = results
      .filter { case (_, s) => s > math.max(3.0, 8 * med) }
      .sortBy { case (_, s) => -s }
      .take(6)
      .map(_._1)
    val firstPass = results.toMap
    val toRetry = outliers ++
      movers.filterNot(outliers.contains).sortBy(n => -firstPass(n)).take(6)
    val retries = toRetry
      .flatMap { name =>
        // rebuild, don't read back, whatever session memos the first
        // pass created (scope-tracked) — the retry must re-measure
        // the same work or it is not a second opinion
        core.Artifacts.dropScope(name)
        val t0 = System.nanoTime()
        core.Caches.scoped(name) {
          try {
            SparkEntry.queries(name)(spark, sfDir)
              .write.format("noop").mode("overwrite").save()
            Some(name -> (System.nanoTime() - t0) / 1e9)
          } catch { case e: Throwable =>
            System.err.println(s"BENCH RETRY FAIL $name: $e")
            None
          }
        }
      }
    // The harness captures only the last ~2 KB of stdout: keys are
    // abbreviated to the unique family prefix (m01_confusion -> m01)
    // and seconds rounded to 2 decimals to keep this line near that
    // window (full names + 3 decimals are in BENCH_DETAIL.json).
    val canaryPost = if (only.isEmpty) canary() else -1.0
    def short(n: String): String = shortName(n)
    val keys = results.map { case (n, _) => short(n) }
    require(keys.distinct.size == keys.size, "bench key abbreviation collision")
    val qs = results.map { case (n, v) => "\"" + short(n) + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    // artifact names abbreviate to first-token + initials of the rest
    // ("aug_ivf_centroids" -> "aug_ic"); a collision falls back to the
    // colliding full names ("pq_codebook"/"pq_codes"). The full-name
    // map is in BENCH_DETAIL.json.
    def artShort(n: String): String =
      n.split('_').toSeq.filter(_.nonEmpty) match {
        case head +: rest if rest.nonEmpty =>
          head + "_" + rest.map(_.head).mkString
        case _ => n
      }
    val artKeys = {
      val abbr = artMs.map { case (n, _) => n -> artShort(n) }
      val dup = abbr.groupBy(_._2).filter(_._2.size > 1).keySet
      abbr.map { case (n, s) => if (dup(s)) n else s }
    }
    require(artKeys.distinct.size == artKeys.size, "artifact key collision")
    val artJson = artMs.zip(artKeys)
      .map { case ((_, ms), k) => "\"" + k + "\":" + ms }
      .mkString("{", ",", "}")
    val failed = results.count(_._2 < 0)
    // "value" keeps its PRE-canary cross-round definition: artifact
    // build + first-pass queries, nothing else — a round-6 total and a
    // round-7 total measure the same work. Instrument overhead (the
    // two canary brackets, outlier retries) varies by round and box,
    // so it lives in its own fields ("canary", "retries_sec");
    // "wall_sec" is the reconstructed full wall time including both.
    val canarySec = Seq(canaryPre, canaryPost).filter(_ >= 0).sum
    val retriesSec = retries.map(_._2).sum
    val total = results.map(_._2).filter(_ >= 0).sum + artifactsSec
    // full-name detail for humans/scripts (stdout must stay inside the
    // harness's ~2 KB capture window; this file has no such budget)
    val retryJson = retries
      .map { case (n, v) => "\"" + short(n) + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val detail = {
      val a = artMs.map { case (n, ms) => s""""$n":$ms""" }.mkString("{", ",", "}")
      val q = results.map { case (n, v) => "\"" + n + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
      val r = retries.map { case (n, v) => "\"" + n + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
      val m = movers.map("\"" + _ + "\"").mkString("[", ",", "]")
      f"""{"canary_pre":$canaryPre%.3f,"canary_post":$canaryPost%.3f,"artifact_ms":$a,"queries":$q,"retry":$r,"movers":$m,"sf":"$sfDir"}"""
    }
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_DETAIL.json"), detail + "\n")
    catch { case e: Throwable => System.err.println(s"BENCH DETAIL WRITE FAIL: $e") }
    val sfName = new java.io.File(sfDir).getName
    // ONE JSON object, but field ORDER is load-bearing: the driver
    // captures only the last ~2 KB of stdout, and round 7's committed
    // artifact lost the headline/canary/retry fields to exactly that
    // truncation (BENCH_r07.json, "parsed": null). The bulky per-query
    // map therefore goes FIRST and every summary instrument LAST, so a
    // tail window always retains value/failed/canary/retry/artifact_ms
    // even when the front of the queries map is cut. The full line is
    // also written to BENCH_FULL.json (committed per round), which no
    // capture window can truncate.
    val line = f"""{"metric":"total","unit":"sec","n_queries":${results.size},"queries":$qs,"artifact_ms":$artJson,"retry":$retryJson,"canary":[$canaryPre%.2f,$canaryPost%.2f],"retries_sec":$retriesSec%.3f,"artifacts":$artifactsSec%.3f,"artifacts_failed":$artifactsFailed,"failed":$failed,"wall_sec":${total + canarySec + retriesSec}%.3f,"value":$total%.3f,"sf":"$sfName"}"""
    // BENCH_FULL.json is the COMMITTED driver-shaped artifact — a
    // SPARK_GRAFT_ONLY subset run (local iteration, posture probes)
    // must not overwrite it with a partial line (scale-dir full runs
    // are restored by scalerun, which rewrites the base leg's line)
    if (only.isEmpty)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_FULL.json"), line + "\n")
      catch { case e: Throwable => System.err.println(s"BENCH FULL WRITE FAIL: $e") }
    println(line)
    spark.stop()
  }
}
