package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.Ingest
import graft.normalize.{JsonRepair, Normalize}
import graft.sample.Sampling
import graft.vector.VectorOps

/** Direct specs for helpers not pinned by an oracle query. */
class HelperSpec extends AnyFunSuite {
  import SparkTestSession._

  private def one(c: org.apache.spark.sql.Column, input: String): Any = {
    import spark.implicits._
    Seq(Option(input)).toDF("s").select(c.as("r")).collect()(0).get(0)
  }

  test("repairCommon fixes trailing commas and single quotes") {
    val f = (s: String) => one(
      get_json_object(JsonRepair.repairCommon(col("s")), "$.a"), s)
    assert(f("""{"a": "1",}""") == "1")
    assert(f("{'a': '2'}") == "2")
    assert(f("""{"a": "it's fine"}""") == "it's fine")
  }

  test("safeParseList parses, repairs, or wraps") {
    val f = (s: String) => one(JsonRepair.safeParseList(col("s"), StringType), s)
    assert(f("""["a", "b"]""") == Seq("a", "b"))
    assert(f("""["a", "b"""") == Seq("a", "b")) // missing ] repaired
    assert(f("plain") == Seq("plain"))          // wrapped as singleton
  }

  test("conformTo renames, reorders and null-fills to the target schema") {
    import spark.implicits._
    val df = Seq(("x", 1)).toDF("document_name", "n")
    val out = Ingest.conformTo(df, Map("document_name" -> "label"),
      Seq("label", "missing_col"))
    assert(out.columns.toSeq == Seq("label", "missing_col"))
    val row = out.collect()(0)
    assert(row.getString(0) == "x" && row.isNullAt(1))
  }

  test("rescale01 and formatMoney behave per reference") {
    import spark.implicits._
    val r = Seq(-1234.5).toDF("v")
      .select(VectorOps.rescale01(lit(0.5)), Normalize.formatMoney(col("v")))
      .collect()(0)
    assert(r.getDouble(0) == 0.75)
    assert(r.getString(1) == "-$1,234.50")
  }

  test("fixedSample is deterministic and bounded") {
    val d = graft.core.Tables(spark, sf).documents
    val a = Sampling.fixedSample(d, 25, col("doc_id"))
      .collect().map(_.getLong(0)).toSeq
    val b = Sampling.fixedSample(d.repartition(5), 25, col("doc_id"))
      .collect().map(_.getLong(0)).toSeq
    assert(a.length == 25 && a == b)
  }

  test("keepLines duplicates short docs like the reference") {
    val f = (s: String) => one(graft.text.TextOps.keepLines(col("s")), s)
    assert(f("a\nb\nc\nd\ne") == "a\nb\nd\ne")
    assert(f("only") == "only\nonly")
  }

  test("dsir selects the raw docs that match the target domain") {
    import spark.implicits._
    // target vocabulary A; raw pool = 10 domain-matching docs + 40
    // off-domain docs. The importance-weight gap (~22 nats) dwarfs the
    // Gumbel perturbation's full range (~[-2.5, 11.8] over 16-bit
    // uniforms), so the selection must be exactly the matching docs.
    val docs = (
      (0 until 5).map(i => (i.toLong, "alpha beta gamma delta alpha beta", "tgt")) ++
      (0 until 10).map(i => ((100 + i).toLong, "alpha beta gamma delta beta gamma", "raw")) ++
      (0 until 40).map(i => ((200 + i).toLong, "omega psi chi phi omega psi", "raw"))
    ).toDF("doc_id", "text", "source")
    // the pool holds all 50 raw docs, so k = 50 selects every one of
    // them; the 10 domain-matching docs must take ranks 1..10
    val all = graft.sample.Dsir.importanceResample(spark, docs, "tgt")
      .collect()
    val sel = all.filter(_.getLong(1) <= 10L)
    assert(sel.map(_.getLong(0)).toSet == (100L until 110L).toSet)
    // ranks are 1..k and scores non-increasing
    assert(all.map(_.getLong(1)).sorted.toSeq == (1L to 50L))
    val byRank = all.sortBy(_.getLong(1)).map(_.getDouble(4))
    assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
  }

  test("readPages keeps PE_num = physical line order on a file large " +
      "enough to split") {
    // the r9 verdict hole: a CSV bigger than maxPartitionBytes split
    // into size-packed partitions and silently scrambled PE_num; the
    // multiLine (non-splittable) read must hold line order at any size
    val root = java.nio.file.Files.createTempDirectory("graft_bigcsv").toString
    val dir = java.nio.file.Paths.get(root, "EML")
    java.nio.file.Files.createDirectories(dir)
    val n = 20000
    // raw OCR-ish lines INCLUDING hostile content: an unbalanced
    // leading double-quote (under default CSV quoting + multiLine it
    // would swallow every following line into one record) and commas
    // (default delimiter would split the single text column)
    val lines = (1 to n).map {
      case i if i % 7 == 0 => s""""line_$i unbalanced"""
      case i if i % 3 == 0 => s"line_$i, with, commas"
      case i => s"line_$i"
    }
    java.nio.file.Files.write(dir.resolve("big.csv"),
      String.join("\n", lines: _*).getBytes("UTF-8"))
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    try {
      val pages = graft.ingest.Ingest.readPages(spark, root, Seq("EML"))
        .select(org.apache.spark.sql.functions.col("PE_num"),
          org.apache.spark.sql.functions.col("text"))
        .collect().map(r => r.getInt(0) -> r.getString(1))
      assert(pages.length == n)
      pages.foreach { case (pe, text) =>
        assert(text == lines(pe - 1),
          s"PE_num $pe carries '$text', expected '${lines(pe - 1)}'")
      }
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("fixture roots: absolute, under java.io.tmpdir, stable per (tag, dir)") {
    import graft.core.TempDirs.fixtureRoot
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
      .toAbsolutePath.normalize
    val a = java.nio.file.Paths.get(fixtureRoot("i01", sf))
    assert(a.isAbsolute, s"$a")
    assert(a.normalize.startsWith(tmp), s"$a not under $tmp")
    assert(fixtureRoot("i01", sf) == a.toString, "same (tag, dir) must be stable")
    assert(fixtureRoot("i01", sf + "x") != a.toString, "dirs must not collide")
    assert(fixtureRoot("i05", sf) != a.toString, "tags must not collide")
    // one per-JVM parent for every fixture tree
    assert(java.nio.file.Paths.get(fixtureRoot("i05", sf)).getParent == a.getParent)
  }

  test("transient cache tracker: sweep releases, bound evicts oldest") {
    import org.apache.spark.storage.StorageLevel
    import spark.implicits._
    graft.core.Caches.releaseTransients() // clean slate
    val a = graft.core.Caches.transient(Seq(1, 2, 3).toDF("x"))
    a.count()
    assert(a.storageLevel != StorageLevel.NONE)
    graft.core.Caches.releaseTransients()
    assert(a.storageLevel == StorageLevel.NONE, "sweep must unpersist")
    // bound: past 64 live entries the oldest is evicted on register
    val first = graft.core.Caches.transient(Seq(0).toDF("x"))
    first.count()
    val rest = (1 to 70).map(i => graft.core.Caches.transient(Seq(i).toDF("x")))
    assert(first.storageLevel == StorageLevel.NONE,
      "oldest tracked frame must be evicted past the bound")
    assert(rest.last.storageLevel != StorageLevel.NONE)
    graft.core.Caches.releaseTransients()
  }

  test("a gate batch on another thread leaves this thread's cut alive") {
    import spark.implicits._
    def txt(seed: String): String = (1 to 20).map(i => seed + i).mkString(" ")
    val held = graft.core.Caches.cut(Seq(1L, 2L, 3L).toDF("x")).filter($"x" > 1L)
    val root = java.nio.file.Files.createTempDirectory("graft_xthread").toString
    val rows = Seq(1L -> txt("alpha"), 2L -> txt("alpha")).toDF("doc_id", "text")
    @volatile var failure: Option[Throwable] = None
    val gate = new Thread(() =>
      try graft.streaming.Streams.dedupGateBatch(spark, rows, 0L,
        s"$root/decisions", s"$root/hist")
      catch { case e: Throwable => failure = Some(e) })
    gate.start()
    gate.join()
    assert(failure.isEmpty, s"gate batch failed: $failure")
    assert(held.count() == 2L)
  }

  test("concurrent scopes label only their own memo entries") {
    import spark.implicits._
    import java.util.concurrent.{CountDownLatch, atomic}
    val builds = Map("a" -> new atomic.AtomicInteger, "b" -> new atomic.AtomicInteger)
    def memo(name: String) = graft.core.Artifacts.memo(spark, s"scope_spec:$name") {
      builds(name).incrementAndGet()
      Seq(name).toDF("s")
    }
    // both scopes are open while both memos are built
    val open = new CountDownLatch(2)
    val built = new CountDownLatch(2)
    val frames = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]
    val threads = Seq("a", "b").map(name => new Thread(() =>
      graft.core.Caches.scoped(name) {
        open.countDown()
        open.await()
        frames.put(name, memo(name))
        built.countDown()
        built.await()
      }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(builds.values.map(_.get).toSeq == Seq(1, 1))
    graft.core.Artifacts.dropScope("a")
    assert(frames.get("a").storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(frames.get("b").storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    memo("a"); memo("b")
    assert(builds("a").get == 2, "a's entry must be evicted and rebuilt")
    assert(builds("b").get == 1, "b's entry must survive a's drop")
    graft.core.Artifacts.dropScope("b")
  }

  test("a frame used after its scope closes fails with " +
      "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND") {
    import spark.implicits._
    val leaked = graft.core.Caches.scoped("use after release") {
      val cut = graft.core.Caches.cut(Seq(1L, 2L).toDF("x"))
      assert(cut.count() == 2L)
      cut.filter($"x" > 0L)
    }
    val e = intercept[Exception](leaked.count())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(messages.exists(_.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")), e)
  }

  test("small CPU-dense tables spread scan work across all cores") {
    val tb = graft.core.Tables(spark, SparkTestSession.sf)
    val cores = spark.sparkContext.defaultParallelism
    // single-row-group test parquet reads as one task raw...
    assert(tb.documents.rdd.getNumPartitions < cores)
    // ...and the opt-in spread reaches the session's full parallelism
    assert(tb.documentsSpread.rdd.getNumPartitions == cores)
    assert(tb.embeddingsSpread.rdd.getNumPartitions == cores)
    // the spread moves rows, never changes them
    val raw = tb.documents.select("doc_id").collect().map(_.getLong(0)).sorted
    val spread = tb.documentsSpread.select("doc_id").collect()
      .map(_.getLong(0)).sorted
    assert(raw.sameElements(spread))
  }

  test("histogram quantile sketch: nulls excluded, estimates within one " +
      "bin width of the target-rank value") {
    import spark.implicits._
    val withNulls = ((1 to 100).map(i => Option(i.toDouble)) ++
      Seq.fill(50)(Option.empty[Double])).toDF("x")
    val est = graft.core.Sketches.histogramQuantilesWithWidth(
        withNulls, col("x"), bins = 10, probs = Seq(0.25, 0.5, 0.9))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
      .toSeq
    assert(est.map(_._1) == Seq(0.25, 0.5, 0.9))
    // bin width from the NON-NULL range (100 − 1)/10 — nulls must not
    // reach the bounds scan or the rank targets
    assert(math.abs(est.head._3 - 9.9) < 1e-9)
    est.foreach { case (q, e, w) =>
      val exact = math.ceil(q * 100)
      assert(math.abs(e - exact) <= w + 1e-9,
        s"q=$q est=$e rank value=$exact width=$w")
    }
    // the 50 nulls change nothing: identical estimates to a clean frame
    val clean = (1 to 100).map(_.toDouble).toDF("x")
    val est2 = graft.core.Sketches.histogramQuantilesWithWidth(
        clean, col("x"), bins = 10, probs = Seq(0.25, 0.5, 0.9))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
      .toSeq
    assert(est == est2)
  }

  test("spread never fires on unknown paths or big tables") {
    assert(graft.core.Tables.bytesOf(spark, "/no/such/table.parquet")
      == Long.MaxValue)
    val known = graft.core.Tables.bytesOf(
      spark, s"${SparkTestSession.sf}/documents.parquet")
    assert(known > 0 && known < graft.core.Tables.SpreadMaxBytes)
  }
}
