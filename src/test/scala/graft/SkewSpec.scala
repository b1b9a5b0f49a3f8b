package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.relational.Skew

class SkewSpec extends AnyFunSuite {
  import SparkTestSession._

  test("salted join returns exactly the rows of the plain join") {
    val t = Tables(spark, sf)
    val fact = t.lineitem.select(col("l_orderkey"), col("l_quantity"))
    val dim = t.orders.select(col("o_orderkey").as("l_orderkey"),
      col("o_totalprice"))
    val plain = fact.join(dim, Seq("l_orderkey"))
      .groupBy("l_orderkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedJoin(fact, dim, "l_orderkey", 8)
      .groupBy("l_orderkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("salted two-phase sum equals direct groupBy sum") {
    val t = Tables(spark, sf)
    val direct = t.lineitem
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("s"))
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    val salted = Skew.saltedSum(t.lineitem, col("l_returnflag"),
        col("l_quantity").cast("decimal(18,2)"), 16)
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    assert(salted.keySet == direct.keySet)
    direct.foreach { case (k, v) =>
      assert(salted(k).compareTo(v) == 0, s"key $k")
    }
  }

  test("compaction collapses a fragmented directory to byte-budget file count") {
    def dataFiles(d: String) = new java.io.File(d).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    val frag = java.nio.file.Files.createTempDirectory("graft_frag").toString + "/in"
    Tables(spark, sf).documents
      .select(col("doc_id"), col("text"))
      .repartition(48)
      .write.mode("overwrite").parquet(frag)
    assert(dataFiles(frag).length == 48, "fixture must start fragmented")
    val fragBytes = dataFiles(frag).map(_.length).sum
    val target = 64 * 1024L
    val out = Skew.compact(spark, frag, frag + "_out", target)
    val files = dataFiles(out)
    val expected = math.max(1L, (fragBytes + target - 1) / target)
    assert(files.length == expected,
      s"expected $expected files, got ${files.length}")
    assert(files.length < 48, "compaction must reduce the file count")
    // content survives the rewrite bit-for-bit
    val before = spark.read.parquet(frag).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val after = spark.read.parquet(out).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == before)
    // round-robin repartition balances bytes: no file wildly over
    // target (2x covers compression-ratio variance between layouts)
    files.foreach(f => assert(f.length < 2 * target,
      s"${f.getName} is ${f.length} bytes, target $target"))
  }
}
