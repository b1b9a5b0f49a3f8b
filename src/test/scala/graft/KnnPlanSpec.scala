package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.plans.KnnJoinPlan
import graft.vector.KnnJoin

class KnnPlanSpec extends AnyFunSuite {
  import SparkTestSession._

  test("custom plan node executes through KnnJoinExec") {
    val e = Tables(spark, sf).embeddings
    val df = KnnJoinPlan.knnJoin(spark, e, e, 3)
    val physical = df.queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the Exec suffix in tree rendering
    assert(physical.contains("KnnJoin"), s"plan:\n$physical")
    assert(df.columns.toSeq == Seq("query_id", "rank", "neighbor_id", "sim"))
  }

  /** The declarative twin's (query_id, rank, neighbor_id, sim) rows:
    * ArrayDot folds the same doubles in the same order as the exec. */
  private def declarative(e: org.apache.spark.sql.DataFrame) =
    KnnJoin.exactCross(e, e, 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet

  test("custom operator results equal the declarative exactCross exactly") {
    val e = Tables(spark, sf).embeddings
    val viaPlan = KnnJoinPlan.knnJoin(spark, e, e, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(viaPlan == declarative(e))
  }

  test("optimizer rule rewrites the naive window-rank top-k plan to KnnJoinExec") {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(spark, sf).embeddings
    val q = e.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("q_emb"))
    val n = e.select(col("vec_id").as("neighbor_id"),
      col("embedding").cast("array<double>").as("n_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    // the textbook declarative formulation a user would write
    val naive = q.join(n, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", graft.vector.VectorOps.dot(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
    val physical = naive.queryExecution.executedPlan.toString
    assert(physical.contains("KnnJoin"), s"rewrite did not fire:\n$physical")
    assert(!physical.toLowerCase.contains("window"), "window survived the rewrite")
    val viaRule = naive.collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2), r.getDouble(3))).toSet
    assert(viaRule == declarative(e))
  }

  test("rewrite leaves plans with payload columns untouched") {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(spark, sf).embeddings
    val q = e.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("q_emb"))
    val n = e.select(col("vec_id").as("neighbor_id"),
      col("embedding").cast("array<double>").as("n_emb"),
      col("label").as("n_label"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    val withPayload = q.join(n, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", graft.vector.VectorOps.dot(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"),
        col("n_label"))
    // the declarative twin carries its n_label payload the same way,
    // so the operator is never checked against itself
    Seq(withPayload, KnnJoin.exactCross(e, e, 3)).foreach { df =>
      val physical = df.queryExecution.executedPlan.toString
      assert(!physical.contains("KnnJoin"), s"rewrite fired on a payload plan:\n$physical")
    }
    assert(withPayload.count() > 0)
  }

  test("custom operator composes with downstream relational ops") {
    val e = Tables(spark, sf).embeddings
    val top1Counts = KnnJoinPlan.knnJoin(spark, e, e, 1)
      .join(e.select(col("vec_id").as("neighbor_id"), col("label")), Seq("neighbor_id"))
      .groupBy("label").count()
    assert(top1Counts.collect().map(_.getLong(1)).sum == e.count())
  }
}
