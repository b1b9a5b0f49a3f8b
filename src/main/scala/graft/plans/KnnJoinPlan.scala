package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** kNN join as a first-class plan node (SURVEY.md §7.3 tier c / the
  * custom-operator ladder in the builder brief): a logical
  * [[KnnJoinPlan]], a [[KnnJoinStrategy]] planner rule injected via
  * [[GraftExtensions]], and a physical [[KnnJoinExec]].
  *
  * The physical operator is the engine's one exact kNN scan, behind
  * [[graft.vector.KnnJoin.search]]: the index side executes first and
  * broadcasts (like BroadcastHashJoin's build side), the probe side
  * streams partition-parallel with a bounded top-k selection per row.
  * Tie rule (sim desc, id asc) and the sequential double fold match
  * the declarative [[graft.vector.KnnJoin.exactCross]] bit-for-bit.
  *
  * Both children must produce exactly (id: long, embedding:
  * array<float|double>) rows — the `knnJoin` helper below shapes and
  * attaches them.
  */
case class KnnJoinPlan(left: LogicalPlan, right: LogicalPlan, k: Int,
                       excludeSelf: Boolean, output: Seq[Attribute])
  extends BinaryNode {
  // output attributes are CONSTRUCTOR state, not a derived val: every
  // plan transformation copies the node, and regenerating attribute
  // expr-ids would orphan downstream references (the classic custom-
  // node binding bug).
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  // the operator consumes EVERY child column positionally; without
  // this, ColumnPruning sees an empty `references` set and rewrites
  // the children to zero-column scans — the exec then reads fields
  // of empty rows (observed as a hard JVM crash, not an error).
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(left.output ++ right.output)
  // at most k rows per query row, each narrower than the query row
  // (ids and a sim vs an id and an embedding); the default for a
  // binary node multiplies both sides' sizes, which would keep every
  // join above this node off broadcast
  override def stats: Statistics = {
    val q = left.stats
    Statistics(sizeInBytes = q.sizeInBytes * k, rowCount = q.rowCount.map(_ * k))
  }
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): KnnJoinPlan =
    copy(left = newLeft, right = newRight)
}

case class KnnJoinExec(left: SparkPlan, right: SparkPlan, k: Int,
                       excludeSelf: Boolean,
                       override val output: Seq[Attribute])
  extends BinaryExecNode {

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  private def vecOf(row: InternalRow): Array[Double] = {
    val arr = row.get(1, ArrayType(DoubleType)).asInstanceOf[ArrayData]
    arr.toDoubleArray()
  }

  override protected def doExecute(): RDD[InternalRow] = {
    // build side: collect + broadcast the index (the FAISS-flat shape)
    val index: Array[(Long, Array[Double])] = right.executeCollect()
      .map(r => (r.getLong(0), vecOf(r)))
    val bc = sparkContext.broadcast(index)
    val kk = k
    val exSelf = excludeSelf
    val schema = output.map(_.dataType).toArray
    left.execute().mapPartitions { rows =>
      val idx = bc.value
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(schema)
      // materialize (id, vec) BEFORE fan-out: the upstream codegen
      // iterator reuses/invalidates its row buffer, and a downstream
      // consumer interleaving hasNext calls across our sub-iterators
      // would otherwise read freed memory
      val top = new graft.vector.KnnJoin.TopK(kk)
      rows.map(row => (row.getLong(0), vecOf(row))).flatMap { case (qid, qv) =>
        top.reset()
        var i = 0
        while (i < idx.length) {
          val (nid, nv) = idx(i)
          if (!(exSelf && nid == qid)) {
            var s = 0.0
            var d = 0
            while (d < nv.length) { s += qv(d) * nv(d); d += 1 }
            top.offer(nid, s)
          }
          i += 1
        }
        (0 until top.size).map { r =>
          proj(InternalRow(qid, (r + 1).toLong, top.ids(r), top.sims(r))).copy()
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): KnnJoinExec =
    copy(left = newLeft, right = newRight)
}

object KnnJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case KnnJoinPlan(l, r, k, ex, out) =>
      KnnJoinExec(planLater(l), planLater(r), k, ex, out) :: Nil
    case _ => Nil
  }
}

object KnnJoinPlan {
  /** Dataset-level handle: shape both sides to (id, array<double>)
    * and wrap them in the custom node. Requires [[KnnJoinStrategy]]
    * registered in the session ([[GraftExtensions]], which
    * [[graft.core.GraftSession]] installs). */
  def knnJoin(spark: SparkSession, queries: DataFrame, index: DataFrame,
              k: Int, excludeSelf: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions.col
    def shaped(df: DataFrame): LogicalPlan =
      ColumnBridge.analyzed(
        df.select(col("vec_id").cast("long").as("id"),
          col("embedding").cast("array<double>").as("v")))
    val out = Seq(
      AttributeReference("query_id", LongType, nullable = false)(),
      AttributeReference("rank", LongType, nullable = false)(),
      AttributeReference("neighbor_id", LongType, nullable = false)(),
      AttributeReference("sim", DoubleType, nullable = false)())
    // fresh aliases on top: when one frame meets itself in a join, the
    // analyzer can re-alias a Project, but it has no rule that renews
    // a custom node's produced attributes
    ColumnBridge.ofRows(spark,
        KnnJoinPlan(shaped(queries), shaped(index), k, excludeSelf, out))
      .toDF(out.map(_.name): _*)
  }
}
