package graft.metrics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Evaluation aggregations over long-format result tables.
  *
  * Reference semantics (public repo Kangaroo112233/Data_Ingestion_task):
  *  - per-field accuracy table with an appended "Overall" grand-total row
  *    (`metrics_8_6.py:40-61`) — here a single `rollup` so the grand
  *    total is computed in the same shuffle as the groups;
  *  - n-way agreement rate between classifier outputs (`rag_6.py:108-128`);
  *  - validation status classify MATCH / MISSING / FALSE_POSITIVE /
  *    MISMATCH (`ext_3_4.py:17-24`).
  *
  * All ratios are exact-sum / count with one final double division so
  * results are reproducible across partitionings (see [[graft.core.Exact]]).
  */
object Evaluation {

  /** Per-group accuracy table + "Overall" grand-total row via rollup.
    *
    * `correct` must be an int/boolean-like 0/1 column. One shuffle; the
    * rollup grand total rides the same exchange as the per-group rows.
    */
  def accuracyTable(df: DataFrame, field: Column, correct: Column): DataFrame =
    df.select(field.as("field"), correct.cast("long").as("c"))
      .rollup(col("field"))
      .agg(sum(col("c")).as("correct"), count(lit(1)).as("support"))
      .select(
        coalesce(col("field"), lit("Overall")).as("field"),
        col("correct"),
        col("support"),
        (col("correct").cast("double") / col("support").cast("double")).as("accuracy"))

  /** Fraction of rows where all given classifier outputs agree. */
  def agreementRate(df: DataFrame, outputs: Seq[Column]): DataFrame = {
    val allEq = outputs.sliding(2).map { case Seq(a, b) => a === b }
      .reduce(_ && _)
    df.agg(
      sum(when(allEq, 1L).otherwise(0L)).as("agree"),
      count(lit(1)).as("total"))
      .select(
        col("agree"), col("total"),
        (col("agree").cast("double") / col("total").cast("double")).as("agreement_pct"))
  }

  /** MATCH / MISSING / FALSE_POSITIVE / MISMATCH (`ext_3_4.py:17-24`).
    * "NULL" (the string sentinel) and SQL null both count as absent. */
  def validationStatus(predicted: Column, expected: Column): Column = {
    val predAbsent = predicted.isNull || predicted === "NULL" || predicted === ""
    val expAbsent = expected.isNull || expected === "NULL" || expected === ""
    when(predAbsent && expAbsent, "MATCH")
      .when(!predAbsent && expAbsent, "FALSE_POSITIVE")
      .when(predAbsent && !expAbsent, "MISSING")
      .when(trim(predicted) === trim(expected), "MATCH")
      .otherwise("MISMATCH")
  }
}
