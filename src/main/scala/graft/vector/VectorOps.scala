package graft.vector

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector arithmetic over `ArrayType(FloatType)` embedding columns
  * (SURVEY.md §2.9 L2, §2.8 F22/F23) as pure Catalyst expressions.
  *
  * All accumulation happens in double after an explicit element cast:
  * a left-to-right sequential fold, the same order the oracle's
  * `list_dot_product(CAST(... AS DOUBLE[]))` uses, so similarity
  * scores agree bit-for-bit and only need rounding at the result
  * boundary for display stability.
  */
object VectorOps {

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Inner product ⟨a,b⟩ in double — the native codegen expression
    * ([[graft.plans.ArrayDot]]); one fused primitive loop per row. */
  def dot(a: Column, b: Column): Column =
    graft.plans.ArrayDot.dotNative(a, b)

  /** The higher-order-function formulation of [[dot]] — kept as the
    * declarative cross-check (a spec asserts bitwise equality with the
    * native expression); ~10× slower: per-row array allocation + two
    * lambda evals per element, outside whole-stage codegen. */
  private[graft] def dotDeclarative(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)

  /** Euclidean norm ‖a‖. */
  def norm(c: Column): Column = sqrt(dot(c, c))

  /** L2-normalize (the reference's `faiss.normalize_L2`,
    * cosine-as-inner-product prep); zero vectors pass through. */
  def l2Normalize(c: Column): Column = {
    val n = norm(c)
    when(n === 0.0, asDouble(c)).otherwise(transform(asDouble(c), x => x / n))
  }

  /** Cosine similarity. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** The DuckDB twin of [[cosine]] over the `DOUBLE[]` expressions `a`
    * and `b`: the same three dots, folded the same way. */
  private[graft] def cosineSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  /** F22: `(1+sim)/2` rescale to [0,1] (`faiss_new_.py:502`). */
  def rescale01(sim: Column): Column = (lit(1.0) + sim) / 2.0
}
