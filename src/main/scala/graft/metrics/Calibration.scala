package graft.metrics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Expected Calibration Error + reliability-diagram data.
  *
  * Reference: `compute_ece` / `prepare_reliability_data` (repo-root
  * README.md:4-36 of the reference): probabilities are digitized into
  * [[Bins]] uniform buckets; per bucket we take mean predicted confidence,
  * mean observed accuracy, and count; ECE = Σ (n_b/N)·|acc_b − conf_b|.
  *
  * Pure groupBy/agg — one shuffle over at most [[Bins]] groups, so it
  * scales to any input size. Confidence means are computed from exact
  * decimal sums (the 2-decimal inputs here are lossless) so the result
  * is reproducible across partitionings.
  */
object Calibration {

  /** Uniform probability buckets, the reference's ten. */
  private val Bins = 10

  /** The shared binning projection: (bin, p decimal, y long) — ONE
    * definition so the binning rule cannot drift between the
    * calibration operators (their SQL mirrors stay explicit per
    * query, as oracle strings must). */
  private def binned(df: DataFrame, prob: Column, label: Column): DataFrame =
    df.select(
      least(floor(prob * Bins), lit(Bins - 1)).cast("int").as("bin"),
      prob.cast("decimal(18,6)").as("p"),
      label.cast("long").as("y"))

  /** The ECE aggregation over per-bin (n, confidence, accuracy) rows:
    * |acc−conf|·n addends through a decimal(28,12) cast so the
    * ≤[[Bins]]-term sum is order-independent (and the oracle can
    * reproduce it exactly). Shared by ece/calibrationSummary/
    * temperatureScale. */
  private def eceOverBins: Column =
    (sum((col("n").cast("double") * abs(col("accuracy") - col("confidence")))
      .cast("decimal(28,12)")).cast("double") /
      sum(col("n")).cast("double"))

  /** Per-bin reliability table: bin, n, avg confidence, avg accuracy. */
  def reliabilityBins(df: DataFrame, prob: Column, label: Column): DataFrame =
    binned(df, prob, label)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("p")).as("sp"),
        sum(col("y")).as("sy"))
      .select(
        col("bin"), col("n"),
        (col("sp").cast("double") / col("n").cast("double")).as("confidence"),
        (col("sy").cast("double") / col("n").cast("double")).as("accuracy"))

  /** Scalar ECE from the reliability bins (driver gets a 1-row frame). */
  def ece(df: DataFrame, prob: Column, label: Column): DataFrame =
    reliabilityBins(df, prob, label).agg(eceOverBins.as("ece"))

  /** ECE + MCE + Brier in one pass (the full calibration-summary tier
    * the reference plans in `meeting_6_11.py:14` — ECE itself is
    * specified in its README.md:4-36; MCE/Brier are the standard
    * companions: MCE = worst-bin |acc−conf|, Brier = mean squared
    * error of the probability, Brier 1950).
    *
    * One groupBy over ≤[[Bins]] groups carrying (n, Σp, Σy, Σ(p−y)²);
    * the squared-error terms are IEEE-exact doubles rounded to 9
    * decimals and summed through decimals, so every emitted scalar is
    * partition-order-independent and oracle-replayable. */
  def calibrationSummary(df: DataFrame, prob: Column, label: Column): DataFrame = {
    val d = col("p").cast("double") - col("y").cast("double")
    binned(df, prob, label)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("p")).as("sp"),
        sum(col("y")).as("sy"),
        sum(round(d * d, 9).cast("decimal(28,9)")).as("sq"))
      .select(col("bin"), col("n"), col("sq"),
        (col("sp").cast("double") / col("n").cast("double")).as("confidence"),
        (col("sy").cast("double") / col("n").cast("double")).as("accuracy"))
      .agg(eceOverBins.as("ece"),
        max(abs(col("accuracy") - col("confidence"))).as("mce"),
        (sum(col("sq")).cast("double") / sum(col("n")).cast("double")).as("brier"))
  }

  /** Logit of a clamped probability, rounded to 9 decimals so both
    * engines carry the identical value into downstream transcendentals
    * (the a08 log-rounding discipline). */
  private def logit9(prob: Column): Column = {
    val pc = greatest(least(prob.cast("double"), lit(1 - 1e-6)), lit(1e-6))
    round(log(pc / (lit(1.0) - pc)), 9)
  }

  /** Temperature scaling (Guo et al. 2017 §4.2 — the calibration-FIT
    * half of the reference's `meeting_6_11.py:14` plan): recover
    * logits from the model's confidence, pick the temperature T that
    * minimizes held-out NLL over a fixed grid (T = 0.25 … 10.00 step
    * 0.05), and report ECE on the eval split before and after
    * rescaling.
    *
    * The grid search IS the deterministic optimizer: per-(row, T) NLL
    * terms `ln(1+e^((1−2y)·z/T))` are rounded to 9 decimals and summed
    * through decimals, so each candidate's NLL — and therefore the
    * argmin (ties → smaller T) — is bitwise-reproducible in DuckDB,
    * which a line-search with data-dependent iterates would not be.
    * Work is rows × 196 grid points through one shuffle of ≤196 groups:
    * linear in the corpus, no driver-side loop, no per-iteration job.
    *
    * Returns one row: (t_star, nll_star, ece_before, ece_after). */
  def temperatureScale(fit: DataFrame, eval: DataFrame,
                       prob: Column, label: Column): DataFrame = {
    val zy = fit.select(logit9(prob).as("z"), label.cast("long").as("y"))
    val grid = fit.sparkSession.range(5, 201)
      .select((col("id").cast("double") * 0.05).as("t"))
    val nll = zy.crossJoin(broadcast(grid))
      .select(col("t"),
        round(log(lit(1.0) +
          exp((lit(1.0) - lit(2.0) * col("y")) * col("z") / col("t"))), 9)
          .cast("decimal(28,9)").as("term"))
      .groupBy(col("t"))
      .agg((sum(col("term")).cast("double") / count(lit(1)).cast("double"))
        .as("nll"))
    val tStar = nll.orderBy(col("nll"), col("t")).limit(1)
      .select(col("t").as("t_star"), round(col("nll"), 6).as("nll_star"))
    val ez = eval.select(logit9(prob).as("z"),
      prob.cast("decimal(18,6)").as("p"), label.cast("long").as("y"))
    val scaled = ez.crossJoin(broadcast(tStar))
      .select(col("t_star"), col("nll_star"), col("p"), col("y"),
        round(lit(1.0) / (lit(1.0) + exp(-col("z") / col("t_star"))), 6)
          .cast("decimal(18,6)").as("p_cal"))
    // two binned ECEs (original p, calibrated p_cal) in one pass:
    // aggregate per (which, bin) then combine — `which` ∈ {0,1}.
    val long = scaled.select(col("t_star"), col("nll_star"),
        explode(array(
          struct(lit(0).as("which"), col("p").as("pp"), col("y")),
          struct(lit(1).as("which"), col("p_cal").as("pp"), col("y"))))
          .as("r"))
      .select(col("t_star"), col("nll_star"), col("r.which").as("which"),
        col("r.pp").as("pp"), col("r.y").as("y"))
    val perWhichBin = long
      .groupBy(col("t_star"), col("nll_star"), col("which"),
        least(floor(col("pp").cast("double") * Bins), lit(Bins - 1))
          .cast("int").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pp")).as("sp"), sum(col("y")).as("sy"))
      .select(col("t_star"), col("nll_star"), col("which"), col("n"),
        (col("sp").cast("double") / col("n").cast("double")).as("confidence"),
        (col("sy").cast("double") / col("n").cast("double")).as("accuracy"))
    perWhichBin
      .groupBy(col("t_star"), col("nll_star"), col("which"))
      .agg(eceOverBins.as("ece"))
      .groupBy(col("t_star"), col("nll_star"))
      .agg(round(max(when(col("which") === 0, col("ece"))), 6).as("ece_before"),
        round(max(when(col("which") === 1, col("ece"))), 6).as("ece_after"))
      .select(col("t_star"), col("nll_star"), col("ece_before"), col("ece_after"))
  }

  /** Isotonic calibration over the reliability bins (the remaining
    * `meeting_6_11.py:14` fit; Zadrozny & Elkan KDD'02) via the
    * minimax closed form of weighted isotonic regression:
    * iso_i = max_{j≤i} min_{k≥i} (Σ_{l∈[j,k]} Σy_l)/(Σ_{l∈[j,k]} n_l)
    * — identical to pool-adjacent-violators on the binned data, but
    * expressed as joins over the ≤[[Bins]]-row bin relation (≤ bins³
    * interval terms), so there is no sorted driver-side fold and no
    * single-partition global sort; every value is an integer-sum
    * ratio, exact on both engines. */
  def isotonicBins(df: DataFrame, prob: Column, label: Column): DataFrame = {
    val perBin = binned(df, prob, label)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("p")).as("sp"), sum(col("y")).as("sy"))
    val members = perBin.select(col("bin").as("l"), col("n"), col("sy"))
    val intervals = perBin.select(col("bin").as("j"))
      .join(perBin.select(col("bin").as("k")), col("j") <= col("k"))
      .join(members, col("l").between(col("j"), col("k")))
      .groupBy(col("j"), col("k"))
      .agg((sum(col("sy")).cast("double") / sum(col("n")).cast("double")).as("m"))
    val iso = perBin.select(col("bin").as("i"))
      .join(intervals, col("j") <= col("i") && col("i") <= col("k"))
      .groupBy(col("i"), col("j")).agg(min(col("m")).as("mn"))
      .groupBy(col("i")).agg(max(col("mn")).as("iso"))
    perBin.join(iso, col("bin") === col("i"))
      .select(col("bin"), col("n"),
        (col("sp").cast("double") / col("n").cast("double")).as("confidence"),
        (col("sy").cast("double") / col("n").cast("double")).as("accuracy"),
        col("iso"))
      .orderBy(col("bin"))
  }
}
