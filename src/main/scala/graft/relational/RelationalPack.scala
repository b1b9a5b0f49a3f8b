package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.core.{Exact, Tables}

/** Relational core: the scan/filter/join/agg/window/set-op surface the
  * reference exercises through pandas (SURVEY.md §2.1-2.7), expressed as
  * declarative Spark plans so Catalyst handles pushdown, join selection
  * and AQE.
  *
  * Oracle parity notes (every query here is DuckDB-checked):
  *  - double sums are order-dependent, so every money/quantity aggregate
  *    is computed over exact decimals ([[graft.core.Exact]]) with the
  *    same casts written into the oracle SQL;
  *  - ratios/means are one final double division of exact operands —
  *    bitwise-identical across engines;
  *  - every result has a deterministic ORDER BY on a unique key set.
  *
  * Scale notes: group-by aggregations here are partial-aggregatable
  * (map-side combine), joins either broadcast (nation/region/customer
  * dims) or shuffle on the join key with AQE sizing; nothing collects to
  * the driver.
  */
object RelationalPack extends QueryPack {

  /** TPC-H Q1-shaped pricing summary (A1/A2/A4: groupBy + sum/avg/count).
    * Reference shape: label frequency + money rollups
    * (`Neww_Fai.py:163`, `metrics_8_6.py:40-61`). */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    val disc = Exact.dec2(col("l_extendedprice")) *
      (lit(1).cast("decimal(18,2)") - Exact.dec2(col("l_discount")))
    val charge = disc.cast("decimal(18,4)") *
      (lit(1).cast("decimal(18,2)") + Exact.dec2(col("l_tax")))
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Exact.toOut(Exact.sum2(col("l_quantity"))).as("sum_qty"),
        Exact.toOut(Exact.sum2(col("l_extendedprice"))).as("sum_base_price"),
        Exact.toOut(sum(disc.cast("decimal(18,4)")).cast("decimal(38,4)")).as("sum_disc_price"),
        Exact.toOut(sum(charge.cast("decimal(18,6)")).cast("decimal(38,6)")).as("sum_charge"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty",
        Exact.meanOf(col("sum_qty"), col("count_order")))
      .withColumn("avg_price",
        Exact.meanOf(col("sum_base_price"), col("count_order")))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Shipping-priority join (J1: multi-way equi-join + group + top-k).
    * Catalyst broadcast-joins the filtered customer side automatically
    * at these sizes; at 100 TB the orders⋈lineitem shuffle keys align. */
  def revenueTopK(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val cutoff = lit("1995-03-15").cast("timestamp")
    val cust = t.customer.filter(col("c_mktsegment") === "BUILDING")
    val ord = t.orders.filter(col("o_orderdate") < cutoff)
    val li = t.lineitem.filter(col("l_shipdate") > cutoff)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(Exact.toOut(sum((Exact.dec2(col("l_extendedprice")) *
        (lit(1).cast("decimal(18,2)") - Exact.dec2(col("l_discount"))))
        .cast("decimal(18,4)")).cast("decimal(38,4)")).as("revenue"))
      .select(col("l_orderkey"), col("revenue"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Window rank (P10/O1): top order per customer by totalprice.
    * One shuffle on o_custkey, rank inside the partition. */
  def windowTopOrder(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t.orders
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"))
  }

  /** Range + isin predicates (P5/P6) with filter pushdown to parquet. */
  def filterRange(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .filter(col("l_quantity").between(10, 20) &&
        col("l_returnflag").isin("A", "R") && !col("l_linestatus").isin("F"))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_returnflag"))
      .orderBy(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_returnflag"))

  /** Distinct-count per group (A3: `groupby(label)[fn].nunique()`).
    * Exact here; `approx_count_distinct` is the documented 100 TB path
    * (SURVEY §2.4 note) — see [[approxDistinct]]. */
  def distinctPerGroup(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_suppkey")).as("n_suppliers"))
      .orderBy(col("l_returnflag"))

  /** Pivot to wide (A6: `pivot_table(index, columns, values)`). Pivot
    * values are enumerated explicitly — at scale this avoids the extra
    * distinct-collect job Spark otherwise runs to discover them. */
  def pivotStatusPriority(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .count()
      .na.fill(0L)
      .withColumnsRenamed(Map(
        "1-URGENT" -> "p1_urgent", "2-HIGH" -> "p2_high",
        "3-MEDIUM" -> "p3_medium", "4-NOT SPECIFIED" -> "p4_not_specified",
        "5-LOW" -> "p5_low"))
      .orderBy(col("o_orderstatus"))

  /** Rollup with grand-total row (A5: per-field accuracy table + Overall
    * appended row, one shuffle instead of group + union). */
  def rollupReturns(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .rollup(col("l_returnflag"))
      .agg(Exact.toOut(Exact.sum2(col("l_quantity"))).as("sum_qty"),
        count(lit(1)).as("support"))
      .select(coalesce(col("l_returnflag"), lit("Overall")).as("l_returnflag"),
        col("sum_qty"), col("support"))
      .orderBy(col("l_returnflag"))

  /** r19: CUBE aggregation over orders — all four grouping
    * combinations (status × priority, each alone, grand total) in ONE
    * pass with `grouping_id` disambiguation: the OLAP cross-tab
    * surface beside r06's pivot and r07's rollup. One shuffle covers
    * every grouping set (Spark expands the cube map-side and partial-
    * aggregates all sets in the same exchange); sums through the
    * Exact decimal discipline. Both engines emit the same
    * first-column-is-high-bit grouping id. */
  def cubeOrders(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n"),
        Exact.toOut(Exact.sum2(col("o_totalprice"))).as("sum_price"))
      .select(coalesce(col("o_orderstatus"), lit("All")).as("status"),
        coalesce(col("o_orderpriority"), lit("All")).as("priority"),
        col("gid").cast("long").as("gid"), col("n"), col("sum_price"))
      .orderBy(col("gid"), col("status"), col("priority"))

  /** Semi-join (M3 anti-leakage split gather: `left_semi` instead of the
    * reference's per-fn loop `Neww_Fai.py:239-245`). */
  def semiJoinCustomers(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val big = t.orders.filter(col("o_totalprice") > 400000.0)
    t.customer.join(big, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** Anti-join: customers with no high-value orders. */
  def antiJoinCustomers(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val big = t.orders.filter(col("o_totalprice") > 300000.0)
    t.customer.join(big, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Schema-aligning union (S11/§2.7: `pd.concat` vertical). */
  def unionSegments(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val a = t.customer.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    val b = t.customer.filter(col("c_mktsegment") === "MACHINERY")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    a.unionByName(b).orderBy(col("c_custkey"))
  }

  /** describe()-equivalent summary stats (A4) from exact sums; stddev by
    * the textbook formula over exact operands so DuckDB agrees bitwise. */
  def describeQuantity(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    val q = Exact.dec2(col("l_quantity"))
    li.agg(
        count(lit(1)).as("n"),
        sum(q).cast("decimal(38,2)").as("s"),
        sum((q * q).cast("decimal(18,4)")).cast("decimal(38,4)").as("s2"),
        min(col("l_quantity")).as("min_q"),
        max(col("l_quantity")).as("max_q"))
      .select(col("n"),
        Exact.meanOf(col("s"), col("n")).as("mean_q"),
        Exact.stddevOf(col("s"), col("s2"), col("n")).as("std_q"),
        col("min_q"), col("max_q"))
  }

  /** Pearson correlation (A11) from exact co-sums — same closed formula
    * as the oracle, so the one double evaluation matches bitwise. */
  def corrPriceDiscount(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    val x = Exact.dec2(col("l_extendedprice"))
    val y = Exact.dec2(col("l_discount"))
    li.agg(
        count(lit(1)).as("n"),
        sum(x).cast("decimal(38,2)").as("sx"),
        sum(y).cast("decimal(38,2)").as("sy"),
        sum((x * y).cast("decimal(18,4)")).cast("decimal(38,4)").as("sxy"),
        sum((x * x).cast("decimal(18,4)")).cast("decimal(38,4)").as("sxx"),
        sum((y * y).cast("decimal(18,4)")).cast("decimal(38,4)").as("syy"))
      .select(
        Exact.corrOf(col("sx"), col("sy"), col("sxy"), col("sxx"),
          col("syy"), col("n")).as("corr_price_discount"),
        col("n"))
  }

  /** approx_count_distinct — the 100 TB alternative to exact nunique.
    * No SQL oracle (HLL sketch internals); driver records the
    * rows-only check. [[kmvDistinct]] is the oracle-gated sketch. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"))
      .orderBy(col("l_returnflag"))

  /** KMV (k-minimum-values) distinct sketch — a deterministic
    * estimator both engines can compute bit-for-bit, unlike HLL:
    * hash every key to [0, 2⁶⁰), keep the k smallest per group; the
    * kth minimum h₍ₖ₎ estimates distinct ≈ (k−1)/(h₍ₖ₎/2⁶⁰). Groups
    * with fewer than k distinct keys report exactly. Per-group state
    * is bounded at k values — at 100 TB this runs as a bounded-heap
    * partial aggregate; here the window formulation keeps it
    * declarative (boundary ties on h leave max(h≤ₖ) unchanged, so
    * the result is partitioning-independent). k = 64. */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val k = 64
    val pow60 = 1152921504606846976.0 // 2^60, exact in double
    val d = Tables(spark, dir).lineitem
      .select(col("l_returnflag"), col("l_orderkey")).distinct()
      .withColumn("h", graft.dedup.Dedup.hash60(col("l_orderkey")))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("h"), col("l_orderkey"))
    d.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_seen"), max(col("h")).as("hk"))
      .select(col("l_returnflag"),
        when(col("n_seen") < k, col("n_seen").cast("double"))
          .otherwise(lit((k - 1).toDouble) / (col("hk").cast("double") / pow60))
          .as("est_distinct"))
      .orderBy(col("l_returnflag"))
  }

  /** The r15 column set: lineitem's four 2-decimal measures. */
  private val corrCols = Seq("l_quantity" -> "q", "l_extendedprice" -> "ep",
    "l_discount" -> "d", "l_tax" -> "t")
  private val corrPairs: Seq[((String, String), (String, String))] =
    corrCols.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq

  /** r15: pairwise correlation matrix + strongest-correlations report
    * (reference `gra_4_24.py:248-252` computes the full `corr()`
    * matrix and `:114-118` keeps the top 4 by absolute value). Every
    * co-moment for all 4 columns comes from ONE aggregate pass over
    * lineitem — a per-pair `corr()` call would rescan the fact table
    * 6 times — then the 6 pair rows are unpivoted from that single
    * row and ranked by |corr|. Exact decimal sums + the closed-form
    * [[Exact.corrOf]] make the doubles (and so the ordering) bitwise
    * equal on both engines. */
  def corrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    val moments = corrCols.flatMap { case (c, a) =>
      val x = Exact.dec2(col(c))
      Seq(sum(x).cast("decimal(38,2)").as(s"s_$a"),
        sum((x * x).cast("decimal(18,4)")).cast("decimal(38,4)").as(s"ss_$a"))
    } ++ corrPairs.map { case ((ca, aa), (cb, ab)) =>
      sum((Exact.dec2(col(ca)) * Exact.dec2(col(cb))).cast("decimal(18,4)"))
        .cast("decimal(38,4)").as(s"sx_${aa}_$ab")
    }
    val one = li.agg(count(lit(1)).as("n"), moments: _*)
    val pairRows = corrPairs.map { case ((ca, aa), (cb, ab)) =>
      struct(lit(ca).as("col_a"), lit(cb).as("col_b"),
        Exact.corrOf(col(s"s_$aa"), col(s"s_$ab"), col(s"sx_${aa}_$ab"),
          col(s"ss_$aa"), col(s"ss_$ab"), col("n")).as("corr"))
    }
    one.select(explode(array(pairRows: _*)).as("r"))
      .select(col("r.col_a").as("col_a"), col("r.col_b").as("col_b"),
        col("r.corr").as("corr"))
      .orderBy(abs(col("corr")).desc, col("col_a"), col("col_b"))
      .limit(4)
  }

  /** r16: Spearman rank correlation (quantity vs discount) — the
    * robust companion to r12/r15's Pearson tier. Ranks are built WITHOUT
    * a global row sort: one groupBy per column yields distinct-value
    * counts (cardinality-bounded — ~50 quantities, 11 discounts), a
    * window over those few rows assigns each value its average
    * (mid-)rank, and the tiny rank tables broadcast back onto the
    * fact rows. Average ranks are exact halves, so they carry through
    * `decimal(18,1)` sums and the closed-form [[Exact.corrOf]] is
    * bitwise-reproducible. At 100 TB the only shuffles are the two
    * distinct-value aggregations; the windows run over value
    * cardinality, never row count. */
  def spearman(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    def ranks(c: String) = {
      val counts = li.groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // mid-rank in DOUBLE: integer + (integer+1)/2 — every step is
      // IEEE-exact (halves, powers of two), so the decimal(18,1) cast
      // is lossless and identical on both engines; decimal DIVISION
      // is avoided because Spark and DuckDB scale its result
      // differently
      counts.withColumn("cum", sum(col("cnt")).over(w))
        .select(col("v"),
          ((col("cum") - col("cnt")).cast("double") +
            (col("cnt").cast("double") + 1) / 2)
            .cast("decimal(18,1)").as("rk"))
    }
    val rx = ranks("l_quantity")
      .select(col("v").as("l_quantity"), col("rk").as("rxv"))
    val ry = ranks("l_discount")
      .select(col("v").as("l_discount"), col("rk").as("ryv"))
    val joined = li.select(col("l_quantity"), col("l_discount"))
      .join(broadcast(rx), Seq("l_quantity"))
      .join(broadcast(ry), Seq("l_discount"))
    val x = col("rxv")
    val y = col("ryv")
    joined.agg(
        count(lit(1)).as("n"),
        sum(x).cast("decimal(38,1)").as("sx"),
        sum(y).cast("decimal(38,1)").as("sy"),
        sum((x * y).cast("decimal(28,2)")).cast("decimal(38,2)").as("sxy"),
        sum((x * x).cast("decimal(28,2)")).cast("decimal(38,2)").as("sxx"),
        sum((y * y).cast("decimal(28,2)")).cast("decimal(38,2)").as("syy"))
      .select(
        Exact.corrOf(col("sx"), col("sy"), col("sxy"), col("sxx"),
          col("syy"), col("n")).as("spearman_qty_discount"),
        col("n"))
  }

  /** r17: the SKEW-SAFE two-phase aggregation as an oracle query —
    * [[Skew.saltedSum]] over a 3-key group column (l_returnflag: the
    * textbook hot-key shape — at 100 TB a single reducer would own a
    * third of the table under a direct groupBy). Partial-aggregate on
    * (key, salt) spreads each hot key over 16 tasks; the final
    * aggregate merges 3×16 partials. The value column is an exact
    * decimal, so the two-phase sum is bit-identical to the direct
    * one-phase oracle sum REGARDLESS of the nondeterministic salt —
    * which is precisely what makes the salted plan hash-checkable. */
  def saltedAgg(spark: SparkSession, dir: String): DataFrame =
    Skew.saltedSum(Tables(spark, dir).lineitem,
        col("l_returnflag"), Exact.dec2(col("l_extendedprice")), 16)
      .select(col("k").as("l_returnflag"),
        Exact.toOut(col("sum_v").cast("decimal(38,2)")).as("sum_price"))
      .orderBy(col("l_returnflag"))

  /** r18: the SALTED JOIN as an oracle query — [[Skew.saltedJoin]] of
    * lineitem (fact, hot supplier keys at scale) against the supplier
    * dim: the fact side gains a per-row salt, the dim replicates once
    * per salt value, and the join key becomes (suppkey, salt), so a
    * hot supplier spreads over 8 reducers. Row-identical to the plain
    * join by construction (each fact row carries exactly one salt and
    * meets exactly one dim replica), so the per-supplier rollup
    * hash-matches the unsalted oracle join. */
  def saltedJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
      .select(col("l_suppkey").as("suppkey"),
        Exact.dec2(col("l_extendedprice")).as("price"))
    val sup = Tables(spark, dir).supplier
      .select(col("s_suppkey").as("suppkey"), col("s_name"))
    Skew.saltedJoin(li, sup, "suppkey", 8)
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("n_items"),
        Exact.toOut(sum(col("price")).cast("decimal(38,2)")).as("revenue"))
      .orderBy(col("s_name"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "r01_pricing_summary" -> pricingSummary,
    "r02_revenue_topk" -> revenueTopK,
    "r03_window_top_order" -> windowTopOrder,
    "r04_filter_range" -> filterRange,
    "r05_distinct_per_group" -> distinctPerGroup,
    "r06_pivot_status_priority" -> pivotStatusPriority,
    "r07_rollup_returns" -> rollupReturns,
    "r19_cube_orders" -> cubeOrders,
    "r08_semi_join" -> semiJoinCustomers,
    "r09_anti_join" -> antiJoinCustomers,
    "r10_union_segments" -> unionSegments,
    "r11_describe_quantity" -> describeQuantity,
    "r12_corr_price_discount" -> corrPriceDiscount,
    "r13_approx_distinct" -> approxDistinct,
    "r14_kmv_distinct" -> ((s, d) => kmvDistinct(s, d)),
    "r15_corr_matrix" -> corrMatrix,
    "r16_spearman" -> spearman,
    "r17_salted_agg" -> saltedAgg,
    "r18_salted_join" -> saltedJoinAgg)

  val oracles: Map[String, String] = Map(
    "r01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2))) AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_charge,
        |  count(*) AS count_order,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_qty,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_price
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "r02_revenue_topk" ->
      """SELECT l_orderkey,
        |  CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "r03_window_top_order" ->
      """SELECT o_custkey, o_orderkey, o_totalprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders)
        |WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,
    "r04_filter_range" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 20
        |  AND l_returnflag IN ('A','R') AND l_linestatus NOT IN ('F')
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin,
    "r05_distinct_per_group" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders,
        |  count(DISTINCT l_suppkey) AS n_suppliers
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "r06_pivot_status_priority" ->
      """SELECT o_orderstatus,
        |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p1_urgent,
        |  count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p2_high,
        |  count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p3_medium,
        |  count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS p4_not_specified,
        |  count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p5_low
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "r19_cube_orders" ->
      """SELECT coalesce(o_orderstatus, 'All') AS status,
        |  coalesce(o_orderpriority, 'All') AS priority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  count(*) AS n,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, status, priority""".stripMargin,
    "r07_rollup_returns" ->
      """SELECT coalesce(l_returnflag, 'Overall') AS l_returnflag,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty,
        |  count(*) AS support
        |FROM lineitem GROUP BY ROLLUP(l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,
    "r08_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,
    "r09_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_totalprice > 300000.0 AND o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "r10_union_segments" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION ALL
        |SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_mktsegment = 'MACHINERY'
        |ORDER BY c_custkey""".stripMargin,
    "r11_describe_quantity" ->
      """SELECT count(*) AS n,
        |  CAST(CAST(sum(q) AS DECIMAL(38,2)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_q,
        |  sqrt((CAST(CAST(sum(CAST(q*q AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE)
        |        - CAST(CAST(sum(q) AS DECIMAL(38,2)) AS DOUBLE) * CAST(CAST(sum(q) AS DECIMAL(38,2)) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |       / (CAST(count(*) AS DOUBLE) - 1.0)) AS std_q,
        |  min(l_quantity) AS min_q, max(l_quantity) AS max_q
        |FROM (SELECT l_quantity, CAST(l_quantity AS DECIMAL(18,2)) AS q FROM lineitem)""".stripMargin,
    "r12_corr_price_discount" ->
      """SELECT
        |  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        |  / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |       * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) AS corr_price_discount,
        |  n
        |FROM (SELECT count(*) AS n,
        |  CAST(sum(x) AS DECIMAL(38,2)) AS sx, CAST(sum(y) AS DECIMAL(38,2)) AS sy,
        |  CAST(sum(CAST(x*y AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS sxy,
        |  CAST(sum(CAST(x*x AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS sxx,
        |  CAST(sum(CAST(y*y AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS syy
        |  FROM (SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS x,
        |               CAST(l_discount AS DECIMAL(18,2)) AS y FROM lineitem))""".stripMargin,
    "r14_kmv_distinct" -> s"""
      |WITH d AS (SELECT DISTINCT l_returnflag, l_orderkey FROM lineitem),
      |h AS (SELECT l_returnflag, l_orderkey,
      |        ${graft.dedup.Dedup.hexIntSql("md5(CAST(l_orderkey AS VARCHAR))", 1, 15)} AS h
      |      FROM d),
      |r AS (SELECT l_returnflag, h, row_number() OVER (
      |        PARTITION BY l_returnflag ORDER BY h, l_orderkey) AS rn
      |      FROM h),
      |g AS (SELECT l_returnflag, count(*) AS n_seen, max(h) AS hk
      |      FROM r WHERE rn <= 64 GROUP BY l_returnflag)
      |SELECT l_returnflag,
      |  CASE WHEN n_seen < 64 THEN CAST(n_seen AS DOUBLE)
      |       ELSE 63.0 / (CAST(hk AS DOUBLE) / 1152921504606846976.0)
      |  END AS est_distinct
      |FROM g ORDER BY l_returnflag""".stripMargin,
    "r15_corr_matrix" -> {
      val momentSelects = corrCols.flatMap { case (_, a) =>
        Seq(s"CAST(sum($a) AS DECIMAL(38,2)) AS s_$a",
          s"CAST(sum(CAST($a*$a AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS ss_$a")
      } ++ corrPairs.map { case ((_, aa), (_, ab)) =>
        s"CAST(sum(CAST($aa*$ab AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS sx_${aa}_$ab"
      }
      val baseSelects = corrCols.map { case (c, a) =>
        s"CAST($c AS DECIMAL(18,2)) AS $a"
      }
      def corrExpr(sa: String, sb: String, sx: String) =
        s"""(CAST($sx AS DOUBLE) - CAST($sa AS DOUBLE) * CAST($sb AS DOUBLE) / CAST(n AS DOUBLE))
           |    / sqrt((CAST(ss_${sa.drop(2)} AS DOUBLE) - CAST($sa AS DOUBLE) * CAST($sa AS DOUBLE) / CAST(n AS DOUBLE))
           |         * (CAST(ss_${sb.drop(2)} AS DOUBLE) - CAST($sb AS DOUBLE) * CAST($sb AS DOUBLE) / CAST(n AS DOUBLE)))""".stripMargin
      val pairSelects = corrPairs.map { case ((ca, aa), (cb, ab)) =>
        s"  SELECT '$ca' AS col_a, '$cb' AS col_b,\n  ${corrExpr(s"s_$aa", s"s_$ab", s"sx_${aa}_$ab")} AS corr FROM s"
      }.mkString("\n  UNION ALL\n")
      s"""WITH s AS (SELECT count(*) AS n,
         |  ${momentSelects.mkString(",\n  ")}
         |  FROM (SELECT ${baseSelects.mkString(", ")} FROM lineitem)),
         |p AS (
         |$pairSelects)
         |SELECT col_a, col_b, corr FROM p
         |ORDER BY abs(corr) DESC, col_a, col_b LIMIT 4""".stripMargin
    },
    "r16_spearman" -> """
      |WITH cx AS (SELECT l_quantity AS v, count(*) AS cnt FROM lineitem GROUP BY 1),
      |rx AS (SELECT v, CAST(CAST(cum - cnt AS DOUBLE)
      |          + (CAST(cnt AS DOUBLE) + 1) / 2 AS DECIMAL(18,1)) AS rk
      |       FROM (SELECT v, cnt,
      |          sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum FROM cx)),
      |cy AS (SELECT l_discount AS v, count(*) AS cnt FROM lineitem GROUP BY 1),
      |ry AS (SELECT v, CAST(CAST(cum - cnt AS DOUBLE)
      |          + (CAST(cnt AS DOUBLE) + 1) / 2 AS DECIMAL(18,1)) AS rk
      |       FROM (SELECT v, cnt,
      |          sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum FROM cy)),
      |j AS (SELECT rx.rk AS x, ry.rk AS y FROM lineitem l
      |      JOIN rx ON l.l_quantity = rx.v JOIN ry ON l.l_discount = ry.v),
      |m AS (SELECT count(*) AS n,
      |  CAST(sum(x) AS DECIMAL(38,1)) AS sx, CAST(sum(y) AS DECIMAL(38,1)) AS sy,
      |  CAST(sum(CAST(x*y AS DECIMAL(28,2))) AS DECIMAL(38,2)) AS sxy,
      |  CAST(sum(CAST(x*x AS DECIMAL(28,2))) AS DECIMAL(38,2)) AS sxx,
      |  CAST(sum(CAST(y*y AS DECIMAL(28,2))) AS DECIMAL(38,2)) AS syy
      |  FROM j)
      |SELECT
      |  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
      |  / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
      |       * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) AS spearman_qty_discount,
      |  n
      |FROM m""".stripMargin,

    // the salted two-phase plan is bit-identical to the direct sum
    // because the value column is exact decimal — the oracle IS the
    // unsalted form
    "r17_salted_agg" -> """
      |SELECT l_returnflag,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the salted join is row-identical to the plain join — the oracle
    // rolls up the unsalted join
    "r18_salted_join" -> """
      |SELECT s.s_name,
      |  count(*) AS n_items,
      |  CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS revenue
      |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |GROUP BY s.s_name ORDER BY s.s_name""".stripMargin)
}
