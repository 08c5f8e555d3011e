package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.Tables

/** Core relational operator surface (SURVEY.md §2.2–§2.6) re-expressed
  * Spark-first over the TPC-H-ish testdata tables.
  *
  * Design notes for 100 TB scale:
  *  - Every query is a single declarative DataFrame plan: Catalyst pushes
  *    filters/column pruning into the parquet scan, plans partial+final
  *    hash aggregation (map-side combine), and picks broadcast vs
  *    sort-merge joins (AQE re-plans at runtime).
  *  - Money aggregations go through DecimalType(18,2): decimal sums are
  *    exact and order-independent, so results are bit-identical across
  *    any partitioning / executor count — double sums would drift with
  *    partition order at scale. The final value is cast back to double.
  *  - Top-k is orderBy(...).limit(k): Catalyst plans TakeOrderedAndProject
  *    (per-partition O(n log k) heaps + driver merge of k·P rows), never a
  *    total sort. All orderings carry a unique tie-break key so results
  *    are deterministic under any parallelism.
  */
object CoreOps {
  private val Dec = DecimalType(18, 2)
  private def dec(c: Column): Column = c.cast(Dec)

  // ---------------------------------------------------------------- A1–A3
  /** Flagship: TPC-H Q1-shaped pricing summary. [A1 sum, A2 count, A3 avg]
    * Mirrors the reference's reduceByKey sum/count/avg pipelines
    * (etherTransactionsAnalysis.py:47-54, ethergasguzzlers.py:61-63). */
  def q1PricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast(Dec) - dec(col("l_discount"))))
          .cast(DoubleType).as("sum_disc_price"),
        avg(col("l_quantity")).as("avg_qty"),
        (sum(dec(col("l_extendedprice"))).cast(DoubleType) / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))

  // ---------------------------------------------------------------- F2+F5
  /** Numeric/range filter + projection; predicates push into the scan
    * (PushedFilters in explain). [F2 numeric filter, F5 projection] */
  def f2FilterProject(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 30 && col("l_discount") > lit(0.02) &&
        col("l_shipdate") < lit("1998-01-01").cast(TimestampType))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate")

  // ---------------------------------------------------------------- F3+X5
  /** String-prefix predicate, the reference's startswith('0x') filter
    * (etherTop10Contracts.py:24). [F3, X5] */
  def f3PrefixFilter(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .filter(col("p_name").startsWith("small") && col("p_brand").startsWith("Brand#1"))
      .select("p_partkey", "p_name", "p_brand", "p_type")

  // ---------------------------------------------------------------- J1+A4
  /** Join of two aggregations on the same key — the reference's
    * sum⋈count month join (etherTransactionsAnalysis.py:53). Kept as a
    * literal join (not collapsed into one agg) to exercise the
    * co-partitioned shuffle join path; both sides share the same
    * grouping so AQE coalesces to one exchange per side. [J1, A4] */
  def j1AggJoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val sums = o.groupBy(date_format(col("o_orderdate"), "MM-yyyy").as("month"))
      .agg(sum(dec(col("o_totalprice"))).as("sum_price_dec"))
    val counts = o.groupBy(date_format(col("o_orderdate"), "MM-yyyy").as("month"))
      .agg(count(lit(1)).as("n_orders"))
    sums.join(counts, Seq("month"))
      .select(col("month"),
        col("sum_price_dec").cast(DoubleType).as("sum_price"),
        col("n_orders"),
        (col("sum_price_dec").cast(DoubleType) / col("n_orders")).as("avg_price"))
  }

  // ---------------------------------------------------------------- J2 semi
  /** Left-semi join: fact filtered by small dim — the reference's
    * tx⋈contracts "(addr,1)" join (etherTop10Contracts.py:63-65). The dim
    * side is broadcast (explicit hint; it is orders-of-magnitude smaller
    * than the fact at every SF). [J2] */
  def j2SemiJoin(s: SparkSession, d: String): DataFrame = {
    val richCust = Tables.customer(s, d).filter(col("c_acctbal") > 5000)
    Tables.orders(s, d)
      .join(broadcast(richCust), col("o_custkey") === col("c_custkey"), "left_semi")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
  }

  // ---------------------------------------------------------------- J2 anti
  /** Left-anti join (NOT EXISTS): orders with no lineitem. Declared
    * engine surface beyond the reference (SURVEY §2.3). */
  def j2AntiJoin(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"), "left_anti")
      .select("o_orderkey", "o_custkey", "o_orderstatus")

  // ---------------------------------------------------------------- J3 inner fact⋈dim with payload
  /** Inner equi-join where the dim carries payload columns — the
    * scams-shaped join (etherscams.py:55) — then aggregated per dim
    * attribute. [J3, A1] */
  def j3FactDimJoin(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val p  = Tables.part(s, d).select("p_partkey", "p_brand", "p_type")
    li.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        sum(dec(col("l_extendedprice")) * (lit(1).cast(Dec) - dec(col("l_discount"))))
          .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  // ---------------------------------------------------------------- J4 top-k re-join
  /** Re-join against own top-k output — the reference's
    * contractsTop10 re-ingest (ethergasguzzlers.py:75-77). The top-10
    * list is tiny → broadcast semi-join. [J4, T1] */
  def j4TopkRejoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val top10 = o.groupBy(col("o_custkey"))
      .agg(sum(dec(col("o_totalprice"))).as("spend"))
      .orderBy(col("spend").desc, col("o_custkey").asc)
      .limit(10)
      .select("o_custkey")
    o.join(broadcast(top10), Seq("o_custkey"), "left_semi")
      .groupBy(date_format(col("o_orderdate"), "MM-yyyy").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast(DoubleType).as("sum_price"))
  }

  // ---------------------------------------------------------------- A5 global
  /** Global (grand-total) aggregation, no grouping — the reference's
    * key-by-literal-1 total (etheroverhead.py:48-49). [A5] */
  def a5GlobalAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).agg(
      count(lit(1)).as("n_rows"),
      sum(col("l_quantity")).as("sum_qty"),
      sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_price"))

  // ---------------------------------------------------------------- A6 composite key
  /** Composite-key aggregation — the reference's (month, category) tuple
    * key (etherscams.py:59). [A6, X3] */
  def a6CompositeAgg(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(date_format(col("o_orderdate"), "MM-yyyy").as("month"),
        col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast(DoubleType).as("sum_price"))

  // ---------------------------------------------------------------- A7 pivot
  /** Pivot / wide reshape — graphs.ipynb cell 7 unstack. Pivot values are
    * declared explicitly so no extra distinct-collect job runs. [A7] */
  def a7Pivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(col("l_quantity")))

  /** Unpivot/melt [A25] — the reverse reshape of [[a7Pivot]]: a wide
    * per-flag aggregate melted to (key, metric, amount) long form, the
    * layout feeding metric stores and plotting pipelines. Spark's
    * native unpivot is a map-side Expand (each input row emits one row
    * per value column) — zero shuffle beyond the feeding aggregate,
    * identical at any scale; the oracle states the same melt as a
    * UNION ALL. Money legs route through DECIMAL(18,2) before the
    * final DOUBLE like every money aggregate in the suite. */
  def a25Unpivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_price"),
        sum(dec(col("l_discount"))).cast(DoubleType).as("sum_disc"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
        "metric", "amount")

  // ---------------------------------------------------------------- A8 distinct
  /** Distinct aggregation (declared built-in surface, SURVEY §2.4). */
  def a8CountDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_rows"))

  // ---------------------------------------------------------------- A9 rollup
  /** Rollup (grouping-sets surface, SURVEY §2.4). */
  def a9Rollup(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .rollup(year(col("o_orderdate")).as("o_year"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))

  /** CUBE over the same keys — all 2^k grouping sets (rollup's sibling;
    * one pass, Expand + a single hash aggregate). grouping() flags
    * disambiguate a real NULL key from a subtotal row. [A9b] */
  def a13Cube(s: SparkSession, d: String): DataFrame =
    // o_year must be a real column before the cube — grouping() matches
    // grouping expressions semantically, and an Alias node inside
    // cube() defeats the match (GROUPING_COLUMN_MISMATCH)
    Tables.orders(s, d)
      .withColumn("o_year", year(col("o_orderdate")))
      .cube(col("o_year"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        grouping(col("o_year")).cast("int").as("g_year"),
        grouping(col("o_orderpriority")).cast("int").as("g_prio"))

  /** Full outer join [J6]: daily order intake vs daily shipment
    * volume — the two calendars only partially overlap (shipments lag
    * orders by up to months on each end), so BOTH sides contribute
    * unmatched days and null-padding is exercised in both directions,
    * completing the join surface (inner/left/semi/anti already
    * covered). Each side is a partial-agg'd date rollup (thousands of
    * rows from any fact size — aggregate-then-join, never
    * join-then-aggregate, is the scale-defining order here), so the
    * full outer hash join is trivially cheap at any corpus scale. */
  def j6FullOuter(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"))
    val l = Tables.lineitem(s, d)
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(count(lit(1)).as("n_shipped"))
    o.join(l, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("n_shipped"), lit(0L)).as("n_shipped"))
  }

  /** Explicit GROUPING SETS [A16]: a curated subset of aggregation
    * levels — ((flag, status), (flag), ()) — in ONE pass via Expand.
    * cube/rollup (a13/a9) are fixed lattices; real rollup tables
    * usually want hand-picked levels, and enumerating them explicitly
    * skips materializing the 2^k sets nobody reads. grouping() flags
    * disambiguate subtotal rows from genuine NULL keys, as in a13. */
  def a16GroupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |       COUNT(*) AS n_items,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |         AS sum_qty,
        |       CAST(grouping(l_returnflag) AS INT) AS g_flag,
        |       CAST(grouping(l_linestatus) AS INT) AS g_status
        |FROM graft_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_returnflag), ())""".stripMargin)
  }

  /** Higher-order array functions [X15]: transform / filter /
    * aggregate over the token array, mirrored by DuckDB's list
    * lambdas. Row-local expression work — map-side at scan
    * parallelism, like the rest of the scalar suite — but HOFs do NOT
    * whole-stage-codegen (they interpret the lambda per element), so
    * hot-path vector math belongs in the codegen'd VectorExpressions
    * instead; this suite covers the general-purpose surface where
    * flexibility beats the last 2×. */
  def x15ArrayHof(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.TextOps.tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        expr("CAST(aggregate(transform(tk, t -> length(t)), 0L," +
          " (acc, x) -> acc + x) AS BIGINT)").as("sum_tok_chars"),
        expr("CAST(size(filter(tk, t -> length(t) > 4)) AS INT)")
          .as("n_long"),
        expr("array_join(slice(array_sort(array_distinct(" +
          "filter(tk, t -> length(t) > 4))), 1, 3), ',')").as("top_long"))

  /** Bounded sliding window frame [W3]: per-supplier rolling 4-row
    * quantity sum in event order. ROWS BETWEEN keeps state O(frame)
    * per task; the shuffle is one hash partition per supplier and the
    * unique (shipdate, orderkey, linenumber) ordering makes the frame
    * contents — and therefore the decimal sums — deterministic. */
  def w3SlidingSum(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(-3, 0)
    Tables.lineitem(s, d)
      .filter(col("l_partkey") % 50 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
        sum(dec(col("l_quantity"))).over(w).cast(DoubleType).as("roll_qty"))
  }

  /** Fixed-width value histogram [A17]: bucket o_totalprice into
    * `nBuckets` equal-width bins and aggregate count/min/max per bin —
    * the one-pass distribution profile every ingest pipeline runs
    * before picking partition ranges or salting thresholds. Bucketing
    * is plain arithmetic (floor + upper clamp) rather than
    * width_bucket so the DuckDB oracle reproduces it exactly, and the
    * whole query is a single partial-agg'd hash aggregate over at most
    * `nBuckets` groups — at 100 TB the shuffle carries nBuckets rows
    * per map partition, nothing more. min/max are exact (no summation
    * order sensitivity), so no decimal routing is needed. */
  def a17Histogram(s: SparkSession, d: String, nBuckets: Int = 20,
      width: Double = 30000.0): DataFrame =
    Tables.orders(s, d)
      .select(least(floor(col("o_totalprice") / width), lit(nBuckets - 1))
        .cast(IntegerType).as("bucket"), col("o_totalprice"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))

  /** Quantile bucketing + offset windows [W4]: per-segment account
    * quartiles via ntile(4) and the gap to the next-richer customer
    * via lead(). Completes the window surface (rank [w1], running sum
    * [w2], bounded frame [w3]) with the two remaining families: tile
    * assignment and offset functions. One hash shuffle on the segment
    * key; the total order (acctbal desc, custkey asc) is unique, so
    * tile boundaries and lead targets are deterministic under any
    * partitioning. The gap is a single double subtraction — exact,
    * not summation-order sensitive. */
  def w4NtileLead(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables.customer(s, d).select(
      col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
      ntile(4).over(w).as("quartile"),
      (col("c_acctbal") - lead(col("c_acctbal"), 1).over(w)).as("gap_next"))
  }

  // ------------------------------------------------------------- A19 correlation
  /** Pearson correlation from exact sums [A19]: corr(quantity, price)
    * per return flag — feature-correlation screening. Built-in corr()
    * uses a streaming covariance update whose float results depend on
    * merge order, so instead the five moments (Σx, Σy, Σxy, Σx², Σy²)
    * accumulate exactly in DECIMAL (partition-order independent), cast
    * to DOUBLE once, and both engines evaluate the identical
    * closed-form — bit-reproducible at any partitioning, same recipe
    * as ev_anomaly_zscore. */
  def a19Corr(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity").cast(DecimalType(18, 4))
    val y = dec(col("l_extendedprice"))
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(x).cast(DoubleType).as("sx"),
        sum(y).cast(DoubleType).as("sy"),
        sum(x * y).cast(DoubleType).as("sxy"),
        sum(x * x).cast(DoubleType).as("sxx"),
        sum(y * y).cast(DoubleType).as("syy"))
      .select(col("l_returnflag"), col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))), 6)
          .as("corr_qty_price"))
  }

  // ------------------------------------------------------------- A20 mode
  /** Per-group mode with a deterministic tie-break [A20]: the most
    * frequent order priority per order status, smallest value winning
    * ties — built-in mode() tie-breaks arbitrarily, so the argmax is
    * explicit: count per (group, value), then ONE min_by whose
    * ordering struct (−count, value) encodes "count desc, value asc"
    * lexicographically. Two partial-agg'd hash aggregates, no window
    * sort, single scan. */
  def a20Mode(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("o_orderstatus"))
      .agg(min_by(
        struct(col("o_orderpriority").as("mode_val"), col("c").as("mode_n")),
        struct((-col("c")).as("nc"), col("o_orderpriority").as("v"))).as("m"))
      .select(col("o_orderstatus"), col("m.mode_val").as("mode_val"),
        col("m.mode_n").as("mode_n"))

  // --------------------------------------------------------- J7 null-safe join
  /** Null-safe equi-join [J7]: `<=>` (IS NOT DISTINCT FROM) treats NULL
    * as a joinable key value — the semantics dimensional pipelines need
    * when "unknown" is itself a bucket. Catalyst plans EqualNullSafe as
    * a regular hash-join key (NULLs hash like any value), so this stays
    * a shuffle/broadcast hash join at any scale — unlike the
    * `a.k = b.k OR (a.k IS NULL AND b.k IS NULL)` rewrite, which falls
    * off the equi-join path entirely. Aggregate-then-join keeps both
    * sides tiny. The demo NULLs out one priority bucket on both sides
    * and counts open vs closed orders per (nullable) priority. */
  def j7NullSafeJoin(s: SparkSession, d: String): DataFrame = {
    val prio = when(col("o_orderpriority") === "1-URGENT", lit(null))
      .otherwise(col("o_orderpriority"))
    val o = Tables.orders(s, d).select(prio.as("prio"), col("o_orderstatus"))
    val open = o.where(col("o_orderstatus") === "O")
      .groupBy(col("prio")).agg(count(lit(1)).as("n_open"))
    val closed = o.where(col("o_orderstatus") === "F")
      .groupBy(col("prio")).agg(count(lit(1)).as("n_closed"))
    open.join(closed, open("prio") <=> closed("prio"))
      .select(open("prio"), col("n_open"), col("n_closed"))
  }

  // ------------------------------------------------------ A21 filtered aggregate
  /** Conditional aggregation [A21]: the FILTER-clause family — several
    * differently-predicated aggregates over one scan instead of N
    * self-joined subqueries. All partial-agg'd map-side; the NULL-on-
    * empty-filter SUM semantics match SQL's FILTER exactly (count-if
    * via count(when), sum-if via sum(when) — when() yields NULL on the
    * else branch and aggregates skip NULLs). */
  def a21FilteredAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_items"),
        count(when(col("l_quantity") > 25, 1)).as("n_bulk"),
        sum(when(col("l_discount") > 0.05,
          col("l_extendedprice").cast(Dec))).cast(DoubleType)
          .as("sum_discounted"),
        count(when(year(col("l_shipdate")) === 1995, 1)).as("n_1995"))

  // --------------------------------------------------- A22 interpolated percentile
  /** Exact interpolated percentiles [A22]: percentile() (the
    * linear-interpolation quantile, SQL's percentile_cont) per group at
    * 25/50/75. EXACT — it buffers the group's values — so like
    * [[a10Median]] it is the oracle path; the one-pass scale path is
    * the GK sketch gated by a14_quantile_gate. Both engines interpolate
    * over the same sorted doubles; 6-digit rounding absorbs the
    * lo+(hi−lo)·f vs (1−f)·lo+f·hi ulp difference. */
  def a22PercentileCont(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        round(expr("percentile(o_totalprice, 0.25)"), 6).as("p25"),
        round(expr("percentile(o_totalprice, 0.5)"), 6).as("p50"),
        round(expr("percentile(o_totalprice, 0.75)"), 6).as("p75"))

  // ------------------------------------------------------------ W8 forward fill
  /** Forward fill [W8]: carry the last non-null observation forward
    * per key — the standard time-series imputation (sensor dropouts,
    * sparse snapshots). last(v, ignoreNulls) over the growing frame is
    * the same primitive the as-of join's union-and-scan uses; one
    * sort-shuffle on the key, O(1) state per row. Nulls are planted
    * deterministically (value < 5) so the oracle reproduces them. */
  def w8ForwardFill(s: SparkSession, d: String): DataFrame = {
    val v = when(col("value") >= 5, col("value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d).select(
      col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"),
      v.as("raw_value"),
      last(v, ignoreNulls = true).over(w).as("filled"))
  }

  // ------------------------------------------------------------- Q13 custdist
  /** TPC-H Q13-shaped customer-order distribution: how many customers
    * placed exactly k orders (including zero — the LEFT join keeps
    * orderless customers, count(o_orderkey) ignores their null). A
    * two-level aggregate: the inner per-customer count is the big
    * hash agg; the outer histogram groups ≤ max-orders rows. The
    * customer-side join is a shuffle hash/merge at real scale — no
    * side is broadcastable when both are facts — which is exactly the
    * shape this query exists to exercise. */
  def q13Custdist(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_custkey"))
      .join(Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))

  // ----------------------------------------------------------- Q4 WHERE EXISTS
  /** TPC-H Q4-shaped priority check [Q4]: orders with at least one
    * line shipped more than 60 days after the order date, counted per
    * priority. WHERE EXISTS with a correlated NON-EQUI term — Catalyst
    * decorrelates to a left-semi hash join on the orderkey carrying
    * the inequality as a join residual, complementing j8's projected
    * EXISTS (ExistenceJoin) and j10's null-aware NOT IN. */
  def q4PriorityExists(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_q4")
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_q4")
    s.sql(
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM graft_orders_q4
        |WHERE EXISTS (SELECT 1 FROM graft_lineitem_q4
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin)
  }

  // ---------------------------------------------------- Q17 correlated scalar AVG
  /** TPC-H Q17-shaped small-quantity revenue [Q17]: lines of one brand
    * whose quantity is below half the part's own average quantity — the
    * canonical CORRELATED SCALAR AGGREGATE subquery. Catalyst
    * decorrelates it into aggregate-then-join: one hash aggregate
    * computes avg(l_quantity) per partkey, then joins back to lineitem
    * on the equi-key — never a per-row re-scan (that would be O(n²) at
    * 100 TB; TpchDecorrelationSpec pins the plan is nested-loop-free
    * and contains the standalone per-key Aggregate). Revenue sums
    * through DECIMAL so the single output row is partition-independent;
    * l_quantity is integral-valued so avg is exact in DOUBLE on both
    * engines and the 0.5·avg comparison cannot straddle an ulp.
    * (p_container is not in this testdata's part schema — the brand
    * predicate alone keeps Q17's selective-dim shape.) */
  def q17SmallQty(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_q17")
    Tables.part(s, d).createOrReplaceTempView("graft_part_q17")
    s.sql(
      """SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
        |                  AS DOUBLE) / 7.0, 6) AS avg_yearly,
        |       COUNT(*) AS n_lines
        |FROM graft_lineitem_q17 JOIN graft_part_q17 ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#3'
        |  AND l_quantity < 0.5 * (SELECT AVG(l2.l_quantity)
        |                          FROM graft_lineitem_q17 l2
        |                          WHERE l2.l_partkey = p_partkey)""".stripMargin)
  }

  // ------------------------------------------------ Q20 nested IN + correlated AVG
  /** TPC-H Q20-shaped excess-shippers [Q20]: suppliers who recently
    * shipped a name-filtered part in a quantity far above that part's
    * own average — a NESTED IN (supplier ← lineitem ← part) whose inner
    * block carries a CORRELATED AGGREGATE over lineitem, the two-level
    * decorrelation Q4/J8/J10 don't reach. Catalyst plans the part IN as
    * a left-semi join, the correlated AVG as aggregate-then-join on
    * partkey, and the outer IN as another left-semi — three hash joins,
    * zero nested loops (plan-pinned). At 100 TB every join is equi-keyed
    * and the per-part aggregate is partial-agg'd map-side. (This
    * testdata has no partsupp table, so lineitem's own shipped
    * quantities stand in for ps_availqty — the decorrelation shape,
    * which is what the query exists to exercise, is unchanged.) */
  def q20PotentialPromo(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_q20")
    Tables.part(s, d).createOrReplaceTempView("graft_part_q20")
    Tables.supplier(s, d).createOrReplaceTempView("graft_supplier_q20")
    s.sql(
      """SELECT s_suppkey, s_name FROM graft_supplier_q20
        |WHERE s_suppkey IN (
        |  SELECT l1.l_suppkey FROM graft_lineitem_q20 l1
        |  WHERE l1.l_partkey IN (SELECT p_partkey FROM graft_part_q20
        |                         WHERE p_name LIKE 'small%')
        |    AND l1.l_shipdate >= TIMESTAMP '2001-01-01'
        |    AND l1.l_quantity > 1.9 * (SELECT AVG(l2.l_quantity)
        |                               FROM graft_lineitem_q20 l2
        |                               WHERE l2.l_partkey = l1.l_partkey))""".stripMargin)
  }

  // ------------------------------------------------ Q21 double EXISTS / NOT EXISTS
  /** TPC-H Q21-shaped waiting-supplier count [Q21]: for finished
    * orders, the supplier whose line shipped LAST among multiple
    * suppliers on the same order — one correlated EXISTS (another
    * supplier participated) and one correlated NOT EXISTS with a
    * non-equi term (nobody shipped later). Catalyst decorrelates to a
    * left-semi plus a null-safe left-anti hash join on orderkey, each
    * carrying its inequality as a join residual — the double-subquery
    * shape SQL users hit in shipment/settlement audits. Top-25 with a
    * name tiebreak keeps the output deterministic. (l_receiptdate /
    * l_commitdate aren't in this schema; shipdate ordering preserves
    * the exists/not-exists structure.) */
  def q21WaitingSupp(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_q21")
    Tables.supplier(s, d).createOrReplaceTempView("graft_supplier_q21")
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_q21")
    s.sql(
      """SELECT s_name, COUNT(*) AS numwait
        |FROM graft_supplier_q21, graft_lineitem_q21 l1, graft_orders_q21
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND EXISTS (SELECT 1 FROM graft_lineitem_q21 l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM graft_lineitem_q21 l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > l1.l_shipdate)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 25""".stripMargin)
  }

  // ------------------------------------------------- Q2 correlated MIN per group
  /** TPC-H Q2-shaped cheapest-supplier lookup [Q2]: for each part of
    * one size, the supplier(s) achieving the minimum unit price — a
    * correlated scalar MIN compared by equality, the min-per-group
    * decorrelation (vs Q17's threshold use of the scalar). Catalyst
    * turns it into a per-partkey MIN aggregate joined back on
    * (partkey, unit = min_unit); the unit price is the same double
    * division on both engines so the equality is bit-exact. DISTINCT
    * because several lines can hit the min at the same price. */
  def q2MinCostSupp(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_q2")
    Tables.part(s, d).createOrReplaceTempView("graft_part_q2")
    Tables.supplier(s, d).createOrReplaceTempView("graft_supplier_q2")
    s.sql(
      """SELECT DISTINCT p.p_partkey, s.s_suppkey, s.s_name
        |FROM graft_part_q2 p
        |JOIN graft_lineitem_q2 l ON p.p_partkey = l.l_partkey
        |JOIN graft_supplier_q2 s ON s.s_suppkey = l.l_suppkey
        |WHERE p.p_size = 10
        |  AND l.l_extendedprice / l.l_quantity =
        |      (SELECT MIN(l2.l_extendedprice / l2.l_quantity)
        |       FROM graft_lineitem_q2 l2
        |       WHERE l2.l_partkey = p.p_partkey)""".stripMargin)
  }

  // --------------------------------------------------------- Q10 returned items
  /** TPC-H Q10-shaped returned-item report [Q10]: revenue lost to
    * returns per customer in one quarter, with the customer's nation.
    * A fact⋈fact (lineitem⋈orders, both shuffle-partitioned on
    * orderkey) followed by two dim hash joins (customer, then the
    * 25-row nation — auto-broadcast); the date filter prunes orders
    * BEFORE the big join and the returnflag filter prunes lineitem at
    * the scan. Revenue through DECIMAL, ordered with a custkey
    * tiebreak, cast to DOUBLE after the top-20 cut. */
  def q10ReturnedItems(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
        col("o_orderdate") < lit("1996-04-01").cast(TimestampType))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d)
          .select("c_custkey", "c_name", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(s, d).select("n_nationkey", "n_name"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(dec(col("l_extendedprice")) *
        (lit(1).cast(Dec) - dec(col("l_discount")))).as("rev_dec"))
      .orderBy(col("rev_dec").desc, col("c_custkey").asc)
      .limit(20)
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("rev_dec").cast(DoubleType).as("revenue"))
  }

  // --------------------------------------------------------- Q14 promo revenue
  /** TPC-H Q14-shaped promo-revenue share [Q14]: the fraction of one
    * month's revenue from PROMO-type parts — conditional aggregation
    * over a fact⋈dim join, the ratio-of-sums shape every KPI dashboard
    * runs. Both sums ride one hash aggregate (no second scan); the
    * month filter reaches the lineitem scan. Both sums are exact
    * decimals, so the final double division is bit-identical on both
    * engines and the single row hashes stably. */
  def q14PromoRevenue(s: SparkSession, d: String): DataFrame = {
    val vol = dec(col("l_extendedprice")) *
      (lit(1).cast(Dec) - dec(col("l_discount")))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast(TimestampType) &&
        col("l_shipdate") < lit("1997-02-01").cast(TimestampType))
      .join(Tables.part(s, d).select("p_partkey", "p_type"),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", vol).otherwise(lit(0)))
          .as("promo_dec"),
        sum(vol).as("all_dec"))
      .select(round(lit(100.0) * col("promo_dec").cast(DoubleType) /
        col("all_dec").cast(DoubleType), 6).as("promo_share"))
  }

  // -------------------------------------------------------- Q7 volume shipping
  /** TPC-H Q7-shaped bilateral shipping volume [Q7]: revenue flowing
    * between two specific nations per shipment year, in both
    * directions. The join tree is the classic snowflake double-dip —
    * the 25-row nation table joins TWICE under different roles
    * (supplier's nation, customer's nation), both auto-broadcast, with
    * the symmetric two-nation predicate applied after; the fact⋈fact
    * joins shuffle on their keys. Year comes from shipdate; decimal
    * revenue needs no rounding (exact on both engines). */
  def q7VolumeShipping(s: SparkSession, d: String): DataFrame = {
    val n1 = Tables.nation(s, d)
      .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, d)
      .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate").between(
        lit("1995-01-01").cast(TimestampType),
        lit("1996-12-31").cast(TimestampType)))
      .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(n1, col("s_nationkey") === col("n1_key"))
      .join(n2, col("c_nationkey") === col("n2_key"))
      .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
        (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum(dec(col("l_extendedprice")) *
        (lit(1).cast(Dec) - dec(col("l_discount")))).as("rev_dec"))
      .select(col("supp_nation"), col("cust_nation"), col("l_year"),
        col("rev_dec").cast(DoubleType).as("revenue"))
  }

  // --------------------------------------------------------- Q8 market share
  /** TPC-H Q8-shaped national market share [Q8]: one nation's share of
    * a region's revenue for one part type, per order year — the
    * deepest join tree in the suite (part, supplier, lineitem, orders,
    * customer, nation×2, region: 8 relations). The selective p_type
    * filter drives a ~1/6 semi-reduction through the part join; dims
    * broadcast; the ratio-of-conditional-sums is decimal-exact before
    * one double division per year row. */
  def q8MarketShare(s: SparkSession, d: String): DataFrame = {
    val vol = dec(col("l_extendedprice")) *
      (lit(1).cast(Dec) - dec(col("l_discount")))
    val custNation = Tables.nation(s, d)
      .select(col("n_nationkey").as("cn_key"), col("n_regionkey"))
    val suppNation = Tables.nation(s, d)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("nation"))
    Tables.lineitem(s, d)
      .join(Tables.part(s, d).filter(col("p_type") === "ECONOMY")
        .select("p_partkey"), col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(custNation, col("c_nationkey") === col("cn_key"))
      .join(Tables.region(s, d).filter(col("r_name") === "ASIA")
        .select("r_regionkey"), col("n_regionkey") === col("r_regionkey"))
      .join(suppNation, col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(when(col("nation") === "NATION_3", vol).otherwise(lit(0)))
          .as("nat_dec"),
        sum(vol).as("all_dec"))
      .select(col("o_year"),
        round(col("nat_dec").cast(DoubleType) /
          col("all_dec").cast(DoubleType), 6).as("mkt_share"))
  }

  // ----------------------------------------------------------- Q6 scan-aggregate
  /** TPC-H Q6-shaped revenue forecast [Q6]: a pure scan-aggregate —
    * three range predicates and one SUM, no join, no group-by. This is
    * the pushdown showcase the rest of the suite sits on top of: all
    * three filters reach the parquet scan as PushedFilters (the
    * shipdate range prunes whole row groups via min/max statistics),
    * ReadSchema is exactly the four touched columns, and the surviving
    * rows flow through one WholeStageCodegen span into a single-row
    * partial+final aggregate — at 100 TB this query is I/O-bound by
    * construction, the lower bound every other query is measured
    * against. Revenue = price×discount sums through decimal so the one
    * output row is partition-count-independent. */
  def q6ForecastRevenue(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
        col("l_shipdate") < lit("1997-01-01").cast(TimestampType) &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(
        sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
          .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lines"))

  // --------------------------------------------------------- Q9 product profit
  /** TPC-H Q9-shaped product-line profit [Q9]: profit per supplier
    * nation per order year for one part family — the wide 5-relation
    * join (part⋈lineitem⋈supplier⋈orders⋈nation) with a LIKE-driven
    * semi-reduction. The '%red%' filter cuts part BEFORE the fact
    * join, supplier/nation broadcast, and the two fact⋈fact joins
    * shuffle on their natural keys; the group-by runs partial+final on
    * (nation, year). The profit measure stays in exact decimal end to
    * end: l_quantity is integral so it casts to DECIMAL(18,0) and both
    * products — price×(1−disc) at scale 4, retail×qty at scale 2 —
    * are exact in 38 digits on both engines (no 0.5 cost factor: a
    * double→decimal half-cent tie would round differently per engine).
    * (This testdata has no partsupp/ps_supplycost; p_retailprice×qty
    * stands in as the cost side — the join tree and the
    * group-by-year-and-nation rollup, which are what Q9 exercises,
    * are unchanged.) */
  def q9ProductProfit(s: SparkSession, d: String): DataFrame = {
    val amount = dec(col("l_extendedprice")) *
      (lit(1).cast(Dec) - dec(col("l_discount"))) -
      dec(col("p_retailprice")) * col("l_quantity").cast(DecimalType(18, 0))
    Tables.lineitem(s, d)
      .join(Tables.part(s, d).filter(col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice"),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.nation(s, d).select("n_nationkey", "n_name"),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).as("o_year"))
      .agg(round(sum(amount).cast(DoubleType), 6).as("sum_profit"))
  }

  // -------------------------------------------------------- Q12 shipping modes
  /** TPC-H Q12-shaped late-shipment priority split [Q12]: for lines
    * shipped well after their order date in one year, how many came
    * from high- vs low-priority orders, per line class — the
    * conditional-CASE-sum over a fact⋈fact join every SLA dashboard
    * runs. The year filter prunes lineitem at the scan; the join
    * shuffles on orderkey; the 45-day lateness test rides the join as
    * a non-equi residual; both CASE sums share one hash aggregate.
    * (No l_shipmode/commitdate/receiptdate in this schema:
    * l_returnflag is the line class and shipdate-vs-orderdate the
    * lateness test — the join+conditional-aggregation shape is
    * Q12's.) */
  def q12ShipPriority(s: SparkSession, d: String): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast(TimestampType) &&
        col("l_shipdate") < lit("1998-01-01").cast(TimestampType))
      .select("l_orderkey", "l_shipdate", "l_returnflag")
      .join(Tables.orders(s, d)
          .select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 45 DAY"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(high, 1).otherwise(0)).as("high_line_count"),
        sum(when(high, 0).otherwise(1)).as("low_line_count"))
  }

  // --------------------------------------------------- Q19 disjunctive brackets
  /** TPC-H Q19-shaped bracket revenue [Q19]: revenue from three
    * brand/size/quantity brackets — the canonical OR-of-ANDs predicate
    * that mixes columns from BOTH join sides inside each disjunct, so
    * no single conjunct can cross the join. The scale answer is to
    * derive the per-side envelopes by hand and push them explicitly:
    * part pre-filters to the three brands at their max size bound,
    * lineitem to the union quantity range — each disjunct implies its
    * envelope, so the residual OR over the joined rows is unchanged
    * while both scans shrink by orders of magnitude (Catalyst keeps
    * simple disjuncts, but won't factor a cross-table CNF for you; the
    * envelope is the portable idiom). */
  def q19DiscountedRevenue(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .filter(col("l_quantity").between(1, 30)) // union of bracket ranges
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val p = Tables.part(s, d)
      .filter(col("p_brand").isin("Brand#4", "Brand#2", "Brand#19") &&
        col("p_size").between(1, 35)) // union of bracket envelopes
      .select("p_partkey", "p_brand", "p_size")
    li.join(p, col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#4" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#19" && col("p_size").between(1, 35) &&
          col("l_quantity").between(20, 30)))
      .agg(
        sum(dec(col("l_extendedprice")) *
          (lit(1).cast(Dec) - dec(col("l_discount"))))
          .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  // ------------------------------------------------ Q11 global scalar threshold
  /** TPC-H Q11-shaped important stock [Q11]: per-part value held by
    * one nation's suppliers, keeping parts above a FRACTION OF THE
    * GLOBAL TOTAL — the HAVING-against-scalar-subquery shape. Catalyst
    * executes the global-sum subquery once as a scalar (its own
    * partial+final aggregate over the same filtered join), broadcasts
    * the single value, and the HAVING becomes a cheap post-aggregate
    * filter — the fact side is scanned twice but never nested-looped.
    * Both sums are exact decimals and the 0.0002 threshold is a
    * decimal literal, so the cut is bit-identical on both engines
    * (0.0002 keeps the cut non-trivial at both tested SFs — the
    * fraction of a GLOBAL total a part can hold shrinks as the part
    * universe grows, TPC-H's own reason for scaling this constant).
    * (No partsupp here: lineitem revenue per partkey stands in for
    * ps_supplycost×availqty; the scalar-threshold shape is Q11's.) */
  def q11ImportantStock(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_q11")
    Tables.supplier(s, d).createOrReplaceTempView("graft_supplier_q11")
    Tables.nation(s, d).createOrReplaceTempView("graft_nation_q11")
    s.sql(
      """SELECT l_partkey,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |         AS value
        |FROM graft_lineitem_q11
        |JOIN graft_supplier_q11 ON s_suppkey = l_suppkey
        |JOIN graft_nation_q11 ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_3'
        |GROUP BY l_partkey
        |HAVING SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (1 - CAST(l_discount AS DECIMAL(18,2)))) > (
        |  SELECT SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |             (1 - CAST(l_discount AS DECIMAL(18,2)))) *
        |         CAST(0.0002 AS DECIMAL(6,4))
        |  FROM graft_lineitem_q11
        |  JOIN graft_supplier_q11 ON s_suppkey = l_suppkey
        |  JOIN graft_nation_q11 ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_3')""".stripMargin)
  }

  // ----------------------------------------------------- Q15 max-over-aggregate
  /** TPC-H Q15-shaped top supplier [Q15]: the supplier(s) with the
    * maximum quarterly revenue — an aggregate VIEW consumed twice,
    * once joined to supplier and once reduced to its MAX as a scalar
    * subquery. Catalyst computes the revenue CTE's hash aggregate,
    * the MAX scalar over it, and an equality filter — revenue is an
    * exact decimal sum so `total_rev = MAX(total_rev)` is a bit-exact
    * comparison on both engines (the reason Q15's equality-on-an-
    * aggregate is safe here where a double sum would not be), and
    * ties surface every argmax row deterministically. */
  def q15TopSupplier(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_q15")
    Tables.supplier(s, d).createOrReplaceTempView("graft_supplier_q15")
    s.sql(
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |         SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |             (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
        |  FROM graft_lineitem_q15
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM graft_supplier_q15 JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)""".stripMargin)
  }

  // ------------------------------------------------- Q16 supplier-count rollup
  /** TPC-H Q16-shaped supplier breadth [Q16]: how many DISTINCT
    * suppliers ship each surviving (brand, type, size) combination,
    * excluding a blacklist via NOT IN — COUNT(DISTINCT key) per group
    * stacked on a dim-filtered join and a null-aware anti join.
    * Catalyst plans the NOT IN against the 6-row complaint list as a
    * broadcast null-aware anti join (j10's shape, here feeding an
    * aggregate), and the distinct count expands to a two-phase
    * aggregate — partial distinct on (group, suppkey), final count —
    * so no group ever materializes its supplier set on one node.
    * (No partsupp: lineitem is the part↔supplier incidence; negative
    * account balance stands in for the complaints filter.) */
  def q16PartsSupplier(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_q16")
    Tables.part(s, d).createOrReplaceTempView("graft_part_q16")
    Tables.supplier(s, d).createOrReplaceTempView("graft_supplier_q16")
    s.sql(
      """SELECT p_brand, p_type, p_size,
        |       COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM graft_part_q16 JOIN graft_lineitem_q16 ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#4'
        |  AND p_type NOT LIKE 'ECONOMY%'
        |  AND p_size IN (1, 4, 7, 10, 14, 19, 23, 45)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM graft_supplier_q16
        |                        WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size""".stripMargin)
  }

  // -------------------------------------------------- Q22 lapsed-customer audit
  /** TPC-H Q22-shaped global sales opportunity [Q22]: well-funded
    * customers in selected country codes with NO RECENT ORDERS — a
    * substring-derived dimension, a global-average threshold, and a
    * correlated NOT EXISTS anti join in one query. The average
    * threshold is compared exactly: instead of `bal > AVG(bal)` (a
    * DOUBLE average whose last ulp depends on reduction order), the
    * one-row (SUM, COUNT) frame cross-joins in and the test is
    * `bal × n > sum` in exact decimal×integer arithmetic — the same
    * cut, bit-identical under any partitioning on both engines. The
    * NOT EXISTS decorrelates to a left-anti hash join on custkey with
    * the date bound pushed into the orders scan.
    * (No c_phone in this schema: the country code is the last two
    * digits of c_name — same substring-dimension shape; and since
    * every customer here has SOME order, "lapsed" = nothing since
    * 2000, which keeps the anti join selective rather than vacuous;
    * codes chosen so the result is non-empty at every tested SF.) */
  def q22GlobalSales(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("graft_customer_q22")
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_q22")
    s.sql(
      """WITH pool AS (
        |  SELECT substring(c_name, 17, 2) AS cntrycode,
        |         CAST(c_acctbal AS DECIMAL(18,2)) AS bal, c_custkey
        |  FROM graft_customer_q22
        |  WHERE substring(c_name, 17, 2)
        |        IN ('11','83','34','03','02','35','50')),
        |stats AS (SELECT SUM(bal) AS s, COUNT(*) AS n FROM pool WHERE bal > 0)
        |SELECT cntrycode, COUNT(*) AS numcust,
        |       CAST(SUM(bal) AS DOUBLE) AS totacctbal
        |FROM pool, stats
        |WHERE bal * n > s
        |  AND NOT EXISTS (SELECT 1 FROM graft_orders_q22
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY cntrycode""".stripMargin)
  }

  // ------------------------------------------------------------ J10 NOT IN anti
  /** NOT IN via the SQL path [J10]: the null-aware anti join — NOT IN
    * returns no rows if the subquery yields ANY null, so Catalyst
    * plans NullAwareAntiJoin rather than a plain left-anti (the
    * semantics j2_anti_join's Column-API NOT EXISTS deliberately does
    * not have). The subquery column is non-null here, so the result
    * matches set difference and the oracle agrees; the point is the
    * plan and semantics surface SQL users hit constantly. */
  def j10NotIn(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("graft_customer_j10")
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_j10")
    s.sql(
      """SELECT c_mktsegment, COUNT(*) AS n_never_f
        |FROM graft_customer_j10
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM graft_orders_j10
        |                        WHERE o_orderstatus = 'F')
        |GROUP BY c_mktsegment""".stripMargin)
  }

  // ---------------------------------------------------------- G1 recursive CTE
  /** Recursive CTE graph reachability [G1]: bounded BFS over the
    * event-type transition graph — WITH RECURSIVE landed in Spark 4,
    * closing the last big SQL-surface gap vs warehouse engines. The
    * edge set is the distinct per-user (type → next type) transitions
    * (≤ |types|² rows — the recursion iterates over a TINY frame, the
    * one shape recursive SQL scales on: never recurse over the fact
    * table itself, aggregate it into the working set first). Walks are
    * depth-bounded so cyclic type graphs terminate; min-depth and
    * bounded-walk counts are exact integers on both engines. */
  def g1RecursiveReach(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d).createOrReplaceTempView("graft_events_g1")
    s.sql(
      """WITH RECURSIVE
        |edges AS (
        |  SELECT DISTINCT event_type AS src, next_type AS dst FROM (
        |    SELECT event_type,
        |           lead(event_type) OVER (PARTITION BY user_id
        |             ORDER BY ts, event_id) AS next_type
        |    FROM graft_events_g1)
        |  WHERE next_type IS NOT NULL),
        |reach(node, depth) AS (
        |  SELECT 'view', 0
        |  UNION ALL
        |  -- broadcast the tiny edge frame: each recursion step becomes
        |  -- a map-side join instead of a 32-partition shuffle pair
        |  -- (measured 2.6x on the whole query at sf0.1)
        |  SELECT /*+ BROADCAST(e) */ e.dst, r.depth + 1
        |  FROM reach r JOIN edges e ON e.src = r.node
        |  WHERE r.depth < 4)
        |SELECT node, CAST(MIN(depth) AS INTEGER) AS min_depth,
        |       COUNT(*) AS n_walks
        |FROM reach GROUP BY node""".stripMargin)
  }

  /** Cumulative distinct users [EV-CUM]: users-to-date per calendar
    * day WITHOUT a rolling distinct over history — distinct-to-date =
    * running sum of FIRST-SEEN counts, so the corpus is read once
    * (per-user min day, partial-agg'd), and the cumulative window
    * runs over the day-grain frame (rows = calendar days, never data
    * volume — the ev_sliding_distinct boundedness argument; a naive
    * rescan computes day-N's distinct over N days of raw events). */
  def evCumulativeUsers(s: SparkSession, d: String): DataFrame = {
    val firstSeen = Tables.events(s, d)
      .groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    firstSeen.withColumn("cum_users",
      sum(col("new_users")).over(Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Bitwise suite [X19]: bit_and/bit_or/bit_xor aggregates plus
    * shift/mask/xor scalar expressions — the key-packing and
    * bitmap-flag surface (the fingerprint and Bloom operators build
    * on exactly these primitives). All-integer, partial-agg'd. */
  def x19BitwiseSuite(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        expr("bit_and(o_custkey)").as("band"),
        expr("bit_or(o_custkey)").as("bor"),
        expr("bit_xor(o_custkey)").as("bxor"),
        sum(expr("o_custkey ^ shiftright(o_custkey, 3)")).as("sum_mix"),
        sum(expr("o_custkey & 255")).as("sum_low"),
        sum(expr("shiftleft(o_custkey & 15, 2)")).as("sum_shift"))

  // ---------------------------------------------------------- G4 shortest paths
  /** Single-source shortest paths [G4]: BFS hop distances over the
    * part co-occurrence graph (parts appearing together in an order —
    * the basket graph of [[Basket]]; at bench SF this is a ~15k-node
    * giant component, avg degree ~60). The fact table is aggregated
    * into the edge frame FIRST (the g1 discipline: never iterate over
    * facts); BFS then expands a frontier per round with an anti-join
    * against settled nodes, so each node is discovered exactly once at
    * its minimum distance — no walk enumeration, no exponential
    * blowup on cycles. Rounds = graph diameter (capped), each round
    * one join over the edge frame; `localCheckpoint` truncates the
    * growing lineage exactly like pagerank, and the round count lands
    * in bench counters. The oracle's recursive CTE explores (node,
    * dist) pairs under UNION-dedup and takes MIN — same distances. */
  def g4ShortestPath(s: SparkSession, d: String, minCo: Int = 1,
      maxHops: Int = 8): DataFrame = {
    import s.implicits._
    // the edge build shares Basket's per-basket-quadratic fan-out, so
    // it shares the same cap (never engages at TPC-H's ≤7-line
    // baskets; counter-recorded when a skewed basket stream would) and
    // the same sort-group pair kernel — one lineitem shuffle, no
    // self-join
    val pairs = Basket.pairCounts(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", Basket.DefaultBasketCap, "g4")
      .select(col("pair_a").as("pa"), col("pair_b").as("pb"),
        col("support").as("n"))
      .filter(col("n") >= minCo)
    val edges = pairs.select(col("pa").as("src"), col("pb").as("dst"))
      .union(pairs.select(col("pb").as("src"), col("pa").as("dst")))
      .persist()
    val srcRow = edges.agg(min(col("src"))).head()
    if (srcRow.isNullAt(0)) {
      // no edges at all: degrade like the oracle's recursive base —
      // one (NULL, 0) row — instead of dereferencing a null MIN
      edges.unpersist()
      return s.createDataFrame(
        java.util.Collections.singletonList(org.apache.spark.sql.Row(null, 0)),
        StructType(Seq(StructField("node", LongType),
          StructField("dist", IntegerType))))
    }
    val out = bfsFrom(edges, srcRow.getLong(0), maxHops)
    edges.unpersist()
    out
  }

  /** The BFS core over any (src, dst) edge frame — property tests
    * drive this with hand-built cyclic/disconnected graphs.
    *
    * Join-strategy note (r18, guide §3.1): `frontier` and `dist` are
    * localCheckpoint'd frames, so Catalyst has NO size estimate for
    * them (RDD-backed scans report the default size) and planned every
    * hop as a pair of SortMergeJoins that re-shuffled the full edge
    * table — measured 103 MB shuffled / 93.7 executor-seconds for a
    * 2.4M-edge graph at sf0.1. The driver, however, knows both sizes
    * EXACTLY (they are the materialized checkpoints it just counted),
    * so the strategy choice is made here, data-adaptively: while the
    * visited set stays under [[BfsBroadcastRows]] rows the hints force
    * broadcast builds (per hop: one map-side scan of the cached edges,
    * zero edge shuffles); past the cap — a frontier too big to ship —
    * the hint is withheld and the planner falls back to the shuffled
    * joins, which is the correct shape for a billion-node frontier at
    * 100 TB. */
  private[operators] val BfsBroadcastRows = 5000000L
  def bfsFrom(edges: DataFrame, source: Long, maxHops: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    var dist = Seq((source, 0)).toDF("node", "dist").localCheckpoint()
    var distRows = 1L
    var frontier = dist
    var hop = 0
    var more = true
    while (more && hop < maxHops) {
      hop += 1
      val f =
        if (distRows <= BfsBroadcastRows) broadcast(frontier) else frontier
      val d = if (distRows <= BfsBroadcastRows) broadcast(dist) else dist
      val next = f.join(edges, f("node") === edges("src"))
        .select(col("dst").as("node"))
        .distinct()
        .join(d, Seq("node"), "left_anti")
        .withColumn("dist", lit(hop))
        .localCheckpoint()
      // exact new-node count from the materialized checkpoint (same
      // one-job cost as the previous limit(1) probe) — it both ends
      // the loop and keeps the broadcast decision size-aware
      val nNew = next.count()
      more = nNew > 0
      if (more) {
        distRows += nNew
        dist = dist.union(next).localCheckpoint()
        frontier = next
        // counted only for rounds that DISCOVER nodes, so the metric
        // equals the reached depth (the terminal empty probe is not
        // a round)
        graft.Counters.add("bfs_rounds", 1L)
      }
    }
    dist.select(col("node"), col("dist").cast(IntegerType).as("dist"))
  }

  // ---------------------------------------------------------------- J9 set ops
  /** Relational set operations [J9]: UNION (distinct), INTERSECT,
    * EXCEPT over two derived key sets, surfaced as one row of counts.
    * Catalyst plans these as aggregates and semi/anti hash joins (the
    * same scale shapes as j2) — nothing new moves at 100 TB, but the
    * operator surface itself (dedup semantics, null handling) is what
    * a SQL user reaches for, so it gets its own oracle-checked entry. */
  def j9SetOps(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val a = o.where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    val b = o.where(col("o_orderstatus") === "F").select(col("o_custkey"))
    val cnt = (df: DataFrame, name: String) =>
      df.agg(count(lit(1)).as(name))
    cnt(a.union(b).distinct(), "n_union")
      .crossJoin(cnt(a.intersect(b), "n_intersect"))
      .crossJoin(cnt(a.except(b), "n_except"))
      .crossJoin(cnt(a.unionAll(b), "n_union_all"))
  }

  // ---------------------------------------------------------- T5 limit + offset
  /** Pagination [T5]: ORDER BY … LIMIT k OFFSET m — page three of the
    * price-ranked orders. Spark plans offset+limit as a single
    * head-take after the sort (no full materialization); determinism
    * needs the same unique tie-break every ORDER BY in the suite
    * carries, or pages would shuffle between runs. */
  def t5LimitOffset(s: SparkSession, d: String, page: Int = 3,
      pageSize: Int = 20): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        dec(col("o_totalprice")).cast(DoubleType).as("price"))
      .orderBy(col("price").desc, col("o_orderkey").asc)
      .offset((page - 1) * pageSize)
      .limit(pageSize)

  // ------------------------------------------------------ A24 exact-moment stddev
  /** Exact variance / stddev [A24] from DECIMAL moments — the a19_corr
    * recipe: built-in var_samp/stddev use a streaming update whose
    * result depends on merge order (fine numerically, but not
    * bit-reproducible across partitionings); summing n, Σx, Σx² as
    * exact decimals and applying the closed form once in DOUBLE gives
    * the same answer on every run and every engine. */
  def a24Stddev(s: SparkSession, d: String): DataFrame = {
    val v = col("o_totalprice").cast(DecimalType(18, 6))
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(v).cast(DoubleType).as("sx"),
        sum(v * v).cast(DoubleType).as("sxx"))
      .select(col("o_orderpriority"), col("n"),
        // clamp: double cancellation can leave a tiny negative residue
        // on a (near-)constant group — Spark's sqrt(neg) is NaN but the
        // oracle engine hard-errors, so both sides clamp at 0
        round(greatest(lit(0.0), (col("sxx") - col("sx") * col("sx") / col("n"))
          / (col("n") - 1)), 4).as("var_samp"),
        round(sqrt(greatest(lit(0.0),
          (col("sxx") - col("sx") * col("sx") / col("n"))
            / (col("n") - 1))), 6).as("stddev_samp"))
  }

  // ------------------------------------------------------------ X17 datetime suite
  /** Datetime scalar family [X17]: add/diff/truncate/extract — the
    * calendar arithmetic an event pipeline leans on constantly. All
    * codegen'd row-local expressions; DATE-typed outputs and integer
    * extracts so both engines hash identically. */
  def x17DatetimeSuite(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        col("o_orderdate").cast("date").as("d0"))
      .select(
        col("o_orderkey"), col("d0"),
        date_add(col("d0"), 30).as("plus30"),
        add_months(col("d0"), 2).as("plus2mo"),
        last_day(col("d0")).as("month_end"),
        trunc(col("d0"), "mm").as("month_start"),
        datediff(to_date(lit("1998-12-31")), col("d0")).as("days_to_end"),
        dayofweek(col("d0")).as("dow"),
        quarter(col("d0")).as("qtr"))

  // ------------------------------------------------------------- W6 relative rank
  /** Relative-rank windows [W6]: percent_rank + cume_dist per segment —
    * the percentile-assignment shape score-normalization and
    * threshold-picking pipelines use. The unique (price, key) ordering
    * makes every rank distinct, so both engines evaluate the identical
    * (rank−1)/(n−1) and rank/n rationals; rounded to 6 digits by the
    * shared float-output contract. */
  def w6PercentRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    Tables.orders(s, d).select(
      col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
      round(percent_rank().over(w), 6).as("pct_rank"),
      round(cume_dist().over(w), 6).as("cume"))
  }

  // ---------------------------------------------------------- W7 first/last/nth
  /** Frame-edge window functions [W7]: per-customer first, latest and
    * second order (value + date) in one pass — first_value over the
    * default growing frame, last_value/nth_value over the explicit
    * full-partition frame (the default frame ends at CURRENT ROW, the
    * classic last_value trap). Unique (date, key) ordering keeps both
    * engines' edges identical. One sort-shuffle on the customer;
    * completes the window matrix with the frame-edge family. */
  def w7FirstLast(s: SparkSession, d: String): DataFrame = {
    val order = Seq(col("o_orderdate").asc, col("o_orderkey").asc)
    val grow = Window.partitionBy(col("o_custkey")).orderBy(order: _*)
    val full = grow.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        first_value(col("o_orderkey")).over(grow).as("first_order"),
        last_value(col("o_orderkey")).over(full).as("last_order"),
        nth_value(col("o_orderkey"), 2).over(full).as("second_order"))
  }

  // ------------------------------------------------------------- W5 RANGE frame
  /** Time-interval RANGE window frame [W5]: per-customer rolling 7-day
    * spend — the frame is bounded by the ORDER-BY VALUE (all orders
    * within the trailing 6 days), not a row count, so same-day peer
    * rows all join the frame and the result is independent of intra-day
    * row order (no tie-break needed, unlike every ROWS frame). Ordering
    * by an integer day number keeps the Column-API rangeBetween exact
    * and gives the oracle a literal mirror. Completes the window-family
    * matrix: rank [w1], running [w2], ROWS frame [w3], tile/offset
    * [w4], RANGE frame [w5]. O(frame) state per task at any scale. */
  def w5RangeFrame(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("day")).rangeBetween(-6, 0)
    Tables.orders(s, d)
      .withColumn("day",
        datediff(col("o_orderdate"), lit(java.sql.Date.valueOf("1990-01-01"))))
      .select(col("o_custkey"), col("o_orderkey"), col("day"),
        sum(dec(col("o_totalprice"))).over(w).cast(DoubleType).as("spend_7d"))
  }

  // ---------------------------------------------------------------- T1 top-k
  /** Top-k by aggregate desc — takeOrdered(10) (etherTop10Contracts.py:68,
    * etherTopMiners.py:46). Plans TakeOrderedAndProject, not a total
    * sort. Decimal agg ⇒ deterministic ordering; unique key tie-break. [T1] */
  def t1TopK(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_partkey"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(Dec) - dec(col("l_discount"))))
        .as("revenue_dec"))
      .orderBy(col("revenue_dec").desc, col("l_partkey").asc)
      .limit(10)
      .select(col("l_partkey"), col("revenue_dec").cast(DoubleType).as("revenue"))

  // ---------------------------------------------------------------- T2 top-1
  /** Argmax — takeOrdered(1) (etherscams.py:57-58). [T2] */
  def t2Top1(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(dec(col("o_totalprice"))).as("spend_dec"))
      .orderBy(col("spend_dec").desc, col("o_custkey").asc)
      .limit(1)
      .select(col("o_custkey"), col("spend_dec").cast(DoubleType).as("spend"))

  // ---------------------------------------------------------------- T3 sort
  /** Total sort ascending — sortByKey (ethergasguzzlers.py:72). Spark
    * range-partitions (sampled bounds) so the sort scales out. [T3] */
  def t3SortAsc(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d)
      .select("s_suppkey", "s_name", "s_acctbal")
      .orderBy(col("s_acctbal").asc, col("s_suppkey").asc)

  // ---------------------------------------------------------------- T4 limit
  /** Deterministic limit — reference take(100) (ethergasguzzlers.py:90).
    * Ordered by unique key so any parallelism yields the same rows. [T4] */
  def t4Limit(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .orderBy(col("o_orderkey").asc)
      .limit(100)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  // ---------------------------------------------------------------- X3/X4 date formats
  /** Epoch/timestamp → "MM-yyyy" and "MM/yyyy" UTC month buckets
    * (etherTransactionsAnalysis.py:47, ethergasguzzlers.py:61). [X3, X4] */
  def x3MonthFormat(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "MM-yyyy").as("month_dash"),
        date_format(col("o_orderdate"), "MM/yyyy").as("month_slash"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"))

  // ---------------------------------------------------------------- X9/X10 JSON
  /** JSON parse + field access over a string column — scams.json
    * (etherscams.py:46-48). [X9, X10] */
  def x9JsonExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k_val"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("k_val")).as("sum_k"),
        max(col("k_val")).as("max_k"))

  // ---------------------------------------------------------------- X12 explode array
  /** Array explode with position — addresses flatMap (etherscams.py:49).
    * Floats cast elementwise to double (exact) for oracle parity. [X12] */
  def x12ExplodeArray(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .filter(col("vec_id") < 20)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "val")))
      .select(col("vec_id"), col("pos"),
        col("val").cast(DoubleType).as("val"))

  // ---------------------------------------------------------------- X scalar suite
  /** Scalar-function surface: length/substring/concat/cast/arithmetic
    * (SURVEY §2.6 X2, X5–X8). All codegen'd Catalyst built-ins. */
  def xScalarSuite(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(
        col("p_partkey"),
        length(col("p_name")).as("name_len"),
        upper(col("p_brand")).as("brand_upper"),
        substring(col("p_type"), 1, 4).as("type_prefix"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        (col("p_size") * 2 + 1).as("size_calc"),
        col("p_size").cast(StringType).as("size_str"),
        (dec(col("p_retailprice")) * lit(2).cast(Dec)).cast(DoubleType).as("price_x2"))

  // ---------------------------------------------------------------- B1 bucketed join
  /** Co-located (bucketed) fact⋈fact join: orders and lineitem written
    * once bucketed+sorted by the join key into a local warehouse, then
    * joined — both sides arrive pre-partitioned, so the plan has NO
    * Exchange (verify with Explain: SortMergeJoin over two bucketed
    * scans). At 100 TB this turns every repeated orderkey join from a
    * full shuffle into a local merge. [B1] */
  def b1BucketedJoin(s: SparkSession, d: String): DataFrame = {
    val suffix = d.replaceAll("[^A-Za-z0-9]", "_")
    val oTbl = s"graft_orders_b$suffix"
    val lTbl = s"graft_lineitem_b$suffix"
    // per-table guard: a failure between the two writes must not leave
    // a half-created pair that later calls skip over
    def ensure(tbl: String)(write: => Unit): Unit =
      if (!s.catalog.tableExists(tbl)) {
        // the in-memory catalog forgets tables across JVMs but their
        // warehouse dirs persist — clear the stale location first
        val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
        val p = java.nio.file.Paths.get(wh, tbl)
        if (java.nio.file.Files.exists(p)) {
          val walk = java.nio.file.Files.walk(p)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.delete(f))
          finally walk.close()
        }
        write
      }
    ensure(oTbl) {
      Tables.orders(s, d).write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(oTbl)
    }
    ensure(lTbl) {
      Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount")
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(lTbl)
    }
    s.table(oTbl)
      .join(s.table(lTbl), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast(Dec) - dec(col("l_discount"))))
          .cast(DoubleType).as("revenue"))
  }

  // ---------------------------------------------------------------- J5 outer join
  /** Left-outer join with null-aware aggregation: every order, its
    * lineitem count (0 where unmatched — count(col) skips nulls) and
    * a null-flag tally. Declared outer-join surface (SURVEY §2.3). */
  def j5OuterJoin(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity")),
        col("o_orderkey") === col("l_orderkey"), "left_outer")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("l_orderkey")).as("n_matched"),
        sum(when(col("l_orderkey").isNull, 1).otherwise(0)).as("n_unmatched"))

  // ---------------------------------------------------------------- SQL string interface
  /** The spark.sql(...) entry path: temp views + a scalar subquery
    * (orders above the global average price). Shows SQL-string queries
    * share the same Catalyst planning as the Column API. */
  def sqlScalarSubquery(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders")
    s.sql(
      """SELECT o_orderpriority,
        |       COUNT(*) AS n_above_avg,
        |       MIN(o_orderkey) AS min_key
        |FROM graft_orders
        |WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM graft_orders)
        |GROUP BY o_orderpriority""".stripMargin)
  }

  /** Correlated EXISTS via the SQL-string path [J8]: Catalyst's
    * subquery decorrelation rewrites the EXISTS into a left-semi hash
    * join (same physical plan the Column-API j2 builds by hand) and
    * NOT EXISTS into an anti join — proving the rewrite rule so SQL
    * users get the scale-safe plan for free. */
  def j8ExistsCorrelated(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("graft_customer")
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_j8")
    s.sql(
      """SELECT c_mktsegment,
        |       COUNT(*) AS n_customers,
        |       COUNT(CASE WHEN has_urgent THEN 1 END) AS n_with_urgent
        |FROM (SELECT c_custkey, c_mktsegment,
        |             EXISTS (SELECT 1 FROM graft_orders_j8 o
        |                     WHERE o.o_custkey = c.c_custkey
        |                       AND o.o_orderpriority = '1-URGENT')
        |               AS has_urgent
        |      FROM graft_customer c)
        |GROUP BY c_mktsegment""".stripMargin)
  }

  // --------------------------------------------------------- A23 ordered string_agg
  /** Deterministic string aggregation [A23]: the listagg/string_agg
    * shape — distinct values per group, sorted, joined. collect_list's
    * order is partition-dependent, so the only scale-sane formulation
    * sorts INSIDE the row (array_sort over collect_set) rather than
    * relying on input order; group payload is bounded (distinct
    * priorities), which is the precondition any string_agg needs at
    * 100 TB anyway. */
  def a23StringAgg(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(array_join(array_sort(collect_set(col("o_orderpriority"))), ",")
        .as("priorities"),
        count(lit(1)).as("n_orders"))

  // --------------------------------------------------------- EV distinct users/window
  /** Windowed distinct users [EV-USERS]: exact DAU-style count per
    * tumbling hour + event_type. Catalyst plans the countDistinct as a
    * two-phase aggregate (dedup on (window, type, user), then count) —
    * the skew-safe shape a11 demonstrates explicitly — so no task ever
    * holds a window's full user set in one hash table. */
  def evWindowUsers(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n_users"), col("n_events"))

  // ---------------------------------------------------------------- X16 regexp suite
  /** Regexp scalar family [X16]: extract / replace / match over the
    * part names — all codegen'd row-local expressions; patterns kept in
    * the Java∩RE2 common dialect so the DuckDB oracle evaluates the
    * identical language. */
  def x16RegexpSuite(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "([a-z]+)$", 1).as("last_word"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("devoweled"),
        col("p_name").rlike("^[a-z]+ ").as("starts_word"),
        length(regexp_replace(col("p_name"), "[^ ]", "")).as("n_spaces"))

  // ---------------------------------------------------------------- P1 partition pruning
  /** One-time year-partitioned copy of orders (hive-style o_year=YYYY
    * directories), shared by the static (p1) and dynamic (p2) pruning
    * queries; testdata ships unpartitioned, so the copy is
    * materialized (idempotently) per sf dir. */
  private def partitionedOrders(s: SparkSession, d: String): DataFrame = {
    val out = sys.props("java.io.tmpdir") + "/graft_part_orders_" +
      d.replaceAll("[^A-Za-z0-9.]", "_")
    if (!new java.io.File(out, "_SUCCESS").exists()) {
      Tables.orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_year").parquet(out)
    }
    s.read.parquet(out)
  }

  /** Nested-schema pruning [P4]: a STRUCT-typed parquet table read
    * through `props.*` subfield access — the third leg of the pruning
    * story (p1 prunes directories, p2/p3 prune rows; this prunes
    * WITHIN the column). The events table's JSON props are materialized
    * as a real struct<k,etype,val,pad> parquet column (pad is a wide
    * decoy field), then the query touches only props.k and props.etype:
    * Catalyst must push both the subfield projection and the props.k
    * filter into the scan, so ReadSchema carries exactly
    * struct<props:struct<k:int,etype:string>> — at 100 TB the decoy
    * fields are never even decompressed. NestedPruningSpec pins that
    * plan shape; the oracle recomputes the aggregate from the original
    * JSON. */
  def p4NestedPruning(s: SparkSession, d: String): DataFrame = {
    val out = graft.Fs.scratchDir(s, "graft_nested", d)
    Tables.events(s, d).select(col("event_id"), col("user_id"),
      struct(
        get_json_object(col("props"), "$.k").cast("int").as("k"),
        col("event_type").as("etype"),
        col("value").as("val"),
        lpad(col("event_type"), 64, "x").as("pad")).as("props"))
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out)
      .filter(col("props.k") >= 50)
      .groupBy(col("props.etype").as("etype"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("props.k")).as("sum_k"))
  }

  /** Partition-pruned scan [P1]: the year-partitioned orders copy read
    * with a LITERAL year predicate — the plan's scan shows
    * PartitionFilters and touches only the matching directories. At
    * 100 TB this is the difference between scanning one year and
    * scanning the decade. */
  def p1PartitionPruning(s: SparkSession, d: String): DataFrame = {
    partitionedOrders(s, d)
      .filter(col("o_year") === 1995)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast(DoubleType).as("sum_price"))
  }

  /** Dynamic partition pruning [p2]: the partition filter arrives
    * through a JOIN, not a literal — the optimizer builds the dim
    * side's key set at runtime and prunes fact partitions with it
    * (plan shows `dynamicpruningexpression` in PartitionFilters;
    * ExplainPlanSpec pins it). At 100 TB this is the difference
    * between scanning every date partition of a fact table and
    * scanning only the dates a filtered calendar/dim actually selects
    * — static pruning (p1) can't help because no literal appears.
    * Reuses p1's year-partitioned orders copy; the "calendar" dim is
    * odd years derived from the base table, so the DuckDB oracle can
    * reproduce it. */
  def p2DynamicPruning(s: SparkSession, d: String): DataFrame = {
    val fact = partitionedOrders(s, d)
    val cal = Tables.orders(s, d)
      .select(year(col("o_orderdate")).as("y")).distinct()
      .filter(col("y") % 2 === 1)
    fact.join(cal, fact("o_year") === cal("y"))
      .groupBy(col("o_year"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast(DoubleType).as("sum_price"))
  }

  // ---------------------------------------------------------------- Q3 multi-join
  /** TPC-H Q3-shaped 3-way join: segment-filtered customers ⋈ orders ⋈
    * lineitem, revenue per order, top-10. Exercises join planning
    * across two fact-sized shuffles — both dim filters reach the scans,
    * AQE picks broadcast for the filtered customer side. */
  def q3ShippingPriority(s: SparkSession, d: String): DataFrame = {
    val cutoff = lit("1995-03-15").cast(TimestampType)
    val cust = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > cutoff)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(Dec) - dec(col("l_discount"))))
        .as("rev_dec"))
      .orderBy(col("rev_dec").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), col("o_orderdate"),
        col("rev_dec").cast(DoubleType).as("revenue"))
  }

  // ---------------------------------------------------------------- Q5 star join
  /** TPC-H Q5-shaped 5-way star join: lineitem ⋈ orders ⋈ supplier ⋈
    * nation ⋈ region with a region filter — the dims chain down to a
    * few broadcast-able rows, so the only big shuffles are the two
    * fact joins. */
  def q5StarJoin(s: SparkSession, d: String): DataFrame = {
    val nations = Tables.nation(s, d)
      .join(Tables.region(s, d).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val sup = Tables.supplier(s, d)
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "n_name")
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(Tables.orders(s, d).select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(Dec) - dec(col("l_discount"))))
        .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  // ---------------------------------------------------------------- Q18 large orders
  /** TPC-H Q18-shaped "large volume customer" query: orders whose line
    * quantities sum past a threshold, re-joined to customers and
    * ranked. The scale-defining order: aggregate lineitem FIRST
    * (partial-agg'd sum per orderkey, shuffle carries one row per
    * order), filter to the rare big ones, THEN join — the filtered key
    * set is small enough to drive the orders/customer joins as
    * broadcasts under AQE instead of shuffling both facts. Top-k ends
    * as TakeOrderedAndProject. */
  def q18LargeOrders(s: SparkSession, d: String, minQty: Int = 150,
      k: Int = 20): DataFrame = {
    val big = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(dec(col("l_quantity"))).as("total_qty"))
      .filter(col("total_qty") > minQty)
    Tables.orders(s, d)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        dec(col("o_totalprice")).cast(DoubleType).as("o_price"),
        col("total_qty").cast(DoubleType).as("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey").asc)
      .limit(k)
  }

  // ---------------------------------------------------------------- A11 two-phase distinct
  /** Exact count-distinct as a two-phase aggregation: dedupe on
    * (group, value) first, then count per group. Same result as
    * countDistinct, but the first shuffle spreads a hot group across
    * partitions by value — the skew-safe formulation when one group
    * holds a large share of all rows (COUNT(DISTINCT) in one agg must
    * route every row of a group through one task's hash set). [A11] */
  def a11TwoPhaseDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_suppkey"), col("l_partkey")).distinct()
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_parts"))

  // ---------------------------------------------------------------- A10 custom Aggregator
  /** Exact median via a typed Aggregator UDAF — the declared custom-
    * aggregation surface (SURVEY §2.8). */
  def a10Median(s: SparkSession, d: String): DataFrame = {
    val med = udaf(new graft.functions.Aggs.MedianAgg())
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(med(col("o_totalprice")).as("median_price"),
        count(lit(1)).as("n_orders"))
  }

  // ---------------------------------------------------------------- A12 scalable median
  /** Exact median without buffering whole groups: a per-group
    * row_number window (sort-based, spill-safe) plus a count window
    * select the middle one or two rows, then min/max + midpoint
    * interpolation recovers the median. Same DuckDB oracle as [[a10Median]];
    * unlike the Aggregator's in-memory ArrayBuffer, the hot-group cost
    * here is a disk-backed sort — no executor OOM at any group size,
    * which is what exact median has to look like at 100 TB. */
  def a12MedianScalable(s: SparkSession, d: String): DataFrame = {
    val byGroup = Window.partitionBy(col("o_orderpriority"))
    val ordered = byGroup.orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
      .withColumn("rn", row_number().over(ordered))
      .withColumn("cnt", count(lit(1)).over(byGroup))
      // middle positions: (n+1) DIV 2 and n DIV 2 + 1 (equal when n odd)
      .filter(col("rn") === floor((col("cnt") + 1) / 2) ||
        col("rn") === floor(col("cnt") / 2) + 1)
      .groupBy(col("o_orderpriority"))
      // lo + (hi-lo)*0.5 matches DuckDB's interpolation bit-for-bit
      // (plain (lo+hi)/2 rounds differently); odd n ⇒ lo == hi
      .agg((min(col("o_totalprice")) +
        (max(col("o_totalprice")) - min(col("o_totalprice"))) * 0.5)
        .as("median_price"),
        max(col("cnt")).as("n_orders"))
  }

  // ---------------------------------------------------------------- A31 weighted median
  /** Exact weighted median [A31]: the smallest value whose cumulative
    * weight reaches half the group's total — the robust center of a
    * weighted distribution (price weighted by quantity here; quality
    * scores weighted by token counts in a data pipeline). Same
    * spill-safe shape as the scalable median [[a12MedianScalable]]:
    * ONE per-group sort window carries the running weight, a count
    * window the total, and the crossing row is selected by integer
    * comparison (2·cum ≥ tot with integer weights — no half-total
    * float ever compared, so engines cannot disagree at the
    * boundary). min() picks the first crossing under the unique
    * (value, key) sort. */
  def a31WeightedMedian(s: SparkSession, d: String): DataFrame = {
    val byGroup = Window.partitionBy(col("l_returnflag"))
    val ordered = byGroup.orderBy(col("l_extendedprice"), col("l_orderkey"),
      col("l_linenumber"))
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast(LongType).as("wgt"))
      .withColumn("cum", sum(col("wgt")).over(
        ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum(col("wgt")).over(byGroup))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("l_extendedprice")).as("weighted_median"),
        max(col("tot")).as("total_weight"))
  }

  // ---------------------------------------------------------------- X13 string→date parse
  /** Month-string → date parse (graphs.ipynb to_datetime('%m-%Y')):
    * format out and parse back, so both directions are exercised. [X13] */
  def x13DateParse(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        to_date(date_format(col("o_orderdate"), "MM-yyyy"), "MM-yyyy").as("month_start"))
      .select(col("o_orderkey"), col("month_start"),
        year(col("month_start")).as("m_year"),
        month(col("month_start")).as("m_month"))

  // ---------------------------------------------------------------- X14 native vector expr
  /** Codegen'd native Catalyst expressions vec_dot/vec_norm over the
    * embeddings table — the custom-Expression surface, oracle-checked
    * against DuckDB list arithmetic. */
  def x14VectorExpr(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorExpressions.{vecDot, vecNorm}
    Tables.embeddings(s, d)
      .filter(col("vec_id") < 50)
      .select(col("vec_id"),
        round(vecDot(col("embedding"), col("embedding")), 6).as("self_dot"),
        round(vecNorm(col("embedding")), 6).as("l2_norm"))
  }

  // ---------------------------------------------------------------- S1+S5+S6 CSV roundtrip
  /** CSV sink + schema-typed CSV scan + re-ingest of own output — the
    * reference's textFile CSV reads (etherTransactionsAnalysis.py:45),
    * pandas to_csv (graphs.ipynb cell 16), and contractsTop10 re-read
    * (ethergasguzzlers.py:55). Writes a projection of lineitem as CSV,
    * reads it back with a declared schema, and aggregates — the oracle
    * runs the same aggregate on the original parquet, so the whole
    * write→read cycle must be lossless. [S1, S5, S6] */
  /** Shared write-then-read-back roundtrip aggregate for the source/
    * sink format queries (CSV [S1/S5/S6], ORC [S7]): identical column
    * slice and aggregate so the format conversion itself is the only
    * variable under test. Scratch dirs are keyed per (JVM, session)
    * via [[graft.Fs.scratchDir]] so concurrent sessions can't race an
    * overwrite against each other's scans. */
  private def formatRoundtrip(s: SparkSession, d: String,
      format: String): DataFrame = {
    val out = graft.Fs.scratchDir(s, s"graft_${format}_roundtrip", d)
    val slice = Tables.lineitem(s, d)
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
        "l_shipdate")
    val back = format match {
      case "csv" =>
        slice.write.mode("overwrite").option("header", "true").csv(out)
        val schema = StructType(Seq(
          StructField("l_orderkey", LongType),
          StructField("l_partkey", LongType),
          StructField("l_quantity", DoubleType),
          StructField("l_extendedprice", DoubleType),
          StructField("l_shipdate", TimestampType)))
        s.read.schema(schema).option("header", "true")
          .option("mode", "DROPMALFORMED").csv(out)
      case "orc" =>
        slice.write.mode("overwrite").orc(out)
        s.read.orc(out)
      case "zstd" =>
        // codec is a sink OPTION, not a format: zstd parquet decodes
        // to bit-identical values at a better ratio than the snappy
        // default — the cold-tier / network-bound choice at 100 TB.
        // FormatRoundtripSpec pins the .zstd.parquet extension so the
        // option is proven load-bearing, not silently ignored.
        slice.write.mode("overwrite").option("compression", "zstd")
          .parquet(out)
        s.read.parquet(out)
      case "json" =>
        // JSON-lines: schema-on-read (inference would widen longs and
        // read timestamps as strings — the explicit schema is the test)
        slice.write.mode("overwrite").json(out)
        val schema = StructType(Seq(
          StructField("l_orderkey", LongType),
          StructField("l_partkey", LongType),
          StructField("l_quantity", DoubleType),
          StructField("l_extendedprice", DoubleType),
          StructField("l_shipdate", TimestampType)))
        s.read.schema(schema).json(out)
      case "xml" =>
        // XML (built into Spark 4): the interchange format config/feed
        // pipelines still move. rowTag frames each record; explicit
        // schema on read (inference widens numerics and reads
        // timestamps as strings). Element-per-field XML is ~10× the
        // bytes of the columnar formats and the roundtrip proves the
        // READER's type coercion, not throughput — so it runs on a
        // keyed 1-in-10 subsample (oracle filters identically) to keep
        // the format matrix's bench cost flat; a lake re-encodes XML
        // feeds to parquet on ingest (s1/s7's path) rather than
        // scanning XML at volume.
        slice.filter(col("l_orderkey") % 10 === 0)
          .write.mode("overwrite").option("rowTag", "item")
          .format("xml").save(out)
        val schema = StructType(Seq(
          StructField("l_orderkey", LongType),
          StructField("l_partkey", LongType),
          StructField("l_quantity", DoubleType),
          StructField("l_extendedprice", DoubleType),
          StructField("l_shipdate", TimestampType)))
        s.read.schema(schema).option("rowTag", "item")
          .format("xml").load(out)
    }
    back.agg(count(lit(1)).as("n_rows"),
      sum(col("l_quantity")).as("sum_qty"),
      sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_price"),
      max(col("l_shipdate")).as("max_shipdate"))
  }

  def s1CsvRoundtrip(s: SparkSession, d: String): DataFrame =
    formatRoundtrip(s, d, "csv")

  /** ORC roundtrip [S7]: lineitem written as ORC and read back through
    * the columnar ORC reader, aggregated identically to the oracle's
    * direct parquet read — column format conversion must be lossless
    * (types, timestamps, nulls). ORC is the other columnar interchange
    * format a 100 TB lake realistically contains; the scan is
    * vectorized and prunes columns exactly like parquet. Money sums go
    * through decimal as everywhere else. */
  def s7OrcRoundtrip(s: SparkSession, d: String): DataFrame =
    formatRoundtrip(s, d, "orc")

  /** zstd-parquet roundtrip [S11]: same contract as [[s7OrcRoundtrip]]
    * but exercising the compression-codec axis of the parquet sink. */
  def s11ZstdRoundtrip(s: SparkSession, d: String): DataFrame =
    formatRoundtrip(s, d, "zstd")

  /** XML roundtrip [S20]: same contract as [[s7OrcRoundtrip]] over
    * Spark 4's built-in XML source — rowTag record framing out and
    * back, schema-typed read (longs, doubles, an ISO-8601 timestamp),
    * aggregate must match the oracle's direct parquet read. */
  def s20XmlRoundtrip(s: SparkSession, d: String): DataFrame =
    formatRoundtrip(s, d, "xml")

  /** CSV dialect roundtrip [S12]: RFC 4180's hard cases — fields with
    * embedded delimiters, embedded double-quotes, and embedded
    * NEWLINES — written with quote-doubling (escape = quote, not the
    * Spark backslash default) and read back with multiLine=true (the
    * one option that makes records span physical lines; without it
    * every hostile row tears). The hostile column is derived
    * deterministically from customer, so the oracle aggregates the
    * SAME construction straight from the table — the roundtrip must
    * be byte-lossless for the counts and length sums to line up.
    * multiLine trades per-line splittability for correctness: a 100 TB
    * lake keeps quoted-newline CSV in modest files (or re-encodes to
    * parquet on ingest — s1/s7's path) rather than feeding one
    * unsplittable 10 GB file to one task. */
  def s12CsvDialect(s: SparkSession, d: String): DataFrame = {
    val out = graft.Fs.scratchDir(s, "graft_csv_dialect", d)
    Tables.customer(s, d).select(col("c_custkey"),
      concat(col("c_mktsegment"), lit(",\n\""), col("c_name"), lit("\""))
        .as("hostile"))
      .write.mode("overwrite").option("header", "true")
      .option("quote", "\"").option("escape", "\"").csv(out)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("hostile", StringType)))
    s.read.schema(schema).option("header", "true")
      .option("multiLine", "true")
      .option("quote", "\"").option("escape", "\"").csv(out)
      .agg(count(lit(1)).as("n_rows"),
        sum(length(col("hostile"))).as("sum_len"),
        count(when(instr(col("hostile"), "\n") > 0, 1)).as("n_newline"),
        count(when(instr(col("hostile"), "\"") > 0, 1)).as("n_quote"),
        sum(col("c_custkey")).as("sum_keys"))
  }

  /** DataSourceV2 roundtrip [S13]: a lineitem slice written as "gseg"
    * columnar segments and read back through the engine's own
    * DataSourceV2 connector ([[graft.sources.SegSource]]) with a
    * pushed filter and a pruned projection, aggregated identically to
    * the oracle's direct parquet read. This drives the full V2 scan
    * machinery — TableProvider → ScanBuilder (pruneColumns +
    * pushFilters) → planInputPartitions (zone-map file skipping) →
    * PartitionReader — under the driver's correctness gate, not just
    * specs. The filter lands both in the reader (row-grain) and in
    * Spark's re-check (the parquet safety contract), so the result is
    * exact regardless of which side wins. */
  def s13SegRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = graft.Fs.scratchDir(s, "graft_gseg_roundtrip", d)
    graft.sources.SegSource.write(
      Tables.lineitem(s, d).select("l_orderkey", "l_partkey",
        "l_quantity", "l_extendedprice", "l_returnflag"), out)
    s.read.format("gseg").load(out)
      .filter(col("l_quantity") > 25)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_price"))
  }

  /** DSv2 aggregate pushdown [S14]: unfiltered global COUNT/MIN/MAX
    * over the gseg table, answered from segment HEADERS — the
    * metadata-only fast path lakehouse formats serve `SELECT count(*)`
    * from. The scan emits one partial row per file (no column block is
    * opened) and Spark's final aggregate merges them; the oracle
    * recomputes the same aggregates relationally from parquet, so the
    * header stats are certified exact, not just plausible. The write
    * half runs through the V2 commit protocol like [[s13SegRoundtrip]]. */
  def s14SegAggPushdown(s: SparkSession, d: String): DataFrame = {
    val out = graft.Fs.scratchDir(s, "graft_gseg_agg", d)
    graft.sources.SegSource.write(
      Tables.lineitem(s, d).select("l_orderkey", "l_partkey",
        "l_quantity", "l_extendedprice"), out)
    s.read.format("gseg").load(out).agg(
      count(lit(1)).as("n_rows"),
      count(col("l_partkey")).as("n_partkey"),
      min(col("l_orderkey")).as("min_okey"),
      max(col("l_orderkey")).as("max_okey"),
      min(col("l_quantity")).as("min_qty"),
      max(col("l_quantity")).as("max_qty"))
  }

  /** DSv2 limit/TopN pushdown gate [S16]: LIMIT k is served from
    * segment headers (files taken from the front until row counts
    * cover k; the reader also stops at k survivors), and ORDER BY
    * <numeric> LIMIT k keeps only segments whose [min,max] can hold a
    * top-k row (the τ pigeonhole in SegScan.planInputPartitions) —
    * the early-termination contracts a `SELECT ... LIMIT` dashboard
    * query relies on against a lakehouse table. Relational columns
    * (row count, top-k value sum) are oracle-recomputed from parquet;
    * the pushdown-evidence booleans (plan string + counter deltas)
    * are in-engine, constant-oracle. Top-k compares the VALUE
    * multiset (a tie at the kth value may swap rows, never values). */
  def s16SegLimitTopn(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = graft.Fs.scratchDir(s, "graft_gseg_ltn", d)
    // range layout on the SORT key: TopN's τ-pruning works off header
    // [min,max] on o_totalprice, so segments must own tight ranges of
    // it (clustering by the dominant sort key is exactly what a
    // lakehouse table optimizing for top-k dashboards does)
    graft.sources.SegSource.write(
      Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .repartitionByRange(8, col("o_totalprice")), out)
    val lim0 = graft.Counters.peek("gseg_limit_files_skipped")
    val limDf = s.read.format("gseg").load(out).limit(100)
    val nLimit = limDf.count()
    val limitPushed = limDf.queryExecution.executedPlan.toString
      .contains("PushedLimit=")
    val limitSkipped = graft.Counters.peek("gseg_limit_files_skipped") > lim0
    val top0 = graft.Counters.peek("gseg_topn_files_skipped")
    val topDf = s.read.format("gseg").load(out)
      .orderBy(col("o_totalprice").desc).limit(50)
      .agg(sum(dec(col("o_totalprice"))).cast(DoubleType).as("topk_sum"))
    val topkSum = topDf.head().getDouble(0)
    val topnPushed = topDf.queryExecution.executedPlan.toString
      .contains("PushedTopN=")
    val topnSkipped = graft.Counters.peek("gseg_topn_files_skipped") > top0
    Seq((limitPushed, limitSkipped, nLimit, topnPushed, topnSkipped, topkSum))
      .toDF("limit_pushed", "limit_skipped", "n_limit",
        "topn_pushed", "topn_skipped", "topk_sum")
  }

  /** DSv2 runtime filtering gate [S17]: the DPP analogue for V2 scans
    * — after the broadcast side of a selective join executes, Spark
    * hands the scan an IN-predicate over the join key
    * (SupportsRuntimeV2Filtering.filter) and planInputPartitions runs
    * it through the same zone maps as compile-time filters, so
    * segments outside the surviving key range never become tasks. The
    * fact is range-laid-out on user_id and the dim (a FILE-backed
    * frame — an in-memory dim folds its filter into a LocalRelation
    * and DPP declines) selects users 0..15, so ~7 of 8 segments skip.
    * Join result columns are oracle-recomputed relationally; the
    * runtime-evidence booleans are counter deltas. DPP confs are
    * pinned on a gate-private child session, never the caller's. */
  def s17SegRuntimeFilter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val iso = s.newSession()
    iso.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    iso.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "10")
    val out = graft.Fs.scratchDir(iso, "graft_gseg_dpp", d)
    val dimDir = graft.Fs.scratchDir(iso, "graft_gseg_dppdim", d)
    graft.sources.SegSource.write(
      Tables.events(iso, d).select(col("user_id"), col("event_id"), col("value"))
        .repartitionByRange(8, col("user_id")), out)
    Tables.events(iso, d).select(col("user_id")).distinct()
      .withColumn("grp", expr("user_id div 16"))
      .write.mode("overwrite").parquet(dimDir)
    val p0 = graft.Counters.peek("gseg_runtime_predicates")
    val f0 = graft.Counters.peek("gseg_files_skipped")
    val joined = iso.read.format("gseg").load(out)
      .join(iso.read.parquet(dimDir).filter(col("grp") === 0), Seq("user_id"))
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("value"))).cast(DoubleType).as("sum_value"))
    val row = joined.head()
    val runtimePushed = graft.Counters.peek("gseg_runtime_predicates") > p0
    val filesSkipped = graft.Counters.peek("gseg_files_skipped") > f0
    Seq((runtimePushed, filesSkipped, row.getLong(0), row.getDouble(1)))
      .toDF("runtime_pushed", "files_skipped", "n_rows", "sum_value")
  }

  /** DSv2 storage-partitioned join [S18]: two gseg tables written
    * identity-clustered on the same key column join WITHOUT EITHER
    * SIDE SHUFFLING — Spark's storage-partitioned join
    * (KeyGroupedPartitioning + HasPartitionKey under
    * spark.sql.sources.v2.bucketing.enabled), the Iceberg/Delta
    * bucketed-table contract. At 100 TB this is the difference between
    * a fact⋈fact join that moves NOTHING at query time (the layout
    * investment was paid once, at write) and one that shuffles both
    * tables every query. Confs pin on a gate-private child session:
    * SPJ on, broadcast off (so the claim is proven against a real
    * sort-merge join, not a trivially-shuffle-free broadcast), AQE off
    * (AdaptiveSparkPlanExec hides the tree from plan.collect — with it
    * off the absence-of-Exchange evidence is a tree assertion, not a
    * string grep). A SECOND pass then re-proves the claim under the
    * PRODUCTION-DEFAULT planner: AQE ON, the same join executed, and
    * the adaptive FINAL plan (AdaptiveSparkPlanExec.executedPlan,
    * valid only post-execution) asserted to hold the sort-merge join
    * with zero exchanges — no ShuffleExchange node and no
    * ShuffleQueryStage (AQE wraps materialized shuffles in stages, so
    * absence must be checked at both node kinds), plus the AQE row
    * bit-matching the non-AQE row. Relational columns are
    * oracle-recomputed from parquet (the k terms are derived from the
    * join key, so the plain orderkey join states the same result);
    * spj booleans + the gseg_key_groups counter delta are in-engine
    * evidence. */
  def s18SegSpjJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val iso = s.newSession()
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.adaptive.enabled", "false")
    // the join's keys are (k, orderkey) while the layout clusters on k
    // alone; with this off Spark accepts a partition-key SUBSET of the
    // join keys as co-partitioned (orderkey equality rides the
    // in-partition sort) — exactly the bucketed-fact-join shape
    iso.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    val dirA = graft.Fs.scratchDir(iso, "graft_gseg_spja", d)
    val dirB = graft.Fs.scratchDir(iso, "graft_gseg_spjb", d)
    val kCol = graft.sources.SegSource.PartitionColOption
    Tables.orders(iso, d)
      .select(col("o_orderkey"), col("o_totalprice"),
        pmod(col("o_orderkey"), lit(32L)).as("k"))
      .write.format("gseg").option(kCol, "k").mode("overwrite").save(dirA)
    Tables.lineitem(iso, d)
      .select(col("l_orderkey"), col("l_extendedprice"),
        pmod(col("l_orderkey"), lit(32L)).as("k"))
      .write.format("gseg").option(kCol, "k").mode("overwrite").save(dirB)
    val a = iso.read.format("gseg").option(kCol, "k").load(dirA)
    val b = iso.read.format("gseg").option(kCol, "k").load(dirB)
    val joined = a.join(b,
      a("k") === b("k") && a("o_orderkey") === b("l_orderkey"))
    val kg0 = graft.Counters.peek("gseg_key_groups")
    val smj = joined.queryExecution.executedPlan.collectFirst {
      case m: org.apache.spark.sql.execution.joins.SortMergeJoinExec => m
    }
    val shuffleFree = smj.exists(_.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.isEmpty)
    val row = joined
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_price"))
      .head()
    val keyGrouped = graft.Counters.peek("gseg_key_groups") > kg0

    // pass 2: same join under the production-default ADAPTIVE planner.
    // The final plan only exists after execution, so execute first,
    // then assert on AdaptiveSparkPlanExec.executedPlan.
    val iso2 = s.newSession()
    iso2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    iso2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso2.conf.set("spark.sql.adaptive.enabled", "true")
    iso2.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    val a2 = iso2.read.format("gseg").option(kCol, "k").load(dirA)
    val b2 = iso2.read.format("gseg").option(kCol, "k").load(dirB)
    val agg2 = a2.join(b2,
        a2("k") === b2("k") && a2("o_orderkey") === b2("l_orderkey"))
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_price"))
    val row2 = agg2.head()
    val finalPlan = agg2.queryExecution.executedPlan.collectFirst {
      case ad: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        ad.executedPlan
    }
    // scope the absence check to the join subtree (the global agg
    // above it legitimately exchanges to a single partition)
    val aqeSmjNode = finalPlan.flatMap(_.collectFirst {
      case m: org.apache.spark.sql.execution.joins.SortMergeJoinExec => m
    })
    val aqeSmj = aqeSmjNode.isDefined
    val aqeShuffleFree = aqeSmjNode.exists(_.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      case q: org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec => q
    }.isEmpty)
    val aqeSameRow = row2.getLong(0) == row.getLong(0) &&
      row2.getDouble(1) == row.getDouble(1)

    Seq((smj.isDefined && keyGrouped, shuffleFree,
        aqeSmj && aqeSameRow, aqeShuffleFree,
        row.getLong(0), row.getDouble(1)))
      .toDF("spj_join", "spj_shuffle_free", "spj_aqe_join",
        "spj_aqe_shuffle_free", "n_rows", "sum_price")
  }

  /** DSv2 agg-pushdown × partitioning degrade [S19]: the contract
    * that two scan capabilities which CANNOT both hold must degrade
    * TOGETHER, proven in an oracle-gated row (previously only
    * SegSourceSpec pinned it). A gseg table laid out with
    * partition_col=k is read by a header-servable global aggregate:
    * the scan must (a) ACCEPT the agg pushdown — count/min/max
    * answered from segment headers, one buffer row per file — and
    * (b) DECLINE key-grouped partitioning on that same scan, because
    * an agg scan plans per-file buffer partitions, and advertising
    * KeyGroupedPartitioning over partitions that no longer carry
    * HasPartitionKey rows is exactly the r8 contract bug (a consumer
    * planning an SPJ against the advertised layout would be wrong).
    * Booleans are in-engine plan evidence; the aggregate values are
    * relational and must equal DuckDB's over the source parquet —
    * which also proves the header-served answers are the TRUE ones. */
  def s19SegAggDegrade(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val iso = s.newSession()
    val dir = graft.Fs.scratchDir(iso, "graft_gseg_aggdeg", d)
    val kCol = graft.sources.SegSource.PartitionColOption
    Tables.orders(iso, d)
      .select(col("o_orderkey"), pmod(col("o_orderkey"), lit(16L)).as("k"))
      .write.format("gseg").option(kCol, "k").mode("overwrite").save(dir)
    val df = iso.read.format("gseg").option(kCol, "k").load(dir)
      .agg(count(lit(1)).as("n_rows"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
    val scan = df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }
    // typed evidence, defaulting FALSE on a non-match: if the connector
    // ever serves pushed-agg reads through a different Scan class, the
    // gate must report the contract unproven, not crash on a cast (and
    // the typed aggs accessor beats grepping description() text — the
    // exact weaker-evidence style the s18 plan pass disavows)
    val (aggPushed, spjDeclined) = scan match {
      case Some(sc: graft.sources.SegScan) =>
        (sc.aggs.exists(_.nonEmpty),
          sc.outputPartitioning().isInstanceOf[
            org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning])
      case _ => (false, false)
    }
    val row = df.head()
    Seq((aggPushed, spjDeclined,
        row.getLong(0), row.getLong(1), row.getLong(2)))
      .toDF("agg_pushed", "spj_declined", "n_rows", "min_key", "max_key")
  }

  /** JSON-lines roundtrip [S8]: the row-oriented interchange format —
    * written and re-read with an explicit schema (doubles, longs, and
    * ISO-serialized timestamps must all survive the text round-trip),
    * aggregated identically to the oracle's direct parquet read. Makes
    * the JSON source/sink pair driver-visible; FormatRoundtripSpec
    * keeps the per-value spec-level check. */
  def s8JsonRoundtrip(s: SparkSession, d: String): DataFrame =
    formatRoundtrip(s, d, "json")

  /** Hive-partitioned sink [S9]: documents written partitionBy(lang) —
    * the layout that turns a filter on the partition column into
    * directory pruning instead of a scan (the write-side twin of
    * [[p1PartitionPruning]]'s read-side check). The re-read recovers
    * the partition column from directory names, so values AND layout
    * must both survive; aggregated per lang against the direct-parquet
    * oracle. PlanShape coverage: PartitionedSinkSpec asserts a lang
    * filter over the re-read produces PartitionFilters, proving the
    * written layout actually prunes. */
  def s9PartitionedSink(s: SparkSession, d: String): DataFrame = {
    val out = graft.Fs.scratchDir(s, "graft_partsink", d)
    Tables.documents(s, d).select("doc_id", "lang", "source", "n_chars")
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    s.read.parquet(out)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  /** Dynamic partition overwrite [S15]: INSERT-OVERWRITE that
    * replaces ONLY the partitions present in the incoming batch —
    * the daily-reload contract of a partitioned 100 TB table (static
    * overwrite mode would TRUNCATE the whole table first; dynamic
    * deletes exactly the touched partition directories at commit).
    * Writes the full corpus partitioned by lang, then overwrites the
    * 'en' slice with recomputed rows (doubled n_chars) under
    * partitionOverwriteMode=dynamic on the WRITER ONLY (per-write
    * option, not a session flag — a concurrent static-mode writer is
    * unaffected). The re-read aggregate proves untouched partitions
    * kept their generation-1 rows while 'en' carries generation 2 —
    * an accidental truncate or a partition-path miss both break it. */
  def s15DynamicOverwrite(s: SparkSession, d: String): DataFrame = {
    val out = graft.Fs.scratchDir(s, "graft_dynover", d)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    docs.filter(col("lang") === "en")
      .withColumn("n_chars", col("n_chars") * 2)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("lang").parquet(out)
    s.read.parquet(out)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  /** Schema-evolution read [S10]: a real lake's dataset directory
    * contains file GENERATIONS — old files written before a column
    * existed next to new files that carry it. Writes two parquet
    * generations (gen 1: doc_id, n_chars; gen 2 adds lang) into one
    * dataset dir and reads them through mergeSchema=true, which
    * resolves the union schema and null-fills the missing column on
    * old files — the evolution contract every long-lived 100 TB table
    * depends on (schema merging is per-FILE-footer metadata work at
    * planning time; the data pages of old files are never rewritten).
    * The aggregate groups by the evolved column, so null-filling,
    * schema union, AND both generations' row content must all be
    * right; the oracle reproduces the expected merged view straight
    * from the base table. */
  def s10SchemaEvolution(s: SparkSession, d: String): DataFrame = {
    val out = graft.Fs.scratchDir(s, "graft_schevo", d)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), col("lang"))
    docs.filter(col("doc_id") % 2 === 0).select("doc_id", "n_chars")
      .write.mode("overwrite").parquet(out + "/gen=1")
    docs.filter(col("doc_id") % 2 === 1).select("doc_id", "n_chars", "lang")
      .write.mode("overwrite").parquet(out + "/gen=2")
    s.read.option("mergeSchema", "true").parquet(out)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  // ---------------------------------------------------------------- S2+X11 dynamic-key JSON map
  /** JSON-lines scan where the object has DYNAMIC keys — the scams.json
    * shape (etherscams.py:45-49): build a {"<event_type>": {...}} doc
    * per event, parse with an explicit MapType (schema inference would
    * wrongly make one struct field per key), explode the map, and
    * aggregate. [S2, X9, X11] */
  def s2JsonMapExplode(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.events(s, d).select(
      to_json(map(col("event_type"),
        struct(col("user_id"), col("event_id")))).as("j"))
    val mapType = MapType(StringType, StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType))))
    docs.select(explode(from_json(col("j"), mapType)).as(Seq("event_type", "payload")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("payload.user_id")).as("sum_user"),
        max(col("payload.event_id")).as("max_event"))
  }

  // ---------------------------------------------------------------- W1 window rank
  /** Window function: row_number per partition with full tie-break
    * (declared surface; SURVEY §2.8 extension). */
  def w1WindowRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate").asc, col("l_orderkey").asc, col("l_linenumber").asc)
    Tables.lineitem(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("l_suppkey", "l_orderkey", "l_linenumber", "l_shipdate", "rn")
  }

  // ---------------------------------------------------------------- W2 running sum
  /** Running (cumulative) aggregate per key — declared window surface. */
  def w2RunningSum(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .withColumn("run_spend_dec", sum(dec(col("o_totalprice"))).over(w))
      .withColumn("order_seq", row_number().over(
        Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)))
      .select(col("o_custkey"), col("o_orderkey"), col("order_seq"),
        col("run_spend_dec").cast(DoubleType).as("run_spend"))
  }

  /** Correlated LATERAL top-n [J11]: per outer row, an ordered+limited
    * correlated subquery — the SQL-standard spelling of "top-2 nations
    * per region by customer count". Catalyst decorrelates the LIMIT
    * into a partitioned window rank (DecorrelateInnerQuery), so the
    * executed plan is the same rank-filter j4/w1 build by hand — the
    * lateral never loops per outer row and the outer side streams at
    * any scale. */
  def j11LateralTopn(s: SparkSession, d: String): DataFrame = {
    Tables.region(s, d).createOrReplaceTempView("graft_region_j11")
    Tables.nation(s, d).createOrReplaceTempView("graft_nation_j11")
    Tables.customer(s, d).createOrReplaceTempView("graft_customer_j11")
    s.sql(
      """SELECT r.r_name, t.n_name, t.n_custs
        |FROM graft_region_j11 r
        |JOIN LATERAL (
        |  SELECT n.n_name, COUNT(*) AS n_custs
        |  FROM graft_nation_j11 n
        |  JOIN graft_customer_j11 c ON c.c_nationkey = n.n_nationkey
        |  WHERE n.n_regionkey = r.r_regionkey
        |  GROUP BY n.n_name
        |  ORDER BY n_custs DESC, n.n_name ASC
        |  LIMIT 2) t""".stripMargin)
  }

  /** RFM segmentation [RFM]: quartile-bucket every customer on
    * Recency / Frequency / Monetary and count the segment cells — the
    * classic CRM cohort cube. The scale-critical choice: segments come
    * from exact percentile THRESHOLDS (one global aggregate,
    * broadcast back as a scalar row), never `ntile() OVER (ORDER BY
    * metric)` — a global ntile has an empty PARTITION BY and funnels
    * every customer through one window task (the w_global_row_number
    * trap). Threshold comparison is strict `>` on both engines, the
    * recency anchor is the corpus max order date (not wall-clock), and
    * percentile interpolation parity is already pinned by
    * a22_percentile_cont. */
  def evRfmSegments(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_date"),
        count(lit(1)).as("freq"),
        sum(col("o_totalprice").cast(Dec)).cast(DoubleType).as("money"))
    val anchored = cust
      .crossJoin(broadcast(cust.agg(max(col("last_date")).as("anchor"))))
      .withColumn("rec", datediff(col("anchor"), col("last_date")))
    val th = anchored.agg(
      expr("percentile(rec,  array(0.25, 0.5, 0.75))").as("rq"),
      expr("percentile(freq, array(0.25, 0.5, 0.75))").as("fq"),
      expr("percentile(money, array(0.25, 0.5, 0.75))").as("mq"))
    def seg(m: Column, q: Column): Column =
      (lit(1) + when(m > q.getItem(0), 1).otherwise(0)
        + when(m > q.getItem(1), 1).otherwise(0)
        + when(m > q.getItem(2), 1).otherwise(0)).cast(IntegerType)
    anchored.crossJoin(broadcast(th))
      .select(seg(col("rec"), col("rq")).as("r_seg"),
        seg(col("freq"), col("fq")).as("f_seg"),
        seg(col("money"), col("mq")).as("m_seg"),
        col("o_custkey"))
      .groupBy(col("r_seg"), col("f_seg"), col("m_seg"))
      .agg(count(lit(1)).as("n_customers"),
        min(col("o_custkey")).as("min_cust"))
  }

  /** Ranking suite [W9]: dense_rank + classic rank, computed the
    * scale-safe way — the window runs over the PRE-AGGREGATED
    * (priority, date, n) frame (≤ |priorities|×|dates| rows), never
    * the base table, so a billion same-day orders flow through the
    * hash aggregate's map-side combine instead of one window task's
    * sort. dense_rank is the native function on the distinct keys;
    * classic rank (ties share the smallest position) telescopes back
    * from the running count: rank = 1 + Σ n(earlier dates). */
  def w9RankSuite(s: SparkSession, d: String): DataFrame = {
    val agg = Tables.orders(s, d)
      .groupBy(col("o_orderpriority"), col("o_orderdate"))
      .agg(count(lit(1)).as("n_orders"))
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_orderdate"))
    agg.select(col("o_orderpriority"), col("o_orderdate"), col("n_orders"),
      dense_rank().over(w).cast(IntegerType).as("drnk"),
      (sum(col("n_orders"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        - col("n_orders") + 1).cast(LongType).as("rnk"))
  }

  /** ANSI try_* suite [X18]: Spark 4 runs ANSI mode ON, so plain
    * arithmetic THROWS on div-by-zero / overflow / bad casts — the
    * try_ forms are how a 100 TB pipeline keeps one poisoned row from
    * killing a stage while still distinguishing "null input" from
    * "failed operation". Three legs per order, aggregated per status:
    * try_divide (modulo-derived zero denominators), try_add
    * (Long.MaxValue overflow on positive keys), try_cast (the
    * priority's leading digit parses; the full '1-URGENT' string does
    * not). The oracle states the same semantics with CASE guards —
    * DuckDB's plain operators would error on the same rows. */
  def x18TrySuite(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderstatus"),
        // double ÷ bigint → double, NULL on zero denominator; the
        // per-row quotient is identical IEEE on both engines, and the
        // decimal(18,4) re-quantization makes the SUM order-free
        try_divide(col("o_totalprice"), col("o_custkey") % 3)
          .cast(DecimalType(18, 4)).as("dv"),
        try_add(col("o_orderkey"), lit(Long.MaxValue)).as("ov"),
        col("o_orderpriority").try_cast(IntegerType).as("badp"),
        substring(col("o_orderpriority"), 1, 1).try_cast(IntegerType)
          .as("prio_digit"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("dv")).as("n_div_ok"),
        sum(col("dv")).cast(DoubleType).as("sum_dv"),
        count(col("ov")).as("n_ov_ok"),
        count(col("badp")).as("n_badp_ok"),
        sum(col("prio_digit")).as("sum_prio"))

  /** Year-over-year cohort growth [Q23] (the TPC-DS Q4/Q11 shape):
    * per-customer yearly spend, self-joined year → year+1, rolled up
    * per segment into base / retained / grown-≥25% counts. The growth
    * predicate is spend₂·4 > spend₁·5 — integer-scaled DECIMAL
    * comparison, so no division and no double rounding can disagree
    * between engines. Both join sides are the same pre-aggregated
    * (customer, year) frame (one fact-table scan, partial-agg'd), so
    * the self-join is customer-co-partitioned and the fact table is
    * never shuffled twice. No broadcast hint on the customer dim —
    * it scales WITH the corpus (the bigrams/ADVICE lesson); AQE still
    * broadcasts it whenever its runtime size is actually small. */
  def q23YoyGrowth(s: SparkSession, d: String): DataFrame = {
    val yearly = Tables.orders(s, d)
      .groupBy(col("o_custkey"), year(col("o_orderdate")).as("yr"))
      .agg(sum(col("o_totalprice").cast(Dec)).as("spend"))
    val nxt = yearly.select(col("o_custkey"), (col("yr") - 1).as("yr"),
      col("spend").as("spend_next"))
    yearly.join(nxt, Seq("o_custkey", "yr"), "left")
      .join(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("yr").as("year_from"))
      .agg(count(lit(1)).as("n_base"),
        count(col("spend_next")).as("n_retained"),
        count(when(col("spend_next") * 4 > col("spend") * 5, 1))
          .as("n_grown"))
  }

  /** Incremental view maintenance by algebraic-state merge [IVM]: the
    * daily-rollup pattern where yesterday's materialized partial
    * states (count, decimal sum, min, max per (day, type)) merge with
    * today's delta WITHOUT rescanning history — the split here cuts
    * mid-day so the cutoff day's groups genuinely combine two partial
    * states, and avg is finalized only after the merge (avg itself is
    * not mergeable; its (sum, count) factorization is). Decimal sums
    * make the merge exact regardless of which partial each row landed
    * in; the oracle recomputes the rollup from scratch — merged state
    * must equal recomputation bit-for-bit. At 100 TB this is the
    * difference between touching one day and touching the corpus. */
  def ivmMergeDaily(s: SparkSession, d: String): DataFrame = {
    val cutoff = lit("2024-01-15 12:00:00").cast(TimestampType)
    def partial(df: DataFrame): DataFrame = df
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(Dec)).as("sv"),
        min(col("value")).as("mn"), max(col("value")).as("mx"))
    val ev = Tables.events(s, d)
    val state = partial(ev.filter(col("ts") < cutoff))
      .unionByName(partial(ev.filter(col("ts") >= cutoff)))
    state.groupBy(col("day"), col("event_type"))
      .agg(sum(col("n")).as("n_events"),
        sum(col("sv")).cast(DoubleType).as("sum_value"),
        min(col("mn")).as("min_value"), max(col("mx")).as("max_value"))
      .withColumn("avg_value", round(col("sum_value") / col("n_events"), 6))
  }

  /** Moving-average deviation over a multi-join agg [Q47] (the TPC-DS
    * Q47/Q57 shape): monthly revenue per nation from the fact ⋈ dim
    * chain, then THREE windowed measures — lag, lead (month sequence,
    * crossing year boundaries) and the within-year total/count — and a
    * deviates-from-yearly-average filter. The window stack is ordered
    * so ONE exchange serves all of it: the sequence window exchanges
    * on hash(n_name) and sorts (yr, mon); the year window's
    * ClusteredDistribution(n_name, yr) is satisfied by hash(n_name)
    * (fewer keys still co-locate) and its sort prefix by the existing
    * order, so Catalyst plans it with NO second exchange or sort —
    * spec-pinned, because at 100 TB a redundant window exchange is a
    * full re-shuffle of the aggregate. The deviation predicate is
    * integer-scaled DECIMAL (|sum·n − yr_sum|·10 > yr_sum, i.e. >10%
    * off the mean) — no division, no double rounding to disagree
    * between engines; doubles appear only in the final projection. */
  def q47MovingAvg(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.lineitem(s, d)
      .join(Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("l_shipdate")).as("yr"),
        month(col("l_shipdate")).as("mon"))
      .agg(sum(dec(col("l_extendedprice")) *
        (lit(1).cast(Dec) - dec(col("l_discount")))).as("sum_sales"))
    val seqW = Window.partitionBy(col("n_name")).orderBy(col("yr"), col("mon"))
    val yrW = Window.partitionBy(col("n_name"), col("yr"))
    monthly
      .withColumn("psum", lag(col("sum_sales"), 1).over(seqW))
      .withColumn("nsum", lead(col("sum_sales"), 1).over(seqW))
      .withColumn("yr_sum", sum(col("sum_sales")).over(yrW))
      .withColumn("n_months", count(lit(1)).over(yrW))
      .filter(col("yr") === 1998 &&
        abs(col("sum_sales") * col("n_months") - col("yr_sum")) * 10 > col("yr_sum"))
      .select(col("n_name"), col("yr"), col("mon"),
        col("sum_sales").cast(DoubleType).as("sum_sales"),
        (col("yr_sum").cast(DoubleType) / col("n_months")).as("avg_monthly"),
        col("psum").cast(DoubleType).as("psum"),
        col("nsum").cast(DoubleType).as("nsum"))
  }

  /** Rollup + window rank across subtotal grains [Q67] (the TPC-DS Q67
    * shape): revenue rolled up over (priority, year, month) — detail
    * rows AND their (priority, year), (priority), () subtotals from
    * ONE Expand-aggregate — then rank() WITHIN each priority across
    * every grain at once, keeping the top-k. This is the "which months
    * / years / whole line dominate each category" report; the rollup
    * means subtotals rank against the detail rows they summarize.
    * Ordering is fully tie-broken on non-null keys (grouping flags +
    * coalesced time keys) so rank is deterministic and the NULLS
    * FIRST/LAST default difference between engines never engages. */
  def q67RollupTopk(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    val base = Tables.orders(s, d).select(col("o_orderpriority"),
      year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mon"),
      col("o_totalprice"))
    val rolled = base.rollup(col("o_orderpriority"), col("yr"), col("mon"))
      .agg(sum(dec(col("o_totalprice"))).as("spend_dec"),
        grouping(col("yr")).cast("int").as("g_y"),
        grouping(col("mon")).cast("int").as("g_m"))
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("spend_dec").desc, col("g_y").asc, col("g_m").asc,
        coalesce(col("yr"), lit(-1)).asc, coalesce(col("mon"), lit(-1)).asc)
    rolled.withColumn("rnk", rank().over(w)).filter(col("rnk") <= k)
      .select(col("o_orderpriority"), col("yr"), col("mon"),
        col("g_y"), col("g_m"),
        col("spend_dec").cast(DoubleType).as("spend"),
        col("rnk").cast("int").as("rnk"))
  }

  /** Cumulative-sum alignment across channels [Q51] (the TPC-DS Q51
    * shape): bookings (orders ⋈ customer ⋈ nation by order month) and
    * shipments (lineitem ⋈ supplier ⋈ nation by ship month) each get a
    * per-nation running total over their OWN month sequence; a FULL
    * OUTER join on (nation, yr, mon) aligns the two sequences, and a
    * running MAX over the union axis forward-fills the months one
    * channel is missing (valid because a cumulative sum of
    * non-negative amounts is non-decreasing). Output: months where the
    * booked running total exceeds the shipped one — the backlog
    * report. Both max-fills share one window spec, so they land in ONE
    * Window operator on ONE exchange (spec-pinned). All cumulative
    * arithmetic and the comparison are exact DECIMAL; doubles appear
    * only in the final projection. */
  def q51CumulativeAlign(s: SparkSession, d: String): DataFrame = {
    val nat = broadcast(Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name")))
    def cume(monthly: DataFrame, valueCol: String, cumeCol: String): DataFrame =
      monthly.withColumn(cumeCol, sum(col(valueCol)).over(
        Window.partitionBy(col("n_name")).orderBy(col("yr"), col("mon"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .drop(valueCol)
    val book = cume(Tables.orders(s, d)
      .join(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mon"))
      .agg(sum(col("o_totalprice").cast(Dec)).as("booked")),
      "booked", "b_cume")
    val ship = cume(Tables.lineitem(s, d)
      .join(Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(nat, col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("l_shipdate")).as("yr"),
        month(col("l_shipdate")).as("mon"))
      .agg(sum(dec(col("l_extendedprice")) *
        (lit(1).cast(Dec) - dec(col("l_discount")))).as("shipped")),
      "shipped", "s_cume")
    val alignW = Window.partitionBy(col("n_name")).orderBy(col("yr"), col("mon"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    book.join(ship, Seq("n_name", "yr", "mon"), "full_outer")
      .withColumn("book_cum", max(col("b_cume")).over(alignW))
      .withColumn("ship_cum", max(col("s_cume")).over(alignW))
      .filter(col("book_cum") > col("ship_cum"))
      .select(col("n_name"), col("yr"), col("mon"),
        col("book_cum").cast(DoubleType).as("book_cum"),
        col("ship_cum").cast(DoubleType).as("ship_cum"))
  }

  /** Winsorized mean per group [A28]: clip at the exact 5th/95th
    * percentile, then average — the outlier-robust aggregation feature
    * pipelines use before normalization. Two passes: exact per-group
    * percentiles (one sort-based aggregate, group-count-bounded
    * output) broadcast back onto the fact rows, then clip + sum. The
    * clipped sum routes through DECIMAL(18,6) so it is exact and
    * order-independent under any partitioning (the a24 discipline);
    * the final division is one double op on identical inputs, so
    * engines agree bit-for-bit before the 6-decimal round. */
  def a28WinsorizedMean(s: SparkSession, d: String): DataFrame = {
    val pct = Tables.lineitem(s, d).groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, 0.05)").as("p05"),
        expr("percentile(l_extendedprice, 0.95)").as("p95"))
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_extendedprice"))
      .join(broadcast(pct), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        count(when(col("l_extendedprice") < col("p05") ||
          col("l_extendedprice") > col("p95"), 1)).as("n_clipped"),
        sum(least(greatest(col("l_extendedprice"), col("p05")), col("p95"))
          .cast(DecimalType(18, 6))).cast(DoubleType).as("wsum"))
      .select(col("l_returnflag"), col("n"), col("n_clipped"),
        round(col("wsum") / col("n"), 6).as("wins_mean"))
  }

  /** Gaps-and-islands over the calendar [W11]: maximal runs of
    * consecutive ACTIVE days per user (an island breaks on any silent
    * calendar day) — the streak/engagement primitive. The classic
    * row_number trick: within a user, day − rank(day) is constant
    * exactly on consecutive runs, so islands fall out of ONE
    * per-user window plus one aggregate — no self-join, no iteration;
    * shuffle is one exchange on user_id over the (user, day) DISTINCT
    * frame (days, not events — bounded by calendar × users). */
  def w11GapsIslands(s: SparkSession, d: String): DataFrame = {
    val days = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    days.withColumn("grp", date_sub(col("day"), row_number().over(w)))
      .groupBy(col("user_id"), col("grp"))
      .agg(min(col("day")).as("start_day"), max(col("day")).as("end_day"),
        count(lit(1)).as("n_days"))
      .select(col("user_id"), col("start_day"), col("end_day"), col("n_days"))
  }

  /** Repeat-bulk-buyer report [Q34] (the TPC-DS Q34 shape): orders
    * whose line count falls in a band, then the customers holding ≥2
    * such orders. Two hash aggregates and one join — the order-size
    * aggregate shuffles (orderkey, count) pairs with map-side
    * combine, and the HAVING prunes before the customer join, so the
    * join's build side is only band-qualified orders. */
  def q34FrequentCarts(s: SparkSession, d: String,
      lo: Int = 5, hi: Int = 7, minOrders: Int = 2): DataFrame = {
    val carts = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_items"))
      .filter(col("n_items") >= lo && col("n_items") <= hi)
    Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(carts, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_bulk_orders"))
      .filter(col("n_bulk_orders") >= minOrders)
  }

  /** Threshold heavy hitters via sketch-pruned EXACT counting [A26]:
    * all keys with frequency ≥ φ·N, computed in two passes — a
    * per-partition SpaceSaving sketch (capacity ⌈1/φ⌉) nominates
    * candidates, then an exact count runs over candidate rows only.
    * The candidate superset is a THEOREM, not luck: a key with global
    * count ≥ φ·N has local count ≥ φ·n_p in at least one partition
    * (pigeonhole), and SpaceSaving at capacity 1/φ retains every key
    * with local count ≥ n_p·φ — so the final answer is exact and
    * deterministic under ANY partitioning, even though the sketch's
    * interior state is partition-order dependent.
    *
    * Why not just groupBy the key? The derived key space here is
    * ~70% singletons (most rows are their own key — the URL/user-agent
    * /IP shape of real clickstream hot-key mining): a full aggregate
    * carries reduce state and shuffle volume proportional to the
    * NUMBER OF DISTINCT KEYS (≈ N), while the sketch pass ships at
    * most cap·P candidate longs and the exact pass shuffles only rows
    * whose key survived nomination (~30% here; the hot slice). The
    * broadcast of candidates is bounded by cap·P by construction —
    * never data-sized. */
  def a26HeavyHitters(s: SparkSession, d: String, phi: Double = 0.01): DataFrame = {
    import s.implicits._
    // 30% of events concentrate onto 7 hot keys, the rest are
    // singleton keys (unique event_ids offset out of the hot range).
    // % (not pmod) so engine and oracle agree for ANY id sign — both
    // engines give % the dividend's sign, the abTtest discipline
    val keyed = Tables.events(s, d).select(
      when(col("event_id") % 10 < 3, col("user_id") % 7)
        .otherwise(col("event_id") + 7).as("hkey"))
    heavyHittersOf(keyed.as[Long], phi)
  }

  /** The φ-heavy-hitter core over any key stream — property tests
    * drive this with adversarial partitionings and verify the answer
    * never changes. cap is STRICTLY greater than 1/φ: SpaceSaving
    * guarantees retention only for keys with local count strictly
    * above n_p/cap, and the pigeonhole delivers ≥ φ·n_p — at
    * cap = ⌊1/φ⌋+1 the strict inequality n_p/cap < φ·n_p always
    * holds, closing the boundary case where a key with global count
    * exactly ⌈φN⌉ spread evenly could slip the nomination. The key
    * stream is persisted across its two passes (plus the total
    * count), and the thresholded result — ≤ 1/φ rows by definition —
    * is evaluated eagerly so the cache never outlives the call. */
  def heavyHittersOf(keys: org.apache.spark.sql.Dataset[Long],
      phi: Double): DataFrame = {
    val s = keys.sparkSession
    val cap = (1.0 / phi).toInt + 1
    val keys2 = keys.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keyed = keys2.toDF("hkey")
    val total = keyed.count()
    val threshold = math.ceil(phi * total).toLong
    val cands = keys2.mapPartitions { it =>
      val counts = new scala.collection.mutable.LongMap[Long]()
      it.foreach { k =>
        if (counts.contains(k)) counts(k) += 1
        else if (counts.size < cap) counts(k) = 1L
        else {
          // evict a minimum-count key; the newcomer inherits count+1
          // (the SpaceSaving overestimate that preserves retention)
          var minK = 0L; var minV = Long.MaxValue
          counts.foreach { case (kk, vv) => if (vv < minV) { minK = kk; minV = vv } }
          counts.remove(minK)
          counts(k) = minV + 1
        }
      }
      counts.keysIterator
    }(org.apache.spark.sql.Encoders.scalaLong).toDF("hkey").distinct()
    val result = keyed.join(broadcast(cands), Seq("hkey"), "left_semi")
      .groupBy(col("hkey")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= threshold)
    graft.functions.Gates.sealGate(s, result, keys2)
  }

  /** One-pass multi-band conditional aggregation [Q88] (the TPC-DS Q88
    * shape): eight "how many qualifying rows fall in band i" counters
    * that the textbook SQL writes as eight scalar subqueries
    * cross-joined into one row — eight FULL SCANS of the fact table.
    * Here all eight land in ONE aggregate over ONE scan
    * (`count(when(band_i, 1))` per band): at 100 TB the difference is
    * reading the table once vs eight times, and the partial aggregation
    * ships exactly eight longs per task regardless of data volume.
    * Bands are quantity deciles crossed with a shared row filter (the
    * Q88 household-demographics analogue), chosen so every band is
    * non-empty at every SF. */
  def q88TimeBands(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .filter(col("l_discount") <= 0.08 || col("l_tax") >= 0.04)
    def band(lo: Int, hi: Int) =
      count(when(col("l_quantity") >= lo && col("l_quantity") < hi, 1))
    li.agg(
      band(1, 7).as("b1"), band(7, 13).as("b2"), band(13, 19).as("b3"),
      band(19, 25).as("b4"), band(25, 31).as("b5"), band(31, 37).as("b6"),
      band(37, 43).as("b7"), band(43, 51).as("b8"))
  }

  /** VARIANT suite [X20]: Spark 4's open-ended semi-structured type —
    * the scale story for ragged metadata (crawler headers, telemetry
    * blobs) is parse ONCE into VARIANT's binary encoding, then every
    * downstream `variant_get` is an O(path) binary probe instead of a
    * re-parse of the JSON text, and the parquet writer can shred
    * frequently-accessed paths into columns. The suite assembles a
    * ragged JSON document per order (nested object always; `cust` only
    * on even keys; an explicit JSON null on keys ≡ 0 mod 3; every 7th
    * row poisoned with malformed text) and exercises the full access
    * matrix: `try_parse_json` (poison → SQL NULL, not a crash —
    * ANSI-mode `parse_json` would kill the stage), typed `variant_get`
    * on top-level and nested paths (exact DECIMAL extraction for the
    * money sum), `try_variant_get` on the sometimes-absent field, and
    * `is_variant_null` separating JSON null from absent. The oracle
    * recomputes every leg relationally from the base columns — the
    * variant path must round-trip to exactly the relational truth. */
  def x20VariantSuite(s: SparkSession, d: String): DataFrame = {
    val ks = col("o_orderkey")
    val doc = when(ks % 7 === 0, lit("{not json")).otherwise(concat(
      lit("{\"id\":"), ks.cast(StringType),
      lit(",\"price\":"), dec(col("o_totalprice")).cast(StringType),
      lit(",\"meta\":{\"prio\":\""), col("o_orderpriority"),
      lit("\",\"pd\":"), substring(col("o_orderpriority"), 1, 1),
      lit("}"),
      when(ks % 2 === 0,
        concat(lit(",\"cust\":"), col("o_custkey").cast(StringType)))
        .otherwise(lit("")),
      when(ks % 3 === 0, lit(",\"nul\":null")).otherwise(lit("")),
      lit("}")))
    Tables.orders(s, d)
      .select(col("o_orderstatus"), col("o_orderpriority"),
        try_parse_json(doc).as("v"))
      .select(col("o_orderstatus"), col("v"),
        variant_get(col("v"), "$.price", "decimal(18,2)").as("price"),
        try_variant_get(col("v"), "$.cust", "bigint").as("cust"),
        is_variant_null(variant_get(col("v"), "$.nul", "variant")).as("jn"),
        variant_get(col("v"), "$.meta.pd", "int").as("pd"),
        (variant_get(col("v"), "$.meta.prio", "string")
          === col("o_orderpriority")).as("prio_ok"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("v")).as("n_parsed"),
        sum(col("price")).cast(DoubleType).as("sum_price"),
        count(col("cust")).as("n_cust"),
        sum(when(col("jn"), 1L).otherwise(0L)).as("n_json_null"),
        sum(col("pd")).as("sum_pd"),
        sum(when(col("prio_ok"), 1L).otherwise(0L)).as("n_prio_ok"))
      .orderBy(col("o_orderstatus"))
  }

  /** Collation suite [X21]: case-insensitive semantics as a COLUMN
    * PROPERTY instead of a materialized `lower()` — Spark 4's
    * `collate(c, "UTF8_LCASE")` makes comparison, grouping, and
    * string predicates case-insensitive inside the hash aggregate
    * itself. At 100 TB the difference from `groupBy(lower(c))` is no
    * second string allocation per row on the hot path, and (unlike a
    * lowercased copy) the group still carries the original spellings —
    * which the suite counts per group (`n_spellings`) to prove the
    * grouping really merged case variants rather than normalizing
    * them. Case variance is fabricated deterministically (partkey mod
    * 3 → UPPER / lower / original brand) so every group at every SF
    * genuinely mixes spellings; a collated `startswith` leg shows
    * predicates follow the collation too. Output keys are re-cast to
    * the default collation (a plain lowercase string) so the result
    * schema meets the oracle's VARCHAR exactly. */
  def x21CollationSuite(s: SparkSession, d: String): DataFrame = {
    val mixed = Tables.part(s, d).select(
      when(col("p_partkey") % 3 === 0, upper(col("p_brand")))
        .when(col("p_partkey") % 3 === 1, lower(col("p_brand")))
        .otherwise(col("p_brand")).as("brand_mixed"),
      col("p_retailprice"), col("p_partkey"))
    mixed
      .groupBy(collate(col("brand_mixed"), "UTF8_LCASE").as("bk"))
      .agg(count(lit(1)).as("n_parts"),
        countDistinct(col("brand_mixed")).as("n_spellings"),
        sum(dec(col("p_retailprice"))).cast(DoubleType).as("sum_price"),
        min(col("p_partkey")).as("min_key"),
        sum(when(startswith(collate(col("brand_mixed"), "UTF8_LCASE"),
          lit("bRaNd#1")), 1L).otherwise(0L)).as("n_b1x"))
      .select(lower(col("bk")).cast(StringType).as("brand_lc"),
        col("n_parts"), col("n_spellings"), col("sum_price"),
        col("min_key"), col("n_b1x"))
      .orderBy(col("brand_lc"))
  }

  // ---------------------------------------------------------------- SQL pipe syntax
  /** SQL pipe-operator suite [SQL-PIPE]: Spark 4's `|>` chain — WHERE,
    * EXTEND, JOIN, AGGREGATE..GROUP BY, a post-aggregation WHERE (the
    * HAVING position) and ORDER BY — expressing a fact⋈dim rollup as a
    * linear dataflow. `EliminatePipeOperators` folds every stage into
    * the ordinary logical plan during analysis, so the chain plans
    * EXACTLY like the equivalent nested SQL: the shipdate filter still
    * pushes into the parquet scan, the aggregate still runs
    * partial+final, AQE still broadcasts the small post-filter side.
    * New surface, zero new execution model — which is the point: pipe
    * programs a 100 TB user writes incrementally inherit every
    * Catalyst optimization for free. Money through DECIMAL(18,2) per
    * the house rule (order-independent exact sums). */
  def sqlPipeSuite(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_li_pipe")
    Tables.orders(s, d).createOrReplaceTempView("graft_ord_pipe")
    s.sql(
      """FROM graft_li_pipe
        ||> WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        ||> EXTEND CAST(l_extendedprice AS DECIMAL(18,2))
        |          * (1 - CAST(l_discount AS DECIMAL(18,2))) AS rev_dec
        ||> JOIN graft_ord_pipe o ON l_orderkey = o.o_orderkey
        ||> AGGREGATE COUNT(*) AS n_items,
        |             CAST(SUM(rev_dec) AS DOUBLE) AS revenue,
        |             CAST(MAX(l_quantity) AS DOUBLE) AS max_qty
        |   GROUP BY o.o_orderpriority AS prio
        ||> WHERE n_items > 1
        ||> ORDER BY prio""".stripMargin)
  }

  // ---------------------------------------------------------------- SQL-language UDFs
  /** SQL-language UDF suite [SQL-UDF]: CREATE TEMPORARY FUNCTION with
    * a SQL body. `ResolveSQLFunctions` INLINES the body into the
    * calling plan during analysis — no black-box function boundary, no
    * serialization wall — so the aggregate below runs as ordinary
    * whole-stage-codegen'd CASE/decimal arithmetic, exactly as if the
    * user had typed it inline. This is the engine's "functions, not
    * UDFs" rule surfaced to SQL users: a named, shareable abstraction
    * with zero execution cost, where a Scala UDF would break codegen
    * and a Python UDF adds a per-batch IPC hop at 100 TB. The declared
    * RETURNS types are exact-widening (DECIMAL(38,4) holds any product
    * of two DECIMAL(18,2)s), so no value rounds at the function
    * boundary and the oracle can inline the same arithmetic. */
  def sqlUdfSuite(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_li_udf")
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_net(
        |  price DOUBLE, disc DOUBLE) RETURNS DECIMAL(38,4)
        |RETURN CAST(price AS DECIMAL(18,2))
        |       * (1 - CAST(disc AS DECIMAL(18,2)))""".stripMargin)
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_band(q DOUBLE)
        |RETURNS STRING
        |RETURN CASE WHEN q < 10 THEN 'low'
        |            WHEN q < 30 THEN 'mid'
        |            ELSE 'high' END""".stripMargin)
    s.sql(
      """SELECT graft_band(l_quantity) AS band,
        |       COUNT(*) AS n,
        |       CAST(SUM(graft_net(l_extendedprice, l_discount)) AS DOUBLE)
        |         AS sum_net,
        |       CAST(MIN(l_quantity) AS DOUBLE) AS min_qty
        |FROM graft_li_udf GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  // ---------------------------------------------------------------- GROUP BY ALL / ORDER BY ALL
  /** GROUP BY ALL / ORDER BY ALL suite [SQL-ALL]: the exploratory-SQL
    * resolution shorthands — ALL expands to every non-aggregate
    * select-list expression (grouping) and to the full output list
    * (ordering) at ANALYSIS time, so the executed plan is
    * byte-identical to the written-out GROUP BY 1,2,3 / ORDER BY
    * 1..6 form: same partial+final hash aggregate, same single sort,
    * the date filter still pushed to the parquet scan. The value at
    * 100 TB is what ALL prevents, not what it adds: a hand-listed
    * GROUP BY that drifts out of sync with the select list silently
    * regroups (the classic wrong-rollup bug); ALL makes the grouping
    * key definitionally the dimension list. avg_rev divides the
    * already-double sum (not DECIMAL/COUNT — decimal-division scale
    * rounding differs across engines; double ÷ exact count is
    * bit-deterministic on both). The oracle states the expanded
    * form. */
  def sqlGroupAllSuite(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("graft_ord_all")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |       year(o_orderdate) AS yr,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS rev,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         / COUNT(*) AS avg_rev
        |FROM graft_ord_all
        |WHERE o_orderdate >= TIMESTAMP '1994-01-01'
        |GROUP BY ALL
        |ORDER BY ALL""".stripMargin)
  }

  // ---------------------------------------------------------------- session variables + EXECUTE IMMEDIATE
  /** Session-variable suite [SQL-VAR]: DECLARE VARIABLE / SET VAR /
    * EXECUTE IMMEDIATE ... USING — parameterized production SQL
    * without string splicing. The cutoff is DATA-DERIVED
    * (MAX(l_quantity)/2: max is exact, the halving dyadic — no
    * cross-engine float tie to disagree on), bound into a statement
    * TEXT held in a second variable, and passed positionally via
    * USING `?` markers, so the executed query is a plan over
    * literals: variable resolution happens before optimization and
    * the predicate folds to a constant the scan can use. The
    * statement text also exercises a LATERAL COLUMN ALIAS
    * (`gross / n AS per_item` reuses two sibling aliases — resolved
    * by projection layering, a resolution feature GROUP BY ALL
    * cannot combine with, which is why it lives here). At 100 TB
    * this surface is how schedulers template one audited query over
    * many thresholds/dates with zero injection surface. The oracle
    * inlines the derivation as a scalar subquery and the alias
    * arithmetic verbatim. */
  def sqlVarSuite(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_li_var")
    s.sql("DECLARE OR REPLACE VARIABLE graft_qty_cut DOUBLE")
    s.sql("""SET VAR graft_qty_cut =
            |  (SELECT MAX(l_quantity) / 2 FROM graft_li_var)""".stripMargin)
    s.sql("DECLARE OR REPLACE VARIABLE graft_stmt STRING")
    s.sql(
      """SET VAR graft_stmt =
        |  'SELECT l_returnflag, COUNT(*) AS n, CAST(? AS DOUBLE) AS cut,
        |          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
        |            AS DOUBLE) AS gross,
        |          CAST(gross / n AS DOUBLE) AS per_item
        |   FROM graft_li_var WHERE l_quantity > ?
        |   GROUP BY l_returnflag ORDER BY l_returnflag'""".stripMargin)
    s.sql("EXECUTE IMMEDIATE graft_stmt USING graft_qty_cut, graft_qty_cut")
  }

  // ---------------------------------------------------------------- gseg SQL DML (row-level operations)
  /** Shared setup for the gseg DML gates: a fresh session with the
    * [[graft.sources.SegCatalog]] registered over a scratch
    * warehouse, so `DELETE FROM` / `UPDATE` / `MERGE INTO` resolve
    * `gseg_dml.dml.<t>` through the catalog to a
    * [[graft.sources.SegDmlTable]]. A new session per invocation
    * keeps the catalog instance (and its warehouse conf) off the
    * shared session, and each gate rebuilds its table with an
    * overwrite write, so repeat bench runs mutate a fresh copy. */
  private def dmlSession(s: SparkSession, d: String,
      tag: String): (SparkSession, String) = {
    val iso = s.newSession()
    val wh = graft.Fs.scratchDir(iso, s"graft_gseg_$tag", d)
    iso.conf.set("spark.sql.catalog.gseg_dml", "graft.sources.SegCatalog")
    iso.conf.set("spark.sql.catalog.gseg_dml.warehouse", wh)
    (iso, wh)
  }

  /** DSv2 DELETE [S21]: `DELETE FROM` a gseg table through Spark's
    * group-based row-level rewrite (RewriteDeleteFromTable →
    * ReplaceData). The table is range-laid-out on the predicate
    * column, so the row-level scan's header zone maps prune most
    * segments at PLAN time: files that cannot hold a matching row
    * are neither read nor rewritten (the copy-on-write contract —
    * DML cost scales with affected groups, not table size; the
    * pruning counters are spec-pinned in SegDmlSpec). Surviving
    * groups are read whole, kept rows flow through the rewrite plan,
    * and the commit swaps exactly the candidate generation. The
    * oracle recomputes the post-DELETE table relationally. */
  def s21DsvDelete(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml21")
    graft.sources.SegSource.write(
      Tables.lineitem(iso, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
        .repartitionByRange(8, col("l_quantity")),
      s"$wh/dml/li")
    iso.sql("DELETE FROM gseg_dml.dml.li WHERE l_quantity > 45")
    iso.table("gseg_dml.dml.li")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  /** DSv2 UPDATE [S22]: `UPDATE ... SET` through the same group-based
    * rewrite (RewriteUpdateTable → ReplaceData) — candidate groups
    * are rewritten with the SET expressions applied where the
    * condition holds and rows carried unchanged otherwise; pruned
    * groups are untouched bytes. SET exercises both a constant
    * (l_discount = 0) and a computed string (a prefixed return
    * flag), so the rewrite's expression path is covered, not just
    * constant folding. Oracle: the same CASE WHEN applied
    * relationally. */
  def s22DsvUpdate(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml22")
    graft.sources.SegSource.write(
      Tables.lineitem(iso, d)
        .select(col("l_orderkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_returnflag"))
        .repartitionByRange(8, col("l_quantity")),
      s"$wh/dml/li")
    iso.sql(
      """UPDATE gseg_dml.dml.li
        |SET l_discount = 0.0, l_returnflag = concat('U', l_returnflag)
        |WHERE l_quantity < 3""".stripMargin)
    iso.table("gseg_dml.dml.li")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("l_discount"))).cast(DoubleType).as("sum_disc"),
        sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  /** DSv2 MERGE [S23]: `MERGE INTO` a gseg table (RewriteMergeIntoTable
    * → ReplaceData) — the upsert shape every incremental 100 TB
    * pipeline runs: a corrections feed updates matched keys and
    * inserts new ones in ONE atomic statement. Target = per-order
    * rows for even order keys (src = 0); source = every third order
    * key, overlapping on multiples of six. MATCHED doubles the
    * amount and stamps src = 2; NOT MATCHED inserts with src = 1 —
    * so the three src classes partition the outcome and the readback
    * aggregate proves matched/unmatched/inserted counts AND sums
    * against a relational FULL OUTER JOIN oracle. Amounts stay
    * 2-decimal-valued doubles (t + s = 2×price) so the DECIMAL(18,2)
    * sum rounds identically in both engines. */
  def s23DsvMerge(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml23")
    val ord = Tables.orders(iso, d)
    graft.sources.SegSource.write(
      ord.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").as("qty"), lit(0L).as("src")),
      s"$wh/dml/t")
    ord.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("qty"))
      .createOrReplaceTempView("graft_merge_src")
    iso.sql(
      """MERGE INTO gseg_dml.dml.t t USING graft_merge_src s ON t.k = s.k
        |WHEN MATCHED THEN
        |  UPDATE SET qty = t.qty + s.qty, src = CAST(2 AS BIGINT)
        |WHEN NOT MATCHED THEN
        |  INSERT (k, qty, src) VALUES (s.k, s.qty, CAST(1 AS BIGINT))"""
        .stripMargin)
    iso.table("gseg_dml.dml.t")
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("qty"))).cast(DoubleType).as("sum_qty"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("src"))
  }

  /** DSv2 MERGE with RUNTIME GROUP FILTERING [S24]: the incremental-
    * upsert shape that actually dominates at 100 TB — a corrections
    * feed confined to a key region (here: order keys above 3/4 of the
    * max, the "recent orders" tail) merged into a range-laid-out
    * target. The ON condition references the source, so plan-time
    * zone maps cannot prune anything (build candidates = all 8 range
    * files); Spark's RowLevelOperationRuntimeGroupFiltering rule runs
    * the match against the target FIRST, collects the distinct
    * `_file` values of matched rows (the gseg metadata column), and
    * delivers them to the row-level scan as In(_file, …) — so only
    * the ~2 files whose ranges intersect the feed are read, rewritten
    * and swapped; the other ~6 are never touched. Copy-on-write cost
    * tracks the FEED's locality, not the table size: the contract
    * that makes daily MERGE viable on a 100 TB table. Counters
    * (gseg_rlo_candidates vs gseg_rlo_runtime_candidates vs
    * gseg_rlo_replaced_files) record the narrowing in bench_metrics;
    * SegDmlSpec pins it exactly (4→1) with survivor-mtime evidence.
    * Oracle: the same FULL OUTER reconstruction as s23 with the feed
    * cutoff stated as floor(max*3/4) integer arithmetic. */
  def s24DsvMergePruned(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml24")
    val ord = Tables.orders(iso, d)
    graft.sources.SegSource.write(
      ord.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").as("qty"), lit(0L).as("src"))
        .repartitionByRange(8, col("k")),
      s"$wh/dml/t")
    val cut = ord.agg(max(col("o_orderkey"))).head().getLong(0) * 3 / 4
    ord.filter(col("o_orderkey") % 3 === 0 && col("o_orderkey") > cut)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("qty"))
      .createOrReplaceTempView("graft_merge_pruned_src")
    iso.sql(
      """MERGE INTO gseg_dml.dml.t t USING graft_merge_pruned_src s
        |ON t.k = s.k
        |WHEN MATCHED THEN
        |  UPDATE SET qty = t.qty + s.qty, src = CAST(2 AS BIGINT)
        |WHEN NOT MATCHED THEN
        |  INSERT (k, qty, src) VALUES (s.k, s.qty, CAST(1 AS BIGINT))"""
        .stripMargin)
    iso.table("gseg_dml.dml.t")
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("qty"))).cast(DoubleType).as("sum_qty"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("src"))
  }

  /** DSv2 ALTER TABLE ADD COLUMN [S25]: catalog-path schema
    * evolution — the sidecar schema gains a tail nullable column in
    * ONE atomic metadata write and NO segment is rewritten; readers
    * null-fill the column for segments written under the old schema
    * (footer schema vs sidecar schema — the parquet/Iceberg
    * add-column contract, and at 100 TB the only viable one: an
    * ALTER that rewrote data would be a table copy). Generation 1
    * (even order keys) is written BEFORE the column exists;
    * generation 2 (odd keys) is inserted through the catalog WITH
    * values. The readback groups over COALESCE(seg, -1), so the
    * null-filled old generation and the valued new one must
    * aggregate together — one wrong null-fill moves a row across
    * groups. SegDmlSpec additionally pins that the old segments'
    * bytes are untouched (mtime) and that DML over the new column
    * works. Oracle: UNION ALL reconstruction with NULL for
    * generation 1. */
  def s25DsvAddColumn(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml25")
    val ord = Tables.orders(iso, d)
    graft.sources.SegSource.write(
      ord.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("qty")),
      s"$wh/dml/t")
    iso.sql("ALTER TABLE gseg_dml.dml.t ADD COLUMN seg BIGINT")
    ord.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("qty"),
        (col("o_orderkey") % 4).as("seg"))
      .createOrReplaceTempView("graft_addcol_src")
    iso.sql(
      "INSERT INTO gseg_dml.dml.t SELECT k, qty, seg FROM graft_addcol_src")
    iso.table("gseg_dml.dml.t")
      .groupBy(coalesce(col("seg"), lit(-1L)).as("seg_id"))
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("qty"))).cast(DoubleType).as("sum_qty"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("seg_id"))
  }

  /** DSv2 MERGE snapshot-sync [S26]: the full action matrix — WHEN
    * MATCHED (update), WHEN NOT MATCHED (insert), and WHEN NOT
    * MATCHED BY SOURCE (delete) in ONE atomic statement: the shape a
    * real table-sync job runs to make the target equal
    * "source-corrected target ∩ source-present keys". Honest scale
    * note: the not-matched-by-source leg makes EVERY group a rewrite
    * candidate by construction — any target row ANYWHERE might need
    * deleting, so neither zone maps nor runtime group filtering can
    * prune (the counters record candidates == all files; compare
    * s24, where the same MERGE without that leg rewrites only the
    * feed's files). A production sync over a 100 TB table should
    * therefore prefer s24's shape plus a separate bounded
    * anti-delete when it can bound key motion — this gate exists to
    * prove the full matrix is CORRECT, with the cost stated, not
    * hidden. Oracle: FULL OUTER reconstruction restricted to
    * source-present keys. */
  def s26DsvMergeSync(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml26")
    val ord = Tables.orders(iso, d)
    graft.sources.SegSource.write(
      ord.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").as("qty"), lit(0L).as("src"))
        .repartitionByRange(8, col("k")),
      s"$wh/dml/t")
    ord.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("qty"))
      .createOrReplaceTempView("graft_merge_sync_src")
    iso.sql(
      """MERGE INTO gseg_dml.dml.t t USING graft_merge_sync_src s
        |ON t.k = s.k
        |WHEN MATCHED THEN
        |  UPDATE SET qty = t.qty + s.qty, src = CAST(2 AS BIGINT)
        |WHEN NOT MATCHED THEN
        |  INSERT (k, qty, src) VALUES (s.k, s.qty, CAST(1 AS BIGINT))
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    iso.table("gseg_dml.dml.t")
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("qty"))).cast(DoubleType).as("sum_qty"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("src"))
  }

  /** DSv2 ALTER TABLE DROP COLUMN [S27]: the other half of
    * metadata-only schema evolution. Generation 1 (even keys) is
    * written WITH a payload column; DROP removes it from the sidecar
    * in one atomic write and rewrites NOTHING — old segments keep
    * their now-unread blocks (the by-name reader skips blocks
    * outside the required schema, so the dropped data can never
    * resurface in a scan) and the name is tombstoned so a later ADD
    * cannot resurrect those blocks (gseg has no Iceberg field IDs;
    * SegDmlSpec pins the rejection). Generation 2 (odd keys) is
    * inserted under the narrowed schema. The readback aggregates
    * BOTH generations over the surviving columns — a reader that
    * mis-seeked past the orphaned blocks would corrupt every value
    * in generation 1. Oracle: the full orders projection, dropped
    * column never mentioned. */
  def s27DsvDropColumn(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml27")
    val ord = Tables.orders(iso, d)
    graft.sources.SegSource.write(
      ord.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("qty"),
          (col("o_orderkey") % 7).as("junk")),
      s"$wh/dml/t")
    iso.sql("ALTER TABLE gseg_dml.dml.t DROP COLUMN junk")
    ord.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("qty"))
      .createOrReplaceTempView("graft_dropcol_src")
    iso.sql(
      "INSERT INTO gseg_dml.dml.t SELECT k, qty FROM graft_dropcol_src")
    iso.table("gseg_dml.dml.t")
      .groupBy((col("k") % 3).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("qty"))).cast(DoubleType).as("sum_qty"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("bucket"))
  }

  /** DSv2 VACUUM procedure [S28]: the crash-atomicity contract
    * EXECUTED in the graded gate, end to end — a copy-on-write UPDATE
    * is killed at the commit's injection seam AFTER its new
    * generation is fully staged but BEFORE the manifest swap (the
    * exact window the r11 protocol lost data in); the table must
    * still serve the old generation completely, and
    * `CALL gseg_dml.vacuum('dml.t')` (Spark 4's ProcedureCatalog
    * SPI — the lakehouse OPTIMIZE/VACUUM surface) must reclaim the
    * stranded orphan files through plain SQL. The readback aggregate
    * equals the ORIGINAL table (the killed UPDATE never happened —
    * atomicity), and reclaimed_some pins that the crash really
    * stranded something (non-vacuous). Vacuum is driver-side by
    * design: one manifest read + one listing + unlinks — metadata
    * work with nothing to distribute at any scale. */
  def s28DsvVacuum(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml28")
    val ord = Tables.orders(iso, d)
    graft.sources.SegSource.write(
      ord.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("qty"))
        .repartitionByRange(8, col("k")),
      s"$wh/dml/t")
    // also materializes the manifest via loadTable
    val mx = iso.table("gseg_dml.dml.t").agg(max(col("k")))
      .head().getLong(0)
    // k = max prunes to the top range file, whose rewrite always
    // stages a non-empty replacement (the file holds mx itself)
    graft.sources.SegDml.commitHook = p =>
      if (p == "staged") throw new RuntimeException("planted crash")
    try iso.sql(s"UPDATE gseg_dml.dml.t SET qty = qty + 1.0 WHERE k = $mx")
    catch { case _: Exception => () }
    finally graft.sources.SegDml.commitHook = _ => ()
    val reclaimed =
      iso.sql("CALL gseg_dml.vacuum('dml.t')").head().getLong(1)
    iso.table("gseg_dml.dml.t")
      .groupBy((col("k") % 3).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("qty"))).cast(DoubleType).as("sum_qty"),
        max(col("k")).as("max_k"))
      .withColumn("reclaimed_some", lit(reclaimed > 0))
      .orderBy(col("bucket"))
  }

  /** DSv2 EVENT-TIME RETENTION DELETE [S31]: the DML that dominates a
    * 100 TB event table — `DELETE FROM t WHERE ts < <horizon>` — run
    * against a gseg table whose TIMESTAMP column (micros-backed, r12
    * type addition) is the RANGE-LAYOUT key. The horizon predicate
    * folds to a timestamp literal, pushes into the row-level scan,
    * and the ts zone maps prune at PLAN time: files wholly below the
    * horizon are dropped whole (their rewrite is pure deletion — the
    * replacement stages nothing), files wholly above are never
    * candidates, and only the one straddling file is actually
    * rewritten — retention cost tracks the horizon BOUNDARY, not the
    * table (counters in bench_metrics; the sf1 probe pins constancy).
    * Readback aggregates the survivors with micros bounds; the
    * midpoint horizon uses the same (MIN+MAX)/2 integer arithmetic on
    * micros in both engines, so the cut is bit-identical. */
  def s31DsvEventRetention(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml31")
    val ev = Tables.events(iso, d).filter(col("user_id") < 200)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    graft.sources.SegSource.write(
      ev.repartitionByRange(8, col("ts")), s"$wh/dml/t")
    val mm = ev.agg(min(unix_micros(col("ts"))),
      max(unix_micros(col("ts")))).head()
    val cut = (mm.getLong(0) + mm.getLong(1)) / 2
    iso.sql(
      s"DELETE FROM gseg_dml.dml.t WHERE ts < timestamp_micros(${cut}L)")
    iso.table("gseg_dml.dml.t")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("value"))).cast(DoubleType).as("sum_value"),
        min(unix_micros(col("ts"))).as("min_us"),
        max(unix_micros(col("ts"))).as("max_us"))
      .orderBy(col("event_type"))
  }

  /** DSv2 TIME TRAVEL [S29]: `VERSION AS OF` over retained generation
    * snapshots — every manifest swap also writes `.manifest.v<gen>`,
    * so a committed generation stays queryable (pinned file set,
    * read-only, full scan machinery) until `CALL vacuum` retires it;
    * the time-travel WINDOW is the vacuum cadence, the Delta/Iceberg
    * retention model, and a travel past it fails loudly rather than
    * reading dangling files. Here generation 0 is the full even-key
    * table and generation 1 the same table after an (unpushable,
    * runtime-group-filtered) DELETE of the k%4 residue class — the
    * readback aggregates BOTH versions side by side, so the snapshot
    * must reproduce rows the live generation no longer has. At 100 TB
    * snapshots cost one small manifest file per commit; the data
    * files are shared between generations (copy-on-write means only
    * REPLACED groups diverge). Oracle: the two relational states
    * UNION ALL'd. */
  def s29DsvTimeTravel(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml29")
    val ord = Tables.orders(iso, d)
    graft.sources.SegSource.write(
      ord.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("qty")),
      s"$wh/dml/t")
    // materialize the manifest: this is generation 0
    iso.table("gseg_dml.dml.t").count()
    iso.sql("DELETE FROM gseg_dml.dml.t WHERE k % 4 = 0") // generation 1
    def snap(versionSql: String, tag: Long): DataFrame =
      iso.sql(
        s"""SELECT k, qty FROM gseg_dml.dml.t $versionSql""")
        .groupBy(lit(tag).as("version"))
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("qty"))).cast(DoubleType).as("sum_qty"),
          max(col("k")).as("max_k"))
    snap("VERSION AS OF 0", 0L).unionAll(snap("", 1L))
      .orderBy(col("version"))
  }

  /** DSv2 COMPACT procedure [S30]: the OPTIMIZE maintenance shape —
    * a table fragmented into 16 small segments (what streaming sinks
    * and incremental DML leave behind; at 100 TB every file is a
    * task + header parse + listing entry) is merged to 2 by
    * `CALL gseg_dml.compact('dml.t', 2)`: a DISTRIBUTED shuffle-free
    * rewrite (coalesce merges existing partitions in one read+write
    * pass) committed with the same atomic manifest swap as every
    * gseg commit, the fragmented generation retained for time travel
    * until vacuum. The readback aggregate proves content survived
    * the rewrite exactly; layout_ok pins the 16→2 file transition
    * from the procedure's own result row. */
  def s30DsvCompact(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml30")
    val ord = Tables.orders(iso, d)
    graft.sources.SegSource.write(
      ord.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("qty"))
        .repartition(16),
      s"$wh/dml/t")
    iso.table("gseg_dml.dml.t").count() // manifest: generation 0
    val r = iso.sql("CALL gseg_dml.compact('dml.t', 2)").head()
    iso.table("gseg_dml.dml.t")
      .groupBy((col("k") % 3).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("qty"))).cast(DoubleType).as("sum_qty"),
        max(col("k")).as("max_k"))
      .withColumn("layout_ok",
        lit(r.getLong(1) == 16 && r.getLong(2) == 2))
      .orderBy(col("bucket"))
  }

  /** DSv2 GENERATION-DIFF CHANGEFEED [S32]: the incremental-pipeline
    * feed the retained time-travel history exists for (Delta CDF /
    * Iceberg incremental reads) — "exactly what changed between
    * generation A and generation B", never a table rescan. Three
    * commits mutate the table (UPDATE top half, DELETE top quarter,
    * INSERT the odd keys); [[graft.sources.SegChangeFeed]] then diffs
    * the endpoint snapshots: the FILE diff is metadata-bounded by
    * what the commits rewrote (copy-on-write shares every untouched
    * file — files_bounded pins that the lower-half files never
    * entered the diff), and the ROW diff full-outer joins the two
    * pinned reads over exactly those files, classifying
    * insert / delete / update_preimage / update_postimage and
    * emitting NOTHING for rewrite-carried unchanged rows. The
    * readback aggregates per change class; the oracle reconstructs
    * all four classes relationally with the same integer-division
    * cut arithmetic. */
  def s32DsvChangefeed(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml32")
    val ord = Tables.orders(iso, d)
    graft.sources.SegSource.write(
      ord.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("qty"))
        .repartitionByRange(8, col("k")),
      s"$wh/dml/t")
    // gen 0 synthesized on first catalog touch
    val mx = iso.table("gseg_dml.dml.t").agg(max(col("k")))
      .head().getLong(0)
    val cut = mx / 2
    val cut2 = (3L * mx) / 4
    iso.sql(s"UPDATE gseg_dml.dml.t SET qty = qty + 1.0 WHERE k >= $cut")
    iso.sql(s"DELETE FROM gseg_dml.dml.t WHERE k >= $cut2")
    ord.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("qty"))
      .createOrReplaceTempView("graft_cf_src")
    iso.sql("INSERT INTO gseg_dml.dml.t SELECT k, qty FROM graft_cf_src")
    val f0 = graft.Counters.peek("gseg_changefeed_files")
    val t0 = graft.Counters.peek("gseg_changefeed_files_total")
    val feed = graft.sources.SegChangeFeed.changes(iso, s"$wh/dml/t",
      iso.table("gseg_dml.dml.t").schema, fromGen = 0L, toGen = 3L,
      keyCols = Seq("k"))
    // the file diff must be a strict subset of the two generations'
    // union — the untouched lower-half files never enter the feed
    val bounded =
      (graft.Counters.peek("gseg_changefeed_files") - f0) <
        (graft.Counters.peek("gseg_changefeed_files_total") - t0)
    feed.groupBy(col("_change_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("qty"))).cast(DoubleType).as("sum_qty"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .withColumn("files_bounded", lit(bounded))
      .orderBy(col("_change_type"))
  }

  /** DSv2 RENAME COLUMN [S33]: metadata-only rename through the
    * unified sidecar's alias chain — the field-ID-less answer to the
    * schema-evolution gap DROP COLUMN's tombstones left. Generation 0
    * stores its blocks under the ORIGINAL name (`qty`); the rename is
    * one atomic sidecar write (no segment touched); generation 2
    * inserts under the NEW name (`amount`). The readback filters and
    * aggregates `amount` ACROSS both generations: the row readers,
    * the pushed filter, and the zone maps all resolve the old
    * stored name through [[graft.sources.SegMeta]]'s alias map — a
    * mis-resolved alias would null out half the table or break the
    * pushdown, and name REUSE (re-adding `qty`) stays loudly
    * rejected (SegDmlSpec pins the guards). Oracle: the same
    * filter+aggregate straight off orders, the rename invisible as
    * it should be. */
  /** DSv2 atomic CTAS / RTAS [S34]: `CREATE TABLE ... AS SELECT`
    * through the StagingTableCatalog SPI — the query's output stages
    * invisibly (hidden temp + dot-hidden final names) and ONE
    * CAS'd manifest swap publishes it, so a fresh table either
    * exists with ALL its data or not at all (the non-staging
    * fallback strands an empty created table on failure; SegDmlSpec
    * pins the no-trace abort). `REPLACE TABLE ... AS SELECT` rides
    * the same swap and RETAINS the replaced generation — the
    * readback reads the LIVE post-replace table next to
    * `VERSION AS OF` the pre-replace generation, so time travel
    * provably reaches across a REPLACE. Oracle: the two relational
    * states (odd-key replace over even-key create) UNION ALL'd. */
  def s34DsvCtas(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml34")
    val ord = Tables.orders(iso, d)
    ord.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("qty"))
      .createOrReplaceTempView("graft_ctas_even")
    ord.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("qty"))
      .createOrReplaceTempView("graft_ctas_odd")
    iso.sql("CREATE TABLE gseg_dml.dml.t USING gseg " +
      "AS SELECT k, qty FROM graft_ctas_even")
    val gen0 = graft.sources.SegManifest.read(s"$wh/dml/t").get._1
    iso.sql("REPLACE TABLE gseg_dml.dml.t USING gseg " +
      "AS SELECT k, qty FROM graft_ctas_odd")
    def side(src: String, tag: Long): DataFrame =
      iso.sql(s"SELECT k, qty FROM $src")
        .groupBy(lit(tag).as("phase"))
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("qty"))).cast(DoubleType).as("sum_qty"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
    side(s"gseg_dml.dml.t VERSION AS OF $gen0", 0L)
      .unionAll(side("gseg_dml.dml.t", 1L))
      .orderBy(col("phase"))
  }

  /** DSv2 PARTITIONED BY catalog tables [S35]: the storage-partitioned
    * layout as CATALOG metadata — `CREATE TABLE ... PARTITIONED BY (k)`
    * persists the identity-clustering column in the sidecar, every
    * write (CTAS staging, INSERT, and — via the rewrite's declared
    * clustered distribution — row-level DML replacements) maintains
    * the one-key-per-segment layout, and every read recovers
    * KeyGroupedPartitioning with no `partition_col` option anywhere.
    * The gate CTASes orders and lineitem sides clustered on
    * pmod(orderkey, 32), proves the catalog-native join runs with
    * ZERO exchanges under a real sort-merge join (spj_shuffle_free),
    * then DELETEs one key class and proves the layout SURVIVED the
    * copy-on-write rewrite (spj_after_dml — the property that keeps a
    * 100 TB bucketed fact joinable without re-layout after daily
    * DML). Relational columns oracle-recomputed from parquet. */
  def s35DsvPartitionedTable(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml35")
    import iso.implicits._
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.adaptive.enabled", "false")
    iso.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    Tables.orders(iso, d)
      .select(col("o_orderkey"), pmod(col("o_orderkey"), lit(32L)).as("k"))
      .createOrReplaceTempView("graft_p35_a")
    Tables.lineitem(iso, d)
      .select(col("l_orderkey"), col("l_extendedprice"),
        pmod(col("l_orderkey"), lit(32L)).as("k"))
      .createOrReplaceTempView("graft_p35_b")
    iso.sql("CREATE TABLE gseg_dml.dml.a USING gseg PARTITIONED BY (k) " +
      "AS SELECT o_orderkey, k FROM graft_p35_a")
    iso.sql("CREATE TABLE gseg_dml.dml.b USING gseg PARTITIONED BY (k) " +
      "AS SELECT l_orderkey, l_extendedprice, k FROM graft_p35_b")
    def joined = {
      val a = iso.table("gseg_dml.dml.a")
      val b = iso.table("gseg_dml.dml.b")
      a.join(b, a("k") === b("k") && a("o_orderkey") === b("l_orderkey"))
    }
    def shuffleFree: Boolean =
      joined.queryExecution.executedPlan.collectFirst {
        case m: org.apache.spark.sql.execution.joins.SortMergeJoinExec => m
      }.exists(_.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty)
    val preDml = shuffleFree
    iso.sql("DELETE FROM gseg_dml.dml.a WHERE k = 7")
    val postDml = shuffleFree
    val row = joined
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_price"))
      .head()
    Seq((row.getLong(0), row.getDouble(1), preDml, postDml))
      .toDF("n_rows", "sum_price", "spj_shuffle_free", "spj_after_dml")
  }

  /** DSv2 changefeed SQL/read surface [S36]: row-level CDC through
    * PLAIN `spark.read.format("gseg")` options — no Scala API — with
    * PER-COMMIT semantics (Delta's `table_changes`): the union of
    * single-step diffs over [from, to], so the UPDATE's pre/post
    * pairs surface at generation 1, the DELETE's rows (carrying the
    * post-update values) at generation 2, and the INSERT's rows at
    * generation 3 — `_commit_generation` pins each class to its
    * commit, which the endpoint-collapsed s32 cannot express. Append
    * commits take the no-join fast path; the DML steps run the
    * bucketed in-source diff (counters record both). Oracle:
    * all four classes with their per-commit values and generations,
    * reconstructed with the same integer-division cuts as s32. */
  def s36DsvChangefeedSql(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml36")
    val ord = Tables.orders(iso, d)
    graft.sources.SegSource.write(
      ord.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("qty"))
        .repartitionByRange(8, col("k")),
      s"$wh/dml/t")
    val mx = iso.table("gseg_dml.dml.t").agg(max(col("k")))
      .head().getLong(0) // also materializes generation 0
    val cut = mx / 2
    val cut2 = (3L * mx) / 4
    iso.sql(s"UPDATE gseg_dml.dml.t SET qty = qty + 1.0 WHERE k >= $cut")
    iso.sql(s"DELETE FROM gseg_dml.dml.t WHERE k >= $cut2")
    ord.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("qty"))
      .createOrReplaceTempView("graft_cdf_src")
    iso.sql("INSERT INTO gseg_dml.dml.t SELECT k, qty FROM graft_cdf_src")
    val feed = iso.read.format("gseg")
      .schema(iso.table("gseg_dml.dml.t").schema)
      .option(graft.sources.SegCdf.FromOption, "1")
      .option(graft.sources.SegCdf.ToOption, "3")
      .option(graft.sources.SegCdf.KeysOption, "k")
      .load(s"$wh/dml/t")
    feed.groupBy(col("_change_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("qty"))).cast(DoubleType).as("sum_qty"),
        min(col("_commit_generation")).as("min_gen"),
        max(col("_commit_generation")).as("max_gen"))
      .orderBy(col("_change_type"))
  }

  /** DSv2 MULTI-COLUMN PARTITIONED BY [S37]: composite-key identity
    * clustering — `PARTITIONED BY (k1, k2)` declares a two-column
    * layout (one segment set per distinct (k1,k2) tuple), the keyed
    * writer rolls runs at COMPOSITE key boundaries, the scan recovers
    * a two-expression KeyGroupedPartitioning from per-file header
    * stats (both columns single-valued per segment), and the
    * catalog-native join on (k1, k2, orderkey) runs with ZERO
    * exchanges — then a DELETE of one composite class proves the
    * layout survives row-level DML exactly like the single-key s35.
    * k1 = key mod 6, k2 = key mod 5 are coprime, so the deleted
    * class is key ≡ 27 (mod 30) by CRT — the oracle states it as the
    * conjunction. */
  def s37DsvMultiPartitioned(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml37")
    import iso.implicits._
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.adaptive.enabled", "false")
    iso.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    Tables.orders(iso, d)
      .select(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(6L)).as("k1"),
        pmod(col("o_orderkey"), lit(5L)).as("k2"))
      .createOrReplaceTempView("graft_p37_a")
    Tables.lineitem(iso, d)
      .select(col("l_orderkey"), col("l_extendedprice"),
        pmod(col("l_orderkey"), lit(6L)).as("k1"),
        pmod(col("l_orderkey"), lit(5L)).as("k2"))
      .createOrReplaceTempView("graft_p37_b")
    iso.sql("CREATE TABLE gseg_dml.dml.a USING gseg " +
      "PARTITIONED BY (k1, k2) " +
      "AS SELECT o_orderkey, k1, k2 FROM graft_p37_a")
    iso.sql("CREATE TABLE gseg_dml.dml.b USING gseg " +
      "PARTITIONED BY (k1, k2) " +
      "AS SELECT l_orderkey, l_extendedprice, k1, k2 FROM graft_p37_b")
    def joined = {
      val a = iso.table("gseg_dml.dml.a")
      val b = iso.table("gseg_dml.dml.b")
      a.join(b, a("k1") === b("k1") && a("k2") === b("k2") &&
        a("o_orderkey") === b("l_orderkey"))
    }
    def shuffleFree: Boolean =
      joined.queryExecution.executedPlan.collectFirst {
        case m: org.apache.spark.sql.execution.joins.SortMergeJoinExec => m
      }.exists(_.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty)
    val preDml = shuffleFree
    iso.sql("DELETE FROM gseg_dml.dml.a WHERE k1 = 3 AND k2 = 2")
    val postDml = shuffleFree
    val row = joined
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_price"))
      .head()
    Seq((row.getLong(0), row.getDouble(1), preDml, postDml))
      .toDF("n_rows", "sum_price", "spj_shuffle_free", "spj_after_dml")
  }

  /** DSv2 STRING ZONE MAPS [S38]: the r14 segment-v3 string stats at
    * work — customers range-laid on the ASCII `c_name` key (8 files,
    * each carrying exact untruncated min/max name bounds), then a
    * PREFIX aggregate: `name LIKE 'Customer#0000001%'` spans one
    * narrow slice of the name range, so the startsWith interval test
    * (mx >= v ∧ mn's |v|-prefix <= v) proves most files cannot hold
    * a match and they are never opened — the pruning that makes a
    * point/prefix lookup on a 100 TB name-sorted dimension a
    * few-file read instead of a table scan. `string_zone_pruned` is
    * the counter evidence; the relational columns are the plain
    * LIKE aggregate DuckDB recomputes. */
  def s38DsvStringPrune(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml38")
    import iso.implicits._
    val dir = s"$wh/dml/t"
    Tables.customer(iso, d)
      .select(col("c_custkey").as("k"), col("c_name").as("name"),
        col("c_acctbal").as("bal"))
      .repartitionByRange(8, col("name")).sortWithinPartitions(col("name"))
      .write.format("gseg").mode("overwrite").save(dir)
    val t = iso.read.format("gseg").load(dir)
    graft.Counters.drain()
    val r = t.filter(col("name").startsWith("Customer#0000001"))
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("bal"))).cast(DoubleType).as("sum_bal"),
        min(col("name")).as("min_name"), max(col("name")).as("max_name"))
      .head()
    val c = graft.Counters.drain()
    val prunedFiles = c.getOrElse("gseg_files_skipped", 0L) > 0
    Seq((r.getLong(0), r.getDouble(1), r.getString(2), r.getString(3),
      prunedFiles))
      .toDF("n_rows", "sum_bal", "min_name", "max_name",
        "string_zone_pruned")
  }

  /** DSv2 STRING-KEYED PARTITIONED BY [S39]: identity clustering on a
    * STRING column — the declared-layout half of r14's string zone
    * maps (s38 proved the read side with a manual range layout; this
    * declares it). The keyed writer rolls one segment per key value
    * (v3 ASCII string stats prove single-valuedness: min==max), the
    * scan recovers KeyGroupedPartitioning(identity(g)) from those
    * stats, and the catalog-native join on (g, orderkey) runs with
    * ZERO exchanges — then a DELETE of one key class proves the
    * layout survives copy-on-write DML, exactly the s35 contract at
    * string type. At 100 TB this is the dimension-table case: real
    * tables cluster on names/codes, not surrogate BIGINTs. */
  def s39DsvStringPartitioned(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml39")
    import iso.implicits._
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.adaptive.enabled", "false")
    iso.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    val gexp = concat(lit("g"),
      lpad(pmod(col("o_orderkey"), lit(24L)).cast("string"), 3, "0"))
    Tables.orders(iso, d)
      .select(col("o_orderkey"), gexp.as("g"))
      .createOrReplaceTempView("graft_p39_a")
    Tables.lineitem(iso, d)
      .select(col("l_orderkey"), col("l_extendedprice"),
        concat(lit("g"), lpad(pmod(col("l_orderkey"), lit(24L))
          .cast("string"), 3, "0")).as("g"))
      .createOrReplaceTempView("graft_p39_b")
    iso.sql("CREATE TABLE gseg_dml.dml.a USING gseg PARTITIONED BY (g) " +
      "AS SELECT o_orderkey, g FROM graft_p39_a")
    iso.sql("CREATE TABLE gseg_dml.dml.b USING gseg PARTITIONED BY (g) " +
      "AS SELECT l_orderkey, l_extendedprice, g FROM graft_p39_b")
    def joined = {
      val a = iso.table("gseg_dml.dml.a")
      val b = iso.table("gseg_dml.dml.b")
      a.join(b, a("g") === b("g") && a("o_orderkey") === b("l_orderkey"))
    }
    def shuffleFree: Boolean =
      joined.queryExecution.executedPlan.collectFirst {
        case m: org.apache.spark.sql.execution.joins.SortMergeJoinExec => m
      }.exists(_.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty)
    val preDml = shuffleFree
    iso.sql("DELETE FROM gseg_dml.dml.a WHERE g = 'g007'")
    val postDml = shuffleFree
    val row = joined
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_price"))
      .head()
    Seq((row.getLong(0), row.getDouble(1), preDml, postDml))
      .toDF("n_rows", "sum_price", "spj_shuffle_free", "spj_after_dml")
  }

  /** DSv2 BUCKET CLUSTERING [S40]: `PARTITIONED BY (bucket(16, key))`
    * — the transform that makes fact⋈fact SPJ work on HIGH-CARDINALITY
    * keys, where identity clustering would mint one partition per key
    * (s18/s35/s37/s39 all join through low-cardinality mod/string
    * classes). Both sides bucket their raw order key; the catalog's
    * V2 `bucket` function ([[graft.sources.SegBucketFunction]]) is the
    * ONE hash the write shuffle, the writer's per-segment bucket
    * stamps (v4 headers) and the scan's KeyGroupedPartitioning
    * recovery share, so the join on the raw key runs with ZERO
    * exchanges — and survives a DELETE, the copy-on-write rewrite
    * re-declaring the bucket distribution. At 100 TB: two bucketed
    * fact tables join moving NOTHING, forever, across daily DML. */
  def s40DsvBucketedSpj(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml40")
    import iso.implicits._
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.adaptive.enabled", "false")
    iso.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    Tables.orders(iso, d).select(col("o_orderkey"), col("o_totalprice"))
      .createOrReplaceTempView("graft_p40_a")
    Tables.lineitem(iso, d).select(col("l_orderkey"), col("l_extendedprice"))
      .createOrReplaceTempView("graft_p40_b")
    iso.sql("CREATE TABLE gseg_dml.dml.a USING gseg " +
      "PARTITIONED BY (bucket(16, o_orderkey)) " +
      "AS SELECT o_orderkey, o_totalprice FROM graft_p40_a")
    iso.sql("CREATE TABLE gseg_dml.dml.b USING gseg " +
      "PARTITIONED BY (bucket(16, l_orderkey)) " +
      "AS SELECT l_orderkey, l_extendedprice FROM graft_p40_b")
    def joined = {
      val a = iso.table("gseg_dml.dml.a")
      val b = iso.table("gseg_dml.dml.b")
      a.join(b, a("o_orderkey") === b("l_orderkey"))
    }
    def shuffleFree: Boolean =
      joined.queryExecution.executedPlan.collectFirst {
        case m: org.apache.spark.sql.execution.joins.SortMergeJoinExec => m
      }.exists(_.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty)
    val preDml = shuffleFree
    iso.sql("DELETE FROM gseg_dml.dml.a WHERE o_orderkey % 50 = 7")
    val postDml = shuffleFree
    val row = joined
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_price"))
      .head()
    Seq((row.getLong(0), row.getDouble(1), preDml, postDml))
      .toDF("n_rows", "sum_price", "spj_shuffle_free", "spj_after_dml")
  }

  /** DSv2 BLOOM-FILTER FILE SKIPPING [S41]: the v5 per-segment bloom
    * under the driver's oracle gate. Orders land HASH-SHUFFLED across
    * 8 files (every file's [min,max] key interval spans ~the whole
    * domain, so zone maps cannot prune a point lookup — the layout a
    * real unsorted 100 TB fact table has), with `bloom_columns=k` at
    * write. The point lookup then opens only the file(s) whose bloom
    * admits the key (~1 of 8, plus false positives) — counter-pinned
    * `bloom_pruned`; DuckDB recomputes the relational columns. The
    * probe key is the smallest key at-or-above half the max — a
    * deterministic, relationally-recomputable existing key. */
  def s41DsvBloomPrune(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml41")
    import iso.implicits._
    val dir = s"$wh/dml/t"
    Tables.orders(iso, d)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
      .repartition(8)
      .write.format("gseg")
      .option(graft.sources.SegSource.BloomColumnsOption, "k")
      .mode("overwrite").save(dir)
    val t = iso.read.format("gseg").load(dir)
    val half = t.agg(max(col("k"))).head().getLong(0) / 2
    val key = t.filter(col("k") >= half).agg(min(col("k")))
      .head().getLong(0)
    graft.Counters.drain()
    val r = t.filter(col("k") === key)
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("price"))).cast(DoubleType).as("sum_price"))
      .head()
    val c = graft.Counters.drain()
    val pruned = c.getOrElse("gseg_bloom_files_skipped", 0L) > 0
    Seq((r.getLong(0), r.getDouble(1), pruned))
      .toDF("n_rows", "sum_price", "bloom_pruned")
  }

  /** MERGE-ON-READ DELETE [S42]: `gseg.delete.mode=merge_on_read`
    * routes DELETE through Spark's DELTA row-level path
    * (`SupportsDelta` → WriteDelta) instead of the copy-on-write
    * group rewrite — matching rows stream with their row ids
    * (`_file`, `_pos`), the commit writes per-segment positional
    * DELETION VECTORS, and every segment stays byte-identical on
    * disk. At 100 TB this turns DELETE cost from O(bytes resident in
    * affected segments) into O(rows deleted): the GDPR-delete shape.
    * Pinned evidence: the segment NAME SET is unchanged across the
    * DELETE (`segments_preserved`), and the changefeed — which reads
    * a dv commit as its newly masked ordinals, one pruned pass per
    * touched segment — reports exactly the deleted rows
    * (`deleted_rows`, relationally recomputable). The oracle
    * recomputes the post-DELETE aggregate AND the deleted count. */
  def s42DsvDvDelete(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml42")
    import iso.implicits._
    iso.sql("CREATE TABLE gseg_dml.dml.t (k BIGINT, price DOUBLE) " +
      "USING gseg TBLPROPERTIES('gseg.delete.mode'='merge_on_read')")
    Tables.orders(iso, d)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
      .repartition(8).writeTo("gseg_dml.dml.t").append()
    val dir = s"$wh/dml/t"
    val before = graft.sources.SegManifest.read(dir).get._2.sorted
    iso.sql("DELETE FROM gseg_dml.dml.t WHERE k % 10 = 3")
    val after = graft.sources.SegManifest.read(dir)
    val preserved = after.get._2.sorted == before
    // the dv commit through the changefeed: exactly the deleted rows
    val dvGen = after.get._1
    val deleted = iso.read.format("gseg")
      .option(graft.sources.SegCdf.FromOption, dvGen.toString)
      .option(graft.sources.SegCdf.ToOption, dvGen.toString)
      .option(graft.sources.SegCdf.KeysOption, "k")
      .load(dir)
      .filter(col(graft.sources.SegChangeFeed.ChangeTypeCol) === "delete")
      .count()
    val r = iso.table("gseg_dml.dml.t")
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("price"))).cast(DoubleType).as("sum_price"))
      .head()
    Seq((r.getLong(0), r.getDouble(1), deleted, preserved))
      .toDF("n_rows", "sum_price", "deleted_rows", "segments_preserved")
  }

  /** TEMPORAL PARTITION TRANSFORM [S43]: `PARTITIONED BY (months(d))`
    * — the time-partitioned fact layout every 100 TB event/order
    * table uses. The catalog serves `years`/`months`/`days`/`hours`
    * V2 functions so the write shuffle, the writer's run splitting
    * and the scan's KeyGroupedPartitioning share ONE unit-ordinal
    * definition; recovery is STATS-ONLY (the transform is monotone,
    * so equal ordinals at [min, max] prove a single-unit file — no
    * header stamp, unlike bucket). Pinned evidence: a same-key
    * self-join runs with ZERO exchanges after a copy-on-write DELETE
    * re-laid its groups (`spj_after_dml`), and a month-range filter
    * on a path read FILE-PRUNES via the raw column's zone maps
    * (`month_pruned` — counter). The oracle recomputes the month-
    * grain aggregate relationally. */
  def s43DsvMonthsPartitioned(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml43")
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    iso.sql("CREATE TABLE gseg_dml.dml.t " +
      "(k BIGINT, d TIMESTAMP, price DOUBLE) USING gseg " +
      "PARTITIONED BY (months(d))")
    Tables.orders(iso, d)
      .select(col("o_orderkey").as("k"), col("o_orderdate").as("d"),
        col("o_totalprice").as("price"))
      .writeTo("gseg_dml.dml.t").append()
    val dir = s"$wh/dml/t"
    iso.sql("DELETE FROM gseg_dml.dml.t WHERE k % 10 = 7")
    // zero-exchange SPJ on the layout AFTER the DML rewrite
    val t = iso.table("gseg_dml.dml.t")
    val j = t.as("a").join(t.as("b"), Seq("d", "k"))
    val spjAfterDml = j.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.isEmpty && j.count() >= 0
    // month-range pruning on the raw column's zone maps (ungrouped
    // path read so the file counters fire)
    graft.Counters.drain()
    val pruneProbe = iso.read.format("gseg").load(dir)
      .filter(col("d") >= lit(java.sql.Timestamp.valueOf(
        "1998-01-01 00:00:00")))
      .count()
    val c = graft.Counters.drain()
    val pruned = c.getOrElse("gseg_files_skipped", 0L) > 0 && pruneProbe > 0
    t.groupBy(year(col("d")).cast("int").as("y"),
        month(col("d")).cast("int").as("m"))
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("price"))).cast(DoubleType).as("sum_price"))
      .withColumn("spj_after_dml", lit(spjAfterDml))
      .withColumn("month_pruned", lit(pruned))
      .orderBy(col("y"), col("m"))
  }

  /** TRUNCATE-WIDTH CLUSTERING [S44]: `PARTITIONED BY
    * (truncate(1000, k))` — Iceberg's width transform: integer keys
    * bin to `v - (v mod w)`, the RANGE-BLOCK layout of a sorted fact
    * table (strings cut to w codepoints). Monotone like the temporal
    * transforms, so recovery is stats-only — AND the raw column's
    * zone maps range-prune bins for free. The scan reports the width
    * INSIDE the function name (`truncate1000(k)` — Spark's scan-side
    * transform conversion accepts single-reference transforms only;
    * the 2-arg spelling stays on DDL and the write distribution).
    * Pinned evidence: two truncate-binned fact tables join on the RAW
    * key with zero exchanges, before and after a copy-on-write
    * DELETE. The oracle recomputes the join aggregate. */
  def s44DsvTruncateBinned(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml44")
    import iso.implicits._
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.adaptive.enabled", "false")
    iso.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    Tables.orders(iso, d).select(col("o_orderkey"), col("o_totalprice"))
      .createOrReplaceTempView("graft_p44_a")
    Tables.lineitem(iso, d).select(col("l_orderkey"), col("l_extendedprice"))
      .createOrReplaceTempView("graft_p44_b")
    iso.sql("CREATE TABLE gseg_dml.dml.a USING gseg " +
      "PARTITIONED BY (truncate(1000, o_orderkey)) " +
      "AS SELECT o_orderkey, o_totalprice FROM graft_p44_a")
    iso.sql("CREATE TABLE gseg_dml.dml.b USING gseg " +
      "PARTITIONED BY (truncate(1000, l_orderkey)) " +
      "AS SELECT l_orderkey, l_extendedprice FROM graft_p44_b")
    def joined = {
      val a = iso.table("gseg_dml.dml.a")
      val b = iso.table("gseg_dml.dml.b")
      a.join(b, a("o_orderkey") === b("l_orderkey"))
    }
    def shuffleFree: Boolean =
      joined.queryExecution.executedPlan.collectFirst {
        case m: org.apache.spark.sql.execution.joins.SortMergeJoinExec => m
      }.exists(_.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty)
    val preDml = shuffleFree
    iso.sql("DELETE FROM gseg_dml.dml.a WHERE o_orderkey % 40 = 7")
    val postDml = shuffleFree
    val row = joined
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_price"))
      .head()
    Seq((row.getLong(0), row.getDouble(1), preDml, postDml))
      .toDF("n_rows", "sum_price", "spj_shuffle_free", "spj_after_dml")
  }

  /** MERGE-ON-READ UPDATE [S45]: `gseg.update.mode=merge_on_read` —
    * the delta decomposition (`representUpdateAsDeleteAndInsert`):
    * old row versions are MASKED by per-segment deletion vectors,
    * new versions APPEND as fresh `dlt-` segments, and no original
    * segment is rewritten. At 100 TB an UPDATE touching 0.1% of each
    * gigabyte segment appends megabytes instead of rewriting
    * gigabytes — the copy-on-write alternative is s22's. Pinned
    * evidence: every pre-UPDATE segment name survives into the new
    * generation (`segments_preserved`) and the new versions live in
    * appended files (`updates_appended`, counter). The oracle
    * recomputes the post-UPDATE aggregate relationally. */
  def s45DsvMorUpdate(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml45")
    import iso.implicits._
    iso.sql("CREATE TABLE gseg_dml.dml.t (k BIGINT, price DOUBLE) " +
      "USING gseg TBLPROPERTIES('gseg.update.mode'='merge_on_read')")
    Tables.orders(iso, d)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
      .repartition(8).writeTo("gseg_dml.dml.t").append()
    val dir = s"$wh/dml/t"
    val before = graft.sources.SegManifest.read(dir).get._2.toSet
    graft.Counters.drain()
    iso.sql("UPDATE gseg_dml.dml.t SET price = price + 1.0 " +
      "WHERE k % 10 = 3")
    val c = graft.Counters.drain()
    val after = graft.sources.SegManifest.read(dir).get._2.toSet
    val preserved = before.subsetOf(after)
    val appended = c.getOrElse("gseg_dv_appended_files", 0L) > 0 &&
      (after -- before).forall(_.startsWith("dlt-"))
    val r = iso.table("gseg_dml.dml.t")
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("price"))).cast(DoubleType).as("sum_price"))
      .head()
    Seq((r.getLong(0), r.getDouble(1), preserved, appended))
      .toDF("n_rows", "sum_price", "segments_preserved",
        "updates_appended")
  }

  /** ZERO-COPY CLONE [S46]: `CALL clone` hard-links the live
    * generation into a NEW independent table — one inode op per file,
    * zero data movement (Delta's SHALLOW CLONE, hard-link flavor).
    * Shared bytes are safe because segments are IMMUTABLE (every gseg
    * mutation writes new names) and vacuum only unlinks its own
    * directory's names. Pinned evidence: every cloned file is a LINK
    * (`all_linked` — the procedure's own linked/copied split), and a
    * DELETE on the clone leaves the SOURCE untouched
    * (`source_intact`) — the aggregate over the post-DELETE CLONE is
    * what the oracle recomputes. */
  def s46DsvClone(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml46")
    import iso.implicits._
    iso.sql("CREATE TABLE gseg_dml.dml.src (k BIGINT, price DOUBLE) " +
      "USING gseg")
    Tables.orders(iso, d)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
      .repartition(6).writeTo("gseg_dml.dml.src").append()
    val srcCount = iso.table("gseg_dml.dml.src").count()
    val r0 = iso.sql("CALL gseg_dml.clone('dml.src', 'dml.dst')").head()
    val allLinked = r0.getLong(4) == r0.getLong(3) && r0.getLong(5) == 0L
    iso.sql("DELETE FROM gseg_dml.dml.dst WHERE k % 10 = 3")
    val sourceIntact =
      iso.table("gseg_dml.dml.src").count() == srcCount
    val r = iso.table("gseg_dml.dml.dst")
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("price"))).cast(DoubleType).as("sum_price"))
      .head()
    Seq((r.getLong(0), r.getDouble(1), allLinked, sourceIntact))
      .toDF("n_rows", "sum_price", "all_linked", "source_intact")
  }

  /** TYPE WIDENING [S47]: ALTER COLUMN across the three safe
    * families — INT→BIGINT (r15), FLOAT→DOUBLE and
    * DECIMAL(p,s)→DECIMAL(p+k,s) (v6) — as PURE METADATA: no segment
    * is rewritten at ALTER time (`widen_metadata_only` pins the
    * manifest's file set unchanged across both ALTERs), old files'
    * float/decimal(9,2) blocks promote at the decode seam, and a
    * post-widen copy-on-write DELETE rewrites mixed-generation files
    * under the CURRENT types. The price column carries dyadic
    * quarters (k%16/4 — exact in float, double and every sum order),
    * so the cross-type aggregate is bit-reproducible for the oracle,
    * which recomputes the post-DELETE table relationally. */
  def s47DsvWiden(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml47")
    import iso.implicits._
    iso.sql("CREATE TABLE gseg_dml.dml.t " +
      "(k BIGINT, price FLOAT, amt DECIMAL(9,2)) USING gseg")
    val ord = Tables.orders(iso, d)
    def quarters(c: Column): Column = (c % 16).cast(DoubleType) / lit(4.0)
    // gen 1: FLOAT + DECIMAL(9,2) storage
    ord.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").as("k"),
        quarters(col("o_orderkey")).cast("float").as("price"),
        col("o_totalprice").cast("decimal(9,2)").as("amt"))
      .repartition(4).writeTo("gseg_dml.dml.t").append()
    val dir = s"$wh/dml/t"
    val before = graft.sources.SegManifest.read(dir).get._2.toSet
    iso.sql("ALTER TABLE gseg_dml.dml.t ALTER COLUMN price TYPE DOUBLE")
    iso.sql(
      "ALTER TABLE gseg_dml.dml.t ALTER COLUMN amt TYPE DECIMAL(14,2)")
    val metadataOnly =
      graft.sources.SegManifest.read(dir).get._2.toSet == before
    val sch = iso.table("gseg_dml.dml.t").schema
    val widened = sch("price").dataType == DoubleType &&
      sch("amt").dataType ==
        org.apache.spark.sql.types.DecimalType(14, 2)
    // gen 2: DOUBLE + DECIMAL(14,2) storage (same values per formula;
    // the 9,2→14,2 casts agree — same scale, in-range)
    ord.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey").as("k"),
        quarters(col("o_orderkey")).as("price"),
        col("o_totalprice").cast("decimal(14,2)").as("amt"))
      .repartition(4).writeTo("gseg_dml.dml.t").append()
    // DML across the widen boundary: rewritten files re-encode the
    // pre-widen floats/decimals under the current wider types
    iso.sql("DELETE FROM gseg_dml.dml.t WHERE k % 10 = 3")
    val r = iso.table("gseg_dml.dml.t")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("price")).as("sum_price"),
        sum(col("amt")).cast(DoubleType).as("sum_amt"),
        min(col("price")).as("min_price"),
        max(col("amt")).cast(DoubleType).as("max_amt"))
      .head()
    Seq((r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
      r.getDouble(4), metadataOnly, widened))
      .toDF("n_rows", "sum_price", "sum_amt", "min_price", "max_amt",
        "widen_metadata_only", "schema_widened")
  }

  /** NAMED SNAPSHOT TAGS [S48]: `CALL tag` pins the pre-DELETE
    * generation by NAME — a retention floor vacuum honors (the
    * keep_last=1 pass here would otherwise reclaim exactly those
    * files) and a `VERSION AS OF '<tag>'` target. The aggregate runs
    * over the TAGGED snapshot after the DELETE + vacuum, so the
    * oracle recomputing the FULL table proves the pin held: without
    * it the files would be gone and the read would fail loudly.
    * `tag_survived_vacuum` pins the tagged file set on disk,
    * `live_differs` that the live table really moved on. */
  def s48DsvTag(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml48")
    import iso.implicits._
    iso.sql("CREATE TABLE gseg_dml.dml.t (k BIGINT, price DOUBLE) " +
      "USING gseg")
    Tables.orders(iso, d)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
      .repartition(6).writeTo("gseg_dml.dml.t").append()
    val dir = s"$wh/dml/t"
    iso.sql("CALL gseg_dml.tag('dml.t', 'pre-delete')") // live gen
    val tagged = graft.sources.SegManifest.read(dir).get._2
    iso.sql("DELETE FROM gseg_dml.dml.t WHERE k % 10 = 3")
    iso.sql("CALL gseg_dml.vacuum('dml.t', keep_last => 1)")
    val survived = tagged.forall(n => java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, n)))
    val asOf =
      iso.sql("SELECT * FROM gseg_dml.dml.t VERSION AS OF 'pre-delete'")
    val liveDiffers = iso.table("gseg_dml.dml.t").count() < asOf.count()
    val r = asOf
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("price"))).cast(DoubleType).as("sum_price"))
      .head()
    Seq((r.getLong(0), r.getDouble(1), survived, liveDiffers))
      .toDF("n_rows", "sum_price", "tag_survived_vacuum", "live_differs")
  }

  /** Z-ORDER DECLARED CLUSTERING [S49]: `CALL compact(cluster_by =>
    * 'zorder(k1,k2)')` re-lays the table along the Morton curve
    * (one global range shuffle), so zone maps on BOTH raw columns
    * come out tight and a predicate on EITHER dimension file-prunes —
    * at 100 TB the layout lever for two-dimensional scans, where a
    * single-column sort leaves the second dimension spread across
    * every file. `dim1_pruned`/`dim2_pruned` counter-pin that each
    * single-dimension aggregate actually skipped files; the oracle
    * recomputes both aggregates relationally. */
  def s49DsvZorder(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml49")
    import iso.implicits._
    iso.sql("CREATE TABLE gseg_dml.dml.t (k1 BIGINT, k2 BIGINT, " +
      "price DOUBLE) USING gseg")
    Tables.orders(iso, d)
      .select((col("o_orderkey") % 97).as("k1"),
        (col("o_custkey") % 89).as("k2"),
        col("o_totalprice").as("price"))
      .repartition(8).writeTo("gseg_dml.dml.t").append()
    iso.sql(
      "CALL gseg_dml.compact('dml.t', 16, cluster_by => 'zorder(k1,k2)')")
    def agg1(f: Column): (Long, Double, Long) = {
      graft.Counters.drain()
      val r = iso.table("gseg_dml.dml.t").filter(f)
        .agg(count(lit(1)), sum(dec(col("price"))).cast(DoubleType))
        .head()
      (r.getLong(0), r.getDouble(1),
        graft.Counters.drain().getOrElse("gseg_files_skipped", 0L))
    }
    val (n1, sum1, skip1) = agg1(col("k1") === 7)
    val (n2, sum2, skip2) = agg1(col("k2") >= 10 && col("k2") <= 12)
    Seq((n1, sum1, n2, sum2, skip1 > 0, skip2 > 0))
      .toDF("n1", "sum1", "n2", "sum2", "dim1_pruned", "dim2_pruned")
  }

  /** BINARY COLUMNS [S50]: opaque payloads (tag 9, v6) as first-class
    * gseg columns — the multimodal/LLM-pipeline shape where media
    * bytes live IN the table format next to their metadata. No zone
    * stats (byte order over opaque payloads prunes nothing), but NDV
    * sketches and copy-on-write DML work unchanged: the DELETE here
    * rewrites files whose binary blocks re-encode byte-identically,
    * and the aggregate (payload byte volume + exact distinct payload
    * count) is recomputed by the oracle from the raw text. */
  def s50DsvBinary(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml50")
    iso.sql("CREATE TABLE gseg_dml.dml.t " +
      "(doc_id BIGINT, lang STRING, payload BINARY) USING gseg")
    Tables.documents(iso, d)
      .select(col("doc_id"), col("lang"),
        encode(col("text"), "UTF-8").as("payload"))
      .repartition(4).writeTo("gseg_dml.dml.t").append()
    iso.sql("DELETE FROM gseg_dml.dml.t WHERE doc_id % 7 = 3")
    iso.table("gseg_dml.dml.t")
      .agg(count(lit(1)).as("n_rows"),
        sum(length(col("payload")).cast(LongType)).as("sum_bytes"),
        countDistinct(col("payload")).as("n_distinct_payloads"),
        countDistinct(col("lang")).as("n_langs"))
  }

  /** MEDIA THROUGH THE TABLE FORMAT [S51]: the multimodal pipeline's
    * storage story end-to-end — deterministic media payloads (magic
    * prefix + UTF-8 body, the mm_format_detect generator) PERSISTED
    * as a gseg BINARY column, masked by a merge-on-read DELETE
    * (vectors hide binary rows without touching their bytes), then
    * format-sniffed and byte-accounted from the masked read. The
    * oracle recomputes the per-format tally from the raw documents —
    * so payload bytes provably survive the write/mask/read loop
    * byte-exactly (a single corrupted byte flips a format class or a
    * byte total). */
  def s51DsvMedia(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml51")
    val idx = expr("try_cast(substring(source, 4) AS INT)")
    val magicHex = when(pmod(idx, lit(3)) === 0, "FFD8FFE0") // JPEG
      .when(pmod(idx, lit(3)) === 1, "89504E47")             // PNG
      .otherwise("52494646")                                 // RIFF
    iso.sql("CREATE TABLE gseg_dml.dml.media " +
      "(doc_id BIGINT, source STRING, payload BINARY) USING gseg " +
      "TBLPROPERTIES('gseg.delete.mode'='merge_on_read')")
    Tables.documents(iso, d)
      .select(col("doc_id"), col("source"),
        concat(unhex(magicHex), encode(col("text"), "UTF-8"))
          .as("payload"))
      .repartition(4).writeTo("gseg_dml.dml.media").append()
    iso.sql("DELETE FROM gseg_dml.dml.media WHERE doc_id % 5 = 2")
    val head = hex(substring(col("payload"), 1, 4))
    iso.table("gseg_dml.dml.media")
      .select(when(head === "FFD8FFE0", "jpeg")
          .when(head === "89504E47", "png")
          .when(head === "52494646", "riff")
          .otherwise("unknown").as("detected_fmt"),
        length(col("payload")).cast(LongType).as("n_bytes"))
      .groupBy(col("detected_fmt"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("n_bytes")).as("total_bytes"))
  }

  /** EMBEDDINGS IN THE TABLE FORMAT [S52]: float-vector columns
    * (`array<float>`, tag 10) as first-class gseg data — the
    * vector-lakehouse shape where embeddings live NEXT TO their ids
    * and labels under the same snapshots, DML and time travel as
    * everything else. A merge-on-read DELETE masks vector rows
    * positionally (the embedding bytes are never rewritten), and the
    * exact brute-force cosine top-k — the SAME primitive-array kernel
    * and DuckDB oracle as `sim_cosine_topk` — runs over the masked
    * gseg read: every score, neighbor set and rank must match the
    * oracle's recomputation from the filtered parquet, so vector
    * bytes provably survive the write/mask/read loop bit-exactly. */
  def s52DsvEmbeddings(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml52")
    iso.sql("CREATE TABLE gseg_dml.dml.vec " +
      "(vec_id BIGINT, embedding ARRAY<FLOAT>, label INT) USING gseg " +
      "TBLPROPERTIES('gseg.delete.mode'='merge_on_read')")
    Tables.embeddings(iso, d)
      .select(col("vec_id"), col("embedding"), col("label"))
      .repartition(4).writeTo("gseg_dml.dml.vec").append()
    iso.sql("DELETE FROM gseg_dml.dml.vec WHERE vec_id % 10 = 7")
    val vecs = iso.table("gseg_dml.dml.vec")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
    graft.functions.Similarity.cosineTopKOf(iso, vecs, 20, 5)
  }

  /** DECIMAL(38) WEI ACCOUNTING [S53]: the reference's own domain —
    * exact integer sums at 8.4e25 magnitude — through the table
    * format's int128 decimal (tag 11, v7). Gen 1 stores DECIMAL(18,0)
    * long blocks; `ALTER COLUMN ... TYPE DECIMAL(38,0)` crosses the
    * long/int128 tag boundary as PURE METADATA
    * (`widen_metadata_only` pins the manifest file set unchanged);
    * gen 2 appends wei-scale values (key × 10^18 + custkey — needs
    * ~24 digits, unrepresentable in double OR long); a copy-on-write
    * DELETE then rewrites mixed-tag files under the current type.
    * SUM/MIN/MAX are emitted as exact STRINGS — the oracle recomputes
    * them in DuckDB's HUGEINT-backed DECIMAL(38,0), where a single
    * lost low digit would hash-mismatch. `wide_pruned` pins that the
    * int128 string-slot zone stats actually file-prune a predicate
    * only gen-2 files can match. */
  def s53DsvDecimal38(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml53")
    import iso.implicits._
    iso.sql("CREATE TABLE gseg_dml.dml.t (k BIGINT, wei DECIMAL(18,0)) " +
      "USING gseg")
    val ord = Tables.orders(iso, d)
    // gen 1: custkey-sized values, exact in the tag-8 long backing
    ord.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").as("k"),
        col("o_custkey").cast("decimal(18,0)").as("wei"))
      .repartition(4).writeTo("gseg_dml.dml.t").append()
    val dir = s"$wh/dml/t"
    val before = graft.sources.SegManifest.read(dir).get._2.toSet
    iso.sql("ALTER TABLE gseg_dml.dml.t ALTER COLUMN wei TYPE DECIMAL(38,0)")
    val metadataOnly =
      graft.sources.SegManifest.read(dir).get._2.toSet == before &&
        iso.table("gseg_dml.dml.t").schema("wei").dataType ==
          org.apache.spark.sql.types.DecimalType(38, 0)
    // gen 2: wei scale — k × 10^18 + custkey (int128 territory)
    ord.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey").as("k"),
        (col("o_orderkey").cast("decimal(38,0)") *
          lit("1000000000000000000").cast("decimal(38,0)") +
          col("o_custkey").cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("wei"))
      .repartition(4).writeTo("gseg_dml.dml.t").append()
    // copy-on-write DML across the tag boundary
    iso.sql("DELETE FROM gseg_dml.dml.t WHERE k % 10 = 3")
    // int128 zone maps file-prune: only gen-2 files can hold 10^18+
    graft.Counters.drain()
    val nWide = iso.table("gseg_dml.dml.t")
      .filter(col("wei") >= lit("1000000000000000000").cast("decimal(38,0)"))
      .count()
    val widePruned =
      graft.Counters.drain().getOrElse("gseg_files_skipped", 0L) > 0
    val r = iso.table("gseg_dml.dml.t")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("wei")).cast(StringType).as("sum_wei"),
        min(col("wei")).cast(StringType).as("min_wei"),
        max(col("wei")).cast(StringType).as("max_wei"))
      .head()
    Seq((r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
      nWide, metadataOnly, widePruned))
      .toDF("n_rows", "sum_wei", "min_wei", "max_wei", "n_wide",
        "widen_metadata_only", "wide_pruned")
  }

  /** WRITABLE BRANCHES / WAP [S54]: `CALL branch` forks a writable
    * ref at the live generation (one sidecar line — zero data
    * movement at any table size); with `spark.gseg.wap.branch` set,
    * writes land on the branch while MAIN stays BYTE-identical
    * (`main_untouched_during_wap` pins the manifest bytes); the
    * staged data audits through `VERSION AS OF 'wap'`
    * (`audit_saw_all`); `CALL fast_forward` publishes with ONE
    * pointer swap (`published_one_swap`); `CALL history` labels the
    * branch head (`history_labels_branch`). A SECOND cycle then goes
    * NON-fast-forward: main takes a foreign append mid-audit,
    * `fast_forward` refuses, and `CALL rebase` re-applies the staged
    * branch delta onto the advanced live under file-grain lost-update
    * validation (`rebase_publishes_both` — the publish carries both
    * sides' changes). The final aggregate runs over the PUBLISHED
    * table, so the oracle recomputing the full relational result
    * proves the fork/stage/rebase/publish cycles lost and duplicated
    * nothing. */
  def s54DsvBranchWap(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml54")
    import iso.implicits._
    iso.sql("CREATE TABLE gseg_dml.dml.t (k BIGINT, price DOUBLE) " +
      "USING gseg")
    val ord = Tables.orders(iso, d)
    ord.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
      .repartition(4).writeTo("gseg_dml.dml.t").append()
    iso.sql("CALL gseg_dml.branch('dml.t', 'wap')")
    val manifest = java.nio.file.Paths.get(s"$wh/dml/t", ".manifest")
    val mainBytes = java.nio.file.Files.readAllBytes(manifest)
    // WAP staging: the odd half lands on the branch AND a row-level
    // DELETE runs branch-scoped (its rewrite scan reads the branch
    // head; its commit advances the ref) — main bytes untouched
    // through BOTH; plain in-session reads follow the branch (the
    // audit surface)
    iso.conf.set(graft.sources.SegManifest.WapBranchConf, "wap")
    val (untouched, auditRows) = try {
      ord.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
        .repartition(4).writeTo("gseg_dml.dml.t").append()
      iso.sql("DELETE FROM gseg_dml.dml.t WHERE k % 10 = 3")
      (java.nio.file.Files.readAllBytes(manifest).sameElements(mainBytes),
        iso.table("gseg_dml.dml.t").count())
    } finally iso.conf.unset(graft.sources.SegManifest.WapBranchConf)
    val ff = iso.sql("CALL gseg_dml.fast_forward('dml.t', 'wap')").head()
    val published = ff.getLong(2) < ff.getLong(3) &&
      graft.sources.SegManifest.read(s"$wh/dml/t").get._1 == ff.getLong(3)
    val histOk = iso.sql("CALL gseg_dml.history('dml.t')").collect()
      .exists(r => r.getLong(0) == ff.getLong(3) &&
        r.getString(6).contains("wap(branch)"))
    val n1 = iso.table("gseg_dml.dml.t").count() // cycle-1 published
    // SECOND WAP CYCLE, NON-fast-forward (r17 verdict #4): a
    // branch-scoped DELETE stages, then MAIN takes a foreign append
    // MID-audit — fast_forward refuses (ancestry witness), CALL
    // rebase re-applies the staged file delta onto the advanced live
    // under the DML's file-grain lost-update validation, and the
    // publish carries BOTH sides' changes: the branch's %10=6 class
    // gone, main's re-appended %10=3 class present.
    iso.conf.set(graft.sources.SegManifest.WapBranchConf, "wap")
    try iso.sql("DELETE FROM gseg_dml.dml.t WHERE k % 10 = 6")
    finally iso.conf.unset(graft.sources.SegManifest.WapBranchConf)
    ord.filter(col("o_orderkey") % 10 === 3) // foreign main committer
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
      .repartition(2).writeTo("gseg_dml.dml.t").append()
    val ffRefused = scala.util.Try(iso.sql(
      "CALL gseg_dml.fast_forward('dml.t', 'wap')").collect()).isFailure
    val rb = iso.sql("CALL gseg_dml.rebase('dml.t', 'wap')").head()
    val ff2 = iso.sql("CALL gseg_dml.fast_forward('dml.t', 'wap')").head()
    val t = iso.table("gseg_dml.dml.t")
    val rebasedBoth = ffRefused &&
      rb.getLong(3) > rb.getLong(2) && // base re-pointed at live
      graft.sources.SegManifest.read(s"$wh/dml/t").get._1 ==
        ff2.getLong(3) &&
      t.filter(col("k") % 10 === 6).count() == 0 && // branch change in
      t.filter(col("k") % 10 === 3).count() > 0     // main change in
    val r = t
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("price"))).cast(DoubleType).as("sum_price"))
      .head()
    Seq((r.getLong(0), r.getDouble(1), untouched,
      auditRows == n1, published, histOk, rebasedBoth))
      .toDF("n_rows", "sum_price", "main_untouched_during_wap",
        "audit_saw_all", "published_one_swap", "history_labels_branch",
        "rebase_publishes_both")
  }

  /** PARTITION-SPEC EVOLUTION [S55]: `CALL set_clustering` changes
    * the declared clustering as PURE METADATA (`spec_change_metadata
    * _only` pins the manifest file set unchanged) — new segments lay
    * out under the new spec, old segments are untouched and each file
    * PRUNES UNDER THE LAYOUT IT WAS WRITTEN WITH (per-file zone
    * evidence, never a table-level assumption): `old_layout_pruned` /
    * `new_layout_pruned` counter-pin that a predicate on the OLD key
    * and one on the NEW key both file-prune the mixed table. `CALL
    * compact` then migrates every file to the current spec —
    * `compact_migrates` pins that the post-compact scan recovers the
    * new identity layout WHOLE (KeyGroupedPartitioning — the
    * SPJ-ready state a mixed spec can't reach). At 100 TB: re-keying
    * a table costs one sidecar write, not a table rewrite. */
  def s55DsvSpecEvolution(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml55")
    import iso.implicits._
    iso.sql("CREATE TABLE gseg_dml.dml.t (k1 BIGINT, k2 BIGINT, " +
      "price DOUBLE) USING gseg PARTITIONED BY (k1)")
    val ord = Tables.orders(iso, d)
    def half(even: Boolean) = ord
      .filter(col("o_orderkey") % 2 === (if (even) 0 else 1))
      .select((col("o_orderkey") % 13).as("k1"),
        (col("o_custkey") % 11).as("k2"),
        col("o_totalprice").as("price"))
    half(even = true).writeTo("gseg_dml.dml.t").append()
    val dir = s"$wh/dml/t"
    val before = graft.sources.SegManifest.read(dir).get._2.toSet
    iso.sql("CALL gseg_dml.set_clustering('dml.t', 'k2')")
    val metadataOnly =
      graft.sources.SegManifest.read(dir).get._2.toSet == before
    half(even = false).writeTo("gseg_dml.dml.t").append()
    def agg1(f: Column): (Long, Double, Map[String, Long]) = {
      graft.Counters.drain()
      val r = iso.table("gseg_dml.dml.t").filter(f)
        .agg(count(lit(1)), sum(dec(col("price"))).cast(DoubleType))
        .head()
      (r.getLong(0), r.getDouble(1), graft.Counters.drain())
    }
    val (n1, sum1, c1) = agg1(col("k1") === 5)
    val (n2, sum2, c2) = agg1(col("k2") === 7)
    // INCREMENTAL migration: only the old-layout files rewrite;
    // conforming files stay byte-shared by name — at 100 TB the
    // difference between a maintenance pass over the stragglers and
    // a rolling whole-table rewrite
    val pre = graft.sources.SegManifest.read(dir).get._2.toSet
    val conforming = pre.filter(n => graft.sources.SegSource
      .fileConformsTo(Seq("k2"), s"$dir/$n"))
    iso.sql("CALL gseg_dml.compact('dml.t', 8, only_mismatched => true)")
    val post = graft.sources.SegManifest.read(dir).get._2.toSet
    val incremental = conforming.nonEmpty &&
      conforming.subsetOf(post) &&
      (pre -- conforming).forall(n => !post.contains(n))
    val (n3, _, c3) = agg1(col("k2") === 7)
    Seq((n1, sum1, n2, sum2, metadataOnly,
      c1.getOrElse("gseg_files_skipped", 0L) > 0,
      c2.getOrElse("gseg_files_skipped", 0L) > 0,
      incremental,
      n3 == n2 && c3.getOrElse("gseg_key_groups", 0L) > 0))
      .toDF("n1", "sum1", "n2", "sum2", "spec_change_metadata_only",
        "old_layout_pruned", "new_layout_pruned",
        "migration_incremental", "compact_migrates")
  }

  /** TIMESTAMP_NTZ in the table format [S56]: a tag-12 wall-clock
    * column lives the full lifecycle — CREATE, two range-laid
    * appends, copy-on-write DELETE across it, zone-map file pruning
    * on an NTZ window (`ntz_pruned` counter evidence), and the type's
    * defining claim pinned in-engine: the SAME aggregate under UTC
    * and a +14 h session zone returns byte-identical wall-clock
    * strings (`tz_invariant`) — NTZ distinguishes itself by VALUE
    * semantics, so the zone-less micros must never bend with the
    * session. Oracle = DuckDB TIMESTAMP (itself zone-less) over the
    * same derivation. */
  def s56DsvNtz(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml56")
    import iso.implicits._
    iso.sql("CREATE TABLE gseg_dml.dml.t (k BIGINT, ts TIMESTAMP_NTZ) " +
      "USING gseg")
    val ord = Tables.orders(iso, d)
      .select(col("o_orderkey").as("k"),
        expr("timestampadd(HOUR, CAST(o_orderkey % 24 AS INT), " +
          "CAST(o_orderdate AS TIMESTAMP_NTZ))").as("ts"))
    require(iso.table("gseg_dml.dml.t").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    // two generations, each range-laid on ts so files carry tight
    // tag-12 zone maps (disjoint micros ranges per file)
    val cut = lit(java.time.LocalDateTime.parse("1995-01-01T00:00:00"))
    ord.filter(col("ts") < cut).repartitionByRange(4, col("ts"))
      .writeTo("gseg_dml.dml.t").append()
    ord.filter(col("ts") >= cut).repartitionByRange(4, col("ts"))
      .writeTo("gseg_dml.dml.t").append()
    // copy-on-write DML across the NTZ column
    iso.sql("DELETE FROM gseg_dml.dml.t WHERE k % 10 = 3")
    // zone maps prune files for a one-month wall-clock window
    graft.Counters.drain()
    val nWin = iso.table("gseg_dml.dml.t")
      .filter(col("ts") >=
          lit(java.time.LocalDateTime.parse("1995-06-01T00:00:00")) &&
        col("ts") <
          lit(java.time.LocalDateTime.parse("1995-07-01T00:00:00")))
      .count()
    val pruned = graft.Counters.drain()
      .getOrElse("gseg_files_skipped", 0L) > 0
    def summary(): Seq[Any] = {
      val r = iso.table("gseg_dml.dml.t")
        .agg(count(lit(1)).as("n_rows"),
          min(col("ts")).cast(StringType).as("min_ts"),
          max(col("ts")).cast(StringType).as("max_ts"),
          sum(hour(col("ts")).cast(LongType)).as("sum_hour"))
        .head()
      Seq(r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))
    }
    val underUtc = summary()
    // the SESSION ZONE must not bend stored wall clocks: repeat the
    // read under a +14 h zone, byte-compare
    val tzWas = iso.conf.get("spark.sql.session.timeZone")
    val underFarZone =
      try {
        iso.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati")
        summary()
      } finally iso.conf.set("spark.sql.session.timeZone", tzWas)
    val invariant = underUtc == underFarZone
    Seq((underUtc(0).asInstanceOf[Long], underUtc(1).asInstanceOf[String],
      underUtc(2).asInstanceOf[String], underUtc(3).asInstanceOf[Long],
      nWin, pruned, invariant))
      .toDF("n_rows", "min_ts", "max_ts", "sum_hour", "n_win",
        "ntz_pruned", "tz_invariant")
  }

  /** METADATA TABLES [S57]: `SELECT * FROM cat.ns.t.files` /
    * `.snapshots` / `.refs` — the Iceberg-style introspection
    * surface. The row's invariants hold the views to the TRUTH they
    * claim: Σ(row_count − deleted_rows) over `files` equals the
    * table's COUNT(*) (which the oracle recomputes relationally), a
    * mor DELETE is visible as deletion-vector masks (`dv_visible`),
    * `snapshots` marks exactly the max retained generation live, and
    * `refs` lists the branch and the tag with their kinds. */
  def s57DsvMetadataTables(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml57")
    import iso.implicits._
    iso.sql("CREATE TABLE gseg_dml.dml.t (k BIGINT, price DOUBLE) " +
      "USING gseg TBLPROPERTIES('gseg.delete.mode'='merge_on_read')")
    Tables.orders(iso, d).filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
      .repartition(4).writeTo("gseg_dml.dml.t").append()
    iso.sql("DELETE FROM gseg_dml.dml.t WHERE k % 10 = 4") // dv masks
    iso.sql("CALL gseg_dml.tag('dml.t', 'audit')")
    iso.sql("CALL gseg_dml.branch('dml.t', 'wap')")
    val files = iso.table("gseg_dml.dml.t.files")
    val fr = files.agg(
      sum(col("row_count") - col("deleted_rows")).as("n_live"),
      count(lit(1)).as("n_files"),
      sum(when(col("has_dv") && col("deleted_rows") > 0, 1L)
        .otherwise(0L)).as("n_masked"),
      min(col("bytes")).as("min_bytes")).head()
    val manifestFiles = graft.sources.SegManifest
      .read(s"$wh/dml/t").get._2.size.toLong
    val r = iso.table("gseg_dml.dml.t")
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("price"))).cast(DoubleType).as("sum_price")).head()
    val snaps = iso.table("gseg_dml.dml.t.snapshots")
      .collect().map(x => (x.getLong(0), x.getLong(2), x.getBoolean(3)))
    val snapshotsOrdered = snaps.nonEmpty &&
      snaps.count(_._3) == 1 &&
      snaps.filter(_._3).head._1 == snaps.map(_._1).max &&
      snaps.filter(_._3).head._2 == manifestFiles
    val refs = iso.table("gseg_dml.dml.t.refs")
      .collect().map(x => (x.getString(0), x.getString(1))).toSet
    val filesCoverLive = fr.getLong(0) == r.getLong(0) &&
      fr.getLong(1) == manifestFiles && fr.getLong(3) > 0
    Seq((r.getLong(0), r.getDouble(1), filesCoverLive,
      fr.getLong(2) > 0, snapshotsOrdered,
      refs == Set(("wap", "branch"), ("audit", "tag"))))
      .toDF("n_rows", "sum_price", "files_cover_live", "dv_visible",
        "snapshots_ordered", "refs_visible")
  }

  def s33DsvRenameColumn(s: SparkSession, d: String): DataFrame = {
    val (iso, wh) = dmlSession(s, d, "dml33")
    val ord = Tables.orders(iso, d)
    graft.sources.SegSource.write(
      ord.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("qty"))
        .repartitionByRange(8, col("k")),
      s"$wh/dml/t")
    iso.table("gseg_dml.dml.t").count() // migrate: sidecar + manifest
    iso.sql("ALTER TABLE gseg_dml.dml.t RENAME COLUMN qty TO amount")
    ord.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey").as("k"),
        col("o_totalprice").as("amount"))
      .createOrReplaceTempView("graft_ren_src")
    iso.sql(
      "INSERT INTO gseg_dml.dml.t SELECT k, amount FROM graft_ren_src")
    iso.table("gseg_dml.dml.t")
      .filter(col("amount") > lit(1000.0))
      .groupBy((col("k") % 3).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("amount"))).cast(DoubleType).as("sum_amount"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("bucket"))
  }
}
