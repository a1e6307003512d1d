package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, MapType, StringType}

import graft.sources.Tables

/** Relational operator surface (SURVEY.md §2.4: projection/filter, joins,
  * aggregation, grouping sets, window functions, sort/limit, set ops,
  * scalar functions). Each public method is one declared query of
  * FIXTURES.md §3, written DataFrame-first so Catalyst plans pushdown /
  * pruning / join selection; the DuckDB-equivalent SQL lives in
  * [[graft.SparkEntry.oracleSql]].
  *
  * Scale notes are attached per query — the small-SF run verifies
  * correctness; the plan shape (broadcasts, partial aggs, pushed filters)
  * is what must survive 100 TB.
  */
object Relational {

  /** Scan + projection + column arithmetic + cast. Catalyst prunes the
    * parquet scan to the 6 referenced columns (ReadSchema). */
  def scanProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).select(
      col("l_orderkey"),
      col("l_linenumber"),
      floor(col("l_quantity")).cast("long").as("qty_int"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_price"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("charged")
    )

  /** Predicates: range on timestamp, equality, LIKE. All three push down
    * to the parquet reader (PushedFilters). */
  def filterQ(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1996-01-01").cast("timestamp")
        && col("l_returnflag") === "R"
        && col("l_linestatus").like("F%"))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate", "l_returnflag")

  /** TPC-H Q1 shape: multi-key hash aggregate with sum/avg/min/max/count.
    * Spark plans partial (map-side) + final HashAggregate — the built-in
    * equivalent of the reference's incremental CountAgg
    * (HotItemAnalysis.java:116-136 add/merge shape). */
  def aggGroup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum("l_quantity").as("sum_qty"),
        // Money sums go through DECIMAL(20,6): double summation is
        // order-dependent (≈1e-6 abs error at 1e8 magnitude), so a plain
        // double sum is not reproducible across partitionings — the
        // decimal intermediate is exact and associative, then cast back.
        sum(col("l_extendedprice").cast("decimal(20,6)")).cast("double").as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(20,6)"))
          .cast("double").as("sum_disc_price"),
        avg("l_quantity").as("avg_qty"),
        min("l_shipdate").as("min_ship"),
        max("l_shipdate").as("max_ship"),
        count(lit(1)).as("count_order")
      )

  /** Exact distinct aggregation (two-phase: partial distinct then count). */
  def aggDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_rows")
      )

  /** HLL sketch count — the pure production form: one pass, no expand,
    * constant-size state. The estimate itself cannot hash-match across
    * engines, so the DECLARED query is [[aggApproxDistinctGated]], which
    * carries the exact twin and emits the error law as data; this form
    * stays the library entry point for real pipelines (where the exact
    * twin is exactly the cost the sketch exists to avoid). */
  def aggApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"))

  /** Gate form of [[aggApproxDistinct]] (declared q_agg_approx_distinct):
    * per group, the exact cardinality plus a boolean asserting the HLL
    * estimate lands within ±3·rsd of it (rsd = 0.05, the builtin
    * default — HLL++'s relative error concentrates at σ ≈ rsd, so 3σ is
    * a deterministic pass on any fixture this engine gates on). The
    * oracle replays the exact side and literal TRUE, so the driver hash
    * now gates the ESTIMATE'S ACCURACY in the correctness record, not
    * only the row count; RelationalSpec keeps the same law as a spec.
    * Exact + sketch ride one aggregate: Catalyst plans the distinct
    * lane two-phase and merges the HLL partial alongside — one scan. */
  def aggApproxDistinctGated(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts_exact"),
        approx_count_distinct(col("l_partkey"), rsd = 0.05).as("ap"))
      .select(col("l_returnflag"), col("n_parts_exact"),
        (abs(col("ap").cast("double") - col("n_parts_exact")) <=
          lit(3 * 0.05) * col("n_parts_exact")).as("within_3rsd"))

  /** ROLLUP over (nation, order year): revenue at (n,y), (n), () levels.
    * Grouping-set nulls are coalesced to sentinel values so the oracle
    * hash is insensitive to NULL-encoding differences. nation (25 rows)
    * broadcasts; customer⋈orders shuffles on the join key. */
  def rollupQ(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .select(col("n_name"), year(col("o_orderdate")).as("o_year"), col("o_totalprice"))
      // two-level: base agg to the (nation, year) grid, rollup re-combines
      // sums of sums — keeps Expand's ×3 off the joined fact rows (see
      // cubeQ for the rationale)
      .groupBy(col("n_name"), col("o_year"))
      .agg(sum(col("o_totalprice").cast("decimal(20,6)")).as("r"),
        count(lit(1)).as("c"))
      .rollup(col("n_name"), col("o_year"))
      .agg(sum("r").cast("double").as("revenue"), sum("c").as("n_orders"))
      .select(
        coalesce(col("n_name"), lit("ALL")).as("grp_nation"),
        coalesce(col("o_year"), lit(-1)).cast("long").as("grp_year"),
        col("revenue"), col("n_orders"))
  }

  /** Multi-way equi-join: customer ⋈ orders ⋈ lineitem, revenue per market
    * segment. customer is the small side at any SF ratio (150:1500:6000)
    * but grows with SF, so no forced broadcast — AQE picks broadcast when
    * the runtime size allows, sort-merge otherwise. */
  def joinInner(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    // no fanout on the probe side: broadcast-hash probes are ~free per
    // row, so a pre-repartition costs a full-table shuffle to win
    // nothing (measured net-negative at sf0.1)
    val l = Tables.lineitem(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(20,6)"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** q_join_inner's semantics on the opt-in BUCKETED fact tables
    * ([[graft.sources.Bucketing.registerFactTables]] must have run):
    * the orders⋈lineitem edge — the shuffle that dominates the raw-
    * parquet plan at scale — is joined FIRST so both bucket-sorted
    * scans feed an exchange-free sort-merge join; the (small) customer
    * side then attaches by broadcast or a probe-side-only shuffle.
    * Identical result to [[joinInner]] (BucketingSpec pins parity and
    * the no-Exchange-under-the-fact-SMJ plan shape). */
  def joinInnerBucketed(spark: SparkSession, dir: String): DataFrame = {
    val o = spark.table(graft.sources.Bucketing.OrdersBkt)
    val l = spark.table(graft.sources.Bucketing.LineitemBkt)
    val c = Tables.customer(spark, dir)
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(20,6)"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** [[aggGroup]] over the bucketed lineitem catalog table — identical
    * answer, different scan. The raw fixture file is a single parquet
    * row group, so the map phase (where the DECIMAL(20,6) partial sums
    * live) runs on ONE task; the bucketed copy scans one task per
    * bucket, parallelizing the decimal partials. This is the shape a
    * deployment reads anyway (many row groups per table), so the twin
    * both proves the layout-independence of the answer and measures the
    * aggregate without the single-file fixture floor (FloorLab's ~0.3 s
    * per decimal sum is a one-task artifact, BENCH_NOTES r3/r9). */
  def aggGroupBucketed(spark: SparkSession, dir: String): DataFrame =
    spark.table(graft.sources.Bucketing.LineitemBkt)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum("l_quantity").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(20,6)")).cast("double").as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(20,6)"))
          .cast("double").as("sum_disc_price"),
        avg("l_quantity").as("avg_qty"),
        min("l_shipdate").as("min_ship"),
        max("l_shipdate").as("max_ship"),
        count(lit(1)).as("count_order")
      )

  /** Left outer join: order count per customer including zero-order
    * customers (count of a null o_orderkey is 0 in both engines). */
  def joinOuter(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        coalesce(sum("o_totalprice"), lit(0.0)).as("total_spent"))
  }

  /** Left-semi (EXISTS) and left-anti (NOT EXISTS), tagged and unioned so
    * one result exercises both join types. */
  def joinSemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).select("o_custkey")
    val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(lit("has_order").as("tag"), col("c_custkey"))
    val noOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(lit("no_order").as("tag"), col("c_custkey"))
    withOrders.unionAll(noOrders)
  }

  /** Theta join: equi key + range predicate (l_quantity < p_size). Planned
    * as an equi-join with the range as a post-join filter — NOT a nested-
    * loop join; survives scale because the equi key carries the shuffle. */
  def joinTheta(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val l = Tables.lineitem(spark, dir)
    l.join(p, l("l_partkey") === p("p_partkey") && l("l_quantity") < p("p_size"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_matches"), sum("l_quantity").as("sum_qty"))
  }

  /** UNION (distinct) / INTERSECT / EXCEPT, each tagged into one result. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val orderCust = Tables.orders(spark, dir).select(col("o_custkey").as("custkey"))
    val richCust = Tables.customer(spark, dir)
      .filter(col("c_acctbal") > 5000).select(col("c_custkey").as("custkey"))
    val u = orderCust.union(richCust).distinct().select(lit("u").as("op"), col("custkey"))
    val i = orderCust.intersect(richCust).select(lit("i").as("op"), col("custkey"))
    val e = richCust.except(orderCust).select(lit("e").as("op"), col("custkey"))
    u.unionAll(i).unionAll(e)
  }

  /** Pivot (long → wide): per-linestatus quantity sums pivoted on the
    * return flag. The pivot VALUES are declared, not discovered —
    * value discovery is an extra distinct scan and a driver round-trip,
    * and at 100 TB the output schema must be a design decision anyway.
    * Deliberately compiled as CASE-gated sums rather than
    * `Dataset.pivot`: the builtin (even with declared values) plans a
    * pre-aggregate on (row key, pivot key) plus a second `pivotfirst`
    * aggregate — TWO exchanges; the gated form is ONE partial+final
    * HashAggregate, identical semantics (parity with the builtin is
    * spec-pinned). l_quantity is integral-valued, so the double sums
    * are order-exact and oracle-stable. */
  def pivotQ(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("l_returnflag") === "A", col("l_quantity"))).as("qty_a"),
        sum(when(col("l_returnflag") === "N", col("l_quantity"))).as("qty_n"),
        sum(when(col("l_returnflag") === "R", col("l_quantity"))).as("qty_r"))

  /** Unpivot / melt (wide → long): the four lineitem measures as
    * (metric, value) rows — the inverse reshape, used by the
    * exact-percentile pipeline internally ([[exactPercentiles]]'s
    * stack) and declared here as a first-class operator. Map-side only:
    * the melt is a Generate (no shuffle, no driver involvement), 4×
    * row multiplication bounded by the projected column count. */
  def unpivotQ(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") < 100)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("double").as("l_quantity"),
        col("l_extendedprice").cast("double").as("l_extendedprice"),
        col("l_discount").cast("double").as("l_discount"),
        col("l_tax").cast("double").as("l_tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "metric", "value")

  /** Window functions: per-customer top-3 orders by totalprice
    * (row_number with deterministic tie-break) + running sum over an
    * explicit rows frame. One shuffle on o_custkey serves both windows. */
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val byPrice = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val byDate = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(byPrice).cast("long").as("rn"),
        sum(col("o_totalprice")).over(byDate).as("running_spent"))
      .filter(col("rn") <= 3)
  }

  /** Analytic window functions beyond ranking: lag/lead offsets, a 3-row
    * moving-average frame, ntile quartiles, and the partition's first
    * value — the offset/frame half of the §2.4 window-function surface
    * (q_window_rank covers ranking + running sums). All five share ONE
    * window ordering (o_orderdate, o_orderkey per customer), so Catalyst
    * plans a single Exchange + Sort + Window operator — adding analytic
    * columns over an existing ordering is free of extra shuffles, which
    * is exactly how a 100 TB feature-engineering pass should stack them.
    * Ordering is total (orderkey is unique per customer), so lag/lead/
    * ntile are deterministic; the frame aggregates evaluate in frame
    * order, so the double arithmetic is reproducible. */
  def windowAnalytic(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val ma3 = w.rowsBetween(-2, Window.currentRow)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
      lag(col("o_totalprice"), 1).over(w).as("prev_price"),
      lead(col("o_totalprice"), 1).over(w).as("next_price"),
      avg(col("o_totalprice")).over(ma3).as("ma3_price"),
      ntile(4).over(w).cast("long").as("quartile"),
      first(col("o_orderkey")).over(run).as("first_order"))
  }

  /** Time-RANGE window frames — the third leg of the window surface:
    * q_window_rank covers ranking/running sums, q_window_analytic
    * offset/ROWS frames, this one VALUE-range frames ("spend in the 30
    * days up to and including this order", the rolling-feature shape of
    * a feature-engineering pass). RANGE frames are peer-inclusive: every
    * row whose order key falls in [cur−29, cur] days joins the frame
    * regardless of physical row order, so the result is deterministic
    * even when a customer places several orders the same day — ROWS
    * frames would be tie-order-dependent there. The order key is epoch
    * days (an explicit integer both engines derive identically from the
    * date); the money sum rides the exact DECIMAL(20,6) intermediate
    * like every other money aggregate here. One Exchange on o_custkey
    * serves both frame aggregates. */
  def windowRange(spark: SparkSession, dir: String, days: Int = 30): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"),
      datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("epoch_day"),
      col("o_totalprice"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("epoch_day"))
      .rangeBetween(-(days - 1), Window.currentRow)
    o.select(col("o_orderkey"), col("o_custkey"),
      sum(col("o_totalprice").cast("decimal(20,6)")).over(w)
        .cast("double").as("sum_30d"),
      count(lit(1)).over(w).cast("long").as("n_30d"))
  }

  /** Column profiling — the data-quality summary a pipeline computes
    * before training: per column, row/null/distinct counts and
    * type-appropriate min/max, as one row per column. Shape (round-9,
    * the codegen-split form [[profileApproxQ]] pioneered): per-type
    * wide count/min/max aggregates — no data-row shuffle, one
    * partial-agg row per scan partition — crossJoined with one
    * `count_distinct` subtree PER COLUMN. A lone count_distinct with
    * no grouping plans as partial-distinct → merge → count, fully
    * codegen'd HashAggregates whose shuffle carries only each
    * partition's distinct values of that single column; the subtrees
    * are independent single-row frames, so their stages execute
    * concurrently. Measured 670 ms vs the melt's 1.3–1.7 s at sf0.1
    * (ProfLab). Multi-column count_distinct in ONE aggregate would
    * instead plan an Expand feeding a sort-based aggregate over
    * |rows|×|cols| tuples — 6× slower — and the melt form
    * ([[profileMeltQ]]) pays struct-explode amplification before its
    * combine. Timestamps profile through their epoch seconds (min/max
    * cast AFTER aggregation — monotone — and distinct counted on the
    * native type; the casts are injective so cardinality agrees with
    * the melt and the oracle). */
  def profileQ(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val num = Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_shipdate")
    val str = Seq("l_returnflag", "l_linestatus")
    def vAggs(ns: Seq[String], lead: Seq[Column]) =
      lead ++ ns.flatMap { n => Seq(
        count(col(n)).as(s"cnt_$n"), min(col(n)).as(s"min_$n"),
        max(col(n)).as(s"max_$n")) }
    def agg1(cs: Seq[Column]) = li.agg(cs.head, cs.tail: _*)
    val wide = agg1(vAggs(num, Seq(count(lit(1)).as("n_rows"))))
      .crossJoin(agg1(vAggs(str, Nil)))
    val withNd = (num ++ str).foldLeft(wide) { (w, n) =>
      w.crossJoin(li.agg(count_distinct(col(n)).as(s"nd_$n")))
    }
    def toNum(n: String, c: Column): Column =
      if (n == "l_shipdate") c.cast("timestamp").cast("double") else c.cast("double")
    def row(n: String, numeric: Boolean) =
      struct(lit(n).as("column_name"), col("n_rows"),
        (col("n_rows") - col(s"cnt_$n")).as("n_nulls"),
        col(s"nd_$n").as("n_distinct"),
        (if (numeric) toNum(n, col(s"min_$n")) else lit(null).cast("double")).as("min_num"),
        (if (numeric) toNum(n, col(s"max_$n")) else lit(null).cast("double")).as("max_num"),
        (if (numeric) lit(null).cast("string") else col(s"min_$n")).as("min_str"),
        (if (numeric) lit(null).cast("string") else col(s"max_$n")).as("max_str"))
    withNd.select(explode(array(
      num.map(n => row(n, numeric = true)) ++
        str.map(n => row(n, numeric = false)): _*)).as("p"))
      .select("p.*")
  }

  /** Melt-shaped exact profile — the alternative [[profileQ]] keeps for
    * WIDE schemas: per-column count_distinct subtrees cost one columnar
    * scan each, so at hundreds of profiled columns the one-scan melt
    * (explode to (column_name, value), hash-aggregate to distinct
    * values with counts — map-side partials collapse low-cardinality
    * columns before the shuffle — then fold per-value rows into
    * per-column stats) amortizes better than N subtree scans. At the
    * declared 6-column profile the split form wins (ProfLab: 670 ms vs
    * 1.3 s at sf0.1); both emit identical rows on non-empty input (the
    * melt emits zero rows on an empty table, the split form — like the
    * SQL oracle — emits one all-null/zero row per column). */
  def profileMeltQ(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.fanout(Tables.lineitem(spark, dir))
    def meltProfile(cols: Seq[(String, Column)], asString: Boolean): DataFrame = {
      val vType = if (asString) "string" else "double"
      val melted = li.select(explode(array(cols.map { case (n, c) =>
        struct(lit(n).as("cn"), c.cast(vType).as("v"))
      }: _*)).as("m")).select(col("m.cn").as("cn"), col("m.v").as("v"))
      val perValue = melted.groupBy(col("cn"), col("v")).agg(count(lit(1)).as("cnt"))
      perValue.groupBy(col("cn")).agg(
        sum(col("cnt")).as("n_rows"),
        coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L)).as("n_nulls"),
        count(col("v")).as("n_distinct"),
        (if (asString) min(lit(null).cast("double")) else min(col("v"))).as("min_num"),
        (if (asString) max(lit(null).cast("double")) else max(col("v"))).as("max_num"),
        (if (asString) min(col("v")) else min(lit(null).cast("string"))).as("min_str"),
        (if (asString) max(col("v")) else max(lit(null).cast("string"))).as("max_str"))
        .select(col("cn").as("column_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_num"), col("max_num"), col("min_str"), col("max_str"))
    }
    meltProfile(Seq(
      ("l_orderkey", col("l_orderkey")),
      ("l_quantity", col("l_quantity")),
      ("l_extendedprice", col("l_extendedprice")),
      ("l_shipdate", col("l_shipdate").cast("timestamp"))), asString = false)
      .unionByName(meltProfile(Seq(
        ("l_returnflag", col("l_returnflag")),
        ("l_linestatus", col("l_linestatus"))), asString = true))
  }

  /** Sketch column profile — the 100 TB form of [[profileQ]], and the
    * profile a pipeline actually runs FIRST on a new corpus: exact
    * row/null counts and min/max plus `approx_count_distinct` (HLL++)
    * per column, reshaped into the same one-row-per-column schema, with
    * NO shuffle of data rows anywhere — every exchange carries one
    * partial-aggregate row per scan partition, where the exact melt
    * ships ~|rows| (column, value) pairs per high-cardinality column.
    *
    * The work is split into FOUR single-row aggregate subtrees (numeric
    * min/max/count · string min/max/count · numeric HLLs · string
    * HLLs) cross-joined at the end, instead of one wide aggregate:
    * HLL++ is an ImperativeAggregate and string min/max has no
    * fixed-width buffer, so EITHER in an aggregate drags every other
    * update in that aggregate out of whole-stage codegen — one wide agg
    * runs all 19 updates per row interpreted (measured 1.7× slower at
    * sf0.1 than this split, where 13 of 19 stay codegen'd). The
    * subtrees scan disjoint-or-overlapping column subsets
    * independently (columnar pruning keeps total bytes ≈ 2× the
    * profiled columns) and their scan stages execute CONCURRENTLY —
    * at any scale the interpreted per-row update cost dominates the
    * extra columnar read. Aggregates run on native column types; casts
    * to the profile's double lanes happen once, post-aggregation.
    * Declared rows-only (HLL is approximate); the ±3·rsd cardinality
    * error and the exactness of every non-distinct stat are bounded in
    * RelationalSpec against the exact melt. */
  def profileApproxQ(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val num = Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_shipdate")
    val str = Seq("l_returnflag", "l_linestatus")
    def vAggs(ns: Seq[String], lead: Seq[Column]) =
      lead ++ ns.flatMap { n => Seq(
        count(col(n)).as(s"cnt_$n"), min(col(n)).as(s"min_$n"),
        max(col(n)).as(s"max_$n")) }
    def hAggs(ns: Seq[String]) = ns.map { n =>
      approx_count_distinct(col(n), rsd = 0.05).as(s"nd_$n") }
    def agg1(cs: Seq[Column]) = li.agg(cs.head, cs.tail: _*)
    val wide = agg1(vAggs(num, Seq(count(lit(1)).as("n_rows"))))
      .crossJoin(agg1(vAggs(str, Nil)))
      .crossJoin(agg1(hAggs(num)))
      .crossJoin(agg1(hAggs(str)))
    // timestamps profile through epoch seconds, like the exact form —
    // cast AFTER aggregation (min/max are monotone under the cast)
    def toNum(n: String, c: Column): Column =
      if (n == "l_shipdate") c.cast("timestamp").cast("double") else c.cast("double")
    def row(n: String, numeric: Boolean) =
      struct(lit(n).as("column_name"), col("n_rows"),
        (col("n_rows") - col(s"cnt_$n")).as("n_nulls"),
        col(s"nd_$n").as("n_distinct"),
        (if (numeric) toNum(n, col(s"min_$n")) else lit(null).cast("double")).as("min_num"),
        (if (numeric) toNum(n, col(s"max_$n")) else lit(null).cast("double")).as("max_num"),
        (if (numeric) lit(null).cast("string") else col(s"min_$n")).as("min_str"),
        (if (numeric) lit(null).cast("string") else col(s"max_$n")).as("max_str"))
    wide.select(explode(array(
      num.map(n => row(n, numeric = true)) ++
        str.map(n => row(n, numeric = false)): _*)).as("p"))
      .select("p.*")
  }

  /** Gate form of [[profileApproxQ]] (declared q_profile_approx): the
    * sketch profile's exact twin ([[profileQ]]) joined per column with
    * the HLL cardinalities, emitting every exact lane under the hash
    * gate plus `nd_ok` = |hll − exact| ≤ 3·rsd·exact (rsd = 0.05, the
    * rsd [[profileApproxQ]] requests). 8 columns → a broadcast join of
    * two 6-row frames; the cost is exact-profile + sketch-profile, and
    * the ORACLE pays the identical exact profile, so the bench ratio
    * stays apples-to-apples. Pure sketch form remains the production
    * entry point. */
  def profileApproxGated(spark: SparkSession, dir: String): DataFrame = {
    val ap = profileApproxQ(spark, dir)
      .select(col("column_name"), col("n_distinct").as("nd_ap"))
    profileQ(spark, dir).join(broadcast(ap), Seq("column_name"))
      .select(col("column_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_num"), col("max_num"),
        col("min_str"), col("max_str"),
        (abs(col("nd_ap").cast("double") - col("n_distinct")) <=
          lit(3 * 0.05) * col("n_distinct")).as("nd_ok"))
  }

  /** Statistical aggregates — correlation, covariance, stddev/variance —
    * the feature-statistics pass a pipeline runs over numeric columns.
    * All four are co-moment aggregates: partials merge associatively, so
    * Catalyst plans the same partial+final HashAggregate as a plain sum
    * (one scan, one shuffle of constant-size moment states). Outputs are
    * kept at magnitudes ≤ ~1e5 (stddev rather than variance for the
    * large-valued price column) so the engines' different partial-merge
    * orders stay far inside the oracle's 1e-6 comparison granularity. */
  def statsAggQ(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        corr(col("l_quantity"), col("l_extendedprice")).as("corr_qty_price"),
        covar_samp(col("l_quantity"), col("l_extendedprice")).as("covar_qty_price"),
        stddev_samp(col("l_quantity")).as("sd_qty"),
        stddev_samp(col("l_extendedprice")).as("sd_price"),
        var_samp(col("l_quantity")).as("var_qty"),
        count(lit(1)).as("n"))

  /** Global sort + limit (TakeOrderedAndProject — per-partition top-K then
    * merge on the driver, no full global sort materialization). */
  def sortLimit(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(10)

  /** Scalar function surface: string (upper/substring/length/replace/
    * concat), date (year/month/dayofmonth), math (abs/floor/pmod). */
  def scalarQ(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    p.filter(col("p_type").like("%BRASS%") || col("p_size") < 15)
      .select(
        col("p_partkey"),
        upper(substring(col("p_name"), 1, 8)).as("name_prefix"),
        length(col("p_name")).cast("long").as("name_len"),
        concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"),
        regexp_replace(col("p_name"), "a", "_").as("name_sub"),
        abs(col("p_retailprice") - 1000.0).as("price_dist"),
        floor(col("p_retailprice") / 100.0).cast("long").as("price_bucket"),
        pmod(col("p_partkey"), lit(7L)).as("key_mod"))
  }

  /** JSON column parse: extract a typed field from events.props via
    * from_json with an explicit schema — one Jackson parse per row into
    * a struct (vs get_json_object's per-path parse, measured 6× slower
    * here), and the pattern that scales to reading N fields per row. */
  def jsonQ(spark: SparkSession, dir: String): DataFrame =
    Tables.fanout(Tables.events(spark, dir))
      .select(
        col("event_id"),
        expr("from_json(props, 'k INT').k").as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))

  /** CUBE over (returnflag, linestatus): all four grouping levels.
    * Two-level plan: aggregate to the base (rf, ls) grid FIRST (6 rows),
    * then CUBE over the aggregated frame re-combining with sum-of-sums.
    * All the aggregates here are algebraic, so this is exact — and it
    * keeps Expand's ×4 row multiplication off the fact table (Catalyst
    * expands BEFORE the partial aggregate, so a naive cube reads and
    * shuffles every lineitem row four times; at 100 TB that's the
    * difference between a cheap rollup report and 4× the scan cost). */
  def cubeQ(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum("l_quantity").as("q"),
        sum(col("l_extendedprice").cast("decimal(20,6)")).as("p"),
        count(lit(1)).as("c"))
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum("q").as("sum_qty"),
        sum("p").cast("double").as("sum_price"),
        sum("c").as("n_rows"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("grp_rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("grp_ls"),
        col("sum_qty"), col("sum_price"), col("n_rows"))

  /** As-of join: for each event, the latest order at-or-before the event
    * time for that user. Planned as an equi-join on the key (user_id =
    * o_custkey) with the temporal predicate as a post-join filter, then
    * an argmax aggregate — the shuffle rides the equi key, so the plan
    * survives scale (per-key order history is the only fan-out; at 100 TB
    * pre-bucket both sides on the key and the join is shuffle-free).
    * Left semantics: events whose user has no prior order keep a null
    * asof_orderdate and n_prior_orders = 0. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(col("event_id"), col("user_id"), col("ts"))
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    e.join(o, col("user_id") === col("o_custkey") && col("ts") >= col("o_orderdate"), "left")
      .groupBy(col("event_id"), col("user_id"))
      .agg(max(col("o_orderdate")).as("asof_orderdate"),
        count(col("o_orderkey")).as("n_prior_orders"))
  }

  /** Tolerance-bounded as-of join (q_join_asof_tol) — [[asofJoin]] with
    * the staleness bound every feature-store read carries (pandas
    * merge_asof's `tolerance`): the latest order at-or-before the event
    * AND no older than `tolDays` days. A point-in-time feature older
    * than the bound is not a feature, it's a leak of stale state — the
    * join must surface null instead. Tolerance declared on the DATE
    * grid (o_orderdate ≥ date(ts) − tolDays), exact in both engines.
    * Same plan as the unbounded form: the shuffle rides the equi key,
    * the temporal band is a post-join filter — per-key fan-out shrinks
    * WITH the tolerance, so the bounded form is the cheaper one at
    * scale (the history beyond the window never survives the filter,
    * and with date-partitioned order storage it is never even read). */
  def asofJoinTolerance(spark: SparkSession, dir: String,
      tolDays: Int = 365): DataFrame = {
    val e = Tables.events(spark, dir).select(col("event_id"), col("user_id"), col("ts"))
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    e.join(o, col("user_id") === col("o_custkey") &&
        col("ts") >= col("o_orderdate") &&
        col("o_orderdate") >= date_sub(col("ts").cast("date"), tolDays), "left")
      .groupBy(col("event_id"), col("user_id"))
      .agg(max(col("o_orderdate")).as("asof_orderdate"),
        count(col("o_orderkey")).as("n_recent_orders"))
  }

  /** Binned range join — point-in-interval with NO equi key, the shape
    * Spark can only plan as a broadcast-nested-loop (or cartesian) join.
    * Discretize instead: each point maps to bucket ⌊p/W⌋; each interval
    * explodes into the ⌈len/W⌉+1 buckets it overlaps; the join becomes
    * an EQUI-join on the bucket with the exact range predicate as a
    * post-join filter. The shuffle rides the bucket key — points move
    * once, intervals replicate only by their length-to-W ratio (pick W
    * near the typical interval length: replication ≲ 2×). Buckets
    * inherit the points' value distribution, so a hot value range is a
    * hot bucket — AQE skew-split applies; a plain BNLJ has no such
    * escape. Inverted intervals (lo > hi) are filtered out before the
    * explode, matching BETWEEN's empty semantics — they must NOT reach
    * `sequence`, which generates a DESCENDING range for start > stop:
    * one wildly inverted row would replicate into |⌊lo/W⌋−⌊hi/W⌋|+1
    * bins (millions of rows, or the sequence length cap) that only the
    * post-filter would discard. */
  def rangeJoinBinned(points: DataFrame, intervals: DataFrame,
      pointCol: String, loCol: String, hiCol: String,
      binWidth: Double): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val pb = points.withColumn("_bin", floor(col(pointCol) / binWidth))
    val ib = intervals.filter(col(loCol) <= col(hiCol)).withColumn("_bin",
      explode(sequence(floor(col(loCol) / binWidth), floor(col(hiCol) / binWidth))))
    pb.join(ib, Seq("_bin"))
      .filter(col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
      .drop("_bin")
  }

  /** Declared range-join query (q_join_range): orders binned into 25
    * overlapping price bands derived from nation (stride 20k, width
    * 40k — each order lands in 1-2 bands), counted and summed per
    * band. The oracle is the plain BETWEEN join; the decimal
    * intermediate keeps the double sum order-exact. */
  def rangeJoinQ(spark: SparkSession, dir: String): DataFrame = {
    val bands = Tables.nation(spark, dir).select(
      col("n_nationkey").cast("long").as("band_id"),
      (col("n_nationkey") * 20000.0).as("lo"),
      (col("n_nationkey") * 20000.0 + 39999.99).as("hi"))
    val pts = Tables.orders(spark, dir).select(col("o_totalprice"))
    rangeJoinBinned(pts, bands, "o_totalprice", "lo", "hi", 20000.0)
      .groupBy(col("band_id"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(20,6)")).cast("double").as("total"))
  }

  /** Declared query q_topk_agg: per-priority top-3 orders by price via
    * the BOUNDED-BUFFER aggregate [[graft.functions.Aggregators.TopKAgg]]
    * — the 100 TB form of per-group top-N. Where the rank-filter
    * spelling (q_window_rank's shape) exchanges and sorts every group's
    * FULL row set, the aggregate ships at most k rows per group out of
    * each map task (partial+final ObjectHashAggregate, plan spec-pinned
    * in FunctionsSpec) — shuffle volume k·|groups| regardless of input
    * size. Deterministic ties: score desc, then order key asc. */
  def topKAggQ(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val fn = org.apache.spark.sql.functions.udaf(
      new graft.functions.Aggregators.TopKAgg(k),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[graft.functions.Aggregators.Scored]())
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(fn(col("o_totalprice"), col("o_orderkey")).as("top"))
      .select(col("o_orderpriority"), posexplode(col("top")))
      .select(col("o_orderpriority"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.tag").as("o_orderkey"), col("col.score").as("o_totalprice"))
  }

  /** Binned interval-OVERLAP join — interval × interval with NO equi
    * key (the two-sided sibling of [[rangeJoinBinned]]'s
    * point-in-interval). Both sides explode into the width-W bins their
    * interval covers and meet on an equi-join over the bin; the exact
    * overlap predicate (lLo ≤ rHi ∧ rLo ≤ lHi) post-filters. An
    * overlapping pair co-occupies every bin from ⌊max(lo)/W⌋ (the
    * overlap's start bin) to the overlap's end bin, so the dedup is
    * FREE — keep the pair only in its first shared bin
    * (bin = ⌊greatest(lLo, rLo)/W⌋) instead of paying a distinct over
    * the matched volume. Replication per side is ⌈len/W⌉+1, so pick W
    * near the typical interval length; the shuffle rides the bin key
    * and AQE skew-split applies to hot time ranges, where Spark's only
    * native plan for this predicate is a broadcast-nested-loop.
    * Inverted intervals are dropped on both sides before the explode
    * (the [[rangeJoinBinned]] descending-`sequence` trap). */
  def intervalOverlapJoinBinned(left: DataFrame, right: DataFrame,
      lLo: String, lHi: String, rLo: String, rHi: String,
      binWidth: Double): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    // the working bin column gets a suffix no user schema plausibly
    // carries: a plain `_bin` input column would be silently overwritten
    // by withColumn and dropped from the output
    val bin = "_graft_interval_bin"
    require(!left.columns.contains(bin) && !right.columns.contains(bin),
      s"inputs must not contain the reserved working column '$bin'")
    def binned(df: DataFrame, lo: String, hi: String): DataFrame =
      df.filter(col(lo) <= col(hi)).withColumn(bin,
        explode(sequence(floor(col(lo) / binWidth), floor(col(hi) / binWidth))))
    binned(left, lLo, lHi).join(binned(right, rLo, rHi), Seq(bin))
      .filter(col(lLo) <= col(rHi) && col(rLo) <= col(lHi) &&
        col(bin) === floor(greatest(col(lLo), col(rLo)) / binWidth))
      .drop(bin)
  }

  /** Declared interval-overlap query (q_join_interval): for each urgent
    * order's 3-day promotion window, the high-quantity shipments whose
    * transit interval overlaps it — transit spans are synthesized
    * deterministically from the line's keys (the fixture ships only
    * l_shipdate), identically in the oracle. Dates discretize to epoch
    * days; W = 7 days ≈ the mean transit span, so each side replicates
    * into ≲ 2-5 bins. Output: one row per urgent order with ≥ 1
    * overlapping shipment (orders with none drop — inner semantics,
    * mirrored by the oracle). The decimal intermediate keeps the
    * quantity sum order-exact. */
  def intervalJoinQ(spark: SparkSession, dir: String): DataFrame = {
    val epoch = to_date(lit("1970-01-01"))
    val promos = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"),
        datediff(col("o_orderdate"), epoch).cast("long").as("p_lo"))
      .withColumn("p_hi", col("p_lo") + 3)
    // fanout: the transit side is the PROBE of a broadcast join whose
    // candidate volume is ~20x its row count (bin co-occupancy) — on a
    // single-row-group fixture file the whole probe+filter+partial-agg
    // chain would otherwise run on one task
    val transits = Tables.fanout(Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 45))
      .select(col("l_quantity"),
        datediff(col("l_shipdate"), epoch).cast("long").as("t_lo"),
        (datediff(col("l_shipdate"), epoch) + 1 +
          pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(28)))
          .cast("long").as("t_hi"))
    intervalOverlapJoinBinned(promos, transits, "p_lo", "p_hi", "t_lo", "t_hi", 7.0)
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_in_transit"),
        sum(col("l_quantity").cast("decimal(20,6)")).cast("double").as("qty_in_transit"))
  }

  /** Sort-based exact percentiles with INTRA-group parallelism: global
    * per-group ranks are assembled from range-partitioned local ranks
    * plus per-partition offset prefix sums, then the one-or-two
    * straddling rows per requested percentile fold with linear
    * interpolation. The interpolation is bit-identical to Spark's
    * builtin `percentile` AND DuckDB's `quantile_cont`: for 0-indexed
    * position pos = p·(m−1), result = v_lo·(⌈pos⌉−pos) + v_hi·(pos−⌊pos⌋)
    * (= v_lo exactly when pos is integral). Every non-straddling row
    * contributes +0.0, which is exact in IEEE double, so the distributed
    * sum is order-insensitive and oracle-stable.
    *
    * Scale shape — why not one Window per group key: a window
    * partitioned by the group caps parallelism at the NUMBER OF GROUPS
    * (3 tasks on the lineitem fixture), and one hot group's entire sort
    * serializes on a single task at 100 TB (spillable, but serial).
    * Here instead:
    *  1. melt the value columns to long format (group, ci, v) — one
    *     projection, all columns ride one pass;
    *  2. `repartitionByRange` on (group, ci, v): partition p holds only
    *     values ≤ partition p+1's within every (group, ci) slice, and a
    *     hot group spreads over MANY partitions;
    *  3. local ranks from ONE in-partition sort (position ids, no
    *     window) — parallelism is the partition count, not the group
    *     count;
    *  4. per-(pid, group, ci) stats (count + first position) are a
    *     METADATA-sized aggregate (≤ partitions × columns × groups
    *     rows); their prefix sum over pid (a window over that tiny
    *     frame) is each partition's global rank offset,
    *     broadcast-joined back;
    *  5. global idx = offset + local rank; the straddle filter and the
    *     interpolating sum run over the (cached) sorted frame.
    * Ties across a partition boundary are safe: equal values are
    * interchangeable under interpolation, whatever side of the boundary
    * each lands on. Nulls are dropped from the long frame (idx then
    * counts non-null values directly — the builtin's skip-nulls
    * semantics); groups whose every value column is entirely null are
    * reattached by the final left join so they still yield null rows. */
  private[ops] def exactPercentilesBySort(df: DataFrame, groupCol: String,
      specs: Seq[(String, Seq[(Double, String)])]): DataFrame = {
    val vals = df.select(col(groupCol) +:
      specs.zipWithIndex.map { case ((vc, _), i) => col(vc).cast("double").as(s"v$i") }: _*)
    val n = specs.size
    val stackExpr = s"stack($n, ${specs.indices.map(i => s"$i, v$i").mkString(", ")}) as (ci, v)"
    val long = vals.select(col(groupCol), expr(stackExpr))
      .filter(col("v").isNotNull)
    // EXPLICIT partition count: pid must mean the same partition in
    // every consumer of the exchange; a user-specified N marks the
    // shuffle REPARTITION_BY_NUM so AQE cannot re-coalesce it.
    val nPart = df.sparkSession.sessionState.conf.numShufflePartitions
    // ONE range exchange + ONE in-partition sort, CACHED (caller
    // releases via PipelineCaches): the frame is consumed twice (the
    // counts aggregate and the rank join below), and Spark does not
    // dedup subtrees containing the nondeterministic
    // spark_partition_id/monotonically_increasing_id — uncached, the
    // executed plan materializes the whole 2·|rows| exchange TWICE
    // (measured: +0.6 s at sf0.1). Eviction is safe: the cached RDD's
    // lineage starts at the shuffle read, so recompute re-fetches
    // shuffle blocks, not the source scan. Local ranks without a second
    // shuffle or big window: after the in-partition sort,
    // monotonically_increasing_id's low bits are the 0-based position
    // within the sorted partition (the nondeterministic id is never
    // reordered past the sort by the optimizer). A (group, ci) slice
    // occupies a contiguous position range there, so its local rank is
    // lrn0 − min(lrn0 over the slice's rows in this partition).
    val sorted = PipelineCaches.track(long
      .repartitionByRange(nPart, col(groupCol), col("ci"), col("v"))
      .withColumn("pid", spark_partition_id())
      .sortWithinPartitions(col(groupCol), col("ci"), col("v"))
      .withColumn("lrn0",
        monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1))))
    // per-partition slice stats: ≤ nPart × n × |groups| rows —
    // metadata-sized. base (the slice's first position in its
    // partition) falls out of the same aggregate as min(lrn0); the only
    // window work left runs over this tiny frame:
    //  off = the slice's global start (prefix over pid within slice)
    //  cnt = the slice's total size
    val counts = sorted.groupBy(col("pid"), col(groupCol), col("ci"))
      .agg(count(lit(1)).as("cnt_p"), min(col("lrn0")).as("base"))
    val slice = Window.partitionBy(col(groupCol), col("ci"))
    val offsets = counts
      .withColumn("off",
        sum(col("cnt_p")).over(slice.orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - col("cnt_p"))
      .withColumn("cnt", sum(col("cnt_p")).over(slice).cast("double"))
      .drop("cnt_p")
    // Global idx = off + (lrn0 − base). Ties across a partition
    // boundary are safe: equal values are interchangeable under
    // interpolation, whatever side of the boundary each lands on.
    // NULL-SAFE on the group column: a null group key is a group like
    // any other here (only its VALUES are skip-null), and a plain
    // USING join would silently drop every null-group row before the
    // aggregate — the final reattachment join would then hand the null
    // group null percentiles where the builtin computes real ones.
    val offs = offsets.select(col("pid").as("__pid"),
      col(groupCol).as("__og"), col("ci").as("__ci"),
      col("off"), col("base"), col("cnt"))
    val ranked = sorted
      .join(broadcast(offs),
        col("pid") === col("__pid") && col(groupCol) <=> col("__og") &&
          col("ci") === col("__ci"))
      .drop("__pid", "__og", "__ci")
      .withColumn("idx", (col("off") + col("lrn0") - col("base")).cast("double"))
    // Only straddling rows (idx = ⌊pos⌋ or ⌈pos⌉ for some percentile of
    // their own column) carry non-zero terms — ≤ 2·percentiles rows per
    // (group, column) — so filter the rest out BEFORE the aggregate:
    // the hash-agg then updates its sum buffers on a handful of rows
    // and the agg exchange carries only those survivors.
    val contributes = specs.zipWithIndex.flatMap { case ((_, ps), i) =>
      ps.flatMap { case (p, _) =>
        val pos = lit(p) * (col("cnt") - 1)
        Seq(col("ci") === i && col("idx") === floor(pos),
          col("ci") === i && col("idx") === ceil(pos))
      }
    }.reduce(_ || _)
    val aggs = specs.zipWithIndex.flatMap { case ((_, ps), i) =>
      ps.map { case (p, name) =>
        val pos = lit(p) * (col("cnt") - 1)
        val lo = floor(pos)
        val hi = ceil(pos)
        sum(
          // rows of OTHER columns contribute null → ignored; a column
          // with no surviving rows in a group sums to null, matching
          // the builtin's all-null → null
          when(col("ci") === i,
            when(col("idx") === lo && lo === hi, col("v"))
              .when(col("idx") === lo, col("v") * (hi - pos))
              .when(col("idx") === hi, col("v") * (pos - lo))
              .otherwise(lit(0.0)))
            .otherwise(lit(null).cast("double"))
        ).as(name)
      }
    }
    val perGroup = ranked.filter(contributes)
      .groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
    // keep groups whose every value column is entirely null (they have
    // no long-format rows at all): distinct groups is a map-side
    // partial-aggregated shuffle of |groups| rows. Null-SAFE equality:
    // a null group key is a group like any other and must keep its
    // computed row rather than be dropped by an equi-join.
    val names = specs.flatMap(_._2.map(_._2))
    df.select(col(groupCol)).distinct()
      .join(perGroup.withColumnRenamed(groupCol, "__g"),
        col(groupCol) <=> col("__g"), "left")
      .select(col(groupCol) +: names.map(col): _*)
  }

  /** The smallest planner estimate (bytes) [[exactPercentiles]] runs in
    * its selection form. */
  private[ops] val SelectFormBytes: Long = 2L << 20

  /** Exact percentiles by DISTRIBUTED SELECTION (histogram-select) — the
    * form that never exchanges the data: instead of range-partitioning
    * all 2·|rows| (group, ci, v) tuples to assemble global ranks (see
    * [[exactPercentilesBySort]]), locate each target rank from a
    * metadata-sized histogram and fetch only the straddling values.
    * TWO jobs, two source scans, zero data exchanges:
    *  1. scan 1 — per-slice (group, ci) RADIX histogram: bucket = the
    *     top `radixBits` of the order-preserving IEEE bit image of v
    *     ([[graft.functions.DoubleOrderBits]] — a monotone bucketing
    *     that needs NO min/max envelope, which is what lets the old
    *     separate stats pass fuse into this one). The histogram is
    *     metadata-sized BY CONSTRUCTION (≤ slices × occupied buckets,
    *     cap-checked against `maxStatsBroadcast` at collect time), so
    *     it comes back to the driver in the same action and the whole
    *     locator — slice counts, target ranks ⌊pos⌋/⌈pos⌉, the prefix
    *     sum that finds each rank's bucket and in-bucket offset — is
    *     driver arithmetic over it (the stats-sized-driver-round-trip
    *     pattern of the IVF probe and the ngram df-cap gate), not three
    *     more Spark jobs of tiny windows and joins.
    *  2. scan 2 — only rows in located buckets survive (a broadcast
    *     join on the recomputed bucket expression); the off-th smallest
    *     within each bucket is the target value (row_number over
    *     bucket-sized partitions — bounded, parallel per target). The
    *     ≤ 2·targets picked rows collect, interpolation happens on the
    *     driver, and the result ships as a literal |groups|-row frame
    *     (bounded by the same histogram gate).
    * Interpolation is the same v_lo·(⌈pos⌉−pos) + v_hi·(pos−⌊pos⌋) —
    * bit-identical to Spark's builtin `percentile` and DuckDB's
    * `quantile_cont` (RelationalSpec pins both forms to the builtin to
    * the last ulp, nulls included; the driver doubles go through the
    * exact IEEE ops the builtin uses).
    *
    * Trade: two cheap scans + one tiny shuffle (the histogram partial
    * agg) instead of one scan + one full-data exchange — at 100 TB
    * re-scanning a columnar source once more is far cheaper than
    * exchanging it once. Radix buckets concentrate where doubles share
    * sign+exponent (real data mostly does): a slice typically occupies
    * tens-to-hundreds of the 2^16 possible buckets, so located buckets
    * stay small; the degenerate all-values-equal slice lands in ONE
    * bucket and its row_number partition degrades to the slice size
    * (still spillable, still correct — the sort form has the same worst
    * case in one range partition). Above `maxStatsBroadcast` histogram
    * rows this dispatches to the sort form, whose shuffle handles
    * unbounded cardinality — the same size-gate-with-fallback pattern
    * as Dedup.applySpanFilter. Below [[SelectFormBytes]]
    * (planner-estimated, zero extra jobs; a [[Dispatch]] gate) the
    * second scan's fixed job cost stops paying and small inputs ride
    * the sort form. */
  private[graft] def exactPercentiles(df: DataFrame, groupCol: String,
      specs: Seq[(String, Seq[(Double, String)])],
      radixBits: Int = 16, maxStatsBroadcast: Long = 200000): DataFrame = {
    if (!Dispatch.pick(df.sparkSession, "exactPercentiles", SelectFormBytes)(
        df.queryExecution.optimizedPlan.stats.sizeInBytes))
      return exactPercentilesBySort(df, groupCol, specs)
    selectFormPicks(df, groupCol, specs, radixBits, maxStatsBroadcast) match {
      case None => exactPercentilesBySort(df, groupCol, specs)
      case Some((universe, cnts, picked)) =>
        val session = df.sparkSession
        val pickedMap = picked.collect()
          .map(r => (Option(r.get(0)), r.getInt(1), r.getLong(2)) -> r.getDouble(3))
          .toMap
        val names = specs.flatMap(_._2.map(_._2))
        val resRows = universe.map { g =>
          val vals = specs.zipWithIndex.flatMap { case ((_, ps), i) =>
            ps.map { case (p, _) =>
              cnts.get((g, i)) match {
                case None => null // all-null slice → null like the builtin
                case Some(cnt) =>
                  val pos = p * (cnt - 1).toDouble
                  val lo = math.floor(pos).toLong
                  val hi = math.ceil(pos).toLong
                  val vLo = pickedMap((g, i, lo))
                  if (lo == hi) java.lang.Double.valueOf(vLo)
                  else java.lang.Double.valueOf(
                    vLo * (hi - pos) + pickedMap((g, i, hi)) * (pos - lo))
              }
            }
          }
          org.apache.spark.sql.Row.fromSeq(g.orNull +: vals)
        }
        val schema = org.apache.spark.sql.types.StructType(
          df.schema(groupCol).copy(nullable = true) +:
            names.map(n => org.apache.spark.sql.types.StructField(
              n, org.apache.spark.sql.types.DoubleType, nullable = true)))
        session.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(resRows).asJava),
          schema)
    }
  }

  /** The select form's two Spark-side pieces, exposed for plan pinning:
    * runs the fused histogram job, does the driver-side locate, and
    * returns (group universe, per-slice non-null counts, the LAZY
    * picked-values frame — scan 2). None = the histogram outgrew
    * `maxStatsBroadcast` (caller dispatches to the sort form). */
  private[graft] def selectFormPicks(df: DataFrame, groupCol: String,
      specs: Seq[(String, Seq[(Double, String)])],
      radixBits: Int = 16, maxStatsBroadcast: Long = 200000)
      : Option[(Seq[Option[Any]], Map[(Option[Any], Int), Long], DataFrame)] = {
    val session = df.sparkSession
    graft.functions.DoubleOrderBits.register(session)
    val vals = df.select(col(groupCol) +:
      specs.zipWithIndex.map { case ((vc, _), i) => col(vc).cast("double").as(s"v$i") }: _*)
    val n = specs.size
    val stackExpr = s"stack($n, ${specs.indices.map(i => s"$i, v$i").mkString(", ")}) as (ci, v)"
    // nulls KEPT in the long frame (they bucket to null): stack emits a
    // row per (group, ci) for every input row, so the histogram sees
    // EVERY group — including all-null ones — and the group universe
    // reads straight off the collected histogram
    val long = vals.select(col(groupCol), expr(stackExpr))
    val bktExpr = when(col("v").isNotNull,
      shiftright(call_function(graft.functions.DoubleOrderBits.FnName,
        col("v")), 64 - radixBits))
    val cap = math.min(maxStatsBroadcast, (Int.MaxValue - 8).toLong).toInt
    val hist = long.withColumn("bkt", bktExpr)
      .groupBy(col(groupCol), col("ci"), col("bkt"))
      .agg(count(lit(1)).as("cb"))
      .limit(cap + 1) // cap probe: cap+1 rows back ⇒ too big ⇒ fallback
      .collect()
    if (hist.length > cap) return None
    val rows = hist.map(r => (Option(r.get(0)), r.getInt(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3)))
    val universe = rows.map(_._1).distinct.toSeq
    // per-slice sorted buckets (signed bucket order IS value order —
    // the whole point of the order-preserving key) and non-null counts
    val slices = rows.collect { case (g, ci, Some(b), cb) => ((g, ci), (b, cb)) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sortBy(_._1).toSeq }
    val cnts = slices.map { case (k, bs) => k -> bs.map(_._2).sum }
    // locate each needed rank: bucket with cum0 ≤ rk < cum0 + cb
    def locate(k: (Option[Any], Int), rk: Long): (Long, Long) = {
      var cum = 0L
      for ((b, cb) <- slices(k)) {
        if (rk < cum + cb) return (b, rk - cum)
        cum += cb
      }
      throw new IllegalStateException(s"rank $rk out of range for slice $k")
    }
    val locRows = (for {
      ((g, ci), cnt) <- cnts.toSeq
      (p, _) <- specs(ci)._2
      rk <- {
        val pos = p * (cnt - 1).toDouble
        Seq(math.floor(pos).toLong, math.ceil(pos).toLong).distinct
      }
    } yield {
      val (b, off) = locate((g, ci), rk)
      org.apache.spark.sql.Row.fromSeq(Seq(g.orNull, ci, b, rk, off))
    }).distinct
    val locSchema = org.apache.spark.sql.types.StructType(Seq(
      df.schema(groupCol).copy(name = "__g2", nullable = true),
      org.apache.spark.sql.types.StructField("__c2",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("__b2",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("rk",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("off",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val locDf = session.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(locRows).asJava), locSchema)
    // scan 2: recompute the bucket expression (one more source scan
    // beats materializing the full frame), keep only located buckets,
    // pick the off-th smallest per (slice, rank). Equal-v ties across
    // a bucket boundary are interchangeable under interpolation — the
    // same argument the sort form makes for range-partition ties.
    val surv = long.filter(col("v").isNotNull)
      .withColumn("bkt", bktExpr)
      .join(broadcast(locDf),
        col(groupCol) <=> col("__g2") && col("ci") === col("__c2") &&
          col("bkt") === col("__b2"))
      .select(col(groupCol), col("ci"), col("rk"), col("off"), col("v"))
    val inBucket = Window.partitionBy(col(groupCol), col("ci"), col("rk"))
      .orderBy(col("v"))
    val picked = surv
      .withColumn("rn", row_number().over(inBucket).cast("long") - 1)
      .filter(col("rn") === col("off"))
      .select(col(groupCol), col("ci"), col("rk"), col("v"))
    Some((universe, cnts.toMap, picked))
  }

  /** Exact percentiles (median + p95) per group via the size-dispatched
    * [[exactPercentiles]]: planner-estimated small inputs ride the sort
    * form (one range exchange — cheapest when the whole frame is a few
    * MB), everything else the radix-histogram-select form (two cheap
    * fanned-out scans, metadata-sized shuffles, NO full-data
    * exchange — the shape that survives 100 TB). Matches DuckDB's
    * `quantile_cont` bit-for-bit in both regimes. Per-column skip-nulls
    * semantics match the builtin. At scale prefer [[quantileApproxQ]] —
    * sketches beat any exact form — but when exact is required, this is
    * the shape that survives. */
  def quantileQ(spark: SparkSession, dir: String): DataFrame =
    exactPercentiles(
      Tables.lineitem(spark, dir).select("l_returnflag", "l_quantity", "l_extendedprice"),
      "l_returnflag",
      Seq(
        "l_quantity" -> Seq(0.5 -> "median_qty", 0.95 -> "p95_qty"),
        "l_extendedprice" -> Seq(0.5 -> "median_price")))

  /** Winsorized per-group statistics (q_winsorize) — the robust
    * numeric-cleaning primitive: clip each group's values at its own
    * exact [p05, p95] and report the clipped population and mean,
    * the standard outlier-capping step before any scale-sensitive
    * downstream (z-scoring, regression, feature export). Cutoffs ride
    * [[exactPercentiles]] (group-cardinality rows → broadcast) and
    * are ROUNDED to the 6-dp grid before clipping — the raw
    * interpolated doubles carry long binary tails whose DECIMAL cast
    * could round differently across engines, while a clipped value is
    * then either a raw 2-dp price or the 6-dp cutoff, both exact in
    * DECIMAL(20,6), so the winsorized sum is order-free. One
    * percentile pass + one broadcast join + one keyed aggregate. */
  def winsorizeQ(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice"))
    val cuts = exactPercentiles(li, "l_returnflag",
      Seq("l_extendedprice" -> Seq(0.05 -> "p05", 0.95 -> "p95")))
      .select(col("l_returnflag"),
        round(col("p05"), 6).as("lo"), round(col("p95"), 6).as("hi"))
    li.join(broadcast(cuts), "l_returnflag")
      .select(col("l_returnflag"), col("l_extendedprice").as("x"),
        col("lo"), col("hi"),
        greatest(col("lo"), least(col("hi"), col("l_extendedprice"))).as("w"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum((col("x") < col("lo")).cast("long")).as("n_clip_lo"),
        sum((col("x") > col("hi")).cast("long")).as("n_clip_hi"),
        round(sum(col("w").cast("decimal(20,6)")).cast("double") /
          count(lit(1)), 6).as("w_mean"))
  }

  /** Array scalar surface on the embeddings column: element access,
    * size, elementwise extrema (exact under float→double widening in
    * both engines, unlike order-dependent float sums). */
  def arrayQ(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(
        col("vec_id"),
        element_at(col("embedding"), 1).cast("double").as("first_dim"),
        size(col("embedding")).cast("long").as("dim"),
        array_max(col("embedding")).cast("double").as("max_dim"),
        array_min(col("embedding")).cast("double").as("min_dim"))

  /** Sketched quantiles (approx_percentile / GK): the scale path for
    * q_quantile — bounded-memory mergeable sketch instead of buffering
    * every value per group. Not exactly reproducible across engines →
    * registered without oracleSql (rows-only gate); RelationalSpec
    * bounds the error against the exact percentiles (the comparison
    * lives ONLY in the spec — carrying the exact percentile inside the
    * declared query would pay the full sort-based cost the sketch is
    * meant to avoid). */
  def quantileApproxQ(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_quantity, 0.5, 1000)").as("median_qty"),
        expr("approx_percentile(l_quantity, 0.95, 1000)").as("p95_qty"))

  /** Gate form of [[quantileApproxQ]] (declared q_quantile_approx):
    * asserts the sketch's defining RANK guarantee in-query and emits it
    * as data. approx_percentile(accuracy = a) promises the returned
    * value is an element whose empirical rank is within n/a of the
    * target rank; the check counts, per group, how many values fall
    * strictly below / at-or-below the returned quantile (the returned
    * element's rank interval) and asserts that interval overlaps
    * [q·n − εn, q·n + εn] with ε = 2/a (×2 absorbs the half-open
    * boundary conventions across GK implementations). Shape: the sketch
    * aggregate (no sort, no data exchange) plus ONE more scan joined
    * against the broadcast 3-row sketch result — still cheaper than any
    * exact-percentile twin, and the law it proves is the sketch's own
    * contract rather than a loose |approx − exact| band. The oracle
    * replays n exactly and literal TRUE per law. */
  def quantileApproxGated(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_returnflag"), col("l_quantity"))
    val sk = li.groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_quantity, 0.5, 1000)").as("med"),
        expr("approx_percentile(l_quantity, 0.95, 1000)").as("p95"))
    val eps = 2.0 / 1000
    def cnt(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    def ok(lt: Column, le: Column, q: Double): Column =
      (lt <= (lit(q) + lit(eps)) * col("n")) &&
        (le >= (lit(q) - lit(eps)) * col("n"))
    li.join(broadcast(sk), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(col("l_quantity")).as("n"),
        cnt(col("l_quantity") < col("med")).as("lt_med"),
        cnt(col("l_quantity") <= col("med")).as("le_med"),
        cnt(col("l_quantity") < col("p95")).as("lt_p95"),
        cnt(col("l_quantity") <= col("p95")).as("le_p95"))
      .select(col("l_returnflag"), col("n"),
        ok(col("lt_med"), col("le_med"), 0.5).as("median_rank_ok"),
        ok(col("lt_p95"), col("le_p95"), 0.95).as("p95_rank_ok"))
  }

  /** MapType surface: parse the JSON props column into map<string,int>,
    * explode to (key, value) pairs, aggregate per key. Complements
    * q_json's path-extract: this is the shape for genuinely dynamic
    * key sets (one parse, all keys). */
  def mapQ(spark: SparkSession, dir: String): DataFrame =
    Tables.fanout(Tables.events(spark, dir))
      .select(explode(from_json(col("props"), MapType(StringType, IntegerType))))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_val"))

  /** Explicit GROUPING SETS (the third grouping-set form after rollup
    * and cube): per-returnflag, per-linestatus, and grand-total levels —
    * a set rollup/cube cannot express. Shared ANSI text runs through
    * BOTH parsers (see SqlQText pattern). Single-level on purpose: with
    * a plain DOUBLE sum the ×3 Expand collapses in the map-side partial
    * aggregate for one shuffle total — the two-level re-combination that
    * pays off for cube/rollup's DECIMAL sums measured ~0.2 s SLOWER here
    * (the extra stage outweighs the cheap expand). */
  val GroupingSetsQText: String =
    """SELECT coalesce(l_returnflag, 'ALL_RF') AS grp_rf,
      |coalesce(l_linestatus, 'ALL_LS') AS grp_ls,
      |sum(l_quantity) AS sum_qty, count(*) AS n_rows
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin

  def groupingSetsQ(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.Catalog.registerAll(spark, dir)
    spark.sql(GroupingSetsQText)
  }

  /** ANSI SQL text accepted verbatim by both Spark and DuckDB — the
    * declared q_sql query AND its oracle, so the SQL-parser path is
    * exercised end-to-end with a single source of truth. */
  val SqlQText: String =
    """SELECT n_name, o_orderpriority, count(*) AS n_orders,
      |CAST(sum(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderdate < TIMESTAMP '1996-01-01'
      |GROUP BY n_name, o_orderpriority""".stripMargin

  /** Correlated-subquery text shared by the declared query and its
    * oracle (both engines accept it verbatim). Two correlation shapes
    * in one query: a correlated SCALAR subquery (per-order max line
    * quantity — Catalyst decorrelates it into a left outer join over a
    * pre-aggregated lineitem, so the "per-row query" never executes
    * per row) and a correlated EXISTS (orders with any returned line →
    * planned as a semi-join). The filter keeps the output compact; the
    * decorrelated plan shape is pinned in RelationalSpec. */
  val SubqueryQText: String =
    """SELECT o_orderkey, o_orderpriority,
      |(SELECT max(l_quantity) FROM lineitem WHERE l_orderkey = o_orderkey) AS max_qty,
      |(SELECT count(*) FROM lineitem WHERE l_orderkey = o_orderkey) AS n_lines
      |FROM orders
      |WHERE o_orderkey % 20 = 0 AND EXISTS
      |(SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')""".stripMargin

  /** Correlated scalar + EXISTS subqueries through the SQL entry —
    * the decorrelation surface (RewriteCorrelatedScalarSubquery,
    * rewrite-to-semi-join) the other declared queries never touch. */
  def subqueryQ(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.Catalog.registerAll(spark, dir)
    spark.sql(SubqueryQText)
  }

  /** SQL entry point: same relational engine through spark.sql over the
    * registered catalog views (Catalog.registerAll) instead of the
    * DataFrame API — both build the identical Catalyst logical plan. */
  def sqlQ(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.Catalog.registerAll(spark, dir)
    spark.sql(SqlQText)
  }

  /** LATERAL correlated-subquery text accepted verbatim by both engines:
    * per-nation top-2 customers by balance through a LIMIT-ed lateral.
    * The naive reading is a per-row subquery execution; Catalyst instead
    * decorrelates the lateral into one rank window whose top-k bound is
    * pushed into WindowGroupLimit — per group, at most k rows survive
    * the PARTIAL (pre-shuffle) limit, so at 100 TB each map task ships k
    * rows per key, never the group. Plan pinned in RelationalSpec. */
  val LateralQText: String =
    """SELECT n_name, t.c_name, t.c_acctbal
      |FROM nation, LATERAL (
      |  SELECT c_name, c_acctbal FROM customer
      |  WHERE c_nationkey = n_nationkey
      |  ORDER BY c_acctbal DESC, c_name LIMIT 2) t""".stripMargin

  /** Per-key top-k via LATERAL — the fourth correlation shape after
    * scalar/EXISTS subqueries and the window-rank form, exercising the
    * lateral-join decorrelation path none of the others touch. */
  def lateralQ(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.Catalog.registerAll(spark, dir)
    spark.sql(LateralQText)
  }

  /** WITH RECURSIVE text shared verbatim by both engines: walk the
    * implicit binary-heap hierarchy parent(k) = floor(k/2) over supplier
    * keys from the root down, emitting per-depth level stats. Spark 4
    * executes this as UnionLoop — one equi-join per level, and the
    * iteration count is the HIERARCHY DEPTH (log₂ of the key domain,
    * ≤ ~40 at any realistic scale), not the row count; each level's
    * frontier joins distributed, nothing accumulates on the driver.
    * Every derived integer is cast BIGINT on both sides (DuckDB's
    * sum(BIGINT) widens to HUGEINT otherwise). */
  val RecursiveCteQText: String =
    """WITH RECURSIVE chain AS (
      |  SELECT CAST(s_suppkey AS BIGINT) AS k, CAST(0 AS BIGINT) AS depth
      |  FROM supplier WHERE s_suppkey = 1
      |  UNION ALL
      |  SELECT CAST(s.s_suppkey AS BIGINT), c.depth + 1
      |  FROM supplier s JOIN chain c ON CAST(floor(s.s_suppkey / 2.0) AS BIGINT) = c.k
      |  WHERE s.s_suppkey > 1)
      |SELECT depth, count(*) AS n_nodes, min(k) AS min_key, max(k) AS max_key,
      |CAST(sum(k) AS BIGINT) AS sum_keys
      |FROM chain GROUP BY depth""".stripMargin

  /** Recursive CTE (transitive hierarchy traversal) through the SQL
    * entry — the iterative-fixpoint surface (UnionLoop) that no other
    * declared query exercises. */
  def recursiveCteQ(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.Catalog.registerAll(spark, dir)
    spark.sql(RecursiveCteQText)
  }

  /** Date/time scalar surface on orders (kept separate from scalarQ so a
    * dialect mismatch in one family can't sink both). */
  def dateQ(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("d"),
        date_trunc("month", col("o_orderdate")).as("month_start"))
      .groupBy(col("y"), col("m"), col("month_start"))
      .agg(count(lit(1)).as("n_orders"), min("d").as("first_day"), max("d").as("last_day"))
  }

  /** CDC upsert compaction — collapse an append-only change log to the
    * latest row per key, the merge every ingestion pipeline runs before
    * serving "current state". One `max_by` aggregate with a struct
    * ordering key: PARTIAL aggregation keeps the per-key winner on the
    * map side, so the shuffle carries at most one row per (key, map
    * partition) — the row_number-window alternative shuffles and sorts
    * EVERY version of every key. The struct buffer has no fixed-size
    * hash form, so Spark plans SortAggregate — but both sorts are
    * per-partition, spillable, and BELOW/ABOVE the one winners-only
    * exchange; no per-version data ever crosses the network. The
    * ordering key (ts, event_id) is a total order, so the winner is
    * deterministic under any partitioning and ties on ts resolve to
    * the higher event_id (mirrored by the oracle's ORDER BY ts DESC,
    * event_id DESC). */
  def upsertQ(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        max_by(struct(col("event_id"), col("ts"), col("value")),
          struct(col("ts"), col("event_id"))).as("last"),
        count(lit(1)).as("n_versions"))
      .select(col("user_id"), col("event_type"),
        col("last.event_id").as("last_event_id"),
        col("last.ts").as("last_ts"),
        col("last.value").as("last_value"),
        col("n_versions"))

  /** SCD Type-2 interval build — the other half of the CDC story next
    * to [[upsertQ]]: every version of a key becomes a validity interval
    * [valid_from, valid_to) with the current version open-ended
    * (valid_to NULL, is_current = 1). One window over the key ordered
    * by the same total order upsert compacts with (ts, event_id).
    * Unlike upsert there is no winners-only shortcut to take: every
    * version IS an output row, so the one per-key shuffle + sort is
    * the minimum work for the semantics. Pairs with [[asofJoin]] for
    * point-in-time lookups against the resulting interval table. */
  def scd2Q(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    events.select(col("user_id"), col("event_type"), col("event_id"),
      col("value"), col("ts").as("valid_from"),
      lead(col("ts"), 1).over(w).as("valid_to"),
      lead(col("ts"), 1).over(w).isNull.cast("long").as("is_current"))
  }

  /** Content-hash snapshot diff (CDC between two crawl generations) —
    * the change-data-capture sibling of [[upsertQ]]/[[scd2Q]] at
    * corpus granularity: full-outer join two snapshots on doc_id,
    * compare md5 content hashes, classify every id as
    * added/removed/changed/unchanged. The join carries 32-char hashes,
    * never text; at deployment both snapshots are written bucketed by
    * doc_id (see Bucketing) and the full-outer SMJ is exchange-free.
    *
    * Declared query q_snapshot_diff synthesizes snapshot B from the
    * fixture deterministically (mirrored in the oracle): doc_id%17==3
    * deleted, doc_id%17==5 re-crawled with changed content, and a new
    * page (doc_id+300000) per doc_id%17==7. */
  def snapshotDiffQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val snapA = docs.select(col("doc_id"), md5(col("text")).as("h"))
    val kept = docs.filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 17 === 5, concat(col("text"), lit(" v2")))
          .otherwise(col("text"))).as("h"))
    val added = docs.filter(col("doc_id") % 17 === 7)
      .select((col("doc_id") + 300000L).as("doc_id"),
        md5(concat(lit("new snapshot doc "), col("doc_id").cast("string"))).as("h"))
    val snapB = kept.union(added)
    snapA.select(col("doc_id"), col("h").as("h_a"))
      .join(snapB.select(col("doc_id"), col("h").as("h_b")),
        Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h_a").isNull, lit("added"))
          .when(col("h_b").isNull, lit("removed"))
          .when(col("h_a") =!= col("h_b"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Per-group z-score anomaly flags — the data-quality screen that
    * applies [[statsAggQ]]'s moments back to the rows. Two passes: one
    * partial+final hash aggregate for (mean, stddev) per group — the
    * stats frame is group-cardinality-sized, so it broadcasts — then a
    * map-side join computes the flag. Deliberately NOT a window
    * (avg() OVER would shuffle and buffer every data row per group);
    * the aggregate+broadcast shape reads the data twice but shuffles
    * only group stats. Zero-variance groups z-score to NULL (nullif
    * guards the division) rather than dividing by zero. */
  def anomalyQ(events: DataFrame, threshold: Double = 3.0): DataFrame = {
    val stats = events.groupBy(col("event_type"))
      .agg(avg(col("value")).as("mu"), stddev_pop(col("value")).as("sigma"))
    events.join(broadcast(stats), Seq("event_type"))
      .select(col("event_type"), col("event_id"), col("value"),
        ((col("value") - col("mu")) / nullif(col("sigma"), lit(0.0))).as("zscore"))
      .withColumn("is_anomaly", (abs(col("zscore")) > threshold).cast("long"))
  }

  /** Equi-width histogram per group — the numeric distribution profile
    * next to [[profileQ]]'s per-column stats. FIXED bucket bounds
    * (clamped floor arithmetic) rather than data-dependent ones keep
    * the op single-pass — a min/max-normalized histogram needs a prior
    * pass over the data — and keep bucket ids stable under appends, so
    * incremental re-profiles merge by addition. Pure map-side bucket
    * assignment + one partial+final hash aggregate; the per-bucket
    * min/max are pass-through doubles (no arithmetic), so the output
    * is exact and engine-portable. */
  def histQ(events: DataFrame, width: Double = 50.0, nBuckets: Int = 10): DataFrame =
    events
      .select(col("event_type"), col("value"),
        least(greatest(floor(col("value") / lit(width)), lit(0L)),
          lit((nBuckets - 1).toLong)).as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        min("value").as("min_value"),
        max("value").as("max_value"))
}
