package graft.ops

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSuite}

/** Invariants + plan-shape checks on sf0.001. Value-level correctness is
  * the DuckDB oracle gate (tools/check_oracle.py); these specs guard the
  * properties the oracle can't see: pushdown, pruning, rank bounds. */
class RelationalSpec extends SparkSuite {

  test("every declared query builds") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
    }
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("filter pushes predicates into the parquet scan") {
    val plan = Relational.filterQ(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:"), plan.take(500))
    assert(plan.contains("IsNotNull(l_returnflag)") || plan.contains("EqualTo(l_returnflag,R)"),
      "returnflag predicate not pushed")
  }

  test("scan_project prunes unreferenced columns from the read schema") {
    val plan = Relational.scanProject(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("l_returnflag") && !plan.contains("l_shipdate"),
      "read schema not pruned")
  }

  test("window rank bounded and per-group sized") {
    val got = Relational.windowRank(spark, sf)
    assert(got.filter(col("rn") > 3).isEmpty)
    val oversize = got.groupBy("o_custkey").count().filter(col("count") > 3)
    assert(oversize.isEmpty)
  }

  test("window analytic: edge offsets null once per partition, ntile bounded, one Window node") {
    // plan pin BEFORE caching: a cached twin would satisfy the fresh
    // query via InMemoryRelation, whose stored plan double-counts nodes
    val plan = Relational.windowAnalytic(spark, sf).queryExecution.executedPlan.toString
    assert("Window \\[".r.findAllIn(plan).size == 1, plan)
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
    val w = Relational.windowAnalytic(spark, sf).cache()
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    assert(w.count() == orders.count())
    // exactly one null lag (first row) and one null lead (last row) per customer
    val edges = w.groupBy("o_custkey").agg(
      sum(when(col("prev_price").isNull, 1).otherwise(0)).as("np"),
      sum(when(col("next_price").isNull, 1).otherwise(0)).as("nn"))
    assert(edges.filter(col("np") =!= 1 || col("nn") =!= 1).isEmpty)
    assert(w.filter(col("quartile") < 1 || col("quartile") > 4).isEmpty)
    assert(w.filter(col("ma3_price").isNull).isEmpty)
    w.unpersist()
  }

  test("profile: one row per column, exact counts, type-appropriate min/max") {
    val rows = Relational.profileQ(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val n = li.count()
    assert(rows.size == 6)
    assert(rows.values.forall(_.getLong(1) == n), "n_rows must be the table size on every row")
    val rf = rows("l_returnflag")
    assert(rf.isNullAt(4) && rf.isNullAt(5), "string column has no numeric min/max")
    assert(rf.getString(6) == li.agg(min("l_returnflag")).head.getString(0))
    assert(rf.getLong(3) == li.select("l_returnflag").distinct().count())
    val qt = rows("l_quantity")
    assert(qt.isNullAt(6) && qt.isNullAt(7), "numeric column has no string min/max")
    assert(qt.getDouble(4) == li.agg(min("l_quantity")).head.getDouble(0))
    assert(qt.getLong(2) == 0, "fixture has no null quantities")
    // codegen-split shape: one pruned scan per subtree (2 wide
    // count/min/max + 6 per-column count_distinct), hash aggregation,
    // and never an Expand-feeding-SortAggregate over |rows|×|cols|
    // tuples (the multi-column count_distinct plan)
    val plan = Relational.profileQ(spark, sf).queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 8, plan)
    assert(!plan.contains("Expand"), plan)
    assert("HashAggregate".r.findAllIn(plan).size >= 12,
      s"distinct and stat aggregates must be hash-based:\n$plan")
    // the wide-schema melt alternative emits the same rows
    val melt = Relational.profileMeltQ(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(melt.keySet == rows.keySet)
    melt.foreach { case (n, m) => assert(m == rows(n), s"$n: melt/split drift") }
  }

  test("approx profile: non-distinct stats exact, HLL within 3·rsd, no data-row shuffle") {
    val approx = Relational.profileApproxQ(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val exact = Relational.profileQ(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (n, e) =>
      val a = approx(n)
      assert(a.getLong(1) == e.getLong(1), s"$n: n_rows must be exact")
      assert(a.getLong(2) == e.getLong(2), s"$n: n_nulls must be exact")
      // min/max are exact aggregates in both forms — value equality, not ≈
      Seq(4, 5).foreach(i => assert(a.isNullAt(i) == e.isNullAt(i) &&
        (a.isNullAt(i) || a.getDouble(i) == e.getDouble(i)), s"$n: min/max_num"))
      Seq(6, 7).foreach(i => assert(a.isNullAt(i) == e.isNullAt(i) &&
        (a.isNullAt(i) || a.getString(i) == e.getString(i)), s"$n: min/max_str"))
      val rel = math.abs(a.getLong(3) - e.getLong(3)).toDouble / math.max(1L, e.getLong(3))
      assert(rel <= 0.15, s"$n: HLL cardinality off by $rel (exact ${e.getLong(3)})")
    }
    // scale shape: no Expand, and no exchange that repartitions data
    // rows — the only exchanges are the single-row partial-agg merges
    // (and broadcast for the 1-row cross joins)
    val plan = Relational.profileApproxQ(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), plan)
    assert(!plan.toLowerCase.contains("hashpartitioning")
      && !plan.toLowerCase.contains("roundrobin"), s"data-row shuffle found:\n$plan")
  }

  test("stats aggregates: corr bounded, variance = stddev², plain partial+final plan") {
    // plan pin BEFORE caching (a cached twin inflates node counts)
    val plan = Relational.statsAggQ(spark, sf).queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(plan).size == 2,
      s"co-moment aggregates must plan partial+final hash aggregation:\n$plan")
    val s = Relational.statsAggQ(spark, sf).cache()
    assert(s.filter(abs(col("corr_qty_price")) > 1.0 + 1e-9).isEmpty)
    assert(s.filter(col("var_qty") < 0 || col("sd_qty") < 0).isEmpty)
    val rows = s.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val sd = r.getAs[Double]("sd_qty")
      assert(math.abs(r.getAs[Double]("var_qty") - sd * sd) < 1e-6 * (1 + sd * sd))
    }
    s.unpersist()
  }

  test("sort_limit returns exactly 10 rows in descending price order") {
    val prices = Relational.sortLimit(spark, sf)
      .select("l_extendedprice").collect().map(_.getDouble(0))
    assert(prices.length == 10)
    assert(prices.sliding(2).forall(p => p(0) >= p(1)))
  }

  test("set ops: intersect ⊆ union, except disjoint from orders") {
    val df = Relational.setOps(spark, sf).cache()
    val u = df.filter(col("op") === "u").select("custkey")
    val i = df.filter(col("op") === "i").select("custkey")
    val e = df.filter(col("op") === "e").select("custkey")
    assert(i.except(u).isEmpty, "intersect must be subset of union")
    val orderCust = spark.read.parquet(s"$sf/orders.parquet").select(col("o_custkey").as("custkey"))
    assert(e.intersect(orderCust).isEmpty, "except must exclude order custkeys")
  }

  test("semi + anti partition the customer table") {
    val df = Relational.joinSemiAnti(spark, sf)
    val total = spark.read.parquet(s"$sf/customer.parquet").count()
    assert(df.count() == total)
    assert(df.select("c_custkey").distinct().count() == total)
  }

  test("cube emits all four grouping levels consistently") {
    val df = Relational.cubeQ(spark, sf).cache()
    val grand = df.filter(col("grp_rf") === "ALL" && col("grp_ls") === "ALL")
    assert(grand.count() == 1)
    val total = spark.read.parquet(s"$sf/lineitem.parquet").count()
    assert(grand.head.getAs[Long]("n_rows") == total)
    // per-level row counts must each sum to the grand total
    val rfOnly = df.filter(col("grp_rf") =!= "ALL" && col("grp_ls") === "ALL")
    assert(rfOnly.agg(sum("n_rows")).head.getLong(0) == total)
  }

  test("as-of join: date at-or-before event, count consistent with null date") {
    val df = Relational.asofJoin(spark, sf).cache()
    val events = graft.sources.Tables.events(spark, sf).count()
    assert(df.count() == events, "one output row per event")
    assert(df.filter(col("n_prior_orders") === 0 && col("asof_orderdate").isNotNull).isEmpty)
    assert(df.filter(col("n_prior_orders") > 0 && col("asof_orderdate").isNull).isEmpty)
  }

  test("session windows: counts sum to events, end - start ≥ gap") {
    val df = EventWindows.sessionCounts(graft.sources.Tables.events(spark, sf)).cache()
    val events = graft.sources.Tables.events(spark, sf).count()
    assert(df.agg(sum("n_events")).head.getLong(0) == events)
    assert(df.filter(col("session_end_us") - col("session_start_us") < 43200000000L).isEmpty,
      "every session spans at least the gap")
  }

  test("partition pruning: date-partitioned write is read selectively") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val events = graft.sources.Tables.events(spark, sf)
      .withColumn("day", to_date(col("ts")))
    events.write.mode("overwrite").partitionBy("day").parquet(dir)
    val oneDay = spark.read.parquet(dir)
      .filter(col("day") === lit("2024-01-05").cast("date"))
    val plan = oneDay.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), plan.take(400))
    assert(plan.contains("day"), "day must appear as a partition filter")
    // pruned scan must not read every partition
    val total = events.count()
    val one = oneDay.count()
    assert(one > 0 && one < total)
  }

  test("dynamic partition pruning fires on a filtered-dim join") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    val events = graft.sources.Tables.events(spark, sf)
      .withColumn("day", to_date(col("ts")))
    events.write.mode("overwrite").partitionBy("day").parquet(dir)
    val fact = spark.read.parquet(dir)
    import spark.implicits._
    // dim: a few days of interest, filtered — the DPP trigger shape.
    // Must be a file-backed relation: a LocalRelation's filter constant-
    // folds away and the pruning rule sees no selective predicate.
    val dimDir = java.nio.file.Files.createTempDirectory("graft_dpp_dim").toString
    (1 to 28).map(d => (java.sql.Date.valueOf(f"2024-01-$d%02d"), d % 3))
      .toDF("day", "tag").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val joined = fact.join(dim.filter(col("tag") === 0), Seq("day"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      "expected a dynamic partition pruning subquery in:\n" + plan.take(600))
    assert(joined.count() > 0)
  }

  test("plan pins: nation broadcasts in rollup, semi join stays broadcast") {
    val rollupPlan = Relational.rollupQ(spark, sf).queryExecution.executedPlan.toString
    assert(rollupPlan.contains("BroadcastHashJoin") || rollupPlan.contains("BroadcastExchange"),
      "nation dim must broadcast")
    val semiPlan = Relational.joinSemiAnti(spark, sf).queryExecution.executedPlan.toString
    assert(semiPlan.contains("LeftSemi") && semiPlan.contains("LeftAnti"),
      "semi/anti join types must survive planning")
  }

  test("exact quantile dispatch: sort plan at fixture size, histogram-select above the size gate") {
    // fixture-sized input → the sort form (the planner-stats dispatch):
    // range exchange for intra-group-parallel ranks, never the builtin
    // `percentile`, whose per-group value→count map OOMs a skewed group
    val q = Relational.quantileQ(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("percentile"),
      s"exact quantile must not use the buffering percentile aggregate:\n${plan.take(600)}")
    assert(plan.toLowerCase.contains("rangepartitioning"),
      s"small input must ride the sort form's range exchange:\n${plan.take(600)}")
    assert(!plan.contains("Window [row_number"),
      s"no per-group row_number window over the full data:\n${plan.take(600)}")
    // forced past the size gate → the histogram-select form: scan 2's
    // pick frame never exchanges the DATA (no range partitioning) and
    // every row_number window is scoped to located buckets (rk in its
    // partition spec); the returned result is a literal |groups|-row
    // frame (driver-interpolated — bounded by the histogram gate)
    val specs3 =
      Seq("l_quantity" -> Seq(0.5 -> "median_qty", 0.95 -> "p95_qty"),
        "l_extendedprice" -> Seq(0.5 -> "median_price"))
    val li3 = graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
    val Some((_, _, picks)) = Relational.selectFormPicks(li3, "l_returnflag", specs3)
    val selPlan = picks.queryExecution.executedPlan.toString
    assert(!selPlan.contains("percentile"), selPlan.take(600))
    assert(!selPlan.toLowerCase.contains("rangepartitioning"),
      s"select form must not range-exchange the data:\n${selPlan.take(600)}")
    val rnLines = selPlan.linesIterator.filter(_.contains("row_number()")).toSeq
    assert(rnLines.nonEmpty, s"expected the in-bucket row_number:\n${selPlan.take(600)}")
    rnLines.foreach(l => assert(l.contains("rk#"),
      s"row_number must be bucket-scoped (rk in partition spec): $l"))
    val selMap = forced("large") { s =>
      val sel = Relational.exactPercentiles(graft.sources.Tables.lineitem(s, sf)
        .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice")),
        "l_returnflag", specs3)
      assert(sel.queryExecution.executedPlan.toString.contains("LocalTableScan"),
        "select form result should be the driver-interpolated literal frame")
      sel.collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    }
    // and the select form agrees with the dispatched query exactly
    q.collect().foreach { r =>
      assert(selMap(r.getString(0)) == ((r.getDouble(1), r.getDouble(2), r.getDouble(3))),
        s"select and sort forms disagree for ${r.getString(0)}")
    }
    graft.ops.PipelineCaches.release(spark)
    // and it must still agree with the buffering builtin to the last ulp
    import org.apache.spark.sql.functions.{col, expr}
    val builtin = graft.sources.Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_quantity, 0.95)").as("p95_qty"),
        expr("percentile(l_extendedprice, 0.5)").as("median_price"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    q.collect().foreach { r =>
      val (m, p95, mp) = builtin(r.getString(0))
      assert(r.getDouble(1) == m && r.getDouble(2) == p95 && r.getDouble(3) == mp,
        s"sort-based percentiles must equal the builtin bitwise for ${r.getString(0)}")
    }
  }

  test("exact percentiles skip nulls per column like the builtin") {
    import org.apache.spark.sql.functions.{col, expr}
    import spark.implicits._
    // g=a: x has a null mid-distribution, y is clean; g=b: y entirely
    // null. The sort-based form must agree with the builtin percentile
    // on every cell, including the all-null → null case.
    // the NULL GROUP KEY is a group like any other (only VALUES are
    // skip-null): a plain equi-join anywhere in the rank pipeline
    // would silently drop its rows and return null percentiles where
    // the builtin computes 5.5 / 60.0 (round-5 review finding)
    val rows = Seq[(String, java.lang.Double, java.lang.Double)](
      ("a", 1.0, 10.0), ("a", null, 20.0), ("a", 2.0, 30.0), ("a", 100.0, 40.0),
      ("b", 5.0, null), ("b", 7.0, null), ("b", 6.0, null),
      (null, 5.0, 50.0), (null, 6.0, 70.0)
    )
    val df = rows.toDF("g", "x", "y")
    val specs = Seq("x" -> Seq(0.5 -> "med_x", 0.95 -> "p95_x"), "y" -> Seq(0.5 -> "med_y"))
    def percentiles(s: org.apache.spark.sql.SparkSession, maxStatsBroadcast: Long) = {
      import s.implicits._
      Relational.exactPercentiles(rows.toDF("g", "x", "y"), "g", specs,
          maxStatsBroadcast = maxStatsBroadcast)
        .collect().map(r => r.getString(0) ->
          (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    }
    // a forced-large session runs the histogram-select form — the tiny
    // df would otherwise dispatch to the sort form (covered below anyway)
    val got = forced("large")(percentiles(_, 200000))
    val want = df.groupBy(col("g"))
      .agg(expr("percentile(x, 0.5)").as("med_x"),
        expr("percentile(x, 0.95)").as("p95_x"),
        expr("percentile(y, 0.5)").as("med_y"))
      .collect().map(r => r.getString(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(got == want,
      s"null-bearing percentiles must match the builtin exactly: got=$got want=$want")
    // the sort fallback obeys the identical semantics — both directly...
    val gotSort = Relational.exactPercentilesBySort(df, "g", specs)
      .collect().map(r => r.getString(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(gotSort == want, s"sort form diverged: $gotSort vs $want")
    // ...and through the group-count gate (a stats frame larger than
    // the gate must dispatch to the sort form, same answer)
    val gotGated = forced("large")(percentiles(_, 0))
    assert(gotGated == want, s"gated dispatch diverged: $gotGated vs $want")
  }

  test("pivot: parity with Dataset.pivot, one exchange; unpivot: no shuffle") {
    import org.apache.spark.sql.functions.{col, sum}
    // semantics pinned against Spark's own pivot operator...
    val got = Relational.pivotQ(spark, sf).collect()
      .map(r => r.getString(0) -> (r.get(1), r.get(2), r.get(3))).toMap
    val builtin = graft.sources.Tables.lineitem(spark, sf)
      .groupBy(col("l_linestatus")).pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum(col("l_quantity"))).collect()
      .map(r => r.getString(0) -> (r.get(1), r.get(2), r.get(3))).toMap
    assert(got == builtin, s"CASE-gated pivot must equal Dataset.pivot: $got vs $builtin")
    // ...while planning HALF the builtin's exchanges (one partial+final
    // agg; the builtin inserts a pre-agg + a pivotfirst agg)
    val plan = Relational.pivotQ(spark, sf).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"gated pivot must shuffle exactly once:\n${plan.take(900)}")
    // unpivot is a Generate/Expand — map-side only, zero exchanges
    val uplan = Relational.unpivotQ(spark, sf).queryExecution.executedPlan.toString
    assert(!uplan.contains("Exchange"),
      s"unpivot must not shuffle:\n${uplan.take(900)}")
  }

  test("approx_percentile within 5% of exact median") {
    // exact medians from the declared exact-percentile query — the
    // comparison lives here so the declared sketch query stays O(sketch)
    val exactByFlag = Relational.quantileQ(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val rows = Relational.quantileApproxQ(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val approx = r.getAs[Double]("median_qty")
      val exact = exactByFlag(r.getString(0))
      assert(math.abs(approx - exact) <= math.max(1.0, exact * 0.05),
        s"approx=$approx exact=$exact")
    }
  }

  test("correlated subqueries decorrelate: no per-row subquery survives the optimizer") {
    val q = Relational.subqueryQ(spark, sf)
    val opt = q.queryExecution.optimizedPlan.toString
    // the scalar subqueries must be rewritten into joins over
    // pre-aggregated lineitem and the EXISTS into a semi-join — a
    // surviving correlated subquery expression would execute per row
    assert(!opt.contains("scalar-subquery"), opt.take(800))
    assert(!opt.toLowerCase.contains("exists"), opt.take(800))
    assert(opt.contains("Join"), opt.take(800))
    val rows = q.collect()
    assert(rows.nonEmpty)
    // spot-check one order against directly computed aggregates
    val k = rows.head.getLong(0)
    val lines = graft.sources.Tables.lineitem(spark, sf)
      .filter(org.apache.spark.sql.functions.col("l_orderkey") === k)
    assert(rows.head.getLong(3) == lines.count())
  }

  test("lateral top-k decorrelates to WindowGroupLimit, bounded per key") {
    val q = Relational.lateralQ(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    // the LIMIT-ed lateral must become a rank window with the top-k
    // bound pushed to WindowGroupLimit (k rows per key leave each map
    // task) — a BroadcastNestedLoopJoin here means decorrelation failed
    // and the subquery would execute per outer row at scale
    assert(plan.contains("WindowGroupLimit"), plan.take(800))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    val got = q.cache()
    val oversize = got.groupBy("n_name").count().filter(col("count") > 2)
    assert(oversize.isEmpty, "a nation emitted more than k=2 customers")
    // per-nation max balance must equal the direct groupBy max
    val direct = graft.sources.Tables.customer(spark, sf)
      .join(graft.sources.Tables.nation(spark, sf),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(max("c_acctbal").as("top_bal"))
    val mismatch = got.groupBy("n_name").agg(max("c_acctbal").as("lat_bal"))
      .join(direct, "n_name").filter(col("lat_bal") =!= col("top_bal"))
    assert(mismatch.isEmpty)
    got.unpersist()
  }

  test("recursive CTE: UnionLoop fixpoint covers every supplier exactly once") {
    val q = Relational.recursiveCteQ(spark, sf)
    assert(q.queryExecution.executedPlan.toString.contains("UnionLoop"),
      "recursive CTE must execute as the iterative UnionLoop, not be flattened")
    val rows = q.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // parent(k) = floor(k/2) reaches root 1 from every key ≥ 1 (key 0 is
    // its own parent and sits outside the rooted tree), so the level
    // sizes must partition the k ≥ 1 keys; each level ≤ 2^depth nodes
    val nSupp = graft.sources.Tables.supplier(spark, sf)
      .filter(col("s_suppkey") >= 1).count()
    assert(rows.values.sum == nSupp, s"levels cover $rows of $nSupp suppliers")
    rows.foreach { case (d, n) =>
      assert(n <= (1L << d.toInt), s"level $d has $n nodes > 2^$d")
    }
  }

  test("approx_count_distinct within 15% of exact") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    val exactByRf = graft.sources.Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = Relational.aggApproxDistinct(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val approx = r.getAs[Long]("approx_parts").toDouble
      val exact = exactByRf(r.getString(0)).toDouble
      assert(math.abs(approx - exact) / exact < 0.15, s"approx=$approx exact=$exact")
    }
  }

  test("upsert: latest-per-key winner, no window sort in the plan") {
    import org.apache.spark.sql.functions.col
    val events = graft.sources.Tables.events(spark, sf)
    // the aggregate form must NOT decay into the per-version window
    // shuffle it exists to avoid: no Window, exactly one exchange, and
    // the partial max_by sits BELOW it (textually after, in the
    // top-down plan print) so only per-key winners cross the network.
    // Plan pin BEFORE caching (see windowAnalytic's comment).
    val plan = Relational.upsertQ(events).queryExecution.executedPlan.toString
    val up = Relational.upsertQ(events).cache()
    assert(!plan.contains("Window"), plan.take(600))
    assert("Exchange".r.findAllIn(plan).size == 1, plan.take(600))
    assert(plan.indexOf("partial_max_by") > plan.indexOf("Exchange hashpartitioning"),
      "partial aggregate must be below the exchange:\n" + plan.take(800))
    // one row per key, and the winner row really exists in the input
    assert(up.count() ==
      events.select("user_id", "event_type").distinct().count())
    val matched = up.join(events,
      up("user_id") === events("user_id") &&
        up("event_type") === events("event_type") &&
        up("last_event_id") === events("event_id") &&
        up("last_ts") === events("ts"))
    assert(matched.count() == up.count(), "winner row missing from input")
    // nothing in the input beats its key's winner on (ts, event_id)
    val beaten = up.join(events,
      up("user_id") === events("user_id") &&
        up("event_type") === events("event_type") &&
        (events("ts") > up("last_ts") ||
          (events("ts") === up("last_ts") && events("event_id") > up("last_event_id"))))
    assert(beaten.isEmpty, "a later version escaped the upsert")
    up.unpersist()
  }

  test("scd2: intervals chain per key, one current version, rows preserved") {
    import org.apache.spark.sql.functions.{col, lead, sum}
    val events = graft.sources.Tables.events(spark, sf)
    val iv = Relational.scd2Q(events).cache()
    assert(iv.count() == events.count())
    // exactly one open-ended current version per key
    val cur = iv.groupBy("user_id", "event_type").agg(sum("is_current").as("nc"))
    assert(cur.filter(col("nc") =!= 1).isEmpty)
    // intervals chain: each version's valid_to equals the next
    // version's valid_from (same ordering key), and never precedes its
    // own valid_from
    assert(iv.filter(col("valid_to") < col("valid_from")).isEmpty)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("valid_from"), col("event_id"))
    val chained = iv.withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .filter(col("valid_to").isNotNull && col("valid_to") =!= col("next_from"))
    assert(chained.isEmpty, "interval chain broken")
    iv.unpersist()
  }

  test("anomaly: rows preserved, z-scores match directly computed stats, stats broadcast") {
    import org.apache.spark.sql.functions.{abs, avg, col, stddev_pop}
    val events = graft.sources.Tables.events(spark, sf)
    val plan = Relational.anomalyQ(events).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(600))
    val an = Relational.anomalyQ(events).cache()
    assert(an.count() == events.count())
    // recompute one group's moments directly and cross-check a row
    val g = events.filter(col("event_type") === "pv")
    if (g.count() > 1) {
      val st = g.agg(avg("value").as("mu"), stddev_pop("value").as("sd")).head
      val (mu, sd) = (st.getDouble(0), st.getDouble(1))
      val row = an.filter(col("event_type") === "pv").orderBy(col("event_id")).head
      val expected = (row.getDouble(2) - mu) / sd
      assert(math.abs(row.getDouble(3) - expected) < 1e-9)
    }
    // flags agree with the threshold everywhere
    assert(an.filter(col("is_anomaly") === 1L && abs(col("zscore")) <= 3.0).isEmpty)
    assert(an.filter(col("is_anomaly") === 0L && abs(col("zscore")) > 3.0).isEmpty)
    an.unpersist()
  }

  test("windowRange: frame equals driver-replayed 30-day value range; peers share results; one exchange") {
    val q = Relational.windowRange(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1,
      "both frame aggregates must share one custkey exchange\n" + plan.take(600))
    val rows = q.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // driver replay from the raw table: value-range frame, not row-range
    val base = graft.sources.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("d"),
        col("o_totalprice"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val byCust = base.groupBy(_._2)
    val want = base.map { case (ok, ck, d, _) =>
      val frame = byCust(ck).filter(o => o._3 >= d - 29 && o._3 <= d)
      // exact decimal sum like the query's DECIMAL(20,6) intermediate
      val s = frame.map(o => BigDecimal(o._4).setScale(6,
        BigDecimal.RoundingMode.HALF_UP)).sum
      (ok, ck, s.toDouble, frame.length.toLong)
    }.toSet
    assert(rows.toSet == want)
    // peer inclusion: same (custkey, day) rows carry identical frames
    val dayOf = base.map(b => (b._1, b._2) -> b._3).toMap
    rows.groupBy(r => (r._2, dayOf((r._1, r._2)))).foreach { case (_, g) =>
      assert(g.map(x => (x._3, x._4)).distinct.length == 1,
        "same-day peers must share the frame result")
    }
  }

  test("hist: buckets clamped, counts total, one exchange") {
    import org.apache.spark.sql.functions.{col, sum}
    val events = graft.sources.Tables.events(spark, sf)
    // plan pin BEFORE caching (see windowAnalytic's comment)
    val plan = Relational.histQ(events).queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1, plan.take(600))
    val h = Relational.histQ(events).cache()
    assert(h.filter(col("bucket") < 0 || col("bucket") > 9).isEmpty)
    assert(h.agg(sum("n")).head.getLong(0) == events.count())
    // out-of-range values clamp into the edge buckets instead of
    // vanishing (the append-stability property fixed bounds exist for)
    import spark.implicits._
    val wild = Seq(("a", -5.0), ("a", 1e9)).toDF("event_type", "value")
    val hw = Relational.histQ(wild)
    assert(hw.filter(col("bucket") === 0).count() == 1)
    assert(hw.filter(col("bucket") === 9).count() == 1)
    h.unpersist()
  }

  test("winsorize: clip fractions bounded by the percentile definition, " +
    "mean inside the cut band, exact driver replay") {
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_extendedprice").collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    val got = Relational.winsorizeQ(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    val byG = li.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(got.keySet == byG.keySet)
    got.foreach { case (g, (n, cl, ch, wm)) =>
      val xs = byG(g)
      assert(n == xs.length.toLong)
      // percentile definition bounds the clipped tails
      assert(cl <= math.ceil(0.05 * n).toLong && ch <= math.ceil(0.05 * n).toLong,
        s"$g clipped more than the tail")
      assert(cl >= 1 && ch >= 1, s"$g fixture must exercise both clips")
      // driver replay: interpolated cutoffs on the 6-dp grid, clipped
      // decimal-exact mean
      def pct(p: Double): Double = {
        val pos = p * (xs.length - 1)
        val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
        val v = if (lo == hi) xs(lo) else xs(lo) * (hi - pos) + xs(hi) * (pos - lo)
        BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val (lo6, hi6) = (pct(0.05), pct(0.95))
      val wsum = xs.map(x => BigDecimal(math.max(lo6, math.min(hi6, x)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
      val want = (wsum / n).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(wm - want) < 2e-6, s"$g mean $wm vs $want")
      assert(wm >= lo6 - 1e-9 && wm <= hi6 + 1e-9, s"$g mean outside the band")
    }
  }
}
