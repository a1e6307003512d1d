package graft.declared

import org.apache.spark.sql.functions.{col, unix_timestamp}

import graft.ops.{BloomJoin, EventWindows, Layout, Relational, Skew}
import graft.sources.Tables

/** Relational core (aggregates, joins, windows, CDC, skew and bloom joins,
  * z-order stats), the source formats, the bucketed catalog layout and the
  * batch replicas of the reference jobs' event-time windows. */
object RelationalQueries {

  def declared: Seq[Declared] = Seq(
    // relational core
    Declared("q_scan_project", (s, d) => Relational.scanProject(s, d), Some(
      """SELECT l_orderkey, l_linenumber, CAST(floor(l_quantity) AS BIGINT) AS qty_int,
        |l_extendedprice*(1-l_discount) AS net_price,
        |l_extendedprice*(1-l_discount)*(1+l_tax) AS charged FROM lineitem""".stripMargin)),
    Declared("q_filter", (s, d) => Relational.filterQ(s, d), Some(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate, l_returnflag FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        |AND l_returnflag = 'R' AND l_linestatus LIKE 'F%'""".stripMargin)),
    Declared("q_agg_group", (s, d) => Relational.aggGroup(s, d), Some(AggGroupOracleSql)),
    // the same aggregate over the bucket-sorted lineitem catalog table —
    // the layout a deployment scans (many files → parallel map-phase
    // decimal partials; the raw fixture is one row group = one map
    // task). Answer identical by gate; first call pays the one-time
    // bucketed write like q_join_inner_bucketed.
    Declared("q_agg_group_bucketed", (s, d) => {
      graft.sources.Bucketing.ensureFactTables(s, d)
      Relational.aggGroupBucketed(s, d)
    }, Some(AggGroupOracleSql)),
    Declared("q_agg_distinct", (s, d) => Relational.aggDistinct(s, d), Some(
      """SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts, count(*) AS n_rows
        |FROM lineitem GROUP BY l_suppkey""".stripMargin)),
    // sketch cardinality under the hash gate: the declared query emits
    // the exact twin + the ±3·rsd law as data (pure sketch form stays
    // the production path — Relational.aggApproxDistinct)
    // HLL gate: exact cardinality + the ±3·rsd law as literal TRUE
    Declared("q_agg_approx_distinct", (s, d) => Relational.aggApproxDistinctGated(s, d), Some(
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts_exact,
        |TRUE AS within_3rsd FROM lineitem GROUP BY l_returnflag""".stripMargin)),
    Declared("q_rollup", (s, d) => Relational.rollupQ(s, d), Some(
      """SELECT coalesce(n_name, 'ALL') AS grp_nation, CAST(coalesce(y, -1) AS BIGINT) AS grp_year,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE) AS revenue, count(*) AS n_orders
        |FROM (SELECT n_name, year(o_orderdate) AS y, o_totalprice FROM orders
        |JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey) t
        |GROUP BY ROLLUP(n_name, y)""".stripMargin)),
    Declared("q_cube", (s, d) => Relational.cubeQ(s, d), Some(
      """SELECT coalesce(l_returnflag, 'ALL') AS grp_rf, coalesce(l_linestatus, 'ALL') AS grp_ls,
        |sum(l_quantity) AS sum_qty,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) AS sum_price,
        |count(*) AS n_rows FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin)),
    Declared("q_join_inner", (s, d) => Relational.joinInner(s, d), Some(JoinInnerOracleSql)),
    // the same semantics on bucket-sorted catalog tables — the plan the
    // 100 TB fact join actually runs (exchange-free SMJ on the fact
    // edge; BucketingSpec pins the no-Exchange shape). First call per
    // (session, dir) pays the one-time bucketed write, like every other
    // persisted-artifact query here.
    Declared("q_join_inner_bucketed", (s, d) => {
      graft.sources.Bucketing.ensureFactTables(s, d)
      Relational.joinInnerBucketed(s, d)
    }, Some(JoinInnerOracleSql)),
    Declared("q_join_outer", (s, d) => Relational.joinOuter(s, d), Some(
      """SELECT c_custkey, c_mktsegment, count(o_orderkey) AS n_orders,
        |coalesce(sum(o_totalprice), 0.0) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_mktsegment""".stripMargin)),
    Declared("q_join_semi_anti", (s, d) => Relational.joinSemiAnti(s, d), Some(
      """SELECT 'has_order' AS tag, c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT 'no_order' AS tag, c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),
    Declared("q_join_theta", (s, d) => Relational.joinTheta(s, d), Some(
      """SELECT p_brand, count(*) AS n_matches, sum(l_quantity) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey AND l_quantity < p_size
        |GROUP BY p_brand""".stripMargin)),
    Declared("q_join_asof", (s, d) => Relational.asofJoin(s, d), Some(
      """SELECT e.event_id, e.user_id, max(o.o_orderdate) AS asof_orderdate,
        |count(o.o_orderkey) AS n_prior_orders
        |FROM events e LEFT JOIN orders o
        |ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |GROUP BY e.event_id, e.user_id""".stripMargin)),
    // staleness-bounded as-of (pandas merge_asof tolerance): latest
    // order at-or-before AND within 365 days, else null
    Declared("q_join_asof_tol", (s, d) => Relational.asofJoinTolerance(s, d), Some(
      """SELECT e.event_id, e.user_id, max(o.o_orderdate) AS asof_orderdate,
        |count(o.o_orderkey) AS n_recent_orders
        |FROM events e LEFT JOIN orders o
        |ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |AND o.o_orderdate >= CAST(e.ts AS DATE) - 365
        |GROUP BY e.event_id, e.user_id""".stripMargin)),
    Declared("q_join_range", (s, d) => Relational.rangeJoinQ(s, d), Some(
      """SELECT CAST(n_nationkey AS BIGINT) AS band_id, count(*) AS n_orders,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE) AS total
        |FROM orders JOIN nation
        |ON o_totalprice BETWEEN n_nationkey * 20000.0 AND n_nationkey * 20000.0 + 39999.99
        |GROUP BY n_nationkey""".stripMargin)),
    Declared("q_setops", (s, d) => Relational.setOps(s, d), Some(
      """SELECT 'u' AS op, custkey FROM (SELECT o_custkey AS custkey FROM orders
        |UNION SELECT c_custkey FROM customer WHERE c_acctbal > 5000) t1
        |UNION ALL
        |SELECT 'i' AS op, custkey FROM (SELECT o_custkey AS custkey FROM orders
        |INTERSECT SELECT c_custkey FROM customer WHERE c_acctbal > 5000) t2
        |UNION ALL
        |SELECT 'e' AS op, custkey FROM (SELECT c_custkey AS custkey FROM customer
        |WHERE c_acctbal > 5000 EXCEPT SELECT o_custkey FROM orders) t3""".stripMargin)),
    Declared("q_pivot", (s, d) => Relational.pivotQ(s, d), Some(
      """SELECT l_linestatus,
        |sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS qty_a,
        |sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS qty_n,
        |sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS qty_r
        |FROM lineitem GROUP BY l_linestatus""".stripMargin)),
    Declared("q_unpivot", (s, d) => Relational.unpivotQ(s, d), Some(
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value
        |FROM lineitem WHERE l_orderkey < 100
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        |FROM lineitem WHERE l_orderkey < 100
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |FROM lineitem WHERE l_orderkey < 100
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        |FROM lineitem WHERE l_orderkey < 100""".stripMargin)),
    Declared("q_sql", (s, d) => Relational.sqlQ(s, d), Some(graft.ops.Relational.SqlQText)),
    Declared("q_subquery", (s, d) => Relational.subqueryQ(s, d), Some(graft.ops.Relational.SubqueryQText)),
    // LIMIT-ed LATERAL subquery, decorrelated by Catalyst into a rank
    // window with WindowGroupLimit pushdown (k rows per key leave each
    // map task — the scale-right per-key top-k plan)
    Declared("q_lateral", (s, d) => Relational.lateralQ(s, d), Some(graft.ops.Relational.LateralQText)),
    // WITH RECURSIVE fixpoint (Spark 4 UnionLoop): hierarchy walk whose
    // iteration count is the tree DEPTH, each level one distributed join
    Declared("q_recursive_cte", (s, d) => Relational.recursiveCteQ(s, d), Some(graft.ops.Relational.RecursiveCteQText)),
    Declared("q_window_rank", (s, d) => Relational.windowRank(s, d), Some(
      """SELECT * FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn,
        |sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_spent
        |FROM orders) t WHERE rn <= 3""".stripMargin)),
    Declared("q_window_analytic", (s, d) => Relational.windowAnalytic(s, d), Some(
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_price,
        |lead(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS next_price,
        |avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ma3_price,
        |CAST(ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS BIGINT) AS quartile,
        |first_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_order
        |FROM orders""".stripMargin)),
    // value-RANGE frame (rolling 30-day spend) — peer-inclusive, so
    // deterministic under same-day order ties where ROWS would not be
    Declared("q_window_range", (s, d) => Relational.windowRange(s, d), Some(
      """SELECT o_orderkey, o_custkey,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(20,6))) OVER w AS DOUBLE) AS sum_30d,
        |CAST(count(*) OVER w AS BIGINT) AS n_30d
        |FROM (SELECT o_orderkey, o_custkey, o_totalprice,
        |date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS epoch_day
        |FROM orders) o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_day
        |RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)""".stripMargin)),
    // ORC round-trip: lineitem converted once, read back through the ORC
    // scanner with pushdown + pruning (FormatsSpec pins the plan facts)
    // q_source_orc's oracle reads the PARQUET lineitem — the round-trip
    // through ORC must be value-exact, which is exactly the gate
    Declared("q_source_orc", (s, d) => graft.sources.Formats.orcScanAggQ(s, d), Some(
      """SELECT l_returnflag, count(*) AS n_items,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |GROUP BY l_returnflag""".stripMargin)),
    // text-format seams: typed write → schema-on-read, value-exact vs
    // the parquet oracle (CSV for tabular lanes, JSONL for free text)
    Declared("q_source_csv", (s, d) => graft.sources.Formats.csvScanAggQ(s, d), Some(
      """SELECT l_linestatus, count(*) AS n_items,
        |CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_linestatus""".stripMargin)),
    Declared("q_source_jsonl", (s, d) => graft.sources.Formats.jsonlStatsQ(s, d), Some(
      """SELECT source, count(*) AS n_docs,
        |CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |max(doc_id) AS max_doc_id FROM documents GROUP BY source""".stripMargin)),
    Declared("q_profile", (s, d) => Relational.profileQ(s, d), Some(ProfileOracleSql)),
    // the sketch form a 100 TB corpus profiles with FIRST, under the
    // hash gate: exact lanes + the HLL ±3·rsd law emitted as data
    // against the exact melt (pure sketch form stays the production
    // path — Relational.profileApproxQ)
    // sketch-profile gates: the exact profile text plus the HLL law
    // boolean (both gated forms emit exact lanes + nd_ok)
    Declared("q_profile_approx", (s, d) => Relational.profileApproxGated(s, d), Some(ProfileGatedOracleSql)),
    Declared("q_stats_agg", (s, d) => Relational.statsAggQ(s, d), Some(
      """SELECT l_returnflag, corr(l_quantity, l_extendedprice) AS corr_qty_price,
        |covar_samp(l_quantity, l_extendedprice) AS covar_qty_price,
        |stddev_samp(l_quantity) AS sd_qty, stddev_samp(l_extendedprice) AS sd_price,
        |var_samp(l_quantity) AS var_qty, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),
    Declared("q_sort_limit", (s, d) => Relational.sortLimit(s, d), Some(
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC LIMIT 10""".stripMargin)),
    Declared("q_scalar", (s, d) => Relational.scalarQ(s, d), Some(
      """SELECT p_partkey, upper(substring(p_name, 1, 8)) AS name_prefix,
        |CAST(length(p_name) AS BIGINT) AS name_len,
        |concat_ws('/', p_brand, p_type) AS brand_type,
        |regexp_replace(p_name, 'a', '_', 'g') AS name_sub,
        |abs(p_retailprice - 1000.0) AS price_dist,
        |CAST(floor(p_retailprice / 100.0) AS BIGINT) AS price_bucket,
        |p_partkey % 7 AS key_mod
        |FROM part WHERE p_type LIKE '%BRASS%' OR p_size < 15""".stripMargin)),
    Declared("q_json", (s, d) => Relational.jsonQ(s, d), Some(
      """SELECT k, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k
        |FROM (SELECT CAST(props->>'$.k' AS INT) AS k FROM events) t GROUP BY k""".stripMargin)),
    Declared("q_map", (s, d) => Relational.mapQ(s, d), Some(
      """SELECT key, count(*) AS n,
        |CAST(sum(CAST(json_extract_string(props, '$.' || key) AS INT)) AS BIGINT) AS sum_val
        |FROM (SELECT unnest(json_keys(props)) AS key, props FROM events) t
        |GROUP BY key""".stripMargin)),
    Declared("q_array", (s, d) => Relational.arrayQ(s, d), Some(
      """SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS first_dim,
        |CAST(len(embedding) AS BIGINT) AS dim,
        |CAST(list_max(embedding) AS DOUBLE) AS max_dim,
        |CAST(list_min(embedding) AS DOUBLE) AS min_dim FROM embeddings""".stripMargin)),
    Declared("q_quantile", (s, d) => Relational.quantileQ(s, d), Some(
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty,
        |quantile_cont(l_quantity, 0.95) AS p95_qty,
        |quantile_cont(l_extendedprice, 0.5) AS median_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),
    // winsorized per-group stats: clip at the group's exact 6-dp
    // [p05, p95], clipped sums exact in DECIMAL
    // winsorize: cutoffs rounded to 6 dp BEFORE clipping so the
    // DECIMAL cast is exact on both the raw 2-dp prices and the cutoff
    Declared("q_winsorize", (s, d) => Relational.winsorizeQ(s, d), Some(
      """WITH c AS (SELECT l_returnflag,
        |round(quantile_cont(l_extendedprice, 0.05), 6) AS lo,
        |round(quantile_cont(l_extendedprice, 0.95), 6) AS hi
        |FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_returnflag, count(*) AS n,
        |CAST(sum(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
        |CAST(sum(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
        |round(CAST(sum(CAST(greatest(lo, least(hi, l_extendedprice)) AS DECIMAL(20,6))) AS DOUBLE)
        |/ count(*), 6) AS w_mean
        |FROM lineitem l JOIN c USING (l_returnflag) GROUP BY l.l_returnflag""".stripMargin)),
    // the GK sketch's own rank contract under the hash gate (pure
    // sketch form stays the production path — Relational.quantileApproxQ)
    // GK-sketch rank-contract gate: exact group sizes + law booleans
    Declared("q_quantile_approx", (s, d) => Relational.quantileApproxGated(s, d), Some(
      """SELECT l_returnflag, count(l_quantity) AS n, TRUE AS median_rank_ok,
        |TRUE AS p95_rank_ok FROM lineitem GROUP BY l_returnflag""".stripMargin)),
    Declared("q_grouping_sets", (s, d) => Relational.groupingSetsQ(s, d), Some(graft.ops.Relational.GroupingSetsQText)),
    Declared("q_date", (s, d) => Relational.dateQ(s, d), Some(
      """SELECT y, m, month_start, count(*) AS n_orders, min(d) AS first_day, max(d) AS last_day
        |FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS y, CAST(month(o_orderdate) AS BIGINT) AS m,
        |CAST(day(o_orderdate) AS BIGINT) AS d, date_trunc('month', o_orderdate) AS month_start
        |FROM orders) t GROUP BY y, m, month_start""".stripMargin)),
    // reference-job replicas: batch twins of the graft.streaming jobs, same EventWindows
    // definitions; event_type stands in for Job A's (appid, type) key
    Declared("q_win_tumble", (s, d) => EventWindows.tumbleCounts(Tables.events(s, d), "event_type")
      .select(unix_timestamp(col("window.end")).as("win_end"), col("event_type"), col("count").as("cnt")), Some(
      """SELECT CAST(floor(epoch_us(ts)/30000000) AS BIGINT)*30 + 30 AS win_end, event_type,
        |count(*) AS cnt FROM events GROUP BY 1, 2""".stripMargin)),
    // fanout: the panes replicate each row 12× before the partial aggregate; purchase ≙ Job B's pv
    Declared("q_win_slide_topn", (s, d) => EventWindows.slideTopN(
        Tables.fanout(Tables.events(s, d)).filter(col("event_type") === "purchase"), "user_id")
      .select(unix_timestamp(col("windowEnd")).as("win_end"), col("user_id"), col("count").as("cnt"),
        col("rank").as("rnk")), Some(
      """WITH counts AS (
        |SELECT (CAST(floor(epoch_us(ts)/300000000) AS BIGINT) - g)*300 + 3600 AS win_end,
        |user_id, count(*) AS cnt
        |FROM events CROSS JOIN (SELECT unnest(range(0,12)) AS g) gs
        |WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT * FROM (SELECT win_end, user_id, cnt,
        |CAST(row_number() OVER (PARTITION BY win_end ORDER BY cnt DESC, user_id ASC) AS BIGINT) AS rnk
        |FROM counts) t WHERE rnk <= 3""".stripMargin)),
    Declared("q_win_session", (s, d) => EventWindows.sessionCounts(Tables.events(s, d)), Some(
      """WITH l AS (SELECT user_id, epoch_us(ts) AS tus,
        |lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS pus FROM events),
        |g AS (SELECT user_id, tus, sum(CASE WHEN pus IS NULL OR tus - pus >= 43200000000 THEN 1 ELSE 0 END)
        |OVER (PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING) AS sid FROM l)
        |SELECT user_id, min(tus) AS session_start_us, max(tus) + 43200000000 AS session_end_us,
        |count(*) AS n_events FROM g GROUP BY user_id, sid""".stripMargin)),
    // The bloom prune must be invisible: plain filtered join.
    Declared("q_bloom_join", (s, d) => BloomJoin.bloomJoinQ(s, d), Some(
      """SELECT o_orderpriority, sum(l_quantity) AS total_qty, count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderpriority""".stripMargin)),
    Declared("q_skew_agg", (s, d) => Skew.skewAggQ(s, d), Some(
      """SELECT l_returnflag, sum(l_quantity) AS total, count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),
    Declared("q_skew_join", (s, d) => Skew.skewJoinQ(s, d), Some(
      """SELECT o_orderpriority, sum(l_quantity) AS total_qty, count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin)),
    // CDC upsert compaction: one max_by hash aggregate, map-side
    // partials keep the per-key winner (no per-version window sort)
    // Same total ordering key (ts DESC, event_id DESC) as the engine's
    // max_by struct — the window form here is the semantic spec, the
    // engine's aggregate form is the scale shape.
    Declared("q_upsert", (s, d) => Relational.upsertQ(Tables.events(s, d)), Some(
      """WITH v AS (SELECT user_id, event_type, event_id, ts, value,
        |row_number() OVER (PARTITION BY user_id, event_type
        |ORDER BY ts DESC, event_id DESC) AS rn,
        |count(*) OVER (PARTITION BY user_id, event_type) AS n_versions
        |FROM events)
        |SELECT user_id, event_type, event_id AS last_event_id, ts AS last_ts,
        |value AS last_value, n_versions FROM v WHERE rn = 1""".stripMargin)),
    // fixed-bound equi-width histogram: single-pass, append-mergeable
    Declared("q_hist", (s, d) => Relational.histQ(Tables.events(s, d)), Some(
      """SELECT event_type,
        |CAST(least(greatest(floor(value / 50.0), 0), 9) AS BIGINT) AS bucket,
        |count(*) AS n, min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY 1, 2""".stripMargin)),
    // SCD2 validity intervals: one per-key window over (ts, event_id)
    Declared("q_scd2", (s, d) => Relational.scd2Q(Tables.events(s, d)), Some(
      """SELECT user_id, event_type, event_id, value, ts AS valid_from,
        |lead(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS valid_to,
        |CAST((lead(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) IS NULL) AS BIGINT) AS is_current
        |FROM events""".stripMargin)),
    // content-hash CDC between two crawl snapshots (B synthesized
    // deterministically from the fixture, mirrored in the oracle)
    // Content-hash CDC: snapshot B = fixture minus doc_id%17==3, with
    // doc_id%17==5 re-crawled (' v2' suffix) and a new page per
    // doc_id%17==7 (id + 300000, synthesized body).
    Declared("q_snapshot_diff", (s, d) => Relational.snapshotDiffQ(s, d), Some(
      """WITH a AS (SELECT doc_id, md5(text) AS h FROM documents),
        |b AS (SELECT doc_id,
        |md5(CASE WHEN doc_id % 17 = 5 THEN text || ' v2' ELSE text END) AS h
        |FROM documents WHERE doc_id % 17 <> 3
        |UNION ALL SELECT doc_id + 300000,
        |md5('new snapshot doc ' || CAST(doc_id AS VARCHAR))
        |FROM documents WHERE doc_id % 17 = 7)
        |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |CASE WHEN a.doc_id IS NULL THEN 'added'
        |WHEN b.doc_id IS NULL THEN 'removed'
        |WHEN a.h <> b.h THEN 'changed' ELSE 'unchanged' END AS status
        |FROM a FULL JOIN b ON a.doc_id = b.doc_id""".stripMargin)),
    // per-group z-score flags: stats aggregate + broadcast join back,
    // never a per-row window buffer
    Declared("q_anomaly", (s, d) => Relational.anomalyQ(Tables.events(s, d)), Some(
      """WITH s AS (SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sigma
        |FROM events GROUP BY event_type)
        |SELECT e.event_type, e.event_id, e.value,
        |(e.value - s.mu) / nullif(s.sigma, 0) AS zscore,
        |CAST((abs((e.value - s.mu) / nullif(s.sigma, 0)) > 3.0) AS BIGINT) AS is_anomaly
        |FROM events e JOIN s USING (event_type)""".stripMargin)),
    // Z-order layout: morton interleave + per-bucket (user, value)
    // envelopes — the file-stats picture a zordered write would prune by
    // The 16-term interleave is generated, not hand-spelled, so the bit
    // layout cannot drift from Layout.zValue's fold.
    Declared("q_zorder", (s, d) => Layout.zorderStatsQ(Tables.events(s, d)), Some {
      val terms = (0 until 8).flatMap(i => Seq(
        s"(((ux >> $i) & 1) << ${2 * i})",
        s"(((vy >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
      s"""WITH b AS (SELECT user_id, value, user_id & 255 AS ux,
         |CAST(least(greatest(floor(value / 2.0), 0), 255) AS BIGINT) AS vy FROM events),
         |z AS (SELECT user_id, value, ($terms) AS z FROM b)
         |SELECT z >> 11 AS zbucket, count(*) AS n,
         |min(user_id) AS min_user, max(user_id) AS max_user,
         |min(value) AS min_value, max(value) AS max_value,
         |min(z) AS min_z, max(z) AS max_z
         |FROM z GROUP BY 1""".stripMargin
    }),
    // interval × interval overlap join, double-sided binning (no equi key)
    // Interval-overlap join: the oracle is the plain non-equi overlap
    // join (DuckDB plans it as an IEJoin); the engine's binned equi form
    // must produce the identical aggregate. Transit spans synthesize
    // deterministically from (l_orderkey, l_linenumber).
    Declared("q_join_interval", (s, d) => Relational.intervalJoinQ(s, d), Some(
      """WITH p AS (SELECT o_orderkey,
        |date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) AS p_lo,
        |date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) + 3 AS p_hi
        |FROM orders WHERE o_orderpriority = '1-URGENT'),
        |t AS (SELECT l_quantity,
        |date_diff('day', TIMESTAMP '1970-01-01', l_shipdate) AS t_lo,
        |date_diff('day', TIMESTAMP '1970-01-01', l_shipdate) + 1
        |+ ((l_orderkey * 7 + l_linenumber) % 28) AS t_hi
        |FROM lineitem WHERE l_quantity > 45)
        |SELECT o_orderkey, count(*) AS n_in_transit,
        |CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS qty_in_transit
        |FROM p JOIN t ON p_lo <= t_hi AND t_lo <= p_hi
        |GROUP BY o_orderkey""".stripMargin)),
    // bounded-buffer per-group top-k aggregate (map-side partial top-k)
    // Top-k aggregate: the oracle is the rank-filter spelling with the
    // identical deterministic tie-break (score desc, key asc).
    Declared("q_topk_agg", (s, d) => Relational.topKAggQ(s, d), Some(
      """SELECT o_orderpriority, CAST(rnk AS BIGINT) AS rnk, o_orderkey, o_totalprice
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |row_number() OVER (PARTITION BY o_orderpriority
        |ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |FROM orders) z WHERE rnk <= 3""".stripMargin))
  )

  /** The exact per-column profile oracle — declared for q_profile and
    * reused (wrapped with the law booleans) by the two sketch-profile
    * gates, so all three profiles share ONE ground-truth text. */
  private val ProfileOracleSql: String =
    """SELECT 'l_orderkey' AS column_name, count(*) AS n_rows,
      |count(*) - count(l_orderkey) AS n_nulls, count(DISTINCT l_orderkey) AS n_distinct,
      |CAST(min(l_orderkey) AS DOUBLE) AS min_num, CAST(max(l_orderkey) AS DOUBLE) AS max_num,
      |CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM lineitem
      |UNION ALL SELECT 'l_quantity', count(*), count(*) - count(l_quantity),
      |count(DISTINCT l_quantity), CAST(min(l_quantity) AS DOUBLE),
      |CAST(max(l_quantity) AS DOUBLE), NULL, NULL FROM lineitem
      |UNION ALL SELECT 'l_extendedprice', count(*), count(*) - count(l_extendedprice),
      |count(DISTINCT l_extendedprice), CAST(min(l_extendedprice) AS DOUBLE),
      |CAST(max(l_extendedprice) AS DOUBLE), NULL, NULL FROM lineitem
      |UNION ALL SELECT 'l_shipdate', count(*), count(*) - count(l_shipdate),
      |count(DISTINCT l_shipdate), epoch(min(l_shipdate)), epoch(max(l_shipdate)),
      |NULL, NULL FROM lineitem
      |UNION ALL SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
      |count(DISTINCT l_returnflag), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
      |min(l_returnflag), max(l_returnflag) FROM lineitem
      |UNION ALL SELECT 'l_linestatus', count(*), count(*) - count(l_linestatus),
      |count(DISTINCT l_linestatus), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
      |min(l_linestatus), max(l_linestatus) FROM lineitem""".stripMargin

  private val AggGroupOracleSql: String =
    """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
      |CAST(sum(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) AS sum_base_price,
      |CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS sum_disc_price,
      |avg(l_quantity) AS avg_qty, min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship,
      |count(*) AS count_order FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  private val JoinInnerOracleSql: String =
    """SELECT c_mktsegment,
      |CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS revenue,
      |count(*) AS n_items
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey GROUP BY c_mktsegment""".stripMargin

  private[declared] val ProfileGatedOracleSql: String =
    s"SELECT *, TRUE AS nd_ok FROM ($ProfileOracleSql) p"
}
