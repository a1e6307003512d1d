package graft.declared

import graft.ops.EventAnalytics
import graft.sources.Tables

/** Event analytics over the `events` table: sessions, funnels, retention,
  * MAU, the A/B test and the transition-graph ranks (PageRank, LPA, HITS). */
object EventQueries {

  def declared: Seq[Declared] = Seq(
    // event-log analytics: the ordered per-user family the reference's
    // windowed counts generalize to — each pays the user_id exchange once
    // Gap arithmetic is integer epoch-microseconds on both sides
    // (720 min = 43_200_000_000 us); ties on ts order by event_id.
    Declared("q_sessionize", (s, d) => EventAnalytics.sessionize(Tables.events(s, d)), Some(
      """WITH g AS (SELECT user_id, event_id, ts, value,
        |CASE WHEN lag(ts) OVER w IS NULL
        |OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 43200000000 THEN 1 ELSE 0 END AS new_sess
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, value,
        |sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_no FROM g)
        |SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
        |min(ts) AS session_start, max(ts) AS session_end,
        |CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 6) AS total_value
        |FROM s GROUP BY user_id, session_no""".stripMargin)),
    // Chained conditional minima: each stage's CTE may only reference the
    // previous stage's window result — the stacked-CTE form of the
    // engine's three chained Window nodes.
    Declared("q_funnel", (s, d) => EventAnalytics.funnel(Tables.events(s, d)), Some(
      """WITH f AS (SELECT user_id, event_type, ts FROM events
        |WHERE event_type IN ('view', 'click', 'purchase')),
        |a AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
        |OVER (PARTITION BY user_id) AS t1 FROM f),
        |b AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
        |OVER (PARTITION BY user_id) AS t2 FROM a),
        |c AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
        |OVER (PARTITION BY user_id) AS t3 FROM b)
        |SELECT user_id, min(t1) AS t_stage1, min(t2) AS t_stage2, min(t3) AS t_stage3,
        |CAST(min(t1) IS NOT NULL AS BIGINT) + CAST(min(t2) IS NOT NULL AS BIGINT)
        |+ CAST(min(t3) IS NOT NULL AS BIGINT) AS stage_reached
        |FROM c GROUP BY user_id""".stripMargin)),
    Declared("q_retention", (s, d) => EventAnalytics.retention(Tables.events(s, d)), Some(
      """WITH fd AS (SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
        |FROM events GROUP BY user_id),
        |ad AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_day FROM events)
        |SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day,
        |CAST(date_diff('day', cohort_day, active_day) AS INT) AS day_offset,
        |CAST(count(*) AS BIGINT) AS n_users
        |FROM ad JOIN fd USING (user_id)
        |WHERE date_diff('day', cohort_day, active_day) <= 7
        |GROUP BY 1, 2""".stripMargin)),
    // weighted PageRank over the per-user page-transition graph: edge
    // list aggregated once, 5 damped iterations in integer nano-rank
    // arithmetic (bit-replayable — no distributed double sums)
    // 5 unrolled damped iterations in integer nano-rank arithmetic —
    // truncating division both at the contribution and the damping, so
    // the chained iterations replay bit-identically
    Declared("q_pagerank", (s, d) => EventAnalytics.pageRankQ(Tables.events(s, d)), Some(pageRankOracleSql(5))),
    // synchronous label-propagation communities over the symmetrized
    // transition graph: 2 fixed rounds, max-weight label, min-label
    // tie-break — (community, size) histogram
    // LPA communities: 2 unrolled synchronous rounds over the
    // symmetrized edge CTE, exact integer weights, min-label ties
    Declared("q_label_prop", (s, d) => EventAnalytics.labelPropQ(Tables.events(s, d)), Some(labelPropOracleSql(2))),
    // HITS hubs/authorities: 3 mutual-reinforcement rounds on the nano
    // grid with max-norm renorm, top-20 by authority
    // HITS: 3 unrolled (authority, hub) rounds, nano max-norm; the
    // edge-index reads share the batch oracles (edge additivity)
    Declared("q_hits", (s, d) => EventAnalytics.hitsQ(Tables.events(s, d)), Some(hitsOracleSql(3))),
    // rolling 30-day distinct users per active day: bounded-replication
    // explode, equi-keyed distinct count - the sliding-DISTINCT shape
    // MAU: the plain BETWEEN spelling over the activity spine
    Declared("q_mau", (s, d) => EventAnalytics.mauQ(Tables.events(s, d)), Some(
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |spine AS (SELECT DISTINCT day AS report_day FROM act)
        |SELECT CAST(s.report_day AS TIMESTAMP) AS report_day,
        |CAST(count(DISTINCT a.user_id) AS BIGINT) AS mau
        |FROM spine s JOIN act a
        |ON a.day BETWEEN s.report_day - 29 AND s.report_day
        |GROUP BY s.report_day""".stripMargin)),
    // KMV replay: the merged bottom-k of per-day sketches over a
    // trailing window EQUALS the k smallest distinct hashes of the
    // whole window (any union-minimum is its own day's minimum), so
    // the oracle computes the window sketch directly — estimate and
    // relative error are deterministic data, not a probabilistic bound
    Declared("q_mau_approx", (s, d) => EventAnalytics.mauApproxQ(Tables.events(s, d)), Some(
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |spine AS (SELECT DISTINCT day AS report_day FROM act),
        |ex AS (SELECT s.report_day, CAST(count(DISTINCT a.user_id) AS BIGINT) AS mau_exact
        |FROM spine s JOIN act a ON a.day BETWEEN s.report_day - 29 AND s.report_day
        |GROUP BY s.report_day),
        |wh AS (SELECT DISTINCT s.report_day,
        |CAST(('0x'||substr(md5(CAST(a.user_id AS VARCHAR)),1,13)) AS BIGINT) AS uh
        |FROM spine s JOIN act a ON a.day BETWEEN s.report_day - 29 AND s.report_day),
        |rk AS (SELECT report_day, uh,
        |row_number() OVER (PARTITION BY report_day ORDER BY uh) AS r,
        |count(*) OVER (PARTITION BY report_day) AS nh FROM wh),
        |sk AS (SELECT report_day, CAST(least(nh, 256) AS BIGINT) AS k_used,
        |CASE WHEN nh < 256 THEN CAST(least(nh, 256) AS DOUBLE)
        |ELSE 255e0 * 4503599627370496e0 / CAST(max(CASE WHEN r = 256 THEN uh END) AS DOUBLE) END AS est
        |FROM rk WHERE r <= 256 GROUP BY report_day, nh)
        |SELECT CAST(e.report_day AS TIMESTAMP) AS report_day, e.mau_exact,
        |s.k_used, round(s.est, 3) AS mau_est,
        |round(abs(s.est - e.mau_exact) / e.mau_exact, 6) AS rel_err
        |FROM ex e JOIN sk s USING (report_day)""".stripMargin)),
    // next-event training pairs: trailing-k context window per user,
    // one exchange, empty-context rows dropped
    // next-event pairs: identical trailing ROWS frame; empty frames
    // are NULL in DuckDB where Spark's collect_list is [] - both land
    // on '' and are filtered
    Declared("q_seq_dataset", (s, d) => EventAnalytics.seqDatasetQ(Tables.events(s, d)), Some(
      """SELECT user_id, event_id, context, label FROM (
        |SELECT user_id, event_id,
        |coalesce(array_to_string(list(event_type) OVER (PARTITION BY user_id
        |ORDER BY ts, event_id ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), ' '), '') AS context,
        |event_type AS label FROM events) z WHERE context <> ''""".stripMargin)),
    // per-user daily gap-filled series (per-user spine, co-partitioned fill)
    // Per-user dense day spine from that user's own [min, max] span;
    // zero-filled gaps; day emitted as TIMESTAMP for the dtype-stable
    // compare (same DATE→TIMESTAMP convention as q_retention).
    Declared("q_resample", (s, d) => EventAnalytics.resampleDaily(Tables.events(s, d)), Some(
      """WITH pd AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 6) AS total_value
        |FROM events GROUP BY 1, 2),
        |sp AS (SELECT user_id, unnest(generate_series(CAST(min(ts) AS DATE),
        |CAST(max(ts) AS DATE), INTERVAL 1 DAY)) AS day
        |FROM events GROUP BY user_id)
        |SELECT sp.user_id, CAST(sp.day AS TIMESTAMP) AS day,
        |coalesce(pd.n_events, 0) AS n_events,
        |coalesce(pd.total_value, 0.0) AS total_value
        |FROM sp LEFT JOIN pd ON pd.user_id = sp.user_id AND pd.day = sp.day""".stripMargin)),
    // two-proportion z-test between deterministic user variants
    // Pooled two-proportion z; variant = user_id % 2; conversion =
    // MORE THAN 13 'purchase' events (any-event converts every user on
    // this dense fixture — the threshold splits around the mean).
    Declared("q_abtest", (s, d) => EventAnalytics.abTest(Tables.events(s, d)), Some(
      """WITH per AS (SELECT user_id % 2 AS variant,
        |CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 13 AS INT) AS conv
        |FROM events GROUP BY user_id),
        |c AS (SELECT
        |CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |CAST(sum(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
        |CAST(sum(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
        |FROM per)
        |SELECT n_a, n_b, conv_a, conv_b,
        |round(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
        |round(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
        |round((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
        |/ nullif(sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
        |* (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
        |* (1.0 / n_a + 1.0 / n_b)), 0.0), 6) AS z_score,
        |coalesce(CAST(abs((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
        |/ nullif(sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
        |* (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
        |* (1.0 / n_a + 1.0 / n_b)), 0.0)) > 1.96 AS BIGINT), 0) AS significant
        |FROM c""".stripMargin))
  )

  /** Weighted-PageRank oracle: derive the transition graph, then
    * `iters` UNROLLED damped-update CTEs r1..rN, each reading the
    * previous — all in integer nano-rank arithmetic (`//` truncating
    * division on non-negative operands == Spark's DIV). */
  private[declared] def pageRankOracleSql(iters: Int,
      extraWhere: String = ""): String = {
    val base =
      s"""WITH ev AS (SELECT user_id, ts, event_id,
        |CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT) AS node
        |FROM events WHERE regexp_extract(props, '"k":\\s*(\\d+)', 1) <> '' $extraWhere),""".stripMargin + "\n" +
      """tr AS (SELECT lag(node) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
        |node AS dst FROM ev),
        |edges AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM tr
        |WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
        |wo AS (SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM edges GROUP BY 1),
        |nodes AS (SELECT DISTINCT node FROM
        |(SELECT src AS node FROM edges UNION SELECT dst FROM edges) u),
        |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes)""".stripMargin
    val its = (1 to iters).map { i =>
      s"""r$i AS (SELECT n.node,
         |CAST(150000000 + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS r
         |FROM nodes n LEFT JOIN
         |(SELECT e.dst AS node, sum((r.r * e.w) // w2.wout) AS s
         |FROM edges e JOIN wo w2 ON w2.src = e.src
         |JOIN r${i - 1} r ON r.node = e.src GROUP BY 1) s ON s.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$its\n" +
      s"SELECT node, r AS rank_nano FROM r$iters ORDER BY r DESC, node ASC LIMIT 20"
  }

  /** HITS over the transition graph — the PageRank oracle's edge CTE,
    * then `iters` unrolled (authority, hub) update pairs, each with
    * max-norm renormalization on the nano grid (all values
    * nonnegative — truncating div == floor in both engines). */
  private[declared] def hitsOracleSql(iters: Int): String = {
    val base =
      """WITH ev AS (SELECT user_id, ts, event_id,
        |CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS node
        |FROM events WHERE regexp_extract(props, '"k":\s*(\d+)', 1) <> ''),
        |tr AS (SELECT lag(node) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
        |node AS dst FROM ev),
        |edges AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM tr
        |WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
        |nodes AS (SELECT DISTINCT node FROM
        |(SELECT src AS node FROM edges UNION SELECT dst FROM edges) u),
        |h0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS h FROM nodes)""".stripMargin
    val its = (1 to iters).map { i =>
      s"""a${i}r AS (SELECT e.dst AS node, sum(h.h * e.w) AS ar
         |FROM edges e JOIN h${i - 1} h ON h.node = e.src GROUP BY 1),
         |a${i}m AS (SELECT greatest(1, max(ar) // 1000000000) AS d FROM a${i}r),
         |a$i AS (SELECT n.node, CAST(coalesce(r.ar, 0) // d AS BIGINT) AS a
         |FROM nodes n LEFT JOIN a${i}r r ON r.node = n.node, a${i}m),
         |h${i}r AS (SELECT e.src AS node, sum(a.a * e.w) AS hr
         |FROM edges e JOIN a$i a ON a.node = e.dst GROUP BY 1),
         |h${i}m AS (SELECT greatest(1, max(hr) // 1000000000) AS d FROM h${i}r),
         |h$i AS (SELECT n.node, CAST(coalesce(r.hr, 0) // d AS BIGINT) AS h
         |FROM nodes n LEFT JOIN h${i}r r ON r.node = n.node, h${i}m)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$its\n" +
      s"SELECT node, a AS auth_nano, h AS hub_nano FROM a$iters JOIN h$iters USING (node) " +
      s"ORDER BY a DESC, node ASC LIMIT 20"
  }

  /** Synchronous LPA over the symmetrized transition graph — the same
    * edge-derivation CTE as the PageRank oracle, then `iters` unrolled
    * relabel rounds (max incident weight, min-label tie-break). */
  private[declared] def labelPropOracleSql(iters: Int): String = {
    val base =
      """WITH ev AS (SELECT user_id, ts, event_id,
        |CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS node
        |FROM events WHERE regexp_extract(props, '"k":\s*(\d+)', 1) <> ''),
        |tr AS (SELECT lag(node) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
        |node AS dst FROM ev),
        |edges AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM tr
        |WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
        |sym AS (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM
        |(SELECT src, dst, w FROM edges
        |UNION ALL SELECT dst AS src, src AS dst, w FROM edges) u GROUP BY 1, 2),
        |l0 AS (SELECT dst AS node, dst AS lab FROM (SELECT DISTINCT dst FROM sym) d)""".stripMargin
    val its = (1 to iters).map { i =>
      s"""l$i AS (SELECT dst AS node, lab FROM (
         |SELECT e.dst, l.lab, row_number() OVER (PARTITION BY e.dst
         |ORDER BY sum(e.w) DESC, l.lab ASC) AS rn
         |FROM sym e JOIN l${i - 1} l ON l.node = e.src
         |GROUP BY e.dst, l.lab) z WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$its\n" +
      s"SELECT lab AS community, CAST(count(*) AS BIGINT) AS n_nodes " +
      s"FROM l$iters GROUP BY lab"
  }
}
