package graft.declared

import graft.ops.Sampling
import graft.sources.Tables

/** Sampling, mixing, splits, packing and curricula. */
object SamplingQueries {

  def declared: Seq[Declared] = Seq(
    Declared("q_split", (s, d) => Sampling.splitQ(Tables.documents(s, d)), Some(
      """WITH hashed AS (SELECT doc_id,
        |md5(lower(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')))) AS norm_hash
        |FROM documents),
        |asg AS (SELECT doc_id, norm_hash,
        |CAST(('0x'||substr(md5('split:' || CAST(min(doc_id) OVER (PARTITION BY norm_hash) AS VARCHAR)),1,15)) AS BIGINT) % 100 AS bucket
        |FROM hashed)
        |SELECT CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'valid'
        |ELSE 'test' END AS split, count(*) AS n_docs,
        |CAST(count(DISTINCT norm_hash) AS BIGINT) AS n_clusters
        |FROM asg GROUP BY 1""".stripMargin)),
    // eval-contamination audit: near-dup pairs straddling splits under
    // the naive hash split vs the leak-free cluster split
    // Leak audit: the q_dedup_near pairs pipeline joined to the naive
    // hash split and to the NEAR-dup-cluster split (the cluster oracle
    // nested as a CTE, the q_dedup_best precedent); the cluster row's
    // zero cross count is the by-construction law the audit proves.
    Declared("q_split_leak_audit", (s, d) => Sampling.splitLeakAuditQ(Tables.documents(s, d)), Some(
      s"""WITH tok AS (SELECT DISTINCT doc_id, t AS token FROM
        |(SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
        |FROM documents) u WHERE t <> ''),
        |sig AS (SELECT doc_id,
        |min(CAST(('0x'||substr(md5('0:' || token),1,15)) AS BIGINT)) AS h0,
        |min(CAST(('0x'||substr(md5('0:' || token),17,15)) AS BIGINT)) AS h1,
        |min(CAST(('0x'||substr(md5('1:' || token),1,15)) AS BIGINT)) AS h2,
        |min(CAST(('0x'||substr(md5('1:' || token),17,15)) AS BIGINT)) AS h3,
        |min(CAST(('0x'||substr(md5('2:' || token),1,15)) AS BIGINT)) AS h4,
        |min(CAST(('0x'||substr(md5('2:' || token),17,15)) AS BIGINT)) AS h5,
        |min(CAST(('0x'||substr(md5('3:' || token),1,15)) AS BIGINT)) AS h6,
        |min(CAST(('0x'||substr(md5('3:' || token),17,15)) AS BIGINT)) AS h7
        |FROM tok GROUP BY doc_id),
        |bands AS (SELECT doc_id, 0 AS band, h0 AS b0, h1 AS b1 FROM sig
        |UNION ALL SELECT doc_id, 1, h2, h3 FROM sig
        |UNION ALL SELECT doc_id, 2, h4, h5 FROM sig
        |UNION ALL SELECT doc_id, 3, h6, h7 FROM sig),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a
        |JOIN bands b ON a.band = b.band AND a.b0 = b.b0 AND a.b1 = b.b1
        |AND a.doc_id < b.doc_id),
        |tokh AS (SELECT DISTINCT doc_id,
        |CAST(('0x'||substr(md5(token),1,15)) AS BIGINT) AS th FROM tok),
        |sizes AS (SELECT doc_id, count(*) AS n_tok FROM tokh GROUP BY doc_id),
        |common AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common FROM cand c
        |JOIN tokh ta ON ta.doc_id = c.doc_a
        |JOIN tokh tb ON tb.doc_id = c.doc_b AND tb.th = ta.th
        |GROUP BY c.doc_a, c.doc_b),
        |pairs AS (SELECT c.doc_a, c.doc_b
        |FROM common c JOIN sizes sa ON sa.doc_id = c.doc_a
        |JOIN sizes sb ON sb.doc_id = c.doc_b
        |WHERE CAST(c.n_common AS DOUBLE)/(sa.n_tok + sb.n_tok - c.n_common) >= 0.5),
        |nv AS (SELECT doc_id, CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'valid'
        |ELSE 'test' END AS s FROM (SELECT doc_id,
        |CAST(('0x'||substr(md5('split:' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 100 AS b
        |FROM documents) z),
        |cl AS (
        |${DedupQueries.dupClusterOracleSql(docsCte = "", src = "documents")}
        |),
        |cs AS (SELECT doc_id, CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'valid'
        |ELSE 'test' END AS s FROM (SELECT d.doc_id,
        |CAST(('0x'||substr(md5('split:' || CAST(coalesce(c.cluster, d.doc_id) AS VARCHAR)),1,15)) AS BIGINT) % 100 AS b
        |FROM documents d LEFT JOIN cl c ON c.doc_id = d.doc_id) z),
        |a1 AS (SELECT 'naive_hash' AS scheme, count(*) AS n_pairs,
        |CAST(sum(CASE WHEN na.s <> nb.s THEN 1 ELSE 0 END) AS BIGINT) AS n_cross
        |FROM pairs p JOIN nv na ON na.doc_id = p.doc_a JOIN nv nb ON nb.doc_id = p.doc_b),
        |a2 AS (SELECT 'cluster' AS scheme, count(*) AS n_pairs,
        |CAST(sum(CASE WHEN la.s <> lb.s THEN 1 ELSE 0 END) AS BIGINT) AS n_cross
        |FROM pairs p JOIN cs la ON la.doc_id = p.doc_a JOIN cs lb ON lb.doc_id = p.doc_b)
        |SELECT scheme, n_pairs, n_cross,
        |round(CAST(n_cross AS DOUBLE)/nullif(n_pairs, 0), 6) AS leak_rate FROM a1
        |UNION ALL SELECT scheme, n_pairs, n_cross,
        |round(CAST(n_cross AS DOUBLE)/nullif(n_pairs, 0), 6) AS leak_rate FROM a2""".stripMargin)),
    Declared("q_sample", (s, d) => Sampling.sampleQ(Tables.documents(s, d)), Some(
      """SELECT count(*) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS total_chars
        |FROM documents
        |WHERE CAST(('0x'||substr(md5('mix:0:' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |% 1000000 < 500000""".stripMargin)),
    Declared("q_mixture", (s, d) => Sampling.mixtureQ(Tables.documents(s, d)), Some(
      """WITH src0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        |src1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
        |mixed AS (
        |SELECT doc_id, text FROM src0
        |UNION ALL SELECT doc_id, text FROM src0
        |UNION ALL SELECT doc_id, text FROM src0
        |WHERE CAST(('0x'||substr(md5('mix:0:' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |% 1000000 < 500000
        |UNION ALL SELECT doc_id, text FROM src1
        |WHERE CAST(('0x'||substr(md5('mix:1:' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |% 1000000 < 250000)
        |SELECT doc_id % 2 AS src, count(*) AS n_docs,
        |CAST(sum(length(text)) AS BIGINT) AS total_chars
        |FROM mixed GROUP BY 1""".stripMargin)),
    // coalesce(lang, '') mirrors the engine's total assignment rule: a
    // null stratum hashes as '' and draws at the default fraction
    // instead of null-propagating out of the sample entirely
    Declared("q_sample_stratified", (s, d) => Sampling.stratifiedQ(Tables.documents(s, d)), Some(
      """SELECT lang, count(*) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS total_chars
        |FROM documents
        |WHERE CAST(('0x'||substr(md5('strat:' || coalesce(lang, '') || ':' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |% 1000000 < CASE coalesce(lang, '') WHEN 'en' THEN 500000 WHEN 'de' THEN 250000 ELSE 100000 END
        |GROUP BY lang""".stripMargin)),
    Declared("q_shard", (s, d) => Sampling.shardQ(Tables.documents(s, d)), Some(
      """SELECT CAST(('0x'||substr(md5('shard:' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 16 AS shard,
        |count(*) AS n_docs,
        |min(CAST(('0x'||substr(md5('order:' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)) AS first_key,
        |max(CAST(('0x'||substr(md5('order:' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)) AS last_key,
        |CAST(sum(length(text)) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1""".stripMargin)),
    // Deterministic GPT-style packing: per-shard hash order, prefix-sum
    // token offsets, bin = floor(start / budget). Same md5 shard/order
    // spelling as q_shard.
    Declared("q_pack", (s, d) => Sampling.packQ(Tables.documents(s, d)), Some(
      """WITH sh AS (SELECT doc_id,
        |CAST(('0x'||substr(md5('shard:' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 16 AS shard,
        |CAST(('0x'||substr(md5('order:' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) AS ok,
        |CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS n_tok
        |FROM documents),
        |c AS (SELECT shard, doc_id, n_tok,
        |sum(n_tok) OVER (PARTITION BY shard ORDER BY ok ASC, doc_id ASC
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM sh)
        |SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |CAST(count(DISTINCT CAST(floor((cum - n_tok) / 512.0) AS BIGINT)) AS BIGINT) AS n_seqs,
        |CAST(max(CAST(floor((cum - n_tok) / 512.0) AS BIGINT)) AS BIGINT) AS last_seq
        |FROM c GROUP BY shard""".stripMargin)),
    // quality-tier-major curriculum order: per-doc global position via
    // the pack-style (tier, sub) slice prefix sums — no global sort
    // Curriculum order: stopword-ratio tier grid, then the q_shard
    // order hash — the engine's distributed slice prefix sums must
    // equal one global row_number over (tier, ok, doc_id).
    Declared("q_curriculum", (s, d) => Sampling.curriculumQ(Tables.documents(s, d)), Some(
      """WITH s AS (SELECT doc_id,
        |CAST(('0x'||substr(md5('order:' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) AS ok,
        |regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents),
        |t AS (SELECT doc_id, ok, CASE WHEN r >= 0.15 THEN 0
        |WHEN r >= 0.05 THEN 1 ELSE 2 END AS tier FROM
        |(SELECT doc_id, ok, CAST(len(list_filter(tk,
        |x -> list_contains(['the','a','an','and','of','to','in','is','on','for'], x))) AS DOUBLE)
        |/ len(tk) AS r FROM s) z),
        |p AS (SELECT doc_id, CAST(tier AS BIGINT) AS tier,
        |CAST(row_number() OVER (ORDER BY tier, ok, doc_id) - 1 AS BIGINT) AS pos FROM t)
        |SELECT doc_id, tier, pos,
        |CAST(floor(pos / 32.0) AS BIGINT) AS step FROM p""".stripMargin)),
    // greedy selection under a 60%-of-corpus token budget in
    // curriculum order (per-tier summary)
    // Token-budget selection: same curriculum order, cumulative token
    // prefix, keep docs whose whole span fits under floor(0.6 * total).
    Declared("q_token_budget", (s, d) => Sampling.tokenBudgetQ(Tables.documents(s, d)), Some(
      """WITH s AS (SELECT doc_id,
        |CAST(('0x'||substr(md5('order:' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) AS ok,
        |regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents),
        |t AS (SELECT doc_id, ok, CAST(len(tk) AS BIGINT) AS n_tok,
        |CASE WHEN r >= 0.15 THEN 0 WHEN r >= 0.05 THEN 1 ELSE 2 END AS tier FROM
        |(SELECT doc_id, ok, tk, CAST(len(list_filter(tk,
        |x -> list_contains(['the','a','an','and','of','to','in','is','on','for'], x))) AS DOUBLE)
        |/ len(tk) AS r FROM s) z),
        |c AS (SELECT doc_id, tier, n_tok,
        |row_number() OVER (ORDER BY tier, ok, doc_id) - 1 AS pos,
        |sum(n_tok) OVER (ORDER BY tier, ok, doc_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
        |SELECT CAST(tier AS BIGINT) AS tier, count(*) AS n_docs,
        |CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |CAST(max(pos) AS BIGINT) AS last_pos
        |FROM c WHERE cum <= (SELECT CAST(floor(sum(len(tk)) * 0.6) AS BIGINT) FROM s)
        |GROUP BY tier""".stripMargin)),
    // temperature-flattened (alpha=0.5) source rebalancing, min-anchored
    // Temperature sampling: rate_s = sqrt(n_min / n_s) — one IEEE
    // division + one correctly-rounded sqrt per stratum, so the
    // millionths thresholds are bit-identical across engines (no
    // order-sensitive normalizing sum anywhere).
    Declared("q_sample_temp", (s, d) => Sampling.temperatureQ(Tables.documents(s, d)), Some(
      """WITH c AS (SELECT lang, count(*) AS n FROM documents
        |WHERE lang IS NOT NULL GROUP BY lang),
        |m AS (SELECT min(n) AS n_min FROM c),
        |thr AS (SELECT lang,
        |CAST(round(sqrt(CAST(n_min AS DOUBLE) / n) * 1000000) AS BIGINT) AS t
        |FROM c, m)
        |SELECT d.lang, count(*) AS n_docs,
        |CAST(sum(length(text)) AS BIGINT) AS total_chars
        |FROM documents d JOIN thr ON d.lang = thr.lang
        |WHERE CAST(('0x'||substr(md5('strat:' || d.lang || ':' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |% 1000000 < t
        |GROUP BY d.lang""".stripMargin)),
    // DP count release: Laplace(1/eps) from a seeded inverse-CDF draw,
    // per-language, one partition-count aggregate
    // DP release: identical seeded uniform, identical inverse-CDF
    // spelling, round-6 declared grid for the one libm ln
    Declared("q_dp_release", (s, d) => Sampling.dpReleaseQ(Tables.documents(s, d)), Some(
      """WITH c AS (SELECT lang, count(*) AS n FROM documents
        |WHERE lang IS NOT NULL GROUP BY lang),
        |u AS (SELECT lang, n,
        |(CAST(CAST(('0x'||substr(md5('dp:r13:'||lang),1,15)) AS BIGINT) % 1000000 AS DOUBLE) + 0.5)
        |/ 1000000.0 AS uu FROM c)
        |SELECT lang,
        |round(n + (CASE WHEN uu >= 0.5 THEN -1.0 ELSE 1.0 END
        |* ln(1.0 - 2.0*abs(uu - 0.5))) / 1.0, 6) AS released,
        |1.0 AS epsilon FROM u""".stripMargin)),
    // exact-k deterministic per-stratum sample on the bounded-buffer
    // top-k aggregate (44-bit hash rank, engine-portable)
    // Exact-k per-stratum sample: the 44-bit salted hash rank order
    // (hash asc, doc_id asc) the bounded-buffer aggregate reproduces.
    Declared("q_sample_k", (s, d) => Sampling.sampleExactKQ(Tables.documents(s, d)), Some(
      """SELECT lang, CAST(rnk AS BIGINT) AS rnk, doc_id FROM (
        |SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
        |ORDER BY CAST(('0x'||substr(md5('sk:'||CAST(doc_id AS VARCHAR)),1,11)) AS BIGINT) ASC,
        |doc_id ASC) AS rnk
        |FROM documents WHERE lang IS NOT NULL) t WHERE rnk <= 50""".stripMargin)),
    // weighted exact-k per-stratum draw (Efraimidis-Spirakis): longer
    // docs proportionally likelier, rounded-key cut, bounded-buffer top-k
    // A-ES weighted draw: key = round(ln(u)/n_chars, 6) with the exact
    // 44-bit hash uniform; top-k per source by key desc, doc_id ties
    Declared("q_sample_weighted", (s, d) => Sampling.sampleWeightedKQ(Tables.documents(s, d)), Some(
      """WITH t AS (SELECT source, doc_id,
        |round(ln((CAST(('0x'||substr(md5('ws:'||CAST(doc_id AS VARCHAR)),1,11)) AS BIGINT) + 0.5)
        |/ 17592186044416.0) / CAST(n_chars AS DOUBLE), 6) AS key
        |FROM documents WHERE source IS NOT NULL AND n_chars > 0)
        |SELECT source, CAST(rnk AS BIGINT) AS rnk, doc_id, key + 0.0 AS key FROM (
        |SELECT source, doc_id, key, row_number() OVER (PARTITION BY source
        |ORDER BY key DESC, doc_id ASC) AS rnk FROM t) z WHERE rnk <= 10""".stripMargin)),
    // per-domain document cap (anti-host-dominance governance): bounded-
    // buffer top-k + pre-cap volume count in ONE domain-key aggregate
    // Per-domain cap: rank-window replay of the bounded-buffer top-k
    // (n_chars DESC, doc_id ASC) plus the pre-cap domain volume.
    Declared("q_domain_cap", (s, d) => Sampling.domainCapQ(Tables.documents(s, d)), Some(
      """SELECT domain, n_docs, rnk, doc_id, n_chars FROM (
        |SELECT domain, doc_id, n_chars,
        |CAST(row_number() OVER (PARTITION BY domain ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS rnk,
        |CAST(count(*) OVER (PARTITION BY domain) AS BIGINT) AS n_docs
        |FROM (SELECT lower(source) || '.example.com' AS domain, doc_id, n_chars
        |      FROM documents) d) t WHERE rnk <= 3""".stripMargin))
  )
}
