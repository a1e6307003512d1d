package graft.declared

import graft.ops.SimSearch
import graft.sources.Tables

/** Embedding similarity: exact, IVF, PQ and LSH top-k, MMR re-ranks,
  * clustering and the embedding-space decontamination audits. */
object SimilarityQueries {

  def declared: Seq[Declared] = Seq(
    Declared("q_sim_topk", (s, d) => SimSearch.cosineTopK(Tables.embeddings(s, d)), Some(SimTopKOracleSql)),
    // contrastive-training pair mining: top-k nearest neighbors with a
    // DIFFERENT label per anchor (similar-looking, semantically wrong)
    // the exact brute-force oracle with the label-differs predicate —
    // same dot-product spelling and tie-break as q_sim_topk
    Declared("q_hard_negatives", (s, d) => SimSearch.hardNegativesQ(Tables.embeddings(s, d)), Some(
      """WITH n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm
        |FROM (SELECT vec_id, label,
        |list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |FROM embeddings) e WHERE list_dot_product(v, v) > 0),
        |sims AS (SELECT p.vec_id AS anchor_id, CAST(p.label AS BIGINT) AS anchor_label,
        |c.vec_id AS neg_id, CAST(c.label AS BIGINT) AS neg_label,
        |list_dot_product(c.v, p.v)/(c.nrm*p.nrm) AS cos_sim
        |FROM n c JOIN n p ON p.vec_id < 20 AND c.vec_id <> p.vec_id
        |AND c.label <> p.label)
        |SELECT * FROM (SELECT anchor_id, anchor_label, neg_id, neg_label, cos_sim,
        |CAST(row_number() OVER (PARTITION BY anchor_id
        |ORDER BY cos_sim DESC, neg_id ASC) AS BIGINT) AS rnk
        |FROM sims) t WHERE rnk <= 5""".stripMargin)),
    // the IVF-blocked 100 TB form: anchors only score their own
    // centroid cell (blocking as declared semantics, fully hash-gated)
    // the blocked form: the IVF cell assignment (centroids = vec_id in
    // [20, 36), argmax with the sim-desc/cell-asc tie) recomputed
    // verbatim, then the brute oracle restricted to same-cell pairs
    Declared("q_hard_negatives_ivf", (s, d) => SimSearch.hardNegativesIvfQ(Tables.embeddings(s, d)), Some(
      """WITH n AS (SELECT vec_id, label,
        |list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |nn AS (SELECT vec_id, CAST(label AS BIGINT) AS label, v,
        |sqrt(list_dot_product(v, v)) AS nrm FROM n WHERE list_dot_product(v, v) > 0),
        |cents AS (SELECT vec_id AS cell, v AS cv, nrm AS cn FROM nn
        |WHERE vec_id >= 20 AND vec_id < 36),
        |asg AS (SELECT vec_id, label, v, nrm, cell FROM (
        |SELECT a.vec_id, a.label, a.v, a.nrm, c.cell,
        |row_number() OVER (PARTITION BY a.vec_id
        |ORDER BY list_dot_product(a.v, c.cv)/(a.nrm*c.cn) DESC, c.cell ASC) AS rn
        |FROM nn a CROSS JOIN cents c) t WHERE rn = 1),
        |anch AS (SELECT vec_id AS anchor_id, label AS anchor_label,
        |v AS pv, nrm AS pn, cell FROM asg WHERE vec_id < 20),
        |sims AS (SELECT p.anchor_id, p.anchor_label, c.vec_id AS neg_id,
        |c.label AS neg_label,
        |list_dot_product(c.v, p.pv)/(c.nrm*p.pn) AS cos_sim
        |FROM asg c JOIN anch p ON c.cell = p.cell
        |AND c.vec_id <> p.anchor_id AND c.label <> p.anchor_label)
        |SELECT * FROM (SELECT anchor_id, anchor_label, neg_id, neg_label, cos_sim,
        |CAST(row_number() OVER (PARTITION BY anchor_id
        |ORDER BY cos_sim DESC, neg_id ASC) AS BIGINT) AS rnk
        |FROM sims) t WHERE rnk <= 5""".stripMargin)),
    // recall@k of the IVF search against the exact ground truth — the
    // serving-side index acceptance audit, exact set arithmetic
    // recall@5 of the IVF ranking against the exact one — both CTEs are
    // the two gated operators' own oracle texts, so the audit replays
    // byte-identical ground truth
    Declared("q_ann_recall", (s, d) => SimSearch.annRecallQ(Tables.embeddings(s, d)), Some(
      s"""WITH ex AS (SELECT probe_id, neighbor_id FROM ($SimTopKOracleSql) e),
         |ap AS (SELECT probe_id, neighbor_id FROM ($IvfTopKOracleSql) a),
         |h AS (SELECT probe_id, count(*) AS n_hits
         |FROM ap JOIN ex USING (probe_id, neighbor_id) GROUP BY probe_id)
         |SELECT p.probe_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 5.0, 6) AS recall_at_k
         |FROM (SELECT DISTINCT probe_id FROM ex) p
         |LEFT JOIN h ON h.probe_id = p.probe_id""".stripMargin)),
    // product-quantization ANN (ADC, inner-product metric): corpus
    // encoded once as M=4 one-byte codes via a 32-row codebook
    // broadcast; probes score candidates off their precomputed nano
    // distance tables — integer sums, bit-replayable
    // PQ replay: same codebook sampling, argmax encode (dn DESC, cell
    // ASC), nano distance tables, integer ADC sums
    Declared("q_sim_topk_pq", (s, d) => SimSearch.pqTopKQ(s, d), Some(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |FROM embeddings),
        |ms AS (SELECT unnest([0,1,2,3]) AS m),
        |cb AS (SELECT m, vec_id AS cell, list_slice(v, m*16+1, m*16+16) AS cv
        |FROM e CROSS JOIN ms WHERE vec_id >= 5 AND vec_id < 13),
        |enc AS (SELECT c.vec_id, cb.m, cb.cell,
        |CAST(floor(list_dot_product(list_slice(c.v, cb.m*16+1, cb.m*16+16), cb.cv) * 1000000.0) AS BIGINT) AS dn
        |FROM e c CROSS JOIN cb),
        |codes AS (SELECT vec_id, m, cell AS code FROM (
        |SELECT vec_id, m, cell, row_number() OVER (PARTITION BY vec_id, m
        |ORDER BY dn DESC, cell ASC) AS rn FROM enc) t WHERE rn = 1),
        |pd AS (SELECT p.vec_id AS probe_id, cb.m, cb.cell AS code,
        |CAST(floor(list_dot_product(list_slice(p.v, cb.m*16+1, cb.m*16+16), cb.cv) * 1000000.0) AS BIGINT) AS qd
        |FROM e p CROSS JOIN cb WHERE p.vec_id < 5),
        |sc AS (SELECT pd.probe_id, c.vec_id AS neighbor_id,
        |CAST(sum(pd.qd) AS BIGINT) AS score_nano
        |FROM codes c JOIN pd ON pd.m = c.m AND pd.code = c.code
        |WHERE c.vec_id <> pd.probe_id GROUP BY 1, 2)
        |SELECT probe_id, neighbor_id, score_nano, rnk FROM (
        |SELECT probe_id, neighbor_id, score_nano,
        |CAST(row_number() OVER (PARTITION BY probe_id
        |ORDER BY score_nano DESC, neighbor_id ASC) AS BIGINT) AS rnk
        |FROM sc) z WHERE rnk <= 5""".stripMargin)),
    // FAISS's IVFADC composition: cell pruning picks WHICH codes are
    // read (sampled-centroid argmax, oracle-recomputed), PQ's ADC
    // scores them — identical integer arithmetic to the full scan
    // IVFADC: the q_sim_topk_pq CTEs + the q_knn_clf_ivf assignment —
    // candidates restricted to the probe's top-2 centroid cells, same
    // ADC integer sums (blocking never changes a score)
    Declared("q_sim_topk_pq_ivf", (s, d) => SimSearch.pqIvfTopKQ(s, d), Some(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |FROM embeddings),
        |ms AS (SELECT unnest([0,1,2,3]) AS m),
        |cb AS (SELECT m, vec_id AS cell, list_slice(v, m*16+1, m*16+16) AS cv
        |FROM e CROSS JOIN ms WHERE vec_id >= 5 AND vec_id < 13),
        |enc AS (SELECT c.vec_id, cb.m, cb.cell,
        |CAST(floor(list_dot_product(list_slice(c.v, cb.m*16+1, cb.m*16+16), cb.cv) * 1000000.0) AS BIGINT) AS dn
        |FROM e c CROSS JOIN cb),
        |codes AS (SELECT vec_id, m, cell AS code FROM (
        |SELECT vec_id, m, cell, row_number() OVER (PARTITION BY vec_id, m
        |ORDER BY dn DESC, cell ASC) AS rn FROM enc) t WHERE rn = 1),
        |pd AS (SELECT p.vec_id AS probe_id, cb.m, cb.cell AS code,
        |CAST(floor(list_dot_product(list_slice(p.v, cb.m*16+1, cb.m*16+16), cb.cv) * 1000000.0) AS BIGINT) AS qd
        |FROM e p CROSS JOIN cb WHERE p.vec_id < 5),
        |nn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
        |FROM e WHERE list_dot_product(v, v) > 0),
        |cents AS (SELECT vec_id AS cell, v AS cv, nrm AS cn FROM nn
        |WHERE vec_id >= 5 AND vec_id < 21),
        |asg AS (SELECT vec_id, cell FROM (
        |SELECT a.vec_id, c.cell, row_number() OVER (PARTITION BY a.vec_id
        |ORDER BY list_dot_product(a.v, c.cv)/(a.nrm*c.cn) DESC, c.cell ASC) AS rn
        |FROM nn a CROSS JOIN cents c) t WHERE rn = 1),
        |pcells AS (SELECT probe_id, cell FROM (
        |SELECT p.vec_id AS probe_id, c.cell,
        |row_number() OVER (PARTITION BY p.vec_id
        |ORDER BY list_dot_product(p.v, c.cv)/(p.nrm*c.cn) DESC, c.cell ASC) AS cr
        |FROM nn p CROSS JOIN cents c WHERE p.vec_id < 5) t WHERE cr <= 2),
        |sc AS (SELECT pd.probe_id, c.vec_id AS neighbor_id,
        |CAST(sum(pd.qd) AS BIGINT) AS score_nano
        |FROM codes c JOIN asg a ON a.vec_id = c.vec_id
        |JOIN pcells pc ON pc.cell = a.cell
        |JOIN pd ON pd.m = c.m AND pd.code = c.code AND pd.probe_id = pc.probe_id
        |WHERE c.vec_id <> pd.probe_id GROUP BY 1, 2)
        |SELECT probe_id, neighbor_id, score_nano, rnk FROM (
        |SELECT probe_id, neighbor_id, score_nano,
        |CAST(row_number() OVER (PARTITION BY probe_id
        |ORDER BY score_nano DESC, neighbor_id ASC) AS BIGINT) AS rnk
        |FROM sc) z WHERE rnk <= 5""".stripMargin)),
    // hybrid retrieval: BM25 top-k + cosine top-k fused by RRF (k=60)
    // Hybrid RRF: the Bm25 oracle's per-doc score feeds the text list,
    // the SimTopK dot-product spelling feeds the vector list, each cut
    // at 50 (score desc, id asc), fused at 1/(60+rank) on the 9-dp grid.
    Declared("q_hybrid_rrf", (s, d) => SimSearch.hybridRrfQ(s, d), Some(
      """WITH tok AS (SELECT doc_id, t AS token FROM
        |(SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |FROM documents) u WHERE t <> ''),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |dfx AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok
        |WHERE token IN ('data', 'query', 'engine', 'fast') GROUP BY token),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |WHERE token IN ('data', 'query', 'engine', 'fast') GROUP BY doc_id, token),
        |bm AS (SELECT doc_id,
        |round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2
        |/ (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6) AS bm25
        |FROM tf JOIN dfx USING (token) JOIN dl USING (doc_id), st
        |GROUP BY doc_id),
        |ttop AS (SELECT doc_id, bm25 FROM bm
        |ORDER BY bm25 DESC, doc_id ASC LIMIT 50),
        |tr AS (SELECT doc_id, CAST(row_number() OVER
        |(ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS r_text FROM ttop),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
        |FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |FROM embeddings) e WHERE list_dot_product(v, v) > 0),
        |p AS (SELECT v AS pv, nrm AS pn FROM n WHERE vec_id = 0),
        |cos AS (SELECT vec_id AS doc_id,
        |list_dot_product(v, pv)/(nrm*pn) AS cos_sim
        |FROM n, p WHERE vec_id <> 0
        |ORDER BY cos_sim DESC, doc_id ASC LIMIT 50),
        |vr AS (SELECT doc_id, CAST(row_number() OVER
        |(ORDER BY cos_sim DESC, doc_id ASC) AS BIGINT) AS r_vec FROM cos),
        |f AS (SELECT coalesce(tr.doc_id, vr.doc_id) AS doc_id, r_text, r_vec,
        |round(coalesce(1.0/(60.0+r_text), 0) + coalesce(1.0/(60.0+r_vec), 0), 9) AS rrf
        |FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id),
        |top AS (SELECT * FROM f ORDER BY rrf DESC, doc_id ASC LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS rank,
        |doc_id, r_text, r_vec, rrf FROM top""".stripMargin)),
    // margin-based bitext mining (exact integer-nano margins)
    // Bitext mining: identical nano-grid cosines (floor of the same
    // IEEE double), identical (c desc, id asc) k-NN cuts, exact long
    // margin arithmetic 2k·c − Σ_NNk(x) − Σ_NNk(y) with k = 4.
    Declared("q_bitext_mine", (s, d) => SimSearch.bitextMineQ(Tables.embeddings(s, d)), Some(
      """WITH base AS (SELECT vec_id, label,
        |list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm
        |FROM base WHERE list_dot_product(v, v) > 0),
        |xs AS (SELECT * FROM n WHERE label % 2 = 0),
        |ys AS (SELECT * FROM n WHERE label % 2 = 1),
        |pr AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pn FROM xs WHERE vec_id < 50),
        |xy AS (SELECT probe_id, ys.vec_id AS y_id,
        |CAST(floor(list_dot_product(ys.v, pv)/(ys.nrm*pn)*1e9) AS BIGINT) AS c_nano
        |FROM ys, pr),
        |xyr AS (SELECT *, row_number() OVER (PARTITION BY probe_id
        |ORDER BY c_nano DESC, y_id ASC) AS r FROM xy),
        |topxy AS (SELECT probe_id, y_id, c_nano FROM xyr WHERE r <= 4),
        |sx AS (SELECT probe_id, CAST(sum(c_nano) AS BIGINT) AS sx FROM topxy GROUP BY probe_id),
        |cand AS (SELECT DISTINCT y_id FROM topxy),
        |yx AS (SELECT ys2.vec_id AS y_id, xs.vec_id AS x_id,
        |CAST(floor(list_dot_product(xs.v, ys2.v)/(xs.nrm*ys2.nrm)*1e9) AS BIGINT) AS c
        |FROM ys ys2 JOIN cand ON ys2.vec_id = cand.y_id CROSS JOIN xs),
        |yxr AS (SELECT *, row_number() OVER (PARTITION BY y_id
        |ORDER BY c DESC, x_id ASC) AS r FROM yx),
        |sy AS (SELECT y_id, CAST(sum(c) AS BIGINT) AS sy FROM yxr WHERE r <= 4 GROUP BY y_id),
        |m AS (SELECT t.probe_id, t.y_id, t.c_nano,
        |CAST(8*t.c_nano - sx.sx - sy.sy AS BIGINT) AS margin_nano,
        |CAST(800*t.c_nano > 110*(sx.sx + sy.sy) AS INT) AS keep
        |FROM topxy t JOIN sx USING (probe_id) JOIN sy USING (y_id)),
        |best AS (SELECT *, row_number() OVER (PARTITION BY probe_id
        |ORDER BY margin_nano DESC, y_id ASC) AS r FROM m)
        |SELECT y_id, probe_id, c_nano, margin_nano FROM best
        |WHERE r = 1 AND keep = 1""".stripMargin)),
    // the 100 TB form: both pools cell-blocked on sampled centroids
    // (declared semantics the oracle recomputes), candidates and
    // reverse neighborhoods restricted to the probe's/candidate's cell
    // IVF-blocked bitext: the same nano-grid margin law with BOTH pools
    // assigned to sampled centroids (vec_ids [5,21), argmax sim-then-
    // lowest-cell — the q_knn_clf_ivf spelling) and every candidate /
    // reverse-neighborhood join restricted to the cell; neighborhoods
    // can run short of k, so margins use actual counts (nx+ny)·c.
    Declared("q_bitext_mine_ivf", (s, d) => SimSearch.bitextMineIvfQ(Tables.embeddings(s, d)), Some(
      """WITH base AS (SELECT vec_id, label,
        |list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm
        |FROM base WHERE list_dot_product(v, v) > 0),
        |cents AS (SELECT vec_id AS cell, v AS cv, nrm AS cn FROM n
        |WHERE vec_id >= 5 AND vec_id < 21),
        |asg AS (SELECT vec_id, label, v, nrm, cell FROM (
        |SELECT a.vec_id, a.label, a.v, a.nrm, c.cell,
        |row_number() OVER (PARTITION BY a.vec_id
        |ORDER BY list_dot_product(a.v, c.cv)/(a.nrm*c.cn) DESC, c.cell ASC) AS rn
        |FROM n a CROSS JOIN cents c) t WHERE rn = 1),
        |xs AS (SELECT * FROM asg WHERE label % 2 = 0),
        |ys AS (SELECT * FROM asg WHERE label % 2 = 1),
        |pr AS (SELECT vec_id AS probe_id, cell, v AS pv, nrm AS pn
        |FROM xs WHERE vec_id < 50),
        |xy AS (SELECT probe_id, ys.vec_id AS y_id,
        |CAST(floor(list_dot_product(ys.v, pv)/(ys.nrm*pn)*1e9) AS BIGINT) AS c_nano
        |FROM ys JOIN pr ON ys.cell = pr.cell),
        |xyr AS (SELECT *, row_number() OVER (PARTITION BY probe_id
        |ORDER BY c_nano DESC, y_id ASC) AS r FROM xy),
        |topxy AS (SELECT probe_id, y_id, c_nano FROM xyr WHERE r <= 4),
        |sx AS (SELECT probe_id, CAST(sum(c_nano) AS BIGINT) AS sx,
        |CAST(count(*) AS BIGINT) AS nx FROM topxy GROUP BY probe_id),
        |cand AS (SELECT DISTINCT y_id FROM topxy),
        |yx AS (SELECT y2.vec_id AS y_id, xs.vec_id AS x_id,
        |CAST(floor(list_dot_product(xs.v, y2.v)/(xs.nrm*y2.nrm)*1e9) AS BIGINT) AS c
        |FROM ys y2 JOIN cand ON y2.vec_id = cand.y_id
        |JOIN xs ON xs.cell = y2.cell),
        |yxr AS (SELECT *, row_number() OVER (PARTITION BY y_id
        |ORDER BY c DESC, x_id ASC) AS r FROM yx),
        |sy AS (SELECT y_id, CAST(sum(c) AS BIGINT) AS sy,
        |CAST(count(*) AS BIGINT) AS ny FROM yxr WHERE r <= 4 GROUP BY y_id),
        |m AS (SELECT t.probe_id, t.y_id, t.c_nano,
        |CAST((sx.nx + sy.ny)*t.c_nano - sx.sx - sy.sy AS BIGINT) AS margin_nano,
        |CAST(100*(sx.nx + sy.ny)*t.c_nano > 110*(sx.sx + sy.sy) AS INT) AS keep
        |FROM topxy t JOIN sx USING (probe_id) JOIN sy USING (y_id)),
        |best AS (SELECT *, row_number() OVER (PARTITION BY probe_id
        |ORDER BY margin_nano DESC, y_id ASC) AS r FROM m)
        |SELECT probe_id, y_id, c_nano, margin_nano FROM best
        |WHERE r = 1 AND keep = 1""".stripMargin)),
    // MMR diversity re-ranking: greedy 7*rel - 3*maxsim in exact nanos
    Declared("q_mmr", (s, d) => SimSearch.mmrQ(Tables.embeddings(s, d)), Some(mmrOracleSql(10, 5))),
    // the batch form a RAG stack runs: per-probe greedy over a grouped
    // bounded-buffer relevance cut (one corpus scan for ALL probes)
    Declared("q_mmr_batch", (s, d) => SimSearch.mmrBatchQ(Tables.embeddings(s, d)), Some(mmrBatchOracleSql(3, 8, 3))),
    // sign-bucket blocking is DECLARED semantics (both engines compute
    // identical buckets — same construction q_embed_neardup gates), so
    // the LSH top-k is deterministic and fully hash-checked
    // the LSH/IVF variants' blocking is declared semantics, recomputed
    // identically here: sign buckets (as q_embed_neardup), sampled
    // centroids + argmax assignment (as q_cluster), cell-pruned rank
    Declared("q_sim_topk_lsh", (s, d) => SimSearch.signBucketTopK(Tables.embeddings(s, d)), Some(
      """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |FROM embeddings WHERE list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |list_transform(embedding, x -> CAST(x AS DOUBLE))) > 0),
        |nn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
        |array_to_string(list_transform(range(8), i -> CASE WHEN v[(i % len(v)) + 1] > 0 THEN '1' ELSE '0' END), '') AS bucket
        |FROM n),
        |probes AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pn, bucket FROM nn WHERE vec_id < 5),
        |sims AS (SELECT p.probe_id, c.vec_id AS neighbor_id,
        |list_dot_product(c.v, p.pv)/(c.nrm*p.pn) AS cos_sim
        |FROM nn c JOIN probes p ON c.bucket = p.bucket AND c.vec_id <> p.probe_id)
        |SELECT * FROM (SELECT probe_id, neighbor_id, cos_sim,
        |CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rnk
        |FROM sims) t WHERE rnk <= 5""".stripMargin)),
    // kNN majority-vote label propagation: probe batch broadcast, top-k
    // on the bounded-buffer aggregate (k rows/probe/map-task shuffle)
    // kNN label propagation: brute-force top-5 by cosine among the
    // labeled side (vec_id % 10 <> 0), majority vote, ties to the
    // smaller label — same sim/id tie discipline as q_sim_topk
    Declared("q_knn_clf", (s, d) => SimSearch.knnClassifyQ(s, d), Some(
      """WITH n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm
        |FROM (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |FROM embeddings) e WHERE list_dot_product(v, v) > 0),
        |sims AS (SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, c.label,
        |list_dot_product(c.v, p.v)/(c.nrm*p.nrm) AS cos_sim
        |FROM n c JOIN n p ON p.vec_id % 10 = 0 AND c.vec_id % 10 <> 0),
        |topk AS (SELECT * FROM (SELECT probe_id, label,
        |row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
        |FROM sims) t WHERE rnk <= 5),
        |votes AS (SELECT probe_id, label, count(*) AS n_votes
        |FROM topk GROUP BY probe_id, label)
        |SELECT probe_id AS vec_id, CAST(label AS BIGINT) AS pred_label, n_votes
        |FROM (SELECT probe_id, label, n_votes,
        |row_number() OVER (PARTITION BY probe_id ORDER BY n_votes DESC, label ASC) AS vr
        |FROM votes) v WHERE vr = 1""".stripMargin)),
    // the cell-pruned form: IVF blocking as declared semantics (oracle
    // recomputes the identical cells), per-cell candidate volume
    // cell-pruned kNN: nearest-sampled-centroid assignment (q_cluster's
    // argmax) blocks candidates to the probe's cell; vote text unchanged
    Declared("q_knn_clf_ivf", (s, d) => SimSearch.knnClassifyIvfQ(s, d), Some(
      """WITH n AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |FROM embeddings WHERE list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |list_transform(embedding, x -> CAST(x AS DOUBLE))) > 0),
        |nn AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM n),
        |cents AS (SELECT vec_id AS cell, v AS cv, nrm AS cn FROM nn
        |WHERE vec_id >= 5 AND vec_id < 21),
        |asg AS (SELECT vec_id, label, v, nrm, cell FROM (
        |SELECT a.vec_id, a.label, a.v, a.nrm, c.cell,
        |row_number() OVER (PARTITION BY a.vec_id
        |ORDER BY list_dot_product(a.v, c.cv)/(a.nrm*c.cn) DESC, c.cell ASC) AS rn
        |FROM nn a CROSS JOIN cents c) t WHERE rn = 1),
        |sims AS (SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, c.label,
        |list_dot_product(c.v, p.v)/(c.nrm*p.nrm) AS cos_sim
        |FROM asg c JOIN asg p ON p.cell = c.cell
        |AND p.vec_id % 10 = 0 AND c.vec_id % 10 <> 0),
        |topk AS (SELECT * FROM (SELECT probe_id, label,
        |row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
        |FROM sims) t WHERE rnk <= 5),
        |votes AS (SELECT probe_id, label, count(*) AS n_votes
        |FROM topk GROUP BY probe_id, label)
        |SELECT probe_id AS vec_id, CAST(label AS BIGINT) AS pred_label, n_votes
        |FROM (SELECT probe_id, label, n_votes,
        |row_number() OVER (PARTITION BY probe_id ORDER BY n_votes DESC, label ASC) AS vr
        |FROM votes) v WHERE vr = 1""".stripMargin)),
    // IVF with deterministic sampled centroids: assignment (gated alone
    // by q_cluster), probe-cell ranking, and cell-pruned top-k are all
    // pure functions of the data → fully hash-checked oracle
    Declared("q_sim_topk_ivf", (s, d) => SimSearch.ivfTopK(Tables.embeddings(s, d)), Some(IvfTopKOracleSql)),
    // the k-means-trained centroid path, driver-checked every round:
    // train -> persisted inverted file -> partition-pruned probe (build
    // memoized per session+dir; see SimSearch.trainedIvfQ). Distributed
    // double means are order-dependent in the last ulp, so the probe
    // rows can't hash-match — the declared query instead emits the
    // recall law vs the in-query brute-force top-k as data (oracle
    // replays the brute-force counts + literal TRUE)
    // trained-IVF recall gate: the ground truth is the exact top-k CTE;
    // the law booleans replay as literal TRUE
    Declared("q_sim_topk_ivf_trained", (s, d) => SimSearch.trainedIvfGatedQ(s, d), Some(
      s"""SELECT count(DISTINCT probe_id) AS n_probes, count(*) AS n_true_pairs,
         |TRUE AS recall_ok FROM ($SimTopKOracleSql) b""".stripMargin)),
    // the assignment math (broadcast centroids, map-side argmax,
    // sim-then-lowest-cell tie-break) under the hash gate in isolation
    // — the building block the IVF oracles above compose
    Declared("q_cluster", (s, d) => SimSearch.clusterProfileQ(s, d), Some(
      """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |FROM embeddings WHERE list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |list_transform(embedding, x -> CAST(x AS DOUBLE))) > 0),
        |nn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM n),
        |cents AS (SELECT vec_id AS cell, v AS cv, nrm AS cn FROM nn
        |WHERE vec_id >= 5 AND vec_id < 21),
        |sims AS (SELECT a.vec_id, c.cell,
        |list_dot_product(a.v, c.cv)/(a.nrm*c.cn) AS s FROM nn a CROSS JOIN cents c),
        |best AS (SELECT vec_id, cell, s FROM
        |(SELECT vec_id, cell, s, row_number() OVER
        |(PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn FROM sims) t WHERE rn = 1)
        |SELECT cell, count(*) AS n_vecs, avg(s) AS avg_sim FROM best GROUP BY cell""".stripMargin)),
    // spherical k-means, BOTH steps gated: q_cluster's argmax E-step +
    // an integer-nano M-step (exact sums, one rounded division per
    // (cell, dim)) unrolled for 2 iterations
    Declared("q_kmeans", (s, d) => SimSearch.kmeansNanoQ(Tables.embeddings(s, d)), Some(
      """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |FROM embeddings WHERE list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |list_transform(embedding, x -> CAST(x AS DOUBLE))) > 0),
        |nn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM n),
        |c0 AS (SELECT vec_id AS cell, v AS cv, nrm AS cn FROM nn
        |WHERE vec_id >= 5 AND vec_id < 13),
        |a1 AS (SELECT vec_id, v, cell FROM (
        |SELECT a.vec_id, a.v, c.cell, row_number() OVER (PARTITION BY a.vec_id
        |ORDER BY list_dot_product(a.v, c.cv)/(a.nrm*c.cn) DESC, c.cell ASC) AS rn
        |FROM nn a CROSS JOIN c0 c) t WHERE rn = 1),
        |e1 AS (SELECT cell, unnest(v) AS x, unnest(range(1, len(v)+1)) AS pos FROM a1),
        |m1 AS (SELECT cell, pos, CAST(sum(CAST(round(x * 1000000000.0) AS BIGINT)) AS DOUBLE)
        |/ CAST(count(*) * 1000000000 AS DOUBLE) AS mv FROM e1 GROUP BY cell, pos),
        |c1 AS (SELECT cell, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM
        |(SELECT cell, list(mv ORDER BY pos) AS cv FROM m1 GROUP BY cell) t
        |WHERE list_dot_product(cv, cv) > 0),
        |a2 AS (SELECT vec_id, v, cell FROM (
        |SELECT a.vec_id, a.v, c.cell, row_number() OVER (PARTITION BY a.vec_id
        |ORDER BY list_dot_product(a.v, c.cv)/(a.nrm*c.cn) DESC, c.cell ASC) AS rn
        |FROM nn a CROSS JOIN c1 c) t WHERE rn = 1),
        |e2 AS (SELECT cell, unnest(v) AS x, unnest(range(1, len(v)+1)) AS pos FROM a2),
        |m2 AS (SELECT cell, pos, CAST(sum(CAST(round(x * 1000000000.0) AS BIGINT)) AS DOUBLE)
        |/ CAST(count(*) * 1000000000 AS DOUBLE) AS mv FROM e2 GROUP BY cell, pos),
        |c2 AS (SELECT cell, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM
        |(SELECT cell, list(mv ORDER BY pos) AS cv FROM m2 GROUP BY cell) t
        |WHERE list_dot_product(cv, cv) > 0),
        |af AS (SELECT vec_id, cell FROM (
        |SELECT a.vec_id, c.cell, row_number() OVER (PARTITION BY a.vec_id
        |ORDER BY list_dot_product(a.v, c.cv)/(a.nrm*c.cn) DESC, c.cell ASC) AS rn
        |FROM nn a CROSS JOIN c2 c) t WHERE rn = 1)
        |SELECT af.cell, CAST(count(*) AS BIGINT) AS n_vecs,
        |round(any_value(list_sum(c2.cv)), 6) AS cv_sum,
        |round(any_value(c2.cn), 6) AS cv_norm
        |FROM af JOIN c2 ON c2.cell = af.cell GROUP BY af.cell""".stripMargin)),
    // per-cluster outlier flags in exact integer-nano arithmetic (the
    // SemDeDup prune step; no distributed double mean anywhere)
    // same assignment CTEs as q_cluster; the outlier boolean runs in
    // exact integer nanos (cross-multiplied, division-free)
    Declared("q_embed_outlier", (s, d) => SimSearch.embedOutlierQ(s, d), Some(
      """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |FROM embeddings WHERE list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |list_transform(embedding, x -> CAST(x AS DOUBLE))) > 0),
        |nn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM n),
        |cents AS (SELECT vec_id AS cell, v AS cv, nrm AS cn FROM nn
        |WHERE vec_id >= 5 AND vec_id < 21),
        |sims AS (SELECT a.vec_id, c.cell,
        |list_dot_product(a.v, c.cv)/(a.nrm*c.cn) AS s FROM nn a CROSS JOIN cents c),
        |best AS (SELECT vec_id, cell, s FROM
        |(SELECT vec_id, cell, s, row_number() OVER
        |(PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn FROM sims) t WHERE rn = 1),
        |b AS (SELECT vec_id, cell, CAST(round(s * 1000000000.0) AS BIGINT) AS sim_nano FROM best),
        |st AS (SELECT cell, count(*) AS n_vecs, sum(sim_nano) AS tot_nano FROM b GROUP BY cell)
        |SELECT b.vec_id, b.cell, b.sim_nano,
        |(b.sim_nano * st.n_vecs < st.tot_nano - 50000000 * st.n_vecs) AS is_outlier
        |FROM b JOIN st USING (cell)""".stripMargin)),
    // inverse-cluster-density selection (D4/SSL-prototypes shape):
    // dense cells downsampled to ~target rows, sparse cells kept whole;
    // q_cluster's assignment + exact counts + the portable hash draw
    // same assignment CTEs as q_cluster, then exact cell counts, the
    // integer cut on the 1e-6 grid, and the salted md5 draw
    Declared("q_density_sample", (s, d) => SimSearch.densitySampleQ(s, d), Some(
      """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |FROM embeddings WHERE list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |list_transform(embedding, x -> CAST(x AS DOUBLE))) > 0),
        |nn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM n),
        |cents AS (SELECT vec_id AS cell, v AS cv, nrm AS cn FROM nn
        |WHERE vec_id >= 5 AND vec_id < 21),
        |sims AS (SELECT a.vec_id, c.cell,
        |list_dot_product(a.v, c.cv)/(a.nrm*c.cn) AS s FROM nn a CROSS JOIN cents c),
        |best AS (SELECT vec_id, cell FROM
        |(SELECT vec_id, cell, row_number() OVER
        |(PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn FROM sims) t WHERE rn = 1),
        |sz AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_cell,
        |least(CAST(1000000 AS BIGINT),
        |CAST(round(20 * 1000000.0 / count(*)) AS BIGINT)) AS cut
        |FROM best GROUP BY cell)
        |SELECT b.vec_id, b.cell, sz.n_cell, sz.cut
        |FROM best b JOIN sz USING (cell)
        |WHERE CAST(('0x'||substr(md5('ds:' || CAST(b.vec_id AS VARCHAR)),1,15)) AS BIGINT)
        |% 1000000 < sz.cut""".stripMargin)),
    Declared("q_embed_neardup", (s, d) => SimSearch.embedNearDup(Tables.embeddings(s, d)), Some(
      """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |FROM embeddings WHERE list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |list_transform(embedding, x -> CAST(x AS DOUBLE))) > 0),
        |nn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
        |array_to_string(list_transform(range(8), i -> CASE WHEN v[(i % len(v)) + 1] > 0 THEN '1' ELSE '0' END), '') AS bucket
        |FROM n)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |list_dot_product(a.v, b.v)/(a.nrm*b.nrm) AS cos_sim
        |FROM nn a JOIN nn b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v)/(a.nrm*b.nrm) >= 0.25""".stripMargin)),
    // embedding-space eval-set decontamination — the semantic
    // complement of the 13-gram q_decontaminate (catches paraphrased
    // leakage that shares no shingle): broadcast eval suite, one corpus
    // scan, map-side max_by argmax so the exchange carries |corpus| rows
    // exact embedding decontamination: brute-force max eval cosine per
    // corpus vector, argmax tie to the lowest eval id, gate at 0.3
    Declared("q_decontaminate_embed", (s, d) => SimSearch.deconEmbedQ(Tables.embeddings(s, d)), Some(
      """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |FROM embeddings),
        |nn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM n
        |WHERE list_dot_product(v, v) > 0),
        |ev AS (SELECT vec_id AS eval_id, v AS ev, nrm AS en FROM nn WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id, v, nrm FROM nn WHERE vec_id % 50 <> 0),
        |s AS (SELECT c.vec_id, ev.eval_id,
        |list_dot_product(c.v, ev.ev)/(c.nrm*ev.en) AS cs FROM c CROSS JOIN ev),
        |m AS (SELECT vec_id, eval_id, cs, row_number() OVER (
        |PARTITION BY vec_id ORDER BY cs DESC, eval_id ASC) AS rn FROM s)
        |SELECT vec_id, eval_id AS nearest_eval, round(cs, 6) AS cos_sim
        |FROM m WHERE rn = 1 AND cs >= 0.3""".stripMargin)),
    // the 100 TB form: IVF cell blocking (declared semantics — the
    // oracle recomputes the identical cells); probes read
    // nProbeCells/nCells of the cell-partitioned inverted file
    // IVF-blocked decontamination: identical cell assignment (centroids
    // = corpus vec_id in [1, 17), nearest-cell argmax, 4 probed cells
    // per eval vector), then the same per-vector argmax + 0.3 gate over
    // cell-mates only
    Declared("q_decontaminate_embed_ivf", (s, d) => SimSearch.deconEmbedIvfQ(Tables.embeddings(s, d)),
      Some(DeconEmbedIvfOracleSql)),
    // the steady-state twin: corpus cells read off the PERSISTED
    // cell-partitioned IVF index (partition-pruned to the probed
    // cells), eval suite as probes — bit-identical to the in-memory
    // form, so it shares that oracle text verbatim
    Declared("q_decontaminate_embed_incr", (s, d) => SimSearch.deconEmbedIncrQ(s, d), Some(DeconEmbedIvfOracleSql)),
    Declared("q_embed_quant", (s, d) => SimSearch.quantizeQ(Tables.embeddings(s, d)), Some(
      """WITH q AS (SELECT vec_id,
        |list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |coalesce(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 0.0) AS ma
        |FROM embeddings),
        |c AS (SELECT vec_id, ma,
        |list_transform(v, x -> CASE WHEN ma = 0 THEN CAST(0 AS BIGINT)
        |ELSE CAST(round(x * 127 / ma) AS BIGINT) END) AS codes FROM q)
        |SELECT vec_id, CAST(len(codes) AS BIGINT) AS n_dims,
        |CAST(coalesce(list_sum(codes), 0) AS BIGINT) AS code_sum,
        |CAST(list_min(codes) AS BIGINT) AS code_min,
        |CAST(list_max(codes) AS BIGINT) AS code_max,
        |ma / 127 AS scale FROM c""".stripMargin)),
    // sparse random projection (Achlioptas JL, 64→16): coordinate-hash
    // matrix regenerated by any engine, driver-materialized into
    // straight-line codegen adds — no per-row md5, no shuffle
    // generated at oracle-build time from the same coordinate-hash
    // matrix the engine materializes (SimSearch.RandomProject)
    Declared("q_embed_rp", (s, d) => SimSearch.randomProjectQ(Tables.embeddings(s, d)),
      Some(graft.ops.SimSearch.randomProjectOracleSql)),
    // dominant principal direction by 3 power-iteration rounds on the
    // integer micro grid — two corpus folds per round, d rows shipped
    // power iteration: micro-quantized elements, exact BIGINT folds,
    // abs/sign divisions, max-norm renorm — 3 unrolled rounds
    Declared("q_power_iter", (s, d) => SimSearch.powerIterQ(Tables.embeddings(s, d)), Some(powerIterOracleSql(3))),
    // the scale form (corpus-sized bucket width + 2 sign projections):
    // autoBits and both rotation windows are pure functions of the
    // data, so the oracle recomputes the identical blocking from the
    // corpus count → fully hash-checked; recall properties additionally
    // pinned in LlmOpsSpec/PropertySpec
    // the auto-bits scale form, blocking recomputed from the corpus:
    // bits = clamp(ceil_log2(max(1, n/1024)), 4, 24) — bit_length via
    // floor(log2)+1 (log2 of powers of two is exact in IEEE doubles) —
    // and the rotation count capped by the dim-window period
    // d/gcd(d, bits), both exactly as SimSearch.autoBits/embedNearDup
    Declared("q_embed_neardup_auto", (s, d) => SimSearch.embedNearDupAuto(Tables.embeddings(s, d)), Some(
      """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |FROM embeddings WHERE list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |list_transform(embedding, x -> CAST(x AS DOUBLE))) > 0),
        |params AS (SELECT LEAST(24, GREATEST(4,
        |CAST(FLOOR(LOG2(CAST(GREATEST(1, GREATEST(1,
        |(SELECT count(*) FROM embeddings) // 1024) - 1) AS DOUBLE))) AS INT) + 1)) AS bits),
        |dims AS (SELECT min(len(v)) AS d FROM n),
        |rotp AS (SELECT bits, GREATEST(1, LEAST(2, d // gcd(d, bits))) AS nrot
        |FROM params, dims),
        |rots AS (SELECT bits, unnest(range(nrot)) AS rot FROM rotp),
        |b AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm, rot,
        |array_to_string(list_transform(range(bits),
        |i -> CASE WHEN v[((rot*bits + i) % len(v)) + 1] > 0 THEN '1' ELSE '0' END), '') AS bucket
        |FROM n CROSS JOIN rots)
        |SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b,
        |list_dot_product(a.v, b2.v)/(a.nrm*b2.nrm) AS cos_sim
        |FROM b a JOIN b b2 ON a.rot = b2.rot AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id
        |WHERE list_dot_product(a.v, b2.v)/(a.nrm*b2.nrm) >= 0.25""".stripMargin)),
    // L2 normalization: the map-side preprocessing of every cosine pipeline
    // All-double arithmetic in list order on both sides; empty lists
    // guarded (list_sum of [] is NULL where the engine's fold is 0).
    Declared("q_embed_norm", (s, d) => SimSearch.embedNormQ(Tables.embeddings(s, d)), Some(
      """WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |FROM embeddings),
        |n AS (SELECT vec_id, v,
        |sqrt(coalesce(list_sum(list_transform(v, x -> x * x)), 0.0)) AS l2_norm FROM q)
        |SELECT vec_id, CAST(len(v) AS BIGINT) AS n_dims, round(l2_norm, 6) AS l2_norm,
        |round(CASE WHEN l2_norm = 0 THEN coalesce(list_sum(v), 0.0)
        |ELSE list_sum(list_transform(v, x -> x / l2_norm)) END, 6) AS unit_sum
        |FROM n""".stripMargin))
  )

  /** The MMR oracle: the greedy diversity re-rank unrolled as `kOut`
    * argmax CTEs (the PageRank unrolled-rounds structure) over the
    * identical nano-grid relevance and pairwise-sim tables — step 1 is
    * the pure relevance argmax (no selected set), step t maximizes
    * 7·rel − 3·max_{selected} sim with the vec_id tie-break. */
  private def mmrOracleSql(nCand: Int, kOut: Int): String = {
    val head =
      s"""WITH n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
        |FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |FROM embeddings) e WHERE list_dot_product(v, v) > 0),
        |p AS (SELECT v AS pv, nrm AS pn FROM n WHERE vec_id = 0),
        |cand AS (SELECT vec_id,
        |CAST(floor(list_dot_product(v, pv)/(nrm*pn)*1e9) AS BIGINT) AS rel, v, nrm
        |FROM n, p WHERE vec_id <> 0 ORDER BY rel DESC, vec_id ASC LIMIT $nCand),
        |sims AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
        |CAST(floor(list_dot_product(a.v, b.v)/(a.nrm*b.nrm)*1e9) AS BIGINT) AS s
        |FROM cand a, cand b WHERE a.vec_id <> b.vec_id),
        |s1 AS (SELECT vec_id, rel, CAST(7*rel AS BIGINT) AS mmr FROM cand
        |ORDER BY rel DESC, vec_id ASC LIMIT 1),
        |sel1 AS (SELECT vec_id FROM s1)""".stripMargin
    val steps = (2 to kOut).map { t =>
      s"""s$t AS (SELECT c.vec_id, c.rel,
        |CAST(7*c.rel - 3*(SELECT max(s) FROM sims
        |WHERE ia = c.vec_id AND ib IN (SELECT vec_id FROM sel${t - 1})) AS BIGINT) AS mmr
        |FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${t - 1})
        |ORDER BY mmr DESC, c.vec_id ASC LIMIT 1),
        |sel$t AS (SELECT vec_id FROM sel${t - 1} UNION ALL SELECT vec_id FROM s$t)""".stripMargin
    }
    val out = (1 to kOut).map(t =>
      s"SELECT CAST($t AS BIGINT) AS rank, vec_id, rel AS rel_nano, mmr AS mmr_nano FROM s$t")
      .mkString("\nUNION ALL ")
    (head +: steps).mkString(",\n") + "\n" + out
  }

  /** The multi-probe MMR oracle: the [[mmrOracleSql]] greedy unrolled
    * per step but computed for ALL probes at once — each step's argmax
    * is a row_number over probe_id, the maxsim subquery correlates on
    * (probe_id, candidate), and sel_t accumulates (probe_id, vec_id)
    * pairs. Probes = vec_id < nProbes; candidates per probe = that
    * probe's top-nCand relevance list (corpus minus the probe). */
  private def mmrBatchOracleSql(nProbes: Int, nCand: Int, kOut: Int): String = {
    val head =
      s"""WITH n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
        |FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |FROM embeddings) e WHERE list_dot_product(v, v) > 0),
        |p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pn FROM n
        |WHERE vec_id < $nProbes),
        |cand0 AS (SELECT probe_id, n.vec_id AS vec_id,
        |CAST(floor(list_dot_product(n.v, pv)/(n.nrm*pn)*1e9) AS BIGINT) AS rel,
        |n.v AS v, n.nrm AS nrm
        |FROM n CROSS JOIN p WHERE n.vec_id <> p.probe_id),
        |cand AS (SELECT probe_id, vec_id, rel, v, nrm FROM (
        |SELECT *, row_number() OVER (PARTITION BY probe_id
        |ORDER BY rel DESC, vec_id ASC) AS rn FROM cand0) t WHERE rn <= $nCand),
        |sims AS (SELECT a.probe_id, a.vec_id AS ia, b.vec_id AS ib,
        |CAST(floor(list_dot_product(a.v, b.v)/(a.nrm*b.nrm)*1e9) AS BIGINT) AS s
        |FROM cand a JOIN cand b
        |ON a.probe_id = b.probe_id AND a.vec_id <> b.vec_id),
        |s1 AS (SELECT probe_id, vec_id, rel, CAST(7*rel AS BIGINT) AS mmr FROM (
        |SELECT *, row_number() OVER (PARTITION BY probe_id
        |ORDER BY rel DESC, vec_id ASC) AS rn FROM cand) t WHERE rn = 1),
        |sel1 AS (SELECT probe_id, vec_id FROM s1)""".stripMargin
    val steps = (2 to kOut).map { t =>
      s"""s$t AS (SELECT probe_id, vec_id, rel, mmr FROM (
        |SELECT *, row_number() OVER (PARTITION BY probe_id
        |ORDER BY mmr DESC, vec_id ASC) AS rn FROM (
        |SELECT c.probe_id, c.vec_id, c.rel,
        |CAST(7*c.rel - 3*(SELECT max(s) FROM sims
        |WHERE sims.probe_id = c.probe_id AND sims.ia = c.vec_id
        |AND sims.ib IN (SELECT vec_id FROM sel${t - 1} sl
        |WHERE sl.probe_id = c.probe_id)) AS BIGINT) AS mmr
        |FROM cand c WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} sl2
        |WHERE sl2.probe_id = c.probe_id AND sl2.vec_id = c.vec_id)) u) t
        |WHERE rn = 1),
        |sel$t AS (SELECT probe_id, vec_id FROM sel${t - 1}
        |UNION ALL SELECT probe_id, vec_id FROM s$t)""".stripMargin
    }
    val out = (1 to kOut).map(t =>
      s"SELECT probe_id, CAST($t AS BIGINT) AS rank, vec_id, " +
        s"rel AS rel_nano, mmr AS mmr_nano FROM s$t")
      .mkString("\nUNION ALL ")
    (head +: steps).mkString(",\n") + "\n" + out
  }

  /** Power iteration on the micro-quantized embedding matrix — `iters`
    * unrolled rounds of the exact integer fold (see
    * SimSearch.powerIterQ): s = sign·(|Σ x·v| div 10⁶) per vector,
    * w = Σ s·x per dimension, v' = sign(w)·(|w| div max(1, m div 10⁶)). */
  private def powerIterOracleSql(iters: Int): String = {
    val base =
      """WITH e AS (SELECT vec_id, j,
        |CAST(floor(CAST(embedding[CAST(j AS INT)+1] AS DOUBLE)*1000000) AS BIGINT) AS x
        |FROM embeddings, unnest(range(0, len(embedding))) AS t(j)),
        |v0 AS (SELECT DISTINCT j, CAST(1000000 AS BIGINT) AS v FROM e)""".stripMargin
    val its = (1 to iters).map { i =>
      s"""s$i AS (SELECT vec_id,
         |CAST(CASE WHEN sum(x*v) < 0 THEN -1 ELSE 1 END *
         |(abs(sum(x*v)) // 1000000) AS BIGINT) AS sr
         |FROM e JOIN v${i - 1} USING (j) GROUP BY vec_id),
         |w$i AS (SELECT j, CAST(sum(sr*x) AS BIGINT) AS w
         |FROM e JOIN s$i USING (vec_id) GROUP BY j),
         |m$i AS (SELECT greatest(1, max(abs(w)) // 1000000) AS dv FROM w$i),
         |v$i AS (SELECT j,
         |CAST(CASE WHEN w < 0 THEN -1 ELSE 1 END * (abs(w) // dv) AS BIGINT) AS v
         |FROM w$i, m$i)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$its\n" +
      s"SELECT CAST(j AS BIGINT) AS dim, v AS v_micro FROM v$iters"
  }

  /** The exact brute-force cosine top-k oracle — declared for q_sim_topk
    * and reused as the ground-truth CTE of the trained-IVF recall gate. */
  private val SimTopKOracleSql: String =
    """WITH n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
      |FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |FROM embeddings) e WHERE list_dot_product(v, v) > 0),
      |sims AS (SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
      |list_dot_product(c.v, p.v)/(c.nrm*p.nrm) AS cos_sim
      |FROM n c JOIN n p ON p.vec_id < 5 AND c.vec_id <> p.vec_id)
      |SELECT * FROM (SELECT probe_id, neighbor_id, cos_sim,
      |CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rnk
      |FROM sims) t WHERE rnk <= 5""".stripMargin

  /** Shared by q_decontaminate_embed_ivf and its index-backed twin
    * q_decontaminate_embed_incr (bit-identical declared semantics). */
  private val DeconEmbedIvfOracleSql: String =
    """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |FROM embeddings),
      |nn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM n
      |WHERE list_dot_product(v, v) > 0),
      |cents AS (SELECT vec_id AS cell, v AS cv, nrm AS cn FROM nn
      |WHERE vec_id >= 1 AND vec_id < 17),
      |c AS (SELECT vec_id, v, nrm FROM nn WHERE vec_id % 50 <> 0),
      |asg AS (SELECT vec_id, v, nrm, cell FROM (
      |SELECT c.vec_id, c.v, c.nrm, cents.cell, row_number() OVER (
      |PARTITION BY c.vec_id
      |ORDER BY list_dot_product(c.v, cents.cv)/(c.nrm*cents.cn) DESC, cents.cell ASC) AS rn
      |FROM c CROSS JOIN cents) t WHERE rn = 1),
      |pc AS (SELECT eval_id, ev, en, cell FROM (
      |SELECT p.vec_id AS eval_id, p.v AS ev, p.nrm AS en, cents.cell,
      |row_number() OVER (PARTITION BY p.vec_id
      |ORDER BY list_dot_product(p.v, cents.cv)/(p.nrm*cents.cn) DESC, cents.cell ASC) AS cr
      |FROM nn p CROSS JOIN cents WHERE p.vec_id % 50 = 0) t WHERE cr <= 4),
      |s AS (SELECT a.vec_id, pc.eval_id,
      |list_dot_product(a.v, pc.ev)/(a.nrm*pc.en) AS cs
      |FROM asg a JOIN pc ON a.cell = pc.cell),
      |m AS (SELECT vec_id, eval_id, cs, row_number() OVER (
      |PARTITION BY vec_id ORDER BY cs DESC, eval_id ASC) AS rn FROM s)
      |SELECT vec_id, eval_id AS nearest_eval, round(cs, 6) AS cos_sim
      |FROM m WHERE rn = 1 AND cs >= 0.3""".stripMargin

  /** The sampled-centroid IVF oracle — declared for q_sim_topk_ivf and
    * reused by q_ann_recall (the recall audit joins it against the
    * exact [[SimTopKOracleSql]] ranking). */
  private val IvfTopKOracleSql: String =
    """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |FROM embeddings WHERE list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
      |list_transform(embedding, x -> CAST(x AS DOUBLE))) > 0),
      |nn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM n),
      |cents AS (SELECT vec_id AS cell, v AS cv, nrm AS cn FROM nn
      |WHERE vec_id >= 5 AND vec_id < 21),
      |asg AS (SELECT vec_id, v, nrm, cell FROM (
      |SELECT a.vec_id, a.v, a.nrm, c.cell, row_number() OVER (PARTITION BY a.vec_id
      |ORDER BY list_dot_product(a.v, c.cv)/(a.nrm*c.cn) DESC, c.cell ASC) AS rn
      |FROM nn a CROSS JOIN cents c) t WHERE rn = 1),
      |pc AS (SELECT probe_id, pv, pn, cell FROM (
      |SELECT p.vec_id AS probe_id, p.v AS pv, p.nrm AS pn, c.cell,
      |row_number() OVER (PARTITION BY p.vec_id
      |ORDER BY list_dot_product(p.v, c.cv)/(p.nrm*c.cn) DESC, c.cell ASC) AS cr
      |FROM nn p CROSS JOIN cents c WHERE p.vec_id < 5) t WHERE cr <= 2),
      |sims AS (SELECT pc.probe_id, a.vec_id AS neighbor_id,
      |list_dot_product(a.v, pc.pv)/(a.nrm*pc.pn) AS cos_sim
      |FROM asg a JOIN pc ON a.cell = pc.cell AND a.vec_id <> pc.probe_id)
      |SELECT * FROM (SELECT probe_id, neighbor_id, cos_sim,
      |CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rnk
      |FROM sims) t WHERE rnk <= 5""".stripMargin
}
