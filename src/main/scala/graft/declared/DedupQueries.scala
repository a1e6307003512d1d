package graft.declared

import graft.ops.{Components, Dedup, MultiModal}
import graft.sources.Tables

/** Exact, near-duplicate, substring, line, URL and multimodal dedup, the
  * shingle decontamination audits, and the connected-components clustering
  * built on the same pairs. */
object DedupQueries {

  def declared: Seq[Declared] = Seq(
    // LLM-pipeline operators (DataFrame-first: any (doc_id, text) /
    // (vec_id, embedding) frame works — the test tables are one wiring)
    Declared("q_dedup", (s, d) => Dedup.exactDedup(Tables.documents(s, d)), Some(
      """SELECT min(doc_id) AS doc_id, count(*) AS dup_cnt
        |FROM (SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS norm_hash
        |FROM documents) t GROUP BY norm_hash""".stripMargin)),
    Declared("q_dedup_near", (s, d) => Dedup.nearDupPairs(Tables.documents(s, d)), Some(
      """WITH tok AS (SELECT DISTINCT doc_id, t AS token FROM
        |(SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
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
        |GROUP BY c.doc_a, c.doc_b)
        |SELECT c.doc_a, c.doc_b,
        |CAST(c.n_common AS DOUBLE)/(sa.n_tok + sb.n_tok - c.n_common) AS jaccard
        |FROM common c JOIN sizes sa ON sa.doc_id = c.doc_a JOIN sizes sb ON sb.doc_id = c.doc_b
        |WHERE CAST(c.n_common AS DOUBLE)/(sa.n_tok + sb.n_tok - c.n_common) >= 0.5""".stripMargin)),
    // the minhash estimator itself, gated: signature-agreement estimate
    // vs exact jaccard per verified pair, absolute error as data
    // The minhash estimator readout: the q_dedup_near pipeline's pairs
    // enriched with the signature-agreement estimate (exact multiples
    // of 1/8 in both engines) and its absolute error.
    Declared("q_minhash_est", (s, d) => Dedup.minhashEstQ(Tables.documents(s, d)), Some(
      """WITH tok AS (SELECT DISTINCT doc_id, t AS token FROM
        |(SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
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
        |pairs AS (SELECT c.doc_a, c.doc_b,
        |CAST(c.n_common AS DOUBLE)/(sa.n_tok + sb.n_tok - c.n_common) AS jaccard
        |FROM common c JOIN sizes sa ON sa.doc_id = c.doc_a JOIN sizes sb ON sb.doc_id = c.doc_b
        |WHERE CAST(c.n_common AS DOUBLE)/(sa.n_tok + sb.n_tok - c.n_common) >= 0.5)
        |SELECT p.doc_a, p.doc_b, round(p.jaccard, 6) AS jaccard,
        |(CAST(a.h0 = b.h0 AS INT) + CAST(a.h1 = b.h1 AS INT)
        |+ CAST(a.h2 = b.h2 AS INT) + CAST(a.h3 = b.h3 AS INT)
        |+ CAST(a.h4 = b.h4 AS INT) + CAST(a.h5 = b.h5 AS INT)
        |+ CAST(a.h6 = b.h6 AS INT) + CAST(a.h7 = b.h7 AS INT)) / 8.0 AS est_jaccard,
        |round(abs((CAST(a.h0 = b.h0 AS INT) + CAST(a.h1 = b.h1 AS INT)
        |+ CAST(a.h2 = b.h2 AS INT) + CAST(a.h3 = b.h3 AS INT)
        |+ CAST(a.h4 = b.h4 AS INT) + CAST(a.h5 = b.h5 AS INT)
        |+ CAST(a.h6 = b.h6 AS INT) + CAST(a.h7 = b.h7 AS INT)) / 8.0 - p.jaccard), 6) AS abs_err
        |FROM pairs p JOIN sig a ON a.doc_id = p.doc_a
        |JOIN sig b ON b.doc_id = p.doc_b""".stripMargin)),
    // Incremental shape: same banded minhash + exact-Jaccard as
    // q_dedup_near, over the corpus (doc_id % 20 <> 0) ∪ re-keyed delta
    // (doc_id % 20 = 0, +100000), restricted to (delta, corpus) cross
    // pairs — exactly what the persisted-index path must return.
    Declared("q_dedup_incr", (s, d) => Dedup.incrementalNearDupQ(s, d), Some(nearDupIncrOracleSql(""))),
    // right-to-be-forgotten on the LSH store: indexed doc_id % 13 = 0
    // tombstoned, the delta lookup can never pair against them
    // deletion propagation on the LSH store: the delta lookup after
    // forgetting doc_id % 13 = 0 equals the batch pairs against the
    // surviving corpus
    Declared("q_dedup_forget", (s, d) => Dedup.forgetNearDupQ(s, d),
      Some(nearDupIncrOracleSql(" AND b.doc_id % 13 <> 0"))),
    // The incremental fuzzy shape: q_dedup_incr's banded blocking over
    // corpus ∪ re-keyed delta, restricted to (delta, corpus) pairs, with
    // the edit-distance verify of q_dedup_fuzzy.
    Declared("q_dedup_fuzzy_incr", (s, d) => Dedup.incrementalFuzzyQ(s, d), Some(
      """WITH docs2 AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0
        |UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 20 = 0),
        |tok AS (SELECT DISTINCT doc_id, t AS token FROM
        |(SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |FROM docs2) u WHERE t <> ''),
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
        |delta_ids AS (SELECT doc_id + 100000 AS doc_id FROM documents WHERE doc_id % 20 = 0),
        |cand AS (SELECT DISTINCT a.doc_id AS probe_id, b.doc_id AS match_id FROM bands a
        |JOIN bands b ON a.band = b.band AND a.b0 = b.b0 AND a.b1 = b.b1
        |WHERE a.doc_id IN (SELECT doc_id FROM delta_ids)
        |AND b.doc_id NOT IN (SELECT doc_id FROM delta_ids)),
        |norm AS (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        |FROM docs2),
        |v AS (SELECT probe_id, match_id,
        |CAST(levenshtein(na.t, nb.t) AS BIGINT) AS edit_dist,
        |greatest(length(na.t), length(nb.t)) AS max_len
        |FROM cand JOIN norm na ON na.doc_id = probe_id JOIN norm nb ON nb.doc_id = match_id)
        |SELECT probe_id, match_id, edit_dist,
        |CASE WHEN max_len = 0 THEN 1.0 ELSE 1.0 - CAST(edit_dist AS DOUBLE)/max_len END AS edit_sim
        |FROM v
        |WHERE CASE WHEN max_len = 0 THEN 1.0 ELSE 1.0 - CAST(edit_dist AS DOUBLE)/max_len END >= 0.8""".stripMargin)),
    // Cluster resolution over the SAME pair pipeline as q_dedup_near.
    // Shape matters for DuckDB feasibility: a naive recursive
    // reachability walk does Σ|component|²·degree join work — cubic in
    // clique size, and the sf0.1 corpus contains a ~4000-doc template
    // clique (7.8M pairs). So the oracle mirrors the Spark algorithm:
    // two STAR-CONTRACTION levels in plain SQL (each node merges into
    // the min of its closed neighborhood; a clique collapses in one
    // level — measured 7.8M → 3276 → 58 edges at sf0.1) and only the
    // residual sparse graph enters the recursive min-label walk, whose
    // per-row prune (label < receiving node) keeps it linear-ish. The
    // component minimum survives contraction (the min's own
    // neighborhood-min is itself), so labels are exact. The walk sits
    // in a NESTED subquery because DuckDB 1.0 stops honoring
    // MATERIALIZED once the top-level WITH is RECURSIVE — inlining it
    // re-evaluates the md5 pair pipeline per reference (measured 3×).
    Declared("q_dup_clusters", (s, d) => Components.dupClustersQ(s, d),
      Some(dupClusterOracleSql(docsCte = "", src = "documents"))),
    // incremental cluster maintenance: standing corpus labels + delta
    // pairs folded in via mergeClusters, hash-gated against batch
    // re-clustering of the union (LSH pairs decompose exactly by side)
    // batch re-clustering of the re-keyed corpus ∪ delta union — the
    // ground truth the INCREMENTAL label maintenance must reproduce
    Declared("q_dup_clusters_incr", (s, d) => Components.dupClustersIncrQ(s, d), Some(dupClusterOracleSql(
      docsCte = """docs2 AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0
        |UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 20 = 0),
        |""".stripMargin,
      src = "docs2"))),
    // quality-aware canonical selection: keep the longest member of each
    // near-dup cluster (C4/RefinedWeb keep-rule), rank window per cluster
    // the cluster oracle nested as a CTE, then the keep-longest rank —
    // quality-aware canonical selection shares the clustering ground truth
    Declared("q_dedup_best", (s, d) => Components.dedupBestQ(s, d), Some(
      s"""WITH clusters AS (
        |${dupClusterOracleSql(docsCte = "", src = "documents")}
        |)
        |SELECT cluster, doc_id, n_chars, (rn = 1) AS keep FROM (
        |SELECT c.cluster, c.doc_id, d.n_chars,
        |row_number() OVER (PARTITION BY c.cluster
        |ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn
        |FROM clusters c JOIN documents d ON d.doc_id = c.doc_id) t""".stripMargin)),
    Declared("q_dedup_simhash", (s, d) => Dedup.simhashPairs(Tables.documents(s, d)), Some(
      """WITH tok AS (SELECT DISTINCT doc_id, t AS token FROM
        |(SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |FROM documents) u WHERE t <> ''),
        |bits AS (SELECT doc_id, j,
        |sum(CASE WHEN (CAST(('0x'||substr(md5(token),1,8)) AS BIGINT) >> j) & 1 = 1
        |THEN 1 ELSE -1 END) AS s
        |FROM tok CROSS JOIN (SELECT unnest(range(0,32)) AS j) js GROUP BY doc_id, j),
        |fp AS (SELECT doc_id, sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS simhash
        |FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin)),
    // ExactSubstr (Lee et al.) at 8-token-gram coverage granularity:
    // remove every token inside a >= 8-token run occurring twice anywhere
    // ExactSubstr semantics at L=8-gram coverage: a 1-based token
    // position q is removed iff some 8-gram starting in [q-7, q] has
    // corpus-wide occurrence >= 2 (within-doc repeats count). Same
    // 60-bit md5 gram hashes as the Spark side; coverage expanded via
    // range(pos, pos+8) over 1-based starts.
    Declared("q_substring_dedup", (s, d) => Dedup.substringDedup(Tables.documents(s, d)),
      Some(substringOracleSql("", "documents", ""))),
    // delta excised against the persisted gram-frequency index (the
    // sixth index): totals = index counts + the delta's own counts
    // the incremental lookup's oracle is the SAME coverage text over
    // the re-keyed union, restricted to delta rows: duplicate totals =
    // index counts + the delta's own counts, exactly what the pruned
    // lookup computes
    Declared("q_substring_dedup_incr", (s, d) => Dedup.incrementalSubstringQ(s, d), Some(substringOracleSql(
      """d AS (SELECT CASE WHEN doc_id % 20 = 0 THEN doc_id + 200000
        |ELSE doc_id END AS doc_id, text FROM documents), """.stripMargin,
      "d", "WHERE t.doc_id >= 200000"))),
    // right-to-be-forgotten on the gram-count index: victims' grams
    // leave the duplicate table via the negative-count ledger
    // forget: the SAME incremental text with the forgotten corpus docs
    // filtered at the source (the re-keyed delta keeps all its rows)
    Declared("q_substring_forget", (s, d) => Dedup.substringForgetQ(s, d), Some(substringOracleSql(
      """d AS (SELECT CASE WHEN doc_id % 20 = 0 THEN doc_id + 200000
        |ELSE doc_id END AS doc_id, text FROM documents
        |WHERE doc_id % 20 = 0 OR doc_id % 17 <> 0), """.stripMargin,
      "d", "WHERE t.doc_id >= 200000"))),
    Declared("q_dedup_ngram", (s, d) => Dedup.ngramJaccardPairs(Tables.documents(s, d)), Some(
      """WITH sh AS (SELECT DISTINCT doc_id,
        |unnest(list_transform(range(0, greatest(len(toks)-2, 0)),
        |i -> CAST(('0x'||substr(md5(array_to_string(toks[i+1:i+3], ' ')),1,15)) AS BIGINT))) AS shingle
        |FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |FROM documents) t WHERE len(toks) >= 3),
        |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 50),
        |shf AS (SELECT sh.* FROM sh JOIN rare USING (shingle)),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id),
        |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        |FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT c.doc_a, c.doc_b,
        |CAST(c.n_common AS DOUBLE)/(sa.n_sh + sb.n_sh - c.n_common) AS jaccard
        |FROM common c JOIN sizes sa ON sa.doc_id = c.doc_a JOIN sizes sb ON sb.doc_id = c.doc_b
        |WHERE CAST(c.n_common AS DOUBLE)/(sa.n_sh + sb.n_sh - c.n_common) >= 0.3""".stripMargin)),
    // asymmetric containment (|∩|/min) over the same shingle lane —
    // catches a document pasted inside a longer one, which Jaccard dilutes
    // same shingle lane, asymmetric measure: |∩| / min(|A|, |B|) ≥ 0.6
    Declared("q_dedup_containment", (s, d) => Dedup.containmentPairs(Tables.documents(s, d)), Some(
      """WITH sh AS (SELECT DISTINCT doc_id,
        |unnest(list_transform(range(0, greatest(len(toks)-2, 0)),
        |i -> CAST(('0x'||substr(md5(array_to_string(toks[i+1:i+3], ' ')),1,15)) AS BIGINT))) AS shingle
        |FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |FROM documents) t WHERE len(toks) >= 3),
        |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 50),
        |shf AS (SELECT sh.* FROM sh JOIN rare USING (shingle)),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id),
        |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        |FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT c.doc_a, c.doc_b,
        |CAST(c.n_common AS DOUBLE)/least(sa.n_sh, sb.n_sh) AS containment
        |FROM common c JOIN sizes sa ON sa.doc_id = c.doc_a JOIN sizes sb ON sb.doc_id = c.doc_b
        |WHERE CAST(c.n_common AS DOUBLE)/least(sa.n_sh, sb.n_sh) >= 0.6""".stripMargin)),
    Declared("q_fingerprint", (s, d) => Dedup.fingerprints(Tables.documents(s, d)), Some(
      """SELECT doc_id, list_aggregate(list_transform(range(0, greatest(len(toks)-5, 0)+1),
        |i -> md5(array_to_string(toks[i+1:i+5], ' '))), 'min') AS fp
        |FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |FROM documents) t""".stripMargin)),
    Declared("q_multimodal", (s, d) => MultiModal.payloadFeatures(Tables.documents(s, d)), Some(
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |md5(text) AS payload_md5,
        |CAST(doc_id % 640 + 64 AS BIGINT) AS width,
        |CAST(doc_id % 480 + 48 AS BIGINT) AS height,
        |substr(hex(encode(text)), 1, 16) AS frame_0,
        |substr(hex(encode(text)), 17, 16) AS frame_1,
        |substr(hex(encode(text)), 33, 16) AS frame_2
        |FROM documents""".stripMargin)),
    // perceptual (dHash) near-dup over payloads + re-encoded variants:
    // 60-bit gradient hash, 4x15-bit LSH bands, hamming <= 3 exact
    // Perceptual dedup: 60-bit dHash over the decoded (stub: code-point)
    // sequence of each payload and its one-byte-corrupted re-encode
    // variant (doc_id + 100000); full O(n^2) pairwise scan at hamming
    // <= 3 — the banded join must equal it exactly (pigeonhole).
    Declared("q_image_dedup", (s, d) => MultiModal.imageDedupQ(Tables.documents(s, d)), Some(imageOracleSql(""))),
    // incoming re-encodes deduped against the persisted dHash band
    // index (the seventh index): bucket-pruned read, inline hamming
    // the incremental lookup's oracle is the SAME pairwise text
    // restricted to (indexed base, delta variant) pairs — exactly the
    // delta-vs-index contract the pruned lookup computes
    Declared("q_image_dedup_incr", (s, d) => MultiModal.imageDedupIncrQ(s, d), Some(imageOracleSql(
      "AND a.doc_id < 100000 AND b.doc_id >= 100000"))),
    // frame-fingerprint video near-dup: fixed-stride frames, per-frame
    // dHash60, pairs sharing >= 3 distinct frame fingerprints
    // Video frame dedup: same variant synthesis and dHash sampling
    // formula as the image oracle, applied per fixed-stride frame;
    // df cap 2..50 and the >= 3 shared-frame bar are declared semantics.
    // ASCII-payload contract (same as the image oracle): the oracle
    // samples code points (DuckDB unicode()) where the engine's native
    // DHash60 records Spark ascii() semantics (signed first UTF-8 byte)
    // — they agree exactly on ASCII payloads, which the documents
    // fixture guarantees; a multibyte corpus would need the oracle to
    // sample the first byte of the character instead.
    Declared("q_video_dedup", (s, d) => MultiModal.videoFrameDedupQ(Tables.documents(s, d)), Some(
      """WITH base AS (SELECT doc_id, text FROM documents WHERE length(text) >= 16),
        |v AS (SELECT doc_id + 100000 AS doc_id,
        |substr(text, 1, greatest(1, CAST(floor(length(text)/2) AS INT)) - 1) || '~' ||
        |substr(text, greatest(1, CAST(floor(length(text)/2) AS INT)) + 1, length(text)) AS text
        |FROM base),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM v),
        |fr AS (SELECT doc_id, substr(text, CAST(i*12 + 1 AS INT), 16) AS frame
        |FROM (SELECT doc_id, text, unnest(range(0,
        |1 + CAST(floor((length(text) - 16) / 12.0) AS BIGINT))) AS i
        |FROM u WHERE length(text) >= 16) z),
        |c AS (SELECT doc_id, frame, list_transform(range(0, 61), i ->
        |unicode(substr(frame, CAST(floor(i*(length(frame)-1)/60) AS INT) + 1, 1))) AS cs
        |FROM fr),
        |f AS (SELECT DISTINCT doc_id, CAST(list_sum(list_transform(range(0, 60), j ->
        |CASE WHEN cs[j+1] < cs[j+2] THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS fp
        |FROM c),
        |sz AS (SELECT fp, count(DISTINCT doc_id) AS df FROM f GROUP BY fp),
        |p AS (SELECT a.doc_id AS vid_a, b.doc_id AS vid_b, count(*) AS n_shared
        |FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |JOIN sz ON sz.fp = a.fp AND sz.df BETWEEN 2 AND 50
        |GROUP BY 1, 2)
        |SELECT vid_a, vid_b, CAST(n_shared AS BIGINT) AS n_shared
        |FROM p WHERE n_shared >= 3""".stripMargin)),
    // chromaprint-style audio near-dup: native per-window band-energy
    // difference fingerprints (ChromaFp), >= 3 shared distinct windows
    // under a df cap — the video pairing shape on the audio decode stub
    // Audio chroma dedup: per-window band-energy difference bits over
    // the stub-decoded sample stream (windows of 32 at hop 16, 8 bands
    // of 4 — band width divides the hop, so every band energy is one of
    // the non-overlapping 4-sample partial sums b4; window t>=1 bits:
    // 7 spectral E(t,b)>E(t,b+1) + 8 temporal E(t,b)>E(t-1,b)), same
    // variant synthesis, df cap and >= 3 shared bar as the video
    // oracle. ASCII-payload contract as image/video (unicode vs ascii).
    Declared("q_audio_dedup", (s, d) => MultiModal.audioFingerprintDedupQ(Tables.documents(s, d)),
      Some(audioOracleSql(""))),
    // the FIFTEENTH persisted index: bucketed chroma fingerprints,
    // corpus indexed once + variant delta probed through the pruned read
    // delta-vs-index contract: only (indexed base, incoming variant)
    // pairs; the df cap is computed over the same base+variant union
    // as the batch form (the pruned buckets see complete posting
    // lists, so the engine's df is exact — see audioNearDupsAgainstIndex)
    Declared("q_audio_dedup_incr", (s, d) => MultiModal.audioDedupIncrQ(s, d), Some(
      audioOracleSql("AND a.doc_id < 100000 AND b.doc_id >= 100000"))),
    // Same banded-minhash blocking as q_dedup_near, restricted to the
    // probe set, then byte==char Levenshtein on the ASCII fixture (the
    // engine's code-point semantics vs DuckDB's byte semantics only
    // diverge on non-ASCII text — pinned spec-side instead).
    Declared("q_dedup_fuzzy", (s, d) => Dedup.fuzzyMatchQ(Tables.documents(s, d)), Some(
      """WITH tok AS (SELECT DISTINCT doc_id, t AS token FROM
        |(SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
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
        |cand AS (SELECT DISTINCT a.doc_id AS probe_id, b.doc_id AS match_id FROM bands a
        |JOIN bands b ON a.band = b.band AND a.b0 = b.b0 AND a.b1 = b.b1
        |AND a.doc_id <> b.doc_id WHERE a.doc_id < 100),
        |norm AS (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        |FROM documents),
        |v AS (SELECT probe_id, match_id,
        |CAST(levenshtein(na.t, nb.t) AS BIGINT) AS edit_dist,
        |greatest(length(na.t), length(nb.t)) AS max_len
        |FROM cand JOIN norm na ON na.doc_id = probe_id JOIN norm nb ON nb.doc_id = match_id)
        |SELECT probe_id, match_id, edit_dist,
        |CASE WHEN max_len = 0 THEN 1.0 ELSE 1.0 - CAST(edit_dist AS DOUBLE)/max_len END AS edit_sim
        |FROM v
        |WHERE CASE WHEN max_len = 0 THEN 1.0 ELSE 1.0 - CAST(edit_dist AS DOUBLE)/max_len END >= 0.8""".stripMargin)),
    // Containment semantics: fraction of the TRAINING doc's own distinct
    // 8-gram hashes that occur anywhere in the eval set (docs 0-49).
    Declared("q_decontaminate", (s, d) => Dedup.contaminationQ(Tables.documents(s, d)), Some(DecontaminateOracleSql)),
    // the same decontamination with a bloom prefilter on the corpus
    // shingle stream — shares q_decontaminate's oracle (bloom invisible)
    Declared("q_decontaminate_bloom", (s, d) => Dedup.contaminationBloomQ(Tables.documents(s, d)),
      Some(DecontaminateOracleSql)),
    // SemDeDup-style semantic dedup closed end-to-end: embedding
    // near-dup pairs -> connected components -> representative filter,
    // every keep/drop decision and cluster size under the hash gate
    // q_embed_neardup's pair pipeline composed with q_dup_clusters'
    // component resolution (two star-contraction levels + the pruned
    // recursive min-label walk on the residual), then the survivor
    // filter: keep vectors in no pair or labeled by themselves, with
    // the represented cluster's size (1 for singletons).
    Declared("q_semantic_dedup", (s, d) => Components.semanticDedupQ(s, d), Some(
      """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |FROM embeddings WHERE list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |list_transform(embedding, x -> CAST(x AS DOUBLE))) > 0),
        |nn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
        |array_to_string(list_transform(range(8), i -> CASE WHEN v[(i % len(v)) + 1] > 0 THEN '1' ELSE '0' END), '') AS bucket
        |FROM n),
        |pairs AS MATERIALIZED (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        |FROM nn a JOIN nn b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v)/(a.nrm*b.nrm) >= 0.25),
        |e0 AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs
        |UNION ALL SELECT doc_b, doc_a FROM pairs),
        |m1 AS MATERIALIZED (SELECT u, least(u, min(v)) AS m FROM e0 GROUP BY u),
        |e1 AS MATERIALIZED (SELECT DISTINCT ma.m AS u, mb.m AS v FROM e0
        |JOIN m1 ma ON ma.u = e0.u JOIN m1 mb ON mb.u = e0.v WHERE ma.m <> mb.m),
        |e1s AS MATERIALIZED (SELECT u, v FROM e1 UNION ALL SELECT v, u FROM e1),
        |m2 AS MATERIALIZED (SELECT u, least(u, min(v)) AS m FROM e1s GROUP BY u),
        |e2 AS MATERIALIZED (SELECT DISTINCT ma.m AS u, mb.m AS v FROM e1s
        |JOIN m2 ma ON ma.u = e1s.u JOIN m2 mb ON mb.u = e1s.v WHERE ma.m <> mb.m),
        |e2s AS MATERIALIZED (SELECT u, v FROM e2 UNION ALL SELECT v, u FROM e2),
        |wl AS MATERIALIZED (SELECT u, min(label) AS label FROM (
        |WITH RECURSIVE walk(u, label) AS (
        |SELECT DISTINCT u, u FROM e2s
        |UNION
        |SELECT e.v, w.label FROM walk w JOIN e2s e ON e.u = w.u
        |WHERE w.label < e.v)
        |SELECT u, label FROM walk) GROUP BY u),
        |lvl AS (SELECT m1.u AS vid, coalesce(m2.m, m1.m) AS s2
        |FROM m1 LEFT JOIN m2 ON m2.u = m1.m),
        |lbl AS (SELECT lvl.vid, coalesce(wl.label, lvl.s2) AS cluster
        |FROM lvl LEFT JOIN wl ON wl.u = lvl.s2),
        |sizes AS (SELECT cluster, count(*) AS n_members FROM lbl GROUP BY cluster)
        |SELECT e.vec_id, CAST(len(e.embedding) AS BIGINT) AS n_dims,
        |coalesce(s.n_members, 1) AS n_members
        |FROM embeddings e
        |LEFT JOIN lbl ON lbl.vid = e.vec_id
        |LEFT JOIN sizes s ON s.cluster = e.vec_id
        |WHERE lbl.vid IS NULL OR lbl.cluster = e.vec_id""".stripMargin)),
    // C4/CCNet-style span-level boilerplate removal with in-row
    // reassembly (span text never shuffles)
    // Zipped unnests (pos, span) mirror the engine's in-row chunking;
    // the NOT IN reproduces the broadcast boilerplate filter; span
    // identity is the 60-bit md5 prefix, like the engine's md5_bits.
    Declared("q_line_dedup", (s, d) => Dedup.spanDedupQ(Tables.documents(s, d)), Some(
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |FROM documents),
        |sp AS (SELECT doc_id,
        |unnest(range(0, CAST(ceil(len(toks)/16.0) AS BIGINT))) AS pos,
        |unnest(list_transform(range(0, CAST(ceil(len(toks)/16.0) AS BIGINT)),
        |i -> array_to_string(toks[(i*16+1):(i*16+16)], ' '))) AS span FROM t),
        |sph AS (SELECT doc_id, pos, span,
        |CAST(('0x'||substr(md5(span),1,15)) AS BIGINT) AS h FROM sp),
        |freq AS (SELECT h FROM sph GROUP BY h HAVING count(*) >= 2),
        |kept AS (SELECT doc_id, pos, span FROM sph
        |WHERE h NOT IN (SELECT h FROM freq)),
        |tot AS (SELECT doc_id, count(*) AS n_spans FROM sph GROUP BY doc_id),
        |k AS (SELECT doc_id, count(*) AS n_kept,
        |string_agg(span, ' ' ORDER BY pos) AS clean_text FROM kept GROUP BY doc_id)
        |SELECT tot.doc_id, CAST(tot.n_spans AS BIGINT) AS n_spans,
        |CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |coalesce(k.clean_text, '') AS clean_text
        |FROM tot LEFT JOIN k ON k.doc_id = tot.doc_id""".stripMargin)),
    // the incremental form: delta cleaned against the persisted
    // bucket-partitioned span-frequency index of the 95% corpus
    // Incremental form: the frequent set comes from the 95% corpus ONLY
    // (intra-delta repetition is deliberately not counted — the batch
    // re-run owns that), mirroring spanDedupAgainstIndex exactly.
    Declared("q_line_dedup_incr", (s, d) => Dedup.incrementalSpanDedupQ(s, d), Some(
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0),
        |delta AS (SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 20 = 0),
        |ct AS (SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM corpus),
        |csp AS (SELECT unnest(list_transform(range(0, CAST(ceil(len(toks)/16.0) AS BIGINT)),
        |i -> CAST(('0x'||substr(md5(array_to_string(toks[(i*16+1):(i*16+16)], ' ')),1,15)) AS BIGINT))) AS h
        |FROM ct),
        |freq AS (SELECT h FROM csp GROUP BY h HAVING count(*) >= 2),
        |dt AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM delta),
        |dsp AS (SELECT doc_id,
        |unnest(range(0, CAST(ceil(len(toks)/16.0) AS BIGINT))) AS pos,
        |unnest(list_transform(range(0, CAST(ceil(len(toks)/16.0) AS BIGINT)),
        |i -> array_to_string(toks[(i*16+1):(i*16+16)], ' '))) AS span FROM dt),
        |kept AS (SELECT doc_id, pos, span FROM dsp
        |WHERE CAST(('0x'||substr(md5(span),1,15)) AS BIGINT) NOT IN (SELECT h FROM freq)),
        |tot AS (SELECT doc_id, count(*) AS n_spans FROM dsp GROUP BY doc_id),
        |k AS (SELECT doc_id, count(*) AS n_kept,
        |string_agg(span, ' ' ORDER BY pos) AS clean_text FROM kept GROUP BY doc_id)
        |SELECT tot.doc_id, CAST(tot.n_spans AS BIGINT) AS n_spans,
        |CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |coalesce(k.clean_text, '') AS clean_text
        |FROM tot LEFT JOIN k ON k.doc_id = tot.doc_id""".stripMargin)),
    // URL canonicalization + exact dedup (the CommonCrawl-first step)
    // Backreference dialects differ: Spark spells $1, DuckDB \1.
    Declared("q_dedup_url", (s, d) => Dedup.urlDedupQ(Tables.documents(s, d)), Some(
      """WITH m AS (SELECT doc_id,
        |(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'https://' END)
        ||| source || '.Example.COM/docs/' || CAST(doc_id % 40 AS VARCHAR)
        ||| (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
        ||| (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&ref=x' ELSE '' END)
        ||| (CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END) AS url FROM documents),
        |c AS (SELECT doc_id,
        |regexp_replace(regexp_replace(
        |lower(regexp_extract(url, '^([a-zA-Z]+://[^/?#]*)', 1))
        ||| regexp_extract(url, '^[a-zA-Z]+://[^/?#]*([^?#]*)', 1),
        |'^(https?://)www\.', '\1'), '/$', '') AS canon_url FROM m)
        |SELECT min(doc_id) AS doc_id, canon_url, CAST(count(*) AS BIGINT) AS dup_cnt
        |FROM c GROUP BY canon_url""".stripMargin)),
    // full winnowing (MOSS) fingerprints → substring-dup candidate pairs
    // Winnowing: k=4 token grams, w=5 window minima, 60-bit md5 hashes
    // (the md5-hex spelling Md5Bits is bit-identical to), df cap 50,
    // pairs sharing >= 2 fingerprints.
    Declared("q_winnow", (s, d) => Dedup.winnowPairs(Tables.documents(s, d)),
      Some(winnowOracleSql("", "documents", "a.doc_id < b.doc_id"))),
    // delta vs persisted winnow-fingerprint index (the fifth index's
    // pruned-read lookup; build memoized per session+dir)
    // the incremental lookup's oracle is the SAME winnow text over the
    // re-keyed union, restricted to delta x corpus cross pairs (the df
    // cap counts the union — exactly what the pruned-partition lookup
    // computes, since a fingerprint's whole history lives in one bkt)
    Declared("q_winnow_incr", (s, d) => Dedup.incrementalWinnowQ(s, d), Some(winnowOracleSql(
      """d AS (SELECT CASE WHEN doc_id % 20 = 0 THEN doc_id + 100000
        |ELSE doc_id END AS doc_id, text FROM documents), """.stripMargin,
      "d", "a.doc_id >= 100000 AND b.doc_id < 100000"))),
    // right-to-be-forgotten on the winnow index: forgotten corpus docs
    // neither pair with the delta nor count toward the df cap
    // forget: the SAME incremental text with the forgotten corpus docs
    // (doc_id % 17 = 0 on the index side; the re-keyed delta keeps all
    // its rows) filtered at the source — they must neither pair nor
    // count toward the df cap
    Declared("q_winnow_forget", (s, d) => Dedup.winnowForgetQ(s, d), Some(winnowOracleSql(
      """d AS (SELECT CASE WHEN doc_id % 20 = 0 THEN doc_id + 100000
        |ELSE doc_id END AS doc_id, text FROM documents
        |WHERE doc_id % 20 = 0 OR doc_id % 17 <> 0), """.stripMargin,
      "d", "a.doc_id >= 100000 AND b.doc_id < 100000")))
  )

  /** The winnowing oracle, parameterized the same way as
    * [[dupClusterOracleSql]] so the batch (q_winnow) and incremental
    * (q_winnow_incr) gates share ONE text: k=4 token-gram 60-bit
    * hashes, w=5 window minima per doc, df cap 50 over whatever corpus
    * `src` names, then the pairs `pairCond` admits with ≥ 2 shared
    * fingerprints. */
  private def winnowOracleSql(docsCte: String, src: String,
      pairCond: String): String =
    s"""WITH $docsCte t AS (SELECT doc_id,
      |list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
      |FROM $src),
      |g AS (SELECT doc_id, list_transform(range(1, len(toks) - 2), i ->
      |CAST(('0x'||substr(md5(array_to_string(toks[i:i+3], ' ')),1,15)) AS BIGINT)) AS h
      |FROM t WHERE len(toks) >= 4),
      |f AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |range(1, greatest(len(h) - 4, 1) + 1),
      |p -> list_aggregate(h[p:p+4], 'min')))) AS fp FROM g),
      |c AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 50),
      |fc AS (SELECT f.doc_id, f.fp FROM f JOIN c USING (fp))
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      |FROM fc a JOIN fc b ON a.fp = b.fp AND $pairCond
      |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin

  /** The containment-decontamination ground truth — shared by
    * q_decontaminate and q_decontaminate_bloom (the bloom is a pruning
    * layer whose false positives the exact join removes; the result
    * must be identical).  */
  private val DecontaminateOracleSql: String =
      """WITH ev AS (SELECT DISTINCT
        |unnest(list_transform(range(0, greatest(len(toks)-7, 0)),
        |i -> CAST(('0x'||substr(md5(array_to_string(toks[i+1:i+8], ' ')),1,15)) AS BIGINT))) AS shingle
        |FROM (SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |FROM documents WHERE doc_id < 50) t WHERE len(toks) >= 8),
        |corp AS (SELECT DISTINCT doc_id,
        |unnest(list_transform(range(0, greatest(len(toks)-7, 0)),
        |i -> CAST(('0x'||substr(md5(array_to_string(toks[i+1:i+8], ' ')),1,15)) AS BIGINT))) AS shingle
        |FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |FROM documents WHERE doc_id >= 50) t WHERE len(toks) >= 8)
        |SELECT doc_id, count(*) AS n_shingles,
        |CAST(sum(CASE WHEN shingle IN (SELECT shingle FROM ev) THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |CAST(sum(CASE WHEN shingle IN (SELECT shingle FROM ev) THEN 1 ELSE 0 END) AS DOUBLE)/count(*) AS contamination
        |FROM corp GROUP BY doc_id
        |HAVING sum(CASE WHEN shingle IN (SELECT shingle FROM ev) THEN 1 ELSE 0 END) > 0""".stripMargin

  /** The exact-substring-dedup oracle, parameterized the same way as
    * [[winnowOracleSql]] so the batch (q_substring_dedup) and
    * incremental (q_substring_dedup_incr) gates share ONE text: L=8
    * token-gram 60-bit hashes, coverage-based token excision over
    * whatever corpus `src` names, final rows restricted by `where`. */
  private[declared] def substringOracleSql(docsCte: String, src: String,
      where: String): String =
    s"""WITH $docsCte t AS (SELECT doc_id,
      |list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
      |FROM $src),
      |ge AS (SELECT doc_id, s['pos'] AS pos, s['gh'] AS gh FROM
      |(SELECT doc_id, unnest(list_transform(range(1, len(toks) - 6), i ->
      |{'pos': i, 'gh': CAST(('0x'||substr(md5(array_to_string(toks[i:i+7], ' ')),1,15)) AS BIGINT)})) AS s
      |FROM t WHERE len(toks) >= 8) z),
      |dup AS (SELECT gh FROM ge GROUP BY gh HAVING count(*) >= 2),
      |cov AS (SELECT DISTINCT doc_id, q FROM
      |(SELECT doc_id, unnest(range(pos, pos + 8)) AS q
      |FROM ge JOIN dup USING (gh)) z),
      |cv AS (SELECT doc_id, list(q) AS covs FROM cov GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
      |CAST(coalesce(len(cv.covs), 0) AS BIGINT) AS n_removed,
      |coalesce(array_to_string(list_transform(
      |list_filter(range(1, len(t.toks) + 1),
      |i -> NOT list_contains(coalesce(cv.covs, []), i)),
      |i -> t.toks[i]), ' '), '') AS clean_text
      |FROM t LEFT JOIN cv USING (doc_id) $where""".stripMargin

  /** The audio chroma-dedup oracle: per-window band-energy difference
    * fingerprints (windows of 32 samples at hop 16, 8 bands of 4 — band
    * width divides the hop, so every band energy is one of the
    * non-overlapping 4-sample partial sums b4; window t >= 1 bits: 7
    * spectral E(t,b) > E(t,b+1) + 8 temporal E(t,b) > E(t-1,b)) over
    * each payload and its one-sample-corrupted re-encode variant
    * (doc_id + 100000); pairs share >= 3 distinct fingerprints under
    * the 2..50 df cap. `pairCond` restricts the pair set (the
    * incremental gate keeps only base x variant pairs, the
    * delta-vs-index contract). ASCII-payload contract as image/video
    * (DuckDB unicode() vs Spark ascii() agree only on ASCII). */
  private def audioOracleSql(pairCond: String): String =
    s"""WITH base AS (SELECT doc_id, text FROM documents WHERE length(text) >= 48),
      |v AS (SELECT doc_id + 100000 AS doc_id,
      |substr(text, 1, greatest(1, CAST(floor(length(text)/2) AS INT)) - 1) || '~' ||
      |substr(text, greatest(1, CAST(floor(length(text)/2) AS INT)) + 1, length(text)) AS text
      |FROM base),
      |u AS (SELECT * FROM base UNION ALL SELECT * FROM v),
      |a AS (SELECT doc_id,
      |list_transform(range(0, CAST(floor(length(text)/4) AS BIGINT)), j ->
      |CAST(unicode(substr(text, CAST(4*j+1 AS INT), 1))
      |+ unicode(substr(text, CAST(4*j+2 AS INT), 1))
      |+ unicode(substr(text, CAST(4*j+3 AS INT), 1))
      |+ unicode(substr(text, CAST(4*j+4 AS INT), 1)) AS BIGINT)) AS b4,
      |CAST(1 + floor((length(text) - 32)/16) AS BIGINT) AS nw FROM u),
      |w AS (SELECT doc_id, b4, unnest(range(1, nw)) AS t FROM a),
      |f AS (SELECT DISTINCT doc_id, CAST(
      |list_sum(list_transform(range(0, 7), b ->
      |CASE WHEN b4[4*t+b+1] > b4[4*t+b+2]
      |THEN (1::BIGINT << b) ELSE 0::BIGINT END)) +
      |list_sum(list_transform(range(0, 8), b ->
      |CASE WHEN b4[4*t+b+1] > b4[4*t+b-3]
      |THEN (1::BIGINT << (7+b)) ELSE 0::BIGINT END)) +
      |list_sum(list_transform(range(0, 7), b ->
      |CASE WHEN abs(b4[4*t+b+1] - b4[4*t+b+2]) > 16
      |THEN (1::BIGINT << (15+b)) ELSE 0::BIGINT END)) +
      |list_sum(list_transform(range(0, 8), b ->
      |CASE WHEN abs(b4[4*t+b+1] - b4[4*t+b-3]) > 16
      |THEN (1::BIGINT << (22+b)) ELSE 0::BIGINT END))
      |AS BIGINT) AS fp FROM w),
      |sz AS (SELECT fp, count(DISTINCT doc_id) AS df FROM f GROUP BY fp),
      |p AS (SELECT a.doc_id AS aud_a, b.doc_id AS aud_b, count(*) AS n_shared
      |FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id $pairCond
      |JOIN sz ON sz.fp = a.fp AND sz.df BETWEEN 2 AND 50
      |GROUP BY 1, 2)
      |SELECT aud_a, aud_b, CAST(n_shared AS BIGINT) AS n_shared
      |FROM p WHERE n_shared >= 3""".stripMargin

  /** The perceptual-dedup oracle: 60-bit dHash over the decoded (stub:
    * code-point) sequence of each payload and its one-byte-corrupted
    * re-encode variant (doc_id + 100000); full O(n²) pairwise scan at
    * hamming ≤ 3 — the banded join must equal it exactly (pigeonhole).
    * `pairCond` restricts the pair set (the incremental gate keeps only
    * base × variant pairs, the delta-vs-index contract).
    *
    * ASCII-payload contract: the oracle samples code points (DuckDB
    * unicode()) where the engine's native DHash60 records Spark ascii()
    * semantics (signed first UTF-8 byte) — identical on the fixture's
    * guaranteed-ASCII payloads; a multibyte corpus would need the oracle
    * to sample the character's first byte instead. */
  private def imageOracleSql(pairCond: String): String =
    s"""WITH base AS (SELECT doc_id, text FROM documents WHERE length(text) >= 1),
      |v AS (SELECT doc_id + 100000 AS doc_id,
      |substr(text, 1, greatest(1, CAST(floor(length(text)/2) AS INT)) - 1) || '~' ||
      |substr(text, greatest(1, CAST(floor(length(text)/2) AS INT)) + 1, length(text)) AS text
      |FROM base),
      |u AS (SELECT * FROM base UNION ALL SELECT * FROM v),
      |c AS (SELECT doc_id, list_transform(range(0, 61), i ->
      |unicode(substr(text, CAST(floor(i*(length(text)-1)/60) AS INT) + 1, 1))) AS cs
      |FROM u),
      |f AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), j ->
      |CASE WHEN cs[j+1] < cs[j+2] THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS fp
      |FROM c)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
      |FROM f a JOIN f b ON a.doc_id < b.doc_id $pairCond
      |WHERE bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin

  /** The incremental near-dup oracle, with an optional extra predicate
    * on the INDEX (b) side of the candidate join — q_dedup_forget
    * filters the forgotten corpus ids off exactly there. */
  private def nearDupIncrOracleSql(bFilter: String): String =
    """WITH docs2 AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0
          |UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 20 = 0),
          |tok AS (SELECT DISTINCT doc_id, t AS token FROM
          |(SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
          |FROM docs2) u WHERE t <> ''),
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
          |delta_ids AS (SELECT doc_id + 100000 AS doc_id FROM documents WHERE doc_id % 20 = 0),
          |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a
          |JOIN bands b ON a.band = b.band AND a.b0 = b.b0 AND a.b1 = b.b1
          |WHERE a.doc_id IN (SELECT doc_id FROM delta_ids)
          |AND b.doc_id NOT IN (SELECT doc_id FROM delta_ids)),
          |tokh AS (SELECT DISTINCT doc_id,
          |CAST(('0x'||substr(md5(token),1,15)) AS BIGINT) AS th FROM tok),
          |sizes AS (SELECT doc_id, count(*) AS n_tok FROM tokh GROUP BY doc_id),
          |common AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common FROM cand c
          |JOIN tokh ta ON ta.doc_id = c.doc_a
          |JOIN tokh tb ON tb.doc_id = c.doc_b AND tb.th = ta.th
          |GROUP BY c.doc_a, c.doc_b)
          |SELECT c.doc_a, c.doc_b,
          |CAST(c.n_common AS DOUBLE)/(sa.n_tok + sb.n_tok - c.n_common) AS jaccard
          |FROM common c JOIN sizes sa ON sa.doc_id = c.doc_a JOIN sizes sb ON sb.doc_id = c.doc_b
          |WHERE CAST(c.n_common AS DOUBLE)/(sa.n_tok + sb.n_tok - c.n_common) >= 0.5""".stripMargin
      .replace("AND b.doc_id NOT IN (SELECT doc_id FROM delta_ids)",
        "AND b.doc_id NOT IN (SELECT doc_id FROM delta_ids)" + bFilter)

  /** The dup-clustering oracle, parameterized over its document source
    * so the batch (q_dup_clusters) and incremental (q_dup_clusters_incr)
    * gates share ONE text: banded minhash pairs, two star-contraction
    * levels, recursive min-label walk on the residual graph (shape
    * rationale at the q_dup_clusters registration). `docsCte` prepends
    * an optional CTE (e.g. the re-keyed corpus ∪ delta union) and `src`
    * names the table the tokenizer reads. */
  private[declared] def dupClusterOracleSql(docsCte: String, src: String): String =
    s"""WITH $docsCte tok AS (SELECT DISTINCT doc_id, t AS token FROM
      |(SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
      |FROM $src) u WHERE t <> ''),
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
      |pairs AS MATERIALIZED (SELECT c.doc_a, c.doc_b
      |FROM common c JOIN sizes sa ON sa.doc_id = c.doc_a JOIN sizes sb ON sb.doc_id = c.doc_b
      |WHERE CAST(c.n_common AS DOUBLE)/(sa.n_tok + sb.n_tok - c.n_common) >= 0.5),
      |e0 AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs
      |UNION ALL SELECT doc_b, doc_a FROM pairs),
      |m1 AS MATERIALIZED (SELECT u, least(u, min(v)) AS m FROM e0 GROUP BY u),
      |e1 AS MATERIALIZED (SELECT DISTINCT ma.m AS u, mb.m AS v FROM e0
      |JOIN m1 ma ON ma.u = e0.u JOIN m1 mb ON mb.u = e0.v WHERE ma.m <> mb.m),
      |e1s AS MATERIALIZED (SELECT u, v FROM e1 UNION ALL SELECT v, u FROM e1),
      |m2 AS MATERIALIZED (SELECT u, least(u, min(v)) AS m FROM e1s GROUP BY u),
      |e2 AS MATERIALIZED (SELECT DISTINCT ma.m AS u, mb.m AS v FROM e1s
      |JOIN m2 ma ON ma.u = e1s.u JOIN m2 mb ON mb.u = e1s.v WHERE ma.m <> mb.m),
      |e2s AS MATERIALIZED (SELECT u, v FROM e2 UNION ALL SELECT v, u FROM e2),
      |wl AS MATERIALIZED (SELECT u, min(label) AS label FROM (
      |WITH RECURSIVE walk(u, label) AS (
      |SELECT DISTINCT u, u FROM e2s
      |UNION
      |SELECT e.v, w.label FROM walk w JOIN e2s e ON e.u = w.u
      |WHERE w.label < e.v)
      |SELECT u, label FROM walk) GROUP BY u),
      |lvl AS (SELECT m1.u AS doc_id, coalesce(m2.m, m1.m) AS s2
      |FROM m1 LEFT JOIN m2 ON m2.u = m1.m)
      |SELECT lvl.doc_id, coalesce(wl.label, lvl.s2) AS cluster
      |FROM lvl LEFT JOIN wl ON wl.u = lvl.s2""".stripMargin
}
