package graft.declared

import graft.ops.{Cleaning, Scoring, TextOps}
import graft.sources.Tables

/** Text operators, quality scoring and classifiers, cleaning, corpus
  * statistics, language models and the BPE/unigram tokenizers. */
object TextQueries {

  def declared: Seq[Declared] = Seq(
    Declared("q_text_stats", (s, d) => TextOps.textStats(Tables.documents(s, d)), Some(
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens, avg(n_chars) AS avg_chars,
        |max(n_tok) AS max_tokens
        |FROM (SELECT lang,
        |CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS n_tok,
        |CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe,
        |CAST(length(text) AS BIGINT) AS n_chars FROM documents) t GROUP BY lang""".stripMargin)),
    // per-source data card: volume, language spread, token budget,
    // corpus-wide exact-dup counts — two-exchange budget, hash-key shuffle
    Declared("q_corpus_report", (s, d) => TextOps.corpusReportQ(Tables.documents(s, d)), Some(CorpusReportOracleSql)),
    // distributed BPE tokenizer training: vocab-bounded pair-count
    // aggregate per round + one-row argmax collect, map-side greedy merge
    Declared("q_bpe_merges", (s, d) => graft.ops.Bpe.bpeMergesQ(s, d), Some(bpeOracleSql(6))),
    // the apply side: vocab segmented under the learned merges (train
    // once + one map-side fold stack, no extra shuffle)
    // the apply side: the final segmentation table the train built
    Declared("q_bpe_encode", (s, d) => graft.ops.Bpe.bpeEncodeQ(s, d), Some(bpeOracleSql(6,
      """SELECT word, n, CAST(len(sym) AS BIGINT) AS n_sym,
        |array_to_string(sym, ' ') AS bpe FROM seg6""".stripMargin))),
    // tokenizer-eval readout: per-source fertility + compression
    // per-source word stream joined to the seg6 encode table; ratios
    // are single divisions of exact BIGINT sums, 6 dp
    Declared("q_tokenizer_fertility", (s, d) => graft.ops.Bpe.tokenizerFertilityQ(s, d), Some(bpeOracleSql(6,
      """,enc AS (SELECT word, CAST(len(sym) AS BIGINT) AS n_sym FROM seg6),
        |dw AS (SELECT source, t AS word FROM
        |(SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |FROM documents) u WHERE t <> '')
        |SELECT source, CAST(count(*) AS BIGINT) AS n_words,
        |CAST(sum(n_sym) AS BIGINT) AS n_tokens,
        |CAST(sum(length(word)) AS BIGINT) AS n_chars,
        |round(CAST(sum(n_sym) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS fertility,
        |round(CAST(sum(length(word)) AS DOUBLE) / CAST(sum(n_sym) AS DOUBLE), 6) AS chars_per_token
        |FROM dw JOIN enc USING (word) GROUP BY source""".stripMargin))),
    // SentencePiece-style unigram tokenizer: seeded substring vocab,
    // two Viterbi-E-step + prune rounds (integer-exact objective), the
    // pruned (piece, utility) model as the output
    // unigram train/encode: the oracle re-runs seed -> 2 x (Viterbi
    // E-step + prune) -- the Viterbi as a window-carried recursive CTE
    // (dp for the last 4 positions rides the row; the best transition
    // is a struct list_sort on the declared (pieces, -utility, -len)
    // total order), per-round MATERIALIZED CTEs like the BPE chain
    Declared("q_unigram_train", (s, d) => graft.ops.Unigram.unigramTrainQ(s, d), Some(unigramOracleSql(
      s"SELECT piece, u AS utility, CAST(length(piece) AS BIGINT) AS n_chars FROM v$UnigramRounds"))),
    // the apply side: vocab words segmented under the pruned pieces
    Declared("q_unigram_encode", (s, d) => graft.ops.Unigram.unigramEncodeQ(s, d), Some(UnigramEncodeOracleSql)),
    // the steady-state form: model trained + persisted once, the
    // corpus encoded off the frozen (piece, utility) table — no
    // training-corpus access on the encode path
    // persisted-model encode ≡ batch train-and-encode (deterministic
    // train) — the SAME oracle text, the q_corpus_report_incr
    // shared-oracle convention
    Declared("q_unigram_encode_incr", (s, d) => graft.ops.Unigram.unigramEncodeIncrQ(s, d),
      Some(UnigramEncodeOracleSql)),
    // end-to-end export: train BPE -> encode corpus -> pack encoded
    // stream into 512-token sequences (per-shard summary)
    // End-to-end export: the BPE train chain (seg6) feeds per-doc
    // encoded lengths, packed with q_pack's exact shard/order/prefix
    // spelling on enc_len. The leading comma CONTINUES the generated
    // WITH chain.
    Declared("q_tokenize_pack", (s, d) => graft.ops.Bpe.tokenizePackQ(s, d), Some(bpeOracleSql(6,
      """,enc AS (SELECT word, CAST(len(sym) AS BIGINT) AS n_sym FROM seg6),
        |dt AS (SELECT doc_id, t AS word FROM
        |(SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |FROM documents) u WHERE t <> ''),
        |dl AS (SELECT doc_id, CAST(sum(n_sym) AS BIGINT) AS enc_len
        |FROM dt JOIN enc USING (word) GROUP BY doc_id),
        |sh AS (SELECT doc_id,
        |CAST(('0x'||substr(md5('shard:' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 16 AS shard,
        |CAST(('0x'||substr(md5('order:' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) AS ok,
        |enc_len FROM dl),
        |c AS (SELECT shard, doc_id, enc_len,
        |sum(enc_len) OVER (PARTITION BY shard ORDER BY ok ASC, doc_id ASC
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM sh)
        |SELECT shard, count(*) AS n_docs, CAST(sum(enc_len) AS BIGINT) AS total_enc_tokens,
        |CAST(count(DISTINCT CAST(floor((cum - enc_len) / 512.0) AS BIGINT)) AS BIGINT) AS n_seqs,
        |CAST(max(CAST(floor((cum - enc_len) / 512.0) AS BIGINT)) AS BIGINT) AS last_seq
        |FROM c GROUP BY shard""".stripMargin))),
    Declared("q_text_quality", (s, d) => TextOps.qualityScores(Tables.documents(s, d)), Some(
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, CAST(n_tok AS BIGINT) AS n_tokens,
        |CAST(length(text) AS DOUBLE)/n_tok AS avg_tok_len,
        |CAST(punct AS DOUBLE)/nullif(length(text), 0) AS punct_ratio,
        |CAST(stop_hits AS DOUBLE)/n_tok AS stopword_ratio,
        |CAST((n_tok >= 10 AND CAST(punct AS DOUBLE)/nullif(length(text), 0) < 0.3
        |AND CAST(stop_hits AS DOUBLE)/n_tok > 0.01) AS BIGINT) AS keep
        |FROM (SELECT doc_id, text,
        |len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tok,
        |len(regexp_extract_all(lower(text), '[^a-z0-9\s]')) AS punct,
        |len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |x -> x IN ('the','a','an','and','of','to','in','is','on','for'))) AS stop_hits
        |FROM documents) t""".stripMargin)),
    // consecutive-duplicate-token collapse (OCR/ASR stutter cleanup) —
    // a pure map-side transform, zero shuffles at any corpus size
    // adjacent-duplicate collapse: keep token i iff first or ≠ token i−1
    Declared("q_collapse_repeats", (s, d) => TextOps.collapseRepeatsQ(Tables.documents(s, d)), Some(
      """WITH t AS (SELECT doc_id,
        |list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS tk
        |FROM documents),
        |u AS (SELECT doc_id, unnest(tk) AS tok, unnest(range(1, len(tk)+1)) AS pos FROM t),
        |k AS (SELECT doc_id, tok, pos,
        |lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM u),
        |kept AS (SELECT doc_id, count(*) AS n_kept,
        |string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |FROM k WHERE prev IS NULL OR tok <> prev GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
        |CAST(coalesce(kept.n_kept, 0) AS BIGINT) AS n_kept,
        |coalesce(kept.clean_text, '') AS clean_text
        |FROM t LEFT JOIN kept ON kept.doc_id = t.doc_id""".stripMargin)),
    // Gopher doc-level battery: every threshold in integer
    // cross-multiplied form, so the flags are exact in any engine
    Declared("q_gopher_rules", (s, d) => TextOps.gopherRulesQ(Tables.documents(s, d)), Some(
      """WITH t AS (SELECT doc_id, text,
        |list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS tk
        |FROM documents),
        |b AS (SELECT doc_id,
        |CAST(len(tk) AS BIGINT) AS n_words,
        |CAST(coalesce(list_sum(list_transform(tk, x -> length(x))), 0) AS BIGINT) AS sum_word_len,
        |CAST((length(text) - length(replace(text, '...', ''))) // 3
        |+ (length(text) - length(replace(text, '#', ''))) AS BIGINT) AS n_symbols,
        |CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha_words,
        |CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
        |s -> list_contains(tk, s))) AS BIGINT) AS n_stop_hits
        |FROM t)
        |SELECT doc_id, n_words, sum_word_len, n_symbols, n_alpha_words, n_stop_hits,
        |CAST(n_words >= 50 AND n_words <= 100000 AS BIGINT) AS r_word_count,
        |CAST(sum_word_len >= 3*n_words AND sum_word_len <= 10*n_words AND n_words > 0 AS BIGINT) AS r_mean_word_len,
        |CAST(10*n_symbols <= n_words AND n_words > 0 AS BIGINT) AS r_symbol_ratio,
        |CAST(5*n_alpha_words >= 4*n_words AND n_words > 0 AS BIGINT) AS r_alpha_words,
        |CAST(n_stop_hits >= 2 AS BIGINT) AS r_stopwords,
        |CAST(r_word_count + r_mean_word_len + r_symbol_ratio
        |+ r_alpha_words + r_stopwords = 5 AS BIGINT) AS keep
        |FROM b""".stripMargin)),
    Declared("q_repetition", (s, d) => TextOps.repetitionScores(Tables.documents(s, d)), Some(
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |FROM documents),
        |m AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |CASE WHEN len(toks) >= 2 THEN 1.0 -
        |CAST(len(list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE)
        |/ (len(toks) - 1) ELSE 0.0 END AS dup_2gram_frac,
        |CASE WHEN len(toks) >= 3 THEN 1.0 -
        |CAST(len(list_distinct(list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS DOUBLE)
        |/ (len(toks) - 2) ELSE 0.0 END AS dup_3gram_frac FROM t),
        |tc AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_nonempty FROM (
        |SELECT doc_id, tok, count(*) AS c FROM (SELECT doc_id, unnest(toks) AS tok FROM t) u
        |WHERE tok <> '' GROUP BY doc_id, tok) g GROUP BY doc_id)
        |SELECT m.doc_id, n_tokens, CAST(top_c AS DOUBLE)/n_nonempty AS top_token_frac,
        |dup_2gram_frac, dup_3gram_frac,
        |CAST((CAST(top_c AS DOUBLE)/n_nonempty < 0.2 AND dup_2gram_frac < 0.2) AS BIGINT) AS keep
        |FROM m JOIN tc ON tc.doc_id = m.doc_id""".stripMargin)),
    Declared("q_lang_id", (s, d) => TextOps.langId(Tables.documents(s, d)), Some(
      """SELECT lang, pred_lang, count(*) AS n FROM (SELECT lang,
        |CASE WHEN CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |x -> x IN ('the','a','an','and','of','to','in','is','on','for'))) AS DOUBLE)
        |/ len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 0.05
        |THEN 'en' ELSE 'unknown' END AS pred_lang FROM documents) t
        |GROUP BY lang, pred_lang""".stripMargin)),
    Declared("q_top_tokens", (s, d) => TextOps.topTokens(Tables.documents(s, d)), Some(
      """SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df_docs
        |FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
        |FROM documents) t
        |WHERE token <> '' GROUP BY token
        |ORDER BY df_docs DESC, token ASC LIMIT 20""".stripMargin)),
    Declared("q_tfidf", (s, d) => TextOps.tfidfQ(Tables.documents(s, d)), Some(
      """WITH tok AS (SELECT doc_id, t AS token FROM
        |(SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |FROM documents) u WHERE t <> ''),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |WHERE doc_id < 20 GROUP BY doc_id, token),
        |dfx AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token)
        |SELECT tf.doc_id, tf.token, tf.tf, dfx.df,
        |tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfx.df) AS tfidf
        |FROM tf JOIN dfx ON tf.token = dfx.token CROSS JOIN n""".stripMargin)),
    Declared("q_ngram_counts", (s, d) => TextOps.ngramCountsQ(Tables.documents(s, d)), Some(
      """WITH toks AS (SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |FROM documents),
        |big AS (SELECT unnest(list_transform(range(1, len(t)),
        |i -> t[i] || ' ' || t[i+1])) AS bigram FROM toks WHERE len(t) >= 2)
        |SELECT bigram, count(*) AS n FROM big GROUP BY bigram
        |ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin)),
    // Same deterministic PII synthesis (pure functions of doc_id), same
    // patterns in the same order; 'g' flag = Spark's replace-all default.
    Declared("q_redact", (s, d) => TextOps.redactQ(Tables.documents(s, d)), Some(
      """WITH aug AS (SELECT doc_id,
        |text || ' contact user' || CAST(doc_id AS VARCHAR)
        ||| '@mail.example.com ip 10.' || CAST(doc_id % 256 AS VARCHAR)
        ||| '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
        ||| ' id ' || CAST(doc_id + 100000000 AS VARCHAR)
        ||| ' phone 555-867-5309' AS t FROM documents)
        |SELECT doc_id,
        |regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |'\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |'\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
        |'\b\d{9,}\b', '<ID>', 'g') AS text,
        |len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
        |len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b')) AS n_phone,
        |len(regexp_extract_all(t, '\b\d{9,}\b')) AS n_id
        |FROM aug""".stripMargin)),
    // typed entity inventory: one-scan multi-pattern extraction, the
    // (kind, entity) -> (n_docs, n_occurrences) governance readout
    // entity inventory: same augmentation, each pattern extracted
    // independently off the original text, corpus-wide (kind, entity)
    // aggregate
    Declared("q_entities", (s, d) => TextOps.entitiesQ(Tables.documents(s, d)), Some(EntitiesOracleSql)),
    // C4-style heuristic line-filter battery over a deterministic
    // synthesized line structure (the redactQ precedent) — per-doc
    // verdicts + cleaned text, all map-side
    // Same deterministic line synthesis (6-token lines, punct on 3/4
    // lines, javascript on every 11th (doc,line), lorem on %37 docs,
    // brace on %41 docs), same rule battery, same verdict precedence.
    Declared("q_c4_filters", (s, d) => TextOps.c4FiltersQ(Tables.documents(s, d)), Some(
      """WITH t AS (SELECT doc_id,
        |list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS tk
        |FROM documents),
        |l0 AS (SELECT doc_id,
        |CASE WHEN len(tk) > 0 THEN
        |list_transform(range(0, CAST(ceil(len(tk)/6.0) AS BIGINT)), i ->
        |(CASE WHEN (doc_id*31 + i) % 11 = 0
        |THEN array_to_string(tk[i*6+1 : i*6+6], ' ') || ' javascript'
        |ELSE array_to_string(tk[i*6+1 : i*6+6], ' ') END)
        ||| (CASE WHEN (doc_id + i) % 4 <> 0 THEN '.' ELSE '' END))
        |ELSE CAST([] AS VARCHAR[]) END AS lines0 FROM t),
        |l1 AS (SELECT doc_id, lines0
        ||| (CASE WHEN doc_id % 37 = 0 THEN ['lorem ipsum dolor sit amet.'] ELSE CAST([] AS VARCHAR[]) END)
        ||| (CASE WHEN doc_id % 41 = 0 THEN ['function() { return 0; }.'] ELSE CAST([] AS VARCHAR[]) END) AS lines
        |FROM l0),
        |k AS (SELECT doc_id, lines,
        |list_filter(lines, l -> l LIKE '%.' AND len(string_split(l, ' ')) >= 5
        |AND NOT contains(l, 'javascript')) AS kept FROM l1),
        |r AS (SELECT doc_id,
        |CAST(len(lines) AS BIGINT) AS n_lines,
        |CAST(len(kept) AS BIGINT) AS n_kept_lines,
        |CASE WHEN len(list_filter(lines, l -> contains(l, 'lorem ipsum'))) > 0 THEN 'lorem_ipsum'
        |WHEN len(list_filter(lines, l -> contains(l, '{'))) > 0 THEN 'brace'
        |WHEN len(kept) < 3 THEN 'too_few_lines'
        |ELSE 'keep' END AS reason, kept FROM k)
        |SELECT doc_id, n_lines, n_kept_lines, reason,
        |CAST(reason = 'keep' AS BIGINT) AS keep,
        |CASE WHEN reason = 'keep' THEN array_to_string(kept, ' ') ELSE '' END AS cleaned_text
        |FROM r""".stripMargin)),
    // HTML/boilerplate extraction over deterministic synthesized page
    // chrome — the stage ahead of every other cleaning operator
    // HTML synthesis + extraction, regex-for-regex the engine's spelling
    Declared("q_html_extract", (s, d) =>
      graft.ops.Cleaning.htmlExtractQ(Tables.documents(s, d)), Some(
      """WITH t AS (SELECT doc_id,
        |list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS tk
        |FROM documents),
        |h AS (SELECT doc_id,
        |'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |'</title><script>var x = ' || CAST(doc_id AS VARCHAR) ||
        |';</script><style>body { color: red; }</style></head><body><div class="nav">home | about | contact</div>' ||
        |(CASE WHEN len(tk) > 0 THEN
        |array_to_string(list_transform(range(0, CAST(ceil(len(tk)/8.0) AS BIGINT)), i ->
        |'<p>' || array_to_string(tk[i*8+1 : i*8+8], ' ') || '</p>'), '')
        |ELSE '' END) ||
        |(CASE WHEN doc_id % 7 = 0 THEN '<!-- tracking beacon ' || CAST(doc_id AS VARCHAR) || ' -->' ELSE '' END) ||
        |(CASE WHEN doc_id % 5 = 0 THEN '<script>analytics.track("' || CAST(doc_id AS VARCHAR) || '");</script>' ELSE '' END) ||
        |'<div class="footer">copyright example corp all rights reserved</div></body></html>' AS html
        |FROM t),
        |e AS (SELECT doc_id, html,
        |regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |'<script[^>]*>.*?</script>', ' ', 'g'),
        |'<style[^>]*>.*?</style>', ' ', 'g'),
        |'<!--.*?-->', ' ', 'g'),
        |'</(p|div|title|h[1-6])>', '@@L@@', 'g'),
        |'<[^>]*>', ' ', 'g') AS flat FROM h),
        |l AS (SELECT doc_id, html,
        |list_transform(string_split(flat, '@@L@@'), s -> trim(regexp_replace(s, '\s+', ' ', 'g'))) AS lines
        |FROM e),
        |k AS (SELECT doc_id, html,
        |list_filter(lines, s -> s <> '') AS nonempty,
        |list_filter(lines, s -> s <> '' AND NOT contains(s, 'copyright')
        |AND NOT contains(s, '|') AND len(string_split(s, ' ')) >= 3) AS kept
        |FROM l)
        |SELECT doc_id, CAST(length(html) AS BIGINT) AS html_chars,
        |CAST(len(nonempty) AS BIGINT) AS n_lines,
        |CAST(len(kept) AS BIGINT) AS n_kept,
        |array_to_string(kept, ' ') AS text_extracted,
        |CAST(length(array_to_string(kept, ' ')) AS BIGINT) AS text_chars
        |FROM k""".stripMargin)),
    // DPO preference-pair assembly: quality-ranked chosen/rejected
    // Preference pairs: same 6-dp stopword-ratio grid, rank within the
    // doc_id-div-2 bucket (score DESC, doc_id DESC), complete pairs only.
    Declared("q_pref_pairs", (s, d) => graft.ops.SftOps.prefPairsQ(Tables.documents(s, d)), Some(
      """WITH s AS (SELECT doc_id, doc_id // 2 AS pair_id,
        |round(CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |x -> list_contains(['the','a','an','and','of','to','in','is','on','for'], x))) AS DOUBLE)
        |/ len(regexp_split_to_array(lower(trim(text)), '\s+')), 6) AS score FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY pair_id
        |ORDER BY score DESC, doc_id DESC) AS rn,
        |count(*) OVER (PARTITION BY pair_id) AS np FROM s)
        |SELECT CAST(pair_id AS BIGINT) AS pair_id,
        |max(CASE WHEN rn=1 THEN doc_id END) AS chosen_id,
        |max(CASE WHEN rn=2 THEN doc_id END) AS rejected_id,
        |max(CASE WHEN rn=1 THEN score END) AS chosen_score,
        |max(CASE WHEN rn=2 THEN score END) AS rejected_score,
        |round(max(CASE WHEN rn=1 THEN score END) - max(CASE WHEN rn=2 THEN score END), 6) AS margin
        |FROM r WHERE np = 2 GROUP BY pair_id""".stripMargin)),
    // chat-transcript flattening: serialize -> from_json -> (prompt,
    // response) SFT pairs, losslessness gated by the token oracle
    // Chat turns: the oracle derives the (prompt, response) pairs from
    // the token stream directly — gating that the engine's
    // serialize -> from_json -> flatten path is lossless.
    Declared("q_chat_turns", (s, d) => graft.ops.SftOps.chatTurnsQ(Tables.documents(s, d)), Some(
      """WITH t AS (SELECT doc_id,
        |list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS tk
        |FROM documents),
        |g AS (SELECT doc_id, tk, CAST(ceil(len(tk)/8.0) AS BIGINT) AS n_turns
        |FROM t WHERE len(tk) > 0),
        |p AS (SELECT doc_id, unnest(range(0, n_turns // 2)) AS i, tk
        |FROM g WHERE n_turns >= 2),
        |r AS (SELECT doc_id, i,
        |array_to_string(tk[i*16+1 : i*16+8], ' ') AS prompt,
        |array_to_string(tk[i*16+9 : i*16+16], ' ') AS response FROM p)
        |SELECT doc_id, CAST(i AS BIGINT) AS pair_idx, prompt, response,
        |CAST(len(string_split(prompt, ' ')) AS BIGINT) AS n_prompt_tok,
        |CAST(len(string_split(response, ' ')) AS BIGINT) AS n_response_tok FROM r""".stripMargin)),
    // the composed cleaning pipeline: first-failing-stage attribution
    // over lang -> quality -> repetition -> dedup -> decontamination
    // Stage predicates are verbatim from q_text_quality / q_repetition /
    // q_dedup / q_decontaminate's oracles; the CASE order is the
    // engine's first-failing-stage attribution.
    Declared("q_corpus_clean", (s, d) => Cleaning.corpusCleanQ(s, d), Some(
      """WITH corpus AS (SELECT doc_id, text, lang FROM documents WHERE doc_id >= 50),
        |q AS (SELECT doc_id, CAST((n_tok >= 10
        |AND CAST(punct AS DOUBLE)/nullif(length(text), 0) < 0.3
        |AND CAST(stop_hits AS DOUBLE)/n_tok > 0.01) AS BIGINT) AS q_keep
        |FROM (SELECT doc_id, text,
        |len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tok,
        |len(regexp_extract_all(lower(text), '[^a-z0-9\s]')) AS punct,
        |len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |x -> x IN ('the','a','an','and','of','to','in','is','on','for'))) AS stop_hits
        |FROM corpus) t),
        |rtoks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |FROM corpus),
        |r2 AS (SELECT doc_id, CASE WHEN len(toks) >= 2 THEN 1.0 -
        |CAST(len(list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE)
        |/ (len(toks) - 1) ELSE 0.0 END AS dup2 FROM rtoks),
        |tc AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_nonempty FROM (
        |SELECT doc_id, tok, count(*) AS c FROM (SELECT doc_id, unnest(toks) AS tok FROM rtoks) u
        |WHERE tok <> '' GROUP BY doc_id, tok) g GROUP BY doc_id),
        |r AS (SELECT r2.doc_id,
        |CAST((CAST(top_c AS DOUBLE)/n_nonempty < 0.2 AND dup2 < 0.2) AS BIGINT) AS r_keep
        |FROM r2 JOIN tc ON tc.doc_id = r2.doc_id),
        |d AS (SELECT doc_id, CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY
        |md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) THEN 1 ELSE 0 END AS is_dup
        |FROM corpus),
        |ev AS (SELECT DISTINCT
        |unnest(list_transform(range(0, greatest(len(toks)-7, 0)),
        |i -> CAST(('0x'||substr(md5(array_to_string(toks[i+1:i+8], ' ')),1,15)) AS BIGINT))) AS shingle
        |FROM (SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |FROM documents WHERE doc_id < 50) t WHERE len(toks) >= 8),
        |corp AS (SELECT DISTINCT doc_id,
        |unnest(list_transform(range(0, greatest(len(toks)-7, 0)),
        |i -> CAST(('0x'||substr(md5(array_to_string(toks[i+1:i+8], ' ')),1,15)) AS BIGINT))) AS shingle
        |FROM rtoks WHERE len(toks) >= 8),
        |ct AS (SELECT doc_id FROM corp GROUP BY doc_id
        |HAVING CAST(sum(CASE WHEN shingle IN (SELECT shingle FROM ev) THEN 1 ELSE 0 END) AS DOUBLE)
        |/count(*) >= 0.05),
        |lab AS (SELECT c.doc_id, length(c.text) AS n_chars,
        |CASE WHEN c.lang <> 'en' THEN 'lang'
        |WHEN q.q_keep = 0 THEN 'quality'
        |WHEN coalesce(r.r_keep, 1) = 0 THEN 'repetition'
        |WHEN d.is_dup = 1 THEN 'duplicate'
        |WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
        |ELSE 'keep' END AS reason
        |FROM corpus c JOIN q USING (doc_id) LEFT JOIN r USING (doc_id)
        |JOIN d USING (doc_id) LEFT JOIN ct USING (doc_id))
        |SELECT reason, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM lab GROUP BY reason""".stripMargin)),
    // the WHOLE pipeline as one DAG: clean -> dedup (exact + near) ->
    // decontaminate -> substring-excise -> BPE-encode -> pack -> shard,
    // drop rows first-fail attributed, keep set as the shard manifest
    // the end-to-end pipeline: the generated BPE chain extended with
    // the clean-verdict, near-dup, excision and pack tails (see
    // e2eCorpusOracleTail) — every stage text reused from its own gate
    Declared("q_e2e_corpus", (s, d) => Cleaning.e2eCorpusQ(s, d), Some(bpeOracleSql(6, e2eCorpusOracleTail))),
    // the steady-state replay: delta-only report, base-trained
    // tokenizer, near-dup over the union with the incremental victim
    // rule, grams over base + keepers
    Declared("q_e2e_corpus_incr", (s, d) => Cleaning.e2eCorpusIncrQ(s, d), Some(bpeOracleSql(6, e2eCorpusIncrOracleTail,
      "WHERE doc_id >= 50 AND doc_id % 20 <> 0"))),
    // tokenizer-design readout: top-k vocabulary + cumulative coverage
    // Running coverage over the top-k only; the (n DESC, token ASC) order
    // key is unique per row, so the default RANGE frame has no peers and
    // both engines' running sums agree row-by-row.
    Declared("q_vocab", (s, d) => TextOps.vocabQ(Tables.documents(s, d)), Some(
      """WITH tok AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
        |FROM documents),
        |c AS (SELECT token, count(*) AS n FROM tok WHERE token <> '' GROUP BY token),
        |t AS (SELECT sum(n) AS total_n FROM c),
        |k AS (SELECT token, n FROM c ORDER BY n DESC, token ASC LIMIT 200)
        |SELECT CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS BIGINT) AS rank,
        |token, CAST(n AS BIGINT) AS n,
        |round(CAST(sum(n) OVER (ORDER BY n DESC, token ASC) AS DOUBLE)
        |/ CAST(total_n AS DOUBLE), 6) AS cum_share
        |FROM k, t""".stripMargin)),
    // retrieval + data-selection scoring
    // BM25 k1=1.2 b=0.75; only docs matching ≥1 query term score a row
    // (inner joins). The 1e-16 double-literal delta between the engine's
    // computed k1+1 and the SQL's 2.2 dies in the round-to-6.
    Declared("q_bm25", (s, d) => Scoring.bm25Q(Tables.documents(s, d)), Some(Bm25OracleSql)),
    // Same 60-bit md5 token hash as the dedup lanes; add-one smoothing
    // over 256 buckets; candidates are the non-target docs.
    Declared("q_dsir", (s, d) => Scoring.dsirQ(s, Tables.documents(s, d)), Some(
      """WITH tok AS (SELECT doc_id,
        |(lang = 'en' AND source IN ('src1', 'src2', 'src3')) AS is_target, t AS token
        |FROM (SELECT doc_id, lang, source,
        |unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |FROM documents) u WHERE t <> ''),
        |b AS (SELECT doc_id, is_target,
        |CAST(('0x'||substr(md5(token),1,15)) AS BIGINT) % 256 AS bkt FROM tok),
        |c AS (SELECT bkt, sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS t_cnt,
        |sum(CASE WHEN NOT is_target THEN 1 ELSE 0 END) AS r_cnt FROM b GROUP BY bkt),
        |tt AS (SELECT sum(t_cnt) AS t_tot, sum(r_cnt) AS r_tot FROM c),
        |lam AS (SELECT bkt, ln((t_cnt + 1.0) / (t_tot + 256))
        |- ln((r_cnt + 1.0) / (r_tot + 256)) AS lam FROM c, tt)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |round(avg(lam), 6) AS dsir_weight
        |FROM b JOIN lam USING (bkt) WHERE NOT is_target GROUP BY doc_id""".stripMargin)),
    // RAG-style sliding-window chunking: map-side, one Generate
    // Window 64 / stride 48; DuckDB list slice is 1-based inclusive on
    // both ends, so [s*48+1 : s*48+64] is Spark's slice(toks, s*48+1, 64).
    Declared("q_chunk", (s, d) => TextOps.chunkQ(Tables.documents(s, d)), Some(
      """WITH t AS (SELECT doc_id,
        |list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n_tok FROM t WHERE len(toks) > 0),
        |c AS (SELECT doc_id, toks, n_tok,
        |unnest(range(0, 1 + CAST(ceil(greatest(n_tok - 64, 0) / 48.0) AS INT))) AS chunk_id
        |FROM n)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |CAST(least(64, n_tok - chunk_id * 48) AS BIGINT) AS n_tok,
        |array_to_string(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' ') AS chunk_text
        |FROM c""".stripMargin)),
    // per-source token entropy: corpus-audit diversity readout
    // H = ln(n) - sum(c*ln c)/n over per-(source, token) counts; the
    // normalized form guards the single-token ln(1) division.
    Declared("q_entropy", (s, d) => TextOps.entropyQ(Tables.documents(s, d)), Some(
      """WITH tc AS (SELECT source AS slice, t AS token, count(*) AS c FROM
        |(SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |FROM documents) u WHERE t <> '' GROUP BY 1, 2),
        |s AS (SELECT slice, CAST(sum(c) AS BIGINT) AS n,
        |CAST(count(*) AS BIGINT) AS n_distinct,
        |sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clnc FROM tc GROUP BY slice)
        |SELECT slice, n, n_distinct,
        |round(ln(CAST(n AS DOUBLE)) - clnc / n, 6) AS entropy,
        |round(CASE WHEN n_distinct = 1 THEN 0.0
        |ELSE (ln(CAST(n AS DOUBLE)) - clnc / n) / ln(CAST(n_distinct AS DOUBLE)) END, 6)
        |AS norm_entropy FROM s""".stripMargin)),
    // cross-slice vocabulary overlap (jaccard of token sets per source pair)
    Declared("q_source_overlap", (s, d) => TextOps.sourceOverlapQ(Tables.documents(s, d)), Some(
      """WITH st AS (SELECT DISTINCT source AS slice, t AS token FROM
        |(SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |FROM documents) u WHERE t <> ''),
        |sz AS (SELECT slice, CAST(count(*) AS BIGINT) AS n_tok FROM st GROUP BY slice),
        |i AS (SELECT a.slice AS slice_a, b.slice AS slice_b,
        |CAST(count(*) AS BIGINT) AS n_common
        |FROM st a JOIN st b ON a.token = b.token AND a.slice < b.slice
        |GROUP BY 1, 2)
        |SELECT slice_a, slice_b, n_common,
        |round(CAST(n_common AS DOUBLE) / CAST(za.n_tok + zb.n_tok - n_common AS DOUBLE), 6)
        |AS jaccard
        |FROM i JOIN sz za ON za.slice = i.slice_a JOIN sz zb ON zb.slice = i.slice_b""".stripMargin)),
    // the 100 TB branch of q_source_overlap: KMV bottom-k sketches per
    // slice (map-side-combine bounded aggregate), union/jaccard/
    // intersection estimated from the sketches alone — deterministic
    // md5 hashes, so the estimates hash-gate exactly
    // KMV sketches rebuilt with the same 52-bit md5-prefix hashes (13
    // nibbles — Double-exact, matching the engine's bounded-buffer
    // ordering); every estimate is a pure function of the data, so the
    // gate is a plain hash match. Nested select so the est columns can
    // compose without lateral-alias reliance.
    Declared("q_source_overlap_kmv", (s, d) => TextOps.kmvOverlapQ(Tables.documents(s, d)), Some(
      """WITH tok AS (SELECT DISTINCT source AS slice,
        |CAST(('0x'||substr(md5(t),1,13)) AS BIGINT) AS th FROM
        |(SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |FROM documents) u WHERE t <> ''),
        |sig AS (SELECT slice, list(th ORDER BY th) AS sig, max(n_hashes) AS n_hashes
        |FROM (SELECT slice, th,
        |CAST(count(*) OVER (PARTITION BY slice) AS BIGINT) AS n_hashes,
        |row_number() OVER (PARTITION BY slice ORDER BY th) AS rn FROM tok) r
        |WHERE rn <= 256 GROUP BY slice),
        |p AS (SELECT a.slice AS slice_a, b.slice AS slice_b,
        |a.sig AS sa, b.sig AS sb, a.n_hashes AS n_a_hashes, b.n_hashes AS n_b_hashes
        |FROM sig a JOIN sig b ON a.slice < b.slice),
        |m AS (SELECT slice_a, slice_b, n_a_hashes, n_b_hashes, sa, sb,
        |list_sort(list_distinct(list_concat(sa, sb)))[1:256] AS merged FROM p),
        |e AS (SELECT slice_a, slice_b, n_a_hashes, n_b_hashes,
        |CAST(len(merged) AS BIGINT) AS k_used,
        |CAST(len(list_intersect(list_intersect(merged, sa), sb)) AS BIGINT) AS n_match,
        |round(CASE WHEN len(merged) < 256 THEN CAST(len(merged) AS DOUBLE)
        |ELSE 255.0 * 4503599627370496.0 / CAST(merged[256] AS DOUBLE) END, 3) AS union_est
        |FROM m)
        |SELECT slice_a, slice_b, n_a_hashes, n_b_hashes, k_used, n_match, union_est,
        |round(CAST(n_match AS DOUBLE) / CAST(k_used AS DOUBLE), 6) AS jaccard_est,
        |round(round(CAST(n_match AS DOUBLE) / CAST(k_used AS DOUBLE), 6) * union_est, 3)
        |AS inter_est FROM e""".stripMargin)),
    // Jensen–Shannon divergence between per-source unigram
    // distributions — the distribution-shift audit data-mixing keys on
    // JS = H(M) − (H(P)+H(Q))/2 via the same common-tokens + one-sided
    // tails decomposition as the engine: the common-token join carries
    // both counts; per-slice S_half/H scalars come from the c·ln c
    // identity; js_bits derives from the UNROUNDED nats on both sides
    Declared("q_source_drift", (s, d) => TextOps.sourceDriftQ(Tables.documents(s, d)), Some(
      """WITH st AS (SELECT source AS slice, t AS token, count(*) AS c FROM
        |(SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |FROM documents) u WHERE t <> '' GROUP BY 1, 2),
        |sz AS (SELECT slice, CAST(sum(c) AS BIGINT) AS n FROM st GROUP BY slice),
        |per AS (SELECT st.slice, max(sz.n) AS n,
        |sum((CAST(c AS DOUBLE)/sz.n/2) * ln(CAST(c AS DOUBLE)/sz.n/2)) AS s_half,
        |ln(CAST(max(sz.n) AS DOUBLE))
        |- sum(CAST(c AS DOUBLE)*ln(CAST(c AS DOUBLE)))/max(sz.n) AS h
        |FROM st JOIN sz ON sz.slice = st.slice GROUP BY st.slice),
        |pr AS (SELECT a.slice AS slice_a, b.slice AS slice_b, a.c AS ca, b.c AS cb,
        |za.n AS n_a, zb.n AS n_b
        |FROM st a JOIN st b ON a.token = b.token AND a.slice < b.slice
        |JOIN sz za ON za.slice = a.slice JOIN sz zb ON zb.slice = b.slice),
        |d AS (SELECT slice_a, slice_b, CAST(count(*) AS BIGINT) AS n_common_types,
        |sum(((CAST(ca AS DOUBLE)/n_a + CAST(cb AS DOUBLE)/n_b)/2)
        |* ln((CAST(ca AS DOUBLE)/n_a + CAST(cb AS DOUBLE)/n_b)/2)
        |- (CAST(ca AS DOUBLE)/n_a/2)*ln(CAST(ca AS DOUBLE)/n_a/2)
        |- (CAST(cb AS DOUBLE)/n_b/2)*ln(CAST(cb AS DOUBLE)/n_b/2)) AS dd
        |FROM pr GROUP BY 1, 2)
        |SELECT d.slice_a, d.slice_b, pa.n AS n_a, pb.n AS n_b, d.n_common_types,
        |round(-(d.dd + pa.s_half + pb.s_half) - (pa.h + pb.h)/2, 6) AS js_nats,
        |round((-(d.dd + pa.s_half + pb.s_half) - (pa.h + pb.h)/2) / ln(2), 6) AS js_bits
        |FROM d JOIN per pa ON pa.slice = d.slice_a
        |JOIN per pb ON pb.slice = d.slice_b""".stripMargin)),
    // Zipf rank-frequency OLS fit per source (slope ≈ −1 for natural text)
    // GATE at 5 dp on the regr_* columns (round-15 verdict #7): the
    // operator keeps its 6-dp contract; the declared query re-rounds so
    // a value landing on a 6-dp rounding boundary cannot flip the gate
    // hash across partitionings (the documented fallback, now live)
    // ln(count) on ln(rank) OLS over the min-count-filtered type table;
    // rank tie-break on token keeps the x-values identical on both sides
    Declared("q_zipf", (s, d) => {
      import org.apache.spark.sql.functions.{col, round}
      TextOps.zipfQ(Tables.documents(s, d))
        .withColumn("zipf_slope", round(col("zipf_slope"), 5))
        .withColumn("zipf_intercept", round(col("zipf_intercept"), 5))
        .withColumn("zipf_r2", round(col("zipf_r2"), 5))
    }, Some(
      """WITH c AS (SELECT source AS slice, t AS token, count(*) AS c FROM
        |(SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |FROM documents) u WHERE t <> '' GROUP BY 1, 2 HAVING count(*) >= 5),
        |r AS (SELECT slice, c,
        |CAST(row_number() OVER (PARTITION BY slice ORDER BY c DESC, token ASC) AS BIGINT) AS rnk
        |FROM c)
        |SELECT slice, CAST(count(*) AS BIGINT) AS n_types,
        |CAST(sum(c) AS BIGINT) AS n_tokens,
        |round(round(regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6), 5) AS zipf_slope,
        |round(round(regr_intercept(ln(CAST(c AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6), 5) AS zipf_intercept,
        |round(round(regr_r2(ln(CAST(c AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6), 5) AS zipf_r2
        |FROM r GROUP BY slice""".stripMargin)),
    // Heaps vocabulary-growth curve at 100 doc_id-range checkpoints
    // integer-exact bucket arithmetic (// both sides); new-type credit
    // lands on the bucket of the type's first doc_id
    Declared("q_heaps", (s, d) => TextOps.heapsQ(Tables.documents(s, d)), Some(
      """WITH mx AS (SELECT max(doc_id) AS max_id FROM documents),
        |tok AS (SELECT doc_id, t AS token FROM
        |(SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |FROM documents) u WHERE t <> ''),
        |tb AS (SELECT least(doc_id * 100 // (max_id + 1), 99) AS bucket,
        |CAST(count(*) AS BIGINT) AS n_tok FROM tok, mx GROUP BY 1),
        |fb AS (SELECT least(first_id * 100 // (max_id + 1), 99) AS bucket,
        |CAST(count(*) AS BIGINT) AS n_new FROM
        |(SELECT token, min(doc_id) AS first_id FROM tok GROUP BY token) f, mx
        |GROUP BY 1)
        |SELECT CAST(tb.bucket AS BIGINT) AS bucket,
        |CAST(sum(tb.n_tok) OVER (ORDER BY tb.bucket) AS BIGINT) AS cum_tokens,
        |CAST(sum(coalesce(fb.n_new, 0)) OVER (ORDER BY tb.bucket) AS BIGINT) AS cum_vocab
        |FROM tb LEFT JOIN fb ON fb.bucket = tb.bucket""".stripMargin)),
    // Flesch reading-ease per doc, banded on the rounded score
    // the declared sentence/syllable heuristics, banded on the ROUNDED
    // score so the cut line is stable on both sides
    Declared("q_readability", (s, d) => TextOps.readabilityQ(Tables.documents(s, d)), Some(
      """WITH f AS (SELECT doc_id,
        |CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |x -> x <> '')) AS BIGINT) AS n_words,
        |greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1) AS n_sentences,
        |CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
        |FROM documents),
        |s AS (SELECT doc_id, n_words, n_sentences, n_syllables,
        |CASE WHEN n_words > 0 THEN round(206.835
        |- 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |- 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 4) END AS flesch
        |FROM f)
        |SELECT doc_id, n_words, n_sentences, n_syllables, flesch,
        |CASE WHEN flesch IS NULL THEN 'empty'
        |WHEN flesch >= 70.0 THEN 'easy'
        |WHEN flesch >= 50.0 THEN 'standard'
        |WHEN flesch >= 30.0 THEN 'difficult'
        |ELSE 'very_difficult' END AS band FROM s""".stripMargin)),
    // collocations: top-k bigrams by PMI with a min-count guard
    // Same rounded-PMI ordering + (tok_a, tok_b) tie-break as the engine,
    // so the top-k cut line is deterministic on both sides.
    Declared("q_pmi", (s, d) => TextOps.pmiQ(Tables.documents(s, d)), Some(
      """WITH tk AS (SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |x -> x <> '') AS toks FROM documents),
        |uni AS (SELECT t AS token, count(*) AS n_uni FROM
        |(SELECT unnest(toks) AS t FROM tk) u GROUP BY t),
        |bi AS (SELECT p['a'] AS tok_a, p['b'] AS tok_b, count(*) AS n_ab FROM
        |(SELECT unnest(list_transform(range(1, len(toks)),
        |i -> {'a': toks[i], 'b': toks[i+1]})) AS p FROM tk WHERE len(toks) >= 2) v
        |GROUP BY 1, 2),
        |tot AS (SELECT (SELECT CAST(sum(n_uni) AS DOUBLE) FROM uni) AS n_total,
        |(SELECT CAST(sum(n_ab) AS DOUBLE) FROM bi) AS b_total)
        |SELECT tok_a, tok_b, CAST(n_ab AS BIGINT) AS n_ab,
        |round(ln((CAST(n_ab AS DOUBLE) / b_total) /
        |((CAST(n_a AS DOUBLE) / n_total) * (CAST(n_b AS DOUBLE) / n_total))), 6) AS pmi
        |FROM (SELECT bi.tok_a, bi.tok_b, bi.n_ab, ua.n_uni AS n_a, ub.n_uni AS n_b
        |FROM bi JOIN uni ua ON ua.token = bi.tok_a JOIN uni ub ON ub.token = bi.tok_b
        |WHERE bi.n_ab >= 5) j, tot
        |ORDER BY pmi DESC, tok_a ASC, tok_b ASC LIMIT 50""".stripMargin)),
    // CCNet-style bigram-LM log-perplexity quality scores (en-trained)
    // Bigram-LM perplexity: add-0.1 smoothing, en-trained, <unk> OOV
    // mapping; tr's range runs one past the end so unigram counts cover
    // the last position (toks[i+1] out of bounds -> NULL successor).
    Declared("q_ngram_lm", (s, d) => Scoring.ngramLmQ(Tables.documents(s, d)), Some(NgramLmOracleSql)),
    // interpolated Kneser-Ney bigram perplexity: absolute discounting
    // + continuation unigram, all stats from the observed-bigram table
    // Kneser-Ney: d=0.75 absolute discount, continuation unigram with
    // add-one mass, unseen context backs off to Pc entirely; one fixed
    // association order so each double op is identical IEEE
    Declared("q_kneser_ney", (s, d) => Scoring.kneserNeyQ(Tables.documents(s, d)), Some(KneserNeyOracleSql)),
    // CCNet head/middle/tail perplexity terciles per language
    // CCNet buckets: the LM oracle wrapped in rank terciles (ntile on
    // the 6-dp grid, doc_id tie-break) + per-bucket summary
    Declared("q_ccnet_buckets", (s, d) => Scoring.ccnetBucketsQ(Tables.documents(s, d)), Some(
      s"""WITH lm AS ($NgramLmOracleSql),
        |b AS (SELECT lang, logppl, n_bigrams,
        |CASE ntile(3) OVER (PARTITION BY lang ORDER BY logppl ASC, doc_id ASC)
        |WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket FROM lm)
        |SELECT lang, bucket, count(*) AS n_docs,
        |min(logppl) AS lo_logppl, max(logppl) AS hi_logppl,
        |CAST(sum(n_bigrams) AS BIGINT) AS total_bigrams
        |FROM b GROUP BY lang, bucket""".stripMargin)),
    // two-sample Kolmogorov-Smirnov over per-source length
    // distributions — the nonparametric drift detector
    // KS over the (slice, n_chars) count grid: every pair sees the
    // union of x values (absent side 0), CDFs via one window per pair,
    // reject boolean on the ROUNDED statistic and threshold
    Declared("q_ks_test", (s, d) => Scoring.ksTestQ(Tables.documents(s, d)), Some(
      """WITH vx AS (SELECT source AS slice, n_chars AS x, count(*) AS c
        |FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        |sz AS (SELECT slice, CAST(sum(c) AS BIGINT) AS n FROM vx GROUP BY slice),
        |pr AS (SELECT least(v.slice, o.slice) AS slice_a,
        |greatest(v.slice, o.slice) AS slice_b, v.x,
        |sum(CASE WHEN v.slice < o.slice THEN v.c ELSE 0 END) AS ca,
        |sum(CASE WHEN v.slice > o.slice THEN v.c ELSE 0 END) AS cb
        |FROM vx v JOIN sz o ON v.slice <> o.slice GROUP BY 1, 2, 3),
        |cum AS (SELECT slice_a, slice_b, x,
        |sum(ca) OVER (PARTITION BY slice_a, slice_b ORDER BY x) AS cum_a,
        |sum(cb) OVER (PARTITION BY slice_a, slice_b ORDER BY x) AS cum_b FROM pr),
        |d AS (SELECT c.slice_a, c.slice_b, za.n AS n_a, zb.n AS n_b,
        |max(abs(CAST(cum_a AS DOUBLE)/za.n - CAST(cum_b AS DOUBLE)/zb.n)) AS d
        |FROM cum c JOIN sz za ON za.slice = c.slice_a
        |JOIN sz zb ON zb.slice = c.slice_b GROUP BY 1, 2, 3, 4)
        |SELECT slice_a, slice_b, n_a, n_b, round(d, 6) AS ks_stat,
        |round(1.358 * sqrt(CAST(n_a + n_b AS DOUBLE)/CAST(n_a * n_b AS DOUBLE)), 6)
        |AS ks_crit_05,
        |round(d, 6) >
        |round(1.358 * sqrt(CAST(n_a + n_b AS DOUBLE)/CAST(n_a * n_b AS DOUBLE)), 6)
        |AS differs FROM d""".stripMargin)),
    // linear fasttext-style keep/drop classifier: hashed-bucket features,
    // integer-milli weight table broadcast, exact order-free logit
    // Linear quality classifier: 1024 hashed buckets, integer-milli
    // weights wm = md5_60('w:'||bucket) % 2001 - 1000; the per-doc sum
    // is exact integer arithmetic, one double division at the end.
    Declared("q_quality_clf", (s, d) => Scoring.qualityClassifierQ(Tables.documents(s, d)), Some(
      """WITH w AS (SELECT j AS bucket,
        |CAST(('0x'||substr(md5('w:'||j),1,15)) AS BIGINT) % 2001 - 1000 AS wm
        |FROM (SELECT unnest(range(0, 1024)) AS j) z),
        |tk AS (SELECT doc_id,
        |CAST(('0x'||substr(md5(tok),1,15)) AS BIGINT) % 1024 AS bucket FROM
        |(SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |x -> x <> '')) AS tok FROM documents) u)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |CAST(sum(wm) AS DOUBLE) / (count(*) * 1000.0) AS logit,
        |CAST(sum(wm) >= 0 AS BIGINT) AS keep
        |FROM tk JOIN w USING (bucket) GROUP BY doc_id""".stripMargin)),
    // exact tie-corrected ROC-AUC of the classifier logits against the
    // lang='en' weak label — grouped Mann-Whitney, all-integer until
    // the one final division
    // grouped Mann-Whitney: u2 = Σ_g pos_g·(2·cum_neg_below + neg_g)
    // (×2 keeps the ½ tie credit integral); scores on the 6-dp grid
    Declared("q_auc", (s, d) => Scoring.aucQ(Tables.documents(s, d)), Some(
      """WITH w AS (SELECT j AS bucket,
        |CAST(('0x'||substr(md5('w:'||j),1,15)) AS BIGINT) % 2001 - 1000 AS wm
        |FROM (SELECT unnest(range(0, 1024)) AS j) z),
        |tk AS (SELECT doc_id,
        |CAST(('0x'||substr(md5(tok),1,15)) AS BIGINT) % 1024 AS bucket FROM
        |(SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |x -> x <> '')) AS tok FROM documents) u),
        |sc AS (SELECT doc_id, CAST(sum(wm) AS DOUBLE) / (count(*) * 1000.0) AS logit
        |FROM tk JOIN w USING (bucket) GROUP BY doc_id),
        |lab AS (SELECT s.logit AS score,
        |CAST(coalesce(d.lang = 'en', FALSE) AS BIGINT) AS label
        |FROM sc s JOIN documents d ON d.doc_id = s.doc_id),
        |g AS (SELECT score, sum(label) AS pos, sum(1 - label) AS neg FROM lab GROUP BY score),
        |c AS (SELECT pos, neg, coalesce(sum(neg) OVER (ORDER BY score ASC
        |ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_neg FROM g)
        |SELECT CAST(sum(pos) AS BIGINT) AS n_pos, CAST(sum(neg) AS BIGINT) AS n_neg,
        |CAST(sum(pos * (2*cum_neg + neg)) AS BIGINT) AS u2,
        |CASE WHEN sum(pos) * sum(neg) = 0 THEN NULL
        |ELSE round(CAST(sum(pos * (2*cum_neg + neg)) AS DOUBLE) / (2.0 * sum(pos) * sum(neg)), 6)
        |END AS auc FROM c""".stripMargin)),
    // the bounded-histogram scale form: same fold over ≤ 1024 bins
    // the fixed-1024-bin histogram form: bin = ⌊(logit+1)·512⌋ clamped,
    // same fold over the bounded bin table
    Declared("q_auc_binned", (s, d) => Scoring.aucBinnedQ(Tables.documents(s, d)), Some(
      """WITH w AS (SELECT j AS bucket,
        |CAST(('0x'||substr(md5('w:'||j),1,15)) AS BIGINT) % 2001 - 1000 AS wm
        |FROM (SELECT unnest(range(0, 1024)) AS j) z),
        |tk AS (SELECT doc_id,
        |CAST(('0x'||substr(md5(tok),1,15)) AS BIGINT) % 1024 AS bucket FROM
        |(SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |x -> x <> '')) AS tok FROM documents) u),
        |sc AS (SELECT doc_id, CAST(sum(wm) AS DOUBLE) / (count(*) * 1000.0) AS logit
        |FROM tk JOIN w USING (bucket) GROUP BY doc_id),
        |lab AS (SELECT least(1023, CAST(floor((s.logit + 1.0) * 512.0) AS BIGINT)) AS bin,
        |CAST(coalesce(d.lang = 'en', FALSE) AS BIGINT) AS label
        |FROM sc s JOIN documents d ON d.doc_id = s.doc_id),
        |g AS (SELECT bin, sum(label) AS pos, sum(1 - label) AS neg FROM lab GROUP BY bin),
        |c AS (SELECT pos, neg, coalesce(sum(neg) OVER (ORDER BY bin ASC
        |ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_neg FROM g)
        |SELECT CAST(count(*) AS BIGINT) AS n_bins_used,
        |CAST(sum(pos) AS BIGINT) AS n_pos, CAST(sum(neg) AS BIGINT) AS n_neg,
        |CAST(sum(pos * (2*cum_neg + neg)) AS BIGINT) AS u2,
        |CASE WHEN sum(pos) * sum(neg) = 0 THEN NULL
        |ELSE round(CAST(sum(pos * (2*cum_neg + neg)) AS DOUBLE) / (2.0 * sum(pos) * sum(neg)), 6)
        |END AS auc_binned FROM c""".stripMargin)),
    // precision/recall/F1 at every distinct-logit threshold — exact
    // BIGINT confusion counts from descending running sums
    // Precision-recall sweep: tp/fp are DESCENDING running sums over the grouped
    // score table; fn = P - tp; one rounded division per metric
    Declared("q_pr_curve", (s, d) => Scoring.prCurveQ(Tables.documents(s, d)), Some(
      """WITH w AS (SELECT j AS bucket,
        |CAST(('0x'||substr(md5('w:'||j),1,15)) AS BIGINT) % 2001 - 1000 AS wm
        |FROM (SELECT unnest(range(0, 1024)) AS j) z),
        |tk AS (SELECT doc_id,
        |CAST(('0x'||substr(md5(tok),1,15)) AS BIGINT) % 1024 AS bucket FROM
        |(SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |x -> x <> '')) AS tok FROM documents) u),
        |sc AS (SELECT doc_id, CAST(sum(wm) AS DOUBLE) / (count(*) * 1000.0) AS logit
        |FROM tk JOIN w USING (bucket) GROUP BY doc_id),
        |lab AS (SELECT s.logit AS threshold,
        |CAST(coalesce(d.lang = 'en', FALSE) AS BIGINT) AS label
        |FROM sc s JOIN documents d ON d.doc_id = s.doc_id),
        |g AS (SELECT threshold, sum(label) AS pos, sum(1 - label) AS neg
        |FROM lab GROUP BY threshold),
        |c AS (SELECT threshold,
        |sum(pos) OVER (ORDER BY threshold DESC
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
        |sum(neg) OVER (ORDER BY threshold DESC
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
        |sum(pos) OVER () - sum(pos) OVER (ORDER BY threshold DESC
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fn FROM g)
        |SELECT threshold, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        |CAST(fn AS BIGINT) AS fn,
        |round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS "precision",
        |CASE WHEN tp + fn = 0 THEN NULL
        |ELSE round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall,
        |round(2.0 * tp / CAST(2*tp + fp + fn AS DOUBLE), 6) AS f1
        |FROM c""".stripMargin)),
    // expected calibration error: integer-micro confidences, 10 bins,
    // one final division
    // ECE: integer-micro confidences p_micro = ⌊(swm+1000n)·10⁶/(2000n)⌋,
    // 10 equal-width bins, gap |10⁶·Σlabel − Σp_micro| stays integral
    Declared("q_ece", (s, d) => Scoring.eceQ(Tables.documents(s, d)), Some(
      """WITH w AS (SELECT j AS bucket,
        |CAST(('0x'||substr(md5('w:'||j),1,15)) AS BIGINT) % 2001 - 1000 AS wm
        |FROM (SELECT unnest(range(0, 1024)) AS j) z),
        |tk AS (SELECT doc_id,
        |CAST(('0x'||substr(md5(tok),1,15)) AS BIGINT) % 1024 AS bucket FROM
        |(SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |x -> x <> '')) AS tok FROM documents) u),
        |sc AS (SELECT doc_id,
        |CAST((sum(wm) + 1000*count(*)) * 1000000 // (2000*count(*)) AS BIGINT) AS p_micro
        |FROM tk JOIN w USING (bucket) GROUP BY doc_id),
        |lab AS (SELECT least(9, p_micro // 100000) AS bin,
        |CAST(coalesce(d.lang = 'en', FALSE) AS BIGINT) AS label, p_micro
        |FROM sc s JOIN documents d ON d.doc_id = s.doc_id),
        |g AS (SELECT bin, count(*) AS n, sum(label) AS s_label,
        |sum(p_micro) AS s_conf FROM lab GROUP BY bin)
        |SELECT CAST(sum(n) AS BIGINT) AS n_docs,
        |CAST(count(*) AS BIGINT) AS n_bins_used,
        |CAST(sum(abs(1000000*s_label - s_conf)) AS BIGINT) AS gap_sum,
        |round(CAST(sum(abs(1000000*s_label - s_conf)) AS DOUBLE) / (1000000.0 * sum(n)), 6) AS ece
        |FROM g""".stripMargin)),
    // Brier score: exact squared micro gaps, one scalar fold
    Declared("q_brier", (s, d) => Scoring.brierQ(Tables.documents(s, d)), Some(
      """WITH w AS (SELECT j AS bucket,
        |CAST(('0x'||substr(md5('w:'||j),1,15)) AS BIGINT) % 2001 - 1000 AS wm
        |FROM (SELECT unnest(range(0, 1024)) AS j) z),
        |tk AS (SELECT doc_id,
        |CAST(('0x'||substr(md5(tok),1,15)) AS BIGINT) % 1024 AS bucket FROM
        |(SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |x -> x <> '')) AS tok FROM documents) u),
        |sc AS (SELECT doc_id,
        |CAST((sum(wm) + 1000*count(*)) * 1000000 // (2000*count(*)) AS BIGINT) AS p_micro
        |FROM tk JOIN w USING (bucket) GROUP BY doc_id),
        |g AS (SELECT 1000000 * CAST(coalesce(d.lang = 'en', FALSE) AS BIGINT)
        |- p_micro AS gap FROM sc s JOIN documents d ON d.doc_id = s.doc_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |CAST(sum(gap * gap) AS BIGINT) AS sq_sum,
        |round(CAST(sum(gap * gap) AS DOUBLE) / (1000000000000.0 * count(*)), 6) AS brier
        |FROM g""".stripMargin)),
    // Spearman rank agreement between the classifier and the LM
    // scorer: row_number ranks with doc_id ties, all-BIGINT d^2 fold
    // Spearman: clf CTE + the full LM oracle nested as a CTE (the
    // q_tokenize_pack WITH-nesting trick); LM rank orders logppl ASC
    // (high perplexity = bad) so rho > 0 means agreement
    Declared("q_rank_corr", (s, d) => Scoring.rankCorrQ(Tables.documents(s, d)), Some(
      ("""WITH clf AS (
        |WITH w AS (SELECT j AS bucket,
        |CAST(('0x'||substr(md5('w:'||j),1,15)) AS BIGINT) % 2001 - 1000 AS wm
        |FROM (SELECT unnest(range(0, 1024)) AS j) z),
        |tk AS (SELECT doc_id,
        |CAST(('0x'||substr(md5(tok),1,15)) AS BIGINT) % 1024 AS bucket FROM
        |(SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |x -> x <> '')) AS tok FROM documents) u)
        |SELECT doc_id, CAST(sum(wm) AS DOUBLE) / (count(*) * 1000.0) AS logit
        |FROM tk JOIN w USING (bucket) GROUP BY doc_id
        |),
        |lm AS (
        |""".stripMargin + NgramLmOracleSql + """
        |),
        |j AS (SELECT c.doc_id, c.logit, l.logppl FROM clf c JOIN lm l ON l.doc_id = c.doc_id),
        |r AS (SELECT doc_id,
        |row_number() OVER (ORDER BY logit DESC, doc_id ASC) AS r_clf,
        |row_number() OVER (ORDER BY logppl ASC, doc_id ASC) AS r_lm FROM j)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |CAST(sum((r_clf - r_lm)*(r_clf - r_lm)) AS BIGINT) AS sum_d2,
        |CASE WHEN count(*) < 2 THEN NULL ELSE
        |round(1.0 - 6.0 * CAST(sum((r_clf - r_lm)*(r_clf - r_lm)) AS DOUBLE)
        |/ CAST(count(*) * (count(*) * count(*) - 1) AS DOUBLE), 6) END AS spearman_rho
        |FROM r""".stripMargin))),
    // ColBERT-style MaxSim: per-query-term best-token integer dot
    // products, one codegen projection + one doc-keyed aggregate
    // MaxSim: identical md5-derived token vectors, per-term max dots
    Declared("q_maxsim", (s, d) => Scoring.maxSimQ(Tables.documents(s, d)), Some(MaxSimOracleSql))
  )

  /** The BM25 oracle text, optionally over a filtered corpus slice
    * (q_forget/q_forget_purge score the index after deletion, which
    * must equal the batch scorer over the SURVIVING docs). */
  private[declared] def bm25OracleSqlOver(where: String): String =
    s"""WITH tok AS (SELECT doc_id, t AS token FROM
      |(SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
      |FROM documents $where) u WHERE t <> ''),""".stripMargin + "\n" +
    """dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
      |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
      |dfx AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok
      |WHERE token IN ('data', 'query', 'engine', 'fast') GROUP BY token),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
      |WHERE token IN ('data', 'query', 'engine', 'fast') GROUP BY doc_id, token)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched,
      |round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2
      |/ (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6) AS bm25
      |FROM tf JOIN dfx USING (token) JOIN dl USING (doc_id), st
      |GROUP BY doc_id""".stripMargin

  /** The `where` parametrization serves q_entity_forget (the
    * survivor-corpus inventory IS the forgotten index's ground truth). */
  private[declared] def entitiesOracleSqlOver(where: String = ""): String =
    s"""WITH aug AS (SELECT doc_id,
        |text || ' contact user' || CAST(doc_id AS VARCHAR)
        ||| '@mail.example.com ip 10.' || CAST(doc_id % 256 AS VARCHAR)
        ||| '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
        ||| ' id ' || CAST(doc_id + 100000000 AS VARCHAR)
        ||| ' phone 555-867-5309' AS t FROM documents $where),
        |e AS (SELECT doc_id, 'email' AS kind,
        |unnest(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS entity FROM aug
        |UNION ALL SELECT doc_id, 'ip',
        |unnest(regexp_extract_all(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) FROM aug
        |UNION ALL SELECT doc_id, 'phone',
        |unnest(regexp_extract_all(t, '\\b\\d{3}-\\d{3}-\\d{4}\\b')) FROM aug
        |UNION ALL SELECT doc_id, 'id',
        |unnest(regexp_extract_all(t, '\\b\\d{9,}\\b')) FROM aug)
        |SELECT kind, entity, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM e GROUP BY kind, entity""".stripMargin

  /** Entity-inventory oracle — shared by the batch q_entities and the
    * index fold q_entities_incr (per-doc rows additive under
    * doc-complete batches). */
  private[declared] val EntitiesOracleSql: String = entitiesOracleSqlOver()

  /** MaxSim oracle: distinct (doc, token) × 16 dims via lateral range,
    * per-(doc, token) integer dots against each query term's identical
    * md5-derived vector, per-doc max per term, summed. */
  private val MaxSimOracleSql: String = {
    val terms = Seq("data", "query", "engine", "fast")
    val dotCols = terms.zipWithIndex.map { case (t, i) =>
      s"sum(vd * (CAST(('0x'||substr(md5('e:$t:'||CAST(j AS VARCHAR)),1,15)) AS BIGINT) % 2001 - 1000)) AS d$i"
    }.mkString(",\n")
    val maxCols = terms.indices.map(i => s"max(d$i) AS m$i").mkString(", ")
    val sumExpr = terms.indices.map(i => s"m$i").mkString(" + ")
    s"""WITH tok AS (SELECT DISTINCT doc_id, t AS token FROM
       |(SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
       |FROM documents) u WHERE t <> ''),
       |comp AS (SELECT doc_id, token, j,
       |CAST(('0x'||substr(md5('e:'||token||':'||CAST(j AS VARCHAR)),1,15)) AS BIGINT) % 2001 - 1000 AS vd
       |FROM tok, unnest(range(0, 16)) t2(j)),
       |d AS (SELECT doc_id, token,
       |$dotCols
       |FROM comp GROUP BY doc_id, token),
       |m AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct_tokens,
       |$maxCols FROM d GROUP BY doc_id)
       |SELECT doc_id, n_distinct_tokens,
       |CAST($sumExpr AS BIGINT) AS maxsim FROM m""".stripMargin
  }

  /** Kneser-Ney oracle text - shared by the batch q_kneser_ney and
    * the index-read q_kneser_ney_incr (count additivity over
    * doc-complete batches makes the batch replay the law). */
  private[declared] val KneserNeyOracleSql: String =
      """WITH t AS (SELECT doc_id, lang,
        |list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |FROM documents),
        |tr AS (SELECT toks[i] AS a, toks[i+1] AS b
        |FROM (SELECT toks, unnest(range(1, len(toks)+1)) AS i FROM t WHERE lang = 'en') z),
        |uni AS (SELECT a, count(*) AS n_u FROM tr GROUP BY a),
        |bi AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab FROM tr
        |WHERE b IS NOT NULL GROUP BY a, b),
        |ctx AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS cv,
        |CAST(count(*) AS BIGINT) AS n1f FROM bi GROUP BY a),
        |pred AS (SELECT b, CAST(count(*) AS BIGINT) AS n1p FROM bi GROUP BY b),
        |sc2 AS (SELECT CAST((SELECT count(*) FROM bi) AS BIGINT) AS nbb,
        |CAST((SELECT count(*) FROM uni) AS BIGINT) AS v),
        |sc AS (SELECT doc_id, lang, toks[i] AS ra, toks[i+1] AS rb
        |FROM (SELECT doc_id, lang, toks, unnest(range(1, len(toks))) AS i
        |FROM t WHERE len(toks) >= 2) z),
        |m AS (SELECT doc_id, lang,
        |CASE WHEN ua.a IS NULL THEN '<unk>' ELSE sc.ra END AS a,
        |CASE WHEN ub.a IS NULL THEN '<unk>' ELSE sc.rb END AS b
        |FROM sc LEFT JOIN uni ua ON sc.ra = ua.a LEFT JOIN uni ub ON sc.rb = ub.a),
        |pr AS (SELECT doc_id, lang,
        |CASE WHEN ctx.cv IS NULL
        |THEN (CAST(coalesce(pred.n1p, 0) AS DOUBLE) + 1.0) / CAST(nbb + v + 1 AS DOUBLE)
        |ELSE greatest(CAST(coalesce(bi.n_ab, 0) AS DOUBLE) - 0.75, 0.0) / CAST(ctx.cv AS DOUBLE)
        |+ 0.75 * CAST(ctx.n1f AS DOUBLE) / CAST(ctx.cv AS DOUBLE)
        |* ((CAST(coalesce(pred.n1p, 0) AS DOUBLE) + 1.0) / CAST(nbb + v + 1 AS DOUBLE))
        |END AS prob
        |FROM m LEFT JOIN bi ON m.a = bi.a AND m.b = bi.b
        |LEFT JOIN ctx ON m.a = ctx.a LEFT JOIN pred ON m.b = pred.b, sc2)
        |SELECT doc_id, lang, count(*) AS n_bigrams,
        |round(-avg(ln(prob)), 6) AS logppl
        |FROM pr GROUP BY doc_id, lang""".stripMargin

  /** The BM25 oracle — shared by the batch q_bm25 and the inverted-
    * index read q_bm25_incr (postings over corpus ∪ delta must score
    * identically to the batch pass over all documents). */
  private[declared] val Bm25OracleSql: String = bm25OracleSqlOver("")

  /** Shared by q_ngram_lm and q_ngram_lm_incr (the folded count
    * partials equal the batch grouping-sets model — additivity law);
    * the `where` parametrization serves q_lm_forget (train AND score
    * over the surviving corpus only). */
  private[declared] def ngramLmOracleSqlOver(where: String): String =
    s"""WITH t AS (SELECT doc_id, lang,
      |list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
      |FROM documents $where),""".stripMargin + "\n" +
    """tr AS (SELECT toks[i] AS a, toks[i+1] AS b
      |FROM (SELECT toks, unnest(range(1, len(toks)+1)) AS i FROM t WHERE lang = 'en') z),
      |uni AS (SELECT a, count(*) AS n_u FROM tr GROUP BY a),
      |bi AS (SELECT a, b, count(*) AS n_ab FROM tr WHERE b IS NOT NULL GROUP BY a, b),
      |vs AS (SELECT count(*) AS v FROM uni),
      |sc AS (SELECT doc_id, lang, toks[i] AS ra, toks[i+1] AS rb
      |FROM (SELECT doc_id, lang, toks, unnest(range(1, len(toks))) AS i
      |FROM t WHERE len(toks) >= 2) z),
      |m AS (SELECT doc_id, lang,
      |CASE WHEN ua.a IS NULL THEN '<unk>' ELSE sc.ra END AS a,
      |CASE WHEN ub.a IS NULL THEN '<unk>' ELSE sc.rb END AS b
      |FROM sc LEFT JOIN uni ua ON sc.ra = ua.a LEFT JOIN uni ub ON sc.rb = ub.a),
      |pr AS (SELECT doc_id, lang,
      |(coalesce(bi.n_ab, 0) + 0.1) / (coalesce(uni.n_u, 0) + 0.1 * (v + 1)) AS prob
      |FROM m LEFT JOIN bi ON m.a = bi.a AND m.b = bi.b
      |LEFT JOIN uni ON m.a = uni.a, vs)
      |SELECT doc_id, lang, count(*) AS n_bigrams,
      |round(-avg(ln(prob)), 6) AS logppl
      |FROM pr GROUP BY doc_id, lang""".stripMargin

  private[declared] val NgramLmOracleSql: String = ngramLmOracleSqlOver("")

  /** The `where` parametrization serves q_corpus_report_forget (the
    * survivor-corpus card IS the forgotten index's ground truth). */
  private[declared] def corpusReportOracleSqlOver(where: String = ""): String =
    s"""WITH d AS (SELECT source, lang, CAST(length(text) AS BIGINT) AS n_chars,
      |CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tok,
      |md5(text) AS h FROM documents $where),
      |dh AS (SELECT h, count(*) AS n_h FROM d GROUP BY h)
      |SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |CAST(sum(n_tok) AS BIGINT) AS total_tokens,
      |CAST(sum(CASE WHEN n_h > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup
      |FROM d JOIN dh USING (h) GROUP BY source""".stripMargin

  /** The per-source data-card oracle — shared by the batch
    * q_corpus_report and the index-read q_corpus_report_incr (the
    * additive index over corpus ∪ delta must reproduce the batch
    * report over all documents exactly). */
  private[declared] val CorpusReportOracleSql: String = corpusReportOracleSqlOver()

  /** The BPE-training oracle, generated per round count: word counts →
    * char segmentation, then k rounds of (pair count, argmax, greedy
    * merge). Every round's tables are MATERIALIZED at the top level
    * with the greedy application inside a NESTED `WITH RECURSIVE`
    * subquery — the same structure the dup-cluster oracle uses, because
    * chaining recursive CTEs directly re-evaluates each prior round
    * once per recursion step (exponential; measured as a hang at k=6,
    * 0.15 s in this form). The recursion walks each word's symbol list
    * left-to-right, consuming two symbols on a rule match and one
    * otherwise — the unique greedy leftmost non-overlapping matching
    * [[graft.ops.Bpe.applyMerge]]'s fold realizes. */
  private def bpeOracleSql(k: Int): String = bpeOracleSql(k,
    (1 to k).map(r =>
      s"SELECT CAST($r AS BIGINT) AS round, sym_a, sym_b, n_pair FROM m$r")
      .mkString("\nUNION ALL "))

  private def bpeOracleSql(k: Int, finalSelect: String,
      trainWhere: String = ""): String = {
    val head =
      s"""w AS MATERIALIZED (SELECT t AS word, count(*) AS n FROM
        |(SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t FROM documents $trainWhere) u
        |WHERE t <> '' GROUP BY t),
        |seg0 AS MATERIALIZED (SELECT word, n,
        |list_transform(range(1, length(word)+1), i -> substr(word, i, 1)) AS sym FROM w)""".stripMargin
    val rounds = (1 to k).map { r =>
      s"""pc$r AS MATERIALIZED (SELECT sym[i+1] AS sym_a, sym[i+2] AS sym_b,
        |CAST(sum(n) AS BIGINT) AS n_pair
        |FROM seg${r - 1}, unnest(range(0, len(sym)-1)) AS t(i) GROUP BY 1, 2),
        |m$r AS MATERIALIZED (SELECT sym_a, sym_b, n_pair FROM pc$r
        |ORDER BY n_pair DESC, sym_a ASC, sym_b ASC LIMIT 1),
        |seg$r AS MATERIALIZED (SELECT word, n, outx AS sym FROM (
        |WITH RECURSIVE app(word, n, lenx, pos, outx) AS (
        |SELECT s.word, s.n, len(s.sym), 1, CAST([] AS VARCHAR[]) FROM seg${r - 1} s
        |UNION ALL
        |SELECT a.word, a.n, a.lenx,
        |CASE WHEN a.pos < a.lenx AND s.sym[a.pos] = m.sym_a AND s.sym[a.pos+1] = m.sym_b
        |THEN a.pos + 2 ELSE a.pos + 1 END,
        |CASE WHEN a.pos < a.lenx AND s.sym[a.pos] = m.sym_a AND s.sym[a.pos+1] = m.sym_b
        |THEN list_append(a.outx, m.sym_a || m.sym_b) ELSE list_append(a.outx, s.sym[a.pos]) END
        |FROM app a JOIN seg${r - 1} s USING (word) CROSS JOIN m$r m
        |WHERE a.pos <= a.lenx)
        |SELECT word, n, outx FROM app WHERE pos > lenx) q)""".stripMargin
    }
    "WITH " + (head +: rounds).mkString(",\n") + "\n" + finalSelect
  }

  private val UnigramSeedMulti = graft.ops.Unigram.DefaultSeedMulti
  private val UnigramKeeps = graft.ops.Unigram.DefaultKeeps
  private val UnigramRounds = UnigramKeeps.length

  /** One Viterbi pass as a window-carried recursive CTE: the dp values
    * (piece count np, summed utility u, pieces-so-far sg) for the last
    * 4 code-point positions ride the row, each step extends by the
    * best piece of length 1..4 ending at pos+1 under vocab `prev`, and
    * "best" is one struct list_sort on the declared total order
    * (np asc, -u asc, -len asc) — the same objective the native
    * unigram_segment expression evaluates. Emits (word, n, sg). */
  private def unigramVitCte(name: String, prev: String): String = {
    val best = s"""(list_sort(list_filter([
      |CASE WHEN v.np0 IS NOT NULL AND p1.piece IS NOT NULL THEN
      |{'bnp': v.np0 + 1, 'bnu': -(v.u0 + p1.u), 'bnl': CAST(-1 AS BIGINT), 'bpc': p1.piece, 'bsg': v.sg0} END,
      |CASE WHEN v.pos >= 1 AND v.np1 IS NOT NULL AND p2.piece IS NOT NULL THEN
      |{'bnp': v.np1 + 1, 'bnu': -(v.u1 + p2.u), 'bnl': CAST(-2 AS BIGINT), 'bpc': p2.piece, 'bsg': v.sg1} END,
      |CASE WHEN v.pos >= 2 AND v.np2 IS NOT NULL AND p3.piece IS NOT NULL THEN
      |{'bnp': v.np2 + 1, 'bnu': -(v.u2 + p3.u), 'bnl': CAST(-3 AS BIGINT), 'bpc': p3.piece, 'bsg': v.sg2} END,
      |CASE WHEN v.pos >= 3 AND v.np3 IS NOT NULL AND p4.piece IS NOT NULL THEN
      |{'bnp': v.np3 + 1, 'bnu': -(v.u3 + p4.u), 'bnl': CAST(-4 AS BIGINT), 'bpc': p4.piece, 'bsg': v.sg3} END
      |], x -> x IS NOT NULL)))[1]""".stripMargin
    s"""$name AS MATERIALIZED (SELECT word, n, sg FROM (
      |WITH RECURSIVE vit(word, n, m, pos, np0, u0, sg0, np1, u1, sg1, np2, u2, sg2, np3, u3, sg3) AS (
      |SELECT word, n, CAST(length(word) AS BIGINT), CAST(0 AS BIGINT),
      |CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST([] AS VARCHAR[]),
      |CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR[]),
      |CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR[]),
      |CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR[])
      |FROM w
      |UNION ALL
      |SELECT v.word, v.n, v.m, v.pos + 1,
      |($best).bnp, -(($best).bnu), list_append(($best).bsg, ($best).bpc),
      |v.np0, v.u0, v.sg0, v.np1, v.u1, v.sg1, v.np2, v.u2, v.sg2
      |FROM vit v
      |LEFT JOIN $prev p1 ON p1.piece = substr(v.word, CAST(v.pos + 1 AS INT), 1)
      |LEFT JOIN $prev p2 ON v.pos >= 1 AND p2.piece = substr(v.word, CAST(v.pos AS INT), 2)
      |LEFT JOIN $prev p3 ON v.pos >= 2 AND p3.piece = substr(v.word, CAST(v.pos - 1 AS INT), 3)
      |LEFT JOIN $prev p4 ON v.pos >= 3 AND p4.piece = substr(v.word, CAST(v.pos - 2 AS INT), 4)
      |WHERE v.pos < v.m)
      |SELECT word, n, sg0 AS sg FROM vit WHERE pos = m) q)""".stripMargin
  }

  /** The full unigram train chain: seed candidates/charset/v0, then per
    * round r — Viterbi s_r under v_{r-1}, utilities u_r, pruned vocab
    * v_r (all chars + top-keep multi pieces). `encodeTail` appends one
    * more Viterbi under the final vocab for the encode query. */
  private def unigramOracleSql(finalSelect: String,
      encodeTail: Boolean = false): String = {
    val head =
      s"""w AS MATERIALIZED (SELECT t AS word, count(*) AS n FROM
        |(SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t FROM documents) u
        |WHERE t <> '' GROUP BY t),
        |cand AS MATERIALIZED (SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece,
        |CAST(sum(n) AS BIGINT) AS u
        |FROM w, unnest(range(1, length(word)+1)) AS ti(i), unnest([1,2,3,4]) AS tl(l)
        |WHERE i + l - 1 <= length(word) GROUP BY 1),
        |chars AS MATERIALIZED (SELECT piece, u FROM cand WHERE length(piece) = 1),
        |v0 AS MATERIALIZED (SELECT piece, u FROM chars UNION ALL
        |SELECT piece, u FROM (SELECT piece, u FROM cand WHERE length(piece) > 1
        |ORDER BY u DESC, piece ASC LIMIT $UnigramSeedMulti) t)""".stripMargin
    val rounds = UnigramKeeps.zipWithIndex.map { case (keep, i) =>
      val r = i + 1
      s"""${unigramVitCte(s"s$r", s"v${r - 1}")},
        |u$r AS MATERIALIZED (SELECT piece, CAST(sum(n) AS BIGINT) AS u FROM
        |(SELECT n, unnest(sg) AS piece FROM s$r) t GROUP BY piece),
        |v$r AS MATERIALIZED (
        |SELECT c.piece, CAST(coalesce(u.u, 0) AS BIGINT) AS u
        |FROM (SELECT piece FROM chars) c LEFT JOIN u$r u USING (piece)
        |UNION ALL
        |SELECT piece, u FROM (SELECT piece, u FROM u$r WHERE length(piece) > 1
        |ORDER BY u DESC, piece ASC LIMIT $keep) t)""".stripMargin
    }
    val tail =
      if (encodeTail)
        Seq(unigramVitCte(s"s${UnigramRounds + 1}", s"v$UnigramRounds"))
      else Nil
    "WITH " + ((head +: rounds) ++ tail).mkString(",\n") + "\n" + finalSelect
  }

  /** The q_e2e_corpus oracle tail — extends the generated BPE chain
    * (seg6 = the raw-corpus tokenizer) with: the q_corpus_clean per-doc
    * verdict chain, a near-dup victim stage (the q_dedup_near text over
    * the corpus, victims = pair right sides at Jaccard ≥ 0.5), the
    * substring-excision text nested as one CTE over the keep set, and
    * the q_tokenize_pack encode/pack/shard tail over the excised
    * survivors. Emits the drop-attrition rows plus the per-shard pack
    * manifest. */
  private def e2eCorpusOracleTail: String =
    """,enc AS (SELECT word, CAST(len(sym) AS BIGINT) AS n_sym FROM seg6),
      |corpus AS MATERIALIZED (SELECT doc_id, text, lang FROM documents WHERE doc_id >= 50),
      |q AS (SELECT doc_id, CAST((n_tok >= 10
      |AND CAST(punct AS DOUBLE)/nullif(length(text), 0) < 0.3
      |AND CAST(stop_hits AS DOUBLE)/n_tok > 0.01) AS BIGINT) AS q_keep
      |FROM (SELECT doc_id, text,
      |len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tok,
      |len(regexp_extract_all(lower(text), '[^a-z0-9\s]')) AS punct,
      |len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |x -> x IN ('the','a','an','and','of','to','in','is','on','for'))) AS stop_hits
      |FROM corpus) t),
      |rtoks AS MATERIALIZED (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |FROM corpus),
      |r2 AS (SELECT doc_id, CASE WHEN len(toks) >= 2 THEN 1.0 -
      |CAST(len(list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE)
      |/ (len(toks) - 1) ELSE 0.0 END AS dup2 FROM rtoks),
      |tc AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_nonempty FROM (
      |SELECT doc_id, tok, count(*) AS c FROM (SELECT doc_id, unnest(toks) AS tok FROM rtoks) u
      |WHERE tok <> '' GROUP BY doc_id, tok) g GROUP BY doc_id),
      |r AS (SELECT r2.doc_id,
      |CAST((CAST(top_c AS DOUBLE)/n_nonempty < 0.2 AND dup2 < 0.2) AS BIGINT) AS r_keep
      |FROM r2 JOIN tc ON tc.doc_id = r2.doc_id),
      |d AS (SELECT doc_id, CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY
      |md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) THEN 1 ELSE 0 END AS is_dup
      |FROM corpus),
      |ev AS (SELECT DISTINCT
      |unnest(list_transform(range(0, greatest(len(toks)-7, 0)),
      |i -> CAST(('0x'||substr(md5(array_to_string(toks[i+1:i+8], ' ')),1,15)) AS BIGINT))) AS shingle
      |FROM (SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |FROM documents WHERE doc_id < 50) t WHERE len(toks) >= 8),
      |corp AS (SELECT DISTINCT doc_id,
      |unnest(list_transform(range(0, greatest(len(toks)-7, 0)),
      |i -> CAST(('0x'||substr(md5(array_to_string(toks[i+1:i+8], ' ')),1,15)) AS BIGINT))) AS shingle
      |FROM rtoks WHERE len(toks) >= 8),
      |ct AS (SELECT doc_id FROM corp GROUP BY doc_id
      |HAVING CAST(sum(CASE WHEN shingle IN (SELECT shingle FROM ev) THEN 1 ELSE 0 END) AS DOUBLE)
      |/count(*) >= 0.05),
      |lab AS MATERIALIZED (SELECT c.doc_id, length(c.text) AS n_chars,
      |CASE WHEN c.lang <> 'en' THEN 'lang'
      |WHEN q.q_keep = 0 THEN 'quality'
      |WHEN coalesce(r.r_keep, 1) = 0 THEN 'repetition'
      |WHEN d.is_dup = 1 THEN 'duplicate'
      |WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
      |ELSE 'keep' END AS reason
      |FROM corpus c JOIN q USING (doc_id) LEFT JOIN r USING (doc_id)
      |JOIN d USING (doc_id) LEFT JOIN ct USING (doc_id)),
      |ndtok AS MATERIALIZED (SELECT DISTINCT doc_id, t AS token FROM
      |(SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
      |FROM corpus) u WHERE t <> ''),
      |ndsig AS (SELECT doc_id,
      |min(CAST(('0x'||substr(md5('0:' || token),1,15)) AS BIGINT)) AS h0,
      |min(CAST(('0x'||substr(md5('0:' || token),17,15)) AS BIGINT)) AS h1,
      |min(CAST(('0x'||substr(md5('1:' || token),1,15)) AS BIGINT)) AS h2,
      |min(CAST(('0x'||substr(md5('1:' || token),17,15)) AS BIGINT)) AS h3,
      |min(CAST(('0x'||substr(md5('2:' || token),1,15)) AS BIGINT)) AS h4,
      |min(CAST(('0x'||substr(md5('2:' || token),17,15)) AS BIGINT)) AS h5,
      |min(CAST(('0x'||substr(md5('3:' || token),1,15)) AS BIGINT)) AS h6,
      |min(CAST(('0x'||substr(md5('3:' || token),17,15)) AS BIGINT)) AS h7
      |FROM ndtok GROUP BY doc_id),
      |ndbands AS (SELECT doc_id, 0 AS band, h0 AS b0, h1 AS b1 FROM ndsig
      |UNION ALL SELECT doc_id, 1, h2, h3 FROM ndsig
      |UNION ALL SELECT doc_id, 2, h4, h5 FROM ndsig
      |UNION ALL SELECT doc_id, 3, h6, h7 FROM ndsig),
      |ndcand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM ndbands a
      |JOIN ndbands b ON a.band = b.band AND a.b0 = b.b0 AND a.b1 = b.b1
      |AND a.doc_id < b.doc_id),
      |ndtokh AS MATERIALIZED (SELECT DISTINCT doc_id,
      |CAST(('0x'||substr(md5(token),1,15)) AS BIGINT) AS th FROM ndtok),
      |ndsizes AS (SELECT doc_id, count(*) AS n_tok FROM ndtokh GROUP BY doc_id),
      |ndcommon AS MATERIALIZED (SELECT c.doc_a, c.doc_b, count(*) AS n_common FROM ndcand c
      |JOIN ndtokh ta ON ta.doc_id = c.doc_a
      |JOIN ndtokh tb ON tb.doc_id = c.doc_b AND tb.th = ta.th
      |GROUP BY c.doc_a, c.doc_b),
      |ndvict AS MATERIALIZED (SELECT DISTINCT c.doc_b AS doc_id FROM ndcommon c
      |JOIN ndsizes sa ON sa.doc_id = c.doc_a JOIN ndsizes sb ON sb.doc_id = c.doc_b
      |WHERE CAST(c.n_common AS DOUBLE)/(sa.n_tok + sb.n_tok - c.n_common) >= 0.5),
      |lab2 AS MATERIALIZED (SELECT lab.doc_id, lab.n_chars,
      |CASE WHEN lab.reason IN ('keep','contaminated') AND v.doc_id IS NOT NULL
      |THEN 'near_duplicate' ELSE lab.reason END AS reason
      |FROM lab LEFT JOIN ndvict v USING (doc_id)),
      |keepers AS MATERIALIZED (SELECT c.doc_id, c.text FROM corpus c
      |JOIN lab2 USING (doc_id) WHERE lab2.reason = 'keep'),""".stripMargin + "\n" +
    s"sx AS MATERIALIZED (\n${DedupQueries.substringOracleSql("", "keepers", "")}\n)," + "\n" +
    """dt AS (SELECT doc_id, t AS word FROM
      |(SELECT doc_id, unnest(regexp_split_to_array(lower(trim(clean_text)), '\s+')) AS t
      |FROM sx) u WHERE t <> ''),
      |dl AS MATERIALIZED (SELECT doc_id, CAST(sum(n_sym) AS BIGINT) AS enc_len
      |FROM dt JOIN enc USING (word) GROUP BY doc_id),
      |sh AS (SELECT doc_id,
      |CAST(('0x'||substr(md5('shard:' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 16 AS shard,
      |CAST(('0x'||substr(md5('order:' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) AS ok,
      |enc_len FROM dl),
      |pc AS (SELECT shard, doc_id, enc_len,
      |sum(enc_len) OVER (PARTITION BY shard ORDER BY ok ASC, doc_id ASC
      |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM sh)
      |SELECT 'drop' AS stage, reason AS key, count(*) AS n_docs,
      |CAST(sum(n_chars) AS BIGINT) AS total,
      |CAST(NULL AS BIGINT) AS n_seqs, CAST(NULL AS BIGINT) AS last_seq
      |FROM lab2 WHERE reason <> 'keep' GROUP BY reason
      |UNION ALL
      |SELECT 'pack', CAST(shard AS VARCHAR), count(*), CAST(sum(enc_len) AS BIGINT),
      |CAST(count(DISTINCT CAST(floor((cum - enc_len) / 512.0) AS BIGINT)) AS BIGINT),
      |CAST(max(CAST(floor((cum - enc_len) / 512.0) AS BIGINT)) AS BIGINT)
      |FROM pc GROUP BY shard""".stripMargin

  /** The q_e2e_corpus_incr oracle tail — the steady-state replay:
    * `corpus` is the DELTA shard only (doc_id % 20 = 0), the clean /
    * exact-dup / contamination chains run over it unchanged, the
    * near-dup stage spans base ∪ delta with the incremental victim
    * rule (a delta doc pairing a base doc yields; within-delta pairs
    * keep higher-id-yields; base–base pairs are skipped), boilerplate
    * grams count over base ∪ delta-keepers with only keepers excised,
    * and seg6 is the BASE-trained tokenizer (trainWhere on the BPE
    * chain). Same output schema as the batch tail. */
  private def e2eCorpusIncrOracleTail: String =
    """,enc AS (SELECT word, CAST(len(sym) AS BIGINT) AS n_sym FROM seg6),
      |corpus AS MATERIALIZED (SELECT doc_id, text, lang FROM documents
      |WHERE doc_id >= 50 AND doc_id % 20 = 0),
      |q AS (SELECT doc_id, CAST((n_tok >= 10
      |AND CAST(punct AS DOUBLE)/nullif(length(text), 0) < 0.3
      |AND CAST(stop_hits AS DOUBLE)/n_tok > 0.01) AS BIGINT) AS q_keep
      |FROM (SELECT doc_id, text,
      |len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tok,
      |len(regexp_extract_all(lower(text), '[^a-z0-9\s]')) AS punct,
      |len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |x -> x IN ('the','a','an','and','of','to','in','is','on','for'))) AS stop_hits
      |FROM corpus) t),
      |rtoks AS MATERIALIZED (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |FROM corpus),
      |r2 AS (SELECT doc_id, CASE WHEN len(toks) >= 2 THEN 1.0 -
      |CAST(len(list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE)
      |/ (len(toks) - 1) ELSE 0.0 END AS dup2 FROM rtoks),
      |tc AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_nonempty FROM (
      |SELECT doc_id, tok, count(*) AS c FROM (SELECT doc_id, unnest(toks) AS tok FROM rtoks) u
      |WHERE tok <> '' GROUP BY doc_id, tok) g GROUP BY doc_id),
      |r AS (SELECT r2.doc_id,
      |CAST((CAST(top_c AS DOUBLE)/n_nonempty < 0.2 AND dup2 < 0.2) AS BIGINT) AS r_keep
      |FROM r2 JOIN tc ON tc.doc_id = r2.doc_id),
      |d AS (SELECT doc_id, CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY
      |md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) THEN 1 ELSE 0 END AS is_dup
      |FROM corpus),
      |ev AS (SELECT DISTINCT
      |unnest(list_transform(range(0, greatest(len(toks)-7, 0)),
      |i -> CAST(('0x'||substr(md5(array_to_string(toks[i+1:i+8], ' ')),1,15)) AS BIGINT))) AS shingle
      |FROM (SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |FROM documents WHERE doc_id < 50) t WHERE len(toks) >= 8),
      |corp AS (SELECT DISTINCT doc_id,
      |unnest(list_transform(range(0, greatest(len(toks)-7, 0)),
      |i -> CAST(('0x'||substr(md5(array_to_string(toks[i+1:i+8], ' ')),1,15)) AS BIGINT))) AS shingle
      |FROM rtoks WHERE len(toks) >= 8),
      |ct AS (SELECT doc_id FROM corp GROUP BY doc_id
      |HAVING CAST(sum(CASE WHEN shingle IN (SELECT shingle FROM ev) THEN 1 ELSE 0 END) AS DOUBLE)
      |/count(*) >= 0.05),
      |lab AS MATERIALIZED (SELECT c.doc_id, length(c.text) AS n_chars,
      |CASE WHEN c.lang <> 'en' THEN 'lang'
      |WHEN q.q_keep = 0 THEN 'quality'
      |WHEN coalesce(r.r_keep, 1) = 0 THEN 'repetition'
      |WHEN d.is_dup = 1 THEN 'duplicate'
      |WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
      |ELSE 'keep' END AS reason
      |FROM corpus c JOIN q USING (doc_id) LEFT JOIN r USING (doc_id)
      |JOIN d USING (doc_id) LEFT JOIN ct USING (doc_id)),
      |ndtok AS MATERIALIZED (SELECT DISTINCT doc_id, t AS token FROM
      |(SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
      |FROM documents WHERE doc_id >= 50) u WHERE t <> ''),
      |ndsig AS (SELECT doc_id,
      |min(CAST(('0x'||substr(md5('0:' || token),1,15)) AS BIGINT)) AS h0,
      |min(CAST(('0x'||substr(md5('0:' || token),17,15)) AS BIGINT)) AS h1,
      |min(CAST(('0x'||substr(md5('1:' || token),1,15)) AS BIGINT)) AS h2,
      |min(CAST(('0x'||substr(md5('1:' || token),17,15)) AS BIGINT)) AS h3,
      |min(CAST(('0x'||substr(md5('2:' || token),1,15)) AS BIGINT)) AS h4,
      |min(CAST(('0x'||substr(md5('2:' || token),17,15)) AS BIGINT)) AS h5,
      |min(CAST(('0x'||substr(md5('3:' || token),1,15)) AS BIGINT)) AS h6,
      |min(CAST(('0x'||substr(md5('3:' || token),17,15)) AS BIGINT)) AS h7
      |FROM ndtok GROUP BY doc_id),
      |ndbands AS (SELECT doc_id, 0 AS band, h0 AS b0, h1 AS b1 FROM ndsig
      |UNION ALL SELECT doc_id, 1, h2, h3 FROM ndsig
      |UNION ALL SELECT doc_id, 2, h4, h5 FROM ndsig
      |UNION ALL SELECT doc_id, 3, h6, h7 FROM ndsig),
      |ndcand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM ndbands a
      |JOIN ndbands b ON a.band = b.band AND a.b0 = b.b0 AND a.b1 = b.b1
      |AND a.doc_id < b.doc_id
      |WHERE a.doc_id % 20 = 0 OR b.doc_id % 20 = 0),
      |ndtokh AS MATERIALIZED (SELECT DISTINCT doc_id,
      |CAST(('0x'||substr(md5(token),1,15)) AS BIGINT) AS th FROM ndtok),
      |ndsizes AS (SELECT doc_id, count(*) AS n_tok FROM ndtokh GROUP BY doc_id),
      |ndcommon AS MATERIALIZED (SELECT c.doc_a, c.doc_b, count(*) AS n_common FROM ndcand c
      |JOIN ndtokh ta ON ta.doc_id = c.doc_a
      |JOIN ndtokh tb ON tb.doc_id = c.doc_b AND tb.th = ta.th
      |GROUP BY c.doc_a, c.doc_b),
      |ndvict AS MATERIALIZED (SELECT DISTINCT vic AS doc_id FROM (
      |SELECT CASE WHEN c.doc_a % 20 = 0 AND c.doc_b % 20 <> 0 THEN c.doc_a
      |WHEN c.doc_b % 20 = 0 AND c.doc_a % 20 <> 0 THEN c.doc_b
      |ELSE c.doc_b END AS vic FROM ndcommon c
      |JOIN ndsizes sa ON sa.doc_id = c.doc_a JOIN ndsizes sb ON sb.doc_id = c.doc_b
      |WHERE CAST(c.n_common AS DOUBLE)/(sa.n_tok + sb.n_tok - c.n_common) >= 0.5) v
      |WHERE vic % 20 = 0),
      |lab2 AS MATERIALIZED (SELECT lab.doc_id, lab.n_chars,
      |CASE WHEN lab.reason IN ('keep','contaminated') AND v.doc_id IS NOT NULL
      |THEN 'near_duplicate' ELSE lab.reason END AS reason
      |FROM lab LEFT JOIN ndvict v USING (doc_id)),
      |keepers AS MATERIALIZED (SELECT c.doc_id, c.text FROM corpus c
      |JOIN lab2 USING (doc_id) WHERE lab2.reason = 'keep'),""".stripMargin + "\n" +
    s"sx AS MATERIALIZED (\n${DedupQueries.substringOracleSql(
      "sxsrc AS (SELECT doc_id, text FROM documents WHERE doc_id >= 50 AND doc_id % 20 <> 0 UNION ALL SELECT doc_id, text FROM keepers),",
      "sxsrc", "WHERE t.doc_id % 20 = 0")}\n)," + "\n" +
    """dt AS (SELECT doc_id, t AS word FROM
      |(SELECT doc_id, unnest(regexp_split_to_array(lower(trim(clean_text)), '\s+')) AS t
      |FROM sx) u WHERE t <> ''),
      |dl AS MATERIALIZED (SELECT doc_id, CAST(sum(n_sym) AS BIGINT) AS enc_len
      |FROM dt JOIN enc USING (word) GROUP BY doc_id),
      |sh AS (SELECT doc_id,
      |CAST(('0x'||substr(md5('shard:' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 16 AS shard,
      |CAST(('0x'||substr(md5('order:' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) AS ok,
      |enc_len FROM dl),
      |pc AS (SELECT shard, doc_id, enc_len,
      |sum(enc_len) OVER (PARTITION BY shard ORDER BY ok ASC, doc_id ASC
      |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM sh)
      |SELECT 'drop' AS stage, reason AS key, count(*) AS n_docs,
      |CAST(sum(n_chars) AS BIGINT) AS total,
      |CAST(NULL AS BIGINT) AS n_seqs, CAST(NULL AS BIGINT) AS last_seq
      |FROM lab2 WHERE reason <> 'keep' GROUP BY reason
      |UNION ALL
      |SELECT 'pack', CAST(shard AS VARCHAR), count(*), CAST(sum(enc_len) AS BIGINT),
      |CAST(count(DISTINCT CAST(floor((cum - enc_len) / 512.0) AS BIGINT)) AS BIGINT),
      |CAST(max(CAST(floor((cum - enc_len) / 512.0) AS BIGINT)) AS BIGINT)
      |FROM pc GROUP BY shard""".stripMargin

  private val UnigramEncodeOracleSql: String = {
    val sFinal = UnigramRounds + 1
    unigramOracleSql(
      s"""SELECT word, n, CAST(len(sg) AS BIGINT) AS n_piece,
        |array_to_string(sg, ' ') AS pieces FROM s$sFinal""".stripMargin,
      encodeTail = true)
  }
}
