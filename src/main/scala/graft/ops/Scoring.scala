package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval and data-selection scoring over the document corpus:
  * BM25 term scoring (the retrieval-quality readout next to
  * [[TextOps.tfidfQ]]'s tf-idf) and DSIR-style hashed-token importance
  * weights (domain-targeted data selection — score every candidate
  * document by how much more likely its token stream is under a target
  * distribution than under the corpus's own).
  *
  * Both share the scale posture of the rest of the text surface: token
  * streams are exploded and aggregated, never collected; every
  * model-side table (term idf, bucket log-ratios, corpus scalars) is
  * BOUNDED (|terms|, nBuckets, or 1 row) and broadcasts; the only
  * corpus-sized shuffles are keyed per-doc aggregates.
  */
object Scoring {

  /** Planner-estimated input gate for the exact-rank tails (r19, a
    * [[Dispatch]] gate): below the gate the distinct-score table is
    * fixture-sized and ONE global ordered window is the cheapest exact
    * form (fewest jobs and exchanges — the two-level form measured
    * 1.8-2.5× slower at sf0.1 where its offset jobs dominate); above
    * it the two-level fixed-grid form runs — per-bin offsets broadcast
    * from a bounded ≤1024-row table, ordered windows within bins —
    * identical values (branch parity spec-pinned), corpus-parallel,
    * no single-partition WindowExec over a growing frame. */
  private[ops] def rankTwoLevel(docs: DataFrame): Boolean =
    Dispatch.pick(docs.sparkSession, "rankTwoLevel", RankLargeBytes)(
      docs.queryExecution.optimizedPlan.stats.sizeInBytes)

  /** The smallest planner estimate (bytes) that ranks in two levels. */
  private[ops] val RankLargeBytes: Long = 64L << 20

  private def toks(docs: DataFrame): Column =
    split(lower(trim(col("text"))), "\\s+")

  /** Shared with [[TextIndex]] — the inverted index must tokenize
    * EXACTLY like the batch scorer for the index read to equal it. */
  private[ops] def tokensOf(docs: DataFrame): DataFrame =
    graft.sources.Tables.fanout(docs)
      .select(col("doc_id"), explode(toks(docs)).as("token"))
      .filter(col("token") =!= "")

  /** BM25 over a fixed query term set (k1 = 1.2, b = 0.75). One
    * corpus-sized pass builds per-doc lengths; the query-term pass is
    * filtered BEFORE its aggregate, so tf rows are bounded by
    * docs × |terms|. The idf table (|terms| rows) and the (N, avgdl)
    * scalar broadcast; the tf ⋈ doclen join is the one doc-keyed
    * shuffle. Docs matching no query term score no row (standard
    * retrieval semantics — mirrored by the oracle's inner joins). */
  def bm25Q(docs: DataFrame,
            terms: Seq[String] = Seq("data", "query", "engine", "fast"),
            k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // ONE corpus token pass: a pivot-style per-doc aggregate carries the
    // document length AND one tf lane per query term (|terms| is small
    // and fixed — the wide agg is |terms|+1 counters per doc). df per
    // term then folds out of the SAME doc-cardinality frame (df(t) =
    // #docs with tf_t > 0) in the one-row stats aggregate, so nothing
    // re-explodes and no join is keyed on doc_id — everything after the
    // per-doc aggregate is map-side against a broadcast scalar row.
    val perDoc = tokensOf(docs)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dl"),
        terms.map(t =>
          count(when(col("token") === t, 1)).as(s"tf_$t")): _*)
    val statAggs = Seq(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl")) ++
      terms.map(t => count(when(col(s"tf_$t") > 0, 1)).as(s"df_$t"))
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
    def termScore(t: String): Column = {
      val tf = col(s"tf_$t")
      when(tf > 0,
        log((col("n_docs") - col(s"df_$t") + 0.5) / (col(s"df_$t") + 0.5) + 1.0) *
          tf * (k1 + 1) /
          (tf + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
        .otherwise(lit(0.0))
    }
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"),
        terms.map(t => (col(s"tf_$t") > 0).cast("long"))
          .reduce(_ + _).as("n_terms_matched"),
        round(terms.map(termScore).reduce(_ + _), 6).as("bm25"))
      .filter(col("n_terms_matched") > 0)
  }

  /** DSIR-style importance weights: hash every token into one of
    * `nBuckets` buckets (the 60-bit md5 prefix the dedup lanes use, so
    * the oracle spells the identical hash), estimate the target and
    * raw (candidate) unigram distributions over buckets with add-one
    * smoothing, and score each candidate doc by its mean bucket
    * log-likelihood ratio ln(p_target/p_raw). High scores = documents
    * that look like the target domain — the data-selection signal for
    * assembling a domain-weighted training mix.
    *
    * The bucket-count pass reduces the corpus token stream to
    * ≤ nBuckets rows (map-side partials do almost all the work); the
    * totals fold those ≤ nBuckets rows once more. The scoring pass
    * re-explodes tokens and hash-joins the broadcast λ table on
    * bucket — recomputing tokens is deliberate: at 100 TB nobody
    * caches a corpus token stream, and the second pass is exactly as
    * parallel as the first. */
  def dsirQ(spark: SparkSession, docs: DataFrame,
            targetPred: Column = col("lang") === "en" &&
              col("source").isin("src1", "src2", "src3"),
            nBuckets: Int = 256): DataFrame = {
    graft.functions.Md5Bits.register(spark)
    def bucket(c: Column): Column =
      pmod(call_function(graft.functions.Md5Bits.FnName, c, lit(0), lit(15)),
        lit(nBuckets.toLong))
    // the flag rides the explode — joining it back post-explode would be
    // a second corpus-sized shuffle for one boolean
    val tokens = graft.sources.Tables.fanout(docs.withColumn("is_target", targetPred))
      .select(col("doc_id"), col("is_target"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .select(col("doc_id"), col("is_target"), bucket(col("token")).as("bkt"))
    // compact-tracked (r19): counts is an nBuckets-row table consumed by
    // BOTH the totals scalar and the lam join — uncached, each consumer
    // re-ran the corpus tokenize+explode behind it (three corpus passes
    // for a two-pass algorithm)
    val counts = PipelineCaches.trackCompact(
      tokens.groupBy(col("bkt")).agg(
        sum(when(col("is_target"), 1L).otherwise(0L)).as("t_cnt"),
        sum(when(!col("is_target"), 1L).otherwise(0L)).as("r_cnt")))
    val totals = counts.agg(sum(col("t_cnt")).as("t_tot"), sum(col("r_cnt")).as("r_tot"))
    val lam = counts.crossJoin(broadcast(totals))
      .select(col("bkt"),
        (log((col("t_cnt") + 1.0) / (col("t_tot") + nBuckets)) -
          log((col("r_cnt") + 1.0) / (col("r_tot") + nBuckets))).as("lam"))
    tokens.filter(!col("is_target"))
      .join(broadcast(lam), Seq("bkt"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        round(avg(col("lam")), 6).as("dsir_weight"))
  }

  /** CCNet-style n-gram language-model perplexity scoring (q_ngram_lm):
    * train an add-α bigram LM on the corpus's `trainLang` slice, then
    * score EVERY document by its per-bigram log-perplexity under that
    * model — the classic quality/fluency filter (CCNet ranks CommonCrawl
    * by Wikipedia-LM perplexity; low logppl ≈ target-like text).
    *
    * Model: tokens outside the train vocabulary map to `<unk>`;
    * p(b|a) = (C(a,b) + α) / (C(a) + α·(V+1)) with V = train vocab
    * size (+1 for unk). Unseen contexts degrade to the uniform
    * α/(α·(V+1)) floor. Score: logppl = −mean ln p over the doc's
    * bigrams; docs with < 2 tokens drop (no bigram evidence).
    *
    * Scale shape: ONE train-slice aggregate builds the whole model —
    * GROUPING SETS ((a,b),(a)) over in-row successor pairs (the q_pmi
    * fusion; the null-successor rows make the (a) level the true
    * unigram count and V = the gid-1 row count), localCheckpoint'd
    * because its derived views join 4× (the analyzer's attribute dedup
    * defeats cache plan-match on grouping-sets subtrees). The scoring
    * pass explodes in-row bigram pairs once; vocab/bigram/unigram
    * model tables are VOCAB-bounded and broadcast (Catalyst's call —
    * beyond broadcast size the joins degrade to token-keyed shuffles);
    * the one corpus-sized shuffle is the final per-doc aggregate. */
  /** (doc_id, lang, toks) tokenized frame — the LM pipeline's shared
    * first projection. */
  private[ops] def lmToksFrame(docs: DataFrame): DataFrame =
    graft.sources.Tables.fanout(docs)
      .select(col("doc_id"), col("lang"),
        filter(split(lower(trim(col("text"))), "\\s+"), t => t =!= "").as("toks"))

  /** In-row successor pairs; each row's LAST token carries a null
    * successor (the unigram lane of the grouping-sets train). */
  private[ops] def lmPairsOf(df: DataFrame): DataFrame = df
    .select(col("doc_id"), col("lang"),
      explode(transform(col("toks"), (t, i) =>
        struct(t.as("ra"),
          when(i < size(col("toks")) - 1, col("toks")(i + 1)).as("rb")))).as("p"))
    .select(col("doc_id"), col("lang"), col("p.ra"), col("p.rb"))

  /** The LM's sufficient statistics from a train slice: ONE
    * GROUPING SETS ((a,b),(a)) aggregate — (gid, ra, rb, n) rows.
    * Every row is an ADDITIVE count (the (a) level counts token
    * instances, V falls out as the distinct-ra count of that level),
    * which is what makes the model a valid persisted index
    * ([[LmIndex]]). */
  private[ops] def lmTrainCounts(docs: DataFrame, trainLang: String): DataFrame =
    lmPairsOf(lmToksFrame(docs).filter(col("lang") === trainLang))
      .groupingSets(Seq(Seq(col("ra"), col("rb")), Seq(col("ra"))),
        col("ra"), col("rb"))
      .agg(count(lit(1)).as("n"), grouping_id().as("gid"))

  /** Per-position (doc, a, b) scoring pairs with out-of-vocab tokens
    * mapped to `<unk>` against the train vocab — shared by every LM
    * scoring law (add-α, Kneser-Ney). Drops each row's null-successor
    * tail pair. */
  private def lmMapped(docs: DataFrame, uni: DataFrame): DataFrame =
    lmPairsOf(lmToksFrame(docs)).filter(col("rb").isNotNull)
      .join(uni.select(col("u_tok").as("ra"), lit(1).as("_ina")), Seq("ra"), "left")
      .join(uni.select(col("u_tok").as("rb"), lit(1).as("_inb")), Seq("rb"), "left")
      .select(col("doc_id"), col("lang"),
        when(col("_ina").isNotNull, col("ra")).otherwise(lit("<unk>")).as("a"),
        when(col("_inb").isNotNull, col("rb")).otherwise(lit("<unk>")).as("b"))

  /** Score every document under a (uni, bi, V) model — the shared
    * second half of the batch and index-read forms. */
  private[ops] def lmScore(docs: DataFrame, uni: DataFrame, bi: DataFrame,
      vsz: DataFrame, alpha: Double): DataFrame = {
    // score every doc: drop each row's null-successor tail pair, map
    // out-of-vocab tokens to <unk>, look up the smoothed probability
    lmMapped(docs, uni)
      .join(bi, col("a") === col("bi_a") && col("b") === col("bi_b"), "left")
      .join(uni, col("a") === col("u_tok"), "left")
      .crossJoin(broadcast(vsz))
      .select(col("doc_id"), col("lang"),
        ((coalesce(col("n_ab"), lit(0L)).cast("double") + alpha) /
          (coalesce(col("n_u"), lit(0L)).cast("double") +
            lit(alpha) * (col("v") + 1))).as("prob"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(-avg(log(col("prob"))), 6).as("logppl"))
  }

  def ngramLmQ(docs: DataFrame, trainLang: String = "en",
               alpha: Double = 0.1): DataFrame = {
    val model = PipelineCaches.trackCheckpointed(
      lmTrainCounts(docs, trainLang).localCheckpoint())
    val uni = model.filter(col("gid") === 1)
      .select(col("ra").as("u_tok"), col("n").as("n_u"))
    val bi = model.filter(col("gid") === 0 && col("rb").isNotNull)
      .select(col("ra").as("bi_a"), col("rb").as("bi_b"), col("n").as("n_ab"))
    val vsz = model.filter(col("gid") === 1).agg(count(lit(1)).as("v"))
    lmScore(docs, uni, bi, vsz, alpha)
  }

  /** Interpolated Kneser-Ney bigram perplexity (q_kneser_ney, Kneser &
    * Ney 1995 / Chen & Goodman 1998) — the LM-quality scorer the KenLM
    * filtering stacks actually ship, beside [[ngramLmQ]]'s add-α
    * baseline: absolute discounting with the CONTINUATION unigram
    * ("how many contexts does w complete?" — the fix for the
    * Francisco problem, where raw unigram frequency overrates tokens
    * that only ever follow one context).
    *
    * The law, with every statistic derived from the observed-bigram
    * table alone (vocab²-bounded, broadcastable):
    *
    *   P(w|v) = max(c(vw)−d, 0)/c(v) + d·N1+(v·)/c(v) · Pc(w)
    *   Pc(w)  = (N1+(·w) + 1) / (N_bb + V + 1)
    *
    * d = 0.75 (exactly binary-representable), c(v) = Σ_w c(vw),
    * N1+(v·)/N1+(·w) the distinct follower/predecessor type counts,
    * N_bb the bigram type total; Pc carries add-one mass so unseen
    * continuations (and the <unk> map, shared with add-α) score finite
    * probability; an unseen CONTEXT backs off to Pc(w) entirely. The
    * arithmetic is spelled with one fixed association order in both
    * engines (all inputs exact integers → each double op is identical
    * IEEE); the per-doc avg(ln p) rides the same round-6 grid as the
    * add-α scorer.
    *
    * Scale shape: identical to [[ngramLmQ]] — one corpus tokenize
    * pass, model tables bounded by observed bigram types, the scoring
    * join is per-position lookups + one (doc, lang) aggregate. */
  def kneserNeyQ(docs: DataFrame, trainLang: String = "en",
      discount: Double = 0.75): DataFrame = {
    val model = PipelineCaches.trackCheckpointed(
      lmTrainCounts(docs, trainLang).localCheckpoint())
    val uni = model.filter(col("gid") === 1)
      .select(col("ra").as("u_tok"), col("n").as("n_u"))
    val bi = model.filter(col("gid") === 0 && col("rb").isNotNull)
      .select(col("ra").as("bi_a"), col("rb").as("bi_b"), col("n").as("n_ab"))
    kneserNeyScore(docs, uni, bi, discount)
  }

  /** The Kneser-Ney scoring tail over (uni, bi) model frames — shared
    * by the batch form and the persisted-index read ([[LmIndex]]
    * serves BOTH smoothing laws from the same additive counts: KN's
    * statistics all derive from the folded bigram table). */
  private[ops] def kneserNeyScore(docs: DataFrame, uni: DataFrame,
      bi: DataFrame, discount: Double = 0.75): DataFrame = {
    val ctx = bi.groupBy(col("bi_a").as("c_a"))
      .agg(sum(col("n_ab")).as("cv"), count(lit(1)).as("n1f"))
    val pred = bi.groupBy(col("bi_b").as("p_b"))
      .agg(count(lit(1)).as("n1p"))
    val scal = bi.agg(count(lit(1)).as("nbb"))
      .crossJoin(uni.agg(count(lit(1)).as("v")))
    val pc = (coalesce(col("n1p"), lit(0L)).cast("double") + 1.0) /
      (col("nbb") + col("v") + 1L).cast("double")
    val seen =
      greatest(coalesce(col("n_ab"), lit(0L)).cast("double") - discount, lit(0.0)) /
        col("cv").cast("double") +
      lit(discount) * col("n1f").cast("double") / col("cv").cast("double") * pc
    lmMapped(docs, uni)
      .join(bi, col("a") === col("bi_a") && col("b") === col("bi_b"), "left")
      .join(ctx, col("a") === col("c_a"), "left")
      .join(pred, col("b") === col("p_b"), "left")
      .crossJoin(broadcast(scal))
      .select(col("doc_id"), col("lang"),
        when(col("cv").isNull, pc).otherwise(seen).as("prob"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(-avg(log(col("prob"))), 6).as("logppl"))
  }

  /** Linear fasttext-style quality classifier (q_quality_clf): the
    * CCNet/GPT-3 quality-filter step — a pretrained linear model over
    * hashed bag-of-token features decides keep/drop per document. Each
    * token hashes into one of `dim` feature buckets (60-bit md5 prefix
    * mod dim — the hash spelling every dedup lane shares); the logit is
    * the mean bucket weight over the doc's token INSTANCES (fasttext's
    * mean-of-embeddings with 1-d embeddings); keep = logit ≥ 0.
    *
    * The weight table stands in for the shipped model artifact. Weights
    * are stored as integer millis (wm ∈ [−1000, 1000], derived
    * deterministically from the bucket id so the oracle rebuilds the
    * identical model): the per-doc sum is then EXACT integer
    * arithmetic — order-free under any partitioning, so the one double
    * division at the end is bit-identical in every engine. A
    * float-weight model would make the logit depend on reduction order.
    *
    * Scale shape: the weight table is `dim` rows — broadcast, hinted
    * explicitly (the model artifact is always tiny next to the corpus);
    * scoring is one map-side hash-join lookup per token instance plus
    * the single per-doc aggregate shuffle. Nothing else. */
  def qualityClassifierWeights(spark: SparkSession, dim: Int = 1024): DataFrame = {
    graft.functions.Md5Bits.register(spark)
    spark.range(dim).select(col("id").as("bucket"),
      (call_function(graft.functions.Md5Bits.FnName,
        concat(lit("w:"), col("id").cast("string")), lit(0), lit(15))
        % 2001L - 1000L).as("wm"))
  }

  def qualityClassifierQ(docs: DataFrame, dim: Int = 1024): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.Md5Bits.register(spark)
    val weights = qualityClassifierWeights(spark, dim)
    val bucketed = graft.sources.Tables.fanout(docs)
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .select(col("doc_id"),
        pmod(call_function(graft.functions.Md5Bits.FnName,
          col("token"), lit(0), lit(15)), lit(dim.toLong)).as("bucket"))
    bucketed.join(broadcast(weights), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("wm")).as("swm"))
      .select(col("doc_id"), col("n_tokens"),
        (col("swm").cast("double") / (col("n_tokens") * 1000.0)).as("logit"),
        (col("swm") >= 0L).cast("long").as("keep"))
  }
  /** CCNet perplexity bucketing (q_ccnet_buckets): per language, rank
    * every scored document by its bigram-LM log-perplexity
    * ([[ngramLmQ]]) and cut the population into the published
    * head / middle / tail terciles — the step CCNet uses to keep the
    * "head" (fluent) slice of a crawl and drop or down-weight the
    * tail. Rank terciles (ntile over the 6-dp score grid with the
    * doc_id tie-break) are exactly reproducible across engines, unlike
    * value cutoffs interpolated from quantiles.
    *
    * Scale shape: the scorer is the shared one-pass lmScore; the
    * tercile window shuffles only (doc_id, lang, score) — narrow rows,
    * parallel across languages. At a 100 TB corpus with few giant
    * languages, swap the exact rank window for the quantile-histogram
    * cutoff (q_quantile's scale branch) and bucket map-side; the
    * declared fixture form keeps the exact-rank semantics the oracle
    * can replay. Output: per (lang, bucket) population summary. */
  def ccnetBucketsQ(docs: DataFrame): DataFrame = {
    val scored = ngramLmQ(docs)
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("logppl").asc, col("doc_id").asc)
    scored
      .withColumn("bucket", element_at(
        array(lit("head"), lit("middle"), lit("tail")), ntile(3).over(w)))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("logppl")).as("lo_logppl"),
        max(col("logppl")).as("hi_logppl"),
        sum(col("n_bigrams")).as("total_bigrams"))
  }

  /** Exact tie-corrected ROC-AUC of the quality classifier
    * (q_auc) — the evaluation readout every filtering stack needs
    * before trusting a keep/drop threshold: does the scorer actually
    * rank the positive class above the negative one? Label here is the
    * corpus's own `lang = 'en'` flag (the
    * wiki-vs-crawl-style weak label a fasttext quality model is
    * typically trained on); scores are [[qualityClassifierQ]]'s raw
    * logit doubles (bit-identical in every engine — see the grouping
    * note below).
    *
    * The statistic is the Mann-Whitney rank-sum in its grouped form —
    * no per-pair work, no per-row ranks: group docs by distinct score,
    * count positives/negatives per group, running-sum the negatives
    * strictly below each group, and fold
    * `u2 = Σ_g pos_g · (2·cum_neg_below_g + neg_g)` (ties credit ½,
    * kept integral by the ×2 scaling). All counts are exact BIGINTs —
    * order-free under any partitioning — and `auc = u2 / (2·P·N)` is
    * one correctly-rounded double division, so the result is
    * bit-identical in any engine. Degenerate corpora (single-class:
    * P·N = 0) return NULL auc rather than throwing, u2 still exact.
    *
    * Scale shape: scoring is the classifier's one broadcast join +
    * per-doc aggregate; the AUC tail shuffles only (score, pos, neg) —
    * one narrow row per DISTINCT score. The running sum is SIZE-
    * DISPATCHED (r19, [[rankTwoLevel]]): fixture-sized inputs keep the
    * one global ordered window (cheapest exact form); larger corpora
    * ride the two-level fixed-grid form — per-bin offsets broadcast
    * from a bounded ≤1024-row table, ordered windows within bins — the
    * exact global prefix, corpus-parallel, no single-partition
    * WindowExec however many distinct scores the corpus grows. Branch
    * parity is spec-pinned ([[aucFold]] is the test seam). */
  def aucQ(docs: DataFrame): DataFrame = {
    val scored = qualityClassifierQ(docs)
    val labeled = scored.join(
      docs.select(col("doc_id"),
        coalesce(col("lang") === "en", lit(false)).cast("long").as("label")),
      Seq("doc_id"))
    // group by the RAW double logit: it is bit-identical in every
    // engine (exact integer weight sum + one correctly-rounded
    // division), so double equality is exact here — a 6-dp rounding
    // would ADD a cross-engine hazard (half-way values round HALF_UP
    // vs half-even depending on the engine), not remove one
    aucFold(labeled, rankTwoLevel(docs))
      .select(col("n_pos"), col("n_neg"), col("u2"),
        when(col("n_pos") * col("n_neg") === 0L, lit(null).cast("double"))
          .otherwise(round(col("u2").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg")), 6)).as("auc"))
  }

  /** The grouped Mann-Whitney fold over (doc_id, logit, label) rows —
    * [[aucQ]]'s tail with the cum_neg spelling dispatched: `twoLevel =
    * false` is the single global ordered window, `true` the fixed-grid
    * two-level prefix (bin offset + in-bin window — identical values;
    * the score is a mean of [-1000, 1000]-milli weights so it lives in
    * [-1, 1] and the grid is monotone in the score order). */
  private[ops] def aucFold(labeled: DataFrame, twoLevel: Boolean): DataFrame = {
    if (!twoLevel) {
      val byScore = labeled
        .groupBy(col("logit").as("score"))
        .agg(sum(col("label")).as("pos"), sum(lit(1L) - col("label")).as("neg"))
      val below = Window.orderBy(col("score").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      byScore
        .withColumn("cum_neg", coalesce(sum(col("neg")).over(below), lit(0L)))
        .agg(sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"),
          sum(col("pos") * (lit(2L) * col("cum_neg") + col("neg"))).as("u2"))
    } else {
      // tracked: the offset aggregate and the fold both read the
      // grouped table (released by the caller via PipelineCaches)
      val byScore = PipelineCaches.track(labeled
        .groupBy(col("logit").as("score"))
        .agg(sum(col("label")).as("pos"), sum(lit(1L) - col("label")).as("neg"))
        .withColumn("__b", least(lit(1023L),
          floor((col("score") + lit(1.0)) * lit(512.0)).cast("long"))))
      val offs = byScore.groupBy(col("__b")).agg(sum(col("neg")).as("__nb"))
        .select(col("__b"), coalesce(sum(col("__nb")).over(
          Window.orderBy(col("__b").asc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("__off"))
      val inBin = Window.partitionBy(col("__b")).orderBy(col("score").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      byScore
        .join(broadcast(offs), Seq("__b"))
        .withColumn("cum_neg",
          col("__off") + coalesce(sum(col("neg")).over(inBin), lit(0L)))
        .agg(sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"),
          sum(col("pos") * (lit(2L) * col("cum_neg") + col("neg"))).as("u2"))
    }
  }

  /** Binned AUC (q_auc_binned) — the 100 TB form [[aucQ]]'s scaladoc
    * promises: scores land in a FIXED 1024-bin histogram over the
    * logit's [-1, 1] range (bin = ⌊(logit+1)·512⌋ clamped — the mean
    * of [-1000, 1000]-milli weights cannot leave the range, the clamp
    * only settles logit = 1.0), and the same grouped Mann-Whitney fold
    * runs over the BOUNDED bin table — the running sum is a ≤ 1024-row
    * window whatever the corpus size, where the exact form's distinct-
    * score table grows with it. Binning is declared semantics the
    * oracle recomputes (the q_profile_approx pattern: the approximation
    * IS the contract, so the gate is still a hash match, not a
    * tolerance): within-bin order is deliberately forgotten and ties
    * credit ½, so binned AUC is the exact AUC of the binned scores.
    * Output adds the occupied-bin count — the readout that says how
    * much resolution the histogram actually spent. */
  def aucBinnedQ(docs: DataFrame, nBins: Int = 1024): DataFrame = {
    val scored = qualityClassifierQ(docs)
    val labeled = scored.join(
      docs.select(col("doc_id"),
        coalesce(col("lang") === "en", lit(false)).cast("long").as("label")),
      Seq("doc_id"))
    val bin = least(lit(nBins - 1L),
      floor((col("logit") + lit(1.0)) * lit(nBins / 2.0)).cast("long"))
    val byBin = labeled
      .groupBy(bin.as("bin"))
      .agg(sum(col("label")).as("pos"), sum(lit(1L) - col("label")).as("neg"))
    val below = Window.orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    byBin
      .withColumn("cum_neg", coalesce(sum(col("neg")).over(below), lit(0L)))
      .agg(count(lit(1)).as("n_bins_used"),
        sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"),
        sum(col("pos") * (lit(2L) * col("cum_neg") + col("neg"))).as("u2"))
      .select(col("n_bins_used"), col("n_pos"), col("n_neg"), col("u2"),
        when(col("n_pos") * col("n_neg") === 0L, lit(null).cast("double"))
          .otherwise(round(col("u2").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg")), 6)).as("auc_binned"))
  }

  /** Precision/recall/F1 threshold sweep (q_pr_curve) — the operating-
    * point readout that turns [[aucQ]]'s single ranking number into a
    * deployable keep/drop threshold: for every candidate threshold t
    * (each distinct classifier logit), predict keep when logit ≥ t and
    * report the confusion counts and derived metrics at that cut.
    *
    * Same exactness discipline as the AUC fold: group docs by the raw
    * bit-identical logit, then tp/fp at each threshold are DESCENDING
    * running sums over the grouped table — exact BIGINTs, order-free —
    * and precision = tp/(tp+fp), recall = tp/P, f1 = 2tp/(2tp+fp+fn)
    * are each ONE correctly-rounded double division at the end.
    *
    * Scale shape: scoring is the classifier's broadcast join + per-doc
    * aggregate; the sweep shuffles one narrow row per DISTINCT score
    * and the running sums are TWO-LEVEL (r19, the [[aucQ]] shape):
    * fixed-grid per-bin offsets broadcast from a bounded ≤1024-row
    * table, ordered windows within bins — exact values,
    * corpus-parallel, no single-partition WindowExec. */
  def prCurveQ(docs: DataFrame): DataFrame = {
    val scored = qualityClassifierQ(docs)
    val labeled = scored.join(
      docs.select(col("doc_id"),
        coalesce(col("lang") === "en", lit(false)).cast("long").as("label")),
      Seq("doc_id"))
    prSweep(labeled, rankTwoLevel(docs))
      .select(col("threshold"), col("tp"), col("fp"), col("fn"),
        round(col("tp").cast("double") / (col("tp") + col("fp")), 6).as("precision"),
        when(col("tp") + col("fn") === 0L, lit(null).cast("double"))
          .otherwise(round(col("tp").cast("double") / (col("tp") + col("fn")), 6))
          .as("recall"),
        round(lit(2.0) * col("tp") /
          (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"), 6)
          .as("f1"))
  }

  /** The descending confusion-count sweep over (doc_id, logit, label)
    * rows — [[prCurveQ]]'s tail with the running sums dispatched
    * ([[rankTwoLevel]]): `twoLevel = false` keeps the global ordered
    * windows; `true` rides a fixed 1024-bin grid monotone in
    * DESCENDING threshold order — per-bin (pos, neg) offsets plus the
    * grand positive total broadcast from the bounded offset table
    * (replacing the whole-partition window too), at-or-above
    * cumulatives within bins. Identical values, spec-pinned. */
  private[ops] def prSweep(labeled: DataFrame, twoLevel: Boolean): DataFrame = {
    if (!twoLevel) {
      val byScore = labeled
        .groupBy(col("logit").as("threshold"))
        .agg(sum(col("label")).as("pos"), sum(lit(1L) - col("label")).as("neg"))
      val atOrAbove = Window.orderBy(col("threshold").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val whole = Window.orderBy(col("threshold").desc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      byScore
        .select(col("threshold"),
          sum(col("pos")).over(atOrAbove).as("tp"),
          sum(col("neg")).over(atOrAbove).as("fp"),
          (sum(col("pos")).over(whole) - sum(col("pos")).over(atOrAbove)).as("fn"))
    } else {
      // tracked: offsets and the sweep both read the grouped table
      val byScore = PipelineCaches.track(labeled
        .groupBy(col("logit").as("threshold"))
        .agg(sum(col("label")).as("pos"), sum(lit(1L) - col("label")).as("neg"))
        .withColumn("__b", least(lit(1023L),
          floor((lit(1.0) - col("threshold")) * lit(512.0)).cast("long"))))
      val offs = byScore.groupBy(col("__b"))
        .agg(sum(col("pos")).as("__pb"), sum(col("neg")).as("__qb"))
        .select(col("__b"),
          coalesce(sum(col("__pb")).over(Window.orderBy(col("__b").asc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("__offp"),
          coalesce(sum(col("__qb")).over(Window.orderBy(col("__b").asc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("__offq"),
          sum(col("__pb")).over(Window.orderBy(col("__b").asc)
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
            .as("__totp"))
      val inBin = Window.partitionBy(col("__b")).orderBy(col("threshold").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byScore
        .join(broadcast(offs), Seq("__b"))
        .select(col("threshold"),
          (col("__offp") + sum(col("pos")).over(inBin)).as("tp"),
          (col("__offq") + sum(col("neg")).over(inBin)).as("fp"),
          (col("__totp") - col("__offp") - sum(col("pos")).over(inBin)).as("fn"))
    }
  }

  /** Expected calibration error (q_ece, Naeini 2015 / Guo 2017) — the
    * companion readout to [[aucQ]]: AUC says the scorer RANKS well, ECE
    * says whether its confidence means what it claims, which decides if
    * the keep threshold can be read as a probability when mixing
    * filtered corpora. Confidence is the declared affine calibration of
    * the linear score, p = (logit + 1)/2 ∈ [0,1] (the logit is a mean
    * of [-1,1] milli-weights so the map is total — and unlike a sigmoid
    * it needs no transcendental whose last ulp differs across engines).
    *
    * Exactness: each doc's confidence is materialized as an integer
    * MICRO value, p_micro = ⌊(swm + 1000·n_tok)·10⁶ / (2000·n_tok)⌋ —
    * the floor of an exact rational, identical in every engine — and
    * every per-bin statistic is a BIGINT sum of those. The 10-bin
    * equal-width histogram bins on p_micro div 100000 (clamped to 9),
    * the per-bin calibration gap is |10⁶·Σlabel − Σp_micro| (still
    * integral), and ece = Σ_b gap_b / (10⁶·N) is one final division.
    *
    * Scale shape: one broadcast model join + one per-doc aggregate
    * (shared with the classifier), then a 10-row bin aggregate — the
    * whole calibration tail is bounded by construction. */
  /** (doc_id, p_micro, label) — the classifier's affine confidence on
    * the integer micro grid joined with the weak label; shared by the
    * calibration readouts (ECE, Brier). */
  private def confidenceMicro(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.Md5Bits.register(spark)
    val weights = qualityClassifierWeights(spark)
    val bucketed = graft.sources.Tables.fanout(docs)
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .select(col("doc_id"),
        pmod(call_function(graft.functions.Md5Bits.FnName,
          col("token"), lit(0), lit(15)), lit(1024L)).as("bucket"))
    val scored = bucketed.join(broadcast(weights), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("wm")).as("swm"))
      .select(col("doc_id"),
        expr("(swm + 1000 * n_tokens) * 1000000 div (2000 * n_tokens)")
          .as("p_micro"))
    scored.join(
      docs.select(col("doc_id"),
        coalesce(col("lang") === "en", lit(false)).cast("long").as("label")),
      Seq("doc_id"))
  }

  def eceQ(docs: DataFrame, nBins: Int = 10): DataFrame = {
    confidenceMicro(docs)
      .groupBy(least(lit(nBins - 1L),
        expr(s"p_micro div ${1000000 / nBins}")).as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("label")).as("s_label"),
        sum(col("p_micro")).as("s_conf"))
      .agg(count(lit(1)).as("n_bins_used"), sum(col("n")).as("n_docs"),
        sum(abs(lit(1000000L) * col("s_label") - col("s_conf"))).as("gap_sum"))
      .select(col("n_docs"), col("n_bins_used"), col("gap_sum"),
        round(col("gap_sum").cast("double") / (lit(1e6) * col("n_docs")), 6)
          .as("ece"))
  }

  /** Spearman rank correlation between two quality scorers
    * (q_rank_corr) — the meta-evaluation a filtering stack runs before
    * composing signals: if the fasttext-style classifier and the LM
    * perplexity rank the corpus the same way, gating on both buys
    * nothing; if they disagree, the ensemble has information. Both
    * scores are rank-stable by construction (the classifier logit is
    * bit-identical everywhere, the LM logppl lives on the round-6
    * grid), ranks are row_number with the doc_id tie-break (declared
    * spelling — deterministic and replayable, where average-rank ties
    * would need an extra windowed mean), and
    * ρ = 1 − 6·Σd²/(n·(n²−1)) stays all-BIGINT until the one final
    * division. Population: docs BOTH scorers cover (≥ 2 tokens).
    * Note the sign convention: high logit = good, high logppl = BAD,
    * so the LM rank orders logppl ASCENDING — ρ > 0 means agreement.
    *
    * Scale shape: the two scoring passes (shared machinery), one
    * doc-keyed join, two global rank windows over narrow (score,
    * doc_id) rows — the exact-rank declared form (q_auc's documented
    * single-partition cost; the scale branch buckets scores first),
    * then one scalar fold. */
  def rankCorrQ(docs: DataFrame): DataFrame = {
    val clf = qualityClassifierQ(docs).select(col("doc_id"), col("logit"))
    val lm = ngramLmQ(docs).select(col("doc_id"), col("logppl"))
    spearmanRanks(clf.join(lm, "doc_id"), rankTwoLevel(docs))
      .select(((col("r_clf") - col("r_lm")) *
        (col("r_clf") - col("r_lm"))).as("d2"))
      .agg(count(lit(1)).as("n"), sum(col("d2")).as("sum_d2"))
      .select(col("n"), col("sum_d2"),
        when(col("n") < 2L, lit(null).cast("double"))
          .otherwise(round(lit(1.0) - lit(6.0) * col("sum_d2") /
            (col("n") * (col("n") * col("n") - 1L)).cast("double"), 6))
          .as("spearman_rho"))
  }

  /** Exact (r_clf, r_lm) rank pair per doc — [[rankCorrQ]]'s rank pass
    * with the row_number windows dispatched ([[rankTwoLevel]]):
    * `twoLevel = false` keeps the two global windows; `true` rides
    * fixed monotone grids over each ordering key (logit ∈ [-1, 1];
    * logppl ≥ 0 with the tail clamped into the last bin — clamping
    * only coarsens the partitioning, never the order): per-bin
    * row-count offsets from bounded ≤1024-row tables, row_number
    * within bins under the same (key, doc_id) order — bin offset +
    * in-bin rank IS the global rank, corpus-parallel. Identical
    * values, spec-pinned. */
  private[ops] def spearmanRanks(pairs: DataFrame,
      twoLevel: Boolean): DataFrame = {
    if (!twoLevel) {
      val byClf = Window.orderBy(col("logit").desc, col("doc_id").asc)
      val byLm = Window.orderBy(col("logppl").asc, col("doc_id").asc)
      pairs.select(col("doc_id"),
        row_number().over(byClf).cast("long").as("r_clf"),
        row_number().over(byLm).cast("long").as("r_lm"))
    } else {
      // tracked: both offset aggregates and the rank pass read the
      // joined frame (released by the caller via PipelineCaches)
      val joined = PipelineCaches.track(pairs
        .select(col("doc_id"), col("logit"), col("logppl"),
          least(lit(1023L),
            floor((lit(1.0) - col("logit")) * lit(512.0)).cast("long")).as("__bc"),
          least(lit(1023L),
            floor(col("logppl") * lit(64.0)).cast("long")).as("__bl")))
      def offsets(bcol: String, offName: String) =
        joined.groupBy(col(bcol)).agg(count(lit(1)).as("__n"))
          .select(col(bcol), coalesce(sum(col("__n")).over(
            Window.orderBy(col(bcol).asc)
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as(offName))
      val inClf = Window.partitionBy(col("__bc"))
        .orderBy(col("logit").desc, col("doc_id").asc)
      val inLm = Window.partitionBy(col("__bl"))
        .orderBy(col("logppl").asc, col("doc_id").asc)
      joined
        .join(broadcast(offsets("__bc", "__offc")), Seq("__bc"))
        .join(broadcast(offsets("__bl", "__offl")), Seq("__bl"))
        .select(col("doc_id"),
          (col("__offc") + row_number().over(inClf)).cast("long").as("r_clf"),
          (col("__offl") + row_number().over(inLm)).cast("long").as("r_lm"))
    }
  }

  /** Brier score (q_brier, Brier 1950) — the strictly proper scoring
    * rule beside [[eceQ]]'s binned gap: mean squared error between the
    * affine confidence and the weak label, sensitive to BOTH
    * calibration and resolution (a scorer can have zero ECE by being
    * uselessly uniform; Brier charges it for that). Exact: per doc the
    * squared micro gap (label·10⁶ − p_micro)² is one BIGINT product,
    * the corpus sum is order-free, and brier = Σgap²/(10¹²·N) is one
    * final rounded division. Overflow: gap² ≤ 10¹², so the sum holds
    * past 9·10⁶ docs in a long; the at-scale form drops to a coarser
    * grid or per-partition partials into DECIMAL. One broadcast model
    * join + one per-doc aggregate + one scalar fold — no other shape. */
  /** Late-interaction MaxSim retrieval scoring (q_maxsim, ColBERT —
    * Khattab & Zaharia 2020): score(q, d) = Σ_{t∈q} max_{s∈d}
    * sim(v_t, v_s) — every query term finds its best-matching document
    * token and the per-term winners sum. The shape that beats
    * bag-of-words scoring (BM25) when match quality lives at the token
    * level; here the token embeddings are the engine's deterministic
    * stand-in for the model artifact (16-dim integer-milli vectors,
    * v[j] = md5₆₀("e:"+token+":"+j) % 2001 − 1000 — the
    * q_quality_clf weight-table discipline, so the oracle rebuilds the
    * identical "model"), and sim is the raw integer DOT product: every
    * score is a BIGINT (|dot| ≤ 16·10⁶), bit-identical anywhere.
    *
    * Scale shape: ZERO joins — the 16 components are pure expressions
    * of the token string, materialized once per (doc, token) row
    * inside one codegen'd projection and reused by all query terms'
    * dot columns; then ONE doc-keyed aggregate takes the per-term
    * maxes and their sum. Distinct (doc, token) first: max over
    * instances equals max over distincts, and the distinct pass
    * halves the md5 work on repetitive corpora. Query-side vectors
    * are driver-computed literals (plan constants — the CMS/PQ
    * lesson). */
  def maxSimQ(docs: DataFrame,
      terms: Seq[String] = Seq("data", "query", "engine", "fast"),
      dims: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.Md5Bits.register(spark)
    def md60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val qvecs: Map[String, Array[Long]] = terms.map(t =>
      t -> Array.tabulate(dims)(j => md60(s"e:$t:$j") % 2001L - 1000L)).toMap
    // per-doc token dedup IN-ROW (array_distinct before the explode):
    // the former tokensOf(docs).distinct() was a doc-keyed exchange
    // whose few-MB output AQE coalesced to ONE partition, serializing
    // the 16-md5-per-row embedding projection below onto a single core
    // (measured: one 784 ms single-task job at sf0.1). distinct over
    // (doc_id, token) IS per-doc distinct — doc_id rides every row —
    // so the in-row spelling removes the exchange outright (guide §2.4)
    // and the md5 work stays on the scan's partitioning.
    val tok = graft.sources.Tables.fanout(docs)
      .select(col("doc_id"),
        explode(array_distinct(filter(toks(docs), t => t =!= ""))).as("token"))
    val withVd = tok.select(
      col("doc_id") +: col("token") +: (0 until dims).map(j =>
        (call_function(graft.functions.Md5Bits.FnName,
          concat(lit("e:"), col("token"), lit(s":$j")), lit(0), lit(15))
          % 2001L - 1000L).as(s"vd$j")): _*)
    val withDots = withVd.select(
      col("doc_id") +: terms.map(t =>
        (0 until dims).map(j => col(s"vd$j") * lit(qvecs(t)(j)))
          .reduce(_ + _).as(s"dot_$t")): _*)
    withDots.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct_tokens"),
        terms.map(t => max(col(s"dot_$t")).as(s"max_$t")): _*)
      .select(col("doc_id"), col("n_distinct_tokens"),
        terms.map(t => col(s"max_$t")).reduce(_ + _).as("maxsim"))
  }

  def brierQ(docs: DataFrame): DataFrame =
    confidenceMicro(docs)
      .select((lit(1000000L) * col("label") - col("p_micro")).as("gap"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("gap") * col("gap")).as("sq_sum"))
      .select(col("n_docs"), col("sq_sum"),
        round(col("sq_sum").cast("double") / (lit(1e12) * col("n_docs")), 6)
          .as("brier"))

  /** Two-sample Kolmogorov–Smirnov test between per-slice value
    * distributions (q_ks_test) — the NONPARAMETRIC drift detector next
    * to [[TextOps.sourceDriftQ]]'s vocabulary JS: did source B's
    * document-length distribution shift against source A's?
    * KS = max_x |F_a(x) − F_b(x)| over the pooled empirical CDFs, with
    * the classic large-sample α = 0.05 threshold
    * c(α)·√((n_a+n_b)/(n_a·n_b)), c(0.05) = 1.358, and the reject
    * boolean computed on the 6-dp ROUNDED statistic and threshold so
    * the cut is oracle-stable.
    *
    * Scale shape: values collapse to the (slice, x) count grid first
    * (integer-valued metrics like n_chars are already a grid; bin
    * continuous scores upstream), each grid row fans out against the
    * |slices|-row broadcast so every pair sees the UNION of x values
    * (absent side contributes 0 — the full-outer-per-pair this
    * replaces), and the CDF window sorts only |pairs|·|grid| rows, never
    * documents. One corpus-sized count shuffle; everything after is
    * grid-bounded. */
  def ksTestQ(docs: DataFrame, sliceCol: String = "source",
      valueCol: String = "n_chars"): DataFrame = {
    // the grid is read twice (the pair fan-out's two inputs) — the
    // tracked cache keeps the corpus at one scan. Null x is dropped
    // on BOTH sides of the gate (round-14 ADVICE): an empirical CDF
    // has no place for "no value", and Spark's NULLS FIRST window
    // order vs DuckDB's NULLS LAST sum() OVER default would otherwise
    // silently diverge the cumulative counts on a nullable valueCol.
    // compact-tracked (r19): the grid is |slices|·|distinct x| — both
    // cache readers (fan-out side and broadcast slice list) paid a
    // 32-task wave over a metadata-sized frame; gate keeps parallelism
    // if the grid outgrows it
    val vx = PipelineCaches.trackCompact(graft.sources.Tables.fanout(docs)
      .select(col(sliceCol).as("slice"), col(valueCol).cast("long").as("x"))
      .filter(col("x").isNotNull)
      .groupBy(col("slice"), col("x")).agg(count(lit(1)).as("c")))
    // fan each grid row out against every OTHER slice (|slices| rows
    // broadcast), emitting the unordered pair with this row's count on
    // its own side — per (pair, x) the aggregate then holds both sides'
    // counts, 0 where a side never saw x
    val pairRows = vx
      .join(broadcast(vx.select(col("slice").as("other")).distinct()),
        col("slice") =!= col("other"))
      .select(least(col("slice"), col("other")).as("slice_a"),
        greatest(col("slice"), col("other")).as("slice_b"),
        col("x"),
        when(col("slice") < col("other"), col("c")).otherwise(lit(0L)).as("ca"),
        when(col("slice") > col("other"), col("c")).otherwise(lit(0L)).as("cb"))
      .groupBy(col("slice_a"), col("slice_b"), col("x"))
      .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
    // ONE pair-keyed sort serves both window shapes: the running CDF
    // counts and the per-pair totals (every (slice, x) grid row of a
    // slice reaches each of its pairs, so the partition-total of ca IS
    // n_a) — no separate sizes aggregate, no enrichment joins
    val w = Window.partitionBy(col("slice_a"), col("slice_b"))
      .orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("slice_a"), col("slice_b"))
    val ks = pairRows
      .withColumn("cum_a", sum(col("ca")).over(w))
      .withColumn("cum_b", sum(col("cb")).over(w))
      .withColumn("n_a", sum(col("ca")).over(wAll))
      .withColumn("n_b", sum(col("cb")).over(wAll))
      .groupBy(col("slice_a"), col("slice_b"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        max(abs(col("cum_a").cast("double") / col("n_a").cast("double") -
          col("cum_b").cast("double") / col("n_b").cast("double"))).as("d"))
    ks.select(col("slice_a"), col("slice_b"), col("n_a"), col("n_b"),
        round(col("d"), 6).as("ks_stat"),
        round(lit(1.358) * sqrt((col("n_a") + col("n_b")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")), 6).as("ks_crit_05"))
      .withColumn("differs", col("ks_stat") > col("ks_crit_05"))
  }
}
