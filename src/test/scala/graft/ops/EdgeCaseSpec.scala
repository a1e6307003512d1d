package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Edge-case pins for the text/dedup operators: degenerate documents
  * must degrade gracefully, not throw or emit garbage rows. */
class EdgeCaseSpec extends SparkSuite {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("empty and whitespace-only docs: no tokens, no signature, no pairs") {
    val d = docs((1L, ""), (2L, "   "), (3L, "\t\n"), (4L, "real words here"))
    assert(Dedup.tokens(d).filter(col("doc_id") =!= 4).isEmpty)
    assert(Dedup.signatures(Dedup.tokArrays(d)).count() == 1)
    assert(Dedup.nearDupPairs(d).isEmpty)
    assert(Dedup.simhashPairs(d).isEmpty)
  }

  test("single-token and sub-shingle docs: ngram pipeline skips them") {
    val d = docs((1L, "one"), (2L, "two words"), (3L, "a b c d e"), (4L, "a b c d e"))
    val pairs = Dedup.ngramJaccardPairs(d).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((3L, 4L)))
    assert(pairs.head.getDouble(2) == 1.0)
  }

  test("unicode text tokenizes and hashes deterministically") {
    val d = docs((1L, "héllo wörld 你好 мир"), (2L, "HÉLLO wörld 你好 мир"))
    val toks = Dedup.tokens(d)
    // lower() folds the accented/cyrillic cases → identical token sets
    assert(toks.filter(col("doc_id") === 1).count() == 4)
    val pairs = Dedup.nearDupPairs(d, threshold = 0.99).collect()
    assert(pairs.length == 1 && pairs.head.getDouble(2) == 1.0)
  }

  test("exact dedup treats normalized-whitespace variants as duplicates") {
    val d = docs((1L, "a  b\tc"), (2L, " a b c "), (3L, "a b d"))
    val out = Dedup.exactDedup(d).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 2L), (3L, 1L)))
  }

  test("round-5 ops degrade gracefully on empty/degenerate input") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // redaction on empty input: empty out, schema intact
    val r = TextOps.redactPii(empty)
    assert(r.isEmpty && r.columns.toSeq ==
      Seq("doc_id", "text", "n_email", "n_ip", "n_phone", "n_id"))
    // range join: empty points or empty intervals → empty, not an error
    val pts = Seq((1L, 5.0)).toDF("pid", "p")
    val iv = Seq((1L, 0.0, 10.0)).toDF("iid", "lo", "hi")
    assert(Relational.rangeJoinBinned(pts.limit(0), iv, "p", "lo", "hi", 1.0).isEmpty)
    assert(Relational.rangeJoinBinned(pts, iv.limit(0), "p", "lo", "hi", 1.0).isEmpty)
    // split join: empty fact and empty dim
    assert(Skew.skewSplitJoin(pts.limit(0).toDF("k", "v"),
      iv.limit(0).select(col("iid").as("k"), col("lo").as("d")), "k").isEmpty)
    assert(Skew.skewSplitJoin(pts.toDF("k", "v"),
      iv.limit(0).select(col("iid").as("k"), col("lo").as("d")), "k").isEmpty)
  }

  test("quality scores handle short docs without division blowups") {
    val q = TextOps.qualityScores(docs((1L, "x"), (2L, "the fox"))).collect()
    assert(q.forall(r => !r.getDouble(3).isInfinite)) // avg_tok_len
    assert(q.forall(r => r.getLong(2) >= 1))          // n_tokens
  }

  test("quality scores of an EMPTY doc: null punct_ratio, no ANSI crash") {
    val q = TextOps.qualityScores(docs((1L, ""), (2L, "the quick fox"))).cache()
    val empty = q.filter(col("doc_id") === 1).head()
    assert(empty.getAs[Long]("n_chars") == 0L)
    assert(empty.isNullAt(empty.fieldIndex("punct_ratio")),
      "empty doc must yield null punct_ratio, not throw")
    assert(q.filter(col("doc_id") === 2).head().getAs[Long]("keep") == 0L)
  }

  test("zero-norm embeddings are dropped, not divided by") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(0f, 0f, 0f, 0f)), // zero vector: must be filtered
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0.9f, 0.1f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val topk = SimSearch.cosineTopK(emb, nProbes = 2, k = 3).collect()
    assert(topk.nonEmpty)
    assert(!topk.exists(r => r.getLong(0) == 0L || r.getLong(1) == 0L),
      "zero-norm vector must appear neither as probe nor neighbor")
    val pairs = SimSearch.embedNearDup(emb, bits = 2, threshold = 0.5).collect()
    assert(!pairs.exists(r => r.getLong(0) == 0L || r.getLong(1) == 0L))
  }

  test("malformed CSV lines are dropped, not fatal (Job B parser)") {
    import spark.implicits._
    val lines = Seq(
      "1, 100, 5, pv, 1511658000", // good
      "",                          // blank
      "not,a,number,pv,xyz",       // bad casts
      "1,2,3",                     // wrong arity
      "2, 200, 5, buy, 1511658001" // good
    ).toDF("value")
    val parsed = graft.streaming.HotItemAnalysisJob.parseCsv(lines).collect()
    assert(parsed.length == 2)
    assert(parsed.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("multimodal payload of empty text: zero bytes, empty frames") {
    val row = MultiModal.payloadFeatures(docs((1L, ""))).head()
    assert(row.getAs[Long]("n_bytes") == 0L)
    assert(row.getAs[String]("frame_0") == "")
  }

  test("round-3 operators degrade gracefully on an EMPTY corpus") {
    val empty = docs()
    assert(TextOps.topTokens(empty).isEmpty)
    assert(Sampling.hashSplit(empty).isEmpty)
    assert(Sampling.leakFreeSplit(empty).isEmpty)
    assert(Sampling.sampleByHash(empty, 0.5).isEmpty)
    assert(Sampling.splitQ(empty).isEmpty)
    assert(MultiModal.resize(empty, 64, 48).isEmpty)
    // index round-trip over an empty corpus: write succeeds, querying a
    // non-empty delta against it yields zero pairs (not a read error)
    val dir = java.nio.file.Files.createTempDirectory("empty_idx").toString
    Dedup.writeNearDupIndex(empty, dir)
    assert(Dedup.nearDupsAgainstIndex(spark, docs((1L, "some words")), dir).isEmpty)
  }

  test("round-6 operators degrade gracefully on EMPTY or null-text input") {
    import org.apache.spark.sql.functions.lit
    val empty = docs()
    assert(Dedup.fuzzyMatch(empty, empty).isEmpty)
    assert(Dedup.fuzzyMatch(empty, docs((1L, "a b"))).isEmpty)
    // probe == its only corpus twin: self-match excluded, result empty
    assert(Dedup.fuzzyMatch(docs((1L, "a b")), docs((1L, "a b"))).isEmpty)
    // null text never reaches the DP (no tokens → no bands → no candidate)
    val withNull = docs((1L, null), (2L, "real words here"))
    assert(Dedup.fuzzyMatch(withNull, withNull).isEmpty)
    assert(Sampling.stratifiedSampleByHash(
      empty.withColumn("lang", lit("en")), "lang", Map("en" -> 0.5)).isEmpty)
    assert(Sampling.assignShards(empty).isEmpty)
    assert(Sampling.shardQ(empty).isEmpty)
    // a NULL stratum is a stratum like any other: it draws at the
    // default fraction instead of null-propagating out of the sample
    val withNullLang = docs((1L, "a"), (2L, "b"), (3L, "c"))
      .withColumn("lang", lit(null).cast("string"))
    assert(Sampling.stratifiedSampleByHash(
      withNullLang, "lang", Map("en" -> 0.0), defaultFraction = 1.0).count() == 3)
  }

  test("resize of an empty payload yields an empty payload, not a crash") {
    val r = MultiModal.resize(docs((1L, "")), 64, 48).head()
    assert(r.payload.length == 0 && r.width == 64)
  }

  test("round-5 operators degrade gracefully on an EMPTY corpus") {
    val empty = docs()
    // tf side empty → scoring join empty (the one-row corpus count
    // never meets a tf row, so log(0/df) is never evaluated)
    assert(TextOps.tfidfQ(empty).isEmpty)
    // no centroids can be sampled → no assignments, empty profile
    import org.apache.spark.sql.functions.{col, lit}
    val emptyEmb = spark.range(0)
      .select(col("id").as("vec_id"),
        lit(null).cast("array<float>").as("embedding"))
    assert(SimSearch.clusterProfile(emptyEmb).isEmpty)
  }

  test("round-7 operators degrade gracefully on EMPTY or degenerate input") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val empty = docs()
    // span dedup: empty corpus → empty output in BOTH gate branches
    assert(Dedup.spanDedup(empty).isEmpty)
    assert(Dedup.spanDedup(empty, maxFrequentBroadcast = 0).isEmpty)
    // an EMPTY corpus's span index still writes (no footer to infer —
    // the explicit reader schema covers it) and cleans a delta as a
    // no-boilerplate pass-through
    val dir = java.nio.file.Files.createTempDirectory("span_idx_empty").toString
    Dedup.writeSpanIndex(empty, dir, w = 4)
    val out = Dedup.spanDedupAgainstIndex(spark, docs((1L, "a b c d")), dir).head
    assert(out.getLong(2) == 1L && out.getString(3) == "a b c d")
    // relational CDC/profile ops on an empty event log: empty, no throw
    val noEvents = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(Relational.upsertQ(noEvents).isEmpty)
    assert(Relational.scd2Q(noEvents).isEmpty)
    assert(Relational.histQ(noEvents).isEmpty)
    assert(Relational.anomalyQ(noEvents).isEmpty)
    // zero-variance group: z-score NULL (guarded division), never flagged
    val flat = Seq((1L, new java.sql.Timestamp(0), 1L, "pv", 5.0),
      (2L, new java.sql.Timestamp(1), 2L, "pv", 5.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val an = Relational.anomalyQ(flat).collect()
    assert(an.length == 2 && an.forall(r => r.isNullAt(3) && r.isNullAt(4)))
    // a single-version key is its own current SCD2 interval
    val one = Relational.scd2Q(flat.filter(col("event_id") === 1L)).head
    assert(one.isNullAt(5) && one.getLong(6) == 1L)
  }

  test("exact percentiles degrade gracefully: empty frame and single-row groups, both forms") {
    import spark.implicits._
    val specs = Seq("x" -> Seq(0.5 -> "med", 0.95 -> "p95"))
    val empty = Seq.empty[(String, java.lang.Double)]
    assert(forced("large") { s =>
      import s.implicits._
      Relational.exactPercentiles(empty.toDF("g", "x"), "g", specs).isEmpty
    })
    assert(Relational.exactPercentilesBySort(empty.toDF("g", "x"), "g", specs).isEmpty)
    // a 1-row group: pos = 0 for every percentile → lo == hi == 0, the
    // value itself comes back untouched in both forms
    val solo = Seq(("s", 7.0), ("t", 1.0), ("t", 3.0))
    def m(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val sel = m(forced("large") { s =>
      import s.implicits._
      Relational.exactPercentiles(solo.toDF("g", "x"), "g", specs).collect()
    })
    val srt = m(Relational.exactPercentilesBySort(solo.toDF("g", "x"), "g", specs).collect())
    assert(sel("s") == ((7.0, 7.0)) && srt("s") == ((7.0, 7.0)))
    assert(sel == srt, s"forms disagree: $sel vs $srt")
    PipelineCaches.release(spark)
  }

  test("event-analytics and vocab/norm operators degrade gracefully on EMPTY input") {
    import spark.implicits._
    val noEvents = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(EventAnalytics.sessionize(noEvents).isEmpty)
    assert(EventAnalytics.funnel(noEvents).isEmpty)
    assert(EventAnalytics.retention(noEvents).isEmpty)
    // a single event is a complete one-event session and a day-0 cohort
    val lone = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 7L, "view", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val s = EventAnalytics.sessionize(lone).head
    assert(s.getLong(1) == 1L && s.getLong(4) == 1L)
    val r = EventAnalytics.retention(lone).head
    assert(r.getInt(1) == 0 && r.getLong(2) == 1L)
    // funnel with only a later-stage event: stage 1 unreached → stage_reached 0
    val clickOnly = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 7L, "click", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val f = EventAnalytics.funnel(clickOnly).head
    assert(f.isNullAt(1) && f.isNullAt(2) && f.getLong(4) == 0L)
    // vocab of an empty / all-whitespace corpus: zero rows, no division blowup
    assert(TextOps.vocabQ(docs(), k = 10).isEmpty)
    assert(TextOps.vocabQ(docs((1L, "   ")), k = 10).isEmpty)
    PipelineCaches.release(spark)
    // zero vector normalizes to itself (no ANSI divide-by-zero), empty frame passes
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(SimSearch.embedNormQ(noVecs).isEmpty)
    val zero = Seq((1L, Array(0f, 0f, 0f))).toDF("vec_id", "embedding")
    val z = SimSearch.embedNormQ(zero).head
    assert(z.getDouble(2) == 0.0 && z.getDouble(3) == 0.0)
  }

  test("round-7-close operators degrade gracefully on EMPTY or degenerate input") {
    import spark.implicits._
    val noEvents = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(EventAnalytics.resampleDaily(noEvents).isEmpty)
    // one event → a one-day series carrying that event
    val lone = Seq((1L, java.sql.Timestamp.valueOf("2024-01-05 10:00:00"), 7L, "view", 2.5))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val rs = EventAnalytics.resampleDaily(lone).collect()
    assert(rs.length == 1 && rs.head.getLong(2) == 1L && rs.head.getDouble(3) == 2.5)
    // empty / whitespace-only corpora: no slices, no pairs, no bigrams
    val srcDocs = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    assert(TextOps.entropyQ(srcDocs).isEmpty)
    assert(TextOps.sourceOverlapQ(srcDocs).isEmpty)
    assert(TextOps.pmiQ(docs()).isEmpty)
    PipelineCaches.release(spark)
    // single-token slice: entropy 0, normalized 0 by the ln(1) guard
    val one = Seq((1L, "word word word", "s1")).toDF("doc_id", "text", "source")
    val e = TextOps.entropyQ(one).head
    assert(e.getDouble(3) == 0.0 && e.getDouble(4) == 0.0)
    // disjoint vocabularies: no overlap row (inner join semantics)
    val disjoint = Seq((1L, "aa bb", "s1"), (2L, "cc dd", "s2"))
      .toDF("doc_id", "text", "source")
    assert(TextOps.sourceOverlapQ(disjoint).isEmpty)
    PipelineCaches.release(spark)
    // identical vocabularies: jaccard exactly 1
    val same = Seq((1L, "aa bb", "s1"), (2L, "bb aa", "s2"))
      .toDF("doc_id", "text", "source")
    val ov = TextOps.sourceOverlapQ(same).head
    assert(ov.getLong(2) == 2L && ov.getDouble(3) == 1.0)
    PipelineCaches.release(spark)
    // pmi: a bigram below minCount never surfaces
    val rare = Seq((1L, "x y")).toDF("doc_id", "text")
    assert(TextOps.pmiQ(rare, minCount = 2).isEmpty)
    PipelineCaches.release(spark)
  }

  test("round-10 operators degrade gracefully on EMPTY or degenerate input") {
    import spark.implicits._
    // interval-overlap join: empty sides and all-inverted sides → empty
    val a = Seq((1L, 0.0, 10.0)).toDF("aid", "a_lo", "a_hi")
    val b = Seq((1L, 5.0, 15.0)).toDF("bid", "b_lo", "b_hi")
    assert(Relational.intervalOverlapJoinBinned(
      a.limit(0), b, "a_lo", "a_hi", "b_lo", "b_hi", 1.0).isEmpty)
    assert(Relational.intervalOverlapJoinBinned(
      a, b.limit(0), "a_lo", "a_hi", "b_lo", "b_hi", 1.0).isEmpty)
    val inv = Seq((1L, 9.0, 2.0)).toDF("bid", "b_lo", "b_hi")
    assert(Relational.intervalOverlapJoinBinned(
      a, inv, "a_lo", "a_hi", "b_lo", "b_hi", 1.0).isEmpty)
    // winnowing: empty corpus, whitespace-only and sub-k docs excluded;
    // a doc with >= k tokens but < w grams still emits one fingerprint
    val lm = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    assert(Dedup.winnowFingerprints(lm.drop("lang")).isEmpty)
    assert(Dedup.winnowPairs(lm.drop("lang")).isEmpty)
    val short = Seq((1L, "   "), (2L, "a b c"), (3L, "a b c d e"))
      .toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(short).collect()
    assert(fps.forall(_.getLong(0) == 3L) && fps.length == 1)
    PipelineCaches.release(spark)
    // ngram LM: empty corpus → no rows; corpus with NO train-lang docs
    // still scores every >= 2-token doc at the uniform <unk> floor
    assert(Scoring.ngramLmQ(lm).isEmpty)
    val noTrain = Seq((1L, "uno dos tres", "es"), (2L, "solo", "es"))
      .toDF("doc_id", "text", "lang")
    val sc = Scoring.ngramLmQ(noTrain).collect()
    // the 1-token doc drops; the scored doc sits exactly at -ln(1/(V+1))
    // with V = 0 -> ln 1 = 0
    assert(sc.map(_.getLong(0)).toSeq == Seq(1L))
    assert(math.abs(sc.head.getDouble(3)) < 1e-9, sc.head.toString)
    PipelineCaches.release(spark)
    // temperature sampling: empty corpus is a contract violation, and a
    // single-stratum corpus is a no-op (rate exactly 1)
    val srcd = Seq((1L, "a", "en"), (2L, "b", "en"))
      .toDF("doc_id", "text", "lang")
    intercept[IllegalArgumentException](
      Sampling.temperatureFractions(srcd.limit(0), "lang"))
    assert(Sampling.temperatureQ(srcd).collect().head.getLong(1) == 2L)
  }

  test("round-11 operators degrade gracefully on EMPTY or degenerate input") {
    import spark.implicits._
    // kNN: fewer labeled than k -> votes from what exists, not a crash;
    // an all-probe corpus (nothing labeled) -> empty
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 7),
      (1L, Array(0.9f, 0.1f), 7)
    ).toDF("vec_id", "embedding", "label")
    val small = SimSearch.knnClassify(emb, k = 5).collect()
    assert(small.length == 1 && small.head.getLong(1) == 7L
      && small.head.getLong(2) == 1L)
    val allProbes = Seq((0L, Array(1.0f, 0.0f), 1), (10L, Array(0.5f, 0.5f), 2))
      .toDF("vec_id", "embedding", "label")
    assert(SimSearch.knnClassify(allProbes).isEmpty)
    // cell-pruned kNN: a probe alone in its cell -> absent (declared)
    assert(SimSearch.knnClassifyIvf(allProbes).isEmpty)
    PipelineCaches.release(spark)
    // weighted sampler: empty corpus and zero-length docs excluded
    val docs0 = Seq.empty[(Long, String, Long)].toDF("doc_id", "source", "n_chars")
    assert(Sampling.sampleWeightedKQ(docs0).isEmpty)
    val zlen = Seq((1L, "a", 0L), (2L, "a", 5L)).toDF("doc_id", "source", "n_chars")
    val sel = Sampling.sampleWeightedKQ(zlen).collect()
    assert(sel.length == 1 && sel.head.getLong(2) == 2L,
      "zero-weight rows are excluded from the draw")
    // outliers: singleton cells are never their own outlier (sim == mean)
    val lone = Seq((5L, Array(1.0f, 0.0f)), (6L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val flags = SimSearch.embedOutliers(lone).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(flags == Map(5L -> false, 6L -> false), flags.toString)
    // corpus report: empty corpus -> empty report, not a crash
    val d0 = Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(TextOps.corpusReportQ(d0).isEmpty)
  }

  test("round-12 operators degrade gracefully on degenerate input") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("edge12").toString
    // CMS over an empty corpus: the all-zero grid estimates every
    // probe at 0 (the sketch's own semantics — an absent token's
    // counters are zero, not missing)
    val d0 = Seq.empty[(Long, String)].toDF("doc_id", "text")
    CmsIndex.writeCmsIndex(d0, s"$tmp/cms")
    val est0 = CmsIndex.estimatesFromIndex(spark, s"$tmp/cms", Seq("x")).collect()
    assert(est0.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("x", 0L)))
    // quantile index over an empty frame: no histogram rows, no report
    val li0 = Seq.empty[(Long, Double, Double)]
      .toDF("l_orderkey", "l_quantity", "l_extendedprice")
    QuantileIndex.writeQuantileIndex(li0, s"$tmp/quant")
    assert(QuantileIndex.quantilesFromIndex(spark, s"$tmp/quant").isEmpty)
    // pageRank with no extractable transitions (all props malformed, or
    // single-event users): empty rank table, both branches
    val evNoneRows = Seq((1L, new java.sql.Timestamp(1000L), 1L, "view", 0.0, "{}"))
    val evNone = evNoneRows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(EventAnalytics.pageRankQ(evNone).isEmpty)
    PipelineCaches.release(spark)
    assert(forced("large") { s =>
      import s.implicits._
      EventAnalytics.pageRankQ(evNoneRows.toDF(evNone.columns.toSeq: _*)).isEmpty
    })
    // PQ: a corpus without the codebook id window fails LOUDLY (clean
    // requirement, not a wrong answer)
    val few = Seq((0L, Array.fill(64)(0.5f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      SimSearch.pqTopKQ(few).collect()
    }
    assert(e.getMessage.contains("codebook"))
    PipelineCaches.release(spark)
    // edge index on events with no transitions: empty fold, empty ranks
    EdgeIndex.writeEdgeIndex(evNone, s"$tmp/edges")
    assert(EdgeIndex.edgesFromIndex(spark, s"$tmp/edges").isEmpty)
    assert(EdgeIndex.pageRankFromIndex(spark, s"$tmp/edges").isEmpty)
    PipelineCaches.release(spark)
  }
  test("c4 filter battery: precedence, degenerate docs, keep math") {
    // 24 tokens -> 4 six-token lines; 18 tokens -> 3; "" -> 0 base lines
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val d = docs((0L, words(24)), (1L, ""), (2L, words(18)), (3L, words(24)))
    val out = TextOps.c4FiltersQ(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 0: 0 % 37 == 0 AND 0 % 41 == 0 -> both kill lines appended;
    // lorem_ipsum wins the declared precedence over brace
    assert(out(0L).getAs[String]("reason") == "lorem_ipsum")
    assert(out(0L).getAs[Long]("n_lines") == 6) // 4 base + lorem + brace
    assert(out(0L).getAs[Long]("keep") == 0)
    assert(out(0L).getAs[String]("cleaned_text") == "")
    // doc 1: empty text -> zero base lines (no descending-sequence trap)
    assert(out(1L).getAs[Long]("n_lines") == 0)
    assert(out(1L).getAs[String]("reason") == "too_few_lines")
    // doc 2: lines 0,1 punctuated and kept, line 2 unpunctuated -> 2 < 3
    assert(out(2L).getAs[Long]("n_kept_lines") == 2)
    assert(out(2L).getAs[String]("reason") == "too_few_lines")
    // doc 3: (3 + i) % 4 != 0 for i in {0,2,3} -> 3 kept lines -> keep;
    // cleaned text is exactly those lines joined in order
    assert(out(3L).getAs[String]("reason") == "keep")
    assert(out(3L).getAs[Long]("keep") == 1)
    val toks = words(24).split(" ")
    val line = (i: Int) => toks.slice(i * 6, i * 6 + 6).mkString(" ") + "."
    assert(out(3L).getAs[String]("cleaned_text") ==
      Seq(line(0), line(2), line(3)).mkString(" "))
  }
  test("round-12 continuation ops degrade gracefully on empty input") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextOps.c4FiltersQ(empty).isEmpty)
    assert(Sampling.curriculumQ(empty).isEmpty)
    PipelineCaches.release(spark)
    assert(Sampling.tokenBudgetQ(empty).isEmpty)
    PipelineCaches.release(spark)
    assert(PhraseIndex.phraseSearchQ(empty, Seq("a b")).isEmpty)
    assert(SftOps.prefPairsQ(empty).isEmpty)
    assert(SftOps.chatTurnsQ(empty).isEmpty)
    // leak audit on an empty corpus: both audit rows survive with zero
    // pairs and a null rate (nullif guards the division)
    val audit = Sampling.splitLeakAuditQ(empty).collect()
    PipelineCaches.release(spark)
    assert(audit.length == 2 && audit.forall(_.getLong(1) == 0L))
    assert(audit.forall(_.isNullAt(3)), "0/0 leak rate must be null, not a crash")
    // bitext with an empty pool: no candidates -> typed empty frame
    val noVecs = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    val bt = SimSearch.bitextMineQ(noVecs)
    assert(bt.isEmpty && bt.columns.toSeq ==
      Seq("probe_id", "y_id", "c_nano", "margin_nano"))
    PipelineCaches.release(spark)
  }
}
