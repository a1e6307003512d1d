package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Edit-distance fuzzy match ([[Dedup.fuzzyMatch]]): verify exactness
  * (cap fallback, length filter), asymmetric probe→match semantics, and
  * the unicode contract the ASCII-only oracle cannot check. */
class FuzzyMatchSpec extends SparkSuite {

  import spark.implicits._

  private def docsDf = spark.read.parquet(s"$sf/documents.parquet")

  test("fuzzy match: no self-matches, sims bounded, verbatim copy found at distance 0") {
    val m = Dedup.fuzzyMatch(docsDf.filter(col("doc_id") < 50), docsDf).cache()
    assert(m.filter(col("probe_id") === col("match_id")).isEmpty)
    assert(m.filter(col("edit_sim") < 0.8 || col("edit_sim") > 1.0).isEmpty)

    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha  beta gamma delta epsilon zeta"), // whitespace-normalized dup
      (3L, "alpha beta gamma delta epsilon zetb"), // one substitution
      (4L, "totally different words with no shared vocabulary at all"))
      .toDF("doc_id", "text")
    val got = Dedup.fuzzyMatch(base.filter($"doc_id" === 1), base)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got(2L) == 0L, "normalized verbatim copy must score edit_dist 0")
    assert(got(3L) == 1L, "single substitution must score edit_dist 1")
    assert(!got.contains(4L))
  }

  test("cap fallback is exact: capped misses re-arbitrate with the full DP") {
    // Two long docs with IDENTICAL token sets (guaranteed banded
    // candidates: identical sets → identical signatures) whose texts are
    // a rotation — edit distance far above a tiny cap. With capChars = 5
    // and a low threshold, certainLen = 5/(1-0.05) ≈ 5 < maxLen, so the
    // capped -1 cannot reject and the full DP must produce the exact
    // distance.
    val toks = (0 until 80).map(i => s"w$i")
    val a = toks.mkString(" ")
    val b = (toks.drop(40) ++ toks.take(40)).mkString(" ")
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val got = Dedup.fuzzyMatch(docs.filter($"doc_id" === 1), docs,
      simThreshold = 0.05, capChars = 5)
      .filter($"match_id" === 2).collect()
    assert(got.length == 1, "rotated twin must survive the low threshold")
    // same FULL normalization as editVerify (incl. the whitespace
    // collapse) so the reference distance stays valid if the fixture
    // ever gains repeated whitespace
    def normed(c: org.apache.spark.sql.Column) =
      lower(trim(regexp_replace(c, "\\s+", " ")))
    val expected = docs.as("x").filter($"doc_id" === 1)
      .crossJoin(docs.as("y").filter(col("y.doc_id") === 2))
      .select(levenshtein(normed(col("x.text")), normed(col("y.text"))))
      .head.getInt(0).toLong
    assert(got.head.getAs[Long]("edit_dist") == expected,
      s"fallback DP must match the uncapped distance $expected")
    assert(expected > 5L, "fixture must actually exceed the cap")
  }

  test("unicode contract: the verify is code-point Levenshtein (á→a is ONE edit)") {
    // DuckDB's levenshtein counts BYTES (á→a = 2 there); the declared
    // oracle is therefore restricted to the ASCII fixture and the
    // engine-side semantics — one edit per code point — is pinned here,
    // on the exact builtin fuzzyMatch's verify stage calls.
    val d = spark.range(1)
      .select(levenshtein(lit("más"), lit("mas")).as("d")).head.getInt(0)
    assert(d == 1)
    val capped = spark.range(1)
      .select(levenshtein(lit("más"), lit("mas"), 3).as("d")).head.getInt(0)
    assert(capped == 1, "capped form must agree on code-point semantics")
  }

  test("index-backed fuzzy lookup equals the batch form on a re-keyed delta") {
    val docs = docsDf.select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    val delta = docs.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("fuzzy_idx").toString
    Dedup.writeNearDupIndex(corpus, dir)
    val batch = Dedup.fuzzyMatch(delta, corpus, simThreshold = 0.5).cache()
    val incr = Dedup.fuzzyMatchAgainstIndex(spark, delta, dir, corpus,
      simThreshold = 0.5).cache()
    assert(batch.count() > 0, "fixture must produce at least one fuzzy match")
    assert(batch.exceptAll(incr).isEmpty && incr.exceptAll(batch).isEmpty,
      "index lookup and batch pipeline must return identical matches")
    // the pruned read must actually prune: PartitionFilters on bkt
    val plan = Dedup.fuzzyMatchAgainstIndex(spark, delta, dir, corpus)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bkt"), plan)
    batch.unpersist(); incr.unpersist()
    // ingestion write half: after appending new docs, a later probe
    // finds them through the same index (text table grows in step)
    import spark.implicits._
    val appended = Seq((200001L, "entirely fresh appended document text"))
      .toDF("doc_id", "text")
    Dedup.appendToNearDupIndex(appended, dir)
    val probe = Seq((300001L, "entirely fresh appended document text"))
      .toDF("doc_id", "text")
    val found = Dedup.fuzzyMatchAgainstIndex(spark, probe, dir,
      corpus.unionByName(appended)).collect()
    assert(found.exists(r => r.getLong(0) == 300001L && r.getLong(1) == 200001L),
      s"appended doc must be probe-visible, got ${found.toSeq}")
    PipelineCaches.release(spark)
  }

  test("index-backed fuzzy lookup never returns a forgotten doc") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "a completely separate sentence about parquet files and spark jobs"),
      (3L, "yet another document describing incremental index maintenance loops"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("fuzzy_forget").toString
    Dedup.writeNearDupIndex(corpus, dir)
    Dedup.forgetFromNearDupIndex(spark, dir, Seq(2L).toDF("doc_id"))
    // verbatim copies of a forgotten and of a live doc; the caller's
    // text table still holds the forgotten doc's text
    val probes = corpus.filter($"doc_id" =!= 1L)
      .select(($"doc_id" + 100L).as("doc_id"), $"text")
    val got = Dedup.fuzzyMatchAgainstIndex(spark, probes, dir, corpus)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    PipelineCaches.release(spark)
    assert(got == Set(103L -> 3L), s"forgotten doc 2 must not match, got $got")
  }

  test("deployment: doc_id-bucketed corpus text feeds the verify join with no corpus-side exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // editVerify's scaladoc prescribes bucketing the corpus (doc_id,
    // text) table at deployment so the verify's text join is
    // exchange-free on the corpus side — the same claim NearDupIndexSpec
    // pins for the toksets dictionary. Broadcasts off: SMJ is the mode
    // where the exchange matters (the probe side keeps its explicit
    // broadcast hint regardless).
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val docs = s.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    graft.sources.Bucketing.writeBucketed(docs, "bkt_fuzzy_text", "doc_id", 4)
    try {
      val corpus = s.table("bkt_fuzzy_text")
      val probes = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
      val q = Dedup.fuzzyMatch(probes, corpus, simThreshold = 0.5)
      // the verify ends in a cache barrier (see editVerify) — the join
      // lives in the cached child plan, so search through it
      def expand(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] =
        p.collect {
          case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            expand(s.relation.cachedPlan)
        }.flatten :+ p
      val plans = expand(q.queryExecution.executedPlan)
      val smj = plans.flatMap(_.collect { case j: SortMergeJoinExec => j })
      assert(smj.nonEmpty,
        "text verify must plan as SMJ with broadcasts off:\n" +
          plans.map(_.toString).mkString("\n").take(900))
      val corpusSide = smj.head.right
      assert(corpusSide.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        "bucketed corpus text must reach the verify SMJ with no Exchange:\n" +
          corpusSide.toString.take(900))
      // and the plan is still correct: identical matches to the
      // unbucketed batch run
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val plain = Dedup.fuzzyMatch(probes, docs, simThreshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == plain && got.nonEmpty)
    } finally {
      s.sql("DROP TABLE IF EXISTS bkt_fuzzy_text")
    }
  }

  test("probe-sized plan: probe bands and texts broadcast, corpus never builds a hash side") {
    val plan = Dedup.fuzzyMatch(docsDf.filter(col("doc_id") < 10), docsDf)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"probe band + probe text joins must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }
}
