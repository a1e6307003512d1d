package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Winnowing fingerprints (q_winnow): the scheme's coverage guarantee,
  * pair detection, boilerplate df-cap, and the shuffle-free shape of
  * the per-doc selection. */
class WinnowSpec extends SparkSuite {

  private def docsDF(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("coverage guarantee: a shared run of k+w-1 tokens shares >= 1 fingerprint") {
    // k=4, w=5: any common run of 8 tokens must contribute a common
    // selected hash — that is the point of winnowing over global min
    val run = (0 until 8).map(i => s"shared$i").mkString(" ")
    val a = s"alpha beta gamma delta $run epsilon zeta"
    val b = s"one two $run three four five six seven"
    val fps = Dedup.winnowFingerprints(docsDF(Seq((1L, a), (2L, b))))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val common = fps.filter(_._1 == 1L).map(_._2).toSet
      .intersect(fps.filter(_._1 == 2L).map(_._2).toSet)
    assert(common.nonEmpty, "shared 8-token run yielded no common fingerprint")
  }

  test("disjoint-vocabulary docs share no fingerprints; pairs finds embedded dups") {
    val quick = (0 until 30).map(i => s"q$i").mkString(" ")
    val rows = Seq(
      1L -> s"$quick tail one two three",
      2L -> s"prefix words here $quick",       // 30-token run shared with 1
      3L -> (0 until 40).map(i => s"z$i").mkString(" ")) // disjoint vocab
    val pairs = Dedup.winnowPairs(docsDF(rows))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)),
      s"expected exactly the embedded-dup pair, got ${pairs.toSeq}")
    assert(pairs.head._3 >= 2, s"long shared run should share >= 2 fps: ${pairs.head}")
  }

  test("df cap drops boilerplate fingerprints: 6 identical docs, maxDf=5 -> no pairs") {
    val text = (0 until 25).map(i => s"b$i").mkString(" ")
    val rows = (1L to 6L).map(_ -> text)
    assert(Dedup.winnowPairs(docsDF(rows), maxDf = 5).count() == 0)
    // and with the cap above the multiplicity all 15 pairs appear
    assert(Dedup.winnowPairs(docsDF(rows), maxDf = 6).count() == 15)
  }

  test("per-doc selection has no keyed shuffle (only the fanout round-robin)") {
    val fps = Dedup.winnowFingerprints(
      graft.sources.Tables.documents(spark, sf))
    val plan = fps.queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning") && !plan.contains("rangepartitioning"),
      plan.take(800))
    assert(fps.count() > 0)
  }

  test("q_winnow on the fixture: pair sides are distinct docs, n_shared >= 2") {
    val q = Dedup.winnowPairs(graft.sources.Tables.documents(spark, sf))
    val rows = q.collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(r => r.getLong(2) >= 2))
    graft.ops.PipelineCaches.release(spark)
  }

  test("index lookup == batch winnowPairs over the union, restricted to cross pairs") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    val delta = docs.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft_win_idx").toString
    Dedup.writeWinnowIndex(corpus, dir)
    val got = Dedup.winnowAgainstIndex(spark, delta, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    graft.ops.PipelineCaches.release(spark)
    // batch over the union orders doc_a < doc_b, so a cross pair lands
    // as (corpus, delta); the lookup reports (delta, corpus) — flip.
    // The df cap counts the union on both sides by construction.
    val want = Dedup.winnowPairs(corpus.unionByName(delta))
      .filter(col("doc_a") < 100000L && col("doc_b") >= 100000L)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2))).toSet
    graft.ops.PipelineCaches.release(spark)
    assert(got == want, s"lookup $got vs batch-restricted $want")
    assert(got.nonEmpty || want.isEmpty)
    // forced past the footprint gate, the fps read is pruned to the
    // delta's buckets and answers the same
    forced("large") { s =>
      val pruned = Dedup.winnowAgainstIndex(s, delta, dir)
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [bkt"), plan)
      assert(pruned.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == got)
    }
    graft.ops.PipelineCaches.release(spark)
  }

  test("empty-corpus index: write succeeds, lookup returns empty (schema'd read)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_win_empty").toString
    Dedup.writeWinnowIndex(empty, dir)
    val probe = Seq((900L, "some probe text with enough tokens here"))
      .toDF("doc_id", "text")
    assert(Dedup.winnowAgainstIndex(spark, probe, dir, minShared = 1).isEmpty)
    graft.ops.PipelineCaches.release(spark)
  }
}
