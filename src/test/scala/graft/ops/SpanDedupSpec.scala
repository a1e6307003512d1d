package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Behavior laws for span-level corpus dedup ([[Dedup.spanDedup]]) on a
  * crafted corpus where the boilerplate is known, plus the plan pin
  * that keeps the frequency count hash-only. */
class SpanDedupSpec extends SparkSuite {
  import spark.implicits._

  // w=4 corpus: docs 1 and 2 open with the same 4-token boilerplate
  // span; doc 3 is all-unique; doc 4 is the same span twice (intra-doc
  // repeat); doc 5 contains the boilerplate TOKENS but not chunk-aligned
  private val boiler = "alpha beta gamma delta"
  private def docs = Seq(
    (1L, s"$boiler one two three four"),
    (2L, s"$boiler five six seven eight"),
    (3L, "nine ten eleven twelve"),
    (4L, s"$boiler $boiler"),
    (5L, s"pad $boiler x y z")
  ).toDF("doc_id", "text")

  test("corpus-frequent spans are removed everywhere, others survive in order") {
    val out = Dedup.spanDedup(docs, w = 4, cap = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == ((2L, 1L, "one two three four")))
    assert(out(2L) == ((2L, 1L, "five six seven eight")))
    assert(out(3L) == ((1L, 1L, "nine ten eleven twelve")))
    // intra-doc repeats count toward the cap; a fully-boilerplate doc
    // keeps its row with empty text
    assert(out(4L) == ((2L, 0L, "")))
    // chunking is positional: an unaligned copy of the boilerplate
    // tokens forms different spans and survives
    assert(out(5L)._2 == 2L)
    assert(out(5L)._3 == s"pad $boiler x y z")
  }

  test("case/whitespace normalization feeds the span hash") {
    val d = Seq(
      (1L, "Alpha  Beta gamma DELTA"),
      (2L, "alpha beta GAMMA delta")
    ).toDF("doc_id", "text")
    // both docs normalize to the same single span -> corpus count 2 -> dropped
    val out = Dedup.spanDedup(d, w = 4, cap = 2).collect()
    assert(out.forall(_.getLong(2) == 0L), out.mkString(";"))
  }

  test("no boilerplate at cap: everything survives verbatim (normalized)") {
    val out = Dedup.spanDedup(docs.filter(col("doc_id") =!= 2L && col("doc_id") =!= 4L),
      w = 4, cap = 2).collect()
    out.foreach(r => assert(r.getLong(1) == r.getLong(2), r.toString))
  }

  test("join fallback (past the broadcast gate) matches the broadcast form exactly") {
    val broadcastForm = Dedup.spanDedup(docs, w = 4, cap = 2)
    // force the degrade path: any non-empty frequent set exceeds a gate of 0
    val joinForm = Dedup.spanDedup(docs, w = 4, cap = 2, maxFrequentBroadcast = 0)
    assert(joinForm.count() == broadcastForm.count(),
      "fallback must keep fully-boilerplate docs too")
    assert(broadcastForm.exceptAll(joinForm).isEmpty &&
      joinForm.exceptAll(broadcastForm).isEmpty, "forms disagree")
    // and the fallback really is the join form: no one-row broadcast array
    val plan = Dedup.spanDedup(docs, w = 4, cap = 2, maxFrequentBroadcast = 0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(600))
  }

  test("index lifecycle: write → lookup, append promotes to frequent, compact is lossless") {
    val dir = java.nio.file.Files.createTempDirectory("span_idx").toString
    val corpus = Seq(
      (1L, s"$boiler one two three four"),
      (2L, s"$boiler five six seven eight"),
      (3L, "nine ten eleven twelve"),
      (4L, "rare span here only once")
    ).toDF("doc_id", "text")
    Dedup.writeSpanIndex(corpus, dir, w = 4)
    // meta carries the frequent-set cardinality at the build cap — the
    // one-row read that lets the incremental gate skip its eager count
    def meta() = spark.read.parquet(s"$dir/meta").first()
    assert(meta().getAs[Long]("freq_cap") == 2L)
    assert(meta().getAs[Long]("n_frequent") == 1L,
      "build must record |{boiler}| = 1 frequent span")
    // the repartition-on-bkt write contract: one file per bucket, so a
    // pruned lookup pays one footer-open per touched bucket
    physicalDir(s"$dir/spans").listFiles()
      .filter(_.getName.startsWith("bkt=")).foreach { p =>
        val n = p.listFiles().count(_.getName.endsWith(".parquet"))
        assert(n == 1, s"expected one file in ${p.getName}, got $n")
      }
    // delta: boiler span (frequent in corpus) removed; a span repeated
    // only WITHIN the delta survives — intra-delta repetition is
    // deliberately not counted (documented; the batch re-run owns it)
    val delta = Seq(
      (100L, s"$boiler fresh unique tokens here"),
      (101L, "self dup span here self dup span here")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedupAgainstIndex(spark, delta, dir, cap = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(out(100L) == ((1L, "fresh unique tokens here")))
    assert(out(101L)._1 == 2L, "intra-delta repeats must not count toward the cap")
    // the pruned read must carry a bkt partition filter. Forced onto the
    // AT-SCALE eager path: cap=3 mismatches the meta cap (so the
    // resident-set fast path cannot answer) and a forced-large session
    // skips the small-index full-read gate
    val plan = forced("large")(s => Dedup.spanDedupAgainstIndex(s, delta, dir, cap = 3)
      .queryExecution.executedPlan.toString)
    assert(plan.contains("PartitionFilters: [") && plan.contains("bkt"),
      "spans scan must be partition-pruned:\n" + plan.take(700))
    // and the default (meta-fresh) path answers from the resident
    // boilerplate set: NO scan of the index directory in the plan
    val fastPlan = Dedup.spanDedupAgainstIndex(spark, delta, dir, cap = 2)
      .queryExecution.executedPlan.toString
    assert(!fastPlan.contains(dir),
      "steady-state clean must not re-read the index:\n" + fastPlan.take(700))
    // append: 'rare span here only' had c=1; a second occurrence folded
    // in from a delta promotes it to frequent for LATER deltas
    Dedup.appendToSpanIndex(
      Seq((200L, "rare span here only again")).toDF("doc_id", "text"), dir)
    // append invalidates the stored cardinality (a span may have crossed
    // the cap — here one actually did); readers fall back to the eager
    // count until compaction settles the totals
    assert(meta().getAs[Long]("n_frequent") == -1L,
      "append must mark the frequent cardinality stale")
    val promoted = Dedup.spanDedupAgainstIndex(spark,
      Seq((300L, "rare span here only and padding tail")).toDF("doc_id", "text"),
      dir, cap = 2).head
    assert(promoted.getLong(2) == 1L && promoted.getString(3) == "and padding tail",
      s"append must promote the span: $promoted")
    // compact: per-bucket partial counts collapse losslessly
    val before = Dedup.spanDedupAgainstIndex(spark, delta, dir, cap = 2).collect()
      .map(_.toString).sorted.toSeq
    Dedup.compactSpanIndex(spark, dir)
    // compaction restores the cardinality: boiler + the promoted span
    assert(meta().getAs[Long]("n_frequent") == 2L,
      "compaction must recount the frequent set")
    // this lookup rides the known-count gate (meta fresh); `before` rode
    // the eager count (meta stale) — the gate source must never change
    // the answer
    val after = Dedup.spanDedupAgainstIndex(spark, delta, dir, cap = 2).collect()
      .map(_.toString).sorted.toSeq
    assert(before == after, "compaction changed lookup results")
  }

  test("plan: only span hashes explode; reassembly is in-row") {
    val plan = Dedup.spanDedup(docs).queryExecution.executedPlan.toString
    // every explode (the live one and the cached frequency table's
    // stored twin) feeds the frequency count with md5 hashes — span
    // TEXT must never be an exploded column in the broadcast form
    val gens = plan.linesIterator.filter(_.contains("Generate explode")).toSeq
    assert(gens.nonEmpty, plan.take(800))
    gens.foreach(l => assert(l.contains("md5"),
      s"explode must carry md5 hashes, not span text: $l"))
    // reassembly side: no doc_id shuffle — the only hashpartitioning
    // exchange belongs to the frequency groupBy on the hash
    val hashEx = "Exchange hashpartitioning\\(([a-z_]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(hashEx.subsetOf(Set("h")), s"unexpected shuffles on $hashEx")
  }
}
