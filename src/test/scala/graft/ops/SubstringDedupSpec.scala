package graft.ops

import graft.SparkSuite

/** Behavior laws for exact-substring dedup ([[Dedup.substringDedup]] —
  * ExactSubstr semantics at L-gram coverage granularity) on crafted
  * corpora where the duplicated runs are known exactly. */
class SubstringDedupSpec extends SparkSuite {
  import spark.implicits._

  private def run(rows: Seq[(Long, String)], minLen: Int = 4) = {
    val out = Dedup.substringDedup(rows.toDF("doc_id", "text"), minLen)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    PipelineCaches.release(spark)
    out
  }

  test("a shared >=L run is excised exactly; unique flanks survive in order") {
    // docs 1/2 share the 5-token run "a b c d e" (> L=4): every token of
    // the run is covered in both docs; flanking tokens keep their order
    val out = run(Seq(
      (1L, "x1 x2 a b c d e y1 y2"),
      (2L, "z1 a b c d e z2 z3 z4")))
    assert(out(1L) == ((9L, 5L, "x1 x2 y1 y2")))
    assert(out(2L) == ((9L, 5L, "z1 z2 z3 z4")))
  }

  test("a shared run shorter than L is NOT removed") {
    // common run "a b c" has length 3 < L=4 -> no duplicated 4-gram
    val out = run(Seq(
      (1L, "x1 x2 a b c y1 y2"),
      (2L, "z1 z2 a b c w1 w2")))
    assert(out(1L) == ((7L, 0L, "x1 x2 a b c y1 y2")))
    assert(out(2L) == ((7L, 0L, "z1 z2 a b c w1 w2")))
  }

  test("within-document repeats count (ExactSubstr, not cross-doc-only)") {
    // one doc, run "a b c d" appears twice -> both occurrences excised
    val out = run(Seq((1L, "a b c d m1 m2 a b c d")))
    assert(out(1L) == ((10L, 8L, "m1 m2")))
  }

  test("fully-duplicated doc keeps its row with empty clean_text") {
    val out = run(Seq((1L, "a b c d e"), (2L, "a b c d e")))
    assert(out(1L) == ((5L, 5L, "")))
    assert(out(2L) == ((5L, 5L, "")))
  }

  test("docs shorter than L are untouched (no grams, full text kept)") {
    val out = run(Seq((1L, "p q r"), (2L, "p q r")))
    assert(out(1L) == ((3L, 0L, "p q r")))
    assert(out(2L) == ((3L, 0L, "p q r")))
  }

  test("coverage is the union of overlapping duplicated grams (exact excision)") {
    // docs share the 6-token run "a b c d e f": three overlapping 4-gram
    // starts cover positions [start, start+5] and nothing else
    val out = run(Seq(
      (1L, "u1 a b c d e f u2"),
      (2L, "a b c d e f v1 v2")))
    assert(out(1L) == ((8L, 6L, "u1 u2")))
    assert(out(2L) == ((8L, 6L, "v1 v2")))
  }

  test("normalization: case and extra whitespace do not defeat the match") {
    val out = run(Seq(
      (1L, "A  B c D e"),
      (2L, "a b C d E")))
    assert(out(1L)._2 == 5L)
    assert(out(2L)._3 == "")
  }

  private def tmp(pfx: String): String =
    java.nio.file.Files.createTempDirectory(pfx).toString

  private def cleanMap(df: org.apache.spark.sql.DataFrame) = {
    val out = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    PipelineCaches.release(spark)
    out
  }

  test("index lookup == batch over corpus ∪ delta, restricted to the delta") {
    val corpus = Seq(
      (1L, "x1 x2 a b c d e y1 y2"),
      (2L, "m n o p q r s t")).toDF("doc_id", "text")
    val delta = Seq(
      (100L, "z1 a b c d e z2"),   // shares a 5-token run with doc 1
      (101L, "u v w aa bb cc dd"), // unique vs corpus
      (102L, "u v w aa bb cc dd")  // duplicates 101 WITHIN the delta
    ).toDF("doc_id", "text")
    val dir = tmp("substr_idx")
    Dedup.writeSubstringIndex(corpus, dir, minLen = 4)
    val got = cleanMap(Dedup.substringDedupAgainstIndex(spark, delta, dir))
    val want = cleanMap(
      Dedup.substringDedup(corpus.union(delta), minLen = 4))
      .filter(_._1 >= 100L)
    assert(got == want)
    // the cross-corpus run was excised, the intra-delta dup too
    assert(got(100L)._2 == 5L)
    assert(got(101L)._3 == "" && got(102L)._3 == "")
  }

  test("append == rebuild; compaction preserves answers and collapses files") {
    val a = Seq((1L, "a b c d e f"), (2L, "g h i j k l")).toDF("doc_id", "text")
    val b = Seq((3L, "a b c d e z")).toDF("doc_id", "text")
    val delta = Seq((200L, "p a b c d e q")).toDF("doc_id", "text")
    val incrDir = tmp("substr_incr")
    Dedup.writeSubstringIndex(a, incrDir, minLen = 4)
    Dedup.appendToSubstringIndex(b, incrDir)
    val rebuiltDir = tmp("substr_rebuilt")
    Dedup.writeSubstringIndex(a.union(b), rebuiltDir, minLen = 4)
    val viaAppend = cleanMap(Dedup.substringDedupAgainstIndex(spark, delta, incrDir))
    val viaRebuild = cleanMap(Dedup.substringDedupAgainstIndex(spark, delta, rebuiltDir))
    assert(viaAppend == viaRebuild)
    def parquetFiles(d: String) =
      physicalDir(s"$d/grams").listFiles((f: java.io.File) => f.isDirectory)
        .flatMap(_.listFiles((f: java.io.File) => f.getName.endsWith(".parquet"))).length
    val before = parquetFiles(incrDir)
    Dedup.compactSubstringIndex(spark, incrDir)
    assert(parquetFiles(incrDir) < before,
      "compaction must collapse the per-batch file accumulation")
    assert(cleanMap(Dedup.substringDedupAgainstIndex(spark, delta, incrDir)) == viaAppend)
  }

  test("pruned lookup reads only touched buckets (PartitionFilters pin)") {
    val corpus = (1L to 40L).map(i =>
      (i, s"tok${i}a tok${i}b tok${i}c tok${i}d tok${i}e")).toDF("doc_id", "text")
    val dir = tmp("substr_prune")
    Dedup.writeSubstringIndex(corpus, dir, minLen = 4)
    val delta = Seq((500L, "tok1a tok1b tok1c tok1d tok1e")).toDF("doc_id", "text")
    // force the prune path: a forced-large session skips the full-read
    // shortcut
    val plan = forced("large")(s => Dedup.substringDedupAgainstIndex(s, delta, dir)
      .queryExecution.executedPlan.toString)
    PipelineCaches.release(spark)
    val scanLine = plan.linesIterator.find(l =>
      l.contains("FileScan") && l.contains("grams")).getOrElse("")
    assert(scanLine.contains("PartitionFilters: [bkt"),
      s"gram index scan must carry a bucket partition filter:\n$scanLine")
  }

  test("plan: no cartesian product / nested-loop join anywhere") {
    val plan = Dedup.substringDedup(
      Seq((1L, "a b c d e"), (2L, "a b c d e")).toDF("doc_id", "text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    PipelineCaches.release(spark)
  }
}
