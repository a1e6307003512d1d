package graft

import org.apache.spark.sql.functions._

/** The scaling probes (ScaleSmoke) rest on one property of
  * [[ScaleSmoke.amplify]]: copies have DISJOINT vocabularies, so
  * duplicate structure — and therefore output per unit input — is
  * constant in k and wall-clock growth measures the engine, not output
  * explosion. Pin that property, or every fitted exponent in
  * BENCH_NOTES is built on sand. */
class ScaleSmokeSpec extends SparkSuite {

  test("amplify: k copies, disjoint vocabularies, no cross-copy near-dup pairs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val n = docs.count()
    val amp = ScaleSmoke.amplify(docs, 3)
    assert(amp.count() == 3 * n)

    // disjoint vocab: token sets of distinct copies never intersect
    val toks = amp.select((col("doc_id") / 10_000_000L).cast("long").as("copy"),
        explode(split(col("text"), "\\s+")).as("tok"))
      .filter(col("tok") =!= "").distinct()
    val cross = toks.groupBy(col("tok"))
      .agg(countDistinct(col("copy")).as("nc"))
      .filter(col("nc") > 1).count()
    assert(cross == 0, s"$cross tokens shared across copies")

    // therefore every near-dup pair stays inside one copy, and each
    // copy reproduces the base corpus's pair count in EXPECTATION —
    // not exactly: true Jaccard is prefix-invariant (prefixing is a
    // per-copy token bijection) but LSH candidate recall depends on
    // the token HASHES, which the prefixes change, so discovered-pair
    // counts vary a few percent per copy (measured ±4%). The probes'
    // linearity claim needs bounded spread, not equality.
    val pairs = graft.ops.Dedup.nearDupPairs(amp)
      .select((col("doc_a") / 10_000_000L).cast("long").as("ca"),
        (col("doc_b") / 10_000_000L).cast("long").as("cb"))
    assert(pairs.filter(col("ca") =!= col("cb")).count() == 0,
      "near-dup pairs must never cross amplification copies")
    val perCopy = pairs.groupBy(col("ca")).agg(count(lit(1)).as("np"))
      .select(col("np")).collect().map(_.getLong(0))
    assert(perCopy.length == 3, "every copy must surface pairs")
    assert(perCopy.max <= perCopy.min * 1.15,
      s"per-copy pair counts must stay within 15%, got ${perCopy.mkString(",")}")
    graft.ops.PipelineCaches.release(spark)
  }
}
