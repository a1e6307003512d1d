package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The near-dup verify stage must produce IDENTICAL results whether the
  * per-doc hashed-set dictionary is broadcast (the fixture's `auto`
  * pick, while it fits the broadcast budget) or sort-merge-joined on
  * doc id (the 100 TB path, forced here with `force=large`). Result
  * equality here plus the broadcast mode's oracle hash-match makes the
  * bucketed mode hash-green by transitivity.
  */
class DedupVerifyModeSpec extends SparkSuite {

  private def docsDf = spark.read.parquet(s"$sf/documents.parquet")

  // jaccard rounded to 1e-12: both modes compute the same expression on
  // the same operands, but Set equality on raw doubles would also pass —
  // the rounding just keeps the comparison honest about intent.
  private def pairsSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e12))).toSet

  /** `body`'s result plus the verify decision it recorded on `s`. */
  private def verifyDecision[T](s: org.apache.spark.sql.SparkSession)(body: => T): (T, Dispatch.Decision) = {
    Dispatch.drain(s)
    val out = body
    (out, Dispatch.drain(s).filter(_.name.endsWith(".verify")).last)
  }

  test("minhash near-dup: bucketed verify ≡ broadcast verify") {
    val bc = pairsSet(Dedup.nearDupPairs(docsDf))
    val bk = forced("large")(s => pairsSet(Dedup.nearDupPairs(s.read.parquet(s"$sf/documents.parquet"))))
    assert(bc.nonEmpty, "spec needs a non-trivial pair set")
    assert(bk == bc)
  }

  test("ngram near-dup: bucketed verify ≡ broadcast verify") {
    val bc = pairsSet(Dedup.ngramJaccardPairs(docsDf))
    val bk = forced("large")(s => pairsSet(Dedup.ngramJaccardPairs(s.read.parquet(s"$sf/documents.parquet"))))
    assert(bc.nonEmpty, "spec needs a non-trivial pair set")
    assert(bk == bc)
  }

  test("shingle lane: the verify is dispatched — broadcast at the fixture " +
    "(measured shingle bytes), sort-merge under force=large, same pairs") {
    // distinct thresholds from every other suite's: the CacheManager
    // matches cached plans ACROSS sessions ignoring join hints
    for (measure <- Seq("jaccard", "containment")) {
      def pairs(s: org.apache.spark.sql.SparkSession) = {
        val docs = s.read.parquet(s"$sf/documents.parquet")
        val q =
          if (measure == "jaccard") Dedup.ngramJaccardPairs(docs, threshold = 0.31)
          else Dedup.containmentPairs(docs, threshold = 0.61)
        (q.queryExecution.executedPlan.toString, pairsSet(q))
      }
      val ((autoPlan, autoPairs), d) = forced("auto")(s => verifyDecision(s)(pairs(s)))
      val shingles = forced("auto") { s =>
        val toks = split(lower(trim(col("text"))), "\\s+")
        s.read.parquet(s"$sf/documents.parquet")
          .filter(size(toks) >= 3)
          .select(size(array_distinct(transform(sequence(lit(0), size(toks) - 3),
            i => concat_ws(" ", slice(toks, i + 1, lit(3)))))).as("n"))
          .agg(sum(col("n"))).head().getLong(0)
      }
      assert(d.estimate.contains(BigInt(shingles * 8L)) && !d.large,
        s"$measure: the fixture must measure its shingle dictionary and broadcast: $d")
      assert(autoPlan.contains("BroadcastHashJoin"), autoPlan.take(800))
      val (largePlan, largePairs) = forced("large") { s =>
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        pairs(s)
      }
      // the verify's broadcast() hint would plan a BroadcastHashJoin
      // even with broadcasts disabled: none left means sort-merge
      assert(!largePlan.contains("BroadcastHashJoin") && largePlan.contains("SortMergeJoin"),
        s"$measure: expected sort-merge verify joins in:\n" + largePlan.take(800))
      assert(autoPairs.nonEmpty && largePairs == autoPairs, measure)
    }
  }

  test("bucketed verify survives with broadcasts disabled: sort-merge plan") {
    // isolated session: mutating autoBroadcastJoinThreshold on the
    // shared conf would race with concurrent plan-shape assertions
    forced("large") { s =>
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val docs = s.read.parquet(s"$sf/documents.parquet")
      // threshold distinct from every other suite's: the CacheManager
      // matches cached plans ACROSS sessions ignoring join hints, so a
      // plan another suite cached would silently replace this subtree
      // with an InMemoryTableScan and void the plan assertion
      val q = Dedup.nearDupPairs(docs, threshold = 0.51)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"),
        "expected sort-merge verify joins in:\n" + plan.take(800))
      assert(q.count() > 0)
    }
  }

  test("auto mode measures the dictionary DIRECTLY: a stats-hostile " +
    "(expression-backed) corpus dispatches to SMJ where the old " +
    "plan-stats gate would have broadcast (round-16 VERDICT #2)") {
    // fixture dispatch unchanged: the real (file-backed) tiny corpus
    // rides the broadcast verify
    val (small, fixture) = forced("auto")(s => verifyDecision(s)(
      Dedup.nearDupPairs(s.read.parquet(s"$sf/documents.parquet"))
        .queryExecution.executedPlan.toString))
    assert(!fixture.large && small.contains("BroadcastHashJoin"),
      s"small corpus must ride the broadcast verify ($fixture):\n" + small.take(600))
    // the 64x-ScaleSmoke shape in miniature: a generated corpus whose
    // planner estimate UNDER-counts its real token mass (the round-16
    // audit measured every 64x probe reading <= 16.3 MB of plan-stats
    // while the broadcast dictionary spilled 5.89 GiB). The gate's
    // estimate must be the measured dictionary, so at any threshold
    // between the two the gate dispatches to the bucketed verify.
    forced("auto") { s =>
      val big = graft.ScaleSmoke.survivableCorpus(s, 5000, 2)
      val dictBound = Dedup.tokens(big).count() * 8L
      val (_, d) = verifyDecision(s)(Dedup.nearDupPairs(big))
      assert(d.estimate.contains(BigInt(dictBound)),
        s"the gate must measure the dictionary ($dictBound bytes): $d")
      val gate = dictBound / 2 // a dictionary decisively past the gate
      val est = big.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(est <= gate,
        "fixture premise: the planner estimate must sit UNDER the gate " +
          s"(the old gate would have chosen broadcast) — est=$est gate=$gate")
      assert(Dispatch.pick(s, "probe", gate)(d.estimate.get),
        "the dictionary-bound estimate must dispatch the stats-hostile " +
          "corpus to the bucketed (SMJ) verify")
    }
  }

  test("no metadata fast path for dup-heavy parquet (round-17 VERDICT " +
    "#1): a tiny-on-disk dictionary-encoded corpus whose real token " +
    "mass exceeds the gate dispatches to the bucketed (measured) " +
    "verify — on-disk bytes and footer sizes are both post-encoding " +
    "and must not argue a broadcast") {
    forced("auto") { s =>
      import s.implicits._
      val dir = java.nio.file.Files.createTempDirectory("dup_heavy").toString
      val line = (1 to 200).map(i => s"tok$i").mkString(" ")
      (1L to 2000L).map(i => (i, line)).toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(dir)
      val docs = s.read.parquet(dir)
      val gate = 1L << 20
      val onDisk = docs.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(onDisk * 20 <= gate,
        "fixture premise: tiny on disk — the retired x20 fast path would " +
          s"have broadcast (onDisk=$onDisk)")
      val dictBound = Dedup.tokens(docs).count() * 8L
      assert(dictBound > gate,
        s"fixture premise: real dictionary past the gate ($dictBound)")
      val (_, d) = verifyDecision(s)(Dedup.nearDupPairs(docs))
      assert(d.estimate.contains(BigInt(dictBound)),
        s"the gate must measure the dictionary ($dictBound bytes): $d")
      assert(Dispatch.pick(s, "probe", gate)(d.estimate.get),
        "dup-heavy tiny-on-disk corpus must dispatch to the measured SMJ verify")
    }
  }
}
