package graft.ops

import graft.SparkSuite

/** The LSH pipelines' cache blocks must be releasable by the caller:
  * repeated invocation in one long-lived session must not accumulate
  * stale storage blocks (round-3 finding — Bench's clearCache masked
  * the leak in the official numbers). [[PipelineCaches.release]] is the
  * documented lifetime API; this spec pins that after consuming each
  * pipeline's result, release leaves the CacheManager empty.
  */
class CacheLifetimeSpec extends SparkSuite {

  test("release drops every block the dedup pipelines cached") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    spark.sharedState.cacheManager.clearCache()

    Dedup.nearDupPairs(docs).write.format("noop").mode("overwrite").save()
    Dedup.simhashPairs(docs).write.format("noop").mode("overwrite").save()
    Dedup.ngramJaccardPairs(docs).write.format("noop").mode("overwrite").save()

    assert(!spark.sharedState.cacheManager.isEmpty,
      "the pipelines are expected to cache self-join intermediates")
    PipelineCaches.release(spark)
    assert(spark.sharedState.cacheManager.isEmpty,
      "release must unpersist every pipeline-registered block")
  }

  test("connected-components checkpoint blocks release deterministically") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // a forced-large session runs the star loop — the broadcast fast
    // path never checkpoints, so there would be nothing to pin; the
    // helper releases the session's blocks after the body
    val mine = forced("large") { s =>
      import s.implicits._
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
      assert(Components.connectedComponents(pairs).count() == 5)
      // superseded rounds were unpersisted in-loop; the converged
      // round's blocks back the result and are registered for release
      val live = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(live.nonEmpty, "expected live checkpoint blocks backing the result")
      live
    }
    val leftover = spark.sparkContext.getPersistentRDDs.keySet intersect mine
    assert(leftover.isEmpty,
      s"release must unpersist checkpoint blocks, leaked rdd ids: $leftover")
  }

  test("pmiQ's grouping-sets checkpoint blocks release deterministically") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    TextOps.pmiQ(docs).write.format("noop").mode("overwrite").save()
    val mine = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(mine.nonEmpty,
      "pmiQ is expected to localCheckpoint its counts frame")
    PipelineCaches.release(spark)
    val leftover = spark.sparkContext.getPersistentRDDs.keySet intersect mine
    assert(leftover.isEmpty,
      s"release must unpersist pmiQ checkpoint blocks, leaked rdd ids: $leftover")
  }

  test("trackCompact collapses under the size gate, keeps partitioning above") {
    import spark.implicits._
    spark.sharedState.cacheManager.clearCache()
    val df = (1 to 1000).toDF("n").repartition(8)
    // planner estimate of a 1000-int frame is far under the default gate
    val compacted = PipelineCaches.trackCompact(df)
    assert(compacted.rdd.getNumPartitions == 1,
      "a metadata-sized frame must cache as one partition")
    assert(compacted.as[Int].collect().sorted.toSeq == (1 to 1000),
      "compaction must not change the rows")
    // forced past the gate, partitioning is untouched
    assert(forced("large") { s =>
      import s.implicits._
      PipelineCaches.trackCompact((1 to 1000).toDF("n").repartition(8)).rdd.getNumPartitions
    } == 8, "above the gate trackCompact must behave exactly like track")
    PipelineCaches.release(spark)
    assert(spark.sharedState.cacheManager.isEmpty,
      "trackCompact blocks must release with the pipeline lifetime")
  }

  test("release is idempotent and safe on a session with no tracked caches") {
    PipelineCaches.release(spark.newSession())
    PipelineCaches.release(spark)
    PipelineCaches.release(spark)
  }
}
