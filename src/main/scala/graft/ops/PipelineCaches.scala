package graft.ops

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions

/** Session-scoped registry for the cache blocks the dedup/LSH pipelines
  * create.
  *
  * The pipelines ([[Dedup.nearDupPairs]], [[Dedup.simhashPairs]],
  * [[Dedup.ngramJaccardPairs]]) cache intermediates that BOTH sides of a
  * self-join consume — the cache is load-bearing for the plan (uncached,
  * the signature aggregate would run once per join side). But the
  * returned frame is lazy: the blocks must outlive the method call and
  * stay alive until the CALLER's action completes, so the operator
  * cannot unpersist them itself. Without a lifetime API every invocation
  * leaked blocks into the session until eviction pressure.
  *
  * Contract: after consuming a pipeline's result (an action — write,
  * collect, count), call [[release]] to unpersist every block the
  * pipelines registered on that session. Releasing before the action
  * is safe (the plan recomputes) but forfeits the self-join sharing.
  * Sessions that never release hold their registry entries — release is
  * part of the documented caller contract, like closing a resource.
  * CacheLifetimeSpec pins that release leaves the CacheManager empty.
  */
object PipelineCaches {
  private val live =
    new ConcurrentHashMap[SparkSession, ConcurrentLinkedQueue[DataFrame]]()
  // persisted RDDs behind localCheckpoint'd frames (Components): these
  // are block-manager persists, NOT CacheManager entries, so neither
  // Dataset.unpersist nor clearCache can free them — release() must
  // unpersist the RDD itself. NOTE a released checkpoint CANNOT
  // recompute (the checkpoint truncated its lineage): release only
  // after the consuming action, per the contract above.
  private val liveRdds =
    new ConcurrentHashMap[SparkSession, ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]]()
  // per-call unique temp views (the bloom-decontamination eval set):
  // without release they accumulate catalog entries without bound in
  // long-lived sessions (streaming maintenance loops, repeated bench
  // runs). DataFrames are analyzed eagerly, so dropping the view after
  // the frame is built never breaks a pending plan.
  private val liveViews =
    new ConcurrentHashMap[SparkSession, ConcurrentLinkedQueue[String]]()

  // A weak map cannot work here: the tracked DataFrames strongly
  // reference their session, so weakly-keyed entries would never
  // collect (value → key self-pin). Instead, every track/release
  // sweeps entries whose session is already stopped — their cache
  // blocks died with the executors, so dropping the registry entry is
  // the whole cleanup — bounding a no-release caller's leak to the
  // stopped sessions accumulated since the last pipeline call.
  private def purgeStopped(): Unit = {
    live.keySet.forEach { s =>
      if (s.sparkContext.isStopped) { live.remove(s); () }
    }
    liveRdds.keySet.forEach { s =>
      if (s.sparkContext.isStopped) { liveRdds.remove(s); () }
    }
    liveViews.keySet.forEach { s =>
      if (s.sparkContext.isStopped) { liveViews.remove(s); () }
    }
  }

  /** Register a per-call temp view for the session-wide [[release]]. */
  private[ops] def trackView(spark: SparkSession, name: String): Unit = {
    purgeStopped()
    liveViews.computeIfAbsent(spark,
      _ => new ConcurrentLinkedQueue[String]).add(name)
  }

  /** Register a localCheckpoint'd frame's backing blocks for the
    * session-wide [[release]] (Spark exposes no public unpersist for
    * checkpoint blocks — this walks to the LogicalRDD and tracks its
    * RDD). For frames consumed through SELF-JOINS of derived views,
    * checkpointing beats [[track]]: analyzer attribute-deduplication
    * rewrites one side's expression ids, which defeats the
    * CacheManager's plan-match for grouping-sets aggregates (measured
    * in pmiQ: both uni sides and the totals silently re-ran the full
    * corpus aggregate from the file scan) — a lineage-truncated
    * LogicalRDD has no plan to mismatch. */
  private[ops] def trackCheckpointed(df: DataFrame): DataFrame = {
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        trackRdd(df.sparkSession, l.rdd)
    }
    df
  }

  /** The smallest planner estimate (bytes) [[trackCompact]] leaves
    * uncompacted — deliberately an order of magnitude under
    * Dedup.VerifyLargeBytes / Scoring.RankLargeBytes:
    * compaction serializes every consumer of the cached frame onto one
    * task, which is only safe for metadata-sized frames whose per-row
    * consumer work is trivial (the q_maxsim one-partition hazard class
    * measured in the r19 ccp experiment). */
  private[ops] val CompactBytes: Long = 8L << 20

  /** [[track]], but when the planner estimates the frame under
    * [[CompactBytes]] (a [[Dispatch]] gate) it is first collapsed to ONE
    * partition (a round-robin exchange over metadata-sized rows), so
    * consumers read a 1-partition cache instead of spawning a
    * full-width task wave per job — the
    * per-site, size-dispatched form of the cached-plan coalescing the
    * r19 ccp experiment measured (global conf rejected: mixed sign).
    * Above the gate this IS [[track]]: at production scale the estimate
    * crosses the gate and the cache keeps the plan's full parallelism,
    * so the compaction can never serialize a corpus-sized frame. Only
    * for frames whose consumers are order-insensitive (aggregates,
    * joins) — the exchange reorders rows. */
  private[ops] def trackCompact(df: DataFrame): DataFrame =
    if (Dispatch.pick(df.sparkSession, "trackCompact", CompactBytes)(
        df.queryExecution.optimizedPlan.stats.sizeInBytes)) track(df)
    else track(df.repartition(1))

  /** Cache `df` and register it for the session-wide [[release]]. A
    * plan the CacheManager already holds is not cached again (Spark
    * would only log a warning) but is still registered. */
  private[ops] def track(df: DataFrame): DataFrame = {
    purgeStopped()
    if (df.sparkSession.sharedState.cacheManager
        .lookupCachedData(ClassicConversions.castToImpl(df)).isEmpty)
      df.cache()
    live.computeIfAbsent(df.sparkSession,
      _ => new ConcurrentLinkedQueue[DataFrame]).add(df)
    df
  }

  /** Register a persisted RDD (a localCheckpoint's backing blocks) for
    * the session-wide [[release]]. */
  private[ops] def trackRdd(spark: SparkSession, rdd: org.apache.spark.rdd.RDD[_]): Unit = {
    purgeStopped()
    liveRdds.computeIfAbsent(spark,
      _ => new ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]).add(rdd)
  }

  /** Unpersist every block the pipelines registered on `spark`. */
  def release(spark: SparkSession): Unit = {
    purgeStopped()
    val q = live.remove(spark)
    if (q != null) q.forEach(df => { df.unpersist(blocking = false); () })
    val r = liveRdds.remove(spark)
    if (r != null) r.forEach(rdd => { rdd.unpersist(blocking = false); () })
    val v = liveViews.remove(spark)
    if (v != null) v.forEach(name => { spark.catalog.dropTempView(name); () })
  }
}
