package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's scale-oriented defaults.
  *
  * Design stance (SURVEY.md §7.0): one SparkSession-centric engine where
  * batch and streaming share the same DataFrame operator definitions. The
  * conf below is what we would ship to a 1000-executor cluster, minus the
  * cluster-manager specifics:
  *   - AQE on: runtime partition coalescing + skew-join splitting mean the
  *     static `shuffle.partitions` only needs to be an upper bound.
  *   - UTC session time zone: deterministic window/date semantics across
  *     engines (matches the DuckDB oracle).
  *   - Broadcast threshold left at default (10 MB) — dims like region/
  *     nation/supplier broadcast automatically; we additionally hint
  *     `broadcast()` where we know the dimension is small at any SF.
  *   - `file:` checkpoints are written through [[LocalCheckpointFs]]
  *     (no `readlink`/`chmod` process per checkpoint file).
  *   - `spark.sql.legacy.parquet.nanosAsLong` stays unset: only
  *     [[graft.sources.Tables.events]] sets it, for the legacy
  *     TIMESTAMP(NANOS) events generation.
  *   - Streaming state uses Spark's default store; large state (big
  *     windows, wide Top-N key spaces) can move to RocksDB through
  *     Spark's own `spark.sql.streaming.stateStore.providerClass` conf.
  * [[tune]] sets every runtime conf; [[session]] only the build-time ones.
  */
object Engine {
  /** A local session over `SPARK_GRAFT_CPUS` cores (default: every core
    * the JVM sees) with as many shuffle partitions — the rule Bench
    * spells out for itself — plus the build-time confs and [[tune]]. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Apply the engine defaults to a session, including one created
    * elsewhere (Bench creates its own). Safe to call on
    * a running session: all of these are runtime-mutable confs. */
  def tune(spark: SparkSession): SparkSession = {
    // ANSI on is the Spark 4 default; pinned so the engine's declared
    // error semantics (fail loudly on bad casts/overflow; operators that
    // must be total guard explicitly — see TextOps/SimSearch/parseCsv)
    // don't drift with deployment defaults.
    spark.conf.set("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // partitioned-index lookups (bands/fps/grams bucket dirs) list their
    // dirs at EVERY read; the default threshold (32) launches a
    // one-task-per-dir discovery JOB for any index over 32 buckets — pure
    // dispatch overhead at micro-batch cadence. Driver-side listing is
    // faster up to ~1k dirs on any filesystem with sane metadata; the
    // index layouts cap at 65536 buckets, where the parallel job is again
    // the right call.
    spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    // copied into every `sessionState.newHadoopConf()`: reaches the
    // offset/commit logs and the executors' state stores
    spark.conf.set(LocalCheckpointFs.ConfKey, classOf[LocalCheckpointFs].getName)
    spark
  }
}
