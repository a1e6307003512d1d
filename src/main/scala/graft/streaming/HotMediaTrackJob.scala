package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.jdbc.{JdbcOptionsInWrite, JdbcUtils}
import org.apache.spark.sql.jdbc.JdbcDialects

import scala.jdk.CollectionConverters._

import graft.ops.EventWindows

/** Job-A replica: HotMediaTrack (reference HotMediaTrack.java:45-96).
  *
  * Pipeline: Kafka topic-pattern source → JSON parse to the 5-field
  * LogTrack projection (HotMediaTrack.java:174-207, with the epoch-unit
  * normalizations at :184/:187-190/:193) → event time = receiveTime →
  * ascending watermark → 30 s tumbling window count per (appid, type)
  * (HotMediaTrack.java:88-90) → batched JDBC-shaped sink (the reference's
  * per-row MySqlSink at :98-131 becomes one batched prepared INSERT per
  * partition of each micro-batch, idempotent on batchId, see SURVEY
  * §7.3-6).
  *
  * The window is `EventWindows.tumbleCounts`, the definition the batch
  * query q_win_tumble (oracle-checked) calls too; every stage is a pure
  * DataFrame→DataFrame function, so `pipeline` runs over a stream or a
  * batch read alike (HotMediaTrackJobSpec checks the two agree).
  */
object HotMediaTrackJob {

  /** Input JSON schema — only the fields the job projects; unknown fields
    * in the wire record are ignored by from_json (permissive mode). */
  val wireSchema: StructType = StructType(Seq(
    StructField("appid", StringType),
    StructField("event_type", IntegerType),
    StructField("timestamp", LongType),   // epoch seconds
    StructField("event_time", LongType),  // epoch seconds, nullable
    StructField("log_time", LongType)     // epoch millis
  ))

  /** Kafka topic-pattern source (reference HotMediaTrack.java:67-74:
    * Pattern "log_track_\S+", start from latest). */
  def kafkaSource(spark: SparkSession, bootstrap: String,
      pattern: String = "log_track_.+"): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribePattern", pattern)
      .option("startingOffsets", "latest")
      .load()
      .selectExpr("CAST(value AS STRING) AS value", "topic")

  /** JSON line → LogTrack columns. Unit normalization per the reference:
    * sendTime = timestamp*1000 (:184), eventTime = event_time*1000 when
    * present (:187-190), receiveTime = log_time already ms (:193). */
  def parse(raw: DataFrame): DataFrame =
    // One from_json per line: the struct is a generator's output, which
    // Catalyst does not push the filter below. Over a plain
    // `from_json(...) AS j` it would substitute the alias into the
    // filter and split the parse into one from_json per checked field.
    raw.select(explode(array(from_json(col("value"), wireSchema))).as("j"))
      // all fields the pipeline depends on must be present — a record
      // missing log_time/event_type would otherwise surface as a null
      // event-time column downstream (the reference NPEs there,
      // HotMediaTrack.java:79-84; declared fix: drop the record).
      // event_time alone stays optional (HotMediaTrack.java:187-190).
      .filter(col("j").isNotNull && col("j.appid").isNotNull
        && col("j.event_type").isNotNull && col("j.timestamp").isNotNull
        && col("j.log_time").isNotNull)
      .select(
        col("j.appid").as("appid"),
        col("j.event_type").as("type"),
        (col("j.timestamp") * 1000).as("sendTime"),
        (col("j.event_time") * 1000).as("eventTime"), // stays null when absent
        col("j.log_time").as("receiveTime"))

  /** Typed view of [[parse]]: Dataset[LogTrack] with the case-class
    * encoder — the reference bean's shape (LogTrack.java:15-21) where
    * compile-time field safety is wanted downstream. */
  def parseTyped(raw: DataFrame): Dataset[graft.model.LogTrack] = {
    val spark = raw.sparkSession
    import spark.implicits._
    parse(raw).as[graft.model.LogTrack]
  }

  /** Full pipeline on an arbitrary string-valued source. Event time =
    * receiveTime (HotMediaTrack.java:79-84's ascending extractor), then
    * the shared 30 s tumbling count per (appid, type). Sink row shape per
    * HotMediaTrack.java:116-122: time = window END (exclusive, ms) as a
    * timestamp — exactly window.end, not end-1. */
  def pipeline(raw: DataFrame): DataFrame =
    EventWindows.tumbleCounts(
        parse(raw).withColumn("ts", timestamp_millis(col("receiveTime"))), "appid", "type")
      .select(col("window.end").as("time"), col("appid"), col("type"), col("count"))

  /** One micro-batch → JDBC, idempotent on (table, batchId): a replayed
    * batch (sink failure → Structured Streaming re-delivers the same
    * batchId with the same rows) first purges whatever a prior attempt
    * wrote under that batch id, then appends — so replay converges to
    * exactly-once table contents instead of duplicating. Driven against
    * a real (embedded Derby) JDBC database in DurabilitySpec.
    *
    * The append is Spark's own JDBC writer one level down: the first
    * batch creates the table with the dialect's DDL for the row schema
    * plus `batch_id BIGINT NOT NULL` (what `write.jdbc` creates), and
    * each partition runs one batched prepared INSERT with `batch_id`
    * bound per row. The batch id stays out of the plan (as a literal it
    * compiles a new class every batch) and the driver runs no table
    * probe besides the purge. The append options `write.jdbc` reads
    * (`batchsize`, `isolationLevel`, `numPartitions`,
    * `createTableOptions`, `createTableColumnTypes`, `driver`) are read
    * from `props` the same way. */
  def writeBatch(batch: DataFrame, batchId: Long, url: String, table: String,
      props: java.util.Properties): Unit = {
    val options = new JdbcOptionsInWrite(url, table, props.asScala.toMap)
    val dialect = JdbcDialects.get(url)
    val rows = batch.select("time", "appid", "type", "count")
    val schema = rows.schema.add("batch_id", LongType, nullable = false)
    val caseSensitive = batch.sparkSession.conf.get("spark.sql.caseSensitive").toBoolean
    val conn = dialect.createConnectionFactory(options)(-1)
    try {
      // Always attempt the purge, swallowing ONLY missing-table errors
      // (Derby 42X05, MySQL/SQL-Server 42S02, Postgres 42P01). A
      // getTables metadata probe treats the name as a PATTERN and
      // misses schema-qualified targets ("app.media_counts") — it would
      // skip the DELETE while the append still lands, duplicating a
      // replayed batch. Any other failure — including OTHER class-42
      // states like missing column (42X04/42S22) or revoked DELETE
      // privilege (42000/42500) — must propagate: appending without
      // the purge breaks idempotence silently.
      val missingTableStates = Set("42X05", "42S02", "42P01")
      // ANSI-quoted column: Spark's JDBC writer creates columns with
      // quoted (case-preserved) names, so an unquoted reference would
      // case-fold past them in stores like Derby
      val missing =
        try {
          val st = conn.prepareStatement(s"""DELETE FROM $table WHERE "batch_id" = ?""")
          try { st.setLong(1, batchId); st.executeUpdate(); false } finally st.close()
        } catch {
          case e: java.sql.SQLException
              if missingTableStates(Option(e.getSQLState).getOrElse("")) => true // first batch: no table yet
          case e: java.sql.SQLException =>
            // Unrecognized state — stores outside the allowlist signal a
            // missing table differently (Oracle ORA-00942 → 42000, H2
            // 42102) and some drivers return a null state. Probe with a
            // zero-row SELECT before deciding: if the table IS reachable
            // the DELETE failure is real (revoked privilege, missing
            // column) and must propagate — appending without the purge
            // breaks idempotence silently. The probe concludes "missing
            // table" ONLY on a class-42 syntax/access probe failure: a
            // connection-class (08xxx) or aborted-transaction (25xxx /
            // Postgres 25P02) probe failure says nothing about the table
            // — the append would open FRESH executor connections and
            // land without the purge, duplicating a replayed batch — so
            // those (and any other class) propagate the original error.
            val probe = conn.createStatement()
            val probeMissing =
              try { probe.executeQuery(s"SELECT 1 FROM $table WHERE 1=0").close(); false }
              catch {
                case pe: java.sql.SQLException =>
                  Option(pe.getSQLState).getOrElse("").startsWith("42")
              }
              finally probe.close()
            if (!probeMissing) throw e
            true
        }
      if (missing) JdbcUtils.createTable(conn, table, schema, caseSensitive, options)
    } finally conn.close()

    val insert = JdbcUtils.getInsertStatement(table, schema, None, caseSensitive, dialect)
    val parts = options.numPartitions match {
      case Some(n) if n <= 0 =>
        throw new IllegalArgumentException(s"numPartitions must be positive, got $n")
      case Some(n) if n < rows.rdd.getNumPartitions => rows.coalesce(n)
      case _ => rows
    }
    parts.foreachPartition { (it: Iterator[Row]) =>
      JdbcUtils.savePartition(table, it.map(r => Row.fromSeq(r.toSeq :+ batchId)), schema,
        insert, options.batchSize, dialect, options.isolationLevel, options)
    }
  }

  /** JDBC sink: per micro-batch idempotent INSERT batch (capability
    * parity with the reference's MySqlSink, HotMediaTrack.java:98-131,
    * minus the per-row round trip — a deliberate scale divergence, see
    * SURVEY §7.3-6). Exposed as a DataStreamWriter so callers pick
    * trigger/checkpoint. */
  def jdbcSink(out: DataFrame, url: String, table: String,
      props: java.util.Properties): DataStreamWriter[Row] =
    out.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) => writeBatch(batch, batchId, url, table, props)
    }

  /** Console sink for smoke runs (reference Job B uses print(); Job A's
    * MySQL target isn't present in this environment). */
  def run(spark: SparkSession, bootstrap: String): StreamingQuery =
    pipeline(kafkaSource(spark, bootstrap))
      .writeStream.outputMode("append").format("console").start()
}
