package graft.streaming

import java.nio.file.Files
import java.sql.{DriverManager, Timestamp}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Stream-stream interval join and checkpoint recovery — the two
  * Structured Streaming behaviors a Flink user would demand parity on
  * beyond windows/state (Flink: intervalJoin; savepoints). */
class DurabilitySpec extends SparkSuite {

  private def ts(s: Long) = new Timestamp(s * 1000)

  test("stream-stream interval join: matches within the time bound only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val buys = MemoryStream[(Long, Timestamp)]
    val c = clicks.toDF().toDF("user_c", "ts_c").withWatermark("ts_c", "0 seconds")
    val b = buys.toDF().toDF("user_b", "ts_b").withWatermark("ts_b", "0 seconds")
    // buy attributed to a click iff within 60s AFTER the click
    val joined = c.join(b,
      col("user_c") === col("user_b") &&
        col("ts_b") >= col("ts_c") && col("ts_b") <= col("ts_c") + expr("interval 60 seconds"))
    val q = joined.select(col("user_c"), unix_timestamp(col("ts_c")).as("c_s"),
        unix_timestamp(col("ts_b")).as("b_s"))
      .writeStream.outputMode("append").format("memory").queryName("attrib").start()
    try {
      clicks.addData((1L, ts(100)), (2L, ts(100)))
      buys.addData((1L, ts(130)), (2L, ts(200))) // u1 inside 60s, u2 outside
      q.processAllAvailable()
      clicks.addData((9L, ts(1000))); buys.addData((9L, ts(2000))) // wm pusher
      q.processAllAvailable()
      val got = spark.table("attrib").as[(Long, Long, Long)].collect().toSet
      assert(got == Set((1L, 100L, 130L)), s"got $got")
    } finally q.stop()
  }

  test("jdbc sink against embedded Derby: real store, replayed batch stays exactly-once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // embedded Derby = a real JDBC database without a server process —
    // the closest in-sandbox stand-in for the reference's MySQL target
    // (HotMediaTrack.java:98-131); driver jar ships with /opt/spark/jars
    val dbDir = Files.createTempDirectory("graft_derby").toString
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val table = "media_counts"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")

    val in = MemoryStream[String]
    def wire(appid: String, typ: Int, t: Long): String =
      s"""{"appid":"$appid","event_type":$typ,"timestamp":$t,"log_time":${t * 1000}}"""
    val q = HotMediaTrackJob.jdbcSink(
      HotMediaTrackJob.pipeline(in.toDF().toDF("value")), url, table, props)
      .option("checkpointLocation", Files.createTempDirectory("graft_jdbc_chk").toString)
      .start()
    try {
      in.addData(wire("app1", 1, 100), wire("app1", 1, 101), wire("app2", 2, 100))
      q.processAllAvailable()
      in.addData(wire("app1", 1, 160)) // second micro-batch, next window
      q.processAllAvailable()
    } finally q.stop()

    def stored() = spark.read.jdbc(url, table, props)
    val afterRun = stored().select("time", "appid", "type", "count", "batch_id")
      .as[(Timestamp, String, Int, Long, Long)].collect().toSet
    assert(afterRun.map(t => (t._2, t._3, t._4)).contains(("app1", 1, 2L)),
      s"windowed count missing from the JDBC store: $afterRun")
    assert(afterRun.map(_._5).size >= 1, "batch ids must be recorded")

    // replay: re-deliver one committed micro-batch verbatim (what the
    // engine does after a sink failure) — table contents must not change
    val replayId = afterRun.map(_._5).max
    val replayRows = afterRun.filter(_._5 == replayId).toSeq
      .map(t => (t._1, t._2, t._3, t._4)).toDF("time", "appid", "type", "count")
    HotMediaTrackJob.writeBatch(replayRows, replayId, url, table, props)
    val afterReplay = stored().select("time", "appid", "type", "count", "batch_id")
      .as[(Timestamp, String, Int, Long, Long)].collect().toSet
    assert(afterReplay == afterRun,
      s"replay must be idempotent:\nbefore=$afterRun\nafter=$afterReplay")
  }

  test("jdbc sink: write.jdbc's table, any column order, no class compiled per batch id") {
    import spark.implicits._
    val url = s"jdbc:derby:${Files.createTempDirectory("graft_derby_sink")}/db;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    def wire(appid: String, typ: Int, t: Long): String =
      s"""{"appid":"$appid","event_type":$typ,"timestamp":$t,"log_time":${t * 1000}}"""
    // a batch frame with the streaming job's schema and plan shape
    val frame = HotMediaTrackJob.pipeline(Seq(wire("app1", 1, 100), wire("app1", 1, 101),
      wire("app2", 2, 100), wire("app1", 1, 160)).toDF("value"))
    def columns(table: String) = {
      val conn = DriverManager.getConnection(url, props)
      try {
        val rs = conn.getMetaData.getColumns(null, null, table.toUpperCase, null)
        Iterator.continually(rs).takeWhile(_.next()).map(r => (r.getInt("ORDINAL_POSITION"),
          r.getString("COLUMN_NAME"), r.getString("TYPE_NAME"), r.getInt("COLUMN_SIZE"),
          r.getInt("NULLABLE"))).toList.sortBy(_._1)
      } finally conn.close()
    }
    def stored(table: String) = spark.read.jdbc(url, table, props)
      .select("time", "appid", "type", "count", "batch_id")
      .as[(Timestamp, String, Int, Long, Long)].collect().toSet

    HotMediaTrackJob.writeBatch(frame, 1, url, "sink_new", props)
    // the table a literal batch id appended by write.jdbc creates
    frame.withColumn("batch_id", lit(1L)).write.mode("append").jdbc(url, "sink_ref", props)
    assert(columns("sink_new").map(_._2) == Seq("time", "appid", "type", "count", "batch_id"))
    assert(columns("sink_new") == columns("sink_ref"))
    val first = stored("sink_new")
    assert(first.size == 3 && first == stored("sink_ref"), first)

    HotMediaTrackJob.writeBatch(frame.select("count", "type", "time", "appid"), 1, url,
      "sink_reordered", props)
    assert(stored("sink_reordered") == first)
    HotMediaTrackJob.writeBatch(frame, 1, url, "sink_new", props) // replay
    assert(stored("sink_new") == first)

    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    Seq(7L, 8L, 9L).foreach(id => HotMediaTrackJob.writeBatch(frame, id, url, "sink_new", props))
    assert(compiles.getCount - before == 0, "a batch id compiled into the plan")
    assert(stored("sink_new").groupBy(_._5).view.mapValues(_.size).toMap ==
      Map(1L -> 3, 7L -> 3, 8L -> 3, 9L -> 3))
  }

  test("checkpoint recovery: restart resumes exactly-once from a file source") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_src").toString
    val out = Files.createTempDirectory("graft_out").toString
    val chk = Files.createTempDirectory("graft_chk").toString
    def writeFile(name: String, lines: String*): Unit =
      Files.write(java.nio.file.Paths.get(in, name),
        lines.mkString("\n").getBytes)

    def startQuery() = spark.readStream
      .schema("k STRING")
      .csv(in)
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", chk).start()

    writeFile("f1.csv", "a", "b")
    val q1 = startQuery()
    try { q1.processAllAvailable() } finally q1.stop()

    // second batch arrives while the query is DOWN; restart must pick it
    // up from the checkpoint without re-emitting f1's rows
    writeFile("f2.csv", "c")
    val q2 = startQuery()
    try { q2.processAllAvailable() } finally q2.stop()

    val got = spark.read.parquet(out).as[String].collect().sorted.toSeq
    assert(got == Seq("a", "b", "c"), s"got $got")
  }
}
