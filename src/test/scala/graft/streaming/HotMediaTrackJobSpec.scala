package graft.streaming

import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Job-A streaming semantics (FIXTURES.md §1.1): epoch-aligned
  * end-exclusive 30 s windows, unit normalization, null event_time,
  * unknown JSON fields, late-row drop under the ascending watermark,
  * one JSON parse per line. */
class HotMediaTrackJobSpec extends SparkSuite {

  private def js(appid: String, etype: Int, logTimeMs: Long,
      eventTime: Option[Long] = None, extra: String = ""): String = {
    val et = eventTime.map(t => s""""event_time": $t,""").getOrElse("")
    s"""{"appid": "$appid", "event_type": $etype, "timestamp": ${logTimeMs / 1000}, $et "log_time": $logTimeMs$extra}"""
  }

  test("tumbling window counts: boundaries, late drop, null event_time") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val out = HotMediaTrackJob.pipeline(input.toDF())
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("jobA").start()
    try {
      // batch 1: two keys across the [0,30s) / [30s,60s) boundary
      input.addData(
        js("a1", 2, 10000, extra = """, "brand": "Honor", "lat": 30.4"""),
        js("a1", 2, 20000, eventTime = Some(15)),
        js("a2", 3, 29999), // last instant of [0,30s)
        js("a1", 2, 30000)) // first instant of [30s,60s)
      q.processAllAvailable()
      // batch 2: watermark pusher (closes everything ≤ 90s) + a late row
      // for the already-finalized [0,30s) window → must be dropped
      input.addData(js("a9", 1, 95000), js("a1", 2, 5000))
      q.processAllAvailable()

      val rows = spark.table("jobA")
        .select(unix_millis(col("time")).as("end"), col("appid"), col("type"), col("count"))
        .as[(Long, String, Int, Long)].collect().toSet
      assert(rows.contains((30000L, "a1", 2, 2L)), s"got $rows") // late row NOT counted
      assert(rows.contains((30000L, "a2", 3, 1L)))
      assert(rows.contains((60000L, "a1", 2, 1L)))
      // window [0,30s) emitted exactly once despite the late row
      assert(rows.count(_._1 == 30000L) == 2)
    } finally q.stop()
  }

  test("parse: projection, unit normalization, unknown fields ignored") {
    import spark.implicits._
    val raw = Seq(
      js("app", 7, 1579337998710L, eventTime = Some(1579337996L), extra = """, "junk": "x""""),
      js("app2", 1, 1000)).toDF("value")
    val got = HotMediaTrackJob.parse(raw).collect()
    val r = got.find(_.getString(0) == "app").get
    assert(r.getInt(1) == 7)
    assert(r.getLong(2) == 1579337998710L / 1000 * 1000) // sendTime = s→ms
    assert(r.getLong(3) == 1579337996000L)               // eventTime s→ms
    assert(r.getLong(4) == 1579337998710L)               // receiveTime already ms
    val r2 = got.find(_.getString(0) == "app2").get
    assert(r2.isNullAt(3), "absent event_time must stay null")
  }

  test("typed parse: Dataset[LogTrack] with Option-typed nullable field") {
    import spark.implicits._
    val raw = Seq(
      js("app", 7, 1579337998710L, eventTime = Some(1579337996L)),
      js("app2", 1, 1000)).toDF("value")
    val got = HotMediaTrackJob.parseTyped(raw).collect().sortBy(_.appid)
    assert(got.head == graft.model.LogTrack("app", 7, 1579337998000L,
      Some(1579337996000L), 1579337998710L))
    assert(got(1).eventTime.isEmpty)
  }

  private def jsonParses(plan: LogicalPlan): Int =
    plan.flatMap(_.expressions.flatMap(_.collect { case j: JsonToStructs => j })).size

  test("parse: one from_json per line, in a batch plan and in a micro-batch") {
    // a file scan, as the job reads: over a local Seq the optimizer
    // would evaluate the whole parse into a LocalRelation
    val file = java.nio.file.Files.createTempFile("graft_jobA", ".json")
    java.nio.file.Files.writeString(file, js("a1", 2, 10000))
    val batchPlan = HotMediaTrackJob.parse(spark.read.text(file.toString))
      .queryExecution.optimizedPlan
    assert(jsonParses(batchPlan) == 1, batchPlan)

    // no-data batches off, so the last execution is the data batch
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[String]
    val q = HotMediaTrackJob.pipeline(input.toDF()).writeStream.outputMode("append")
      .format("memory").queryName("jobA_parse_once").start()
    try {
      input.addData(js("a1", 2, 10000), js("a2", 3, 20000))
      q.processAllAvailable()
      assert(q.lastProgress.numInputRows == 2)
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.optimizedPlan
      assert(jsonParses(plan) == 1, plan)
    } finally q.stop()
  }

  test("parse keeps and drops the same rows as a field-by-field null check") {
    import spark.implicits._
    val good = js("a1", 2, 10000, eventTime = Some(9), extra = """, "brand": "Honor"""")
    val raw = Seq(
      good,
      js("a2", 3, 20000),
      good.take(good.length / 2),                                               // truncated JSON
      """{"appid": "a3", "event_type": 1, "timestamp": 30, "brand": "Mi"}""",   // no log_time
      """{"appid": "a4", "event_type": "click", "timestamp": 30, "log_time": 30000}""",
      """{"appid": null, "event_type": 1, "timestamp": 30, "log_time": 30000}""",
      "not json at all").toDF("value")
    // the checks of `parse` spelled over a plain `from_json(...) AS j`
    val reference = raw.select(from_json(col("value"), HotMediaTrackJob.wireSchema).as("j"))
      .filter(col("j").isNotNull && col("j.appid").isNotNull
        && col("j.event_type").isNotNull && col("j.timestamp").isNotNull
        && col("j.log_time").isNotNull)
      .select(col("j.appid").as("appid"), col("j.event_type").as("type"),
        (col("j.timestamp") * 1000).as("sendTime"), (col("j.event_time") * 1000).as("eventTime"),
        col("j.log_time").as("receiveTime"))
    val got = HotMediaTrackJob.parse(raw)
    assert(got.schema == reference.schema) // nullability too: it reaches the sink's DDL
    assert(got.collect().toSet == reference.collect().toSet)
    assert(got.select("appid").as[String].collect().sorted.toSeq == Seq("a1", "a2"))
  }
}
