package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.model.RankedItem
import graft.ops.EventWindows

/** Job-B semantics (FIXTURES.md §1.2): pv filter, sliding panes, stateful
  * Top-3 with deterministic tie-break, stream/batch parity. */
class HotItemAnalysisJobSpec extends SparkSuite {

  // userId,itemId,categoryId,behavior,timestamp(epoch s) — with the
  // reference's tolerated whitespace (HotItemAnalysis.java:84-91)
  private def csv(item: Long, behavior: String, ts: Long): String =
    s"${1000 + ts}, $item, 77, $behavior, $ts"

  // window [0,3600s): i1×3, i2×2, i3×2 (tie), i4×1; buys must be filtered
  private val window1 = Seq(
    csv(1, "pv", 10), csv(1, "pv", 600), csv(1, "pv", 3599),
    csv(2, "pv", 20), csv(2, "pv", 1200),
    csv(3, "pv", 30), csv(3, "pv", 2400),
    csv(4, "pv", 40),
    csv(4, "buy", 50), csv(4, "buy", 60), csv(4, "buy", 70), csv(4, "buy", 80))

  test("stateful top-3 per window end: filter, tie-break, truncation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val out = HotItemAnalysisJob.pipeline(input.toDF(), n = 3)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("jobB").start()
    try {
      input.addData(window1: _*)
      q.processAllAvailable()
      input.addData(csv(9, "pv", 20000)) // watermark pusher
      q.processAllAvailable()

      val got = spark.table("jobB").as[RankedItem].collect()
      val w1 = got.filter(_.windowEnd == 3600000L).sortBy(_.rank)
      assert(w1.map(r => (r.rank, r.itemId, r.count)).toSeq ==
        Seq((1, 1L, 3L), (2, 2L, 2L), (3, 3L, 2L)), s"got ${w1.toSeq}")
      // i4 truncated everywhere; buys never counted
      assert(!got.exists(r => r.itemId == 4 && r.count > 1))
    } finally q.stop()
  }

  test("stream/batch parity on finalized windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val q = HotItemAnalysisJob.pipeline(input.toDF(), n = 3)
      .writeStream.outputMode("append").format("memory").queryName("jobBp").start()
    val wmPusherTs = 20000L
    try {
      input.addData(window1: _*)
      q.processAllAvailable()
      input.addData(csv(9, "pv", wmPusherTs))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("jobBp").as[RankedItem].collect()
      .filter(_.windowEnd <= wmPusherTs * 1000).toSet

    // the batch rank filter over the panes the streamed job uses
    val pv = HotItemAnalysisJob.parseCsv(window1.toDF("value"))
      .filter(col("behavior") === "pv")
      .withColumn("ts", timestamp_millis(col("tsMillis")))
    val batch = EventWindows.slideTopN(pv, "itemId", 3)
      .select(unix_millis(col("windowEnd")).as("windowEnd"), col("rank").cast("int").as("rank"),
        col("itemId"), col("count"))
      .as[RankedItem].collect()
      .filter(_.windowEnd <= wmPusherTs * 1000).toSet

    assert(streamed == batch,
      s"stream-only: ${streamed -- batch}; batch-only: ${batch -- streamed}")
  }

  test("csv parse trims fields and normalizes seconds to millis") {
    import spark.implicits._
    val got = HotItemAnalysisJob.parseCsv(Seq(" 543462 ,1715, 1464116 , pv ,1511658000").toDF("value"))
      .as[(Long, Long, Long, String, Long)].collect().head
    assert(got == ((543462L, 1715L, 1464116L, "pv", 1511658000000L)))
    val typed = HotItemAnalysisJob.parseTyped(
      Seq("543462,1715,1464116,pv,1511658000").toDF("value")).collect().head
    assert(typed == graft.model.UserBehavior(543462L, 1715L, 1464116L, "pv", 1511658000000L))
  }
}
