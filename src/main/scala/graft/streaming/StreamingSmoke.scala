package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** Runnable end-to-end smoke for the streaming layer:
  * `sbt "runMain graft.streaming.StreamingSmoke <inDir>"`.
  *
  * Feeds CSV files from <inDir> (one file per micro-batch — a real file
  * streaming source) through the Job-B pipeline and prints the ranked
  * hot items; then exercises the Job-A JSON parser on a mixed
  * valid/garbage batch. Used for manual verification where the MySQL /
  * Kafka endpoints of the reference don't exist. Each query also prints
  * one `[stream]` JSON line of its progress totals ([[progressLine]]).
  */
object StreamingSmoke {
  /** `[stream]` + JSON: the query's batch count and, summed over its
    * `recentProgress`, the micro-batch phase times that carry the sink
    * (`addBatch`) and the checkpoint writes (`walCommit` for the offset
    * log, `commitOffsets` for the commit log), plus the state stores'
    * `commitTimeMs`. */
  def progressLine(q: StreamingQuery): String = {
    val ps = q.recentProgress
    def phase(k: String) = ps.map(_.durationMs.getOrDefault(k, 0L).longValue).sum
    val stateCommit = ps.flatMap(_.stateOperators).map(_.commitTimeMs).sum
    val phases = Seq("addBatch", "walCommit", "commitOffsets")
      .map(k => s""""${k}_ms":${phase(k)}""").mkString(",")
    s"""[stream] {"query":"${Option(q.name).getOrElse(q.id)}","batches":${ps.length},""" +
      s"""$phases,"state_commit_ms":$stateCommit}"""
  }

  def main(args: Array[String]): Unit = {
    val inDir = args.headOption.getOrElse("/tmp/drive/jobB_in")
    val spark = graft.Engine.session()
    import spark.implicits._

    val lines = spark.readStream.option("maxFilesPerTrigger", "1").text(inDir)
    val q = HotItemAnalysisJob.pipeline(lines, 3)
      .writeStream.outputMode("append").format("memory").queryName("smokeB").start()
    q.processAllAvailable()
    println(progressLine(q))
    println("=== JobB ranked items (window end 3600000 ms) ===")
    spark.sql("select * from smokeB where windowEnd = 3600000 order by rank").show(false)
    println("=== JobB distinct emitted windows: " +
      spark.sql("select count(distinct windowEnd) n from smokeB").first.getLong(0))
    q.stop()

    println("=== JobA parse incl. malformed line ===")
    val jsons = Seq(
      """{"appid":"a1","event_type":2,"timestamp":10,"log_time":10000,"brand":"Honor"}""",
      """{"appid":"a1","event_type":2,"timestamp":20,"log_time":20000}""",
      """not json at all""",
      """{"appid":"a2","event_type":3,"timestamp":29,"log_time":29999}""").toDF("value")
    HotMediaTrackJob.parse(jsons).show(false)

    // Job A full pipeline over a real file stream: JSON lines → parse →
    // 30 s tumbling counts → console-style dump (the MySQL sink shape
    // minus the absent database)
    val aDir = java.nio.file.Files.createTempDirectory("smoke_jobA").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(aDir, "b1.json"),
      (Seq(10000L, 20000L, 29999L).map(t =>
        s"""{"appid":"a1","event_type":2,"timestamp":${t / 1000},"log_time":$t}""") :+
        s"""{"appid":"a2","event_type":3,"timestamp":15,"log_time":15000}""" :+
        s"""{"appid":"a9","event_type":1,"timestamp":95,"log_time":95000}""") // wm pusher
        .mkString("\n").getBytes)
    val qa = HotMediaTrackJob.pipeline(
        spark.readStream.option("maxFilesPerTrigger", "1").text(aDir)
          .withColumnRenamed("value", "value"))
      .writeStream.outputMode("append").format("memory").queryName("smokeA").start()
    qa.processAllAvailable()
    println(progressLine(qa))
    println("=== JobA windowed counts (full pipeline over file source) ===")
    spark.sql("select unix_millis(time) end_ms, appid, type, count from smokeA order by end_ms, appid").show(false)
    qa.stop()
    println("SMOKE_DONE")
    spark.stop()
  }
}
