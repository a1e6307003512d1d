package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.DriverManager

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.RankedItem
import graft.streaming.{HotItemAnalysisJob, HotMediaTrackJob}

/** The two streaming workloads: Job A (`media`, HotMediaTrackJob.pipeline
  * into writeBatch over embedded Derby) and Job B (`items`,
  * HotItemAnalysisJob.pipeline with its result rows collected per batch).
  *
  * Every phase runs the job on its own directory with a fresh checkpoint
  * and `maxFilesPerTrigger=1`:
  *  - setup (three times, each on a fresh session): start, run the
  *    one-file set-up directory, stop;
  *  - warm: an untimed backlog that brings the JIT to steady state;
  *  - rounds of drain then live (each on a fresh query and checkpoint):
  *    drain is a closed loop over the pre-written backlog; live is an open
  *    loop where a generator thread moves one staged file into the round's
  *    source directory per tick by atomic rename;
  *  - traced runs only: the drain again with the listener registered, once
  *    more untraced, and at `local[1]`.
  * Inputs, the schedule's due times and the checks live in run.py. */
object StreamBench {
  private val derbyUrl = "jdbc:derby:memory:perfbench;create=true"

  /** One started query and the benchmark's log of its sink calls. */
  final class Run(val phase: String, val openMs: Double, val buildMs: Double) {
    var query: StreamingQuery = _
    val sinkCalls = mutable.ArrayBuffer[(Long, Double, Double)]() // batchId, start, end
  }

  def run(spec: Spec, out: mutable.LinkedHashMap[String, Any]): Unit = {
    val job = spec.get("job")
    val cores = spec.int("cores")
    val work = spec.path("work")
    val phases = mutable.LinkedHashMap[String, Map[String, Any]]()
    val itemRows = mutable.ArrayBuffer[(String, Long, RankedItem)]()
    var spans: Option[Spans] = None // set while the traced drain runs

    def start(spark: SparkSession, dir: Path, phase: String): Run = {
      val sc = spark.sparkContext
      sc.setJobGroup("sources", phase)
      val t0 = Clock.now
      val lines = spark.readStream.option("maxFilesPerTrigger", "1").text(dir.toString)
      val t1 = Clock.now
      sc.setJobGroup("entry.build", phase)
      val writer = job match {
        case "media" => HotMediaTrackJob.pipeline(lines).writeStream
        case "items" => HotItemAnalysisJob.pipeline(lines, 3).toDF().writeStream
      }
      val t2 = Clock.now
      sc.clearJobGroup()
      val run = new Run(phase, t1 - t0, t2 - t1)
      run.query = writer.outputMode("append")
        .option("checkpointLocation", work.resolve("ckpt").resolve(phase).toString)
        .foreachBatch { (batch: DataFrame, id: Long) => sink(run, batch, id) }
        .start()
      run
    }

    def sink(run: Run, batch: DataFrame, id: Long): Unit = {
      val t0 = Clock.now
      job match {
        case "media" =>
          HotMediaTrackJob.writeBatch(batch, id, derbyUrl, s"media_${run.phase}",
            new java.util.Properties())
        case "items" =>
          val spark = batch.sparkSession
          import spark.implicits._
          val rows = batch.as[RankedItem].collect()
          itemRows.synchronized(rows.foreach(r => itemRows += ((run.phase, id, r))))
      }
      val t1 = Clock.now
      run.sinkCalls.synchronized(run.sinkCalls += ((id, t0, t1)))
      spans.foreach(_.record("sink.call", -1, t0, t1, Map("batch" -> id, "phase" -> run.phase)))
    }

    def finish(run: Run, extra: Map[String, Any] = Map.empty): Unit = {
      Clock.phase(run.phase)(run.query.processAllAvailable())
      run.query.stop()
      run.query.exception.foreach(e => throw e)
      phases(run.phase) = Map(
        "open_ms" -> run.openMs, "build_ms" -> run.buildMs,
        "sink" -> run.sinkCalls.toList,
        "progress" -> run.query.recentProgress.map(p => Json.Raw(p.json)).toList) ++ extra
    }

    val setupMs = (1 to 3).map { i =>
      val t0 = if (i == 1) Clock.jvmStart else Clock.now
      val spark = Sessions.open(cores)
      finish(start(spark, spec.path("dir.setup"), s"setup$i"))
      val t = Clock.now - t0
      if (i < 3) Sessions.close(spark)
      t
    }
    out("setup_ms") = setupMs
    var spark = SparkSession.active

    // live: a prime file first (it runs the query's first batches and is
    // not on the schedule), then one staged file per tick
    def live(stage: Path, dir: Path, phase: String): Unit = {
      val staged = Files.list(stage).iterator().asScala.toList.sortBy(_.toString)
      def publish(f: Path): Unit =
        Files.move(f, dir.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
      val run = start(spark, dir, phase)
      publish(staged.head)
      run.query.processAllAvailable()
      val tick = spec.dbl("tick_ms")
      // the prime file has been processed and the query is idle
      val t0 = Clock.now + tick / 4
      val due = staged.tail.indices.map(i => t0 + i * tick)
      val published = Array.fill(due.size)(0.0)
      var committedAtEnd = 0L
      val generator = new Thread(() => {
        for ((f, i) <- staged.tail.zipWithIndex) {
          val wait = due(i) - Clock.now
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          publish(f)
          published(i) = Clock.now
        }
        committedAtEnd = run.query.recentProgress.map(_.numInputRows).sum
      }, "perfbench-generator")
      generator.start()
      generator.join()
      finish(run, Map("due" -> due, "published" -> published.toSeq,
        "committed_rows_at_last_publish" -> committedAtEnd))
    }

    finish(start(spark, spec.path("dir.warm"), "warm"))
    // drains and live phases alternate, so a slow spell of the host falls
    // on one round rather than on all of one metric's samples
    for (r <- 1 to spec.int("rounds")) {
      finish(start(spark, spec.path("dir.drain"), s"drain$r"))
      live(spec.path(s"dir.stage$r"), spec.path(s"dir.live$r"), s"live$r")
    }

    if (spec.trace) {
      val l = new LayerListener
      spark.sparkContext.addSparkListener(l)
      spans = Some(new Spans(s"${spec.get("workload")}-${spec.get("seed")}"))
      finish(start(spark, spec.path("dir.drain"), "drain_traced"))
      org.apache.spark.GraftListenerDrain.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
      out("tallies") = l.snapshot
      out("cache_peak_bytes") = l.cachePeakBytes
      out("spans") = spans.get.all
      spans = None
      // untraced again, so the tracing overhead is taken against the
      // untraced drains on both sides of the traced one
      finish(start(spark, spec.path("dir.drain"), "drain_after"))
    }
    out("floor_ms") = Clock.phase("floor")(Sessions.floorMs(spark))
    if (spec.trace) {
      Sessions.close(spark)
      spark = Sessions.open(1)
      finish(start(spark, spec.path("dir.drain"), "drain_1core"))
    }
    out("phases") = phases
    Clock.phase("outputs") {
      writeOutputs(job, phases.keys.toSeq, itemRows.toSeq, work.resolve("outputs.csv"))
    }
    Clock.phase("close")(Sessions.close(spark))
  }

  /** Every result row the sink received, as CSV for run.py's checks. */
  private def writeOutputs(job: String, phases: Seq[String],
      itemRows: Seq[(String, Long, RankedItem)], file: Path): Unit = {
    val lines = job match {
      case "items" => itemRows.map { case (ph, id, r) =>
        s"$ph,$id,${r.windowEnd},${r.rank},${r.itemId},${r.count}" }
      case "media" =>
        val conn = DriverManager.getConnection(derbyUrl)
        try phases.flatMap { ph =>
          val rs = conn.createStatement().executeQuery(
            s"""SELECT "batch_id", "time", "appid", "type", "count" FROM media_$ph""")
          val buf = mutable.ArrayBuffer[String]()
          while (rs.next()) buf += s"$ph,${rs.getLong(1)},${rs.getTimestamp(2).getTime}," +
            s"${rs.getString(3)},${rs.getInt(4)},${rs.getLong(5)}"
          rs.close()
          buf
        } finally conn.close()
    }
    Files.write(file, lines.asJava)
  }
}
