package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark work attributed to one group: one query phase in the batch
  * workload (the job group the benchmark sets around each call), or one
  * micro-batch in the streaming workloads (the `streaming.sql.batchId` job
  * property). */
final class Tally {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuMs, gcMs, fetchWaitMs = 0.0
  var shuffleWrite, shuffleRead, spill, inputBytes, inputRows = 0L
  val taskIntervals = mutable.ArrayBuffer[(Long, Long)]()

  /** Wall time during which at least one task of the group ran. */
  def busyMs: Double = {
    var covered, end = 0L
    for ((s, e) <- taskIntervals.sortBy(_._1)) {
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    covered.toDouble
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_ms" -> taskRunMs, "task_cpu_ms" -> taskCpuMs, "gc_ms" -> gcMs,
    "fetch_wait_ms" -> fetchWaitMs, "shuffle_write_bytes" -> shuffleWrite,
    "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill,
    "input_bytes" -> inputBytes, "input_rows" -> inputRows, "busy_ms" -> busyMs)
}

/** The benchmark's own listener, registered only in traced runs. */
final class LayerListener extends SparkListener {
  private val tallies = mutable.LinkedHashMap[String, Tally]()
  private val stageGroup = mutable.Map[Int, String]()
  private val blocks = mutable.Map[String, Long]()
  private var cached, peak = 0L

  private def group(props: java.util.Properties): String = Option(props).flatMap { p =>
    Option(p.getProperty("streaming.sql.batchId")).map("batch:" + _)
      .orElse(Option(p.getProperty("spark.jobGroup.id")))
  }.getOrElse("other")

  private def tally(g: String) = tallies.getOrElseUpdate(g, new Tally)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    tally(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(tally(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = tally(stageGroup.getOrElse(e.stageId, "other"))
    t.tasks += 1
    t.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      t.taskRunMs += m.executorRunTime
      t.taskCpuMs += m.executorCpuTime / 1e6
      t.gcMs += m.jvmGCTime
      t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.inputBytes += m.inputMetrics.bytesRead
      t.inputRows += m.inputMetrics.recordsRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cached += size - blocks.getOrElse(id, 0L)
      if (size > 0) blocks(id) = size else blocks.remove(id)
      peak = math.max(peak, cached)
    }
  }

  def snapshot: Map[String, Map[String, Any]] =
    synchronized(tallies.map { case (g, t) => g -> t.toMap }.toMap)
  def cachePeakBytes: Long = synchronized(peak)
}

/** Spans the benchmark records around its own calls into the program:
  * name, start, end (epoch ms), parent span and the run-wide trace id. */
final class Spans(traceId: String) {
  private val buf = mutable.ArrayBuffer[Map[String, Any]]()

  def record(name: String, parent: Int, start: Double, end: Double,
      attrs: Map[String, Any] = Map.empty): Int = synchronized {
    buf += Map("id" -> buf.size, "trace" -> traceId, "name" -> name,
      "parent" -> parent, "start" -> start, "end" -> end) ++ attrs
    buf.size - 1
  }

  def all: Seq[Map[String, Any]] = synchronized(buf.toList)
}
