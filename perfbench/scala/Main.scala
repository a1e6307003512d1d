package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Properties

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `perfbench/run.py` writes a spec (a Java
  * properties file), runs `perfbench.Main <spec>`, and reads back the raw
  * measurements this writes to the spec's `result` path as JSON. All
  * statistics and correctness checks are made in Python from those raw
  * numbers; this side only drives the program and times its calls. */
object Main {
  def main(args: Array[String]): Unit = {
    val spec = new Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)))
    try spec.load(in) finally in.close()
    val out = mutable.LinkedHashMap[String, Any]()
    out("spark_version") = org.apache.spark.SPARK_VERSION
    out("jdk") = System.getProperty("java.runtime.version")
    Spec(spec).get("kind") match {
      case "stream" => StreamBench.run(Spec(spec), out)
      case "batch" => BatchBench.run(Spec(spec), out)
      case k => sys.error(s"unknown workload kind $k")
    }
    out("timeline") = Clock.timeline
    Files.writeString(Paths.get(spec.getProperty("result")), Json(out))
    // every session is stopped by now; skip the shutdown hooks' cleanup of
    // directories run.py removes anyway
    Runtime.getRuntime.halt(0)
  }
}

case class Spec(p: Properties) {
  def get(k: String): String =
    Option(p.getProperty(k)).getOrElse(sys.error(s"spec lacks $k"))
  def int(k: String): Int = get(k).toInt
  def dbl(k: String): Double = get(k).toDouble
  def path(k: String): Path = Paths.get(get(k))
  def trace: Boolean = get("trace") == "1"
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * Python can line up JVM-side times with the due times it computed. */
object Clock {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  /** When this JVM started (epoch ms): set-up is timed from here. */
  def jvmStart: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  /** Start and end of each phase of the run, for the record. */
  val timeline = mutable.ArrayBuffer[(String, Double, Double)]()
  def phase[T](name: String)(body: => T): T = {
    val t0 = now
    try body finally timeline += ((name, t0, now))
  }
}

object Sessions {
  /** Bench's session (same confs, plus Engine.tune) at `local[cores]`.
    * `numRecentProgressUpdates` only widens the progress history the
    * benchmark reads back; it changes nothing the program does. */
  def open(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    graft.Engine.tune(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def close(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Bench's fixed job-floor probe: dispatch plus a codegen-cached
    * in-memory aggregate, no IO. Min of 6 (the first pays codegen). */
  def floorMs(spark: SparkSession): Double = (1 to 6).map { _ =>
    val t0 = Clock.now
    spark.range(1L << 22).selectExpr("sum(id * 31) as s")
      .write.format("noop").mode("overwrite").save()
    Clock.now - t0
  }.min
}

/** Minimal JSON writer for maps, sequences, numbers and strings. */
object Json {
  /** Text that is already JSON (Spark's progress records). */
  final case class Raw(json: String)

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case Raw(s) => s
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productIterator.toSeq)
    case x => quote(x.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
