package perfbench

import java.nio.file.Files

import scala.collection.mutable
import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.sources.Tables

/** The batch workload: declared queries from `SparkEntry.queries` under
  * Bench's protocol (noop sink; PipelineCaches.release and clearCache after
  * every query; Bench's confs plus Engine.tune), in the order run.py drew
  * from the seed.
  *  - setup (three times, each on a fresh session): open every table
  *    through its `Tables` accessor;
  *  - dump: every query once, its result written as parquet for the DuckDB
  *    check in run.py (untimed; it is also the JIT's first pass);
  *  - timed: `passes` whole passes; each query run is timed as build (the
  *    call into SparkEntry) plus execute (the noop write);
  *  - traced runs only: the tables opened again and two passes with the
  *    listener registered, each query run untraced and traced (the plan
  *    forced as its own step), then one pass at `local[1]`. */
object BatchBench {
  private val tables: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  def run(spec: Spec, out: mutable.LinkedHashMap[String, Any]): Unit = {
    val cores = spec.int("cores")
    val sf = spec.get("sf_dir")
    val names = spec.get("queries").split(",").toSeq
    val dump = spec.path("dump")

    def openTables(spark: SparkSession): Seq[(String, Double)] = tables.map { case (t, f) =>
      spark.sparkContext.setJobGroup(s"sources|$t", t)
      val t0 = Clock.now
      f(spark, sf)
      t -> (Clock.now - t0)
    }.tap(_ => spark.sparkContext.clearJobGroup())

    val setupMs = Clock.phase("setup") { (1 to 3).map { i =>
      val t0 = if (i == 1) Clock.jvmStart else Clock.now
      val spark = Sessions.open(cores)
      openTables(spark)
      val t = Clock.now - t0
      if (i < 3) Sessions.close(spark)
      t
    } }
    out("setup_ms") = setupMs
    var spark = SparkSession.active

    def release(): Unit = {
      graft.ops.PipelineCaches.release(spark)
      spark.sharedState.cacheManager.clearCache()
    }

    out("dump") = Clock.phase("dump") { names.map { n =>
      val err =
        try {
          SparkEntry.queries(n)(spark, sf).coalesce(1).write.mode("overwrite")
            .parquet(dump.resolve(n).toString)
          None
        } catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      release()
      Map("query" -> n, "error" -> err)
    } }
    Files.writeString(dump.resolve("oracle_sql.json"),
      Json(names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))

    var spans: Option[Spans] = None

    /** One timed query run; traced runs also force the plan as its own
      * step and record a span per step. */
    def timed(n: String, pass: Int, traced: Boolean): Map[String, Any] = {
      val sc = spark.sparkContext
      def phase[T](name: String)(body: => T): (T, Double, Double) = {
        if (traced) sc.setJobGroup(s"$n|$name", n)
        val t0 = Clock.now
        val r = body
        (r, t0, Clock.now)
      }
      val t0 = Clock.now
      var steps = List.empty[(String, Double, Double)]
      val err =
        try {
          val (df, b0, b1) = phase("entry.build")(SparkEntry.queries(n)(spark, sf))
          steps ::= (("entry.build", b0, b1))
          if (traced) {
            val (_, p0, p1) = phase("plan")(df.queryExecution.executedPlan)
            steps ::= (("plan", p0, p1))
          }
          val (_, e0, e1) = phase("exec")(df.write.format("noop").mode("overwrite").save())
          steps ::= (("exec", e0, e1))
          None
        } catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val (_, r0, r1) = phase("release")(release())
      steps ::= (("release", r0, r1))
      if (traced) sc.clearJobGroup()
      val t1 = Clock.now
      spans.foreach { s =>
        val root = s.record("query", -1, t0, t1, Map("query" -> n, "pass" -> pass))
        steps.reverse.foreach { case (name, a, b) => s.record(name, root, a, b) }
      }
      Map("query" -> n, "pass" -> pass, "wall_ms" -> (t1 - t0), "error" -> err) ++
        steps.map { case (name, a, b) => s"$name.ms" -> (b - a) }
    }

    /** Whole passes over the queries. With `traced`, every query runs twice
      * in a row, untraced and traced in an order that alternates by pass,
      * so the tracing overhead compares neighbouring runs. */
    def passes(count: Int, traced: Boolean = false): Seq[Map[String, Any]] =
      for {
        pass <- 1 to count
        n <- names
        t <- if (!traced) Seq(false) else if (pass % 2 == 1) Seq(false, true) else Seq(true, false)
      } yield timed(n, pass, t) + ("traced" -> t)

    val samples = Clock.phase("timed")(passes(spec.int("passes")))
    out("samples") = samples
    if (spec.trace) {
      val l = new LayerListener
      spark.sparkContext.addSparkListener(l)
      spans = Some(new Spans(s"${spec.get("workload")}-${spec.get("seed")}"))
      out("sources") = openTables(spark)
      out("traced_samples") = Clock.phase("traced")(passes(2, traced = true))
      org.apache.spark.GraftListenerDrain.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
      out("tallies") = l.snapshot
      out("cache_peak_bytes") = l.cachePeakBytes
      out("spans") = spans.get.all
      spans = None
    }
    out("floor_ms") = Sessions.floorMs(spark)
    if (spec.trace) {
      Sessions.close(spark)
      spark = Sessions.open(1)
      out("one_core_samples") = Clock.phase("one_core")(passes(1))
    }
    Sessions.close(spark)
  }
}
