package graft.sources

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, DOUBLE, INT64}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructType, TimestampNTZType, TimestampType}

import graft.SparkSuite

/** Source-layer behaviors: declared schemas checked against the footer,
  * the footer memo, the legacy events generation, fanout's starvation
  * guard and Catalog's registration memo. */
class TablesSpec extends SparkSuite {

  private val accessors: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  private val scaleFactors =
    Seq("sf0.001", "sf0.01", "sf0.1").map(new File(sf).getParent + "/" + _)

  /** Write `df` as the ONE parquet file `dest` (the generator's layout). */
  private def writeFile(df: DataFrame, dest: File): Unit = {
    val stage = Files.createTempDirectory("tables_spec_stage").toFile
    df.coalesce(1).write.mode("overwrite").parquet(stage.getPath)
    val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, dest.toPath, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Jobs started by `body`, counted after the listener bus drains. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.GraftListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.GraftListenerDrain.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    jobs.get
  }

  test("declared schemas equal the inferred footer schemas at every scale factor") {
    for (dir <- scaleFactors; (t, accessor) <- accessors) {
      val inferred = spark.read.parquet(s"$dir/$t.parquet").schema
      assert(Tables.schemas(t) == inferred, s"$dir/$t: declared vs inferred")
      assert(Tables.read(spark, dir, t).schema == inferred, s"$dir/$t: read")
      // accessors keep their output schema: NTZ time columns normalized
      val normalized = StructType(inferred.map(f =>
        if (f.dataType == TimestampNTZType) f.copy(dataType = TimestampType) else f))
      assert(accessor(spark, dir).schema == normalized, s"$dir/$t: accessor")
    }
  }

  test("a second call to each accessor starts no Spark job") {
    accessors.foreach { case (_, accessor) => accessor(spark, sf) }
    for ((t, accessor) <- accessors)
      assert(jobsDuring(accessor(spark, sf).schema) == 0, s"$t: second call ran a job")
  }

  test("schema drift fails loudly, naming the table and the column") {
    val dir = Files.createTempDirectory("tables_spec_drift").toFile
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    writeFile(orders.withColumn("o_totalprice", col("o_totalprice").cast(StringType))
      .drop("o_orderpriority"), new File(dir, "orders.parquet"))
    val retyped = intercept[IllegalStateException](Tables.orders(spark, dir.getPath))
    Seq("orders", "o_totalprice", "STRING", "DOUBLE").foreach(w =>
      assert(retyped.getMessage.contains(w), s"'$w' missing from: ${retyped.getMessage}"))
    writeFile(orders.drop("o_orderpriority"), new File(dir, "orders.parquet"))
    val dropped = intercept[IllegalStateException](Tables.orders(spark, dir.getPath))
    Seq("orders", "o_orderpriority", "absent").foreach(w =>
      assert(dropped.getMessage.contains(w), s"'$w' missing from: ${dropped.getMessage}"))
  }

  test("rewriting a file re-runs the footer check instead of serving the memo") {
    val dir = Files.createTempDirectory("tables_spec_rewrite").toFile
    val file = new File(dir, "region.parquet")
    val region = spark.read.parquet(s"$sf/region.parquet")
    writeFile(region, file)
    assert(Tables.region(spark, dir.getPath).count() == 5)
    val before = (file.lastModified, file.length)
    writeFile(region.drop("r_name"), file)
    file.setLastModified(before._1 + 2000)
    assert((file.lastModified, file.length) != before, "rewrite must change the memo key")
    val e = intercept[IllegalStateException](Tables.region(spark, dir.getPath))
    assert(e.getMessage.contains("r_name"), e.getMessage)
    writeFile(region, file) // and back: a good file reads again
    file.setLastModified(before._1 + 4000)
    assert(Tables.region(spark, dir.getPath).count() == 5)
  }

  test("events: only the legacy TIMESTAMP(NANOS) generation sets nanosAsLong") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getOption(key)
    try {
      spark.conf.unset(key)
      Tables.events(spark, sf) // current fixtures: TIMESTAMP(MICROS)
      assert(spark.conf.get(key) == "false", "a MICROS events file must not touch the conf")
      // nor does the engine's own tuning set it up front
      val tuned = graft.Engine.tune(spark.newSession())
      Tables.events(tuned, sf)
      assert(tuned.conf.get(key) == "false", "Engine.tune must leave nanosAsLong unset")

      val dir = Files.createTempDirectory("tables_spec_nanos").toFile
      val schema = Types.buildMessage()
        .optional(INT64).named("event_id")
        .optional(INT64).as(LogicalTypeAnnotation.timestampType(false,
          LogicalTypeAnnotation.TimeUnit.NANOS)).named("ts")
        .optional(INT64).named("user_id")
        .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
        .optional(DOUBLE).named("value")
        .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
        .named("events")
      val nanos = Seq(1700000000123456789L, 1700000000999999999L, 1000L)
      val w = ExampleParquetWriter.builder(new Path(new File(dir, "events.parquet").getPath))
        .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
      val groups = new SimpleGroupFactory(schema)
      try nanos.zipWithIndex.foreach { case (ns, i) =>
        w.write(groups.newGroup().append("event_id", i.toLong).append("ts", ns)
          .append("user_id", 7L).append("event_type", "signup").append("value", 1.5)
          .append("props", """{"k": 1}"""))
      } finally w.close()

      val events = Tables.events(spark, dir.getPath)
      assert(spark.conf.get(key) == "true")
      assert(events.schema("ts").dataType == TimestampType)
      val micros = events.orderBy("event_id").selectExpr("unix_micros(ts)")
        .collect().map(_.getLong(0)).toSeq
      assert(micros == nanos.map(_ / 1000), "ts must be the ns value div 1000, as micros")
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("fanout un-starves a single-row-group table to session parallelism") {
    // the generator writes each test table as ONE file with ONE row
    // group — exactly the shape where byte-based split estimates lie
    // (slices beyond the row-group midpoint carry zero rows), so the
    // probe must still choose to repartition
    val docs = Tables.documents(spark, sf)
    assert(docs.rdd.getNumPartitions < spark.sparkContext.defaultParallelism,
      "fixture table should scan as fewer partitions than cores (else this spec is vacuous)")
    val fanned = Tables.fanout(docs)
    assert(fanned.rdd.getNumPartitions == spark.sparkContext.defaultParallelism,
      "single-row-group input must be repartitioned to the session's parallelism")
  }

  test("catalog memo: same dir skips re-registration, dir change re-points views") {
    val sf001 = "/root/testdata/sf0.001"
    val sf01 = "/root/testdata/sf0.01"
    Catalog.registerAll(spark, sf001)
    val small = spark.table("lineitem").count()
    Catalog.registerAll(spark, sf001) // memo hit: must keep views valid
    assert(spark.table("lineitem").count() == small)
    Catalog.registerAll(spark, sf01) // dir change: must RE-register
    val big = spark.table("lineitem").count()
    assert(big > small,
      s"views must follow the dir change (sf0.01=$big rows vs sf0.001=$small)")
    Catalog.registerAll(spark, sf001) // and back
    assert(spark.table("lineitem").count() == small)
  }
}
