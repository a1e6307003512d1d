package graft.ops

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.SparkSuite

/** The shared index read path ([[IndexRead]]): the meta record is read
  * once per (session, dir) and re-read after any rewrite, and it reads
  * `meta` files in the layout the indexes have always written. */
class IndexReadSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(pfx: String): String =
    java.nio.file.Files.createTempDirectory(pfx).toString

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

  private def docs = Seq(
    (1L, "data engine query"), (2L, "fast data"), (3L, "query engine"))
    .toDF("doc_id", "text")

  test("a second lookup on a TextIndex dir reads its meta without a job") {
    val dir = tmp("idxread_text")
    TextIndex.writeTextIndex(docs, dir, buckets = 8)
    val first = jobsDuring(TextIndex.bm25FromIndex(spark, dir))
    val second = jobsDuring(TextIndex.bm25FromIndex(spark, dir))
    assert(first >= 1, "the first lookup must read the meta file")
    assert(second == 0, s"a second lookup started $second jobs building its frame")
    assert(!TextIndex.bm25FromIndex(spark, dir).isEmpty)
  }

  test("a same-session rewrite with a different bucket count is seen") {
    val dir = tmp("idxread_rewrite")
    TextIndex.writeTextIndex(docs, dir, buckets = 8)
    assert(IndexRead.meta(spark, dir).getInt(0) == 8)
    TextIndex.writeTextIndex(docs, dir, buckets = 16)
    assert(IndexRead.meta(spark, dir).getInt(0) == 16)
    // a writer that bypasses writeMeta (another session or process) is
    // seen through the meta files' stamp
    spark.range(1).select(lit(32).as("buckets"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    assert(IndexRead.meta(spark, dir).getInt(0) == 32)
  }

  test("meta files in the indexes' existing layout read back equal") {
    def fields(r: Row) = r.schema.map(f => (f.name, f.dataType)) -> r.toSeq
    // (the existing writer, the same record through writeMeta)
    val layouts: Seq[(String => Unit, String => Unit)] = Seq(
      // TextIndex / PhraseIndex / KmvIndex / ReportIndex: an explicit
      // nullable INT schema through createDataFrame
      (d => spark.createDataFrame(java.util.List.of(Row(64)),
          StructType(Seq(StructField("buckets", IntegerType))))
        .coalesce(1).write.mode("overwrite").parquet(s"$d/meta"),
       d => IndexRead.writeMeta(spark, d, lit(64).as("buckets"))),
      // near-dup bands / image: one literal, no coalesce
      (d => spark.range(1).select(lit(40).as("band_buckets"))
        .write.mode("overwrite").parquet(s"$d/meta"),
       d => IndexRead.writeMeta(spark, d, lit(40).as("band_buckets"))),
      // span index: INT and BIGINT lanes
      (d => spark.range(1).select(lit(16).as("w"), lit(32).as("span_buckets"),
          lit(2L).as("freq_cap"), lit(-1L).as("n_frequent"))
        .write.mode("overwrite").parquet(s"$d/meta"),
       d => IndexRead.writeMeta(spark, d, lit(16).as("w"), lit(32).as("span_buckets"),
         lit(2L).as("freq_cap"), lit(-1L).as("n_frequent"))))
    layouts.foreach { case (existing, shared) =>
      val (a, b) = (tmp("idxread_old"), tmp("idxread_new"))
      existing(a); shared(b)
      assert(fields(IndexRead.meta(spark, a)) == fields(IndexRead.meta(spark, b)))
    }
  }
}
