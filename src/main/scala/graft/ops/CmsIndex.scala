package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The TENTH persisted index: a count-min sketch (Cormode & Muthukrishnan,
  * "An improved data stream summary: the count-min sketch and its
  * applications") over corpus token frequencies.
  *
  * A 100 TB ingestion loop wants approximate term frequencies ("how hot
  * is this token?") without re-scanning the corpus: the CMS is the
  * classic answer — a Depth×Width grid of counters, point estimate =
  * min over rows of the hashed-bucket counter, one-sided error
  * (estimate ≥ truth, overshoot ≤ εN with probability 1−δ). Two
  * properties make it the ideal persisted index here:
  *
  *  - it is ADDITIVE: merging two sketches is elementwise counter sum,
  *    so appends are pure file appends of per-batch partials and the
  *    reader folds them with one tiny aggregate (the ReportIndex
  *    stats-table discipline exactly);
  *  - it is METADATA-SIZED: Depth×Width counters regardless of corpus
  *    size — the sketch table never grows past 4096 rows, while the
  *    exact term-count table it approximates is vocab-sized.
  *
  * Hashes are the engine's portable md5-15-nibble spelling
  * (`bigint(md5('cms{d}:' ‖ token)[0:15]) mod Width`), so the DuckDB
  * oracle replays the whole sketch bit-identically: the declared
  * queries emit the sketch's error law AS DATA — (token, n_exact,
  * n_est) for the exact top-k tokens, n_est ≥ n_exact guaranteed —
  * the same adjudication as q_minhash_est's collision estimator.
  *
  * Scale shape: the only corpus-scale work is the one token shuffle to
  * the vocab-bounded term-count table (the budget every TextOps
  * aggregate pays); the sketch derives from THAT table (explode ×Depth
  * of vocab rows, never of corpus tokens), and the estimate join
  * broadcasts the ≤4096-row sketch. Same single-writer append + DirSwap
  * compaction discipline as the other nine indexes.
  */
object CmsIndex {

  val Depth = 4
  val Width = 1024

  private val SketchSchema = StructType(Seq(
    StructField("d", IntegerType), StructField("bucket", LongType),
    StructField("c", LongType)))

  /** Row-d bucket of a token — the portable md5-15-nibble hash. */
  private def bucketCol(token: Column, d: Int): Column =
    pmod(conv(substring(md5(concat(lit(s"cms$d:"), token)), 1, 15), 16, 10)
      .cast("long"), lit(Width.toLong))

  /** (token, n) corpus term frequencies — the ONE corpus-scale shuffle. */
  def termCounts(docs: DataFrame): DataFrame =
    graft.sources.Tables.fanout(docs)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))

  /** Sketch partials from a term-count table: Depth rows per vocab
    * entry → (d, bucket, c) counters. Vocab-bounded input, 4096-row
    * output. */
  private def sketchOf(termCounts: DataFrame): DataFrame = {
    val rows = array((0 until Depth).map(d =>
      struct(lit(d).as("d"), bucketCol(col("token"), d).as("bucket"))): _*)
    termCounts
      .select(col("n"), explode(rows).as("db"))
      .groupBy(col("db.d").as("d"), col("db.bucket").as("bucket"))
      .agg(sum(col("n")).as("c"))
  }

  /** Point estimates for a (token, n_exact) probe frame against a
    * sketch. The sketch is ≤ Depth×Width rows — METADATA-SIZED BY
    * CONSTRUCTION (that bound is the sketch's whole point), so it
    * collects to Depth counter arrays riding the plan as literals and
    * the lookup folds into the probe projection: `least` over Depth
    * `element_at` reads, no join, no post-join re-aggregate (the
    * explode + broadcast-join spelling paid an extra job and exchange
    * for a 4096-row table — the argmax-collect discipline applies). */
  private def estimates(top: DataFrame, sketch: DataFrame): DataFrame = {
    val grid = Array.fill(Depth)(new Array[Long](Width))
    sketch.collect().foreach { r =>
      grid(r.getAs[Int]("d"))(r.getAs[Long]("bucket").toInt) = r.getAs[Long]("c")
    }
    val est = least((0 until Depth).map(d =>
      element_at(lit(grid(d)), bucketCol(col("token"), d).cast("int") + 1)): _*)
    top.select(col("token"), col("n_exact"), est.as("n_est"))
  }

  /** Declared query q_cms_topk: the exact top-k tokens with their CMS
    * estimates — the sketch's one-sided error law as data. */
  def cmsTopKQ(docs: DataFrame, k: Int = 20): DataFrame = {
    val tc = PipelineCaches.trackCompact(termCounts(docs))
    val top = tc.orderBy(col("n").desc, col("token").asc).limit(k)
      .select(col("token"), col("n").as("n_exact"))
    estimates(top, sketchOf(tc))
  }

  // ---- the persisted form ------------------------------------------------

  def writeCmsIndex(docs: DataFrame, dir: String): Unit = {
    DirSwap.reset(docs.sparkSession, s"$dir/sketch")
    sketchOf(termCounts(docs))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/sketch")
    IndexRead.writeMeta(docs.sparkSession, dir,
      lit(Depth).as("depth"), lit(Width).as("width"))
  }

  /** Fold newly ingested documents in — one additive partial-file
    * append (the reader re-aggregates). Single-writer discipline. */
  def appendToCmsIndex(newDocs: DataFrame, dir: String): Unit = {
    val meta = IndexRead.meta(newDocs.sparkSession, dir)
    require(meta.getAs[Int]("depth") == Depth && meta.getAs[Int]("width") == Width,
      s"CMS index at $dir was built with different parameters " +
        s"(${meta.getAs[Int]("depth")}×${meta.getAs[Int]("width")}); " +
        s"sketches of different shapes cannot merge")
    sketchOf(termCounts(newDocs)).coalesce(1).write.mode("append")
      .parquet(DirSwap.resolve(newDocs.sparkSession, s"$dir/sketch"))
  }

  /** Right-to-be-forgotten on the sketch (ADDITIVE cells — the
    * [[ForgetLedger]] pattern): the victims' own cell contributions
    * land in the in-dir ledger in one append; the fold nets them out
    * (count-min subtraction of a PREVIOUSLY-ADDED contribution is
    * exact per cell, so the one-sided error law survives), and
    * [[compactCmsIndex]]'s one swap retires cells and ledger together.
    * Contract: victims must be previously-ingested docs with their
    * ingested text. */
  def forgetFromCmsIndex(spark: SparkSession, dir: String,
      victimDocs: DataFrame): Unit = {
    val cells = DirSwap.resolve(spark, s"$dir/sketch")
    val fresh = ForgetLedger.fresh(spark, cells,
      victimDocs.select("doc_id")).cache()
    val freshDocs = victimDocs
      .withColumn("doc_id", col("doc_id").cast("long"))
      .join(broadcast(fresh), Seq("doc_id"), "left_semi")
    ForgetLedger.commit(cells, fresh,
      sketchOf(termCounts(freshDocs))
        .select(SketchSchema.fieldNames.toSeq.map(col): _*))
    fresh.unpersist()
    ()
  }

  /** Collapse per-batch partials to one counter file ([[DirSwap]]);
    * forget-ledger contributions baked in, zeroed cells dropped,
    * ledger retired by the same swap. */
  def compactCmsIndex(spark: SparkSession, dir: String): Unit =
    DirSwap(spark, s"$dir/sketch") { out =>
      sketchFromIndex(spark, dir)
        .filter(col("c") =!= 0)
        .coalesce(1).write.parquet(out)
    }

  /** The folded counter table (partials summed, forget-ledger
    * contributions netted; absent cells read as zero downstream). */
  def sketchFromIndex(spark: SparkSession, dir: String): DataFrame = {
    val cells = DirSwap.resolve(spark, s"$dir/sketch")
    val base = spark.read.schema(SketchSchema).parquet(cells)
    ForgetLedger.contributions(spark, cells, SketchSchema)
      .fold(base)(c => base.unionByName(
        c.withColumn("c", -col("c"))
          .select(SketchSchema.fieldNames.toSeq.map(col): _*)))
      .groupBy(col("d"), col("bucket")).agg(sum(col("c")).as("c"))
  }

  /** Estimates for an ad-hoc probe token list against the index —
    * the steady-state lookup the sketch exists for. */
  def estimatesFromIndex(spark: SparkSession, dir: String,
      tokens: Seq[String]): DataFrame = {
    import spark.implicits._
    val top = tokens.toDF("token").select(col("token"), lit(0L).as("n_exact"))
    estimates(top, sketchFromIndex(spark, dir))
      .select(col("token"), col("n_est"))
  }

  /** Declared query q_cms_incr: corpus (doc_id % 20 ≠ 0) indexed once,
    * the delta (doc_id % 20 = 0) folded in as a micro-batch append;
    * estimates READ FROM THE INDEX for the full corpus' exact top-k —
    * which must equal the batch sketch over all documents (additivity;
    * the shared oracle text is the law). */
  def cmsIncrQ(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val idxDir = BuildOnce.tempDirFor("graft_cms_idx", dir)
    BuildOnce(spark, idxDir, Seq(dir)) {
      writeCmsIndex(docs.filter(col("doc_id") % 20 =!= 0), idxDir)
      appendToCmsIndex(docs.filter(col("doc_id") % 20 === 0), idxDir)
    }
    val top = termCounts(docs)
      .orderBy(col("n").desc, col("token").asc).limit(k)
      .select(col("token"), col("n").as("n_exact"))
    estimates(top, sketchFromIndex(spark, idxDir))
  }
}
