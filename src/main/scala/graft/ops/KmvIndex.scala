package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The SEVENTEENTH persisted index: per-slice KMV (bottom-k) token
  * sketches, kept incrementally — the steady-state form of
  * [[TextOps.kmvOverlapQ]]'s crawl-overlap monitoring.
  *
  * A 100 TB loop that wants "how much does this week's crawl overlap
  * last year's?" cannot re-tokenize the whole corpus per readout. KMV
  * sketches are MERGEABLE with a closed-form law: the bottom-k of a
  * union IS the k smallest of the per-shard bottom-ks' union (any
  * union minimum is its own shard's minimum), so the index stores one
  * (slice, th) row per surviving sketch value — ≤ k rows per slice per
  * batch, collapsed to ≤ k per slice at compaction — and every
  * estimate (per-slice distinct, pairwise union, Jaccard,
  * intersection) folds from the merged sketch alone. Appends are
  * doc-complete batch bottom-ks (pure file append, reader re-merges);
  * same single-writer + [[DirSwap]] compaction discipline as the other
  * indexes. Determinism is the kmvOverlapQ convention — 52-bit md5
  * prefixes (Double-exact ordering) and estimator (k−1)·2^52 / h_k
  * with exact small-range mode — so every readout is a pure function
  * of the data and the oracle replays it bit-identically.
  *
  * Right-to-be-forgotten: EXEMPT by the sketch-lane rule (SURVEY
  * §2.5): minima are not subtractable — a forgotten document's token
  * hashes cannot be netted out of a bottom-k, the same reason the
  * Profile index's HLL registers are exempt. The sketch holds
  * token-LEVEL one-way hashes (vocabulary units, not per-document
  * content; PII redaction runs upstream by the declared pipeline
  * order), and the erasure path for sketch lanes is REBUILD-on-forget:
  * [[writeKmvIndex]] over the survivors is the whole procedure and
  * costs the one tokenize pass the original build cost. */
object KmvIndex {

  private val SketchSchema = StructType(Seq(
    StructField("slice", StringType), StructField("th", LongType)))

  private val Two52 = 4503599627370496.0 // 2^52: KMV hash space

  /** Per-slice bottom-k of the batch's distinct 52-bit token-hash set
    * — one map-side-combine bounded aggregate, ≤ k rows per slice. */
  private def sketchRows(docs: DataFrame, sliceCol: String,
      k: Int): DataFrame = {
    import graft.functions.Aggregators.{Scored, TopKAgg}
    val spark = docs.sparkSession
    graft.functions.Md5Bits.register(spark)
    val hashed = graft.sources.Tables.fanout(docs)
      .select(col(sliceCol).as("slice"),
        explode(filter(TextOps.toks(col("text")), t => t =!= "")).as("token"))
      .select(col("slice"),
        call_function(graft.functions.Md5Bits.FnName,
          col("token"), lit(0), lit(13)).as("th"))
      .distinct()
    val bottomK = udaf(new TopKAgg(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Scored]())
    hashed.groupBy(col("slice"))
      .agg(bottomK(-col("th").cast("double"), col("th")).as("topk"))
      .select(col("slice"), explode(transform(col("topk"),
        e => e("tag"))).as("th"))
  }

  def writeKmvIndex(docs: DataFrame, dir: String, k: Int = 256,
      sliceCol: String = "source"): Unit = {
    require(k > 1, s"k must be > 1, got $k")
    DirSwap.reset(docs.sparkSession, s"$dir/sketch")
    sketchRows(docs, sliceCol, k)
      .repartition(col("slice"))
      .write.mode("overwrite").option("partitionOverwriteMode", "static").partitionBy("slice").parquet(s"$dir/sketch")
    IndexRead.writeMeta(docs.sparkSession, dir, lit(k).as("k"))
  }

  private def readK(spark: SparkSession, dir: String): Int =
    IndexRead.meta(spark, dir).getInt(0)

  /** Fold a newly ingested doc-complete batch in — the batch's own
    * bottom-k rows appended per slice (the merge law makes the reader's
    * re-merge exact for any split). */
  def appendToKmvIndex(newDocs: DataFrame, dir: String,
      sliceCol: String = "source"): Unit =
    sketchRows(newDocs, sliceCol, readK(newDocs.sparkSession, dir))
      .repartition(col("slice"))
      .write.mode("append").partitionBy("slice")
      .parquet(DirSwap.resolve(newDocs.sparkSession, s"$dir/sketch"))

  /** Collapse accumulated per-batch sketch rows back to ≤ k per slice
    * (the merged bottom-k IS the compacted state) — one [[DirSwap]]. */
  def compactKmvIndex(spark: SparkSession, dir: String): Unit =
    DirSwap(spark, s"$dir/sketch") { out =>
      mergedSigs(spark, dir)
        .select(col("slice"), explode(col("sig")).as("th"))
        .repartition(col("slice"))
        .write.partitionBy("slice").parquet(out)
    }

  /** The per-slice merged sketch: distinct-union of the stored rows,
    * k smallest kept — plus the slice-cardinality estimate (exact when
    * the union holds < k values). Bounded: ≤ k·batches rows in, ≤ k
    * out per slice. */
  private def mergedSigs(spark: SparkSession, dir: String): DataFrame = {
    val k = readK(spark, dir)
    spark.read.schema(SketchSchema)
      .parquet(DirSwap.resolve(spark, s"$dir/sketch"))
      .groupBy(col("slice"))
      .agg(slice(array_sort(array_distinct(collect_list(col("th")))), 1, k)
        .as("sig"))
      .withColumn("n_used", size(col("sig")).cast("long"))
      .withColumn("n_est",
        round(when(col("n_used") < k, col("n_used").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(Two52) /
            element_at(col("sig"), k).cast("double")), 3))
  }

  /** Pairwise overlap estimates from the index alone — the
    * [[TextOps.kmvOverlapQ]] estimators over the merged sketches, with
    * the per-slice distinct counts as KMV estimates (n_a_est/n_b_est)
    * instead of the batch form's exact audit lanes: the index never
    * re-touches raw text, so exact distincts are not available — and
    * not needed, the estimate carries the same 1/√(k−2) law. */
  def overlapFromIndex(spark: SparkSession, dir: String): DataFrame = {
    val k = readK(spark, dir)
    val sigs = PipelineCaches.trackCompact(mergedSigs(spark, dir))
    val a = sigs.select(col("slice").as("slice_a"), col("sig").as("sig_a"),
      col("n_est").as("n_a_est"))
    val b = sigs.select(col("slice").as("slice_b"), col("sig").as("sig_b"),
      col("n_est").as("n_b_est"))
    a.join(broadcast(b), col("slice_a") < col("slice_b"))
      .withColumn("merged",
        slice(array_sort(array_union(col("sig_a"), col("sig_b"))), 1, k))
      .withColumn("k_used", size(col("merged")).cast("long"))
      .withColumn("n_match",
        size(array_intersect(array_intersect(col("merged"), col("sig_a")),
          col("sig_b"))).cast("long"))
      .withColumn("union_est",
        round(when(col("k_used") < k, col("k_used").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(Two52) /
            element_at(col("merged"), k).cast("double")), 3))
      .withColumn("jaccard_est",
        round(col("n_match").cast("double") / col("k_used").cast("double"), 6))
      .withColumn("inter_est",
        round(col("jaccard_est") * col("union_est"), 3))
      .select(col("slice_a"), col("slice_b"), col("n_a_est"),
        col("n_b_est"), col("k_used"), col("n_match"), col("union_est"),
        col("jaccard_est"), col("inter_est"))
  }

  /** Declared query q_source_overlap_incr: corpus (doc_id % 20 ≠ 0)
    * sketched once, the delta (doc_id % 20 = 0) folded in as a
    * micro-batch append, overlap read from the store — which must
    * equal the sketch computed over ALL documents in one shot (the
    * merge law; the oracle recomputes the full-corpus bottom-k and the
    * same estimators). */
  def sourceOverlapIncrQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val idxDir = BuildOnce.tempDirFor("graft_kmv_idx", dir)
    BuildOnce(spark, idxDir, Seq(dir)) {
      writeKmvIndex(docs.filter(col("doc_id") % 20 =!= 0), idxDir)
      appendToKmvIndex(docs.filter(col("doc_id") % 20 === 0), idxDir)
    }
    overlapFromIndex(spark, idxDir)
  }
}
