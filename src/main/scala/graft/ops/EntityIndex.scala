package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The SIXTEENTH persisted index: the incremental typed-entity
  * inventory behind [[TextOps.entitiesQ]] — and the DISCOVERY side of
  * the governance loop whose enforcement side is [[Tombstones]]:
  * "which documents contain this identifier?" is the query a delete
  * request asks FIRST, and it must not cost a corpus re-scan per
  * request.
  *
  *  - `rows`: one row per (doc_id, kind, entity) with its in-doc
  *    occurrence count, partitioned on `bkt = hash(entity) % buckets`
  *    so a single-identifier lookup prunes to ONE bucket. Per-doc rows
  *    are ADDITIVE under doc-complete single-writer batches (a doc's
  *    entities arrive exactly once), so appends are pure file adds and
  *    the reader's (kind, entity) fold — n_docs = row count,
  *    n_occurrences = Σ n_occ — is exact with no merge step.
  *  - `meta`: the bucket count (fixed at build time).
  *
  * Reads honor [[Tombstones]]: a forgotten doc drops out of the
  * inventory and of every lookup without a rewrite; compaction is the
  * purge (the shared two-phase discipline).
  */
object EntityIndex {

  private val RowsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("kind", StringType),
    StructField("entity", StringType), StructField("n_occ", LongType),
    StructField("bkt", IntegerType)))

  private val HashBuckets = 32

  private def partials(docs: DataFrame, buckets: Int): DataFrame =
    TextOps.entityRows(docs)
      .withColumn("bkt", pmod(abs(hash(col("entity"))), lit(buckets)).cast("int"))
      .select(col("doc_id"), col("kind"), col("entity"), col("n_occ"), col("bkt"))

  def writeEntityIndex(docs: DataFrame, dir: String,
      buckets: Int = HashBuckets): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    // from-scratch build: drop any leftover tombstones (round-13 bug
    // class) and stale committed generations
    Tombstones.reset(docs.sparkSession, dir)
    DirSwap.reset(docs.sparkSession, s"$dir/rows")
    partials(docs, buckets)
      .repartition(col("bkt"))
      .write.mode("overwrite").option("partitionOverwriteMode", "static").partitionBy("bkt").parquet(s"$dir/rows")
    IndexRead.writeMeta(docs.sparkSession, dir, lit(buckets).as("buckets"))
  }

  private def readBuckets(spark: SparkSession, dir: String): Int =
    IndexRead.meta(spark, dir).getInt(0)

  /** Fold newly ingested documents in (doc-complete batches, new ids
    * only — the shared single-writer contract). */
  def appendToEntityIndex(newDocs: DataFrame, dir: String): Unit = {
    val buckets = readBuckets(newDocs.sparkSession, dir)
    partials(newDocs, buckets)
      .repartition(col("bkt"))
      .write.mode("append").partitionBy("bkt")
      .parquet(DirSwap.resolve(newDocs.sparkSession, s"$dir/rows"))
  }

  /** Collapse per-batch files to one per bucket; also the PURGE when
    * tombstones exist (rows are unique per (doc, kind, entity) by the
    * append contract — pure layout otherwise). */
  def compactEntityIndex(spark: SparkSession, dir: String): Unit = {
    DirSwap(spark, s"$dir/rows") { out =>
      Tombstones.minus(spark, dir,
        spark.read.schema(RowsSchema)
          .parquet(DirSwap.resolve(spark, s"$dir/rows")))
        .repartition(col("bkt"))
        .write.partitionBy("bkt").parquet(out)
    }
    Tombstones.clear(spark, dir)
  }

  /** Forget request: tombstones only — per-doc rows need no aggregate
    * correction (the reader folds over surviving rows). */
  def forgetFromEntityIndex(spark: SparkSession, dir: String,
      victims: DataFrame): Unit =
    Tombstones.append(dir, Tombstones.fresh(spark, dir, victims))

  /** The full inventory from the index — must equal the batch
    * [[TextOps.entitiesQ]] over everything folded in (minus any
    * forgotten docs). */
  def inventoryFromIndex(spark: SparkSession, dir: String): DataFrame =
    Tombstones.minus(spark, dir, spark.read.schema(RowsSchema)
      .parquet(DirSwap.resolve(spark, s"$dir/rows")))
      .groupBy(col("kind"), col("entity"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_occ")).as("n_occurrences"))

  /** The delete-request discovery read: every document holding one
    * specific identifier — partition-pruned to the identifier's ONE
    * bucket (the engine hash resolves it driver-side, no job), entity
    * equality pushed to the scan. */
  def lookupEntity(spark: SparkSession, dir: String,
      entity: String, kind: Option[String] = None): DataFrame = {
    val buckets = readBuckets(spark, dir)
    val bkt = spark.createDataset(Seq(entity))(
        org.apache.spark.sql.Encoders.STRING)
      .select(pmod(abs(hash(col("value"))), lit(buckets)).cast("int"))
      .head().getInt(0)
    val base = spark.read.schema(RowsSchema)
      .parquet(DirSwap.resolve(spark, s"$dir/rows"))
      .filter(col("bkt") === bkt && col("entity") === entity)
    val filtered = kind.fold(base)(k => base.filter(col("kind") === k))
    Tombstones.minus(spark, dir, filtered)
      .select(col("doc_id"), col("kind"), col("n_occ"))
  }

  /** Declared query q_entities_incr: corpus indexed in two
    * doc-complete batches (doc_id % 20 split), inventory served from
    * the folded rows — equals the batch q_entities oracle outright. */
  def entitiesIncrQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val idxDir = BuildOnce.tempDirFor("graft_entity_idx", dir)
    BuildOnce(spark, idxDir, Seq(dir)) {
      writeEntityIndex(docs.filter(col("doc_id") % 20 =!= 0), idxDir)
      appendToEntityIndex(docs.filter(col("doc_id") % 20 === 0), idxDir)
    }
    inventoryFromIndex(spark, idxDir)
  }

  /** Declared query q_entity_forget: right-to-be-forgotten on the
    * index that holds the SHARPEST per-document content of all
    * seventeen — extracted emails/IPs/ids/phones per doc_id, exactly
    * what a GDPR request targets. The q_entities_incr build in its OWN
    * dir (forgetting mutates state), every doc_id ≡ 0 (mod 17)
    * tombstoned, the inventory read must equal the batch entity scan
    * over the SURVIVING corpus alone — the victims' identifiers leave
    * the doc counts, the occurrence counts, AND the inventory rows
    * they alone carried. Physical erasure rides compaction as
    * everywhere (IngestionMaintenanceSpec drills it). */
  def entityForgetQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val idxDir = BuildOnce.tempDirFor("graft_entity_idx_forget", dir)
    BuildOnce(spark, idxDir, Seq(dir)) {
      writeEntityIndex(docs.filter(col("doc_id") % 20 =!= 0), idxDir)
      appendToEntityIndex(docs.filter(col("doc_id") % 20 === 0), idxDir)
      forgetFromEntityIndex(spark, idxDir,
        docs.filter(col("doc_id") % 17 === 0).select(col("doc_id")))
    }
    inventoryFromIndex(spark, idxDir)
  }

  /** Declared query q_entity_lookup: the discovery read for the
    * corpus-wide footer phone — every doc, each with one occurrence —
    * from the same memoized index artifact. */
  def entityLookupQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val idxDir = BuildOnce.tempDirFor("graft_entity_idx", dir)
    BuildOnce(spark, idxDir, Seq(dir)) {
      writeEntityIndex(docs.filter(col("doc_id") % 20 =!= 0), idxDir)
      appendToEntityIndex(docs.filter(col("doc_id") % 20 === 0), idxDir)
    }
    lookupEntity(spark, idxDir, "555-867-5309", Some("phone"))
  }
}
