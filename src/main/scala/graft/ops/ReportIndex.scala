package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The EIGHTH persisted index: incremental corpus data card.
  *
  * [[TextOps.corpusReportQ]] is the batch form; a 100 TB ingestion loop
  * cannot re-scan the corpus per micro-batch to refresh its data card,
  * so this index persists the report's sufficient statistics as one
  * bucket-partitioned additive table of two row kinds (discriminated by
  * the partition value, so either kind's read prunes to its buckets):
  *
  *  - STATS rows (`bkt = -1`): per-(source, lang) partials (n_docs,
  *    total_chars, total_tokens) — metadata-sized per batch, pure file
  *    append, the reader merges partials with one tiny aggregate;
  *  - HASH rows (`bkt ∈ [0, hashBuckets)`): per-(content-hash, source)
  *    document counts, bucket-partitioned on the hash — corpus-sized
  *    (one row per distinct (text, source) pair), appends additive,
  *    compaction collapses per-batch partials to one file per bucket.
  *
  * Everything the report needs is a sum over these, so append order
  * never matters and a report after any append sequence equals the
  * batch report over the union (ReportIndexSpec law; the declared
  * q_corpus_report_incr shares q_corpus_report's oracle text). The dup
  * count is corpus-WIDE by declared semantics, so the report's hash
  * aggregate reads all hash buckets — no pruning is possible, and none
  * is claimed; compaction keeps that read at one file per bucket.
  *
  * ONE physical table is what makes right-to-be-forgotten atomic here:
  * both row kinds are additive counts, so the in-dir [[ForgetLedger]]
  * (the [[LmIndex]] pattern) drops in — one parquet append carries the
  * victim registry AND the victims' own positive contribution rows of
  * BOTH kinds (readers negate), and the single [[DirSwap]] compaction
  * bakes the corrections in and retires the ledger in the same swap.
  * The round-14 two-table layout (`stats`/`hashes`) could not offer
  * that: two compaction swaps means a crash between them either loses
  * or double-applies one table's corrections. Same single-writer
  * append discipline as the other indexes.
  */
object ReportIndex {

  /** Unified row schema. STATS rows: h/c null, lang + the three totals
    * set, bkt = -1. HASH rows: lang + totals null, h/c set, bkt >= 0. */
  private val DataSchema = StructType(Seq(
    StructField("h", StringType), StructField("source", StringType),
    StructField("lang", StringType),
    StructField("n_docs", LongType), StructField("total_chars", LongType),
    StructField("total_tokens", LongType),
    StructField("c", LongType), StructField("bkt", IntegerType)))

  private val StatsBkt = -1

  private def partials(docs: DataFrame, hashBuckets: Int): DataFrame = {
    val d = graft.sources.Tables.fanout(docs)
      .select(col("source"), col("lang"),
        length(col("text")).cast("long").as("n_chars"),
        TextOps.nTokensWs(col("text")).cast("long").as("n_tok"),
        md5(col("text")).as("h"))
    val stats = d.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_tok")).as("total_tokens"))
      .select(lit(null).cast("string").as("h"), col("source"), col("lang"),
        col("n_docs"), col("total_chars"), col("total_tokens"),
        lit(null).cast("long").as("c"), lit(StatsBkt).as("bkt"))
    val hashes = d.groupBy(col("h"), col("source"))
      .agg(count(lit(1)).as("c"))
      .select(col("h"), col("source"), lit(null).cast("string").as("lang"),
        lit(null).cast("long").as("n_docs"),
        lit(null).cast("long").as("total_chars"),
        lit(null).cast("long").as("total_tokens"), col("c"),
        pmod(abs(hash(col("h"))), lit(hashBuckets)).cast("int").as("bkt"))
    stats.unionByName(hashes)
  }

  def writeReportIndex(docs: DataFrame, dir: String,
      hashBuckets: Int = 64): Unit = {
    require(hashBuckets > 0, s"hashBuckets must be positive, got $hashBuckets")
    // static-overwrite wipes the whole data dir — any leftover forget
    // ledger (which lives inside it) dies with it, so a from-scratch
    // build cannot inherit stale corrections (r13 class). Pinned
    // per-write (round-15 ADVICE): a session running under DYNAMIC
    // partitionOverwriteMode would otherwise only replace the bkt
    // partitions present in this batch and leave the ledger alive.
    // The generation reset drops stale committed compaction gens.
    DirSwap.reset(docs.sparkSession, s"$dir/data")
    partials(docs, hashBuckets)
      .repartition(col("bkt"))
      .write.mode("overwrite").option("partitionOverwriteMode", "static").partitionBy("bkt").parquet(s"$dir/data")
    IndexRead.writeMeta(docs.sparkSession, dir, lit(hashBuckets).as("hash_buckets"))
  }

  private def readBuckets(spark: SparkSession, dir: String): Int =
    IndexRead.meta(spark, dir).getInt(0)

  /** Fold newly ingested documents in — pure additive file appends (the
    * reader re-aggregates), one file per touched bucket per batch.
    * Single-writer discipline as everywhere. */
  def appendToReportIndex(newDocs: DataFrame, dir: String): Unit =
    partials(newDocs, readBuckets(newDocs.sparkSession, dir))
      .repartition(col("bkt"))
      .write.mode("append").partitionBy("bkt")
      .parquet(DirSwap.resolve(newDocs.sparkSession, s"$dir/data"))

  /** Right-to-be-forgotten on the data card via the shared in-dir
    * [[ForgetLedger]] (one parquet append: registry rows for
    * idempotence + the victims' own positive contribution rows of both
    * kinds, which [[foldData]] nets out). Callers pass the victim
    * DOCUMENTS — a count store cannot recover per-doc contributions
    * from the aggregate, so the delete request carries them (the
    * [[LmIndex.forgetFromLmIndex]] contract: victims must be docs
    * previously ingested into THIS index with the same text). Ids
    * already forgotten are dropped first, so re-requests cannot
    * double-subtract. Physical erasure of the netted rows rides
    * [[compactReportIndex]]'s one swap, which also retires the
    * ledger — single commit point at the append, crash-atomic. */
  def forgetFromReportIndex(spark: SparkSession, dir: String,
      victimDocs: DataFrame): Unit = {
    val data = DirSwap.resolve(spark, s"$dir/data")
    val fresh = ForgetLedger.fresh(spark, data,
      victimDocs.select("doc_id")).cache()
    val freshDocs = victimDocs
      .withColumn("doc_id", col("doc_id").cast("long"))
      .join(broadcast(fresh), Seq("doc_id"), "left_semi")
      .drop("doc_id")
    ForgetLedger.commit(data, fresh,
      partials(freshDocs, readBuckets(spark, dir)))
    fresh.unpersist()
    ()
  }

  /** The folded additive table: base partials minus the forget ledger's
    * contributions, zero-count rows dropped (a fully forgotten
    * (source, lang) group must leave the card, and a zeroed hash must
    * stop counting as a distinct text). Steady state (no ledger) adds
    * no job. */
  private def foldData(spark: SparkSession, dir: String): DataFrame = {
    val data = DirSwap.resolve(spark, s"$dir/data")
    val base = spark.read.schema(DataSchema).parquet(data)
    val all = ForgetLedger.contributions(spark, data, DataSchema)
      .fold(base)(corr => base.unionByName(corr
        .withColumn("n_docs", -col("n_docs"))
        .withColumn("total_chars", -col("total_chars"))
        .withColumn("total_tokens", -col("total_tokens"))
        .withColumn("c", -col("c"))
        .select(DataSchema.fieldNames.toSeq.map(col): _*)))
    all.groupBy(col("h"), col("source"), col("lang"), col("bkt"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_chars")).as("total_chars"),
        sum(col("total_tokens")).as("total_tokens"),
        sum(col("c")).as("c"))
      .filter(coalesce(col("c"), col("n_docs")) > 0)
      .select(DataSchema.fieldNames.toSeq.map(col): _*)
  }

  /** Collapse per-batch partials to one file per bucket ([[DirSwap]]);
    * when a forget ledger exists this is also the PURGE — the rewrite
    * bakes the negative corrections in (zeroed rows physically gone),
    * and because the ledger lives INSIDE the data dir, the same swap
    * retires it: one commit, so a crashed compaction retried from the
    * top converges without ever double-applying a correction. */
  def compactReportIndex(spark: SparkSession, dir: String): Unit =
    DirSwap(spark, s"$dir/data") { out =>
      foldData(spark, dir)
        .repartition(col("bkt"))
        .write.partitionBy("bkt").parquet(out)
    }

  /** The data card from the index — same schema and semantics as the
    * batch [[TextOps.corpusReportQ]] over everything ever folded in
    * (minus anything forgotten). */
  def reportFromIndex(spark: SparkSession, dir: String): DataFrame = {
    val folded = PipelineCaches.trackCompact(foldData(spark, dir))
    val perSrc = folded.filter(col("bkt") === StatsBkt)
      .groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_chars")).as("total_chars"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("total_tokens")).as("total_tokens"))
    val h = folded.filter(col("bkt") =!= StatsBkt)
      .select(col("h"), col("source"), col("c"))
    val dupH = h.groupBy(col("h")).agg(sum(col("c")).as("tc"))
      .filter(col("tc") >= 2).select("h")
    val dups = h.join(dupH, "h")
      .groupBy(col("source")).agg(sum(col("c")).as("n_exact_dup"))
    perSrc.join(dups, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("total_chars"),
        col("n_langs"), col("total_tokens"),
        coalesce(col("n_exact_dup"), lit(0L)).as("n_exact_dup"))
  }

  /** Declared query q_corpus_report_incr: corpus (doc_id % 20 ≠ 0)
    * indexed once, the delta (doc_id % 20 = 0) folded in as a
    * micro-batch append, report read from the index — which must equal
    * the batch report over ALL documents (the shared oracle text). */
  def incrementalReportQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val idxDir = BuildOnce.tempDirFor("graft_report_idx", dir)
    BuildOnce(spark, idxDir, Seq(dir)) {
      writeReportIndex(docs.filter(col("doc_id") % 20 =!= 0), idxDir)
      appendToReportIndex(docs.filter(col("doc_id") % 20 === 0), idxDir)
    }
    reportFromIndex(spark, idxDir)
  }

  /** Declared query q_corpus_report_forget: the q_corpus_report_incr
    * build in its OWN dir (forgetting mutates state), every doc_id ≡ 0
    * (mod 17) forgotten via the negative-count ledger, the card read
    * from the netted fold — which must equal the batch
    * [[TextOps.corpusReportQ]] over the surviving corpus alone
    * (victims leave the doc/char/token totals, the language inventory,
    * AND the duplicate counting — a text duplicated only because a
    * forgotten doc carried it stops being a dup). */
  def reportForgetQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val idxDir = BuildOnce.tempDirFor("graft_report_idx_forget", dir)
    BuildOnce(spark, idxDir, Seq(dir)) {
      writeReportIndex(docs.filter(col("doc_id") % 20 =!= 0), idxDir)
      appendToReportIndex(docs.filter(col("doc_id") % 20 === 0), idxDir)
      forgetFromReportIndex(spark, idxDir,
        docs.filter(col("doc_id") % 17 === 0))
    }
    reportFromIndex(spark, idxDir)
  }
}
