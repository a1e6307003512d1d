package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The NINTH persisted index: incremental inverted text index serving
  * BM25 retrieval.
  *
  * [[Scoring.bm25Q]] is the batch form — one corpus pass per query
  * set. A 100 TB retrieval loop cannot re-tokenize the corpus per
  * query; this index persists the postings once and serves any query
  * from a bucket-pruned read:
  *
  *  - `postings`: one row per (token, doc) — (token, doc_id, tf, dl),
  *    partitioned on `bkt = hash(token) % buckets`. The doc length is
  *    DENORMALIZED onto the posting row, so scoring never joins a
  *    doc-keyed side table: a query touches only its terms' buckets
  *    (partition-pruned) and the rows inside them that match the terms
  *    (pushed filter). Appends are additive — new docs contribute new
  *    (token, doc) rows, and single-writer ingestion (the discipline
  *    all nine indexes share) means a doc never arrives twice, so
  *    df(t) stays an exact row count per token with no merge step.
  *  - `stats`: per-batch additive partials (n_docs, total_dl) over
  *    docs WITH ≥ 1 token (the batch scorer's population — whitespace
  *    docs don't shift avgdl there, so they must not here). The reader
  *    folds the partials to the (N, avgdl) scalar in one
  *    metadata-sized aggregate.
  *  - `meta`: the bucket count (fixed at build time; appends reuse it).
  *
  * Scoring from the index is [[bm25FromIndex]]: term buckets resolved
  * with the same engine hash, postings read pruned to those buckets,
  * per-term df as a |terms|-row broadcast, the (N, avgdl) scalar
  * broadcast, then ONE doc-keyed aggregate over only the matching
  * rows. Same k1/b, same score spelling, same round-6 grid as the
  * batch scorer — the declared q_bm25_incr shares q_bm25's oracle
  * text outright.
  *
  * Compaction collapses per-batch files to one file per bucket
  * (postings rows are already unique — no merge aggregate) and the
  * stats partials to one row, through the shared [[DirSwap]].
  */
object TextIndex {

  private val PostingsSchema = StructType(Seq(
    StructField("token", StringType), StructField("doc_id", LongType),
    StructField("tf", LongType), StructField("dl", LongType),
    StructField("bkt", IntegerType)))

  private val StatsSchema = StructType(Seq(
    StructField("n_docs", LongType), StructField("total_dl", LongType)))

  /** This index's tombstone rows carry the victim's doc length next to
    * its id (null when the victim had no postings — unknown ids and
    * whitespace docs), so ONE tombstone append is the whole forget
    * commit: readers derive the (N, avgdl) correction from the
    * tombstone table itself instead of a separately-appended negative
    * stats partial whose crash window round 13's ADVICE flagged. */
  private val DeletesSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("dl", LongType)))

  val DefaultTerms: Seq[String] = Seq("data", "query", "engine", "fast")

  // Current committed generation of each swapped table (the DirSwap
  // reader/appender contract — see BuildOnce.scala).
  private def postingsDir(spark: SparkSession, dir: String): String =
    DirSwap.resolve(spark, s"$dir/postings")
  private def statsDir(spark: SparkSession, dir: String): String =
    DirSwap.resolve(spark, s"$dir/stats")

  /** (postings, stats) partials for one batch. The (doc, token) tf
    * aggregate and the per-doc length window share the doc-derived
    * shuffle; the stats fold reads the cached postings frame. Caller
    * must consume both before `done()` unpersists. */
  private def partials(docs: DataFrame,
      buckets: Int): (DataFrame, DataFrame, () => Unit) = {
    val perDocTok = Scoring.tokensOf(docs)
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("dl", sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
      .cache()
    val postings = perDocTok
      .withColumn("bkt", pmod(abs(hash(col("token"))), lit(buckets)).cast("int"))
    val stats = perDocTok
      .agg(count_distinct(col("doc_id")).as("n_docs"),
        sum(col("tf")).as("total_dl"))
    (postings, stats, () => { perDocTok.unpersist(); () })
  }

  def writeTextIndex(docs: DataFrame, dir: String, buckets: Int = 64): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    // A from-scratch build must not inherit a leftover tombstone table
    // (round 13's one red query) NOR be shadowed by a stale committed
    // generation of a prior life's compactions: reset both.
    Tombstones.reset(docs.sparkSession, dir)
    DirSwap.reset(docs.sparkSession, s"$dir/postings")
    DirSwap.reset(docs.sparkSession, s"$dir/stats")
    val (postings, stats, done) = partials(docs, buckets)
    postings.repartition(col("bkt"))
      .write.mode("overwrite").option("partitionOverwriteMode", "static").partitionBy("bkt").parquet(s"$dir/postings")
    stats.coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
    done()
    IndexRead.writeMeta(docs.sparkSession, dir, lit(buckets).as("buckets"))
  }

  private def readBuckets(spark: SparkSession, dir: String): Int =
    IndexRead.meta(spark, dir).getInt(0)

  // by-name pass-through: Tombstones.minus resolves the deletes table
  // BEFORE the rows argument's own DirSwap.resolve runs (round-17
  // ADVICE ordering — see Tombstones.minus)
  private def minusTombstones(spark: SparkSession, dir: String,
      rows: => DataFrame): DataFrame = Tombstones.minus(spark, dir, rows)

  /** Right-to-be-forgotten propagation (q_forget): make the index
    * answer every future read as if `victims` were never ingested —
    * WITHOUT rewriting the corpus-sized postings on the request path.
    * Two-phase, the way production stores honor deletion SLAs:
    *
    *  1. REQUEST TIME (this method, cheap): append the victim ids to a
    *     `deletes` tombstone table, each row carrying the victim's doc
    *     length (recovered from its own denormalized posting rows; null
    *     for ids with no postings). That ONE append is the whole commit:
    *     readers anti-join their pruned postings against the broadcast
    *     tombstone set AND derive the (N, avgdl) correction from the
    *     same rows ([[statsScalar]]) — so a crash anywhere in this
    *     method either commits the full request or none of it, and a
    *     retry recomputes fresh victims against whatever committed
    *     (no double subtraction is possible: the correction lives ON
    *     the tombstone rows, appended exactly once per fresh id).
    *     Delete batches are request-sized, never corpus-sized, so the
    *     broadcasts are bounded by contract.
    *  2. COMPACTION TIME ([[compactTextIndex]], the rewrite the
    *     maintenance loop already pays): physically drop tombstoned
    *     rows from every bucket, RECOMPUTE the stats partials from the
    *     surviving postings (self-healing — any historical stats drift
    *     dies at the next compaction), and clear the tombstone table —
    *     after which reads carry no residue of the deleted docs (the
    *     actual erasure obligation) and no anti-join either.
    *
    *  Idempotent: re-forgetting an already-tombstoned id contributes
    *  neither a duplicate tombstone nor a second stats correction
    *  (the fresh set is anti-joined against existing tombstones
    *  first). Unknown ids tombstone harmlessly (null dl → zero
    *  stats delta). Forgotten ids must never be re-ingested (the
    *  single-writer new-ids-only append contract all indexes share).
    *
    *  The one non-request-sized cost here is the victim-posting scan:
    *  doc_id is not the partition key, so recovering the victims' dl
    *  reads all buckets with the `doc_id IN set` filter PUSHED to
    *  parquet (row-group stats skip almost everything). That scan is
    *  what denormalized dl costs; the alternative (a doc-keyed side
    *  table) would tax every read join instead of the rare delete. */
  def forgetFromTextIndex(spark: SparkSession, dir: String,
      victims: DataFrame): Unit = {
    val fresh = Tombstones.fresh(spark, dir, victims).cache()
    val victimDl = spark.read.schema(PostingsSchema)
      .parquet(postingsDir(spark, dir))
      .join(broadcast(fresh), Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
    Tombstones.append(dir, fresh.join(victimDl, Seq("doc_id"), "left"))
    fresh.unpersist()
    ()
  }

  /** The folded (N, avgdl) scalar every index read broadcasts: the
    * additive base partials minus the tombstoned docs' contributions,
    * which ride on the tombstone rows themselves (see
    * [[forgetFromTextIndex]] — `count(dl)` skips the null-dl rows of
    * victims that never had postings). Steady state (no deletes dir)
    * is one FS existence check, no extra job. */
  private def statsScalar(spark: SparkSession, dir: String): DataFrame = {
    // deletes resolve FIRST, the stats generation second (round-17
    // ADVICE ordering): stats-first could pair an old un-corrected
    // stats row with a freshly-cleared deletes table mid-compaction
    val delOpt = Tombstones.readWith(spark, dir, DeletesSchema)
    val base = spark.read.schema(StatsSchema).parquet(statsDir(spark, dir))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("total_dl")).as("total_dl"))
    val net = delOpt.fold(base) { del =>
      val corr = del.agg(count(col("dl")).as("d_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("d_dl"))
      base.crossJoin(broadcast(corr))
        .select((col("n_docs") - col("d_docs")).as("n_docs"),
          (col("total_dl") - col("d_dl")).as("total_dl"))
    }
    net.select(col("n_docs"),
      (col("total_dl").cast("double") / col("n_docs")).as("avgdl"))
  }

  /** Resolve terms to their on-disk bucket ids under the ENGINE's hash
    * (the partition layout's function) — one metadata-sized local job.
    * The ONE definition of the bucket function shared by every
    * token-bucketed index read (BM25, boolean, phrase): three verbatim
    * copies drifted apart would silently desynchronize a read path
    * from its persisted layout. */
  private[ops] def termBuckets(spark: SparkSession, terms: Seq[String],
      buckets: Int): Seq[Int] =
    spark.createDataset(terms)(org.apache.spark.sql.Encoders.STRING)
      .select(pmod(abs(hash(col("value"))), lit(buckets)).cast("int"))
      .collect().map(_.getInt(0)).distinct.toSeq

  /** Fold newly ingested documents in — additive file appends on both
    * tables, one file per touched bucket per batch. Contract: new
    * doc_ids only (the single-writer ingestion discipline). */
  def appendToTextIndex(newDocs: DataFrame, dir: String): Unit = {
    val buckets = readBuckets(newDocs.sparkSession, dir)
    val (postings, stats, done) = partials(newDocs, buckets)
    val spark = newDocs.sparkSession
    postings.repartition(col("bkt"))
      .write.mode("append").partitionBy("bkt").parquet(postingsDir(spark, dir))
    stats.coalesce(1).write.mode("append").parquet(statsDir(spark, dir))
    done()
  }

  /** Collapse per-batch files: postings to one file per bucket (pure
    * layout — rows are unique by the append contract), stats to one
    * row. When tombstones exist ([[forgetFromTextIndex]]), this is
    * also the PURGE: deleted docs' rows are dropped from the rewrite,
    * the stats row is RECOMPUTED from the surviving postings
    * (self-healing — it cannot inherit any historical partial drift),
    * then the tombstone table is cleared — physical erasure rides the
    * rewrite the maintenance loop pays anyway.
    *
    * Crash discipline (the DirSwap contract all compactions share,
    * single-writer, retry-until-clean): a crash before or between the
    * two swaps leaves reads EXACT (purged postings + base stats +
    * live tombstones still derive the right correction); the one
    * stale window is between the stats swap and the tombstone clear —
    * two FS ops apart — where the correction would double-count, and
    * a retried compaction converges it (FaultInjectionSpec drills the
    * pre-swap and retry laws). */
  def compactTextIndex(spark: SparkSession, dir: String): Unit = {
    DirSwap(spark, s"$dir/postings") { out =>
      minusTombstones(spark, dir,
        spark.read.schema(PostingsSchema).parquet(postingsDir(spark, dir)))
        .repartition(col("bkt"))
        .write.partitionBy("bkt").parquet(out)
    }
    DirSwap(spark, s"$dir/stats") { out =>
      spark.read.schema(PostingsSchema).parquet(postingsDir(spark, dir))
        .groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("dl")), lit(0L)).as("total_dl"))
        .coalesce(1).write.parquet(out)
    }
    Tombstones.clear(spark, dir)
  }

  /** BM25 scores for every indexed doc matching ≥ 1 query term — the
    * steady-state retrieval read. Touches only the query terms'
    * buckets (partition-pruned scan, token filter pushed); everything
    * model-sized (per-term df, the (N, avgdl) scalar) broadcasts; the
    * one shuffle is the doc-keyed score sum over MATCHING rows only.
    * Bit-compatible with [[Scoring.bm25Q]] over the same corpus. */
  def bm25FromIndex(spark: SparkSession, dir: String,
      terms: Seq[String] = DefaultTerms,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val buckets = readBuckets(spark, dir)
    val bkts = termBuckets(spark, terms, buckets)
    val matched = minusTombstones(spark, dir,
      spark.read.schema(PostingsSchema)
        .parquet(postingsDir(spark, dir))
        .filter(col("bkt").isInCollection(bkts) &&
          col("token").isInCollection(terms)))
    val dfx = matched.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val st = statsScalar(spark, dir)
    val score =
      log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
        col("tf") * (k1 + 1) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))
    matched.join(broadcast(dfx), "token")
      .crossJoin(broadcast(st))
      .select(col("doc_id"), score.as("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_matched"), round(sum(col("s")), 6).as("bm25"))
  }

  /** Boolean term query from the index — the curation filter form
    * ("docs containing ALL of `must` and NONE of `mustNot`"). Reads
    * only the mentioned terms' buckets (partition-pruned, token filter
    * pushed); the positive side is one doc-keyed aggregate over
    * matching rows (all-terms-present = distinct-token count), the
    * negative side a LEFT ANTI join on the exclusion term's postings —
    * never a corpus scan, never a NOT over the full doc set. Output:
    * (doc_id, tf_sum) — total hits of the must terms per surviving
    * doc. */
  def boolSearchFromIndex(spark: SparkSession, dir: String,
      must: Seq[String] = Seq("data", "query"),
      mustNot: Seq[String] = Seq("fast")): DataFrame = {
    require(must.nonEmpty, "need at least one required term")
    // dedup BEFORE sizing the all-present check: a duplicated must
    // term would make count_distinct(token) == must.size unsatisfiable
    // and silently empty the result
    val mustD = must.distinct
    val buckets = readBuckets(spark, dir)
    val terms = (mustD ++ mustNot).distinct
    val bkts = termBuckets(spark, terms, buckets)
    val matched = minusTombstones(spark, dir,
      spark.read.schema(PostingsSchema)
        .parquet(postingsDir(spark, dir))
        .filter(col("bkt").isInCollection(bkts) &&
          col("token").isInCollection(terms)))
    val pos = matched.filter(col("token").isInCollection(mustD))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("token")).as("nt"), sum(col("tf")).as("tf_sum"))
      .filter(col("nt") === mustD.size)
    val neg = matched.filter(col("token").isInCollection(mustNot))
      .select(col("doc_id")).distinct()
    pos.join(neg, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("tf_sum"))
  }

  /** Declared query q_bool_search: boolean retrieval over the SAME
    * per-dir index q_bm25_incr builds (the BuildOnce memo makes the
    * build cost shared) — data AND query AND NOT fast. */
  def boolSearchQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val idxDir = BuildOnce.tempDirFor("graft_text_idx", dir)
    BuildOnce(spark, idxDir, Seq(dir)) {
      writeTextIndex(docs.filter(col("doc_id") % 20 =!= 0), idxDir)
      appendToTextIndex(docs.filter(col("doc_id") % 20 === 0), idxDir)
    }
    boolSearchFromIndex(spark, idxDir)
  }

  /** Declared query q_bm25_incr: corpus (doc_id % 20 ≠ 0) indexed
    * once, the delta (doc_id % 20 = 0) folded in as a micro-batch
    * append, scores served from the index — which must equal the batch
    * [[Scoring.bm25Q]] over ALL documents (the shared oracle text). */
  def incrementalBm25Q(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val idxDir = BuildOnce.tempDirFor("graft_text_idx", dir)
    BuildOnce(spark, idxDir, Seq(dir)) {
      writeTextIndex(docs.filter(col("doc_id") % 20 =!= 0), idxDir)
      appendToTextIndex(docs.filter(col("doc_id") % 20 === 0), idxDir)
    }
    bm25FromIndex(spark, idxDir)
  }

  /** Declared query q_forget: the tombstone read path. Corpus indexed
    * (build + one append batch), every doc_id ≡ 0 (mod 17) forgotten
    * at request time, BM25 served through the tombstone anti-join —
    * which must equal the batch scorer over the SURVIVING corpus (the
    * q_bm25 oracle with the victims filtered out at the source). Own
    * index dir: forgetting mutates state, so it must never share the
    * q_bm25_incr artifact. */
  def forgetQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val idxDir = BuildOnce.tempDirFor("graft_text_idx_forget", dir)
    BuildOnce(spark, idxDir, Seq(dir)) {
      writeTextIndex(docs.filter(col("doc_id") % 20 =!= 0), idxDir)
      appendToTextIndex(docs.filter(col("doc_id") % 20 === 0), idxDir)
      forgetFromTextIndex(spark, idxDir,
        docs.filter(col("doc_id") % 17 === 0).select(col("doc_id")))
    }
    bm25FromIndex(spark, idxDir)
  }

  /** Declared query q_forget_purge: the erasure path. Same forget
    * request, then [[compactTextIndex]] physically purges the
    * tombstoned rows and clears the tombstone table — the read below
    * runs WITHOUT any anti-join (no deletes dir left) and must still
    * equal the surviving-corpus oracle. Same answer as [[forgetQ]] by
    * design: logical and physical deletion are indistinguishable to a
    * reader, which is exactly the contract under audit. */
  def forgetPurgeQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val idxDir = BuildOnce.tempDirFor("graft_text_idx_purge", dir)
    BuildOnce(spark, idxDir, Seq(dir)) {
      writeTextIndex(docs.filter(col("doc_id") % 20 =!= 0), idxDir)
      appendToTextIndex(docs.filter(col("doc_id") % 20 === 0), idxDir)
      forgetFromTextIndex(spark, idxDir,
        docs.filter(col("doc_id") % 17 === 0).select(col("doc_id")))
      compactTextIndex(spark, idxDir)
    }
    bm25FromIndex(spark, idxDir)
  }
}
