package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Shared tombstone-table plumbing for right-to-be-forgotten delete
  * propagation across the persisted indexes ([[TextIndex]] BM25
  * postings, [[Dedup]] near-dup bands): `<dir>/deletes` holds one
  * `doc_id` per forgotten document.
  *
  * The lifecycle every index shares:
  *  - REQUEST TIME: [[fresh]] dedups the victim ids against existing
  *    tombstones (idempotence — re-forgetting must not double any
  *    correction the caller derives from the fresh set), then
  *    [[append]] lands them. Cheap: delete batches are request-sized.
  *  - READ TIME: [[minus]] anti-joins a rows frame against the
  *    broadcast tombstone set. Absence of the deletes dir is the
  *    steady state — the FS check costs no Spark job, and an index
  *    that never saw a delete keeps its exact pre-forget read plans.
  *  - COMPACTION TIME: the index's own compact rewrites without the
  *    tombstoned rows, then [[clear]]s the table — physical erasure
  *    rides the rewrite the maintenance loop already pays.
  */
private[graft] object Tombstones {

  private val Schema = StructType(Seq(StructField("doc_id", LongType)))

  /** The table's CURRENT physical dir (the newest committed generation
    * — [[clear]] retires by committing an EMPTY generation, so the
    * delete of a table a reader pinned never happens on the clear
    * path either). */
  private def resolved(spark: SparkSession, dir: String): String =
    DirSwap.resolve(spark, s"$dir/deletes")

  /** Some(path) iff the current generation holds ≥ 1 data file — an
    * absent dir AND a cleared (empty-generation) table both read as
    * "no tombstones", keeping the steady-state plans free of the
    * anti-join. One listing, no Spark job. */
  private def dataPath(spark: SparkSession, dir: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(resolved(spark, dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val has =
      try fs.listStatus(p).exists { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      } catch { case _: java.io.FileNotFoundException => false }
    if (has) Some(p.toString) else None
  }

  def read(spark: SparkSession, dir: String): Option[DataFrame] =
    readWith(spark, dir, Schema)

  /** Same resolution with a caller schema — for tables whose tombstone
    * rows carry index-specific correction columns (TextIndex's dl). */
  def readWith(spark: SparkSession, dir: String,
      schema: StructType): Option[DataFrame] =
    dataPath(spark, dir).map(p => spark.read.schema(schema).parquet(p))

  /** `rows` minus the tombstoned docs (anti-join on `key`, default
    * `doc_id` — the IVF index keys on `vec_id`); `rows` unchanged when
    * no tombstone table exists. The on-disk column is always `doc_id`
    * (the normalized victim id), whatever the index calls its key.
    *
    * `rows` is BY-NAME and evaluated only after the tombstone table has
    * resolved (round-17 ADVICE): a reader that resolves its DATA
    * generation first can pair the old un-purged data with a
    * freshly-cleared deletes generation if a compaction commits in the
    * gap — forgotten docs resurface. Deletes-first makes every
    * interleaving answer-consistent: old deletes net old data, and
    * stale deletes over purged data anti-join to a no-op. Callers must
    * therefore resolve their data dir INSIDE the `rows` argument (or
    * after this call), never before it. */
  def minus(spark: SparkSession, dir: String, rows: => DataFrame,
      key: String = "doc_id"): DataFrame = {
    val del = read(spark, dir)
    val r = rows
    del.fold(r)(d =>
      r.join(broadcast(d.withColumnRenamed("doc_id", key)),
        Seq(key), "left_anti"))
  }

  /** The victim ids NOT already tombstoned — distinct, normalized to
    * long. Callers derive any index-specific correction (negative
    * stats partials) from THIS set, then [[append]] it. */
  def fresh(spark: SparkSession, dir: String, victims: DataFrame,
      key: String = "doc_id"): DataFrame = {
    val v = victims.select(col(key).cast("long").as("doc_id")).distinct()
    read(spark, dir).fold(v)(del =>
      v.join(broadcast(del), Seq("doc_id"), "left_anti"))
  }

  /** TEST-ONLY failpoint (FaultInjectionSpec): fires right BEFORE the
    * tombstone append — the request-time crash window. The append is
    * the forget request's single commit point (any per-index correction
    * rides ON the appended rows, e.g. TextIndex's dl column), so the
    * law under drill is: a crash here commits NOTHING — reads are
    * bit-identical to pre-request — and a retry lands the full request
    * exactly once. Production code never sets it. */
  private[ops] var crashBeforeAppend: Option[String => Unit] = None

  def append(dir: String, freshVictims: DataFrame): Unit =
    appendRaw(resolved(freshVictims.sparkSession, dir), freshVictims)

  /** Append to an EXPLICIT ledger path — the aggregate-count indexes
    * keep their forget ledger inside the data dir so one compaction
    * swap retires data and ledger together (see [[LmIndex]]). */
  def appendRaw(path: String, rows: DataFrame): Unit = {
    crashBeforeAppend.foreach(f => f(path))
    rows.coalesce(1).write.mode("append").parquet(path)
    ()
  }

  /** Retire the table. Two cases:
    *  - the table was never created (no plain dir, no generations) —
    *    pure no-op, the fresh-build path stays one FS check;
    *  - it exists (even already-empty) — commit an EMPTY generation
    *    through [[DirSwap]]: readers pinned on the old rows keep their
    *    files for one more compaction cycle, fresh readers resolve to
    *    the empty generation and take the no-tombstones plan. A plain
    *    delete here would reopen exactly the FileNotFound window the
    *    generation swap closes. */
  def clear(spark: SparkSession, dir: String): Unit = {
    val live = s"$dir/deletes"
    val fs = new org.apache.hadoop.fs.Path(live)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // gate on the table HOLDING DATA, not on the dir existing
    // (round-17 ADVICE): after the first clear the resolved dir is the
    // committed empty generation, so an exists() gate would commit one
    // more empty generation per compaction cycle forever — unbounded
    // generation numbers and a list+mkdirs+marker+retire of pure FS
    // churn per cycle. An absent AND an already-cleared table both
    // read as "no tombstones" — nothing to retire.
    if (dataPath(spark, dir).isDefined)
      DirSwap(spark, live) { out =>
        fs.mkdirs(new org.apache.hadoop.fs.Path(out)); ()
      }
  }

  /** Fresh-build reset ([[DirSwap.reset]] semantics): physically drop
    * the table AND every generation — write*Index calls this before an
    * overwrite build so a rebuilt index can never inherit (or be
    * shadowed by) a prior life's tombstones. */
  def reset(spark: SparkSession, dir: String): Unit =
    DirSwap.reset(spark, s"$dir/deletes")
}

/** In-dir forget ledger for the ADDITIVE-count indexes (LM bigrams,
  * span frequencies, substring grams, CMS cells) — the aggregate-index
  * generalization of the [[Tombstones]] lifecycle. A count store cannot
  * recover a victim's contribution from the aggregate, so the forget
  * request carries it: registry rows (the victim ids, correction
  * columns null — request idempotence) and correction rows (doc_id
  * null, the victims' OWN positive contribution, which readers negate)
  * land in ONE parquet append under `<dataDir>/_deletes`. The ledger
  * lives INSIDE the dir the index's single compaction DirSwap rewrites,
  * so the purge retires counts and ledger in one swap — a crashed
  * compaction retried from the top can never double-apply a correction
  * — the underscore prefix hides it from the data's own parquet
  * listing, and a from-scratch overwrite build wipes it with the dir.
  * Contract (shared with [[LmIndex.forgetFromLmIndex]]): victims must
  * be docs previously ingested into THIS index with the same text. */
private[graft] object ForgetLedger {

  def path(dataDir: String): String = s"$dataDir/_deletes"

  /** The ledger's rows under `schema`, or None when it holds no part
    * file (one glob, no job). Read by its part files, not by the dir:
    * the `_` prefix that hides the ledger from the data's own listing
    * also makes Spark warn that a read of the dir ignored it. */
  private def rows(spark: SparkSession, dataDir: String,
      schema: StructType): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"${path(dataDir)}/[^_.]*")
    val parts = p.getFileSystem(spark.sparkContext.hadoopConfiguration).globStatus(p)
    Option.when(parts.nonEmpty)(
      spark.read.schema(schema).parquet(parts.map(_.getPath.toString).toIndexedSeq: _*))
  }

  /** The victim ids NOT already registered — distinct, long. */
  def fresh(spark: SparkSession, dataDir: String,
      victims: DataFrame): DataFrame = {
    val v = victims.select(col("doc_id").cast("long").as("doc_id")).distinct()
    rows(spark, dataDir, StructType(Seq(StructField("doc_id", LongType))))
      .fold(v)(r => v.join(broadcast(r.filter(col("doc_id").isNotNull)),
        Seq("doc_id"), "left_anti"))
  }

  /** ONE-append commit: the fresh registry ids plus their positive
    * contribution rows. `contrib` must not contain a doc_id column. */
  def commit(dataDir: String, freshIds: DataFrame,
      contrib: DataFrame): Unit = {
    val reg = freshIds.select(col("doc_id") +:
      contrib.schema.fields.toSeq.map(f =>
        lit(null).cast(f.dataType).as(f.name)): _*)
    val neg = contrib.select(lit(null).cast("long").as("doc_id") +:
      contrib.columns.toSeq.map(col): _*)
    Tombstones.appendRaw(path(dataDir), reg.unionByName(neg))
  }

  /** The ledger's contribution rows under `corrSchema` (correction
    * columns only, still POSITIVE — callers negate), or None when no
    * ledger exists (the steady state: one FS glob, no job). */
  def contributions(spark: SparkSession, dataDir: String,
      corrSchema: StructType): Option[DataFrame] =
    rows(spark, dataDir, StructType(StructField("doc_id", LongType) +: corrSchema.fields))
      .map(_.filter(col("doc_id").isNull)
        .select(corrSchema.fieldNames.toSeq.map(col): _*))
}
