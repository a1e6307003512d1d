package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The FOURTEENTH persisted index: positional inverted index serving
  * exact phrase search.
  *
  * [[TextIndex]] answers "which docs score highest for these TERMS"
  * (bag-of-words); a curation pipeline also needs "which docs contain
  * this exact PHRASE" — boilerplate hunting, license-string and
  * attribution tracking, targeted contamination probes for quoted
  * eval questions. Term-level postings cannot answer that without
  * positions, so this index persists them:
  *
  *  - `postings`: one row per (token, doc) — (token, doc_id,
  *    poss: array<long>), the token's 0-based positions in the doc's
  *    whitespace token stream (sorted — `sort_array` makes the row
  *    canonical regardless of aggregation order), partitioned on
  *    `bkt = hash(token) % buckets`. Appends are additive: new docs
  *    contribute new (token, doc) rows, and single-writer ingestion
  *    (the discipline all fourteen indexes share) means a doc never
  *    arrives twice, so rows stay unique with no merge step.
  *  - `meta`: the bucket count (fixed at build time; appends reuse it).
  *
  * A phrase query reads ONLY its terms' buckets (partition-pruned)
  * and the rows matching the terms (pushed filter), then runs the
  * slot-adjacency match of [[matchPhrases]]: a phrase w0 w1 … w(m−1)
  * occurs at start p0 iff every slot i has its token at position
  * p0 + i — so each candidate posting emits (phrase, doc, pos − slot)
  * and a start survives when all m distinct slots voted for it. The
  * shuffle carries only phrase-TERM occurrences, never the corpus.
  *
  * Compaction collapses per-batch files to one file per bucket (pure
  * layout — rows are unique by the append contract) through the
  * shared [[DirSwap]].
  */
object PhraseIndex {

  /** Probe phrases for the declared queries: three bigrams the fixture
    * vocabulary produces at every scale factor plus one trigram
    * (exercising m > 2; it may legitimately match nothing at small
    * fixtures — absent phrases simply contribute no rows). */
  val DefaultPhrases: Seq[String] =
    Seq("table scan", "hash join", "sort merge", "sort merge join")

  private val PostingsSchema = StructType(Seq(
    StructField("token", StringType), StructField("doc_id", LongType),
    StructField("poss", ArrayType(LongType)), StructField("bkt", IntegerType)))

  /** (phrase, m, slot, token) rows for the slot-adjacency join —
    * |Σ phrase lengths| rows, always broadcast. */
  private def phraseTable(spark: SparkSession, phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty && phrases.forall(_.trim.nonEmpty),
      "need at least one non-empty phrase")
    val rows = phrases.flatMap { p =>
      // \\s+ split: a double-space or tab in a phrase must not mint an
      // empty slot token that can never match a posting
      val ts = p.trim.split("\\s+").toSeq
      ts.zipWithIndex.map { case (t, i) => (p, ts.size.toLong, i.toLong, t) }
    }
    import spark.implicits._
    rows.toDF("phrase", "m", "slot", "token")
  }

  /** Slot-adjacency phrase match over (token, doc_id, poss) posting
    * rows. Emits (phrase, doc_id, n_matches, first_pos) — first_pos is
    * 1-based, the oracle's `list_position` convention. Scale shape:
    * the phrase table broadcasts; only phrase-term postings survive
    * the join, so the one (phrase, doc, start) shuffle is bounded by
    * the terms' corpus frequency, never corpus size. */
  private[ops] def matchPhrases(postings: DataFrame, phrases: Seq[String]): DataFrame = {
    val spark = postings.sparkSession
    postings.join(broadcast(phraseTable(spark, phrases)), Seq("token"))
      .select(col("phrase"), col("m"), col("doc_id"), col("slot"),
        explode(col("poss")).as("pos"))
      .select(col("phrase"), col("m"), col("doc_id"),
        (col("pos") - col("slot")).as("p0"))
      .filter(col("p0") >= 0)
      // each slot lands in a (phrase, doc, p0) group at most once (a
      // token occurs once per (doc, pos), and slot i maps pos → p0 =
      // pos − i injectively), so a plain count IS the distinct-slot
      // vote: all m slots present ⇔ ns = m
      .groupBy(col("phrase"), col("m"), col("doc_id"), col("p0"))
      .agg(count(lit(1)).as("ns"))
      .filter(col("ns") === col("m"))
      .groupBy(col("phrase"), col("doc_id"))
      .agg(count(lit(1)).as("n_matches"),
        (min(col("p0")) + 1).as("first_pos"))
  }

  /** Declared query q_phrase_search: the BATCH form — postings derive
    * from one corpus tokenize (single-position rows; no (token, doc)
    * aggregate needed), then the shared adjacency match. */
  def phraseSearchQ(docs: DataFrame,
      phrases: Seq[String] = DefaultPhrases): DataFrame =
    matchPhrases(
      graft.sources.Tables.fanout(docs)
        .select(col("doc_id"),
          posexplode(split(lower(trim(col("text"))), "\\s+")))
        .select(col("col").as("token"), col("doc_id"),
          array(col("pos").cast("long")).as("poss")),
      phrases)

  /** (token, doc, sorted positions) partials for one batch. */
  private def partials(docs: DataFrame, buckets: Int): DataFrame =
    graft.sources.Tables.fanout(docs)
      .select(col("doc_id"),
        posexplode(split(lower(trim(col("text"))), "\\s+")))
      .groupBy(col("col").as("token"), col("doc_id"))
      .agg(sort_array(collect_list(col("pos").cast("long"))).as("poss"))
      .withColumn("bkt", pmod(abs(hash(col("token"))), lit(buckets)).cast("int"))

  def writePhraseIndex(docs: DataFrame, dir: String, buckets: Int = 64): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    // from-scratch build: drop leftover tombstones (round-13 bug
    // class) and stale committed generations
    Tombstones.reset(docs.sparkSession, dir)
    DirSwap.reset(docs.sparkSession, s"$dir/postings")
    partials(docs, buckets).repartition(col("bkt"))
      .write.mode("overwrite").option("partitionOverwriteMode", "static").partitionBy("bkt").parquet(s"$dir/postings")
    IndexRead.writeMeta(docs.sparkSession, dir, lit(buckets).as("buckets"))
  }

  private def readBuckets(spark: SparkSession, dir: String): Int =
    IndexRead.meta(spark, dir).getInt(0)

  /** Fold newly ingested documents in — additive file appends, one
    * file per touched bucket per batch. Contract: new doc_ids only
    * (the single-writer ingestion discipline). */
  def appendToPhraseIndex(newDocs: DataFrame, dir: String): Unit = {
    val buckets = readBuckets(newDocs.sparkSession, dir)
    partials(newDocs, buckets).repartition(col("bkt"))
      .write.mode("append").partitionBy("bkt")
      .parquet(DirSwap.resolve(newDocs.sparkSession, s"$dir/postings"))
  }

  /** Right-to-be-forgotten request (the shared [[Tombstones]]
    * lifecycle): per-doc position rows need no aggregate correction —
    * the tombstone append IS the whole commit; reads anti-join, the
    * next compaction purges. */
  def forgetFromPhraseIndex(spark: SparkSession, dir: String,
      victims: DataFrame): Unit =
    Tombstones.append(dir, Tombstones.fresh(spark, dir, victims))

  /** Collapse per-batch files to one file per bucket (pure layout —
    * rows are unique by the append contract); also the PURGE when
    * tombstones exist ([[forgetFromPhraseIndex]]). */
  def compactPhraseIndex(spark: SparkSession, dir: String): Unit = {
    DirSwap(spark, s"$dir/postings") { out =>
      Tombstones.minus(spark, dir,
        spark.read.schema(PostingsSchema)
          .parquet(DirSwap.resolve(spark, s"$dir/postings")))
        .repartition(col("bkt"))
        .write.partitionBy("bkt").parquet(out)
    }
    Tombstones.clear(spark, dir)
  }

  /** Phrase occurrences served from the index — the steady-state read.
    * Touches only the phrase terms' buckets (partition-pruned scan,
    * token filter pushed); honors [[Tombstones]] (a forgotten doc's
    * phrases vanish without a rewrite). */
  def phrasesFromIndex(spark: SparkSession, dir: String,
      phrases: Seq[String] = DefaultPhrases): DataFrame = {
    val buckets = readBuckets(spark, dir)
    val terms = phrases.flatMap(_.trim.split("\\s+")).distinct
    val bkts = TextIndex.termBuckets(spark, terms, buckets)
    val matched = Tombstones.minus(spark, dir,
      spark.read.schema(PostingsSchema)
        .parquet(DirSwap.resolve(spark, s"$dir/postings"))
        .filter(col("bkt").isInCollection(bkts) &&
          col("token").isInCollection(terms)))
    matchPhrases(matched, phrases)
  }

  /** Declared query q_phrase_search_incr: corpus (doc_id % 20 ≠ 0)
    * indexed once, the delta (doc_id % 20 = 0) folded in as a
    * micro-batch append, phrases served from the index — which must
    * equal the batch [[phraseSearchQ]] over ALL documents (the shared
    * oracle text). */
  def phraseIncrQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val idxDir = BuildOnce.tempDirFor("graft_phrase_idx", dir)
    BuildOnce(spark, idxDir, Seq(dir)) {
      writePhraseIndex(docs.filter(col("doc_id") % 20 =!= 0), idxDir)
      appendToPhraseIndex(docs.filter(col("doc_id") % 20 === 0), idxDir)
    }
    phrasesFromIndex(spark, idxDir)
  }

  /** Declared query q_phrase_forget: the q_phrase_search_incr build in
    * its OWN dir (forgetting mutates state), every doc_id ≡ 0 (mod 17)
    * forgotten at request time, phrases served through the tombstone
    * anti-join — must equal the batch [[phraseSearchQ]] over the
    * SURVIVING corpus (the shared oracle with victims filtered at the
    * source). */
  def phraseForgetQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val idxDir = BuildOnce.tempDirFor("graft_phrase_idx_forget", dir)
    BuildOnce(spark, idxDir, Seq(dir)) {
      writePhraseIndex(docs.filter(col("doc_id") % 20 =!= 0), idxDir)
      appendToPhraseIndex(docs.filter(col("doc_id") % 20 === 0), idxDir)
      forgetFromPhraseIndex(spark, idxDir,
        docs.filter(col("doc_id") % 17 === 0).select(col("doc_id")))
    }
    phrasesFromIndex(spark, idxDir)
  }
}
