package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Persisted minhash index: the incremental (delta-vs-corpus) dedup
  * path must agree exactly with the batch all-pairs operator. */
class NearDupIndexSpec extends SparkSuite {

  test("delta-vs-index pairs equal batch pairs restricted to cross pairs") {
    // forced large: the touched-bucket prune (the tiny test index would
    // otherwise ride the full-read fast path) — this test pins the
    // AT-SCALE plan shape
    forced("large") { spark =>
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val dir = java.nio.file.Files.createTempDirectory("neardup_idx").toString
      Dedup.writeNearDupIndex(docs, dir)
      // the delta: every corpus text re-ingested under a fresh id — each
      // delta doc must rediscover its source as an exact duplicate
      val delta = docs.select((col("doc_id") + 10000L).as("doc_id"), col("text"))
      val q = Dedup.nearDupsAgainstIndex(spark, delta, dir)
      // the index side must stream through broadcast-hash joins (the delta
      // is the broadcast side) — an index-side sort or exchange before the
      // band join would mean the corpus scan is being shuffled
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        "delta bands must broadcast against the streamed index scan")
      // and the bands read must be partition-pruned to the delta's band
      // buckets — without the prune, every micro-batch on the streaming
      // ingestion path full-scans a corpus-sized inverted file
      assert(plan.contains("PartitionFilters: [") && plan.contains("bkt"),
        "bands scan must carry a bkt partition filter:\n" + plan.take(700))
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val nDocs = docs.count()
      assert(got.count { case (a, b, j) => a - 10000L == b && j == 1.0 } == nDocs,
        "every delta doc must match its identical source with jaccard 1")
      // full parity with the batch operator over the union, restricted to
      // (indexed, new) cross pairs — same bands, same hashes, same verify
      val batch = Dedup.nearDupPairs(docs.select("doc_id", "text").unionByName(delta)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .filter { case (a, b, _) => a < 10000L && b >= 10000L }
        .map { case (a, b, j) => (b, a, j) }.toSet
      assert(got == batch,
        s"index query must equal batch cross pairs (got=${got.size} batch=${batch.size})")
    }
  }

  test("append folds a delta into the index: equals a fresh index over the union") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
      .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
    val probe = docs.limit(40)
      .select((col("doc_id") + 20000L).as("doc_id"), col("text"))

    val appended = java.nio.file.Files.createTempDirectory("neardup_app").toString
    Dedup.writeNearDupIndex(half1, appended, bandBuckets = 32)
    Dedup.appendToNearDupIndex(half2, appended)
    val fresh = java.nio.file.Files.createTempDirectory("neardup_fresh").toString
    Dedup.writeNearDupIndex(half1.unionByName(half2), fresh, bandBuckets = 32)

    def pairs(dir: String) = {
      val got = Dedup.nearDupsAgainstIndex(spark, probe, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      PipelineCaches.release(spark)
      got
    }
    val a = pairs(appended)
    assert(a == pairs(fresh), "appended index must answer like a fresh rebuild")
    // the probe must hit docs from BOTH the original and appended halves
    assert(a.exists(_._2 < 10000L) && a.exists(_._2 >= 10000L), a.take(5).toString)
  }

  test("bands are bucket-partitioned and a small delta reads few buckets") {
    // forced large: the touched-bucket prune the tiny index would skip
    forced("large") { spark =>
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val dir = java.nio.file.Files.createTempDirectory("neardup_idx2").toString
      Dedup.writeNearDupIndex(docs, dir, bandBuckets = 32)
      val bktDirs = physicalDir(s"$dir/bands").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("bkt="))
      assert(bktDirs.length > 4 && bktDirs.length <= 32,
        s"corpus bands should spread over many buckets, got ${bktDirs.length}")
      // a 1-doc delta has 4 band rows → at most 4 distinct buckets; its
      // scan must select at most 4 of the written partitions
      val delta = docs.filter(col("doc_id") === 0L)
        .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
      val q = Dedup.nearDupsAgainstIndex(spark, delta, dir)
      val scans = q.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.metadata.get("Location").exists(_.contains("bands")) => s
      }
      assert(scans.nonEmpty, "expected a file scan over <dir>/bands")
      assert(scans.head.selectedPartitions.partitionCount <= 4,
        s"1-doc delta must prune to ≤4 buckets, read ${scans.head.selectedPartitions.partitionCount}")
      // and it must still find its identical source in the index (the
      // fixture makes doc 0 a near-dup of many docs — full parity with the
      // batch operator is the first test's job)
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got.contains((10000L, 0L, 1.0)))
    }
  }

  test("compaction collapses accumulated append files; lookups answer identically") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("neardup_cmp").toString
    val base = docs.filter(col("doc_id") % 4 === 0)
    Dedup.writeNearDupIndex(base, dir, bandBuckets = 32)
    // 3 micro-batch appends → each touched bkt partition accumulates
    // one file-set per batch
    (1 to 3).foreach { i =>
      Dedup.appendToNearDupIndex(
        docs.filter(col("doc_id") % 4 === i)
          .select((col("doc_id") + i * 100000L).as("doc_id"), col("text")), dir)
    }
    def parquetFiles(sub: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(physicalDir(s"$dir/$sub")).count(_.getName.endsWith(".parquet"))
    }
    val probe = docs.limit(40)
      .select((col("doc_id") + 900000L).as("doc_id"), col("text"))
    def lookup() = {
      val got = Dedup.nearDupsAgainstIndex(spark, probe, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      PipelineCaches.release(spark)
      got
    }
    val filesBefore = parquetFiles("bands") + parquetFiles("toksets")
    val before = lookup()
    assert(before.nonEmpty, "probe must find matches in the appended index")
    Dedup.compactNearDupIndex(spark, dir)
    val filesAfter = parquetFiles("bands") + parquetFiles("toksets")
    assert(filesAfter < filesBefore,
      s"compaction must reduce file count ($filesBefore -> $filesAfter)")
    // one file per surviving bkt partition, toksets to one small file
    val bktDirs = physicalDir(s"$dir/bands").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bkt="))
    assert(bktDirs.forall(_.listFiles().count(_.getName.endsWith(".parquet")) == 1),
      "each bkt partition must hold exactly one file after compaction")
    assert(lookup() == before, "compaction must not change lookup results")
    // appends keep working after a compaction cycle
    Dedup.appendToNearDupIndex(
      docs.limit(5).select((col("doc_id") + 800000L).as("doc_id"), col("text")), dir)
    assert(lookup().size >= before.size)
  }

  test("deployment: doc_id-bucketed toksets feeds the verify join with no index-side exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // The index-verify join probes the toksets dictionary with
    // candidate doc ids. Its key is data-dependent, so the bands-style
    // static partition prune cannot apply — the deployment answer
    // (nearDupsAgainstIndex scaladoc) is registering toksets BUCKETED
    // on doc_id: the corpus-sized side then feeds the sort-merge join
    // straight off storage, and only the candidate side shuffles to the
    // bucket partitioning. This pins that claim. Same applies to every
    // dedup/split shuffle keyed on doc_id or a stored hash column
    // (exactDedup's norm hash, leakFreeSplit's cluster key): bucket the
    // corpus on the key once, and the per-run exchange disappears.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false") // plain plan for subtree asserts
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // SMJ: the mode where the exchange matters
    val docs = s.read.parquet(s"$sf/documents.parquet")
    val tokSets = Dedup.tokSetsOf(Dedup.tokArrays(docs))
      .withColumn("doc_id", col("doc_id").cast("long"))
    graft.sources.Bucketing.writeBucketed(tokSets, "bkt_toksets", "doc_id", 4)
    try {
      val cands = docs.select(col("doc_id").cast("long").as("doc_id"))
        .filter(col("doc_id") % 7 === 0)
      val joined = s.table("bkt_toksets").join(cands, "doc_id")
      val plan = joined.queryExecution.executedPlan
      val smj = plan.collect { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, s"verify-shaped join must plan as SMJ:\n${plan.toString.take(900)}")
      val indexSide = smj.head.left
      assert(indexSide.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        "bucketed toksets must reach the SMJ with no Exchange:\n" + indexSide.toString.take(900))
      // sortBy(doc_id) in the bucketed write also serves the SMJ's sort
      assert(indexSide.toString.contains("Scan"),
        "index side must be the bucketed table scan subtree")
      // parity with the unbucketed join
      val expected = tokSets.join(cands, "doc_id").count()
      assert(joined.count() == expected && expected > 0)
    } finally {
      s.sql("DROP TABLE IF EXISTS bkt_toksets")
    }
  }

  test("forget: tombstoned docs never pair; read equals a victim-free " +
    "index; purge erases both tables; double-forget is a no-op") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("neardup_fg").toString
    Dedup.writeNearDupIndex(docs, dir)
    val victims = docs.filter(col("doc_id") % 7 === 0).select("doc_id")
    Dedup.forgetFromNearDupIndex(spark, dir, victims)
    val delta = docs.select((col("doc_id") + 10000L).as("doc_id"), col("text"))
    def pairs(): Set[(Long, Long)] = {
      val r = Dedup.nearDupsAgainstIndex(spark, delta, dir).collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
      PipelineCaches.release(spark)
      r
    }
    val got = pairs()
    assert(got.nonEmpty && got.forall(_._2 % 7 != 0L),
      "a forgotten doc must never appear as a match")
    // ground truth: an index that never held the victims
    val dirRef = java.nio.file.Files.createTempDirectory("neardup_ref").toString
    Dedup.writeNearDupIndex(docs.filter(col("doc_id") % 7 =!= 0), dirRef)
    val want = Dedup.nearDupsAgainstIndex(spark, delta, dirRef).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    PipelineCaches.release(spark)
    assert(got == want, "tombstone read must equal the victim-free index")
    // idempotent re-forget
    Dedup.forgetFromNearDupIndex(spark, dir, victims)
    assert(pairs() == want)
    // purge: physical erasure from BOTH tables, tombstones cleared,
    // reads unchanged
    Dedup.compactNearDupIndex(spark, dir)
    assert(Tombstones.read(spark, dir).isEmpty)
    assert(spark.read.parquet(physicalDir(s"$dir/bands").getPath)
      .filter(col("doc_id") % 7 === 0).count() == 0L)
    assert(spark.read.parquet(physicalDir(s"$dir/toksets").getPath)
      .filter(col("doc_id") % 7 === 0).count() == 0L)
    assert(pairs() == want, "post-purge read must be indistinguishable")
  }
}
