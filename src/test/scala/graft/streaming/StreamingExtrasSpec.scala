package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.ops.EventWindows

/** Streaming operators beyond the two reference jobs (SURVEY §2.4
  * "Streaming" row): session windows and watermarked stream dedup —
  * the same declarative expressions as batch, run incrementally. */
class StreamingExtrasSpec extends SparkSuite {

  private def ts(s: Long) = new Timestamp(s * 1000)

  test("streaming session window merges within gap, splits across it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    // the batch query q_win_session's definition, streamed
    val sessions = EventWindows.sessionCounts(input.toDF().toDF("user_id", "ts"), "60 seconds")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()
    try {
      // user 1: events at 0s, 30s, 59s chain into one session (each gap
      // < 60s); the event at 200s starts a new one. user 2: lone event.
      input.addData((1L, ts(0)), (1L, ts(30)), (1L, ts(59)), (2L, ts(10)))
      q.processAllAvailable()
      input.addData((1L, ts(200)))
      q.processAllAvailable()
      input.addData((1L, ts(1000))) // watermark pusher: closes all above
      q.processAllAvailable()

      val rows = spark.table("sessions")
        .as[(Long, Long, Long, Long)].collect().toSet
      val sec = 1000000L // one second in µs
      assert(rows.contains((1L, 0L, 119 * sec, 3L)), s"merged session, got $rows")
      assert(rows.contains((1L, 200 * sec, 260 * sec, 1L)))
      assert(rows.contains((2L, 10 * sec, 70 * sec, 1L)))
    } finally q.stop()
  }

  test("stream-static join enriches events against a broadcast dimension") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val input = MemoryStream[(Long, Timestamp)]
    val joined = input.toDF().toDF("user_id", "ts")
      .join(broadcast(dim), Seq("user_id"), "left")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("enriched").start()
    try {
      input.addData((1L, ts(1)), (2L, ts(2)), (3L, ts(3)))
      q.processAllAvailable()
      val got = spark.table("enriched").select("user_id", "tier")
        .as[(Long, Option[String])].collect().toSet
      assert(got == Set((1L, Some("gold")), (2L, Some("silver")), (3L, None)))
    } finally q.stop()
  }

  test("stream-stream interval join: clicks attribute to impressions within 60s") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    // BOTH sides watermarked + an event-time range in the join condition:
    // that pair is what lets Spark bound the join state (impressions
    // older than watermark − 60s can never match a future click and are
    // evicted) — without it stream-stream state grows forever
    val joined = imps.toDF().toDF("ad_id", "imp_ts")
      .withWatermark("imp_ts", "10 seconds")
      .join(clicks.toDF().toDF("c_ad_id", "clk_ts")
          .withWatermark("clk_ts", "10 seconds"),
        col("ad_id") === col("c_ad_id") &&
          col("clk_ts") >= col("imp_ts") &&
          col("clk_ts") <= col("imp_ts") + expr("interval 60 seconds"))
      .select(col("ad_id"), unix_timestamp(col("imp_ts")).as("i"),
        unix_timestamp(col("clk_ts")).as("c"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj").start()
    try {
      // NB: event times sit ABOVE the initial watermark (epoch 0) — a row
      // AT the origin is dropped as late by the pre-join watermark filter
      imps.addData((1L, ts(100)), (2L, ts(105)))
      clicks.addData((1L, ts(130)))
      q.processAllAvailable()
      clicks.addData((2L, ts(220))) // 115s after the impression: outside
      clicks.addData((1L, ts(140))) // second in-window click, same ad
      q.processAllAvailable()
      val rows = spark.table("ssj").as[(Long, Long, Long)].collect().toSet
      assert(rows == Set((1L, 100L, 130L), (1L, 100L, 140L)), s"got $rows")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join emits unmatched impressions after watermark expiry") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val joined = imps.toDF().toDF("ad_id", "imp_ts")
      .withWatermark("imp_ts", "10 seconds")
      .join(clicks.toDF().toDF("c_ad_id", "clk_ts")
          .withWatermark("clk_ts", "10 seconds"),
        col("ad_id") === col("c_ad_id") &&
          col("clk_ts") >= col("imp_ts") &&
          col("clk_ts") <= col("imp_ts") + expr("interval 60 seconds"),
        "leftOuter")
      .select(col("ad_id"), unix_timestamp(col("imp_ts")).as("i"),
        unix_timestamp(col("clk_ts")).as("c"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_outer").start()
    try {
      imps.addData((1L, ts(100)), (3L, ts(100))) // ad 3 never clicked
      clicks.addData((1L, ts(130)))
      q.processAllAvailable()
      // push BOTH watermarks far past 0s+60s so ad 3's state expires and
      // the null row emits (outer results are watermark-delayed by
      // design — they must wait until a match is provably impossible)
      imps.addData((9L, ts(1000)))
      clicks.addData((9L, ts(1000)))
      q.processAllAvailable()
      imps.addData((9L, ts(1100)))
      clicks.addData((9L, ts(1100)))
      q.processAllAvailable()
      val rows = spark.table("ssj_outer")
        .as[(Long, Long, Option[Long])].collect().toSet
      assert(rows.contains((1L, 100L, Some(130L))), s"matched row missing: $rows")
      assert(rows.contains((3L, 100L, None)),
        s"unmatched impression must surface as an outer null after expiry: $rows")
    } finally q.stop()
  }

  test("update mode re-emits growing counts; complete mode emits full result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val counts = input.toDF().toDF("k").groupBy("k").count()
    val q = counts.writeStream.outputMode("update")
      .format("memory").queryName("upd").start()
    try {
      input.addData("a", "b")
      q.processAllAvailable()
      input.addData("a")
      q.processAllAvailable()
      // update mode: (a,1),(b,1) from batch 1, then only (a,2) from batch 2
      val got = spark.table("upd").as[(String, Long)].collect().toSeq
      assert(got.count(_ == ("a", 1L)) == 1 && got.count(_ == ("a", 2L)) == 1)
      assert(got.count(_._1 == "b") == 1, "unchanged key must not re-emit in update mode")
    } finally q.stop()

    // separate stream: a MemoryStream purges batches committed by the
    // first query, so a second query must not share its history
    val input2 = MemoryStream[String]
    val q2 = input2.toDF().toDF("k").groupBy("k").count()
      .writeStream.outputMode("complete")
      .format("memory").queryName("cmp").start()
    try {
      input2.addData("x", "y")
      q2.processAllAvailable()
      input2.addData("x")
      q2.processAllAvailable()
      // complete mode: the sink holds the ENTIRE result table each batch
      val got = spark.table("cmp").as[(String, Long)].collect().toMap
      assert(got == Map("x" -> 2L, "y" -> 1L))
    } finally q2.stop()
  }

  test("streaming dropDuplicates within watermark suppresses replays") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val deduped = input.toDF().toDF("event_id", "ts")
      .withWatermark("ts", "10 seconds")
      .dropDuplicates("event_id", "ts")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream").start()
    try {
      input.addData(("e1", ts(1)), ("e1", ts(1)), ("e2", ts(2)))
      q.processAllAvailable()
      input.addData(("e1", ts(1)), ("e3", ts(3))) // replay within watermark
      q.processAllAvailable()
      val got = spark.table("dedup_stream").select("event_id")
        .as[String].collect().sorted
      assert(got.toSeq == Seq("e1", "e2", "e3"), s"got ${got.toSeq}")
    } finally q.stop()
  }

  test("streaming ingestion dedup: micro-batches checked against the persisted minhash index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // corpus on disk, indexed once; a stream of incoming documents is
    // near-dup-checked per micro-batch via foreachBatch — the ingestion
    // shape a training-data pipeline runs continuously. foreachBatch is
    // the right seam: the batch operator (broadcast delta vs streamed
    // index) is reused verbatim, exactly-once per micro-batch.
    val corpus = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("neardup_stream_idx").toString
    graft.ops.Dedup.writeNearDupIndex(corpus, dir)
    val known = corpus.limit(3).as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val flagged = scala.collection.mutable.Set[(Long, Long)]()
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        flagged.synchronized {
          flagged ++= graft.ops.Dedup.nearDupsAgainstIndex(spark, batch, dir)
            .select("doc_a", "doc_b").as[(Long, Long)].collect()
        }
        // the documented cache-lifetime contract: release the delta's
        // tracked blocks once the batch's action has consumed them, so
        // a long-running ingestion stream holds no stale storage
        graft.ops.PipelineCaches.release(spark)
        ()
      }
      .start()
    try {
      // batch 1: two replays of known docs + one novel doc;
      // batch 2: one more replay — must be flagged independently
      input.addData((20000L, known(0)._2), (20001L, known(1)._2),
        (20002L, "zxqv wbnm plkj entirely novel tokens qqq"))
      q.processAllAvailable()
      input.addData((20003L, known(2)._2))
      q.processAllAvailable()
      val hits = flagged.synchronized(flagged.toSet)
      assert(hits.contains((20000L, known(0)._1)) && hits.contains((20001L, known(1)._1))
        && hits.contains((20003L, known(2)._1)),
        s"replayed docs must be flagged against their sources, got $hits")
      assert(!hits.exists(_._1 == 20002L), "the novel doc must not be flagged")
    } finally q.stop()
  }

  test("streaming ingestion fuzzy lookup: near-verbatim replays flagged per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // same ingestion seam as the jaccard loop above, with the
    // edit-distance verify: catches near-VERBATIM replays (small char
    // edits) that token-set jaccard would also catch, but scores them by
    // edit similarity — and shares the SAME persisted index layout.
    val corpus = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("fuzzy_stream_idx").toString
    graft.ops.Dedup.writeNearDupIndex(corpus, dir)
    val known = corpus.limit(2).as[(Long, String)].collect()
    def mutate(t: String): String = t.updated(t.length / 2, 'Q')
    val input = MemoryStream[(Long, String)]
    val flagged = scala.collection.mutable.Set[(Long, Long)]()
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        flagged.synchronized {
          flagged ++= graft.ops.Dedup
            .fuzzyMatchAgainstIndex(spark, batch, dir, corpus)
            .select("probe_id", "match_id").as[(Long, Long)].collect()
        }
        graft.ops.PipelineCaches.release(spark)
        ()
      }
      .start()
    try {
      input.addData((30000L, mutate(known(0)._2)),
        (30001L, "zxqv wbnm plkj entirely novel tokens qqq"))
      q.processAllAvailable()
      input.addData((30002L, mutate(known(1)._2)))
      q.processAllAvailable()
      val hits = flagged.synchronized(flagged.toSet)
      assert(hits.contains((30000L, known(0)._1)) && hits.contains((30002L, known(1)._1)),
        s"mutated replays must be flagged against their sources, got $hits")
      assert(!hits.exists(_._1 == 30001L), "the novel doc must not be flagged")
    } finally q.stop()
  }

  test("streaming ingestion with cluster maintenance: labels fold in per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the FULL incremental loop a production pipeline runs: per
    // micro-batch, delta-vs-index dedup produces pairs, and
    // mergeClusters folds them into the running label state — after
    // any number of batches the labels must equal batch re-clustering
    // over every pair seen (the mergeClusters law, here driven through
    // the streaming seam with label state carried across batches).
    val corpus = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("neardup_cluster_idx").toString
    graft.ops.Dedup.writeNearDupIndex(corpus, dir)
    val known = corpus.limit(3).as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val allPairs = scala.collection.mutable.Set[(Long, Long)]()
    var labels: org.apache.spark.sql.DataFrame = null
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        this.synchronized {
          val pairs = graft.ops.Dedup.nearDupsAgainstIndex(spark, batch, dir)
            .select("doc_a", "doc_b")
          labels =
            if (labels == null) graft.ops.Components.connectedComponents(pairs)
            else graft.ops.Components.mergeClusters(labels,
              pairs.select(col("doc_a"), col("doc_b")))
          // materialize labels BEFORE releasing: mergeClusters' result
          // rides checkpoint blocks the release would drop
          allPairs ++= pairs.as[(Long, Long)].collect()
          labels = labels.as[(Long, Long)].collect().toSeq.toDF("doc_id", "cluster")
          graft.ops.PipelineCaches.release(spark)
        }
        ()
      }
      .start()
    try {
      input.addData((30000L, known(0)._2), (30001L, known(1)._2))
      q.processAllAvailable()
      // second batch replays doc 0 again under ANOTHER id: its cluster
      // must merge with 30000's through the shared corpus doc
      input.addData((30002L, known(0)._2), (30003L, known(2)._2))
      q.processAllAvailable()
      val got = this.synchronized {
        labels.as[(Long, Long)].collect().toMap
      }
      val expected = graft.ops.Components.connectedComponents(
        this.synchronized(allPairs.toSeq).toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"incremental labels diverged: $got vs $expected")
      assert(got(30000L) == got(30002L), "replays of the same doc must share a cluster")
    } finally q.stop()
  }

  test("streaming span scrub: boilerplate accumulates across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the span-dedup ingestion loop: each micro-batch is cleaned against
    // the persisted span-frequency index, then folded in — so a template
    // that first appears IN THE STREAM becomes boilerplate for later
    // batches once its corpus-wide count crosses the cap
    val boiler = "alpha beta gamma delta"
    val corpus = Seq(
      (1L, s"$boiler one two three four"),
      (2L, s"$boiler five six seven eight")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("span_stream_idx").toString
    graft.ops.Dedup.writeSpanIndex(corpus, dir, w = 4)
    val tpl = "tmpl head lines here"
    val cleaned = scala.collection.mutable.Map[Long, (Long, String)]()
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        this.synchronized {
          val b = batch.cache()
          cleaned ++= graft.ops.Dedup.spanDedupAgainstIndex(spark, b, dir, cap = 2)
            .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3)))
          graft.ops.Dedup.appendToSpanIndex(b, dir)
          b.unpersist()
          graft.ops.PipelineCaches.release(spark)
        }
        ()
      }
      .start()
    try {
      // batch 1: corpus boilerplate scrubbed immediately; the stream's
      // own template seen for the FIRST time passes through
      input.addData((100L, s"$boiler keep these four words"),
        (101L, s"$tpl unique tail one two"))
      q.processAllAvailable()
      // batch 2: template count in the index is still 1 → passes
      input.addData((102L, s"$tpl second sighting four"))
      q.processAllAvailable()
      // batch 3: count reached 2 → the template is now boilerplate
      input.addData((103L, s"$tpl third sighting xx yy"))
      q.processAllAvailable()
      val got = this.synchronized(cleaned.toMap)
      assert(got(100L) == ((1L, "keep these four words")), got.toString)
      assert(got(101L) == ((2L, s"$tpl unique tail one two")), got.toString)
      assert(got(102L) == ((2L, s"$tpl second sighting four")), got.toString)
      assert(got(103L) == ((1L, "third sighting xx yy")), got.toString)
    } finally q.stop()
  }
}
