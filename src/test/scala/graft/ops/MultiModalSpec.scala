package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Multimodal-column plumbing: schema, feature extraction, and the
  * column-pruning property that makes opaque payloads cheap at scale. */
class MultiModalSpec extends SparkSuite {

  test("payload schema: binary column + typed metadata struct") {
    val df = MultiModal.withPayload(spark.read.parquet(s"$sf/documents.parquet"))
    assert(df.schema("payload").dataType.typeName == "binary")
    val meta = df.schema("meta").dataType.typeName
    assert(meta == "struct")
    val fields = df.select("meta.*").schema.fieldNames.toSet
    assert(fields == Set("width", "height", "channels", "format"))
  }

  test("decode stub: histogram sums to byte count, mean bounded") {
    val feats = MultiModal.decodeFeatures(spark.read.parquet(s"$sf/documents.parquet")).cache()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    assert(feats.count() == docs.count())
    val bad = feats.filter { f =>
      f.hist.sum != f.n_bytes || f.mean_byte < 0.0 || f.mean_byte > 255.0
    }
    assert(bad.isEmpty, "histogram mass must equal byte count")
  }

  test("payload features: frames are hex slices of the payload") {
    val row = MultiModal.payloadFeatures(spark.read.parquet(s"$sf/documents.parquet")).filter(col("n_bytes") >= 24).head()
    val f0 = row.getAs[String]("frame_0")
    assert(f0.length == 16 && f0.matches("[0-9A-F]+"))
  }

  test("resize stub: output length tracks area ratio both ways, map-side only") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val resized = MultiModal.resize(docs, 64, 48).cache()
    assert(resized.count() == docs.count())
    val r = resized.head()
    assert(r.width == 64 && r.height == 48 && r.format == "raw")
    assert(r.payload.nonEmpty, "resampled payload must be non-empty for non-empty input")
    // the stub's contract: |out| = round(|in| · targetArea/srcArea),
    // for fractional DOWN-scale and for UP-scale alike
    val src = MultiModal.withPayload(docs)
      .select(col("doc_id"), length(col("payload")).as("len"),
        (col("meta.width").cast("long") * col("meta.height")).as("area"))
      .collect().map(row => row.getLong(0) -> (row.getInt(1), row.getLong(2))).toMap
    def checkRatio(tw: Int, th: Int): Unit =
      MultiModal.resize(docs, tw, th).collect().foreach { rr =>
        val (len, area) = src(rr.doc_id)
        val want = math.max(1, math.round(len * (tw.toDouble * th) / area).toInt)
        assert(rr.payload.length == want,
          s"doc ${rr.doc_id}: |out|=${rr.payload.length}, want $want (len=$len area=$area)")
      }
    checkRatio(64, 48)    // downscale
    checkRatio(1024, 768) // upscale past every fixture geometry
    // payloads must never shuffle: the plan is scan → project → map,
    // with no Exchange anywhere
    val plan = resized.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"resize must be map-side only:\n$plan")
  }

  test("metadata-only projection prunes text out of the parquet scan") {
    val df = MultiModal.withPayload(spark.read.parquet(s"$sf/documents.parquet"))
      .select("doc_id", "meta")
    val scan = df.queryExecution.executedPlan.toString
    assert(!scan.contains("text"), s"text column must be pruned:\n$scan")
  }

  test("audio chroma fingerprints: window count law, gain invariance, variant pairs") {
    import spark.implicits._
    graft.functions.ChromaFp.register(spark)
    def fps(s: String): Seq[Long] =
      Seq(s).toDF("t").selectExpr("chroma_fp(t) AS f")
        .collect().head.getSeq[Long](0).toSeq
    // deterministic pseudo-audio with varied "samples"
    def tone(n: Int, seed: Int): String =
      new String(Array.tabulate(n)(i =>
        ('a' + ((seed * 31 + i * i * 7 + i * 13) % 26)).toChar))
    // window count: n samples -> (1 + (n-32)/16) windows, first silent
    assert(fps(tone(47, 1)).isEmpty, "below 48 samples nothing fingerprints")
    assert(fps(tone(48, 1)).size == 1)
    assert(fps(tone(160, 1)).size == (1 + (160 - 32) / 16) - 1)
    // gain invariance: shifting EVERY sample by a constant shifts every
    // band energy equally — all difference bits unchanged (the
    // chromaprint invariance the stub preserves)
    val base = tone(160, 3)
    val gained = base.map(c => (c + 5).toChar)
    assert(fps(base) == fps(gained), "difference bits must ignore global gain")
    // corruption is LOCAL by construction: sample 80 lives in band
    // group 20, covered by windows 4..5 (spectral bits) and compared
    // against by window 6 (temporal bits) — every other window's
    // fingerprint is bit-identical (robustness to local edits is the
    // fingerprint's defining property; whether the straddling windows
    // themselves flip depends on the gradient margins)
    val corrupted = base.updated(80, ' ')
    val (fb, fc) = (fps(base), fps(corrupted))
    assert(fb.size == fc.size)
    val affected = Set(3, 4, 5) // array index = t - 1 for windows 4..6
    fb.indices.filterNot(affected).foreach(i =>
      assert(fb(i) == fc(i), s"window ${i + 1} cannot see sample 80"))
    // end-to-end: every base doc pairs with its re-encode variant
    val docs = (0L to 9L).map(i => (i, tone(200, i.toInt + 10)))
      .toDF("doc_id", "text")
    val pairs = MultiModal.audioFingerprintDedupQ(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L to 9L).foreach { i =>
      assert(pairs.contains((i, i + 100000L)),
        s"base $i must pair with its corrupted re-encode variant")
    }
    // index lookup: reads only the delta's buckets (PartitionFilters pin)
    val dir = java.nio.file.Files.createTempDirectory("audio_prune").toString
    MultiModal.writeAudioIndex(docs, dir)
    val delta = Seq((500L, tone(200, 10).updated(80, ' '))).toDF("doc_id", "text")
    val found = MultiModal.audioNearDupsAgainstIndex(spark, delta, dir)
    val scanLine = found.queryExecution.executedPlan.toString.linesIterator
      .find(l => l.contains("FileScan") && l.contains("fps")).getOrElse("")
    assert(scanLine.contains("PartitionFilters: [bkt"),
      s"audio index scan must carry a bucket partition filter:\n$scanLine")
    assert(!found.isEmpty, "the corrupted copy must pair with its indexed base")
    PipelineCaches.release(spark)
  }
}
