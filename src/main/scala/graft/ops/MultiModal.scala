package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal-column operators: image/audio/video treated as opaque
  * `BinaryType` payloads with typed metadata structs, per the north-star
  * mandate (SURVEY.md §2.4 "LLM-pipeline" row).
  *
  * The container has no image/audio codecs, so the *decode* step is a
  * clearly-marked deterministic STUB (see [[decodeFeatures]]); everything
  * around it — schema (binary + metadata struct), partition-parallel
  * iterator processing, frame sampling, hashing — is real Spark plumbing
  * and is what carries over unchanged when a real codec is dropped in.
  *
  * Scale posture: payloads never leave their partition (no shuffle in
  * decode/feature paths — pure map-side), and metadata-only queries prune
  * the binary column out of the parquet scan entirely (columnar format =
  * free skip of multi-KB payload bytes; verified via ReadSchema in
  * MultiModalSpec).
  */
object MultiModal {

  /** Deterministic fake payload: the document's UTF-8 bytes stand in for
    * an encoded image. Real pipelines read the bytes from parquet/blob
    * storage; the column type and everything downstream are identical. */
  def withPayload(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        (pmod(col("doc_id"), lit(640L)) + 64L).cast("int").as("width"),
        (pmod(col("doc_id"), lit(480L)) + 48L).cast("int").as("height"),
        lit(3).as("channels"),
        lit("raw").as("format")
      ).as("meta"))

  /** Declared query q_multimodal: byte-length, content hash, and 3
    * frame samples (8-byte slices at fixed offsets, hex-encoded — the
    * frame-sampling access pattern of video pipelines) plus metadata
    * fields. Pure codegen'd expressions over the binary column. */
  def payloadFeatures(docs: DataFrame, frames: Int = 3): DataFrame = {
    val df = withPayload(docs)
    val hexed = hex(col("payload"))
    val frameCols = (0 until frames).map(i =>
      substring(hexed, i * 16 + 1, 16).as(s"frame_$i"))
    df.select(Seq(
      col("doc_id"),
      length(col("payload")).cast("long").as("n_bytes"),
      md5(col("payload")).as("payload_md5"),
      col("meta.width").cast("long").as("width"),
      col("meta.height").cast("long").as("height")
    ) ++ frameCols: _*)
  }

  /** Output row of the resize stage: payload re-encoded at the target
    * geometry, metadata updated to match. */
  case class MMResized(doc_id: Long, payload: Array[Byte],
      width: Int, height: Int, channels: Int, format: String)

  /** Resize over the binary column — the remaining step of the
    * decode/feature-extract/resize/frame-sample quartet. Same
    * `mapPartitions` contract as [[decodeFeatures]] (per-partition codec
    * init, payloads never leave their partition).
    *
    * STUB: a real implementation decodes, rescales, and re-encodes;
    * absent codecs, the fake "resample" is nearest-neighbor over the
    * raw bytes, so the output length is round(len · targetArea/srcArea)
    * for BOTH down- and up-scaling (fractional ratios included). The
    * schema (binary out + updated metadata) and the map-side-only plan
    * are the real contract. */
  def resize(docs: DataFrame, width: Int, height: Int): Dataset[MMResized] = {
    withPayload(docs)
      .select(col("doc_id"), col("payload"),
        col("meta.width").as("w"), col("meta.height").as("h"),
        col("meta.channels").as("c"))
      .as[(Long, Array[Byte], Int, Int, Int)](Encoders.tuple(
        Encoders.scalaLong, Encoders.BINARY,
        Encoders.scalaInt, Encoders.scalaInt, Encoders.scalaInt))
      .mapPartitions { rows =>
        // per-partition init of the (stubbed) codec would go here
        rows.map { case (id, bytes, w, h, c) =>
          val ratio = (width.toDouble * height) / math.max(1L, w.toLong * h)
          // long math then clamp: a huge upscale ratio would overflow
          // .toInt (wrapping to a silent 1-byte payload); the clamp to
          // the JVM array ceiling is the documented stub limit
          val outLen =
            if (bytes.length == 0) 0
            else math.max(1L, math.min(math.round(bytes.length * ratio), (Int.MaxValue - 8).toLong)).toInt
          val out = new Array[Byte](outLen)
          var i = 0
          while (i < outLen) {
            out(i) = bytes(math.min(bytes.length - 1, (i / ratio).toInt))
            i += 1
          }
          MMResized(id, out, width, height, c, "raw")
        }
      }(Encoders.product[MMResized])
  }

  /** 60-bit dHash (difference hash — the standard perceptual-dedup
    * fingerprint for images) over a decoded sample sequence: sample 61
    * evenly-spaced positions p_i = ⌊i·(n−1)/60⌋ of the sequence, bit j =
    * [sample_j < sample_{j+1}]. Gradient-based, so it is invariant to
    * global brightness shifts and robust to local corruption — a local
    * edit flips only the bits whose samples straddle it.
    *
    * STUB decode (no codecs in this container): the "decoded grayscale
    * scanline" is the payload's code-point sequence. The fingerprint
    * shape (fixed-width LONG, hamming-comparable, band-splittable) and
    * everything downstream are the real contract.
    *
    * 60 bits, not 64: the oracle computes the identical value in SQL
    * engines where `1 << 63` overflows BIGINT; dropping to 60 keeps the
    * bit-building arithmetic overflow-free everywhere while dividing
    * evenly into the 4×15-bit LSH bands below. */
  val DHashBits = 60

  /** The 61 evenly-spaced sample code points (exact in double
    * arithmetic: i·(n−1) ≪ 2^53). */
  private def dHashCodes(decoded: Column): Column = {
    val n = length(decoded)
    transform(sequence(lit(0), lit(DHashBits)),
      i => ascii(decoded.substr(
        floor(i * (n - 1) / lit(DHashBits)).cast("int") + 1, lit(1))))
  }

  /** Fingerprint bits from a MATERIALIZED codes column. Callers must
    * stage the codes array into its own projection first: this
    * expression references it 2·60 times via element_at, and Catalyst
    * would otherwise inline the 61-substring sampling at every
    * reference (the simhash materialize-once lesson — measured ~4× on
    * the sf0.1 fixture). */
  private def dHashFromCodes(codes: Column): Column =
    (0 until DHashBits).map(j =>
      when(element_at(codes, j + 1) < element_at(codes, j + 2),
        lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _) // disjoint bits: sum == bitwise-or, no carries

  /** One-column spelling for specs/ad-hoc use; the operators below go
    * through the staged two-projection form instead. */
  def dHash(decoded: Column): Column = dHashFromCodes(dHashCodes(decoded))

  /** Perceptual near-duplicate pairs over the payload column — the
    * image-corpus sibling of [[Dedup.simhashPairs]]: dHash fingerprints
    * → 4 LSH bands of 15 bits → bucket equi-join → exact hamming ≤
    * `maxHamming` filter. Pigeonhole-exact for maxHamming ≤ 3 (a pair
    * differing in ≤ 3 of 60 bits agrees on ≥ 1 whole band), so the
    * result equals the full pairwise scan the oracle runs.
    *
    * Scale posture: candidates come from a 15-bit-bucket equi-join
    * (32768 buckets per band — shuffle on (band, bandval), never
    * all-pairs); the fingerprint rides the band rows so hamming is
    * verified inline with zero post-candidate joins (same rationale as
    * simhashPairs). Empty payloads are excluded up front (no samples to
    * hash — degenerate-payload pin in ImageDedupSpec). */
  val DHashBands = 4

  /** (doc_id, fp, band, bandval) LSH band rows of the payload dHash —
    * shared by the batch pair join and the persisted image index. */
  private def dHashBands(payloads: DataFrame): DataFrame = {
    val bandBits = DHashBits / DHashBands
    // NATIVE single-byte-walk fingerprint (DHash60): the composed
    // sampling spelling pays 61 O(n) substr scans per payload —
    // measured 1.9 s of the 2.4 s incremental probe at sf0.1; the
    // native expression is one O(n) pass inside whole-stage codegen.
    // Value parity with the composed spelling is scalacheck-pinned in
    // DHash60Props and re-asserted end-to-end in ImageDedupSpec.
    graft.functions.DHash60.register(payloads.sparkSession)
    val fp = payloads
      .filter(length(col("payload")) >= 1)
      .select(col("doc_id"),
        expr(s"${graft.functions.DHash60.FnName}(decode(payload, 'UTF-8'))").as("fp"))
    val bandArr = array((0 until DHashBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("fp"), b * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1)).as("bandval"))
    }: _*)
    fp.select(col("doc_id"), col("fp"), explode(bandArr).as("bb"))
      .select(col("doc_id"), col("fp"),
        col("bb.band").as("band"), col("bb.bandval").as("bandval"))
  }

  def imageNearDupPairs(payloads: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < DHashBands, // pigeonhole bound for banding exactness
      s"maxHamming must be < $DHashBands bands, got $maxHamming")
    // tracked: BOTH sides of the band self-join read this frame —
    // uncached, each side re-decodes and re-hashes every payload
    val bandRows = PipelineCaches.track(dHashBands(payloads))
    val left = bandRows.select(col("band"), col("bandval"),
      col("doc_id").as("doc_a"), col("fp").as("fp_a"))
    val right = bandRows.select(col("band"), col("bandval"),
      col("doc_id").as("doc_b"), col("fp").as("fp_b"))
    left.join(right, Seq("band", "bandval"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(fp_a ^ fp_b)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      // band multiplicity ≤ 4: dedup only the tiny surviving pair set
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(first(col("hamming")).as("hamming"))
  }

  /** On-disk schema of the image (dHash band) index — explicit for the
    * same empty-corpus / footer-skip reasons as the other indexes. */
  private val ImageBandsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id LONG, fp LONG, band INT, bandval LONG, bkt LONG")

  private def imageBandBuckets(spark: org.apache.spark.sql.SparkSession,
      dir: String): Int =
    IndexRead.meta(spark, dir).getAs[Int]("band_buckets")

  /** The SEVENTH persisted index — dHash bands for incremental
    * perceptual image dedup: `<dir>/bands` = (doc_id, fp, band,
    * bandval) partitioned by bkt = bandval mod bandBuckets (one file
    * per bucket); `<dir>/meta` = the bucket count so appended rows land
    * in the layout the pruned lookup relies on. The image-corpus
    * sibling of [[Dedup.writeNearDupIndex]], same ingestion-loop
    * discipline (append per micro-batch, compact on cadence, DirSwap
    * crash drills in FaultInjectionSpec). */
  def writeImageIndex(payloads: DataFrame, dir: String,
      bandBuckets: Int = 256): Unit = {
    require(bandBuckets > 0, s"bandBuckets must be positive, got $bandBuckets")
    // from-scratch build: drop leftover tombstones (round-13 bug
    // class) and stale committed generations
    Tombstones.reset(payloads.sparkSession, dir)
    DirSwap.reset(payloads.sparkSession, s"$dir/bands")
    dHashBands(payloads)
      .withColumn("doc_id", col("doc_id").cast("long"))
      .withColumn("bkt", pmod(col("bandval"), lit(bandBuckets.toLong)))
      .repartition(col("bkt"))
      .write.mode("overwrite").option("partitionOverwriteMode", "static").partitionBy("bkt").parquet(s"$dir/bands")
    IndexRead.writeMeta(payloads.sparkSession, dir, lit(bandBuckets).as("band_buckets"))
  }

  def appendToImageIndex(payloads: DataFrame, dir: String): Unit = {
    val bandBuckets = imageBandBuckets(payloads.sparkSession, dir)
    dHashBands(payloads)
      .withColumn("doc_id", col("doc_id").cast("long"))
      .withColumn("bkt", pmod(col("bandval"), lit(bandBuckets.toLong)))
      .repartition(col("bkt"))
      .write.mode("append").partitionBy("bkt")
      .parquet(DirSwap.resolve(payloads.sparkSession, s"$dir/bands"))
  }

  /** Right-to-be-forgotten request on the image index (the shared
    * [[Tombstones]] lifecycle): per-doc band rows need no aggregate
    * correction — tombstone append, anti-joined reads, purge at the
    * next compaction. */
  def forgetFromImageIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, victims: DataFrame): Unit =
    Tombstones.append(dir, Tombstones.fresh(spark, dir, victims))

  /** Compact: collapse the per-batch file accumulation back to one file
    * per bucket (rows are immutable — no re-aggregation needed, unlike
    * the additive count indexes); also the PURGE when tombstones
    * exist. */
  def compactImageIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    DirSwap(spark, s"$dir/bands") { out =>
      Tombstones.minus(spark, dir,
        spark.read.schema(ImageBandsSchema)
          .parquet(DirSwap.resolve(spark, s"$dir/bands")))
        .repartition(col("bkt"))
        .write.partitionBy("bkt").parquet(out)
    }
    Tombstones.clear(spark, dir)
  }

  /** Perceptual near-dup pairs between a delta of NEW payloads and the
    * persisted image index: (doc_a = indexed id, doc_b = new id,
    * hamming ≤ maxHamming). Ids must be disjoint (the crawl-delta
    * contract every index lookup here shares).
    *
    * Scale shape: the delta's band rows are delta-sized (broadcast by
    * AQE); the index read is partition-PRUNED to the buckets the
    * delta's bandvals hash into ([[IndexRead.touched]], always — no
    * footprint gate); fingerprints ride both sides so hamming verifies
    * inline — zero post-candidate joins, no index shuffle. */
  def imageNearDupsAgainstIndex(spark: org.apache.spark.sql.SparkSession,
      deltaPayloads: DataFrame, dir: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming < DHashBands,
      s"maxHamming must be < $DHashBands bands, got $maxHamming")
    val bandBuckets = imageBandBuckets(spark, dir)
    val deltaBands = PipelineCaches.track(dHashBands(deltaPayloads))
    val idx = Tombstones.minus(spark, dir,
        IndexRead.touched(spark.read.schema(ImageBandsSchema)
            .parquet(DirSwap.resolve(spark, s"$dir/bands")),
          deltaBands.select(pmod(col("bandval"), lit(bandBuckets.toLong))), "bkt"))
      .select(col("band"), col("bandval"),
        col("doc_id").as("doc_a"), col("fp").as("fp_a"))
    idx.join(deltaBands.select(col("band"), col("bandval"),
        col("doc_id").as("doc_b"), col("fp").as("fp_b")),
        Seq("band", "bandval"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(fp_a ^ fp_b)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(first(col("hamming")).as("hamming"))
  }

  /** Declared incremental workload (q_image_dedup_incr): the standing
    * index holds the base corpus payloads; the delta is the re-encoded
    * variants (the q_image_dedup fixture's doc_id + 100000 one-byte
    * corruptions) — "dedupe incoming re-encodes against the image
    * index". BuildOnce keys the index build on the directory. */
  def imageDedupIncrQ(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val base = graft.sources.Tables.documents(spark, dir)
      .filter(length(col("text")) >= 1)
      .select(col("doc_id"), col("text"))
    val idxDir = BuildOnce.tempDirFor("graft_image_idx", dir)
    BuildOnce(spark, idxDir, Seq(dir)) {
      // Bucket count sized to the corpus (÷64, clamped to [64, 65536]):
      // each bucket is a partition dir, and the probe's floor is the
      // per-dir listing/footer cost — 256 dirs for a 5k-doc fixture
      // read 0.7 s of pure overhead (measured), while at 1e9 images the
      // same ÷64 rule yields the fine-grained pruning the incremental
      // probe exists for. The count is build-time-only (parquet
      // metadata); the probe reads the chosen count from the meta file.
      val nDocs = base.count()
      val buckets = math.max(64L, math.min(65536L, nDocs / 64)).toInt
      writeImageIndex(withPayload(base), idxDir, bandBuckets = buckets)
    }
    imageNearDupsAgainstIndex(spark, withPayload(reencodeVariants(base)), idxDir)
  }

  /** The fixture's deterministic "re-encode": doc_id + 100000, one byte
    * overwritten mid-payload — shared by q_image_dedup (batch union)
    * and q_image_dedup_incr (the delta side). */
  private def reencodeVariants(base: DataFrame): DataFrame = {
    val mid = greatest(lit(1), floor(length(col("text")) / 2).cast("int"))
    base.select((col("doc_id") + 100000L).as("doc_id"),
      concat(col("text").substr(lit(1), mid - 1), lit("~"),
        col("text").substr(mid + 1, length(col("text")))).as("text"))
  }

  /** Declared query q_image_dedup: perceptual dedup over a corpus that
    * contains re-encoded variants — each document's payload plus a copy
    * (doc_id + 100000) with ONE byte overwritten mid-payload, the
    * fixture stand-in for "same image, slightly different encode". The
    * gradient hash leaves a 1-byte corruption within hamming ≤ 3, so
    * every (doc, variant) pair surfaces while unrelated documents (whose
    * pairwise dHash distance in this corpus is ≥ 12) stay out. The
    * variant construction is declared semantics, mirrored by the
    * oracle's full O(n²) pairwise scan. */
  def imageDedupQ(docs: DataFrame): DataFrame = {
    val base = docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"), col("text"))
    imageNearDupPairs(withPayload(base.union(reencodeVariants(base))))
  }

  /** Output row of the decode/feature-extract stage. */
  case class MMFeature(doc_id: Long, n_bytes: Int, mean_byte: Double,
      hist: Array[Long])

  /** Decode + feature-extract over the binary column, one partition at a
    * time (`mapPartitions` — the iterator shape a real batched codec call
    * wants: amortize codec init per partition, stream rows through).
    *
    * STUB: a real implementation would decode `payload` with an image
    * library here; absent codecs in this container, the "features" are a
    * deterministic 16-bucket byte histogram + mean byte value computed
    * from the raw bytes. The Dataset schema, encoder, partitioning and
    * batch shape are the real contract, tested in MultiModalSpec. */
  def decodeFeatures(docs: DataFrame): Dataset[MMFeature] = {
    withPayload(docs)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { rows =>
        // per-partition init of the (stubbed) codec would go here
        rows.map { case (id, bytes) =>
          val hist = new Array[Long](16)
          var sum = 0L
          var i = 0
          while (i < bytes.length) {
            val b = bytes(i) & 0xff
            hist(b >> 4) += 1
            sum += b
            i += 1
          }
          val mean = if (bytes.length == 0) 0.0 else sum.toDouble / bytes.length
          MMFeature(id, bytes.length, mean, hist)
        }
      }(Encoders.product[MMFeature])
  }
  /** Declared query q_video_dedup: frame-fingerprint video near-dup —
    * the video-corpus sibling of [[imageDedupQ]]. A "video" is the
    * decoded payload stream cut into fixed frames (16 chars every 12 —
    * the stub decode, same contract stance as [[decodeFeatures]]);
    * each frame fingerprints with the native [[graft.functions.DHash60]]
    * and two videos pair when they share ≥ `minShared` DISTINCT frame
    * fingerprints — the shot-level fingerprint matching of a video
    * dedup pipeline (frame-exact, unlike the image path's hamming
    * bands: a video pair is evidenced by repeated whole frames, not by
    * one near-miss). The fixture unions a mid-corrupted re-encode
    * variant per video (the [[imageDedupQ]] design), so every (base,
    * variant) pair shares all frames clear of the corrupted byte.
    *
    * Scale shape: frames explode map-side (one Generate), fingerprints
    * are one O(frame) native pass each, and pairing is ONE fp-keyed
    * shuffle with the in-row ordered-pair expansion (the sourceOverlap
    * spelling) under a df cap — a degenerate frame shared by half the
    * corpus (black frames, title cards) is dropped by DECLARED
    * semantics instead of exploding candidate pairs; never all-pairs. */
  def videoFrameDedupQ(docs: DataFrame, frameLen: Int = 16, stride: Int = 12,
      minShared: Int = 3, dfCap: Int = 50): DataFrame = {
    require(frameLen > 0 && stride > 0 && minShared > 0 && dfCap >= 2)
    graft.functions.DHash60.register(docs.sparkSession)
    val base = docs.filter(length(col("text")) >= frameLen)
      .select(col("doc_id"), col("text"))
    val vids = base.union(reencodeVariants(base))
      .filter(length(col("text")) >= frameLen)
    val nF = (lit(1) +
      floor((length(col("text")) - frameLen).cast("double") / stride)).cast("int")
    val frames = graft.sources.Tables.fanout(vids)
      .select(col("doc_id"), explode(transform(sequence(lit(0), nF - 1),
        i => col("text").substr(i * stride + 1, lit(frameLen)))).as("frame"))
    val fps = frames
      .select(col("doc_id"),
        expr(s"${graft.functions.DHash60.FnName}(frame)").as("fp"))
      .distinct()
    // fp-keyed fold + in-row C(n,2) ordered pairs (bounded by dfCap)
    fps.groupBy(col("fp"))
      .agg(array_sort(collect_set(col("doc_id"))).as("vs"))
      .filter(size(col("vs")) >= 2 && size(col("vs")) <= dfCap)
      .select(explode(flatten(transform(col("vs"), (a, i) =>
        transform(slice(col("vs"), i + 2, size(col("vs"))),
          b => struct(a.as("vid_a"), b.as("vid_b")))))).as("p"))
      .select(col("p.vid_a"), col("p.vid_b"))
      .groupBy(col("vid_a"), col("vid_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Declared query q_audio_dedup: chromaprint-style audio near-dup —
    * the audio member of the multimodal dedup family (image
    * [[imageDedupQ]], video [[videoFrameDedupQ]]). The stub-decoded
    * payload stream is fingerprinted per 32-sample window at hop 16 by
    * the native [[graft.functions.ChromaFp]] expression (8 band
    * energies per window; 15 difference bits — 7 spectral gradients
    * within the window + 8 temporal gradients against the previous
    * window, the Chromaprint bit construction: gain-invariant, local
    * corruption flips only the windows whose bands straddle it). Two
    * audio payloads pair when they share ≥ `minShared` DISTINCT window
    * fingerprints under a df cap — the q_video_dedup shuffle shape
    * (fingerprint-exact matching; a pair is evidenced by repeated
    * whole windows). The fixture unions a mid-corrupted re-encode
    * variant per payload (the [[imageDedupQ]] design): the corruption
    * touches one sample, so only the ≤ 4 windows whose bands cover it
    * (plus their temporal successors) can differ — every (base,
    * variant) pair keeps far more than `minShared` shared windows.
    *
    * Scale shape: fingerprinting is ONE native O(n) pass per payload
    * (one Generate explodes the per-window array), and pairing is ONE
    * fp-keyed shuffle with the in-row ordered-pair expansion under the
    * df cap — a degenerate fingerprint (silence, constant tones)
    * shared by half the corpus is dropped by DECLARED semantics
    * instead of exploding candidate pairs; never all-pairs. */
  def audioFingerprintDedupQ(docs: DataFrame, minShared: Int = 3,
      dfCap: Int = 50): DataFrame = {
    require(minShared > 0 && dfCap >= 2)
    graft.functions.ChromaFp.register(docs.sparkSession)
    // ChromaFp needs >= 48 samples (window 32 + hop 16) for one
    // temporal-diff fingerprint
    val base = docs.filter(length(col("text")) >= 48)
      .select(col("doc_id"), col("text"))
    val auds = base.union(reencodeVariants(base))
    val fps = graft.sources.Tables.fanout(auds)
      .select(col("doc_id"),
        explode(expr(s"${graft.functions.ChromaFp.FnName}(text)")).as("fp"))
      .distinct()
    // fp-keyed fold + in-row C(n,2) ordered pairs (bounded by dfCap)
    fps.groupBy(col("fp"))
      .agg(array_sort(collect_set(col("doc_id"))).as("vs"))
      .filter(size(col("vs")) >= 2 && size(col("vs")) <= dfCap)
      .select(explode(flatten(transform(col("vs"), (a, i) =>
        transform(slice(col("vs"), i + 2, size(col("vs"))),
          b => struct(a.as("aud_a"), b.as("aud_b")))))).as("p"))
      .select(col("p.aud_a"), col("p.aud_b"))
      .groupBy(col("aud_a"), col("aud_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Per-payload DISTINCT chroma fingerprints — the row set both the
    * batch pairing and the persisted index store. */
  private def audioFps(docs: DataFrame): DataFrame = {
    graft.functions.ChromaFp.register(docs.sparkSession)
    graft.sources.Tables.fanout(docs.filter(length(col("text")) >= 48)
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        explode(expr(s"${graft.functions.ChromaFp.FnName}(text)")).as("fp"))
      .distinct()
  }

  /** On-disk schema of the audio fingerprint index — explicit for the
    * same empty-corpus / footer-skip reasons as the other indexes. */
  private val AudioFpsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id LONG, fp LONG, bkt LONG")

  private def audioFpBuckets(spark: org.apache.spark.sql.SparkSession,
      dir: String): Int =
    IndexRead.meta(spark, dir).getAs[Int]("fp_buckets")

  /** The FIFTEENTH persisted index — chroma fingerprints for
    * incremental audio dedup: `<dir>/fps` = (doc_id, fp) partitioned
    * by bkt = fp mod fpBuckets (one file per bucket); `<dir>/meta` =
    * the bucket count so appended rows land in the layout the pruned
    * lookup relies on. The audio sibling of [[writeImageIndex]], same
    * ingestion-loop discipline (append per micro-batch, compact on
    * cadence). */
  def writeAudioIndex(docs: DataFrame, dir: String,
      fpBuckets: Int = 256): Unit = {
    require(fpBuckets > 0, s"fpBuckets must be positive, got $fpBuckets")
    // from-scratch build: drop leftover tombstones (round-13 bug
    // class) and stale committed generations
    Tombstones.reset(docs.sparkSession, dir)
    DirSwap.reset(docs.sparkSession, s"$dir/fps")
    audioFps(docs)
      .withColumn("bkt", pmod(col("fp"), lit(fpBuckets.toLong)))
      .repartition(col("bkt"))
      .write.mode("overwrite").option("partitionOverwriteMode", "static").partitionBy("bkt").parquet(s"$dir/fps")
    IndexRead.writeMeta(docs.sparkSession, dir, lit(fpBuckets).as("fp_buckets"))
  }

  def appendToAudioIndex(docs: DataFrame, dir: String): Unit = {
    val fpBuckets = audioFpBuckets(docs.sparkSession, dir)
    audioFps(docs)
      .withColumn("bkt", pmod(col("fp"), lit(fpBuckets.toLong)))
      .repartition(col("bkt"))
      .write.mode("append").partitionBy("bkt")
      .parquet(DirSwap.resolve(docs.sparkSession, s"$dir/fps"))
  }

  /** Right-to-be-forgotten request on the audio index (the shared
    * [[Tombstones]] lifecycle): per-doc fingerprint rows need no
    * aggregate correction — tombstone append, anti-joined reads, purge
    * at the next compaction. */
  def forgetFromAudioIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, victims: DataFrame): Unit =
    Tombstones.append(dir, Tombstones.fresh(spark, dir, victims))

  /** Compact: collapse the per-batch file accumulation back to one file
    * per bucket (rows are immutable — no re-aggregation needed); also
    * the PURGE when tombstones exist. */
  def compactAudioIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    DirSwap(spark, s"$dir/fps") { out =>
      Tombstones.minus(spark, dir,
        spark.read.schema(AudioFpsSchema)
          .parquet(DirSwap.resolve(spark, s"$dir/fps")))
        .repartition(col("bkt"))
        .write.partitionBy("bkt").parquet(out)
    }
    Tombstones.clear(spark, dir)
  }

  /** Audio near-dup pairs between a delta of NEW payloads and the
    * persisted index: (aud_a = indexed id, aud_b = new id, n_shared ≥
    * minShared). Ids must be disjoint (the crawl-delta contract).
    *
    * df-cap consistency with the batch form: every payload sharing a
    * fingerprint lives in that fingerprint's ONE bucket, so the pruned
    * read sees the fingerprint's complete index-side posting list —
    * df over index ∪ delta is EXACT from the touched buckets alone,
    * and the cap drops the same degenerate fingerprints the batch
    * query drops (declared semantics, oracle-recomputed).
    *
    * Scale shape: the delta's fingerprints are delta-sized; the index
    * read is partition-PRUNED to the buckets the delta's fps hash into
    * ([[IndexRead.touched]], always — no footprint gate); one fp-keyed
    * join, pair counts ≥ minShared — no index-wide shuffle ever. */
  def audioNearDupsAgainstIndex(spark: org.apache.spark.sql.SparkSession,
      deltaDocs: DataFrame, dir: String, minShared: Int = 3,
      dfCap: Int = 50): DataFrame = {
    require(minShared > 0 && dfCap >= 2)
    val fpBuckets = audioFpBuckets(spark, dir)
    val deltaFps = PipelineCaches.track(audioFps(deltaDocs))
    // tombstone anti-join BEFORE the df count: a forgotten doc's
    // fingerprints must neither pair nor inflate the df cap
    val idx = PipelineCaches.track(Tombstones.minus(spark, dir,
      IndexRead.touched(spark.read.schema(AudioFpsSchema)
          .parquet(DirSwap.resolve(spark, s"$dir/fps")),
        deltaFps.select(pmod(col("fp"), lit(fpBuckets.toLong))), "bkt"))
      .select(col("doc_id"), col("fp")))
    // exact df per candidate fp from the pruned buckets (see Scaladoc)
    val df = idx.unionAll(deltaFps).groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= dfCap)
    idx.select(col("doc_id").as("aud_a"), col("fp"))
      .join(deltaFps.select(col("doc_id").as("aud_b"), col("fp")), Seq("fp"))
      .join(df, Seq("fp"), "left_semi")
      .groupBy(col("aud_a"), col("aud_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Declared incremental workload (q_audio_dedup_incr): the standing
    * index holds the base corpus payloads; the delta is the re-encoded
    * variants (the q_audio_dedup fixture's doc_id + 100000 one-sample
    * corruptions) — "dedupe incoming re-encodes against the audio
    * index". BuildOnce keys the index build on the directory. */
  def audioDedupIncrQ(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val base = graft.sources.Tables.documents(spark, dir)
      .filter(length(col("text")) >= 48)
      .select(col("doc_id"), col("text"))
    val idxDir = BuildOnce.tempDirFor("graft_audio_idx", dir)
    BuildOnce(spark, idxDir, Seq(dir)) {
      // bucket count sized to the corpus (÷64, clamped) — the image
      // index rule: per-dir listing cost floors tiny fixtures, fine
      // pruning pays at corpus scale
      val nDocs = base.count()
      val buckets = math.max(64L, math.min(65536L, nDocs / 64)).toInt
      writeAudioIndex(base, idxDir, fpBuckets = buckets)
    }
    audioNearDupsAgainstIndex(spark, reencodeVariants(base), idxDir)
  }
}
