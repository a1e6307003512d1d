package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (ArrayType(FloatType)).
  *
  * All vector math is pure array expressions (`zip_with` + `aggregate`)
  * — element-wise double arithmetic folded left-to-right, which both
  * Spark and the DuckDB oracle evaluate in index order, so dot products
  * are bitwise reproducible across engines.
  *
  * Scale posture: brute-force top-k broadcasts the (small) probe set and
  * streams the corpus once — at 100 TB this is the map-side of a single
  * scan, and per-probe top-k is a window over probe_id (shuffle is
  * k·|probes| rows, not the corpus). The LSH-bucketed variant
  * (signBucketTopK) prunes the corpus scan to matching sign-buckets first.
  */
object SimSearch {

  /** Fold-left sum of an array<double> column. */
  private def arrSum(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x)

  /** Session-free HOF dot product — kept for composition outside a
    * registered session; the engine's internal paths use the native
    * codegen [[graft.functions.DotProductDouble]] (registered by
    * [[normed]]), which is bitwise-identical (same left-to-right fold)
    * and allocation-free. */
  def dot(a: Column, b: Column): Column = arrSum(zip_with(a, b, (x, y) => x * y))

  /** Native dot product (requires DotProductDouble registered on the
    * session — every internal path goes through [[normed]], which does). */
  private def ndot(a: Column, b: Column): Column =
    call_function(graft.functions.DotProductDouble.FnName, a, b)

  def l2Norm(a: Column): Column = sqrt(arrSum(transform(a, x => x * x)))

  /** Symmetric per-vector int8 quantization — the storage/bandwidth op
    * of a 100 TB vector corpus (float32 → int8 is a 4× shrink; ANN
    * candidate generation runs on codes, full precision only touches
    * survivors). scale = max|xᵢ|/127, codeᵢ = round(xᵢ·127/max|x|) ∈
    * [−127, 127]; reconstruction xᵢ ≈ codeᵢ·scale with error ≤ scale/2
    * per element (pinned in LlmOpsSpec). Zero vectors quantize to
    * all-zero codes with scale 0 (exact). Pure array expressions —
    * map-side, codegen'd, no shuffle, deterministic across engines
    * (left-to-right element order, identical `x·127/max` spelling in
    * the oracle). Output: (vec_id, codes array<int>, scale double). */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    val v = asDouble(col("embedding"))
    // materialize max|x| once per row; referencing the fold from every
    // element's lambda would recompute it per element
    embeddings
      .select(col("vec_id"), v.as("v"),
        aggregate(transform(v, x => abs(x)), lit(0.0), (a, x) => greatest(a, x)).as("ma"))
      .select(col("vec_id"),
        transform(col("v"), x =>
          when(col("ma") === 0.0, lit(0.0)).otherwise(round(x * 127 / col("ma"))))
          .cast("array<int>").as("codes"),
        (col("ma") / 127).as("scale"))
  }

  /** Declared query q_embed_quant: per-vector code summary (dims, code
    * sum/min/max, scale) of the int8 quantization — every code and the
    * scale participate in the oracle hash through the sum. */
  /** Deterministic sparse random projection (Achlioptas/JL): 64-d float
    * embeddings down to m=16 dims with the {+1, 0, −1} matrix drawn
    * from the portable md5 hash of the COORDINATES (density 1/3:
    * hash(i,j) % 6 → 0:+1, 1:−1, else 0) and the √(3/m) variance
    * correction. The matrix is a pure function of (i, j) — no stored
    * model, any engine regenerates it — so the projection is DATA, not
    * a run artifact, and the oracle rebuilds the identical matrix.
    *
    * Scale shape: the matrix is driver-materialized into the plan as
    * ~d·m/3 straight-line adds per row (codegen'd, no md5 per ROW, no
    * UDF, no shuffle) — the cheap-ANN/clustering preprocessing step at
    * any corpus size. Bit-exactness: terms add in ascending input-dim
    * order, left-associated, exactly the order the generated oracle SQL
    * spells; subtraction IS addition of the negation in IEEE, and the
    * rounded output normalizes −0.0. */
  object RandomProject {
    val Dims = 64
    val OutDims = 16

    /** {+1, 0, −1} at (in-dim i, out-dim j) — 60-bit md5 hash mod 6,
      * the same "15 hex nibbles as BIGINT" spelling every portable
      * hash in the engine uses. */
    def sign(i: Int, j: Int): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"rp:$i:$j".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      (java.lang.Long.parseLong(hex, 16) % 6) match {
        case 0 => 1
        case 1 => -1
        case _ => 0
      }
    }

    /** The per-output-dim nonzero terms, ascending input dim.
      * Memoized once per JVM: the matrix is a constant, and both the
      * plan builder and the generated oracle SQL walk it — recomputing
      * a fresh MessageDigest per (i,j) coordinate on every call grows
      * quadratically if Dims/OutDims are ever raised. */
    private lazy val allTerms: IndexedSeq[Seq[(Int, Int)]] =
      (0 until OutDims).map { j =>
        (0 until Dims).map(i => (i, sign(i, j))).filter(_._2 != 0)
      }

    def terms(j: Int): Seq[(Int, Int)] = allTerms(j)

    val Scale: Double = math.sqrt(3.0 / OutDims)
  }

  /** Declared query q_embed_rp: the projected vectors, one rounded
    * column per output dim (every element under the oracle hash). */
  def randomProjectQ(embeddings: DataFrame): DataFrame = {
    import RandomProject._
    val v = asDouble(col("embedding"))
    val outs = (0 until OutDims).map { j =>
      val sum = terms(j).map { case (i, s) =>
        val e = element_at(col("v"), i + 1)
        if (s > 0) e else -e
      }.reduceOption(_ + _).getOrElse(lit(0.0))
      // + 0.0 normalizes a −0.0 (the all-terms-cancel row)
      (round(sum * lit(Scale), 6) + lit(0.0)).as(s"rp$j")
    }
    embeddings
      .filter(size(col("embedding")) === Dims)
      .select(col("vec_id") +: v.as("v") +: Nil: _*)
      .select(col("vec_id") +: outs: _*)
  }

  /** The q_embed_rp oracle: the SAME matrix regenerated from the md5
    * coordinates at ORACLE-BUILD time (Scala), emitted as straight-line
    * SQL with the identical term order and association. */
  def randomProjectOracleSql: String = {
    import RandomProject._
    val cols = (0 until OutDims).map { j =>
      val body = terms(j).zipWithIndex.map { case ((i, s), idx) =>
        val ref = s"v[${i + 1}]"
        if (idx == 0) (if (s > 0) ref else s"-$ref")
        else (if (s > 0) s" + $ref" else s" - $ref")
      }.mkString
      s"round(($body) * sqrt(3.0 / $OutDims.0), 6) + 0.0 AS rp$j"
    }
    s"""SELECT vec_id, ${cols.mkString(",\n")}
       |FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |FROM embeddings WHERE len(embedding) = $Dims) t""".stripMargin
  }

  def quantizeQ(embeddings: DataFrame): DataFrame =
    quantizeInt8(embeddings)
      .select(col("vec_id"),
        size(col("codes")).cast("long").as("n_dims"),
        aggregate(col("codes"), lit(0L), (a, x) => a + x).as("code_sum"),
        array_min(col("codes")).cast("long").as("code_min"),
        array_max(col("codes")).cast("long").as("code_max"),
        col("scale"))

  /** L2 normalization — the preprocessing step every cosine-similarity
    * pipeline (ANN search, SemDeDup, clustering) runs first so dot
    * products ARE cosines downstream. Pure map-side array expressions:
    * the norm folds once per row, each element divides by it; zero
    * vectors pass through unchanged (norm 0 → the guard keeps zeros
    * instead of dividing). No shuffle, codegen'd, deterministic —
    * arithmetic is all-double (the float elements are cast up BEFORE
    * multiplying, so the oracle's `CAST(x AS DOUBLE)` spelling matches
    * bit-for-bit). */
  def normalizeL2(embeddings: DataFrame): DataFrame = {
    val v = asDouble(col("embedding"))
    embeddings
      .select(col("vec_id"), v.as("v"),
        sqrt(aggregate(v, lit(0.0), (a, x) => a + x * x)).as("l2_norm"))
      .select(col("vec_id"), col("l2_norm"),
        when(col("l2_norm") === 0.0, col("v"))
          .otherwise(transform(col("v"), x => x / col("l2_norm"))).as("unit"))
  }

  /** Declared query q_embed_norm: per-vector norm summary (dim, norm,
    * checksum of the normalized elements) — every element participates
    * in the oracle hash through the checksum, rounded to the oracle's
    * 1e-6 canonicalization grain so the last-bit double noise of
    * cross-engine fold order cannot flip the hash. */
  def embedNormQ(embeddings: DataFrame): DataFrame =
    normalizeL2(embeddings)
      .select(col("vec_id"),
        size(col("unit")).cast("long").as("n_dims"),
        round(col("l2_norm"), 6).as("l2_norm"),
        round(aggregate(col("unit"), lit(0.0), (a, x) => a + x), 6).as("unit_sum"))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Drop zero-norm vectors: cosine is undefined for them, and under
    * Spark 4's default ANSI mode the division would throw rather than
    * yield null — every consumer filters them up front (mirrored in the
    * oracle SQL). */
  private def normed(embeddings: DataFrame): DataFrame = {
    graft.functions.DotProductDouble.register(embeddings.sparkSession)
    embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
  }

  /** Brute-force cosine top-k: probes = vec_id < nProbes, candidates =
    * whole corpus minus self. Deterministic tie-break (sim desc, id asc). */
  def cosineTopK(embeddings: DataFrame, nProbes: Int = 5, k: Int = 5): DataFrame = {
    val emb = normed(embeddings)
    val probes = emb.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
    val sims = emb.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        (ndot(col("v"), col("pv")) / (col("nrm") * col("pn"))).as("cos_sim"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    sims.withColumn("rnk", row_number().over(w).cast("long")).filter(col("rnk") <= k)
  }

  /** Hard-negative mining for embedding-model training (q_hard_negatives):
    * for each anchor vector, the top-k most-COSINE-similar vectors whose
    * label DIFFERS — the pairs contrastive training actually wants
    * (similar-looking, semantically wrong; random negatives are too easy
    * to teach anything). Same deterministic contract as [[cosineTopK]]
    * (anchors = vec_id < nAnchors, tie-break sim desc then neg_id asc);
    * the label-differs predicate rides the broadcast anchor join, so the
    * corpus is scanned once with the anchor block resident — at 100 TB
    * the IVF-blocked variant ([[ivfTopK]] with a label filter) is the
    * same substitution q_sim_topk makes. Emits both labels so the
    * downstream pair-writer needs no re-join. */
  def hardNegativesQ(embeddings: DataFrame, nAnchors: Int = 20,
      k: Int = 5): DataFrame = {
    graft.functions.DotProductDouble.register(embeddings.sparkSession)
    val emb = embeddings
      .select(col("vec_id"), col("label").cast("long").as("label"),
        asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
    val anchors = emb.filter(col("vec_id") < nAnchors)
      .select(col("vec_id").as("anchor_id"), col("label").as("anchor_label"),
        col("v").as("av"), col("nrm").as("an"))
    val sims = emb.crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("anchor_id") &&
        col("label") =!= col("anchor_label"))
      .select(col("anchor_id"), col("anchor_label"),
        col("vec_id").as("neg_id"), col("label").as("neg_label"),
        (ndot(col("v"), col("av")) / (col("nrm") * col("an"))).as("cos_sim"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cos_sim").desc, col("neg_id").asc)
    sims.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Cell-pruned hard-negative mining — [[hardNegativesQ]]'s 100 TB
    * form, the same substitution q_knn_clf_ivf makes for q_knn_clf:
    * both sides are assigned to their nearest deterministic sampled
    * centroid and an anchor only scores candidates IN ITS OWN CELL —
    * the IVF blocking step as DECLARED semantics, so the oracle
    * recomputes the identical cells and the result is fully
    * hash-checked. The label-differs predicate and the sim-then-id
    * tie-break are the brute form's, unchanged; an anchor whose cell
    * holds no different-label vector is absent from the output
    * (declared: the production loop widens to multi-cell probes).
    *
    * Scale shape: one corpus scan against the broadcast centroid
    * table with the argmax folded map-side, then a cell-keyed
    * equi-join — per-cell candidate volume, never |corpus|·|anchors|. */
  def hardNegativesIvfQ(embeddings: DataFrame, nAnchors: Int = 20,
      k: Int = 5, nCells: Int = 16): DataFrame = {
    graft.functions.DotProductDouble.register(embeddings.sparkSession)
    val emb = embeddings
      .select(col("vec_id"), col("label").cast("long").as("label"),
        asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
    val cents = sampledCentroids(embeddings, nCells, nAnchors)
    val withCell = PipelineCaches.track(
      emb.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("label"), col("v"), col("nrm"),
          col("cell"),
          (ndot(col("v"), col("cv")) / (col("nrm") * col("cn"))).as("cs"))
        .groupBy(col("vec_id"))
        .agg(
          max_by(col("cell"),
            struct(col("cs"), (-col("cell")).as("nc"))).as("cell"),
          first(col("label")).as("label"), first(col("v")).as("v"),
          first(col("nrm")).as("nrm")))
    val anchors = withCell.filter(col("vec_id") < nAnchors)
      .select(col("vec_id").as("anchor_id"), col("label").as("anchor_label"),
        col("cell"), col("v").as("av"), col("nrm").as("an"))
    val sims = withCell.join(anchors, "cell")
      .filter(col("vec_id") =!= col("anchor_id") &&
        col("label") =!= col("anchor_label"))
      .select(col("anchor_id"), col("anchor_label"),
        col("vec_id").as("neg_id"), col("label").as("neg_label"),
        (ndot(col("v"), col("av")) / (col("nrm") * col("an"))).as("cos_sim"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cos_sim").desc, col("neg_id").asc)
    sims.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Sign-projection bucket column for rotation `rot`: bit i is the sign
    * of dimension (rot·bits + i) mod d. Rotation 0 reads the first `bits`
    * dims (the declared, oracle-mirrored default — pmod(i, d) = i there);
    * further rotations read shifted dim windows, giving independent
    * blocking views. Every index is pmod'd against the row's own dim, so
    * bits > d (possible when [[autoBits]] outgrows a narrow embedding)
    * wraps into duplicate bucket chars instead of an ANSI
    * ArrayIndexOutOfBounds on element_at. */
  private def bucketCol(bits: Int, rot: Int): Column =
    concat((0 until bits).map { i =>
      val idx = pmod(lit(rot * bits + i), size(col("v"))) + 1
      when(element_at(col("v"), idx) > 0, lit("1")).otherwise(lit("0"))
    }: _*)

  /** (vec_id, bucket) under the rotation-`rot` sign projection — the
    * blocking embedNearDup/signBucketTopK use; exposed for bucket-
    * occupancy diagnostics (PropertySpec pins that the max bucket
    * shrinks as `bits` grows). */
  def signBuckets(embeddings: DataFrame, bits: Int, rot: Int = 0): DataFrame =
    normed(embeddings).select(col("vec_id"), bucketCol(bits, rot).as("bucket"))

  /** Bits so that expected bucket occupancy ≈ `targetPerBucket` under a
    * balanced sign distribution (2^bits ≈ corpus / target), clamped to
    * [4, 24]. The blocking self-join is quadratic PER BUCKET, so bits
    * must grow with the corpus: at 100 TB pass the row count from table
    * stats — a fixed width (e.g. 8 bits = 256 buckets forever) would
    * let per-bucket membership, and thus join cost, grow linearly with
    * corpus size. */
  def autoBits(corpusRows: Long, targetPerBucket: Long = 1024L): Int = {
    val cells = math.max(1L, corpusRows / math.max(1L, targetPerBucket))
    val ceilLog2 = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, cells - 1))
    math.min(24, math.max(4, ceilLog2))
  }

  /** Embedding-cosine near-duplicate pairs (the vector analog of the text
    * dedup family): deterministic sign-bucket blocking → per-bucket
    * self-join → cosine ≥ threshold. The bucketing is part of the
    * declared semantics (both engines compute the identical buckets), so
    * the result is exact-per-definition and oracle-checkable, while the
    * self-join stays per-bucket — at 100 TB the shuffle key is the
    * bucket, never all-pairs. Hot buckets split under AQE skew handling.
    *
    * Scale levers (both spec-pinned in PropertySpec):
    *  - `bits` grows with the corpus (use [[autoBits]]) so per-bucket
    *    membership — and the quadratic per-bucket join — stays bounded;
    *  - `rotations` > 1 unions candidates from R disjoint sign
    *    projections (recall lever: a near-dup pair missed by one
    *    projection is caught by another), deduplicated per pair. The
    *    declared query keeps (bits=8, rotations=1), whose result the
    *    oracle mirrors exactly. */
  def embedNearDup(embeddings: DataFrame, bits: Int = 8,
      threshold: Double = 0.25, rotations: Int = 1, dim: Int = 0): DataFrame = {
    val emb0 = normed(embeddings)
    // Rotation r reads dim window starting at r·bits mod d, so window
    // starts repeat with period d/gcd(d, bits) — rotations beyond that
    // re-run rotation 0's exact window for zero recall gain (when
    // bits ∤ d the period exceeds ⌈d/bits⌉: d=20, bits=8 gives 5
    // distinct windows, not 3). Cap there. Pass `dim` (from the table
    // schema / embedding-model contract) to skip the data probe; when
    // unset, the probe is one stats-sized aggregate over the NORMED
    // frame (null / zero-norm vectors already dropped) — an eager
    // corpus scan per call, which is why deployments should pass dim.
    // min() under mixed dims is deterministic but conservative: the
    // narrowest vector's period caps everyone, discarding distinct
    // windows wider vectors still have. Fixed-dim corpora (the
    // embedding-model norm) are unaffected.
    val effRotations =
      if (rotations <= 1) 1
      else {
        val d =
          if (dim > 0) dim
          else emb0.agg(min(size(col("v")))).first() match {
            case r if r.isNullAt(0) => 0 // empty corpus: one no-op pass
            case r => r.getInt(0)
          }
        if (d <= 0) 1
        else math.max(1, math.min(rotations, d / BigInt(d).gcd(BigInt(bits)).toInt))
      }
    // All rotations ride ONE banded pass — the same shape as the text
    // LSH pipelines: project every (rot, bucket) per vector in a single
    // explode, equi-join on (rot, bucket), dedup surviving pairs. One
    // corpus scan total, no cached intermediate (the earlier per-rotation
    // self-join union re-read a cached normed corpus once per rotation
    // and left the cache block for the caller to evict).
    def withBuckets(rots: Int): DataFrame = {
      val bandArr = array((0 until rots).map { r =>
        struct(lit(r).as("rot"), bucketCol(bits, r).as("bucket"))
      }: _*)
      emb0.select(col("vec_id"), col("v"), col("nrm"), explode(bandArr).as("rb"))
        .select(col("vec_id"), col("v"), col("nrm"),
          col("rb.rot").as("rot"), col("rb.bucket").as("bucket"))
    }
    val e = withBuckets(effRotations)
    val a = e.select(col("rot"), col("bucket"), col("vec_id").as("vec_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("rot"), col("bucket"), col("vec_id").as("vec_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val verified = a.join(b, Seq("rot", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        (ndot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
    if (effRotations <= 1) verified // one projection cannot repeat a pair
    // cos_sim is identical wherever a pair recurs — first() is exact
    else verified.groupBy(col("vec_a"), col("vec_b"))
      .agg(first(col("cos_sim")).as("cos_sim"))
  }

  /** The 100 TB form of [[embedNearDup]], declared as the rows-only query
    * q_embed_neardup_auto: bucket width grows with the corpus
    * ([[autoBits]]) so per-bucket membership — and the quadratic
    * per-bucket self-join — stays bounded, and a second sign projection
    * recovers pairs the first one splits. The corpus row count is one
    * stats-sized driver round-trip (the same class as the IVF probed-cell
    * list); at deployment pass it from table statistics instead. */
  def embedNearDupAuto(embeddings: DataFrame, threshold: Double = 0.25,
      rotations: Int = 2, targetPerBucket: Long = 1024L): DataFrame =
    embedNearDup(embeddings, autoBits(embeddings.count(), targetPerBucket),
      threshold, rotations)

  /** Embedding-space eval-set decontamination (q_decontaminate_embed):
    * flag corpus vectors whose cosine to ANY eval-suite vector clears
    * the threshold — the semantic complement of the n-gram
    * [[graft.ops.Dedup.contaminationQ]] (a paraphrased eval answer that
    * shares no 13-gram still lands next to its source in embedding
    * space, the leak n-gram decontamination cannot see). Eval
    * membership is declared (vec_id % evalMod = 0 — the fixture
    * stand-in for a curated eval-suite table); the eval side is
    * BROADCAST (eval suites are thousands of rows, never
    * corpus-sized), and the per-vector argmax folds MAP-SIDE via
    * max_by partial aggregation, so the one exchange carries |corpus|
    * rows — never |corpus|·|eval|. Emits one row per contaminated
    * corpus vector: (vec_id, nearest_eval, cos_sim), ties broken to
    * the lowest eval id. */
  def deconEmbedQ(embeddings: DataFrame, evalMod: Int = 50,
      threshold: Double = 0.3): DataFrame = {
    val emb = normed(embeddings)
    val evals = emb.filter(col("vec_id") % evalMod === 0)
      .select(col("vec_id").as("eval_id"), col("v").as("ev"), col("nrm").as("en"))
    deconTail(emb.filter(col("vec_id") % evalMod =!= 0)
      .crossJoin(broadcast(evals)), threshold)
  }

  /** Shared argmax tail: per corpus vector, the max eval cosine and its
    * eval id (map-side max_by partials — the [[assignCells]] shape), a
    * threshold gate on the unrounded max, 6-dp rounding for the hash
    * gate. Expects (vec_id, v, nrm, eval_id, ev, en) candidate rows. */
  private def deconTail(pairs: DataFrame, threshold: Double): DataFrame =
    pairs
      .select(col("vec_id"), col("eval_id"),
        (ndot(col("v"), col("ev")) / (col("nrm") * col("en"))).as("cs"))
      .groupBy(col("vec_id"))
      .agg(
        max(col("cs")).as("mx"),
        max_by(col("eval_id"),
          struct(col("cs"), (-col("eval_id")).as("ne"))).as("nearest_eval"))
      .filter(col("mx") >= threshold)
      .select(col("vec_id"), col("nearest_eval"),
        round(col("mx"), 6).as("cos_sim"))

  /** The 100 TB form of [[deconEmbedQ]]: IVF-blocked — corpus vectors
    * are assigned to their nearest centroid cell (ONE scan against the
    * broadcast centroid table, the same inverted file
    * [[writeIvfIndex]] persists), each eval probe searches only its
    * nProbeCells nearest cells, and only cell-mates can be flagged.
    * The blocking is declared semantics (the oracle recomputes the
    * identical cells), so the result is exact-per-definition; vs the
    * exact form it is the recall trade the [[annRecallQ]] audit
    * measures — IVF flags ⊆ exact flags, per-vector cos ≤ the exact
    * max (DeconEmbedSpec pins both). Centroids are the deterministic
    * corpus sample [[sampledCentroids]] keeps (vec_id ∈ [1, 1+nCells),
    * corpus rows by construction while nCells < evalMod). At scale a
    * probe reads |corpus|·nProbeCells/nCells bytes off the
    * cell-partitioned inverted file instead of the whole corpus. */
  def deconEmbedIvfQ(embeddings: DataFrame, evalMod: Int = 50,
      threshold: Double = 0.3, nCells: Int = 16,
      nProbeCells: Int = 4): DataFrame = {
    require(nCells < evalMod, "centroid sample must stay inside the corpus")
    val emb = normed(embeddings)
    val centroids = sampledCentroids(embeddings, nCells, 1)
    val assigned = assignCells(emb.filter(col("vec_id") % evalMod =!= 0), centroids)
    val probeCells = emb.filter(col("vec_id") % evalMod === 0)
      .crossJoin(broadcast(centroids))
      .select(col("vec_id").as("eval_id"), col("v").as("ev"),
        col("nrm").as("en"), col("cell"),
        (ndot(col("v"), col("cv")) / (col("nrm") * col("cn"))).as("cell_sim"))
      .withColumn("cr", row_number().over(
        Window.partitionBy(col("eval_id"))
          .orderBy(col("cell_sim").desc, col("cell").asc)))
      .filter(col("cr") <= nProbeCells)
      .select(col("eval_id"), col("ev"), col("en"), col("cell"))
    deconTail(assigned.join(broadcast(probeCells), Seq("cell")), threshold)
  }

  /** Steady-state embedding decontamination off the PERSISTED inverted
    * file (declared q_decontaminate_embed_incr) — the form a crawl loop
    * actually runs: the corpus's cell assignment is the IVF index
    * written once ([[writeIvfIndexWith]], cell-partitioned), and each
    * eval-suite pass reads ONLY the probed cells' partitions
    * ([[IndexRead.touched]]; DeconEmbedSpec pins the pruned scan), never
    * the whole corpus. Cells, probes, and the argmax tail are
    * bit-identical to [[deconEmbedIvfQ]] (same deterministic centroid
    * sample, same tie-breaks), so the declared query shares the
    * in-memory form's oracle text verbatim — the q_corpus_report_incr
    * same-oracle convention. Forgotten vectors are anti-joined out by
    * the shared [[Tombstones]] read, so GDPR erasure propagates to
    * decontamination verdicts with no extra plumbing. */
  def deconEmbedFromIndexQ(spark: org.apache.spark.sql.SparkSession,
      idxDir: String, embeddings: DataFrame, evalMod: Int = 50,
      threshold: Double = 0.3, nProbeCells: Int = 4): DataFrame = {
    val centroids = readCentroids(spark, idxDir)
    // cached: the probe table feeds an EAGER driver collect (the
    // probed-cell id list below, evaluated during DataFrame
    // construction) AND the broadcast join — without the cache the
    // eval×centroid window ran twice (round-16 ADVICE)
    val probeCells = PipelineCaches.track(
      normed(embeddings).filter(col("vec_id") % evalMod === 0)
        .select(col("vec_id").as("eval_id"), col("v").as("ev"), col("nrm").as("en"))
        .crossJoin(broadcast(centroids))
        .select(col("eval_id"), col("ev"), col("en"), col("cell"),
          (ndot(col("ev"), col("cv")) / (col("en") * col("cn"))).as("cell_sim"))
        .withColumn("cr", row_number().over(
          Window.partitionBy(col("eval_id"))
            .orderBy(col("cell_sim").desc, col("cell").asc)))
        .filter(col("cr") <= nProbeCells)
        .select(col("eval_id"), col("ev"), col("en"), col("cell")))
    deconTail(probedCells(spark, idxDir, probeCells)
      .join(broadcast(probeCells), Seq("cell")), threshold)
  }

  /** On-disk schemas of the IVF index tables — declared, so a probe
    * runs no footer-inference job (vec_id and cell are the corpus's
    * BIGINT vec_id; `cell` is the partition column). */
  private val CentroidsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "cell LONG, cv ARRAY<DOUBLE>, cn DOUBLE")
  private val CellsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "vec_id LONG, v ARRAY<DOUBLE>, nrm DOUBLE, cell LONG")

  private def readCentroids(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    spark.read.schema(CentroidsSchema).parquet(s"$dir/centroids")

  /** The index rows of the cells `probeCells` names (≤ nCells, the
    * [[IndexRead.touched]] prune — it always prunes), forgotten vectors
    * anti-joined out. */
  private def probedCells(spark: org.apache.spark.sql.SparkSession,
      dir: String, probeCells: DataFrame): DataFrame =
    Tombstones.minus(spark, dir,
      IndexRead.touched(spark.read.schema(CellsSchema)
          .parquet(DirSwap.resolve(spark, s"$dir/cells")),
        probeCells.select("cell"), "cell"), "vec_id")

  /** [[deconEmbedFromIndexQ]] with the per-(session, sf-dir) memoized
    * index build — the declared-query entry point. The index is the
    * CORPUS side only (eval rows are probes, not index residents), on
    * the same deterministic centroid sample as [[deconEmbedIvfQ]]. */
  def deconEmbedIncrQ(spark: org.apache.spark.sql.SparkSession,
      dir: String, evalMod: Int = 50, nCells: Int = 16): DataFrame = {
    val emb = graft.sources.Tables.embeddings(spark, dir)
    // parameters fold into the artifact path: a later call with a
    // different (evalMod, nCells) must build its own index, not
    // silently reuse one built under the old ones (round-16 ADVICE)
    val idxDir = BuildOnce.tempDirFor(
      s"graft_decon_ivf_idx_${evalMod}_$nCells", dir)
    BuildOnce(spark, idxDir, Seq(dir))(
      writeIvfIndexWith(emb.filter(col("vec_id") % evalMod =!= 0),
        sampledCentroids(emb, nCells, 1), idxDir))
    deconEmbedFromIndexQ(spark, idxDir, emb, evalMod)
  }

  /** IVF (inverted-file) approximate top-k — the standard ANN scale path:
    * partition the corpus into Voronoi cells around centroid vectors,
    * then search only the `nProbeCells` cells nearest each probe.
    *
    * Centroid training is pluggable (k-means at scale, run offline);
    * here centroids are a deterministic sample of the corpus so the
    * whole operator is reproducible. The two phases map to Spark
    * cleanly: cell assignment is one corpus scan against broadcast
    * centroids (the build side of the inverted file — persisted in a
    * real deployment, recomputed here); the query phase joins probes to
    * their cells and scans only those cells' vectors. At 100 TB the
    * assigned corpus is written bucketed by cell id, so a probe reads
    * |corpus| × nProbeCells / nCells bytes instead of everything. */
  /** Deterministic centroid sample: corpus vectors with vec_id in
    * [from, from+nCells) as (cell, cv, cn). The reproducible default the
    * declared q_sim_topk_ivf keeps; [[trainIvfCentroids]] refines it. */
  def sampledCentroids(embeddings: DataFrame, nCells: Int, from: Int): DataFrame =
    normed(embeddings)
      .filter(col("vec_id") >= from && col("vec_id") < from + nCells)
      .select(col("vec_id").as("cell"), col("v").as("cv"), col("nrm").as("cn"))

  /** Nearest-centroid assignment per corpus vector: one scan against the
    * broadcast centroid table, argmax folded MAP-SIDE via max_by partial
    * aggregation — the exchange carries |corpus| rows, not
    * |corpus|·nCells (a window-rank form shuffles the full cross
    * product). Tie-break: highest sim, then lowest cell id. */
  private def assignCells(emb: DataFrame, centroids: DataFrame): DataFrame = {
    val simToCell = ndot(col("v"), col("cv")) / (col("nrm") * col("cn"))
    emb.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"), simToCell.as("cell_sim"))
      .groupBy(col("vec_id"))
      .agg(
        max_by(col("cell"), struct(col("cell_sim"), (-col("cell")).as("nc"))).as("cell"),
        first(col("v")).as("v"), first(col("nrm")).as("nrm"))
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
  }

  /** Declared clustering workload (q_cluster): every corpus vector
    * assigned to its nearest (deterministic sampled) centroid, profiled
    * per cell — size + mean best-cosine. This puts the ASSIGNMENT math
    * (the core of IVF build and of k-means' E-step: broadcast
    * centroids, map-side argmax with the highest-sim-then-lowest-cell
    * tie-break) under the DuckDB hash gate, which the rows-only IVF
    * queries cannot. Same shape as [[assignCells]] but keeping the best
    * similarity: the exchange carries |corpus| rows, never
    * |corpus|·nCells. */
  def clusterProfileQ(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    clusterProfile(graft.sources.Tables.embeddings(spark, dir))

  /** [[clusterProfileQ]] over an explicit embeddings frame. */
  def clusterProfile(raw: DataFrame): DataFrame = {
    val emb = normed(raw)
    val cents = sampledCentroids(raw, 16, 5)
    val simToCell = ndot(col("v"), col("cv")) / (col("nrm") * col("cn"))
    emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cell"), simToCell.as("cell_sim"))
      .groupBy(col("vec_id"))
      .agg(
        max_by(col("cell"), struct(col("cell_sim"), (-col("cell")).as("nc"))).as("cell"),
        max(col("cell_sim")).as("best_sim"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), avg(col("best_sim")).as("avg_sim"))
  }

  /** Declared query q_density_sample: inverse-cluster-density data
    * selection (the SSL-prototypes / D4 shape): assign every vector to
    * its nearest deterministic centroid, then keep each cell's rows at
    * rate target/|cell| (capped at 1) under the portable hash draw —
    * dense regions are downsampled toward `target` rows per cell,
    * sparse regions survive whole, so the kept set flattens the
    * density profile of the corpus (what diversity-preserving
    * selection wants; exact dedup alone cannot do this).
    *
    * Determinism end-to-end: the assignment is q_cluster's gated
    * argmax, cell sizes are exact counts, the cut is an integer on the
    * 1e-6 grid, and the draw is the salted 60-bit md5 every sampler
    * here uses — the oracle recomputes all four stages bit-for-bit.
    *
    * Scale shape: one corpus exchange (the assignment argmax), then a
    * 16-row size table broadcast back — the draw itself is map-side.
    * The assignment frame is computed once (tracked cache) and feeds
    * both the size count and the final filter. */
  def densitySampleQ(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    densitySample(graft.sources.Tables.embeddings(spark, dir))

  def densitySample(raw: DataFrame, target: Int = 20, nCells: Int = 16): DataFrame = {
    val emb = normed(raw)
    val cents = sampledCentroids(raw, nCells, 5)
    val simToCell = ndot(col("v"), col("cv")) / (col("nrm") * col("cn"))
    val assigned = PipelineCaches.track(
      emb.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cell"), simToCell.as("cs"))
        .groupBy(col("vec_id"))
        .agg(max_by(col("cell"), struct(col("cs"), (-col("cell")).as("nc"))).as("cell")))
    val sizes = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_cell"))
      .withColumn("cut", least(lit(1000000L),
        round(lit(target) * lit(1000000.0) / col("n_cell")).cast("long")))
    val draw = pmod(conv(substring(md5(concat(lit("ds:"),
      col("vec_id").cast("string"))), 1, 15), 16, 10).cast("long"), lit(1000000L))
    assigned.join(broadcast(sizes), Seq("cell"))
      .filter(draw < col("cut"))
      .select(col("vec_id"), col("cell"), col("n_cell"), col("cut"))
  }

  /** Lloyd's k-means over the embedding corpus, as pure DataFrame ops —
    * the offline training path [[ivfTopK]]'s scaladoc names: start from
    * the deterministic sample, then `iters` rounds of assign-to-nearest
    * (broadcast centroids, map-side argmax) → per-cell elementwise mean
    * (posexplode + partial-aggregated avg, shuffle key (cell, pos)).
    * Cells that lose every member drop out. Means are distributed double
    * avgs (order-dependent in the last ulp) — fine for a trained model,
    * which is why the ORACLE-facing declared query keeps the sampled
    * form. Per-iteration results are cached and the previous iteration
    * unpersisted; the caller owns the returned frame's lifetime. */
  def trainIvfCentroids(embeddings: DataFrame, nCells: Int = 16,
      iters: Int = 5, seedFrom: Int = 5): DataFrame = {
    val emb = normed(embeddings).cache()
    // seed = the same deterministic sample sampledCentroids picks, but
    // filtered out of the already-normed (cached) frame — deriving it
    // via sampledCentroids(embeddings, ...) would re-scan and re-norm
    // the raw corpus once per training call for nCells rows
    var cents = emb
      .filter(col("vec_id") >= seedFrom && col("vec_id") < seedFrom + nCells)
      .select(col("vec_id").as("cell"), col("v").as("cv"), col("nrm").as("cn"))
      .cache()
    cents.count() // materialize before the loop re-reads it per round
    for (_ <- 1 to iters) {
      val means = assignCells(emb, cents)
        .select(col("cell"), posexplode(col("v")))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("col")).as("mv"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mv")))).as("pm"))
        .select(col("cell"), transform(col("pm"), x => x.getField("mv")).as("cv"))
        .withColumn("cn", sqrt(ndot(col("cv"), col("cv"))))
        .filter(col("cn") > 0)
      val next = means.cache()
      next.count() // cut lineage growth: each round reads a materialized table
      cents.unpersist()
      cents = next
    }
    emb.unpersist()
    cents
  }

  /** Spherical k-means on the nano grid (q_kmeans) — [[trainIvfCentroids]]'
    * E/M loop with the one change that puts the M-STEP under the DuckDB
    * hash gate: per-(cell, dim) means are computed over integer NANOS
    * (round(x·1e9) per element — exact longs, so the sums are
    * order-free under any partitioning) and the mean itself is the one
    * correctly-rounded double division nano_sum / (n·1e9) — bit-identical
    * in every engine, where trainIvfCentroids' double `avg` is
    * reduction-order noise the oracle cannot replay. Assignment is
    * q_cluster's gated argmax (cosine desc, cell asc). Cells that lose
    * every member drop out, exactly as in training.
    *
    * Scale shape per iteration: one corpus exchange for the assignment
    * argmax, one (cell, dim)-keyed partial+final aggregate for the
    * means (nCells·dim rows out — model-sized), centroids broadcast
    * back. The declared form keeps the loop UNCACHED (2 fixed
    * iterations: the corpus is re-scanned once per round inside one
    * pure plan the oracle can unroll); the deployment path for deep
    * loops is trainIvfCentroids' per-round materialization. Output:
    * per surviving cell, final-assignment population + centroid
    * checksum (element sum + norm on the 6-dp grid). */
  def kmeansNanoQ(embeddings: DataFrame, nCells: Int = 8, iters: Int = 2,
      seedFrom: Int = 5): DataFrame = {
    val emb = normed(embeddings)
    var cents = emb
      .filter(col("vec_id") >= seedFrom && col("vec_id") < seedFrom + nCells)
      .select(col("vec_id").as("cell"), col("v").as("cv"), col("nrm").as("cn"))
    for (_ <- 1 to iters) {
      cents = assignCells(emb, cents)
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(round(col("x") * lit(1000000000.0)).cast("long")).as("s"),
          count(lit(1)).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"),
          (col("s").cast("double") /
            (col("m") * lit(1000000000L)).cast("double")).as("mv")))).as("pm"))
        .select(col("cell"), transform(col("pm"), x => x.getField("mv")).as("cv"))
        .withColumn("cn", sqrt(ndot(col("cv"), col("cv"))))
        .filter(col("cn") > 0)
    }
    assignCells(emb, cents)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"))
      .join(cents.select(col("cell"),
        round(aggregate(col("cv"), lit(0.0), (a, x) => a + x), 6).as("cv_sum"),
        round(col("cn"), 6).as("cv_norm")), Seq("cell"))
      .select(col("cell"), col("n_vecs"), col("cv_sum"), col("cv_norm"))
  }

  /** IVF top-k with an explicit centroid table (cell, cv, cn) — from
    * [[sampledCentroids]] or [[trainIvfCentroids]]. */
  def ivfTopKWith(embeddings: DataFrame, centroids: DataFrame,
      nProbes: Int = 5, k: Int = 5, nProbeCells: Int = 2): DataFrame = {
    val emb = normed(embeddings)
    val simToCell = ndot(col("v"), col("cv")) / (col("nrm") * col("cn"))

    // build: nearest centroid per corpus vector (map-side argmax)
    val assigned = assignCells(emb, centroids)

    // query: nProbeCells nearest cells per probe (top-N needs the rank,
    // but only over |probes|·nCells rows — window is fine here)
    val probeCells = emb.filter(col("vec_id") < nProbes)
      .crossJoin(broadcast(centroids))
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"),
        col("cell"), simToCell.as("cell_sim"))
      .withColumn("cr", row_number().over(
        Window.partitionBy(col("probe_id")).orderBy(col("cell_sim").desc, col("cell").asc)))
      .filter(col("cr") <= nProbeCells)
      .select(col("probe_id"), col("pv"), col("pn"), col("cell"))

    val sims = assigned.join(broadcast(probeCells), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        (ndot(col("v"), col("pv")) / (col("nrm") * col("pn"))).as("cos_sim"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    sims.withColumn("rnk", row_number().over(w).cast("long")).filter(col("rnk") <= k)
  }

  def ivfTopK(embeddings: DataFrame, nProbes: Int = 5, k: Int = 5,
      nCells: Int = 16, nProbeCells: Int = 2): DataFrame =
    ivfTopKWith(embeddings, sampledCentroids(embeddings, nCells, nProbes),
      nProbes, k, nProbeCells)

  /** ANN index-quality audit (q_ann_recall): recall@k of the IVF
    * approximate search against the exact brute-force ground truth —
    * the acceptance gate a serving team runs before routing traffic to
    * an index (tune nProbeCells until measured recall clears the SLA,
    * re-run after every rebuild). Per probe: how many of the exact
    * top-k neighbors did the cell-pruned search return?
    *
    * Both rankings are the declared deterministic operators
    * ([[cosineTopK]], [[ivfTopK]] — identical tie-breaks), so the hit
    * count is exact set arithmetic the oracle replays, not a sampled
    * estimate. Probes that lose every true neighbor to an unprobed
    * cell still emit a row (n_hits = 0) — silent dropout is exactly
    * what the audit exists to catch.
    *
    * Scale shape: the two searches are the audited operators
    * themselves (each bounded by its own declared posture); the audit
    * tail joins two k·|probes|-row frames on (probe_id, neighbor_id)
    * and aggregates — audit-side work is O(k·|probes|), independent of
    * corpus size. */
  def annRecallQ(embeddings: DataFrame, nProbes: Int = 5, k: Int = 5,
      nCells: Int = 16, nProbeCells: Int = 2): DataFrame = {
    val exact = cosineTopK(embeddings, nProbes, k)
      .select(col("probe_id"), col("neighbor_id"))
    val approx = ivfTopK(embeddings, nProbes, k, nCells, nProbeCells)
      .select(col("probe_id"), col("neighbor_id"))
    val hits = approx.join(exact, Seq("probe_id", "neighbor_id"), "left_semi")
      .groupBy(col("probe_id")).agg(count(lit(1)).as("h"))
    exact.select(col("probe_id")).distinct()
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("h"), lit(0L)).as("n_hits"),
        round(coalesce(col("h"), lit(0L)).cast("double") / k, 6)
          .as("recall_at_k"))
  }

  /** Persist the inverted file for IVF search: every corpus vector
    * assigned to its nearest centroid, written PARTITIONED BY cell id
    * (plus the centroid table under `<dir>/centroids`). This is the
    * "written bucketed by cell id" deployment [[ivfTopK]]'s scaladoc
    * promises: a probe then reads |corpus| × nProbeCells / nCells
    * bytes — partition pruning, not a full scan (IvfIndexSpec pins
    * PartitionFilters in the probe plan and parity with the in-memory
    * operator). Centroid selection mirrors [[ivfTopK]] (deterministic
    * corpus sample at [centroidFrom, centroidFrom+nCells)). */
  def writeIvfIndex(embeddings: DataFrame, dir: String,
      nCells: Int = 16, centroidFrom: Int = 5): Unit =
    writeIvfIndexWith(embeddings, sampledCentroids(embeddings, nCells, centroidFrom), dir)

  /** [[writeIvfIndex]] with an explicit centroid table — the deployment
    * pairing with [[trainIvfCentroids]]: train once, persist the
    * trained inverted file, serve probes off the pruned partitions. */
  def writeIvfIndexWith(embeddings: DataFrame, centroids: DataFrame,
      dir: String): Unit = {
    // from-scratch build: drop leftover tombstones (round-13 bug
    // class) and stale committed generations
    Tombstones.reset(embeddings.sparkSession, dir)
    DirSwap.reset(embeddings.sparkSession, s"$dir/cells")
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    assignCells(normed(embeddings), centroids)
      .write.mode("overwrite").option("partitionOverwriteMode", "static").partitionBy("cell").parquet(s"$dir/cells")
  }

  /** Right-to-be-forgotten request on the IVF index (the shared
    * [[Tombstones]] lifecycle, keyed on `vec_id`): per-vector cell rows
    * need no aggregate correction — tombstone append, anti-joined
    * probes, purge at the next compaction. The centroid table is
    * aggregate geometry, not per-vector content — a forgotten vector's
    * influence on the trained centroids retires at the next offline
    * retrain (the declared rebuild path), matching how production ANN
    * stores honor deletion SLAs. */
  def forgetFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, victims: DataFrame): Unit =
    Tombstones.append(dir, Tombstones.fresh(spark, dir, victims, "vec_id"))

  /** Append new vectors to a persisted IVF index — the ingestion half
    * every other persisted index (near-dup bands, span frequencies,
    * profile sketches) already has: new vectors are assigned against
    * the STORED centroids (assignment is a pure function of the
    * centroid table, so append-then-probe equals rebuild-then-probe —
    * IvfIndexSpec pins it) and appended to the cell partitions.
    * Centroids deliberately do NOT retrain on append: a serving index's
    * cell geometry must stay stable or every existing assignment is
    * invalidated — retraining is the offline rebuild path. */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
      embeddings: DataFrame, dir: String): Unit = {
    val centroids = readCentroids(spark, dir)
    assignCells(normed(embeddings), centroids)
      .write.mode("append").partitionBy("cell")
      .parquet(DirSwap.resolve(spark, s"$dir/cells"))
  }

  /** Compact a persisted IVF index's cell partitions back to one file
    * per cell — the maintenance half of the append loop (each
    * micro-batch append adds a file-set per touched cell; probe cost
    * degrades by file count, not data size). Same temp-dir swap as the
    * other index compactions: the live index stays readable until the
    * rename. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    DirSwap(spark, s"$dir/cells") { out =>
      Tombstones.minus(spark, dir,
        spark.read.schema(CellsSchema)
          .parquet(DirSwap.resolve(spark, s"$dir/cells")), "vec_id")
        .repartition(col("cell"))
        .write.partitionBy("cell").parquet(out)
    }
    Tombstones.clear(spark, dir)
  }

  /** Declared trained-IVF workload (q_sim_topk_ivf_trained): k-means
    * centroids (2 Lloyd iterations — the declared query pins the
    * training WIRING, not convergence) → persisted inverted file →
    * partition-pruned probe via [[ivfTopKFromIndex]]. The build is
    * memoized per (session, sf dir): the first call pays train+persist
    * (as Verify does); repeat calls measure the steady-state probe —
    * at deployment training is an offline step, serving reads pruned
    * partitions. Rows-only gate (distributed double means are
    * order-dependent in the last ulp); trained recall ≥ sampled recall
    * stays pinned in LlmOpsSpec. */
  def trainedIvfQ(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val idxDir = BuildOnce.tempDirFor("graft_ivf_trained_idx", dir)
    BuildOnce(spark, idxDir, Seq(dir))(
      writeIvfIndexWith(emb, trainIvfCentroids(emb, iters = 2), idxDir))
    ivfTopKFromIndex(spark, idxDir,
      emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding")))
  }

  /** Gate form of [[trainedIvfQ]] (declared q_sim_topk_ivf_trained).
    * k-means centroids are distributed double means — order-dependent
    * in the last ulp — so the probe result itself cannot hash-match
    * an oracle. What CAN be gated is the recall law the spec pins: the
    * trained index's top-k, intersected with the in-query brute-force
    * top-k (exact, DuckDB-replayable), must recover at least
    * `recallFloor` of the true neighbor pairs. One summary row ties
    * the gate to the data: probe and corpus counts come from the
    * corpus, the booleans from the measured recall. The oracle
    * recomputes the counts from the same brute-force CTE and asserts
    * literal TRUE — so a trained index that silently lost recall now
    * FAILS the driver hash, not just a spec.
    *
    * Floor calibration: the declared probe scans nProbeCells/nCells =
    * 2/16 = 12.5 % of the corpus, so scan-fraction recall is the
    * no-structure baseline; the floor pins the index at that baseline
    * (0.12, one 1/25 recall-quantum under the measured 0.16 at sf0.01
    * — this fixture's embeddings are near-uniform, where IVF's
    * theoretical recall ≈ its scan fraction; clustered production
    * corpora sit far above it). */
  def trainedIvfGatedQ(spark: org.apache.spark.sql.SparkSession,
      dir: String, recallFloor: Double = 0.12): DataFrame = {
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val brute = cosineTopK(emb).select(col("probe_id"), col("neighbor_id"))
    val trained = trainedIvfQ(spark, dir).select(col("probe_id"), col("neighbor_id"))
    val hits = brute.join(trained, Seq("probe_id", "neighbor_id"), "left_semi")
    brute.agg(
      countDistinct(col("probe_id")).as("n_probes"),
      count(lit(1)).as("n_true_pairs"))
      .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
      .select(col("n_probes"), col("n_true_pairs"),
        (col("n_hits").cast("double") / col("n_true_pairs") >= lit(recallFloor))
          .as("recall_ok"))
  }

  /** Query a persisted IVF index: rank cells per probe against the
    * stored centroids, then scan ONLY the probed cells' partitions
    * ([[IndexRead.touched]]: the probed-cell set is |probes| ×
    * nProbeCells ids, a bounded driver round-trip) — the alternative
    * (joining on cell and relying on dynamic partition pruning) keeps
    * the same I/O but hides the pruning decision in runtime planning.
    * `probes`: (probe_id, embedding) frame. */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      probes: DataFrame, k: Int = 5, nProbeCells: Int = 2): DataFrame = {
    val centroids = readCentroids(spark, dir)
    val p = normed(probes.select(col("probe_id").as("vec_id"), col("embedding")))
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
    val probeCells = p.crossJoin(broadcast(centroids))
      .select(col("probe_id"), col("pv"), col("pn"), col("cell"),
        (ndot(col("pv"), col("cv")) / (col("pn") * col("cn"))).as("cell_sim"))
      .withColumn("cr", row_number().over(
        Window.partitionBy(col("probe_id")).orderBy(col("cell_sim").desc, col("cell").asc)))
      .filter(col("cr") <= nProbeCells)
      .select(col("probe_id"), col("pv"), col("pn"), col("cell"))
    val sims = probedCells(spark, dir, probeCells).join(broadcast(probeCells), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        (ndot(col("v"), col("pv")) / (col("nrm") * col("pn"))).as("cos_sim"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    sims.withColumn("rnk", row_number().over(w).cast("long")).filter(col("rnk") <= k)
  }

  /** Sign-bucket LSH variant (the scale path): bucket = sign bits of the
    * first `bits` coordinates; probes only scan candidates sharing their
    * bucket. Approximate — recall measured against cosineTopK in
    * LlmOpsSpec, not against an oracle. */
  def signBucketTopK(embeddings: DataFrame, nProbes: Int = 5, k: Int = 5,
      bits: Int = 8): DataFrame = {
    val emb = normed(embeddings).withColumn("bucket", bucketCol(bits, 0))
    val probes = emb.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pn"), col("bucket"))
    val sims = emb.join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        (ndot(col("v"), col("pv")) / (col("nrm") * col("pn"))).as("cos_sim"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    sims.withColumn("rnk", row_number().over(w).cast("long")).filter(col("rnk") <= k)
  }

  /** kNN label propagation — majority-vote classification over the
    * embedding corpus, the label-spreading step of a training-data
    * pipeline (hand-label / teacher-score a seed set, propagate to the
    * rest by nearest neighbors; the kNN sibling of the linear
    * [[graft.ops.Scoring]] classifier).
    *
    * Probes (the unlabeled batch) are rows with vec_id ≡ 0 (mod
    * `probeMod`); the labeled side is everything else. Each probe takes
    * the majority label of its `k` nearest labeled vectors by cosine;
    * ties break to the smaller label, and the top-k cut itself breaks
    * sim ties by neighbor id — the same discipline as [[cosineTopK]],
    * so the vote counts are integers and the output replays exactly.
    *
    * Scale shape: the probe batch broadcasts (a labeling batch is
    * metadata-sized next to the corpus); the corpus side is one map-only
    * scan, and the per-probe top-k rides the BOUNDED-BUFFER
    * [[graft.functions.Aggregators.TopKAgg]] — partial aggregation ships
    * at most k rows per probe out of each map task, so the one shuffle
    * carries k·|probes| rows no matter how large the corpus (the
    * rank-filter spelling would exchange the full |corpus|·|probes| sim
    * matrix). The (neighbor, label) pair rides the aggregate's tag as
    * tag = neighbor_id·16 + label (labels 0–15 by contract, guarded) —
    * monotone in neighbor_id, so the aggregate's score-then-tag tie
    * order IS the declared sim-then-id order. A 100 TB full-corpus
    * relabel swaps candidate generation to the IVF index ([[ivfTopKFromIndex]])
    * with the same vote semantics downstream. */
  def knnClassify(embeddings: DataFrame, k: Int = 5, probeMod: Int = 10): DataFrame = {
    graft.functions.DotProductDouble.register(embeddings.sparkSession)
    val emb = embeddings
      .select(col("vec_id"), col("label").cast("long").as("label"),
        asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
    val probes = emb.filter(pmod(col("vec_id"), lit(probeMod)) === 0)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
    val labeled = emb.filter(pmod(col("vec_id"), lit(probeMod)) =!= 0)
      // tag packing needs label ∈ [0, 16) — fail loudly, not corrupt votes
      .withColumn("label", when(col("label").between(0, 15), col("label"))
        .otherwise(raise_error(concat(lit("knnClassify: label out of [0,16): "),
          col("label").cast("string")))))
    majorityVote(labeled.crossJoin(broadcast(probes))
      .select(col("probe_id"),
        (ndot(col("v"), col("pv")) / (col("nrm") * col("pn"))).as("cos_sim"),
        (col("vec_id") * 16 + col("label")).as("tag")), k)
  }

  /** The shared vote stage of both kNN classifiers: per-probe top-k cut
    * on the bounded-buffer aggregate over (cos_sim, packed tag), then
    * majority with ties to the smaller label. Input is the candidate
    * sim stream (probe_id, cos_sim, tag = neighbor_id·16 + label). */
  private def majorityVote(sims: DataFrame, k: Int): DataFrame = {
    val topkFn = org.apache.spark.sql.functions.udaf(
      new graft.functions.Aggregators.TopKAgg(k),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[graft.functions.Aggregators.Scored]())
    val votes = sims
      .groupBy(col("probe_id"))
      .agg(topkFn(col("cos_sim"), col("tag")).as("top"))
      .select(col("probe_id"), explode(col("top")).as("nb"))
      .select(col("probe_id"), pmod(col("nb.tag"), lit(16)).as("label"))
      .groupBy(col("probe_id"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
    val vw = Window.partitionBy(col("probe_id"))
      .orderBy(col("n_votes").desc, col("label").asc)
    votes.withColumn("vr", row_number().over(vw)).filter(col("vr") === 1)
      .select(col("probe_id").as("vec_id"), col("label").as("pred_label"),
        col("n_votes"))
  }

  /** Declared query q_knn_clf over the embeddings table. */
  def knnClassifyQ(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    knnClassify(graft.sources.Tables.embeddings(spark, dir))

  /** Cell-pruned kNN classification — [[knnClassify]]'s 100 TB form:
    * instead of scoring every probe against the whole labeled corpus,
    * both sides are assigned to their nearest deterministic sampled
    * centroid (the argmax q_cluster gates) and a probe only scores
    * labeled vectors IN ITS OWN CELL — the IVF blocking step as
    * DECLARED semantics, so the oracle recomputes the identical cells
    * and the result is fully hash-checked (the same construction
    * q_sim_topk_lsh / q_embed_neardup use for their blocking). Vote and
    * tie discipline are [[majorityVote]]'s, unchanged. A probe whose
    * cell holds no labeled vector is absent from the output (declared:
    * the production loop widens to multi-cell probes for those).
    *
    * Scale shape: one corpus scan against broadcast centroids, the
    * vec_id argmax shuffle, then a cell-keyed equi-join — per-cell
    * candidate volume, never |corpus|·|probes|; the top-k cut still
    * rides the bounded-buffer aggregate. */
  def knnClassifyIvf(embeddings: DataFrame, k: Int = 5, probeMod: Int = 10,
      nCells: Int = 16): DataFrame = {
    graft.functions.DotProductDouble.register(embeddings.sparkSession)
    val emb = embeddings
      .select(col("vec_id"), col("label").cast("long").as("label"),
        asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
    val cents = sampledCentroids(embeddings, nCells, 5)
    val withCell = PipelineCaches.track(
      emb.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("label"), col("v"), col("nrm"), col("cell"),
          (ndot(col("v"), col("cv")) / (col("nrm") * col("cn"))).as("cs"))
        .groupBy(col("vec_id"))
        .agg(
          max_by(col("cell"), struct(col("cs"), (-col("cell")).as("nc"))).as("cell"),
          first(col("label")).as("label"), first(col("v")).as("v"),
          first(col("nrm")).as("nrm")))
    val probes = withCell.filter(pmod(col("vec_id"), lit(probeMod)) === 0)
      .select(col("vec_id").as("probe_id"), col("cell"),
        col("v").as("pv"), col("nrm").as("pn"))
    val labeled = withCell.filter(pmod(col("vec_id"), lit(probeMod)) =!= 0)
      .withColumn("label", when(col("label").between(0, 15), col("label"))
        .otherwise(raise_error(concat(lit("knnClassifyIvf: label out of [0,16): "),
          col("label").cast("string")))))
    majorityVote(labeled.join(probes, "cell")
      .select(col("probe_id"),
        (ndot(col("v"), col("pv")) / (col("nrm") * col("pn"))).as("cos_sim"),
        (col("vec_id") * 16 + col("label")).as("tag")), k)
  }

  /** Declared query q_knn_clf_ivf over the embeddings table. */
  def knnClassifyIvfQ(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    knnClassifyIvf(graft.sources.Tables.embeddings(spark, dir))

  /** Embedding outlier detection — the SemDeDup-style prune step that
    * flags vectors far from their own cluster (mislabeled / corrupt /
    * off-distribution rows a curation pass drops). Every vector is
    * assigned to its nearest deterministic sampled centroid (the same
    * argmax [[clusterProfile]] gates), and a vector is an outlier when
    * its best cosine sits more than `margin` BELOW its cell's mean.
    *
    * Exactness discipline: a distributed double mean is summation-
    * order-dependent, so the comparison runs in INTEGER nanos — the
    * per-row sim rounds to sim_nano = round(sim·1e9) (a BIGINT), and
    * "sim < mean − margin" cross-multiplies to
    * `sim_nano·n < Σsim_nano − margin_nano·n`, all exact 64-bit
    * arithmetic (|Σ| ≤ 1e9·|corpus|, overflow-free far past 1e9 rows
    * per cell). No decimal-precision rules, no division — the boolean
    * replays bit-identically in any engine.
    *
    * Scale shape: one corpus scan against broadcast centroids, one
    * vec_id-keyed argmax shuffle (|corpus| rows), a 16-row stats
    * aggregate broadcast back. */
  def embedOutliers(raw: DataFrame, marginNano: Long = 50000000L): DataFrame = {
    val emb = normed(raw)
    val cents = sampledCentroids(raw, 16, 5)
    val simToCell = ndot(col("v"), col("cv")) / (col("nrm") * col("cn"))
    val best = emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cell"), simToCell.as("cell_sim"))
      .groupBy(col("vec_id"))
      .agg(
        max_by(col("cell"), struct(col("cell_sim"), (-col("cell")).as("nc"))).as("cell"),
        max(col("cell_sim")).as("best_sim"))
      .withColumn("sim_nano", round(col("best_sim") * 1e9).cast("long"))
      .drop("best_sim")
    val stats = best.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("sim_nano")).as("tot_nano"))
    best.join(broadcast(stats), "cell")
      .select(col("vec_id"), col("cell"), col("sim_nano"),
        (col("sim_nano") * col("n_vecs") <
          col("tot_nano") - lit(marginNano) * col("n_vecs")).as("is_outlier"))
  }

  /** Declared query q_embed_outlier over the embeddings table. */
  def embedOutlierQ(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    embedOutliers(graft.sources.Tables.embeddings(spark, dir))

  // ---- product quantization (Jégou, Douze, Schmid, "Product
  // Quantization for Nearest Neighbor Search") ---------------------------

  /** PQ geometry: 64-dim vectors split into M=4 subspaces of 16 dims,
    * 8 codebook entries per subspace sampled deterministically from the
    * corpus (vec_id ∈ [PqCellFrom, PqCellFrom+PqCells) — the same
    * sampled-centroid rule every oracle-facing ANN query here uses). */
  val PqM = 4
  val PqSubDim = 16
  val PqCells = 8
  val PqCellFrom = 5

  private def pqSub(vcol: Column, m: Int): Column =
    slice(vcol, m * PqSubDim + 1, PqSubDim)

  /** Nano-scaled dot product — CAST(floor(dot·1e6) AS BIGINT). The
    * doubles themselves replay bit-identically (list_dot_product ==
    * DotProductDouble, both left-associated), and the integer form
    * makes every DOWNSTREAM comparison and sum order-free: the ADC
    * score is a sum of 4 of these per candidate, which a distributed
    * group-sum may add in any order — exact on integers, last-ulp
    * lottery on doubles (the q_embed_outlier / q_pagerank lesson). */
  private def dNano(a: Column, b: Column): Column =
    floor(ndot(a, b) * lit(1000000.0)).cast("long")

  /** Declared query q_sim_topk_pq: product-quantization ANN with
    * asymmetric distance computation (ADC), inner-product metric —
    * the FAISS-style compression lane next to [[ivfTopK]]'s cell
    * pruning and [[int8Quant]]'s scalar codes. Every corpus vector is
    * encoded as M=4 one-byte codes (argmax subspace dot vs the
    * codebook, tie → lowest cell); a probe scores a candidate as
    * Σ_m dnano(q_m · codebook(code_m)) — codebook lookups against the
    * PROBE's precomputed distance table, never the raw corpus vector.
    *
    * Scale shape: encoding is one broadcast join of the M·K=32-row
    * codebook against the corpus subvector stream + a 4-row argmax
    * group per vector — the corpus is touched ONCE and afterwards
    * lives as 4 longs per vector (the 16× compression that makes a
    * 100 TB vector corpus scannable); scoring joins the metadata-sized
    * probe distance table (nProbes·32 rows, broadcast) against the
    * CODES, then one integer sum per (probe, candidate). Composes with
    * IVF cell pruning (encode per cell) — declared here as the
    * brute-force ADC scan, the honest baseline the pruned variants are
    * measured against. */
  /** Shared PQ machinery: the literal codebook from the sampled-row
    * window, the materialized (tracked) code frame, and the
    * driver-computed probe ADC distance tables — see [[pqTopKQ]] for
    * the full discipline notes. */
  private def pqCodesAndTables(embeddings: DataFrame,
      nProbes: Int): (DataFrame, DataFrame) = {
    val spark = embeddings.sparkSession
    graft.functions.DotProductDouble.register(spark)
    val raw = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // The codebook is PqCells SAMPLED CORPUS ROWS — metadata by the
    // same rule as every sampled-centroid query; collected once and
    // inlined as plan literals so encoding needs NO join: per corpus
    // row, code_m is an in-row argmax over 8 literal-subvector dots
    // (dn desc, cell asc via struct ordering). The corpus is touched
    // once; the materialized code frame (4 small ints per vector) IS
    // the compressed representation PQ exists to produce.
    // ONE metadata collect serves both the codebook rows and the probe
    // vectors (ids < nProbes and ids in the codebook window)
    val head = PlanPin.boundedCollect(
      raw.filter(col("vec_id") < math.max(nProbes, PqCellFrom + PqCells)),
      PlanPin.KeyFilterCut, "pq codebook head")
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val cb: Array[Array[Array[Double]]] = {
      val rows = head.filter(r =>
        r._1 >= PqCellFrom && r._1 < PqCellFrom + PqCells)
      require(rows.length == PqCells,
        s"PQ codebook needs vec_ids [$PqCellFrom, ${PqCellFrom + PqCells}), found ${rows.length}")
      Array.tabulate(PqM)(m => rows.map(_._2
        .slice(m * PqSubDim, (m + 1) * PqSubDim)))
    }
    def dnExpr(vcol: Column, m: Int, ci: Int): Column =
      floor(ndot(pqSub(vcol, m), lit(cb(m)(ci))) * lit(1000000.0)).cast("long")
    def codeIdx(vcol: Column, m: Int): Column =
      array_max(array((0 until PqCells).map(ci =>
        struct(dnExpr(vcol, m, ci).as("dn"),
          lit(-(PqCellFrom + ci)).as("nc"), lit(ci).as("ci"))): _*))
        .getField("ci")
    // TRACKED: the code frame is the declared compressed representation
    // — materialized once, read by every probe (leaving it lazy inlines
    // the 4×8-dot argmax under the crossJoin: measured 0.8 s slower at
    // fixture, and at scale it would re-encode the corpus per probe
    // batch).
    val codes = PipelineCaches.track(raw.select(
      col("vec_id") +: (0 until PqM).map(m =>
        codeIdx(col("v"), m).as(s"ci_$m")): _*))
    // Probe ADC distance tables driver-computed (nProbes·M·K longs —
    // metadata): the same left-associated dot the native expression
    // runs, nano-floored, so the values are bit-identical to the
    // join spelling the oracle replays (PqSpec's replay is this math).
    def ddot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val probeRows = head.filter(_._1 < nProbes)
    import spark.implicits._
    val probesDf = probeRows.map { case (pid, pv) =>
      val qd = (0 until PqM).map(m => (0 until PqCells).map(ci =>
        math.floor(ddot(pv.slice(m * PqSubDim, (m + 1) * PqSubDim),
          cb(m)(ci)) * 1000000.0).toLong).toSeq)
      (pid, qd(0), qd(1), qd(2), qd(3))
    }.toSeq.toDF("probe_id", "qd_0", "qd_1", "qd_2", "qd_3")
    (codes, probesDf)
  }

  def pqTopKQ(embeddings: DataFrame, nProbes: Int = 5, k: Int = 5): DataFrame = {
    val (codes, probesDf) = pqCodesAndTables(embeddings, nProbes)
    // scoring: nProbes-row broadcast against one pass over the code
    // frame — Σ_m element_at(probe table, code) exact integer sums,
    // map-side; only the per-probe rank window shuffles
    val scored = codes.crossJoin(broadcast(probesDf))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        (0 until PqM).map(m =>
          element_at(col(s"qd_$m"), col(s"ci_$m") + 1)).reduce(_ + _)
          .as("score_nano"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("score_nano").desc, col("neighbor_id").asc)
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("neighbor_id"),
        col("score_nano"), col("rnk"))
  }

  /** Declared query q_sim_topk_pq_ivf: the IVF × PQ composition —
    * FAISS's IVFADC, the form a 100 TB vector corpus actually deploys:
    * cell pruning decides WHICH codes are read, PQ compression decides
    * how cheaply each is scored. Every corpus vector carries both its
    * nearest-sampled-centroid cell (the argmax q_cluster gates —
    * blocking as DECLARED semantics the oracle recomputes) and its 4
    * PQ codes; a probe ranks the centroid table, keeps its top
    * `nProbeCells` cells, and ADC-scores ONLY the codes in those cells
    * against its precomputed distance table. Scores are identical to
    * [[pqTopKQ]]'s full scan (blocking removes candidates, never
    * changes arithmetic); exact integer nanos throughout.
    *
    * Scale shape: one assignment scan (broadcast centroids, map-side
    * argmax), the corpus encoded ONCE (the shared tracked code frame),
    * then a cell-keyed equi-join against the broadcast (probe ×
    * probed-cell) distance tables — per-cell candidate volume, never
    * the whole code frame per probe; in the persisted deployment the
    * codes are written partitioned BY cell, making the probed-cell
    * read partition-pruned I/O (the ivfTopKFromIndex precedent). */
  def pqIvfTopKQ(embeddings: DataFrame, nProbes: Int = 5, k: Int = 5,
      nCells: Int = 16, nProbeCells: Int = 2): DataFrame = {
    val (codes, probesDf) = pqCodesAndTables(embeddings, nProbes)
    val n = normed(embeddings)
    val cents = sampledCentroids(embeddings, nCells, 5)
    val cellAsg = assignCells(n, cents).select(col("vec_id"), col("cell"))
    val probeCells = n.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
      .crossJoin(broadcast(cents))
      .select(col("probe_id"), col("cell"),
        (ndot(col("pv"), col("cv")) / (col("pn") * col("cn"))).as("cell_sim"))
      .withColumn("cr", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("cell_sim").desc, col("cell").asc)))
      .filter(col("cr") <= nProbeCells)
      .select(col("probe_id"), col("cell"))
    val probeTbl = probesDf.join(probeCells, Seq("probe_id"))
    val scored = codes.join(cellAsg, Seq("vec_id"))
      .join(broadcast(probeTbl), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        (0 until PqM).map(m =>
          element_at(col(s"qd_$m"), col(s"ci_$m") + 1)).reduce(_ + _)
          .as("score_nano"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("score_nano").desc, col("neighbor_id").asc)
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("neighbor_id"),
        col("score_nano"), col("rnk"))
  }

  /** Declared query q_sim_topk_pq_ivf over the embeddings table. */
  def pqIvfTopKQ(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    pqIvfTopKQ(graft.sources.Tables.embeddings(spark, dir))

  /** Declared query q_sim_topk_pq over the embeddings table. */
  def pqTopKQ(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    pqTopKQ(graft.sources.Tables.embeddings(spark, dir))

  /** Declared query q_bitext_mine: margin-based bitext (parallel-pair)
    * mining — the LASER/CCMatrix op that assembles translation training
    * pairs from two unaligned embedding pools. For probe x (pool X) and
    * candidate y (pool Y), the raw cosine is unreliable (hubness);
    * the published fix scores pairs by MARGIN against each side's
    * k-NN neighborhood. This query uses the absolute-margin form in
    * EXACT integer arithmetic: cosines drop to the nano grid
    * (c = ⌊cos·10⁹⌋, identical doubles → identical floor on any
    * engine), and margin_nano = 2k·c(x,y) − Σ_{NNk(x)}c − Σ_{NNk(y)}c
    * — long sums, bit-replayable, positive iff the pair beats the
    * average of its two neighborhoods. Per probe the best candidate
    * (margin desc, id asc) with positive margin is the mined pair.
    *
    * Pools: even labels = X, odd labels = Y (the fixture's label
    * column); probes = X with vec_id < nProbes.
    *
    * Scale shape: two corpus scans, both map-side against broadcast
    * small sides — (1) pool Y streams once against the broadcast probe
    * vectors, top-k per probe on the BOUNDED-BUFFER TopKAgg (shuffle ≤
    * k·|probes| rows); (2) pool X streams once against the broadcast
    * candidate vectors (≤ k·|probes| candidates by construction —
    * metadata-sized, the probe-cells collect precedent) for the
    * reverse neighborhoods. Nothing all-pairs, nothing corpus-keyed
    * shuffles; at larger probe sets the candidate generation composes
    * with the IVF/LSH blocking the other ANN paths use. */
  def bitextMineQ(embeddings: DataFrame, k: Int = 4, nProbes: Int = 50): DataFrame = {
    val spark = embeddings.sparkSession
    graft.functions.DotProductDouble.register(spark)
    // normalized corpus is read four times (each pool feeds one scan
    // and one broadcast build) — tracked cache keeps it at one parquet
    // scan + one norm pass
    val base = PipelineCaches.track(embeddings
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
      .filter(col("nrm") > 0))
    val xs = base.filter(pmod(col("label"), lit(2)) === 0)
    val ys = base.filter(pmod(col("label"), lit(2)) === 1)
    val probes = xs.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
    val fn = udaf(new graft.functions.Aggregators.TopKAgg(k),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[graft.functions.Aggregators.Scored]())
    // distributed pass 1: Y streams once against the broadcast probes,
    // bounded-buffer top-k per probe (shuffle ≤ k·|probes| rows); nano
    // cosines are exact in the aggregate's double score (≤ 1e9 ≪ 2^53)
    val topX: Map[Long, Seq[(Long, Long)]] = PlanPin.boundedCollect(
      ys.crossJoin(broadcast(probes))
      .select(col("probe_id"), col("vec_id").as("y_id"),
        floor(ndot(col("v"), col("pv")) / (col("nrm") * col("pn")) * 1e9)
          .cast("long").as("c_nano"))
      .groupBy(col("probe_id"))
      .agg(fn(col("c_nano").cast("double"), col("y_id")).as("top")),
      PlanPin.KeyedAggCut, "bitext forward k-NN cut").map { r =>
        r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(s => (s.getLong(1), s.getDouble(0).toLong)).toSeq
      }.toMap
    val candIds = topX.values.flatMap(_.map(_._1)).toSeq.distinct
    if (candIds.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("probe_id", "y_id", "c_nano", "margin_nano")
    }
    // distributed pass 2: X streams once against the ≤ k·|probes|
    // candidate vectors (metadata-sized by construction — the
    // probe-cells collect precedent); Σ top-k per candidate
    val sy: Map[Long, Long] = PlanPin.boundedCollect(
      xs.crossJoin(broadcast(
        ys.filter(col("vec_id").isInCollection(candIds))
          .select(col("vec_id").as("y_id"), col("v").as("yv"), col("nrm").as("yn"))))
      .select(col("y_id"),
        floor(ndot(col("v"), col("yv")) / (col("nrm") * col("yn")) * 1e9)
          .cast("long").as("c"), col("vec_id").as("x_id"))
      .groupBy(col("y_id"))
      .agg(fn(col("c").cast("double"), col("x_id")).as("top")),
      PlanPin.KeyedAggCut, "bitext reverse k-NN cut").map { r =>
        r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(_.getDouble(0).toLong).sum
      }.toMap
    // metadata fusion (the hybrid-RRF precedent): exact long margins
    // over the collected rank lists, best pair per probe, ratio-1.10
    // acceptance — 2k·c·100 > 110·(Σx + Σy), pure integer arithmetic
    val mined = topX.toSeq.flatMap { case (pid, top) =>
      val sx = top.map(_._2).sum
      top.map { case (y, c) =>
        (pid, y, c, 2L * k * c - sx - sy(y), 100L * 2 * k * c > 110L * (sx + sy(y)))
      }.sortBy { case (_, y, _, m, _) => (-m, y) }.headOption
        .filter(_._5).map { case (p, y, c, m, _) => (p, y, c, m) }
    }.sortBy(_._1)
    import spark.implicits._
    mined.toDF("probe_id", "y_id", "c_nano", "margin_nano")
  }

  /** Declared query q_bitext_mine_ivf: IVF-blocked bitext mining — the
    * 100 TB form of [[bitextMineQ]]. The plain form streams pool Y once
    * against EVERY broadcast probe vector (map-side cost |Y|·|probes|
    * dot products) — fine for a metadata-sized probe batch, quadratic
    * for a production probe set. Here BOTH pools are first assigned to
    * their nearest deterministic sampled centroid (the argmax
    * [[clusterProfile]] gates — blocking as DECLARED semantics the
    * oracle recomputes, the q_knn_clf_ivf construction), and a probe
    * only scores Y vectors IN ITS OWN CELL; the reverse neighborhoods
    * are likewise restricted to the candidate's cell. A probe whose
    * cell holds no Y vector is absent from the output (declared: the
    * production loop widens to multi-cell probes for those).
    *
    * Margin law: cell-pruned neighborhoods can run short of k, so the
    * margin uses the ACTUAL neighborhood sizes —
    * margin_nano = (nx+ny)·c − Σ_NN(x)c − Σ_NN(y)c, acceptance
    * 100·(nx+ny)·c > 110·(Σx+Σy) — exact long arithmetic, reducing to
    * the plain form's 2k·c law when both neighborhoods are full.
    *
    * Scale shape: one corpus scan against the broadcast centroids, the
    * vec_id argmax shuffle, then two CELL-KEYED equi-joins (per-cell
    * candidate volume, never |Y|·|probes|) each cut by the
    * bounded-buffer TopKAgg (shuffle ≤ k·|keys| rows) — both collects
    * plan-pinned via [[PlanPin.KeyedAggCut]]; the fusion over the
    * ≤ k·|probes| rank lists is metadata, driver-side. */
  def bitextMineIvfQ(embeddings: DataFrame, k: Int = 4, nProbes: Int = 50,
      nCells: Int = 16): DataFrame = {
    val spark = embeddings.sparkSession
    graft.functions.DotProductDouble.register(spark)
    val base = embeddings
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
    val cents = sampledCentroids(embeddings, nCells, 5)
    // nearest-centroid assignment, argmax folded map-side (the
    // assignCells shape, keeping label); tracked — xs/ys both read it
    val withCell = PipelineCaches.track(
      base.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("label"), col("v"), col("nrm"), col("cell"),
          (ndot(col("v"), col("cv")) / (col("nrm") * col("cn"))).as("cs"))
        .groupBy(col("vec_id"))
        .agg(
          max_by(col("cell"), struct(col("cs"), (-col("cell")).as("nc"))).as("cell"),
          first(col("label")).as("label"), first(col("v")).as("v"),
          first(col("nrm")).as("nrm")))
    val xs = withCell.filter(pmod(col("label"), lit(2)) === 0)
    val ys = withCell.filter(pmod(col("label"), lit(2)) === 1)
    val probes = xs.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("cell"),
        col("v").as("pv"), col("nrm").as("pn"))
    val fn = udaf(new graft.functions.Aggregators.TopKAgg(k),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[graft.functions.Aggregators.Scored]())
    // forward pass: Y scans once, candidates restricted to the probe's
    // cell (broadcast hash join on cell), bounded-buffer top-k per probe
    val topX: Map[Long, Seq[(Long, Long)]] = PlanPin.boundedCollect(
      ys.join(broadcast(probes), Seq("cell"))
        .select(col("probe_id"), col("vec_id").as("y_id"),
          floor(ndot(col("v"), col("pv")) / (col("nrm") * col("pn")) * 1e9)
            .cast("long").as("c_nano"))
        .groupBy(col("probe_id"))
        .agg(fn(col("c_nano").cast("double"), col("y_id")).as("top")),
      PlanPin.KeyedAggCut, "bitext-ivf forward k-NN cut").map { r =>
        r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(s => (s.getLong(1), s.getDouble(0).toLong)).toSeq
      }.toMap
    val candIds = topX.values.flatMap(_.map(_._1)).toSeq.distinct
    import spark.implicits._
    if (candIds.isEmpty)
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("probe_id", "y_id", "c_nano", "margin_nano")
    // reverse pass: X scans once against the ≤ k·|probes| candidate
    // vectors (cell-keyed — a candidate only meets X vectors in its
    // own cell), Σ + count of top-k per candidate
    val candY = ys.filter(col("vec_id").isInCollection(candIds))
      .select(col("vec_id").as("y_id"), col("cell"),
        col("v").as("yv"), col("nrm").as("yn"))
    val sy: Map[Long, (Long, Int)] = PlanPin.boundedCollect(
      xs.join(broadcast(candY), Seq("cell"))
        .select(col("y_id"),
          floor(ndot(col("v"), col("yv")) / (col("nrm") * col("yn")) * 1e9)
            .cast("long").as("c"), col("vec_id").as("x_id"))
        .groupBy(col("y_id"))
        .agg(fn(col("c").cast("double"), col("x_id")).as("top")),
      PlanPin.KeyedAggCut, "bitext-ivf reverse k-NN cut").map { r =>
        val top = r.getSeq[org.apache.spark.sql.Row](1)
        r.getLong(0) -> (top.map(_.getDouble(0).toLong).sum, top.size)
      }.toMap
    // metadata fusion: exact long margins with ACTUAL neighborhood
    // sizes, best pair per probe, ratio-1.10 acceptance
    val mined = topX.toSeq.flatMap { case (pid, top) =>
      val nx = top.size
      val sx = top.map(_._2).sum
      top.map { case (y, c) =>
        val (syy, ny) = sy(y)
        (pid, y, c, (nx + ny).toLong * c - sx - syy,
          100L * (nx + ny) * c > 110L * (sx + syy))
      }.sortBy { case (_, y, _, m, _) => (-m, y) }.headOption
        .filter(_._5).map { case (p, y, c, m, _) => (p, y, c, m) }
    }.sortBy(_._1)
    mined.toDF("probe_id", "y_id", "c_nano", "margin_nano")
  }

  /** Declared query q_mmr: Maximal Marginal Relevance re-ranking — the
    * diversity-aware selection step of a RAG retrieval stack
    * (Carbonell & Goldstein): from the probe's top-`nCand` relevance
    * list, greedily pick `kOut` items maximizing
    * λ·rel(i) − (1−λ)·max_{j∈selected} sim(i, j), so near-duplicate
    * passages stop crowding the context window. λ = 0.7 on the nano
    * grid makes every step EXACT integer arithmetic:
    * mmr_nano = 7·rel_nano − 3·maxsim_nano (ties → smaller id; step 1
    * has no selected set and is the pure relevance argmax).
    *
    * Scale shape: the distributed work is the relevance top-`nCand`
    * cut (one corpus pass against the broadcast probe, the q_sim_topk
    * spelling) plus one `nCand`-row vector collect; the greedy loop is
    * a pure function of the `nCand` candidates (≤ nCand² driver dot
    * products on the SAME left-to-right fold the engine's native
    * expression uses — bit-identical) — metadata by construction, the
    * hybrid-RRF/PQ precedent. The oracle replays the greedy as
    * `kOut` unrolled argmax CTEs over the identical nano sims. */
  def mmrQ(embeddings: DataFrame, nCand: Int = 10, kOut: Int = 5): DataFrame = {
    require(kOut > 0 && nCand >= kOut, s"need nCand >= kOut > 0")
    val spark = embeddings.sparkSession
    graft.functions.DotProductDouble.register(spark)
    val n = normed(embeddings)
    val probe = n.filter(col("vec_id") === 0)
      .select(col("v").as("pv"), col("nrm").as("pn"))
    // distributed: relevance top-nCand (nano grid, id tie-break), the
    // candidates' vectors ride the same collect
    val cand = PlanPin.boundedCollect(
      n.filter(col("vec_id") =!= 0).crossJoin(broadcast(probe))
      .select(col("vec_id"),
        floor(ndot(col("v"), col("pv")) / (col("nrm") * col("pn")) * 1e9)
          .cast("long").as("rel_nano"), col("v"), col("nrm"))
      .orderBy(col("rel_nano").desc, col("vec_id").asc).limit(nCand),
      PlanPin.TopKCut, "mmr relevance cut")
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Double](2).toArray, r.getDouble(3)))
    // metadata greedy: nano sims from the same sequential fold
    def ddot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def simNano(a: (Long, Long, Array[Double], Double),
        b: (Long, Long, Array[Double], Double)): Long =
      math.floor(ddot(a._3, b._3) / (a._4 * b._4) * 1e9).toLong
    val selected = scala.collection.mutable.ListBuffer
      .empty[(Long, Long, Long)] // (id, mmr_nano, rel_nano)
    var remaining = cand.toList
    while (selected.size < kOut && remaining.nonEmpty) {
      val chosen = remaining.map { c =>
        val maxSim = if (selected.isEmpty) 0L
          else selected.map(s => simNano(c,
            cand.find(_._1 == s._1).get)).max
        val mmr = if (selected.isEmpty) 7L * c._2
          else 7L * c._2 - 3L * maxSim
        (c, mmr)
      }.minBy { case (c, mmr) => (-mmr, c._1) }
      selected += ((chosen._1._1, chosen._2, chosen._1._2))
      remaining = remaining.filterNot(_._1 == chosen._1._1)
    }
    import spark.implicits._
    selected.toList.zipWithIndex.map { case ((id, mmr, rel), i) =>
      (i + 1L, id, rel, mmr)
    }.toDF("rank", "vec_id", "rel_nano", "mmr_nano")
  }

  /** Declared query q_mmr_batch: multi-probe MMR — [[mmrQ]] as a RAG
    * stack actually runs it, re-ranking PER QUERY over a probe batch.
    * Same Carbonell–Goldstein greedy and λ = 0.7 nano-grid arithmetic
    * (mmr_nano = 7·rel − 3·maxsim, ties → smaller id), run
    * independently per probe over that probe's top-`nCand` relevance
    * list (candidates = the corpus minus the probe itself; other
    * probes may be candidates).
    *
    * Scale shape: ONE corpus scan against the broadcast probe batch
    * with the per-probe relevance cut on the BOUNDED-BUFFER TopKAgg
    * (shuffle ≤ nCand·|probes| rows — the grouped form of mmrQ's
    * single TakeOrderedAndProject), then one key-filtered fetch of the
    * ≤ nCand·|probes| candidate vectors; both collects plan-pinned.
    * The per-probe greedy is a pure function of each probe's ≤ nCand
    * candidates — metadata, driver-side, ≤ nCand² dot products per
    * probe on the same left-to-right fold as the native expression.
    * The oracle replays every step as per-probe argmax CTEs
    * (row_number over probe_id per greedy step). */
  def mmrBatchQ(embeddings: DataFrame, nProbes: Int = 3, nCand: Int = 8,
      kOut: Int = 3): DataFrame = {
    require(kOut > 0 && nCand >= kOut && nProbes > 0,
      "need nProbes > 0 and nCand >= kOut > 0")
    val spark = embeddings.sparkSession
    graft.functions.DotProductDouble.register(spark)
    val n = PipelineCaches.track(normed(embeddings))
    val probes = n.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
    val fn = udaf(new graft.functions.Aggregators.TopKAgg(nCand),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[graft.functions.Aggregators.Scored]())
    // distributed pass 1: grouped relevance top-nCand per probe (nano
    // grid exact in the aggregate's double score; tie = smaller id is
    // TopKAgg's score-desc-tag-asc order)
    val topCand: Seq[(Long, Seq[(Long, Long)])] = PlanPin.boundedCollect(
      n.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"),
          floor(ndot(col("v"), col("pv")) / (col("nrm") * col("pn")) * 1e9)
            .cast("long").as("rel_nano"), col("vec_id"))
        .groupBy(col("probe_id"))
        .agg(fn(col("rel_nano").cast("double"), col("vec_id")).as("top")),
      PlanPin.KeyedAggCut, "mmr-batch relevance cut").map { r =>
        r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(s => (s.getLong(1), s.getDouble(0).toLong)).toSeq
      }.toSeq.sortBy(_._1)
    // distributed pass 2: fetch the ≤ nCand·|probes| candidate vectors
    // (key-filtered scan — the bounded id set is metadata by the
    // forward cut's construction)
    val candIds = topCand.flatMap(_._2.map(_._1)).distinct
    val vecs: Map[Long, (Array[Double], Double)] =
      if (candIds.isEmpty) Map.empty
      else PlanPin.boundedCollect(
        n.filter(col("vec_id").isInCollection(candIds))
          .select(col("vec_id"), col("v"), col("nrm")),
        PlanPin.KeyFilterCut, "mmr-batch candidate vectors")
        .map(r => r.getLong(0) ->
          (r.getSeq[Double](1).toArray, r.getDouble(2))).toMap
    // metadata greedy per probe — identical arithmetic to mmrQ's loop
    def ddot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def simNano(a: Long, b: Long): Long = {
      val (av, an) = vecs(a); val (bv, bn) = vecs(b)
      math.floor(ddot(av, bv) / (an * bn) * 1e9).toLong
    }
    val out = topCand.flatMap { case (pid, cand) =>
      val selected = scala.collection.mutable.ListBuffer
        .empty[(Long, Long, Long)] // (id, mmr_nano, rel_nano)
      var remaining = cand.toList
      while (selected.size < kOut && remaining.nonEmpty) {
        val chosen = remaining.map { case (id, rel) =>
          val maxSim = if (selected.isEmpty) 0L
            else selected.map(s => simNano(id, s._1)).max
          val mmr = if (selected.isEmpty) 7L * rel else 7L * rel - 3L * maxSim
          ((id, rel), mmr)
        }.minBy { case ((id, _), mmr) => (-mmr, id) }
        selected += ((chosen._1._1, chosen._2, chosen._1._2))
        remaining = remaining.filterNot(_._1 == chosen._1._1)
      }
      selected.toList.zipWithIndex.map { case ((id, mmr, rel), i) =>
        (pid, i + 1L, id, rel, mmr)
      }
    }
    import spark.implicits._
    out.toDF("probe_id", "rank", "vec_id", "rel_nano", "mmr_nano")
  }

  /** Declared query q_hybrid_rrf: HYBRID retrieval — the RAG-era
    * fusion of lexical and vector search. The text system scores every
    * document by BM25 over the standard query terms ([[Scoring.bm25Q]],
    * rounded-score grid); the vector system scores every embedding by
    * cosine against the vec_id-0 probe (the q_sim_topk dot-product
    * spelling — bit-identical across engines). Each system keeps its
    * top `kEach` (deterministic cut: score desc, doc_id asc), and
    * Reciprocal Rank Fusion (k = 60, the published constant) fuses the
    * ranks: rrf = Σ_systems 1 / (60 + rank), absent-list systems
    * contribute 0. Output: the fused top `kOut` with both source ranks.
    *
    * Scale shape: each system's global cut is a TakeOrderedAndProject
    * (heap per partition, k·partitions merge — no full sort) — the
    * ONLY corpus-sized work. The fusion itself is a pure function of
    * two ≤ kEach-row rank lists, i.e. METADATA — it runs driver-side
    * (the PQ distance-table precedent: exact, bit-replayable driver
    * arithmetic on collected metadata), replacing three window+scalar
    * distributed stages whose per-job dispatch floor dominated the
    * measured cost (1.9 s → the two top-k jobs alone). The rounding is
    * the q_pmi 9-dp grid, HALF_UP on both engines. */
  def hybridRrfQ(spark: org.apache.spark.sql.SparkSession, dir: String,
      kEach: Int = 50, kOut: Int = 20): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val emb = graft.sources.Tables.embeddings(spark, dir)
    // distributed part 1: BM25 top-kEach (TakeOrderedAndProject)
    val textTop: Seq[Long] = PlanPin.boundedCollect(
      Scoring.bm25Q(docs)
      .select(col("doc_id"), col("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(kEach),
      PlanPin.TopKCut, "hybrid RRF text cut").map(_.getLong(0)).toSeq
    // distributed part 2: cosine-vs-probe top-kEach
    val n = normed(emb)
    val probe = n.filter(col("vec_id") === 0)
      .select(col("v").as("pv"), col("nrm").as("pn"))
    val vecTop: Seq[Long] = PlanPin.boundedCollect(
      n.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .select(col("vec_id").as("doc_id"),
        (ndot(col("v"), col("pv")) / (col("nrm") * col("pn"))).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("doc_id").asc).limit(kEach),
      PlanPin.TopKCut, "hybrid RRF vector cut").map(_.getLong(0)).toSeq
    // metadata fusion: ranks are list positions (1-based); the fused
    // score is an exact double function of the two small-integer ranks
    val rText = textTop.zipWithIndex.map { case (d, i) => d -> (i + 1L) }.toMap
    val rVec = vecTop.zipWithIndex.map { case (d, i) => d -> (i + 1L) }.toMap
    val fused = (rText.keySet ++ rVec.keySet).toSeq.map { d =>
      val (rt, rv) = (rText.get(d), rVec.get(d))
      val raw = rt.map(r => 1.0 / (60.0 + r)).getOrElse(0.0) +
        rv.map(r => 1.0 / (60.0 + r)).getOrElse(0.0)
      val rrf = BigDecimal(raw)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      (d, rt, rv, rrf)
    }.sortBy { case (d, _, _, rrf) => (-rrf, d) }.take(kOut)
    import spark.implicits._
    fused.zipWithIndex.map { case ((d, rt, rv, rrf), i) =>
      (i + 1L, d, rt, rv, rrf)
    }.toDF("rank", "doc_id", "r_text", "r_vec", "rrf")
  }

  /** Dominant principal direction of the embedding matrix by power
    * iteration (q_power_iter) — the dimensionality-reduction/whitening
    * primitive next to [[randomProjectQ]]'s data-independent sketch:
    * the top right-singular vector is what PCA-based dedup, outlier
    * whitening, and spectral diagnostics all start from, and at 100 TB
    * it is THE classic "matrix too tall to materialize" computation —
    * each iteration touches the corpus exactly twice (x·v per row,
    * then the s·x fold per dimension) and ships only a d-vector back.
    *
    * Exactness: elements are quantized once to integer MICROS
    * (⌊x·10⁶⌋ — floor, not round: identical in every engine), and both
    * matrix products are BIGINT folds — order-free under any
    * partitioning. Per round: s_i = sign·(|Σ_j x_ij·v_j| div 10⁶),
    * w_j = Σ_i s_i·x_ij, then the max-norm renormalization
    * v'_j = sign(w_j)·(|w_j| div max(1, m div 10⁶)) with
    * m = max_j |w_j| — every integer division is spelled abs/sign so
    * its operands are nonnegative (floor == truncate there; a signed
    * div would floor in one engine and truncate toward zero in the
    * other). 3 fixed rounds from the all-ones start, no
    * convergence test — fixed rounds are what the oracle can unroll.
    * Convergence RATE is the spectrum's business, (σ₂/σ₁)² per round:
    * a corpus with a real dominant direction aligns in a handful of
    * rounds (spec-pinned on a planted-direction fixture); on a
    * near-isotropic corpus the 3-round output is still the exact
    * declared fold, just not yet a converged eigenvector — deployment
    * raises `iters` to match the measured gap.
    * Overflow budget at the declared scales: |x| ≤ 10⁶ (unit-norm
    * vectors), |s| ≤ d·10⁶ after the divide, |w| ≤ n·d·10¹² — 10¹⁷ at
    * sf0.1, comfortably inside BIGINT; the at-scale form raises the
    * s-divisor with n.
    *
    * Scale shape: the micro element table is built once (posexplode,
    * cached across the 3 passes); each round is one per-vector keyed
    * aggregate + one per-dimension keyed aggregate (d rows out —
    * model-sized, collected through [[PlanPin.boundedCollect]]); v
    * rides back into the next round as a d-element array literal (the
    * CMS/PQ plan-literal lesson — no join, no broadcast exchange).
    * Output: (dim, v_micro) — the direction on the micro grid. */
  def powerIterQ(embeddings: DataFrame, iters: Int = 3): DataFrame = {
    val spark = embeddings.sparkSession
    val d = embeddings.select(size(col("embedding"))).head().getInt(0)
    val e = PipelineCaches.track(embeddings
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("j", "xf")))
      .select(col("vec_id"), col("j").cast("long").as("j"),
        floor(col("xf").cast("double") * lit(1000000.0)).cast("long").as("x")))
    var v: Array[Long] = Array.fill(d)(1000000L)
    for (_ <- 1 to iters) {
      val vlit = lit(v)
      val sRed = e
        .select(col("vec_id"),
          (col("x") * element_at(vlit, (col("j") + 1).cast("int"))).as("xv"))
        .groupBy(col("vec_id")).agg(sum(col("xv")).as("sn"))
        .select(col("vec_id"),
          (signum(col("sn")).cast("long") *
            expr("abs(sn) div 1000000")).as("sr"))
      val w = PlanPin.boundedCollect(
        e.join(sRed, "vec_id")
          .groupBy(col("j")).agg(sum(col("sr") * col("x")).as("w")),
        PlanPin.KeyedAggCut, "power-iteration dimension fold")
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val wArr = Array.tabulate(d)(j => w.getOrElse(j.toLong, 0L))
      val m = wArr.map(math.abs).max
      val div = math.max(1L, m / 1000000L)
      v = wArr.map(x => math.signum(x) * (math.abs(x) / div))
    }
    import spark.implicits._
    v.zipWithIndex.map { case (x, j) => (j.toLong, x) }
      .toSeq.toDF("dim", "v_micro")
  }
}
