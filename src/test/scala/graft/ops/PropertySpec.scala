package graft.ops

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.Tables

/** Property-style invariants (SURVEY §5.2-4) over seeded random inputs
  * and the sf0.001 tables — semantic laws the DuckDB oracle can't state:
  * window-pane additivity, dedup laws on constructed duplicates, session
  * islanding vs a reference reimplementation. */
class PropertySpec extends SparkSuite {

  private val rnd = new Random(42)
  private val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")

  private def randText(): String =
    Seq.fill(5 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")

  test("law: histogram-select ≡ sort ≡ builtin percentiles on adversarial distributions") {
    import spark.implicits._
    // three seeds × a distribution mix built to stress the select form:
    // heavy ties (10 distinct values — many ranks straddle equal-value
    // bucket boundaries), a constant column (mn == mx → every row in
    // bucket 0), and a long-tailed skew (~all mass in the lowest
    // buckets, the degenerate-bucket worst case)
    for (seed <- Seq(3, 19, 71)) {
      val r = new Random(seed)
      val rows = Seq.fill(800)((
        s"g${r.nextInt(4)}",
        r.nextInt(10).toDouble,
        42.0,
        math.pow(r.nextDouble(), 8) * 1e6))
      val df = rows.toDF("g", "ties", "const", "skew")
      val specs = Seq(
        "ties" -> Seq(0.5 -> "p50_t", 0.9 -> "p90_t"),
        "const" -> Seq(0.5 -> "p50_c"),
        "skew" -> Seq(0.25 -> "p25_s", 0.99 -> "p99_s"))
      def toMap(got: Array[org.apache.spark.sql.Row]) =
        got.map(r0 => r0.getString(0) -> r0.toSeq.tail).toMap
      val builtin = toMap(df.groupBy(col("g")).agg(
        expr("percentile(ties, 0.5)").as("p50_t"),
        expr("percentile(ties, 0.9)").as("p90_t"),
        expr("percentile(const, 0.5)").as("p50_c"),
        expr("percentile(skew, 0.25)").as("p25_s"),
        expr("percentile(skew, 0.99)").as("p99_s")).collect())
      val select = toMap(forced("large") { s =>
        import s.implicits._
        Relational.exactPercentiles(rows.toDF("g", "ties", "const", "skew"), "g", specs).collect()
      })
      val sort = toMap(Relational.exactPercentilesBySort(df, "g", specs).collect())
      assert(select == builtin, s"select form diverged from builtin, seed=$seed")
      assert(sort == builtin, s"sort form diverged from builtin, seed=$seed")
      PipelineCaches.release(spark)
    }
  }

  test("law: identical documents always surface as near-dup pairs with jaccard 1") {
    import spark.implicits._
    // 10 base docs, each duplicated once with whitespace/case noise
    val base = (0 until 10).map(i => (i.toLong, randText()))
    val dups = base.map { case (i, t) => (i + 100L, "  " + t.toUpperCase + "  ") }
    val docs = (base ++ dups).toDF("doc_id", "text")

    val exact = Dedup.nearDupPairs(docs, threshold = 0.99).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    base.foreach { case (i, _) =>
      assert(exact.contains((i, i + 100L)), s"dup pair for doc $i missing")
    }
    val sim = Dedup.simhashPairs(docs, maxHamming = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    base.foreach { case (i, _) =>
      assert(sim.contains((i, i + 100L)), s"simhash pair for doc $i missing")
    }
  }

  test("law: fuzzy-match distances equal the uncapped Levenshtein at every cap") {
    import spark.implicits._
    // corpora of mutated near-copies: shared token sets (so LSH bands
    // collide) with char-level edits layered on — exercises every
    // adaptive-cap bucket boundary via varying text lengths and caps
    val base = (0 until 12).map(i => (i.toLong, randText()))
    val mutated = base.map { case (i, t) =>
      val chars = t.toCharArray
      val nEdits = rnd.nextInt(5)
      (0 until nEdits).foreach { _ =>
        chars(rnd.nextInt(chars.length)) = ('a' + rnd.nextInt(26)).toChar
      }
      (i + 100L, new String(chars))
    }
    val docs = (base ++ mutated).toDF("doc_id", "text")
    for (cap <- Seq(3, 8, 127)) {
      val got = Dedup.fuzzyMatch(docs, docs, simThreshold = 0.05, capChars = cap)
        .withColumnRenamed("edit_dist", "got_dist")
      // reference: the plain uncapped builtin over the same normalization
      val norm = docs.select(col("doc_id"),
        lower(trim(regexp_replace(col("text"), "\\s+", " "))).as("t"))
      val bad = got
        .join(norm.select(col("doc_id").as("probe_id"), col("t").as("ta")), "probe_id")
        .join(norm.select(col("doc_id").as("match_id"), col("t").as("tb")), "match_id")
        .filter(col("got_dist") =!= levenshtein(col("ta"), col("tb")))
      assert(bad.isEmpty,
        s"cap=$cap must report exact distances for every kept pair: ${bad.collect().toSeq}")
      assert(got.count() > 0, "mutated twins must be found")
    }
    // the SURVIVOR SET is cap-invariant too (a capped miss is an exact
    // reject, never a lost pair): a tiny stage-1 cap — where every
    // non-identical pair escalates to the budget-banded stage 2 — must
    // yield the identical (probe, match, dist) set as an effectively
    // uncapped run
    val tiny = Dedup.fuzzyMatch(docs, docs, simThreshold = 0.6, capChars = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val wide = Dedup.fuzzyMatch(docs, docs, simThreshold = 0.6, capChars = 4096)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(tiny == wide, "survivor set must be identical at every capChars")
  }

  test("law: sequence packing is per-shard independent (other shards never move)") {
    import spark.implicits._
    val docs = (0 until 60).map(i => (i.toLong, randText())).toDF("doc_id", "text")
    val before = Sampling.packSequences(docs, tokenBudget = 64, nShards = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3), r.getLong(4))).toMap
    // append one doc; find which shard it landed in
    val extra = Seq((999L, randText())).toDF("doc_id", "text")
    val after = Sampling.packSequences(docs.unionByName(extra), tokenBudget = 64, nShards = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3), r.getLong(4))).toMap
    val hitShard = after(999L)._1
    before.foreach { case (id, v @ (shard, _, _)) =>
      if (shard != hitShard)
        assert(after(id) == v,
          s"doc $id in untouched shard $shard must keep its (sequence, offset)")
    }
  }

  test("law: packing is invariant under the sub-slice split; prefix stage is slice-parallel") {
    import spark.implicits._
    val docs = (0 until 80).map(i => (i.toLong, randText())).toDF("doc_id", "text")
    def packed(k: Int) = Sampling.packSequences(docs, tokenBudget = 64,
      nShards = 2, subSplits = k).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3), r.getLong(4))).toMap
    // the split is pure bookkeeping: any slice count reproduces the
    // exact per-shard layout (offsets stitch across slice boundaries)
    val serial = packed(1)
    assert(packed(8) == serial && packed(3) == serial,
      "sub-slice count must never change the packing")
    // and the prefix window actually runs per (shard, sub) slice — the
    // exchange key carries BOTH columns, so parallelism is nShards×k,
    // not nShards
    val plan = Sampling.packSequences(docs, tokenBudget = 64,
      nShards = 2, subSplits = 8).queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(shard") && plan.contains("sub#"),
      s"prefix stage must partition by (shard, sub):\n${plan.take(800)}")
    PipelineCaches.release(spark)
  }

  test("law: exact dedup is idempotent and partitions any corpus") {
    import spark.implicits._
    val texts = (0 until 30).map(_ => randText())
    val docs = texts.zipWithIndex
      .flatMap { case (t, i) => Seq((i.toLong, t), (i + 1000L, t)) } // every doc twice
      .toDF("doc_id", "text")
    val d1 = Dedup.exactDedup(docs)
    assert(d1.agg(sum("dup_cnt")).head.getLong(0) == 60L)
    assert(d1.filter(col("dup_cnt") < 2).isEmpty, "every text occurs at least twice")
  }

  test("law: sliding-window counts equal the sum of their tumbling panes") {
    val events = Tables.events(spark, sf).filter(col("event_type") === "purchase")
    val slide = events
      .groupBy(window(col("ts"), "1 hour", "5 minutes"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("window.end")).as("win_end"), col("cnt"))
    val pane = events
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("pane_cnt"))
      .select(unix_timestamp(col("window.end")).as("pane_end"), col("pane_cnt"))
    // pane belongs to sliding window w iff pane_end in (win_end - 1h, win_end]
    val recomposed = slide.join(pane,
        col("pane_end") > col("win_end") - 3600 && col("pane_end") <= col("win_end"))
      .groupBy(col("win_end"), col("cnt"))
      .agg(sum("pane_cnt").as("recomposed"))
    assert(recomposed.filter(col("cnt") =!= col("recomposed")).isEmpty,
      "every sliding window must equal the sum of its 12 panes")
  }

  test("law: session windows match reference islanding implementation") {
    val got = EventWindows.sessionCounts(Tables.events(spark, sf))
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    val gapUs = 43200000000L
    val raw = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("tus"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = raw.groupBy(_._1).flatMap { case (uid, rows) =>
      val ts = rows.map(_._2).sorted
      val sessions = ts.foldLeft(List.empty[List[Long]]) {
        case (Nil, t) => List(List(t))
        case (cur :: done, t) =>
          if (t - cur.head < gapUs) (t :: cur) :: done else List(t) :: cur :: done
      }
      sessions.map(s => (uid, s.last, s.head + gapUs, s.size.toLong))
    }.toSet
    assert(got == expected)
  }

  test("law: salted aggregation equals plain aggregation (incl. skewed keys)") {
    import spark.implicits._
    // 90% of rows share one hot key — the shape salting exists for
    val rows = (0 until 5000).map { i =>
      val k = if (rnd.nextInt(10) < 9) "hot" else s"k${rnd.nextInt(20)}"
      (k, rnd.nextInt(100).toLong)
    }
    val df = rows.toDF("k", "v")
    val plain = df.groupBy("k")
      .agg(sum("v").as("total"), count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val salted = Skew.saltedSum(df, Seq("k"), "v", salt = 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == plain)
    val plainCnt = df.groupBy("k").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val saltedCnt = Skew.saltedCount(df, Seq("k"), salt = 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(saltedCnt == plainCnt)
  }

  test("law: salted join equals plain join (incl. skewed and unmatched keys)") {
    import spark.implicits._
    // hot fact key + fact keys with no dim row + dim rows never probed —
    // replication must not invent or lose matches on any of them
    val fact = ((0 until 4000).map(i => ("hot", i.toLong)) ++
      (0 until 500).map(i => (s"k${i % 25}", i.toLong)) ++
      Seq(("orphan", -1L))).toDF("k", "v")
    val dim = ((0 until 25).map(i => (s"k$i", s"d$i")) :+ ("hot", "dh")
      :+ ("unprobed", "du")).toDF("k", "tag")
    val plain = fact.join(dim, "k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val salted = Skew.saltedJoin(fact, dim, "k", salt = 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(salted == plain)
    assert(plain.size == 4000 + 500) // sanity: hot fan-in + dims, no orphan/unprobed

    // split join: same law, and for EVERY hot-set choice — thresholds
    // putting all keys cold, only "hot" hot, and everything hot must all
    // equal the plain join (the result is hot-set-invariant, which is
    // what makes sample-based detection safe at scale)
    for (threshold <- Seq(100000L, 1000L, 1L)) {
      val split = Skew.skewSplitJoin(fact, dim, "k", threshold)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      assert(split == plain, s"hotThreshold=$threshold")
    }
  }

  test("embed blocking: max bucket occupancy shrinks as bits grow") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    def maxBucket(bits: Int): Long =
      SimSearch.signBuckets(emb, bits).groupBy("bucket").count()
        .agg(max("count")).head.getLong(0)
    val occ = Seq(2, 4, 8, 12).map(maxBucket)
    assert(occ == occ.sorted.reverse, s"occupancy must be non-increasing in bits: $occ")
    assert(occ.last < occ.head, s"more bits must actually split the hot bucket: $occ")
  }

  test("autoBits grows with corpus size and clamps to [4, 24]") {
    assert(SimSearch.autoBits(1L) == 4)
    assert(SimSearch.autoBits(1000L * 1024) == 10)
    val seq = Seq(1L << 10, 1L << 20, 1L << 30, 1L << 40).map(SimSearch.autoBits(_))
    assert(seq == seq.sorted, s"bits must be monotone in corpus size: $seq")
    assert(SimSearch.autoBits(Long.MaxValue / 2) == 24)
  }

  test("embed near-dup rotations: rotations=1 pairs ⊆ rotations=3 pairs") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    def pairs(rot: Int): Set[(Long, Long)] =
      SimSearch.embedNearDup(emb, bits = 8, threshold = 0.1, rotations = rot)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val r1 = pairs(1)
    val r3 = pairs(3)
    assert(r1.nonEmpty)
    assert(r1.subsetOf(r3), "union-of-rotations must never lose a pair")
    assert(r3.size > r1.size,
      "extra rotations must surface pairs the first projection misses " +
        s"(r1=${r1.size}, r3=${r3.size})")
  }

  test("ivf: bounded k, deterministic, no self-match") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val a = SimSearch.ivfTopK(emb, nProbes = 5, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sortBy(x => (x._1, x._3))
    val b = SimSearch.ivfTopK(emb, nProbes = 5, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sortBy(x => (x._1, x._3))
    assert(a.sameElements(b), "ivf must be deterministic")
    assert(a.nonEmpty && a.forall { case (p, n, _) => p != n })
    assert(a.groupBy(_._1).forall(_._2.length <= 5))
  }

  test("law: z-value interleave is invertible (no two points share a z)") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    // the full 16x16 low grid plus random high points: a collision or a
    // non-invertible bit layout would break file-stat pruning silently
    val grid = for (x <- 0L until 16L; y <- 0L until 16L) yield (x, y)
    val high = Seq.fill(50)((rnd.nextInt(256).toLong, rnd.nextInt(256).toLong)).distinct
    val pts = (grid ++ high).distinct
    val zs = pts.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zValue(col("x"), col("y")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(zs.map(_._3).distinct.length == pts.length, "z collision")
    // deinterleave check: even bits reconstruct x, odd bits y
    zs.foreach { case (x, y, z) =>
      val rx = (0 until 8).map(i => ((z >> (2 * i)) & 1L) << i).sum
      val ry = (0 until 8).map(i => ((z >> (2 * i + 1)) & 1L) << i).sum
      assert(rx == x && ry == y, s"z=$z does not invert to ($x,$y)")
    }
  }

  test("law: upsert is idempotent (compacting the compacted log is identity)") {
    import org.apache.spark.sql.functions.col
    val events = graft.sources.Tables.events(spark, sf)
    val once = Relational.upsertQ(events)
    // re-feed the compacted state as if it were a change log
    val relog = once.select(
      col("last_event_id").as("event_id"), col("last_ts").as("ts"),
      col("user_id"), col("event_type"), col("last_value").as("value"))
    // winner columns only: the recompacted log has 1 version per key by
    // construction, so n_versions legitimately differs
    val w1 = once.drop("n_versions")
    val w2 = Relational.upsertQ(relog).drop("n_versions")
    assert(w1.exceptAll(w2).isEmpty && w2.exceptAll(w1).isEmpty,
      "upsert(upsert(log)) must equal upsert(log) on the winner columns")
  }

  test("law: histogram of a union is the bucket-wise merge of the parts") {
    import org.apache.spark.sql.functions.col
    val events = graft.sources.Tables.events(spark, sf)
    val a = events.filter(col("event_id") % 2 === 0)
    val b = events.filter(col("event_id") % 2 =!= 0)
    val whole = Relational.histQ(events).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val merged = (Relational.histQ(a).collect() ++ Relational.histQ(b).collect())
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .groupBy(_._1)
      .map { case (k, vs) =>
        val ps = vs.map(_._2)
        k -> (ps.map(_._1).sum, ps.map(_._2).min, ps.map(_._3).max)
      }
    assert(whole == merged, "fixed-bound histograms must merge by addition")
  }

  test("law: KMV overlap on constructed slices — exact below k, bounded error above") {
    import spark.implicits._
    // slice pA/pB share exactly `shared` tokens out of `each` per side.
    // Below k = 256 distinct values per slice the sketch IS the set:
    // union/jaccard/intersection estimates must be EXACT. A larger
    // constructed universe must stay inside the 3/sqrt(k) law.
    for ((each, shared) <- Seq((100, 40), (2000, 500))) {
      val docs = (
        (0 until shared).map(i => ("pA", s"sh_$i")) ++
          (0 until each - shared).map(i => ("pA", s"a_$i")) ++
          (0 until shared).map(i => ("pB", s"sh_$i")) ++
          (0 until each - shared).map(i => ("pB", s"b_$i")))
        .groupBy(_._1)
        .map { case (s, ts) => (s.hashCode.toLong, ts.map(_._2).mkString(" "), "en", s, 1L) }
        .toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
      val r = TextOps.kmvOverlapQ(docs).head
      val unionTrue = 2 * each - shared
      val jaccTrue = shared.toDouble / unionTrue
      if (each <= 128) {
        assert(r.getDouble(6) == unionTrue.toDouble, "exact below k")
        assert(math.abs(r.getDouble(7) - jaccTrue) < 1e-6)
      } else {
        assert(math.abs(r.getDouble(6) - unionTrue) <= 3.0 / math.sqrt(256) * unionTrue,
          s"union_est ${r.getDouble(6)} vs $unionTrue")
        assert(math.abs(r.getDouble(7) - jaccTrue) <= 3.0 / math.sqrt(256))
      }
      PipelineCaches.release(spark)
    }
  }

  test("law: JS divergence — zero on identical slices, ln 2 - epsilon on near-disjoint, symmetric in content") {
    import spark.implicits._
    val mk = (s: String, texts: Seq[String]) =>
      texts.zipWithIndex.map { case (t, i) =>
        (s.hashCode.toLong * 1000 + i, t, "en", s, t.length.toLong)
      }
    // identical content → JS = 0 exactly (same distribution)
    val same = (mk("pA", Seq("x y z x", "y z")) ++ mk("pB", Seq("x y z x", "y z")))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r0 = TextOps.sourceDriftQ(same).head
    assert(r0.getDouble(5) == 0.0 && r0.getDouble(6) == 0.0)
    PipelineCaches.release(spark)
    // one shared hapax in otherwise-disjoint vocabularies → JS near ln 2
    val far = (mk("pA", Seq("a1 a2 a3 a4 a5 a6 a7 bridge")) ++
      mk("pB", Seq("b1 b2 b3 b4 b5 b6 b7 bridge")))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r1 = TextOps.sourceDriftQ(far).head
    assert(r1.getDouble(5) > 0.8 * math.log(2.0) && r1.getDouble(5) <= math.log(2.0))
    PipelineCaches.release(spark)
  }
}
