package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the final stage
  * of the dedup story: near-dup PAIRS (any of the [[Dedup]] pipelines)
  * become CLUSTER labels, so "keep one document per duplicate cluster"
  * is a groupBy away. The reference has no counterpart ([EXT], like the
  * rest of the LLM-pipeline family).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — each
  * round is two groupBy+join passes over the edge list, and the edge
  * set converges to a star forest (every node pointing at its
  * component minimum) in O(log²) rounds REGARDLESS of component
  * diameter. Plain min-label propagation would need diameter rounds —
  * fine for clique-ish dup clusters, adversarially linear on chained
  * near-dups (A~B~C~… drifting text), which is exactly the shape
  * boilerplate corpora produce; the star algorithm is the form that
  * survives 100 TB.
  *
  * Scale shape per round: two aggregate+join passes on (long, long)
  * edges — partial-aggregated min, equi-joins, no all-pairs anywhere.
  * Each round's edge set is materialized with `localCheckpoint`, NOT
  * `cache`: both star steps reference the previous frame several times,
  * so without lineage TRUNCATION the logical plan quadruples per round
  * and Catalyst analysis alone goes exponential (measured: unusable
  * past ~8 rounds) — the checkpoint pins each round to a constant-size
  * plan. Local (executor-storage) checkpointing trades away
  * lost-executor recompute for speed; on a cluster where rounds are
  * expensive enough to protect, swap in reliable `checkpoint` — the
  * algorithm is indifferent. Convergence is decided by an exact set
  * comparison (count + except) — never by a fingerprint that could
  * terminate early on a collision; cheap order-independent checksums
  * only GATE that comparison (unequal checksums prove non-convergence,
  * so the except anti-join runs solely on candidate-fixpoint rounds).
  */
object Components {

  /** The persisted RDD behind a localCheckpoint'd frame — the handle
    * deterministic release needs (Spark exposes no public unpersist for
    * checkpoint blocks; absent a match, cleanup degrades to the
    * GC-driven ContextCleaner). */
  private def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.headOption

  /** The smallest contracted edge count [[connectedComponents]] runs
    * the star loop for. */
  private val StarLoopEdges: Long = (1L << 20) + 1

  /** (doc_id, cluster) for every node of `pairs`, where cluster = the
    * smallest doc id in the node's connected component. Self-loops are
    * dropped; `maxRounds` is a defensive bound (the algorithm needs
    * O(log²) — a non-converging input indicates corrupt edges) and
    * exceeding it throws rather than returning a wrong answer.
    *
    * Size gate (a [[Dispatch]] gate at [[StarLoopEdges]]): the star loop
    * pays ~log² rounds of fixed scheduling cost regardless of input
    * size — at fixture scale that floor dwarfs the work. The gate runs
    * over the locally CONTRACTED edges (see the contraction note in the
    * body — per-partition spanning forests, so a dense pair graph
    * usually fits the gate even when its raw edge count does not): the
    * contracted frame is cached and counted once — one fully parallel
    * materialization, shared by both outcomes. Under the gate, the
    * cached rows collect (a bounded driver round-trip — the count
    * proved it) into one exact driver union-find with min-label
    * resolution, returned as a local relation (broadcast-sized by
    * construction, so downstream representative joins stay map-side).
    * Over the gate, the cache feeds the star loop's round-0 checkpoint
    * instead — the form that survives 100 TB — so the pair pipeline
    * never runs twice either way. Gated ≡ star is pinned in
    * ComponentsSpec. */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxRounds: Int = 30): DataFrame = {
    // canonical directed form: big → small. NOT deduplicated: both star
    // steps tolerate duplicate edges (min-aggregates are idempotent and
    // each round's output is distinct'd), so a dup-laden input costs at
    // most one extra round before the convergence test can fire —
    // cheaper than an up-front shuffle of the full edge list. The
    // Dedup pipelines emit distinct pairs anyway.
    val init = pairs
      .select(col(aCol).cast("long").as("x"), col(bCol).cast("long").as("y"))
      .filter(col("x") =!= col("y"))
      .select(greatest(col("x"), col("y")).as("u"),
        least(col("x"), col("y")).as("v"))

    // Map-side LOCAL CONTRACTION (exact, no shuffle): each partition
    // union-finds its own edges and keeps only those that MERGE two
    // local components — a per-partition spanning forest. A dropped
    // edge's endpoints are already connected by kept edges of the same
    // partition, so global connectivity is untouched; every node
    // survives (its first edge always merges two fresh singletons);
    // duplicate edges die for free. Real near-dup corpora produce DENSE
    // quasi-cliques — sf0.1 measures 7.8 M pairs over 5 k documents —
    // and one contraction pass collapses that below the broadcast gate
    // (≤ local-nodes − local-components edges per partition); on sparse
    // graphs it's a cheap pass-through. The imperative per-partition
    // hash map is exactly the mapPartitions niche: no relational
    // operator expresses "stateful scan within a partition". localCap
    // bounds task memory — past it the partition's tail passes through
    // uncontracted (still exact; the star loop absorbs the remainder).
    val session = pairs.sparkSession
    import session.implicits._
    val localCap = 4 << 20
    val contracted = init.as[(Long, Long)].mapPartitions { it =>
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrElse(x, x) != x) x = parent(x)
        var y = x0
        while (parent.getOrElse(y, y) != y) { val p = parent(y); parent(y) = x; y = p }
        x
      }
      it.filter { case (a, b) =>
        if (parent.size >= localCap) true
        else {
          val ra = find(a); val rb = find(b)
          if (ra == rb) false
          else { parent(math.max(ra, rb)) = math.min(ra, rb); true }
        }
      }
    }.toDF("u", "v")

    // large-star: m(u) = min(u, min Γ(u)) over BOTH directions; every
    // neighbor v > u re-points to m. Output stays canonical: v > u ≥ m.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(
        e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u")
        .agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      sym.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }

    // small-star: per node u, all smaller neighbors (exactly the rows
    // (u, v) of the canonical form) plus u itself re-point to their
    // minimum. No symmetrize needed — canonical orientation already
    // groups every smaller neighbor under u.
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy("u").agg(min("v").as("m"))
      val moved = e.join(m, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      m.select(col("u"), col("m").as("v"))
        .unionByName(moved)
        .distinct()
    }

    // per-round materialization stats: count plus two order-independent
    // edge checksums, from the SAME aggregate pass that forces the
    // checkpoint. The checksums gate the EXACT set comparison below —
    // unequal stats prove non-convergence for free, so the except()
    // anti-join (as expensive as a star round) runs only on rounds that
    // might actually have converged, and conversion is still decided by
    // the exact comparison, never by the checksum (a collision cannot
    // terminate early — it only costs one redundant except).
    def stats(e: DataFrame): (Long, Long, Long) = {
      // terms are reduced mod ~2^20 BEFORE any multiply/sum, so nothing
      // can overflow a long under ANSI mode for any id range: terms stay
      // < 2^26 and the sums stay exact past 10^11 edges per frame
      val m = lit(1048573L)
      val um = pmod(col("u"), m)
      val vm = pmod(col("v"), m)
      val r = e.agg(count(lit(1)),
        sum(um * 31 + vm), sum(pmod(um * vm, lit(1000003L)))).head()
      (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L),
        Option(r.get(2)).map(_.asInstanceOf[Long]).getOrElse(0L))
    }
    // One materialization serves the gate AND whichever path wins: the
    // contracted frame is cached, counted (a fully parallel job — no
    // executeTake waves), then either collected for the driver
    // union-find or localCheckpoint'ed as the star loop's round 0, both
    // straight from the cache. PipelineCaches releases the blocks with
    // the pipeline's documented lifetime.
    val tracked = PipelineCaches.track(contracted)
    if (!Dispatch.pick(session, "connectedComponents", StarLoopEdges)(tracked.count())) {
      return labelsByUnionFind(pairs.sparkSession,
        tracked.collect().map(r => (r.getLong(0), r.getLong(1))))
    }
    var edges = tracked.localCheckpoint()
    var st = stats(edges)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val stNext = stats(next)
      // exact fixpoint: equal stats (necessary) + empty one-way
      // difference (sufficient: both sides are distinct sets of equal
      // cardinality, so an empty difference implies set equality)
      converged = stNext == st && next.except(edges).isEmpty
      // the superseded round's checkpoint blocks are dead the moment
      // `next` is materialized and compared — free them NOW, not at
      // driver-GC time (they are RDD persists, invisible to both
      // Dataset.unpersist and CacheManager.clearCache)
      checkpointRdd(edges).foreach(_.unpersist(blocking = false))
      edges = next
      st = stNext
      round += 1
    }
    if (!converged) {
      checkpointRdd(edges).foreach(_.unpersist(blocking = false))
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds")
    }
    // the CONVERGED round's blocks back the returned frame — they stay
    // until the caller's PipelineCaches.release (after which the frame
    // cannot recompute: the checkpoint truncated its lineage)
    checkpointRdd(edges).foreach(PipelineCaches.trackRdd(pairs.sparkSession, _))
    // fixpoint is a star forest: u → component min; roots label themselves
    edges.select(col("u").as("doc_id"), col("v").as("cluster"))
      .unionByName(edges.select(col("v").as("doc_id"), col("v").as("cluster")))
      .distinct()
  }

  /** Exact union-find (iterative find + path compression, union links
    * the larger root under the smaller) over a gate-bounded edge list —
    * the fast path of [[connectedComponents]]. Because every union
    * points the larger root at the smaller, each tree's root is the
    * minimum id of its component, so the final `find` IS the
    * cluster-minimum label. Returned as a local relation: node count ≤
    * 2·edges ≤ 2·gate, broadcast-sized by construction. */
  private def labelsByUnionFind(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) x = parent(x)
      var y = x0
      while (parent.getOrElse(y, y) != y) { val p = parent(y); parent(y) = x; y = p }
      x
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(
        edges.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
          .map(n => org.apache.spark.sql.Row(n, find(n))): _*)
    spark.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cluster",
        org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Incremental cluster maintenance — the companion to
    * [[Dedup.nearDupsAgainstIndex]]'s delta-vs-corpus workflow: fold a
    * delta's near-dup pairs into EXISTING labels without re-clustering
    * the corpus. Existing labels are already a star forest (node →
    * root), so the union of that forest with the delta pairs is a
    * graph whose components are exactly the merged components, and the
    * star algorithm re-converges in O(log²) of the DELTA's merge depth
    * — in the common case (new docs attach to one cluster each) a
    * round or two over |labels| + |deltaPairs| edges.
    * Equality with batch re-clustering over the pair union is pinned
    * in ComponentsSpec. */
  def mergeClusters(labels: DataFrame, deltaPairs: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame =
    connectedComponents(
      labels.select(col("doc_id").as("doc_a"), col("cluster").as("doc_b"))
        .unionByName(deltaPairs.select(col(aCol).as("doc_a"), col(bCol).as("doc_b"))))

  /** The user-facing "apply dedup" step: keep one document per
    * near-dup cluster (the cluster minimum), pass singletons through
    * untouched. A left-anti join against the non-representative
    * members — labels are cluster-minimum labels, so the survivors are
    * exactly docs with doc_id = cluster plus docs in no pair at all. */
  def keepClusterRepresentatives(docs: DataFrame, labels: DataFrame): DataFrame =
    docs.join(
      labels.filter(col("doc_id") =!= col("cluster")).select("doc_id"),
      Seq("doc_id"), "left_anti")

  /** SemDeDup-style semantic dedup (Abbas et al. 2023) — the embedding
    * analog of the text-side pipeline that q_dup_clusters + q_dedup_incr
    * already close: embedding-cosine near-dup pairs
    * ([[SimSearch.embedNearDup]]) → [[connectedComponents]] →
    * [[keepClusterRepresentatives]], in one composition. Output: one row
    * per SURVIVING vector — the cluster minimum of every semantic-dup
    * cluster plus every singleton — with its dimensionality and the size
    * of the cluster it represents (1 for singletons), so every
    * keep/drop decision and every cluster size participates in the
    * oracle hash.
    *
    * Scale shape: pair generation is the banded per-bucket self-join of
    * embedNearDup (never all-pairs); the label frame is pair-node-sized
    * (≪ corpus — only members of some near-dup pair), so the
    * representative anti-join and the cluster-size join both broadcast
    * the small side against the one corpus scan. Zero-norm vectors
    * cannot pair (cosine undefined) and pass through as singletons. */
  def semanticDedup(embeddings: DataFrame): DataFrame = {
    val pairs = SimSearch.embedNearDup(embeddings)
    val labels = connectedComponents(pairs, "vec_a", "vec_b")
    val survivors = keepClusterRepresentatives(
      embeddings.select(col("vec_id").as("doc_id"), col("embedding")), labels)
    val sizes = labels.groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
    survivors
      .join(sizes.select(col("cluster").as("doc_id"), col("n_members")),
        Seq("doc_id"), "left")
      .select(col("doc_id").as("vec_id"),
        size(col("embedding")).cast("long").as("n_dims"),
        coalesce(col("n_members"), lit(1L)).as("n_members"))
  }

  /** Declared query q_semantic_dedup over the embeddings table. */
  def semanticDedupQ(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    semanticDedup(graft.sources.Tables.embeddings(spark, dir))

  /** Declared incremental clustering (q_dup_clusters_incr): the
    * [[mergeClusters]] maintenance loop as a gated artifact, same 95/5
    * delta convention (and the same persisted band index) as
    * q_dedup_incr. LSH banded pairs decompose EXACTLY by side — a pair
    * exists iff its two docs share a band, regardless of every other
    * doc — so pairs(union) = pairs(corpus) ∪ pairs(delta vs corpus,
    * from the index) ∪ pairs(delta internal), and folding the last two
    * into the STANDING corpus labels must equal batch re-clustering
    * over the union. The oracle recomputes exactly that batch form
    * (the q_dup_clusters SQL over the re-keyed union), so every
    * incrementally-maintained label is hash-checked. Standing state
    * (the corpus label table) is built once per (session, dir) and read
    * from parquet — the shape a production loop carries between
    * micro-batches; steady-state cost is the delta work only. */
  def dupClustersIncrQ(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    val delta = docs.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    // the same index q_dedup_incr stands up (same BuildOnce key)
    val idxDir = BuildOnce.tempDirFor("graft_neardup_idx", dir)
    BuildOnce(spark, idxDir, Seq(dir))(Dedup.writeNearDupIndex(corpus, idxDir))
    val labDir = BuildOnce.tempDirFor("graft_cluster_labels", dir)
    BuildOnce(spark, labDir, Seq(dir))(
      connectedComponents(Dedup.nearDupPairs(corpus))
        .write.mode("overwrite").parquet(labDir))
    val labels = spark.read.parquet(labDir)
    val cross = Dedup.nearDupsAgainstIndex(spark, delta, idxDir)
      .select("doc_a", "doc_b")
    val internal = Dedup.nearDupPairs(delta)
      .select("doc_a", "doc_b")
    mergeClusters(labels, cross.unionByName(internal))
  }

  /** Declared query (q_dup_clusters): cluster labels over the minhash
    * near-dup pairs of the documents table — the [[Dedup.nearDupPairs]]
    * flagship pipeline composed with [[connectedComponents]]. The
    * oracle recomputes the identical pairs in SQL and resolves
    * components with a recursive min-label CTE, so the label for every
    * document is hash-checked, not just counted. */
  def dupClustersQ(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    // the pair pipeline is pair-distinct with no result exchange since
    // the round-18 min-agreeing-band dedup — nothing to skip here
    connectedComponents(
      Dedup.nearDupPairs(graft.sources.Tables.documents(spark, dir)))

  /** Quality-aware canonical selection — "keep the BEST document per
    * duplicate cluster", the keep/drop decision that actually ships in a
    * dedup pipeline (min-doc-id representatives, the
    * [[keepClusterRepresentatives]] default, keep an arbitrary member;
    * production corpora keep the longest / highest-quality one — C4 and
    * RefinedWeb both rank by length). Ranks every clustered document by
    * `qualityCol` DESC then doc_id ASC inside its cluster and flags rank
    * 1 as kept.
    *
    * Scale shape: `clusters` is (doc_id, cluster) — already corpus-
    * reduced to the clustered subset; the quality join shuffles on
    * doc_id and the rank window on cluster. Dup clusters are small by
    * construction (a cluster IS a near-dup group), so the per-cluster
    * sort is bounded; a degenerate giant cluster (boilerplate corpus)
    * concentrates in one partition the same way it does in the star
    * loop — AQE skew-split applies, and the row volume is |clustered
    * docs|, not pairs. */
  def keepBestPerCluster(clusters: DataFrame, quality: DataFrame,
      qualityCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col(qualityCol).desc, col("doc_id").asc)
    clusters.join(quality, "doc_id")
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("cluster"), col("doc_id"), col(qualityCol), col("keep"))
  }

  /** Declared query q_dedup_best: near-dup clusters over the documents
    * table, keep the longest member (n_chars DESC, doc_id ASC) of each. */
  def dedupBestQ(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    keepBestPerCluster(
      dupClustersQ(spark, dir),
      graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars")),
      "n_chars")
}
