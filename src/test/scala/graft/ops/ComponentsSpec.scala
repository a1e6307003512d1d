package graft.ops

import scala.util.Random

import graft.SparkSuite

/** Connected-components laws: exact agreement with a driver-side
  * union-find reference on random graphs, and the adversarial CHAIN
  * topology (maximal diameter — where naive min-propagation needs
  * linear rounds) must converge within the star algorithm's budget. */
class ComponentsSpec extends SparkSuite {

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(x => x -> find(x)).toMap
  }

  private def labelsOf(edges: Seq[(Long, Long)],
      s: org.apache.spark.sql.SparkSession = spark): Map[Long, Long] = {
    import s.implicits._
    Components.connectedComponents(edges.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** [[labelsOf]] through the star loop (the at-scale path). */
  private def starLabelsOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
    forced("large")(labelsOf(edges, _))

  test("law: labels equal union-find on random graphs (three seeds, BOTH paths)") {
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new Random(seed)
      // mixed topology: random sparse edges + a clique + a chain
      val sparse = Seq.fill(300)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
        .filter { case (a, b) => a != b }
      val clique = for (i <- 300 to 310; j <- (i + 1) to 310) yield (i.toLong, j.toLong)
      val chain = (400 until 430).map(i => (i.toLong, (i + 1).toLong))
      val edges = sparse ++ clique ++ chain
      val expect = unionFind(500, edges)
      assert(labelsOf(edges) == expect, s"gated, seed=$seed")
      assert(starLabelsOf(edges) == expect, s"star, seed=$seed")
    }
  }

  test("local contraction is exact across partitions: shuffled dense+chain graph, many partitions") {
    // adversarial for per-partition contraction: a chain whose edges are
    // SCATTERED across partitions (each partition sees disconnected
    // fragments and must emit enough forest edges for the cross-partition
    // merge), plus a dense clique whose redundancy the contraction should
    // eliminate, plus duplicated edges
    val rnd = new Random(11)
    val chain = (0 until 500).map(i => (i.toLong, (i + 1).toLong))
    val clique = for (i <- 600 to 640; j <- (i + 1) to 640) yield (i.toLong, j.toLong)
    val edges = rnd.shuffle(chain ++ clique ++ clique)
    val expect = unionFind(700, edges)
    def labels(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      Components.connectedComponents(edges.toDF("doc_a", "doc_b").repartition(16))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val gated = labels(spark)
    assert(gated == expect, "gated path (contracted probe) diverged")
    val star = forced("large")(labels)
    assert(star == expect, "star path over contracted edges diverged")
  }

  test("chain of 200 nodes: star loop converges and labels collapse to the minimum") {
    val chain = (0 until 200).map(i => (i.toLong, (i + 1).toLong))
    // the star loop — the adversarial-diameter law is about ITS
    // O(log²) convergence, not the union-find fast path
    val got = starLabelsOf(chain)
    assert(got.size == 201)
    assert(got.values.toSet == Set(0L), s"all labels must be 0, got ${got.values.toSet}")
    assert(labelsOf(chain) == got, "gated fast path must agree on the chain")
  }

  test("incremental merge equals batch re-clustering over the pair union") {
    import spark.implicits._
    val rnd = new Random(11)
    val oldPairs = Seq.fill(150)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
    // delta: new nodes joining old clusters, bridges MERGING two old
    // clusters, and a brand-new disjoint cluster
    val delta = Seq((200L, 5L), (200L, 201L), (1L, 70L), (300L, 301L))
    val batch = labelsOf(oldPairs ++ delta)
    val incremental = {
      val labels = Components.connectedComponents(oldPairs.toDF("doc_a", "doc_b"))
      Components.mergeClusters(labels, delta.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(incremental == batch)
  }

  test("keepClusterRepresentatives keeps cluster minima and singletons") {
    import spark.implicits._
    val docs = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val labels = Components.connectedComponents(
      Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b"))
    val kept = Components.keepClusterRepresentatives(docs, labels)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 1 represents {1,2,3}, 5 represents {5,6}, 4 was never paired
    assert(kept == Set(1L, 4L, 5L))
  }

  test("semanticDedup: sizes partition the corpus; no near-dup pair survives") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val out = Components.semanticDedup(emb).cache()
    // every vector is counted exactly once — in its representative's
    // cluster size or as its own singleton — so the sizes tile the corpus
    assert(out.agg(org.apache.spark.sql.functions.sum("n_members"))
      .head.getLong(0) == emb.count())
    // defining property: re-running pair generation over the survivors
    // finds nothing (buckets are per-vector, so a surviving pair would
    // have been a pair in the full corpus → same component → one of the
    // two could not be a representative)
    val surv = emb.join(out.select("vec_id"), "vec_id")
    assert(SimSearch.embedNearDup(surv).isEmpty,
      "representatives must not near-dup each other")
    out.unpersist()
    PipelineCaches.release(spark)
  }

  test("semanticDedup: duplicate cluster collapses to min, zero vector passes through") {
    import spark.implicits._
    val v = Array(1.0f, 2.0f)
    val emb = Seq(
      (1L, v), (2L, v), (3L, v),            // identical triple -> one cluster
      (4L, Array(0.0f, 0.0f)),              // zero-norm: cannot pair, singleton
      (5L, Array(1.0f, -2.0f))              // different sign bucket, singleton
    ).toDF("vec_id", "embedding")
    val got = Components.semanticDedup(emb)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(1L -> 3L, 4L -> 1L, 5L -> 1L))
    PipelineCaches.release(spark)
  }

  test("keepBestPerCluster: one keeper per cluster, keeper is longest then smallest id") {
    import spark.implicits._
    val clusters = Seq(
      (10L, 1L), (11L, 1L), (12L, 1L),   // cluster 1: lengths 5, 9, 9
      (20L, 2L), (21L, 2L)               // cluster 2: tie on length
    ).toDF("doc_id", "cluster")
    val quality = Seq(
      (10L, 5L), (11L, 9L), (12L, 9L), (20L, 4L), (21L, 4L)
    ).toDF("doc_id", "n_chars")
    val out = Components.keepBestPerCluster(clusters, quality, "n_chars")
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getBoolean(3)))
    assert(out.length == 5, "every clustered doc stays, flagged not dropped")
    val kept = out.filter(_._3).map(t => t._2 -> t._1).toMap
    // cluster 1: 11 and 12 tie at 9 chars -> smaller doc_id 11 wins
    assert(kept == Map(1L -> 11L, 2L -> 20L))
  }

  test("dedupBestQ: keepers are exactly one per cluster over the fixture") {
    val out = Components.dedupBestQ(spark, sf).cache()
    try {
      val perCluster = out.groupBy("cluster")
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.when(
            org.apache.spark.sql.functions.col("keep"), 1L).otherwise(0L))
          .as("n_keep"))
        .collect().map(_.getLong(1))
      assert(perCluster.nonEmpty && perCluster.forall(_ == 1L))
    } finally { out.unpersist(); PipelineCaches.release(spark) }
  }

  test("self-loops and duplicate edges are ignored; empty input is empty") {
    import spark.implicits._
    val got = labelsOf(Seq((1L, 2L), (2L, 1L), (3L, 3L), (1L, 2L)))
    assert(got == Map(1L -> 1L, 2L -> 1L))
    val empty = Components.connectedComponents(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("doc_id", "cluster"))
  }
}
