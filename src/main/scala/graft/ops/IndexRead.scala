package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** Opening a persisted index for a lookup — the one read path every
  * index here shares.
  *
  *  - META: `<dir>/meta` is one row of layout invariants (bucket count,
  *    gram/window geometry, sketch shape) from which a reader derives the
  *    writer's bucket function. [[writeMeta]] writes it; [[meta]] reads
  *    it memoized per (session, dir), so a steady-state lookup pays a
  *    driver file listing for it, not the two Spark jobs (footer
  *    inference + `head`) of a raw read.
  *  - PRUNE: a delta lookup reads only the index partitions its own keys
  *    hash into. [[touched]] is the prune; [[small]] is the index-footprint
  *    gate the Dedup lookups put in front of it (below the gate a full
  *    read is cheaper than the delta-sized job that prunes it).
  *
  * Netting deletes stays with each caller ([[Tombstones.minus]] with the
  * deletes resolved first, or the [[ForgetLedger]] negation), as do the
  * caller's plan choices around the read. */
private[ops] object IndexRead {

  private val StampUnknown = 0L

  /** Stamp-validated per-(session, key) memo: entries carry the meta
    * stamp they were computed at and are ignored once it moves (writers
    * in another session or process are seen); an unverifiable stamp
    * ([[StampUnknown]]) bypasses the memo entirely — read fresh, cache
    * nothing. The read runs OUTSIDE the lock (it is a Spark job; a
    * racing recompute is benign, last put wins). Weakly keyed so
    * stopped sessions don't pin. Same-session writers ALSO invalidate
    * explicitly ([[writeMeta]]), so freshness never hangs on the stamp
    * alone. */
  private final class MetaMemo[K, T] {
    private val cache = new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[K, (Long, T)]]
    def invalidate(spark: SparkSession)(pred: K => Boolean): Unit =
      cache.synchronized {
        Option(cache.get(spark)).foreach(_.filterInPlace((k, _) => !pred(k)))
      }
    def getOrRead(spark: SparkSession, key: K, stamp: Long)(read: => T): T = {
      val cached =
        if (stamp == StampUnknown) None
        else cache.synchronized {
          Option(cache.get(spark)).flatMap(_.get(key))
            .collect { case (s, m) if s == stamp => m }
        }
      cached.getOrElse {
        val m = read
        if (stamp != StampUnknown) cache.synchronized {
          val perKey = Option(cache.get(spark)).getOrElse {
            val x = scala.collection.mutable.Map.empty[K, (Long, T)]
            cache.put(spark, x); x
          }
          perKey.put(key, (stamp, m))
        }
        m
      }
    }
  }

  /** Version stamp of an index's meta dir — a driver filesystem listing,
    * no Spark job. It folds every meta FILE's name, length and mtime (not
    * the directory's mtime): object stores synthesize directory mtimes
    * that never move on overwrite, and a rewrite within one coarse
    * filesystem tick keeps a directory stamp unchanged — per-file
    * name+length catches both (an overwrite rewrites part files under
    * fresh task-UUID names). [[StampUnknown]] when the listing fails. */
  private def metaStamp(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/meta")
    try {
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      var h = 1125899906842597L
      fs.listStatus(p).filter(_.isFile)
        .sortBy(_.getPath.getName).foreach { st =>
          h = h * 31 + st.getPath.getName.hashCode
          h = h * 31 + st.getLen
          h = h * 31 + st.getModificationTime
        }
      if (h == StampUnknown) h + 1 else h
    } catch { case _: java.io.IOException => StampUnknown }
  }

  private val metaRows = new MetaMemo[String, Row]
  private val residents = new MetaMemo[(String, String), Any]

  /** Overwrite `<dir>/meta` with one row of `fields` (each a named
    * literal — the column names and types are the on-disk contract) and
    * drop every memo entry of `dir`. */
  def writeMeta(spark: SparkSession, dir: String, fields: Column*): Unit = {
    spark.range(1).select(fields: _*)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    metaRows.invalidate(spark)(_ == dir)
    residents.invalidate(spark)(_._1 == dir)
  }

  /** The meta row of the index at `dir`, memoized per (session, dir). */
  def meta(spark: SparkSession, dir: String): Row =
    metaRows.getOrRead(spark, dir, metaStamp(spark, dir)) {
      spark.read.parquet(s"$dir/meta").head()
    }

  /** A value computed from the index at `dir` that stays valid exactly
    * as long as its meta does (the span index's resident boilerplate
    * set): memoized per (session, dir, name) against the meta stamp and
    * dropped by the next [[writeMeta]] on `dir`. */
  def resident[T](spark: SparkSession, dir: String, name: String)(read: => T): T =
    residents.getOrRead(spark, (dir, name), metaStamp(spark, dir))(read)
      .asInstanceOf[T]

  /** True when the index table at `table` (a [[DirSwap]] live path)
    * occupies less than [[PruneBytes]] on disk — a [[Dispatch]] gate on a
    * driver filesystem stat, no Spark job. Lookups read the whole table
    * below the gate, because the job [[touched]] runs costs more than
    * the partitions it skips; above it, pruning is what keeps a
    * micro-batch lookup independent of corpus size. */
  def small(spark: SparkSession, table: String): Boolean =
    !Dispatch.pick(spark, s"IndexRead.small(${table.split('/').last})", PruneBytes) {
      val p = new org.apache.hadoop.fs.Path(DirSwap.resolve(spark, table))
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    }

  /** The smallest index footprint (bytes) whose lookups prune. */
  val PruneBytes: Long = 64L << 20

  /** `rows` restricted to the `partCol` partitions named by `keys` (one
    * LONG column): one collect of the distinct key values, then a static
    * `isin` filter the scan plans as PartitionFilters. The collect is the
    * one inherent driver round-trip of a pruned lookup — the key set is
    * metadata-sized (at most the index's bucket or cell count). */
  def touched(rows: DataFrame, keys: DataFrame, partCol: String): DataFrame = {
    val parts = keys.distinct().collect().map(_.getLong(0))
    rows.filter(col(partCol).isin(parts.toIndexedSeq: _*))
  }
}
