package graft.sources

import org.apache.spark.sql.SparkSession

/** SQL-surface entry point: registers every test-data table as a temp
  * view so `spark.sql("...")` works over the same data the DataFrame
  * operators read. At production scale these would be catalog tables
  * (partitioned/bucketed); temp views are the local seam.
  */
object Catalog {
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  // Idempotence guard: registering the 10 views costs ~0.15 s even with
  // the footers memoized (4 cores, sf0.01; the first registration in a
  // JVM ~1.4 s), so repeated calls against the SAME dir — the common
  // case: every SQL-surface query calls registerAll — skip it.
  // A dir change (tests hop between scale factors) re-registers, since
  // the existing views point at the previous dir's files. Keyed weakly
  // per session so stopped sessions don't pin the map. The memo is
  // written only AFTER all 10 views registered (a mid-loop failure — a
  // missing/corrupt file — must leave the memo unset so a retry
  // re-registers instead of silently serving half-switched views), and
  // the whole check+register runs under one lock so a concurrent caller
  // can't observe the memo before the views exist. Registration is rare
  // and driver-side; the coarse lock costs nothing.
  private val lastDir = new java.util.WeakHashMap[SparkSession, String]

  def registerAll(spark: SparkSession, dir: String): Unit = lastDir.synchronized {
    if (lastDir.get(spark) != dir) {
      tables.foreach {
        case "events" => Tables.events(spark, dir).createOrReplaceTempView("events")
        case t => Tables.read(spark, dir, t).createOrReplaceTempView(t)
      }
      lastDir.put(spark, dir)
    }
  }
}
