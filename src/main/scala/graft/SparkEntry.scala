package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.declared._

/** Driver contract — see SURVEY.md §7 + FIXTURES.md §3.
  *
  * Every entry in [[queries]] is one declared operator family from
  * SURVEY.md §2.4; every entry with a key in [[oracleSql]] is
  * differentially checked against DuckDB at sf0.01 (column names and
  * output types are aligned on both sides — integer outputs are BIGINT,
  * ratios DOUBLE — because the driver hash-compares values after sorting
  * columns by name). Both maps are read off [[declared]]: each query's
  * name, build and oracle are declared once, in the per-lane objects of
  * [[graft.declared]].
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The declared q_win_slide_topn — Job-B replica, batch form:
    * sliding-window counts + per-window top-3. */
  def entry(spark: SparkSession): DataFrame = {
    Engine.tune(spark)
    queries("q_win_slide_topn")(spark, "/root/testdata/sf0.001")
  }

  /** Every declared query, lane by lane. A name declared twice throws
    * here, when the registry is built. */
  val declared: Seq[Declared] = Declared.registry(
    RelationalQueries.declared ++ EventQueries.declared ++ DedupQueries.declared ++
      SimilarityQueries.declared ++ TextQueries.declared ++
      SamplingQueries.declared ++ IndexQueries.declared)

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map(q => q.name -> q.build).toMap

  /** DuckDB-dialect equivalents (run by the driver's oracle harness on
    * views named after the parquet tables). Approximate operators are
    * declared through GATED forms — deterministic exact lanes plus
    * in-query error/recall-law booleans the oracle replays as exact
    * values + literal TRUE — so every declared query is hash-checked;
    * the same laws remain spec-pinned in RelationalSpec/LlmOpsSpec/
    * ProfileIndexSpec. */
  val oracleSql: Map[String, String] =
    declared.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
