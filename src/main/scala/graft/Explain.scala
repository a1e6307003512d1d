package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

import scala.util.matching.Regex

/** Plan-inspection main: prints the formatted physical plan for every
  * declared query (or a named subset) so plan shape — pushed filters,
  * pruned read schemas, broadcast vs sort-merge joins, whole-stage
  * codegen spans, exchange count — can be reviewed and diffed. Usage:
  *   sbt "runMain graft.Explain /root/testdata/sf0.001 [q_name ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    val spark = Engine.session()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, build) => println(s"\n===== $name =====\n${explain(spark, dir, build)}") }
    spark.stop()
  }

  /** One query's [[plan]] (or its error), built over a session whose
    * caches are released before and after it, as `Verify.dump` does after
    * each query: the plan is the query's own, whatever ran before it. */
  def explain(spark: SparkSession, dir: String, build: (SparkSession, String) => DataFrame): String = {
    def release(): Unit = { graft.ops.PipelineCaches.release(spark); spark.sharedState.cacheManager.clearCache() }
    release()
    try plan(build(spark, dir)) catch { case e: Throwable => s"ERROR: ${e.getMessage}" }
    finally release()
  }

  /** The formatted physical plan with what changes from run to run made
    * stable: expression ids, lambda variable names (`x_N`, a JVM-wide
    * counter), exchange, whole-stage codegen and AQE query-stage ids
    * renumbered in order of first appearance — so an attribute still
    * links its producer to its consumers — and object hash codes
    * (`Aggregators$TopKAgg@2410e665`) masked. Two runs of one build print
    * the same text; what differs between two builds is a plan change. */
  def plan(df: DataFrame): String = {
    val text = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    "@[0-9a-f]+".r.replaceAllIn(ids.foldLeft(text)(renumber), "@hash")
  }

  // in order: expression, lambda, exchange, codegen and query-stage ids;
  // group 2 is the id, groups 1 and 3 are kept
  private val ids = Seq("(#)(\\d+)()", "(lambda x_)(\\d+)()", "(\\[plan_id=)(\\d+)(\\])",
    "(\\[codegen id : |\\*\\()(\\d+)(\\]|\\))", "(QueryStage\nOutput[^\n]*\nArguments: )(\\d+)()").map(_.r)

  private def renumber(text: String, id: Regex): String = {
    val seen = scala.collection.mutable.HashMap[String, Int]()
    id.replaceAllIn(text, m => Regex.quoteReplacement(
      m.group(1) + seen.getOrElseUpdate(m.group(2), seen.size) + m.group(3)))
  }
}
