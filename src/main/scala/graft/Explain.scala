package graft

import org.apache.spark.sql.DataFrame
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
      .foreach { case (name, fn) =>
        println(s"\n===== $name =====")
        try println(plan(fn(spark, dir)))
        catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
      }
    spark.stop()
  }

  /** The formatted physical plan with what changes from run to run made
    * stable: expression ids (`#123`) and exchange ids (`[plan_id=45]`)
    * renumbered in order of first appearance — so an attribute still
    * links its producer to its consumers — and object hash codes
    * (`Aggregators$TopKAgg@2410e665`) masked. Two runs of one build
    * print the same text; what differs between two builds is a plan
    * change. */
  def plan(df: DataFrame): String = {
    val text = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val ids = renumber(renumber(text, "#(\\d+)".r, "#"), "\\[plan_id=(\\d+)\\]".r, "[plan_id=", "]")
    "@[0-9a-f]+".r.replaceAllIn(ids, "@hash")
  }

  private def renumber(text: String, id: Regex, prefix: String, suffix: String = ""): String = {
    val seen = scala.collection.mutable.HashMap[String, Int]()
    id.replaceAllIn(text, m =>
      Regex.quoteReplacement(s"$prefix${seen.getOrElseUpdate(m.group(1), seen.size)}$suffix"))
  }
}
