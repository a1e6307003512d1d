package graft

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
        try fn(spark, dir).explain("formatted")
        catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
      }
    spark.stop()
  }
}
