package graft
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.io.File
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Exits non-zero
  * naming every query that threw. After each query it prints one
  * `[dispatch] <query> <gate> estimate=… threshold=… branch=…` line per
  * size-gate decision ([[graft.ops.Dispatch]]); run with
  * `-Dspark.graft.dispatch.force=large` it checks every gate's 100 TB
  * form against the same oracle. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), only) = args.splitAt(2)
    // an unknown name would dump nothing and pass the narrowed compare
    val unknown = only.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[verify] unknown queries: ${unknown.mkString(" ")}")
      sys.exit(2)
    }
    val spark = Engine.session()
    // trailing args restrict the dump to named queries (oracle_sql.json
    // is still written in full — check_oracle --only narrows the compare)
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only.contains(n) }
    val failed = dump(spark, sfDir, outDir, selected)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(" ")}")
      sys.exit(1)
    }
  }

  /** Writes each query's result to `outDir/<name>` as parquet and returns
    * the names of the queries that threw, sorted. A query's old dump is
    * deleted before it runs, so one that throws leaves nothing behind for
    * the oracle compare to pass on. Prints the query's `[dispatch]`
    * decisions after it. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame]): Seq[String] = {
    new File(outDir).mkdirs()
    queries.toSeq.flatMap { case (name, fn) =>
      FileUtils.deleteDirectory(new File(outDir, name))
      val err =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      graft.ops.Dispatch.drain(spark).foreach(d => println(s"[dispatch] $name $d"))
      // the dedup/similarity pipelines cache intermediates scoped to one
      // invocation — release them via the documented lifetime API, with
      // the clearCache sweep guarding anything cached outside it
      graft.ops.PipelineCaches.release(spark)
      spark.sharedState.cacheManager.clearCache()
      err
    }.sorted
  }
}
