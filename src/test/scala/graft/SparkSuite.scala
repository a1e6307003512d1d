package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all specs: one local session, UTC, small
  * shuffle parallelism (test data is tiny), tuned by [[Engine.tune]] so
  * every spec runs under the engine's own confs whichever spec created
  * the session. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.tune(SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate())

  val sf = "/root/testdata/sf0.001"

  /** `body` on an isolated, tuned `spark.newSession()` whose size gates
    * ([[graft.ops.Dispatch]]) run in mode `force` (`small`, `large`, or
    * `auto` for a decision record of its own) — never on the shared
    * session, whose conf other suites read. The session's pipeline
    * caches are released after `body`, so `body` must finish its
    * actions (return rows, not a DataFrame). */
  def forced[T](force: String)(body: SparkSession => T): T = {
    val s = Engine.tune(spark.newSession())
    s.conf.set(graft.ops.Dispatch.ForceKey, force)
    try body(s) finally graft.ops.PipelineCaches.release(s)
  }

  /** The CURRENT physical dir of a generation-swapped index table
    * (graft.ops.DirSwap) — file-layout assertions must look at the
    * committed generation a reader resolves, not the raw live path. */
  def physicalDir(path: String): java.io.File =
    new java.io.File(graft.ops.DirSwap.resolve(spark, path))
}
