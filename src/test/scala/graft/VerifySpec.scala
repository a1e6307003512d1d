package graft

import java.nio.file.Files

/** Verify's dump loop: a query that throws must not leave an earlier
  * run's dump behind for the oracle compare to pass on. */
class VerifySpec extends SparkSuite {

  test("a query that throws loses its stale dump and is reported") {
    val out = Files.createTempDirectory("verify_spec").toFile
    val stale = new java.io.File(out, "q_boom")
    stale.mkdirs()
    Files.writeString(new java.io.File(stale, "part-00000.parquet").toPath, "old result")

    val failed = Verify.dump(spark, sf, out.getPath, Map(
      "q_boom" -> ((_, _) => throw new IllegalStateException("boom")),
      "q_ok" -> ((s, _) => s.range(3).toDF("id"))))

    assert(failed == Seq("q_boom"))
    assert(!stale.exists, "the failed query's old dump must be deleted")
    assert(spark.read.parquet(new java.io.File(out, "q_ok").getPath).count() == 3)
  }
}
