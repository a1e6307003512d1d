package graft.tools

import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec}

import graft.{SparkEntry, SparkSuite}

/** The round-11 global plan-guard sweep: EXECUTE every declared query
  * and walk its FINAL (post-AQE) physical plan, asserting the three
  * properties no data-scale plan may violate —
  *   1. no CartesianProduct anywhere;
  *   2. no BroadcastNestedLoopJoin outside the declared one-row /
  *      bounded-broadcast set (the same justified list PlanGuardSpec
  *      documents node by node);
  *   3. no SinglePartition shuffle whose input is UNREDUCED file-scan
  *      data — a corpus collapsing onto one task is the classic silent
  *      scale-killer. A single-partition exchange is fine when every
  *      path from it down to a file scan crosses an aggregate or a
  *      limit first (global aggregates exchange one partial row per
  *      task; limits are bounded by construction).
  * PlanGuardSpec's static check catches these at plan time; this sweep
  * re-checks AFTER adaptive re-planning, where a lost hint or an AQE
  * coalesce-to-one could silently introduce what the static plan
  * lacked. It runs twice: once as the fixtures dispatch, once with every
  * size gate forced to its 100 TB form (graft.ops.Dispatch). */
class PlanSweepSpec extends SparkSuite {

  private val bnljAllowed = graft.PlanAllowances.bnljAllowed

  /** All nodes of the final executed plan, descending AQE results,
    * reused exchanges, cached-plan interiors, and subqueries. */
  private def walk(p: SparkPlan): Seq[SparkPlan] = {
    val deeper = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case r: ReusedExchangeExec => walk(r.child)
      case im: InMemoryTableScanExec => walk(im.relation.cachedPlan)
      case other =>
        other.children.flatMap(walk) ++ other.subqueries.flatMap(walk)
    }
    p +: deeper
  }

  /** True when every path from `p` down to a FileSourceScan crosses an
    * aggregate or a limit — i.e. the frame is reduced below data scale
    * before it could collapse into one partition. */
  private def reducedBeforeScan(p: SparkPlan): Boolean = p match {
    case _: BaseAggregateExec => true
    case _: LocalLimitExec | _: GlobalLimitExec => true
    case _: FileSourceScanExec => false
    case a: AdaptiveSparkPlanExec => reducedBeforeScan(a.executedPlan)
    case r: ReusedExchangeExec => reducedBeforeScan(r.child)
    case im: InMemoryTableScanExec => reducedBeforeScan(im.relation.cachedPlan)
    case other =>
      (other.children ++ other.subqueries).forall(reducedBeforeScan)
  }

  /** Violations over every declared query built and executed on `s`. */
  private def sweep(s: org.apache.spark.sql.SparkSession): Seq[String] = {
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(s, sf)
      df.write.format("noop").mode("overwrite").save()
      val nodes = walk(df.queryExecution.executedPlan)
      nodes.foreach { n =>
        val cls = n.getClass.getSimpleName
        if (cls == "CartesianProductExec")
          failures += s"$name: CartesianProduct"
        if (cls == "BroadcastNestedLoopJoinExec" && !bnljAllowed(name))
          failures += s"$name: undeclared BroadcastNestedLoopJoin"
        n match {
          case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
            if (!reducedBeforeScan(e.child))
              failures += s"$name: SinglePartition shuffle of unreduced scan data"
          case _ =>
        }
      }
      graft.ops.PipelineCaches.release(s)
      s.sharedState.cacheManager.clearCache()
    }
    failures.distinct.toSeq
  }

  test("every declared query's EXECUTED plan: no cartesian, no undeclared BNLJ, " +
    "no single-partition shuffle of unreduced scan data") {
    val failures = sweep(spark)
    assert(failures.isEmpty, s"plan sweep violations:\n${failures.mkString("\n")}")
  }

  test("the same sweep with every size gate forced to its large form") {
    val failures = forced("large")(sweep)
    assert(failures.isEmpty, s"plan sweep violations:\n${failures.mkString("\n")}")
  }
}
