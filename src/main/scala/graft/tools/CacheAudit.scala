package graft.tools

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Walker for the silent cache-miss class found in q_pmi (round 9): a
  * PipelineCaches-tracked frame consumed through a SELF-JOIN of derived
  * views can lose the CacheManager plan-match on one side (the
  * analyzer's attribute dedup rewrites expression ids; grouping-sets
  * aggregates canonicalize unequal) — and the query then silently
  * re-runs a corpus-scale subtree from the file scan while still
  * returning correct results. treeString counts are ambiguous (every
  * InMemoryTableScan prints its cachedPlan, file scan included), so
  * this walks the EXECUTED plan object: any FileSourceScanExec
  * reachable without crossing an InMemoryTableScanExec is a genuine
  * external scan. One PATH scanned from more than one node is the
  * recompute signature; multi-table queries legitimately have several
  * distinct paths.
  */
object CacheAudit {
  /** FileScans reachable without crossing an IMR scan; descends into
    * materialized AQE subtrees and reused exchanges. */
  def externalScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case _: InMemoryTableScanExec => Nil
    case a: AdaptiveSparkPlanExec => externalScans(a.executedPlan)
    case r: ReusedExchangeExec => externalScans(r.child)
    case f: FileSourceScanExec => Seq(f)
    case other =>
      other.children.flatMap(externalScans) ++
        other.subqueries.flatMap(externalScans)
  }
}
