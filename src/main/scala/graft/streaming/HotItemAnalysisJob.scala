package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Job-B replica: HotItemAnalysis (reference HotItemAnalysis.java:61-113).
  *
  * Pipeline: CSV lines → UserBehavior (HotItemAnalysis.java:83-93) →
  * event time = timestamp*1000 (:94-99) → filter behavior='pv' (:103) →
  * 1 h sliding window, 5 min slide, count per item (:104-106) →
  * per-windowEnd Top-3 (:107-108, TopNHotItems at :173-223).
  *
  * The panes are `EventWindows.slidingPanes`, the definition the batch
  * query q_win_slide_topn (oracle-checked) calls too. The Top-N has two
  * declared forms over them (SURVEY §2.1 #14): the batch rank filter
  * `EventWindows.slideTopN`, and the incremental stateful operator with
  * per-key event-time timeout — [[StatefulTopN]], the faithful
  * ListState+timer translation, which this streaming job runs.
  */
object HotItemAnalysisJob {

  /** CSV line "userId,itemId,categoryId,behavior,timestamp(epoch-s)" with
    * per-field trim (HotItemAnalysis.java:84-91); ts normalized s→ms.
    * Malformed lines (wrong arity, non-numeric fields) are DROPPED —
    * declared divergence from the reference, which throws
    * NumberFormatException and kills the job (HotItemAnalysis.java:87-90);
    * under Spark 4's default ANSI mode a bare element_at/cast would do
    * the same to the streaming query, hence try_element_at + try_cast. */
  def parseCsv(lines: DataFrame): DataFrame = {
    val f = split(col("value"), ",")
    def fld(i: Int) = trim(expr(s"try_element_at(f, $i)"))
    lines.select(f.as("f"))
      .select(
        expr("try_cast(trim(try_element_at(f, 1)) AS LONG)").as("userId"),
        expr("try_cast(trim(try_element_at(f, 2)) AS LONG)").as("itemId"),
        expr("try_cast(trim(try_element_at(f, 3)) AS LONG)").as("categoryId"),
        fld(4).as("behavior"),
        (expr("try_cast(trim(try_element_at(f, 5)) AS LONG)") * 1000).as("tsMillis"))
      .filter(col("userId").isNotNull && col("itemId").isNotNull
        && col("behavior").isNotNull && col("tsMillis").isNotNull)
  }

  /** Typed view of [[parseCsv]]: Dataset[UserBehavior], the reference
    * bean's shape (UserBehavior.java:15-21). */
  def parseTyped(lines: DataFrame): Dataset[graft.model.UserBehavior] = {
    val spark = lines.sparkSession
    import spark.implicits._
    parseCsv(lines).as[graft.model.UserBehavior]
  }

  /** Full streaming pipeline with the stateful Top-N operator. */
  def pipeline(lines: DataFrame, n: Int = 3): Dataset[graft.model.RankedItem] =
    StatefulTopN(StatefulTopN.panes(parseCsv(lines).filter(col("behavior") === "pv")), n)
}
