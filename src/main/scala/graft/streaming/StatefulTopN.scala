package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.{ItemViewCount, PaneItem, RankedItem}
import graft.ops.EventWindows

/** Stateful sliding-window hot-items: the faithful Spark translation of
  * the reference's window-aggregate + TopNHotItems KeyedProcessFunction
  * pair (HotItemAnalysis.java:104-108, 173-223), fused into one stateful
  * operator:
  *
  *  - pane assignment (Flink's sliding WindowAssigner) → the shared
  *    `EventWindows.slidingPanes`: Spark's sliding `window()`, a
  *    stateless 12-way Expand of each event into the panes that contain
  *    it;
  *  - per-(windowEnd) count accumulation (Flink's CountAgg ListState)
  *    → GroupState[Map[itemId → count]];
  *  - timer at windowEnd+1 (HotItemAnalysis.java:191)
  *    → GroupState.setTimeoutTimestamp; on fire: sort, take N, clear
  *    (HotItemAnalysis.java:199-222).
  *
  * Why fused: Spark's append-mode window aggregate emits a window only
  * once the watermark has passed its end — any downstream stateful
  * operator would see those rows as late and drop them. One operator
  * keyed by windowEnd gets Flink's exact state/timer semantics instead.
  *
  * Late semantics: events with ts < watermark are dropped entirely
  * (Spark's standard stateful late filter). Flink would still count a
  * borderline record into its not-yet-fired panes; with the reference's
  * ascending-timestamp watermark the two agree on all in-order input.
  *
  * Tie-break is deterministic (count desc, itemId asc) — SURVEY §7.3-3.
  *
  * Scale: state per windowEnd key is one count map, bounded by item
  * cardinality per window and cleared on firing; the pane Expand is a
  * constant 12× (size/slide) fan-out before the shuffle, identical to
  * Flink's sliding-window replication cost. For large windows, set
  * Spark's `spark.sql.streaming.stateStore.providerClass` to the RocksDB
  * provider; the operator does not change.
  */
object StatefulTopN {

  def topN(items: Seq[ItemViewCount], n: Int): Seq[RankedItem] =
    items.sortBy(i => (-i.count, i.itemId)).take(n).zipWithIndex.map {
      case (i, idx) => RankedItem(i.windowEnd, idx + 1, i.itemId, i.count)
    }

  /** Pane assignment: one row per (page view, containing pane) — the
    * shared `EventWindows.slidingPanes` over event time `tsMillis`. */
  def panes(pv: DataFrame): Dataset[PaneItem] = {
    val spark = pv.sparkSession
    import spark.implicits._
    EventWindows.slidingPanes(pv.withColumn("ts", timestamp_millis(col("tsMillis"))))
      .select(col("ts"), col("windowEnd"), col("itemId"))
      .as[PaneItem]
  }

  /** The stateful operator: count per (windowEnd, itemId) in state, emit
    * the top n at windowEnd+1 event time, then clear. */
  def apply(paneItems: Dataset[PaneItem], n: Int = 3): Dataset[RankedItem] = {
    val spark = paneItems.sparkSession
    import spark.implicits._
    paneItems
      .groupByKey(_.windowEnd.getTime)
      .flatMapGroupsWithState[Map[Long, Long], RankedItem](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (windowEnd: Long, rows: Iterator[PaneItem], state: GroupState[Map[Long, Long]]) =>
          def emit(counts: Map[Long, Long]): Iterator[RankedItem] =
            topN(counts.toSeq.map { case (id, c) => ItemViewCount(id, windowEnd, c) }, n)
              .iterator
          if (state.hasTimedOut) {
            // watermark passed windowEnd → window complete: emit + clear
            val counts = state.getOption.getOrElse(Map.empty)
            state.remove()
            emit(counts)
          } else {
            val merged = rows.foldLeft(state.getOption.getOrElse(Map.empty)) {
              (acc, r) => acc + (r.itemId -> (acc.getOrElse(r.itemId, 0L) + 1L))
            }
            if (state.getCurrentWatermarkMs() >= windowEnd) {
              // replaying historical data: window already closed
              state.remove()
              emit(merged)
            } else {
              state.update(merged)
              // fire strictly after the window closes (windowEnd + 1 ms,
              // exactly HotItemAnalysis.java:191)
              state.setTimeoutTimestamp(windowEnd + 1)
              Iterator.empty
            }
          }
      }
  }
}
