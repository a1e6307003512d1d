package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The window of each reference job, stated once: the streaming job and
  * its oracle-checked batch query (SURVEY.md §2.1 rows 10, 11, 14) both
  * call these. Each reads event time from column `ts`, gives it the 0 s
  * watermark (the reference's ascending watermark; emission timing
  * differs, final append-mode contents match — SURVEY §7.3-1) and applies
  * Spark's built-in `window()`/`session_window()`. A batch query drops
  * the watermark at analysis (`EliminateEventTimeWatermark`), so both
  * modes run the same expression. Windows are epoch-aligned and
  * end-exclusive in Flink (TimeWindow.getEnd, HotMediaTrack.java:142) and
  * Spark alike; callers project the columns they emit.
  */
object EventWindows {

  private def watermarked(events: DataFrame) = events.withWatermark("ts", "0 seconds")

  /** Job A (HotMediaTrack.java:88-90): count per (30 s tumbling window,
    * `keys`). Columns: `window`, the keys, `count`. */
  def tumbleCounts(events: DataFrame, keys: String*): DataFrame =
    watermarked(events)
      .groupBy(window(col("ts"), "30 seconds") +: keys.map(col): _*)
      .agg(count(lit(1)).as("count"))

  /** Job B's panes (HotItemAnalysis.java:104-105): each event once per
    * 1 h window, 5 min slide, that holds it (12 panes), the window's
    * exclusive end added as `windowEnd`. */
  def slidingPanes(events: DataFrame): DataFrame =
    watermarked(events)
      .withColumn("windowEnd", window(col("ts"), "1 hour", "5 minutes").getField("end"))

  /** Job B's Top-N as a rank filter over [[slidingPanes]]: count per
    * (windowEnd, `key`), keep the top `n` per windowEnd by count desc,
    * key asc (the declared deterministic tie-break, SURVEY §7.3-3).
    * Columns: `windowEnd`, `key`, `count`, `rank` (BIGINT). A stream
    * cannot run `row_number`, so the streaming job ranks the same panes in
    * `StatefulTopN`; that timer form cannot serve batch, where
    * `flatMapGroupsWithState` fires no event-time timeout. */
  def slideTopN(events: DataFrame, key: String, n: Int = 3): DataFrame = {
    val counts = slidingPanes(events).groupBy(col("windowEnd"), col(key)).agg(count(lit(1)).as("count"))
    val w = Window.partitionBy(col("windowEnd")).orderBy(col("count").desc, col(key).asc)
    counts.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= n)
  }

  /** Session windows (gap-based, the third window kind after tumbling and
    * sliding — absent from the reference, declared in SURVEY §2.4
    * "Streaming"): per-user sessions close after `gap` of inactivity;
    * window = [first event, last event + gap). Spark's `session_window`
    * plans a per-key sort + merge inside one aggregate (no self-join /
    * no window-function pass) and runs incrementally in a stream
    * (StreamingExtrasSpec). Gap of 12h matches the synthetic events
    * cadence (~11h mean per-user inter-arrival) so sessions actually
    * merge. */
  def sessionCounts(events: DataFrame, gap: String = "12 hours"): DataFrame =
    watermarked(events)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"))
}
