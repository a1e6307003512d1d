package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The one size gate every operator with a fixture form and a 100 TB
  * form goes through: `Dispatch.pick(spark, name, threshold)(estimate)`
  * is true when the large form runs.
  *
  *  - `auto` (the default) evaluates `estimate` and takes the large
  *    form exactly when `estimate >= threshold`: each gate's threshold
  *    constant, next to its operator, is the smallest estimate that
  *    takes the large form.
  *  - `small` / `large` take that form at every gate without evaluating
  *    `estimate`, so a forced decision never pays the gate's count,
  *    filesystem stat or plan-stats read.
  *
  * The mode is the session SQL conf [[ForceKey]]. It is a `spark.*` key,
  * so a JVM system property (`-Dspark.graft.dispatch.force=large`) sets
  * it for every session a main builds; that is how the oracle sweep
  * checks the large forms the fixtures never reach. Any other value
  * throws, naming it.
  *
  * Every decision is kept, per session and bounded to the last
  * [[MaxKept]], until [[drain]] takes them (`Verify.dump` prints one
  * `[dispatch]` line each after every query). */
object Dispatch {
  val ForceKey = "spark.graft.dispatch.force"
  val MaxKept = 256

  /** One gate decision; `estimate` is None when the mode was forced. */
  final case class Decision(name: String, estimate: Option[BigInt],
      threshold: Long, large: Boolean) {
    override def toString: String = s"$name estimate=${estimate.getOrElse("forced")} " +
      s"threshold=$threshold branch=${if (large) "large" else "small"}"
  }

  // weakly keyed: a Decision holds no reference to its session
  private val kept = new java.util.WeakHashMap[SparkSession, mutable.Queue[Decision]]

  def pick(spark: SparkSession, name: String, threshold: Long)(estimate: => BigInt): Boolean = {
    val d = spark.conf.get(ForceKey, "auto") match {
      case "auto" => val e = estimate; Decision(name, Some(e), threshold, e >= threshold)
      case forced @ ("small" | "large") => Decision(name, None, threshold, forced == "large")
      case other => throw new IllegalArgumentException(
        s"$ForceKey must be auto, small or large, got '$other'")
    }
    kept.synchronized {
      val q = kept.computeIfAbsent(spark, _ => mutable.Queue.empty[Decision])
      if (q.size == MaxKept) q.dequeue()
      q.enqueue(d)
    }
    d.large
  }

  /** The decisions kept for `spark` since the last drain, oldest first. */
  def drain(spark: SparkSession): Seq[Decision] = kept.synchronized {
    Option(kept.remove(spark)).fold(Seq.empty[Decision])(_.toList)
  }
}
