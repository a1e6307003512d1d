package graft.declared

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its name, how to build it over a scale-factor
  * directory, and the DuckDB SQL that must return the same rows (the
  * oracle), if it has one. */
final case class Declared(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Declared {

  /** The entries as given, after checking that no name is declared twice
    * (a map keyed by name would silently keep only the last one). */
  def registry(entries: Seq[Declared]): Seq[Declared] = {
    val repeated = entries.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(repeated.isEmpty,
      s"query declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    entries
  }
}
