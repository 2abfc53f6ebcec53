package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object queries {
  /** A registered query: the Spark plan plus (when SQL-expressible) the
    * DuckDB oracle the driver checks it against. Queries without an
    * oracle get the driver's weaker rows-only check. */
  final case class Q(
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String] = None)

  object Q {
    def apply(oracle: String)(fn: (SparkSession, String) => DataFrame): Q =
      Q(fn, Some(oracle))
  }
}
