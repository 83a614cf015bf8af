package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine query: the Spark implementation plus (when
  * SQL-expressible) an equivalent ANSI SQL oracle the driver runs in
  * DuckDB over the same parquet tables. Column names/aliases MUST match
  * between `fn`'s result and the oracle — the driver's compare sorts
  * columns by name before hashing values.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle))
}
