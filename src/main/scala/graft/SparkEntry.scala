package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._
import graft.streaming.StreamingQ

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` holds one entry per implemented operator from SURVEY.md §2;
  * `oracleSql` holds the DuckDB-runnable ANSI-SQL twin for every
  * oracle-able key (column names aliased identically on both sides —
  * the driver sorts columns by name and hash-compares values).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_flagship")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Flagship.defs ++ EtlQueries.defs ++ Joins.defs ++ Aggregates.defs ++
      Windows.defs ++ SetSort.defs ++ ScalarFns.defs ++ StreamingQ.defs ++
      LlmText.defs ++ LlmVector.defs

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Flagship.oracle ++ EtlQueries.oracle ++ Joins.oracle ++
      Aggregates.oracle ++ Windows.oracle ++ SetSort.oracle ++
      ScalarFns.oracle ++ StreamingQ.oracle ++ LlmText.oracle ++
      LlmVector.oracle

  /** The keys named by the dev-only filter `SPARK_GRAFT_ONLY=key1,key2`
    * that `Verify` and `Bench` honour, or None when it is unset and
    * every key runs. An unknown name fails loudly: a silent partial or
    * empty selection would let stale dumps pass or write a hollow
    * results file. */
  private[graft] def onlyKeys(): Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet).map { keys =>
      val unknown = keys -- queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown keys: ${unknown.toSeq.sorted.mkString(", ")}")
      keys
    }
}
