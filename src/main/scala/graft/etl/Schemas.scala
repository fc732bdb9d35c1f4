package graft.etl

import org.apache.spark.sql.types._

/** The CSV landing contract: the StructTypes that the paper's
  * CSV -> Parquet path (`Ingest`) and the events streaming sources
  * read their inputs with. The reference pipeline infers schemas per
  * CSV file; at 100 TB inference is an extra full scan, so production
  * paths here always pass an explicit schema and reserve `inferSchema`
  * for exploration. These are not the corpus read schemas
  * ([[graft.Tables.schemas]]): a landed timestamp is a session-zone
  * `TimestampType`, while the corpus files hold TIMESTAMP_NTZ.
  */
object Schemas {
  val events: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val lineitem: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  val orders: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))
}
