package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders + shared helpers for the driver-generated test corpus
  * (TESTDATA.md, FIXTURES.md). All query builders take `(spark, sfDir)`
  * and load via [[t]] so the same code runs at every scale factor.
  */
object Tables {
  /** The corpus read schemas, exactly as Spark infers them from the
    * files on disk at every scale factor (`TablesSpec` checks this).
    * Declaring them is the catalog role of the reference pipeline's
    * Glue table: a read resolves from here instead of running a Spark
    * job to read a footer. Every timestamp on disk is Parquet
    * TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads as
    * TIMESTAMP_NTZ, so these differ from the CSV landing schemas in
    * [[graft.etl.Schemas]]. `events` is not here: its encoding varies
    * by writer, so [[events]] infers it. */
  val schemas: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "documents" -> ("doc_id BIGINT, text STRING, lang STRING, source STRING, " +
      "n_chars BIGINT"),
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else {
      val schema = schemas.getOrElse(name, throw new IllegalArgumentException(
        s"unknown corpus table '$name'; known: events, " +
          schemas.keys.toSeq.sorted.mkString(", ")))
      spark.read.schema(schema).parquet(s"$sfDir/$name.parquet")
    }

  /** Row count of a corpus table, summed from the Parquet footers of its
    * data files on the driver: no Spark job, and the path is listed on
    * every call, so a directory whose contents change is counted
    * afresh. `$name.parquet` may be one file or a directory of part
    * files; names starting with `_` or `.` are not data, as for Spark. */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(s"$sfDir/$name.parquet")
    val fs = root.getFileSystem(conf)
    fs.listStatus(root)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map { s =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf))
        try reader.getRecordCount finally reader.close()
      }.sum
  }

  /** events.ts arrives in different parquet encodings depending on the
    * writer, so dispatch on the type Spark actually loaded:
    *  - the corpus on disk (every scale factor) and DuckDB COPY
    *    re-writes: TIMESTAMP(MICROS, isAdjustedToUTC=false), which
    *    Spark reads as TIMESTAMP_NTZ — cast to session-tz TIMESTAMP so
    *    every downstream window()/watermark sees one uniform type.
    *  - TIMESTAMP(NANOS), which Spark 4 refuses to read as a timestamp.
    *    Read as raw nanos (legacy conf) and convert with integer
    *    division; DuckDB surfaces such a column as a µs TIMESTAMP, so
    *    both engines see identical values for µs-aligned data. Integer
    *    `div` (not double /) because ns-since-epoch exceeds a double's
    *    53-bit mantissa.
    *  - already-TIMESTAMP files (Spark writes) pass through untouched. */
  private def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Exact-money arithmetic: the corpus' money columns are 2-decimal
    * doubles (verified in FIXTURES.md data), so casting to decimal is
    * lossless. Computing sums/products in decimal and casting the final
    * result to double makes Spark and the DuckDB oracle agree
    * bit-for-bit, which a raw double aggregation (order-dependent
    * rounding) would not. Same trick at 100 TB: decimal agg is exact,
    * deterministic, and still whole-stage-codegen'd.
    */
  def dec(c: Column): Column = c.cast("decimal(18,2)")
}
