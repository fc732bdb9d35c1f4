package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.plans.SingleSplitRule

/** The reference repository's core capability — CSV landing zone →
  * cleaned, partitioned, snappy-Parquet "staged" zone → catalog —
  * re-expressed Spark-first (SURVEY.md §2 A/B/C, §3).
  *
  * Where the reference converts one CSV object per serverless function
  * invocation (row-oriented, single-process), this declares the whole
  * conversion as a DataFrame plan: Spark's vectorized CSV reader scans
  * file splits in parallel across executors, Catalyst prunes columns,
  * and the parquet sink writes one file per task per partition it
  * touches — the same code path scales from one file to 100 TB by
  * adding executors. An input within one split budget
  * (`spark.sql.files.maxPartitionBytes`) is written by one task, so a
  * small landing batch writes one file per partition (see
  * [[writeParquet]]). Malformed-row policy, name sanitization, derived
  * date partitions, and append/overwrite/dynamic-partition-overwrite
  * semantics mirror the reference's knobs (wrangler `mode=append/
  * overwrite/overwrite_partitions` ≈ SaveMode +
  * partitionOverwriteMode=dynamic).
  */
object Ingest {
  /** Canonical CSV round-trip format: second-of-day plus microseconds,
    * which is exactly Spark's TimestampType resolution — so
    * parquet→CSV→parquet round-trips bit-identically. */
  val TsFormat = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** Read a landing-zone CSV directory: comma-delimited with a header
    * row, timestamps in [[TsFormat]], columns typed by the explicit
    * `schema` (no inference), and a malformed-row policy `mode`:
    * PERMISSIVE (null out bad fields, optionally keep the raw line in
    * `corruptColumn`), DROPMALFORMED, or FAILFAST. Another dialect
    * (say, a `|` delimiter) reads through `spark.read` directly. */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              mode: String = "PERMISSIVE",
              corruptColumn: Option[String] = None): DataFrame = {
    val withCorrupt = corruptColumn match {
      case Some(c) => schema.add(c, org.apache.spark.sql.types.StringType)
      case None    => schema
    }
    var r = spark.read
      .option("header", true)
      .option("timestampFormat", TsFormat)
      .option("mode", mode)
      .schema(withCorrupt)
    corruptColumn.foreach(c => r = r.option("columnNameOfCorruptRecord", c))
    r.csv(path)
  }

  /** Athena/Glue-compatible column names: lower-case, alphanumeric and
    * underscore only (the reference sanitizes names so the Glue catalog
    * and parquet accept them). */
  def sanitizeColumnNames(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(c =>
      c.trim.toLowerCase.replaceAll("[^a-z0-9]+", "_").replaceAll("^_+|_+$", "")): _*)

  /** Derive hive-style partition columns from an event-time column —
    * the reference's ingest-date partitioning, but from data time. */
  def withDatePartitions(df: DataFrame, tsCol: String): DataFrame =
    df.withColumn("p_year", year(col(tsCol)))
      .withColumn("p_month", month(col(tsCol)))
      .withColumn("p_day", dayofmonth(col(tsCol)))

  /** Write snappy parquet (the reference's staged zone). Partition
    * columns become hive-style directories so downstream scans get
    * partition pruning for free. `dynamicOverwrite` replaces only the
    * partitions present in `df` (wrangler `overwrite_partitions`).
    *
    * One writer for a small input: when `df` is a `Project`/`Filter`
    * chain over a file relation of at most
    * `spark.sql.files.maxPartitionBytes`
    * ([[graft.plans.SingleSplitRule.smallScan]], the size test that also
    * plans such a scan as one split), the write is coalesced to one task
    * with no shuffle. A landing batch then writes one file per partition
    * it touches, as the reference's one `to_parquet` call per object
    * does. Any other frame (a larger input, or one with its own
    * `repartition`) writes one file per task per partition. */
  def writeParquet(df: DataFrame, path: String,
                   partitionColumns: Seq[String] = Nil,
                   saveMode: SaveMode = SaveMode.Overwrite,
                   dynamicOverwrite: Boolean = false): Unit = {
    val small = SingleSplitRule.smallScan(df.queryExecution.analyzed).isDefined
    var w = (if (small) df.coalesce(1) else df).write
      .mode(saveMode)
      .option("compression", "snappy")
    if (dynamicOverwrite)
      w = w.option("partitionOverwriteMode", "dynamic")
    if (partitionColumns.nonEmpty)
      w = w.partitionBy(partitionColumns: _*)
    w.parquet(path)
  }

  /** Register a parquet directory as a named external table in the
    * session catalog (the reference's Glue-catalog upsert). */
  def registerTable(spark: SparkSession, df: DataFrame, name: String,
                    path: String): DataFrame = {
    df.write.mode(SaveMode.Overwrite).option("path", path)
      .format("parquet").saveAsTable(name)
    spark.table(name)
  }

  /** Full reference pipeline: CSV in (PERMISSIVE) → sanitize names →
    * derive date partitions → partitioned snappy parquet out. Returns the
    * staged DataFrame (re-read from the sink, as Athena would see it). */
  def run(spark: SparkSession, inDir: String, outDir: String,
          schema: StructType, tsCol: String): DataFrame = {
    val raw = readCsv(spark, inDir, schema)
    val staged = withDatePartitions(sanitizeColumnNames(raw), tsCol)
    writeParquet(staged, outDir, partitionColumns = Seq("p_year", "p_month"))
    spark.read.parquet(outDir)
  }
}
