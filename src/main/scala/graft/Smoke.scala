package graft

import org.apache.spark.sql.SparkSession

/** Dev mirror of the driver's t1 smoke gate: run `SparkEntry.entry` on
  * sf0.001 and print the row count (driver checks rows > 0).
  * Run: `sbt "runMain graft.Smoke"`.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries",
        graft.functions.GraftExtensions.CodegenCacheMaxEntries.toLong)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(10, truncate = false)
    println(s"ENTRY_ROWS=$n")
    spark.stop()
  }
}
