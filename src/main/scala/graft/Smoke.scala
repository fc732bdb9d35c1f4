package graft

/** Dev mirror of the driver's t1 smoke gate: run `SparkEntry.entry` on
  * sf0.001 and print the row count (driver checks rows > 0).
  * Run: `sbt "runMain graft.Smoke"`.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(10, truncate = false)
    println(s"ENTRY_ROWS=$n")
    spark.stop()
  }
}
