package graft

import java.nio.file.Paths
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.TimestampNTZType
import org.scalatest.funsuite.AnyFunSuite

/** The declared corpus read schemas ([[Tables.schemas]]) against the
  * files on disk, and what declaring them buys: a read that resolves
  * without a Spark job. */
class TablesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // the driver-generated corpus (TESTDATA.md), at each scale factor
  private val scaleFactors = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(sf => Paths.get(sys.props("user.home"), "testdata", sf).toString)

  test("every declared schema equals the schema Spark infers, at every scale factor") {
    // != compares names, order, types and nullability: a declared
    // column the file lacks would read as nulls, so a subset check
    // would not do
    val drift = for {
      sfDir <- scaleFactors
      (name, declared) <- Tables.schemas.toSeq.sortBy(_._1)
      inferred = spark.read.parquet(s"$sfDir/$name.parquet").schema
      if declared != inferred
    } yield s"$sfDir/$name: declared ${declared.toDDL}, file holds ${inferred.toDDL}"
    if (drift.nonEmpty) fail(drift.mkString("\n"))
  }

  test("events on disk is TIMESTAMP_NTZ, the branch Tables.events documents") {
    for (sfDir <- scaleFactors) {
      val ts = spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType
      assert(ts == TimestampNTZType, s"$sfDir/events.ts is $ts")
    }
  }

  test("resolving a declared table starts no Spark job") {
    val sfDir = scaleFactors(1)
    val jobs = TablesSpec.jobsStartedBy(spark) {
      Tables.schemas.keys.foreach(name => Tables.t(spark, sfDir, name))
    }
    assert(jobs == 0, s"$jobs Spark jobs to resolve ${Tables.schemas.size} reads")
  }

  test("rowCount equals count() at every scale factor, and starts no Spark job") {
    val names = Seq("documents", "embeddings", "orders")
    val counted = for (sfDir <- scaleFactors; name <- names)
      yield (sfDir, name) -> Tables.t(spark, sfDir, name).count()
    val jobs = TablesSpec.jobsStartedBy(spark) {
      for (((sfDir, name), n) <- counted)
        assert(Tables.rowCount(spark, sfDir, name) == n, s"$sfDir/$name")
    }
    assert(jobs == 0, s"$jobs Spark jobs to count ${counted.size} tables from footers")
  }

  test("rowCount sums the part files of a directory and sees a file appended") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rowcount_")
    try {
      val out = s"$dir/t.parquet"
      spark.range(0, 70, 1, 3).write.parquet(out)
      assert(Tables.rowCount(spark, dir.toString, "t") == 70)
      spark.range(0, 5, 1, 1).write.mode("append").parquet(out)
      assert(Tables.rowCount(spark, dir.toString, "t") == 75)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("an unknown table name fails with an error that names it") {
    val e = intercept[IllegalArgumentException](
      Tables.t(spark, scaleFactors.head, "lineitems"))
    assert(e.getMessage.contains("'lineitems'"), e.getMessage)
  }
}

object TablesSpec {
  /** Spark jobs started while `body` runs. */
  def jobsStartedBy(spark: SparkSession)(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val sentinel = new CountDownLatch(1)
    val group = "tables-spec-sentinel"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          sentinel.countDown()
        else jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      // the bus delivers events in order: once the sentinel job's start
      // arrives, every job the reads above started has been counted
      sc.setJobGroup(group, "flush the listener bus")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      assert(sentinel.await(60, TimeUnit.SECONDS), "sentinel job never reported")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
