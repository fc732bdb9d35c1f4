package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, spark_partition_id}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{Fixtures, Ingest}

/** Self-tests for the ETL surface pieces the DuckDB oracle can't cover
  * (malformed-row policies, name sanitization, round-trip equality). */
class EtlSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val badCsvDir: String = {
    val dir = Fixtures.tempDir("graft_spec_badcsv")
    Files.writeString(Paths.get(dir, "bad.csv"),
      """k,qty,note
        |1,10.5,ok
        |2,notanumber,bad-numeric
        |3,5.0,fine
        |""".stripMargin)
    dir
  }
  private val badSchema = StructType(Seq(
    StructField("k", LongType), StructField("qty", DoubleType),
    StructField("note", StringType)))

  test("oracle SQL names no temp dir that is deleted at JVM exit") {
    // DuckDB runs the dumped oracle SQL after the dumping JVM has exited
    val sql = SparkEntry.oracleSql.values.mkString("\n")
    val badCsv = Paths.get(graft.queries.EtlQueries.BadCsvDir, "bad.csv")
    assert(sql.contains(badCsv.toString))
    assert(Files.isRegularFile(badCsv))
    val doomed = Fixtures.createdDirs.asScala.map(_.toString)
      .filter(sql.contains(_))
    assert(doomed.isEmpty, s"oracle SQL names dirs deleted at exit: $doomed")
  }

  test("PERMISSIVE keeps all rows, nulls bad fields, tags corrupt record") {
    val df = Ingest.readCsv(spark, badCsvDir, badSchema,
      mode = "PERMISSIVE", corruptColumn = Some("_corrupt")).cache()
    assert(df.count() === 3)
    val bad = df.filter("_corrupt IS NOT NULL").collect()
    assert(bad.length === 1)
    assert(bad.head.getAs[Long]("k") === 2)
    assert(bad.head.isNullAt(bad.head.fieldIndex("qty")))
  }

  // Note: the malformed-row policy only fires for columns the plan
  // actually parses — CSV column pruning means `count()` alone parses
  // nothing and sees every row as fine. Materialize all columns.
  test("DROPMALFORMED drops the bad row") {
    val df = Ingest.readCsv(spark, badCsvDir, badSchema, mode = "DROPMALFORMED")
    val rows = df.collect()
    assert(rows.length === 2)
    assert(rows.map(_.getLong(0)).sorted === Array(1L, 3L))
  }

  test("FAILFAST throws on the bad row") {
    val df = Ingest.readCsv(spark, badCsvDir, badSchema, mode = "FAILFAST")
    assertThrows[org.apache.spark.SparkException](df.collect())
  }

  test("sanitizeColumnNames produces Athena/Glue-safe names") {
    import spark.implicits._
    val df = Seq((1, 2)).toDF("My Col (raw)", "ALREADY_ok2")
    assert(Ingest.sanitizeColumnNames(df).columns === Array("my_col_raw", "already_ok2"))
  }

  test("CSV round-trip preserves rows exactly (events slice, sf0.001)") {
    val src = Tables.t(spark, "/root/testdata/sf0.001", "events")
    val dir = Fixtures.csvOf(spark, "/root/testdata/sf0.001", "events")
    val back = Ingest.readCsv(spark, dir, graft.etl.Schemas.events)
    assert(back.count() === src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("Avro round-trip is content-exact and writes one file per task") {
    import org.apache.spark.sql.functions.col
    val src = Tables.t(spark, "/root/testdata/sf0.001", "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val dir = Fixtures.tempDir("graft_avro_rt") + "/data"
    val schemaJson =
      """{"type":"record","name":"OrderLite","namespace":"graft","fields":[
         {"name":"o_orderkey","type":"long"},
         {"name":"o_orderstatus","type":"string"},
         {"name":"o_totalprice","type":"double"}]}"""
    graft.sources.AvroIO.writeAvro(src.repartition(3), dir, schemaJson)
    // write-side parallelism: one container file per task
    val parts = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .count(_.endsWith(".avro"))
    assert(parts === 3, s"expected 3 avro part files, got $parts")
    val back = graft.sources.AvroIO.readAvro(spark, dir, schemaJson,
      StructType.fromDDL(
        "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE"))
    assert(back.count() === src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("XML round-trip preserves markup-hostile characters exactly") {
    import spark.implicits._
    // every character class XML must escape or CDATA-protect: markup
    // delimiters, entities, quotes, multi-byte unicode, whitespace runs
    val hostile = Seq(
      (1L, "<tag>&amp; raw & ampersand</tag>"),
      (2L, "quotes \" and ' apostrophes"),
      (3L, "unicode é中文 and ]]> cdata-closer"),
      (4L, "  leading/trailing spaces  "),
      (5L, "less < than > greater"))
    val dir = Fixtures.tempDir("graft_spec_xml")
    hostile.toDF("id", "payload")
      .write.mode("overwrite").option("rowTag", "r").format("xml").save(dir)
    val back = spark.read
      .schema("id BIGINT, payload STRING")
      .option("rowTag", "r")
      // the reader trims surrounding whitespace by default — disable to
      // prove content-exact recovery including row 4's padding
      .option("ignoreSurroundingSpaces", false)
      .format("xml").load(dir)
      .orderBy("id")
      .as[(Long, String)].collect()
    assert(back.toSeq === hostile.sortBy(_._1))
  }

  test("dynamic partition overwrite leaves other partitions untouched") {
    import spark.implicits._
    val dir = Fixtures.tempDir("graft_spec_dyn")
    val full = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("p", "v")
    Ingest.writeParquet(full, dir, partitionColumns = Seq("p"))
    Ingest.writeParquet(Seq(("a", 99)).toDF("p", "v"), dir,
      partitionColumns = Seq("p"), dynamicOverwrite = true)
    val got = spark.read.parquet(dir).select("v", "p").as[(Int, String)]
      .collect().sorted
    assert(got === Array((3, "b"), (99, "a")).sorted)
  }

  /** A landing batch as the ingest benchmark lands one: four months of
    * sf0.1 orders (~7.5k rows, ~0.8 MB) in one CSV file. */
  private lazy val landingCsv: String = {
    val dir = Fixtures.tempDir("graft_spec_landing")
    Tables.t(spark, "/root/testdata/sf0.1", "orders")
      .where(col("o_orderdate") >= "1995-01-01" && col("o_orderdate") < "1995-05-01")
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
      .coalesce(1).write.mode("overwrite").option("header", true)
      .option("timestampFormat", Ingest.TsFormat).csv(dir)
    dir
  }

  /** `landingCsv` as the landing path stages it: read, sanitized and
    * partitioned by month. */
  private def landingBatch(): DataFrame =
    Ingest.withDatePartitions(Ingest.sanitizeColumnNames(Ingest.readCsv(spark,
      landingCsv, graft.etl.Schemas.orders)), "o_orderdate")

  /** The number of parquet files in each partition dir under `dir`. */
  private def filesPerPartition(dir: String): Map[String, Int] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator.asScala.filter(_.toString.endsWith(".parquet"))
      .toSeq.groupBy(_.getParent.toString).map { case (d, fs) => d -> fs.size }
    finally walk.close()
  }

  /** Run `body` under the engine's split confs (`Session.confs`), under
    * which the landing batch scans as several splits. */
  private def engineSplits[T](extra: (String, String)*)(body: => T): T =
    Session.withConfs(spark, (Session.confs.filter(_._1.startsWith("spark.sql.files."))
      ++ extra).toSeq: _*)(body)

  private val byMonth = Seq("p_year", "p_month")

  test("a small landing batch writes one file per partition it touches") {
    engineSplits() {
      val batch = landingBatch()
      assert(batch.rdd.getNumPartitions > 1, "the batch must scan as several splits")
      val touched = batch.select(byMonth.map(col): _*).distinct().count()
      assert(touched > 1)
      val appended = Fixtures.tempDir("graft_spec_land_append")
      Ingest.writeParquet(batch, appended, byMonth, SaveMode.Append)
      val dynamic = Fixtures.tempDir("graft_spec_land_dynamic")
      Ingest.writeParquet(batch, dynamic, byMonth, SaveMode.Overwrite,
        dynamicOverwrite = true)
      for (dir <- Seq(appended, dynamic)) {
        val files = filesPerPartition(dir)
        assert(files.size == touched && files.values.forall(_ == 1), files)
        assert(spark.read.parquet(dir).count() == batch.count())
      }
    }
  }

  test("a landing batch over maxPartitionBytes writes one file per task per partition") {
    engineSplits("spark.sql.files.maxPartitionBytes" -> "64k") {
      val batch = landingBatch()
      val touched = batch.select(byMonth.map(col): _*).distinct().count()
      val perTask = batch.select((spark_partition_id() +: byMonth.map(col)): _*)
        .distinct().count()
      assert(perTask > touched)
      val dir = Fixtures.tempDir("graft_spec_land_big")
      Ingest.writeParquet(batch, dir, byMonth, SaveMode.Append)
      assert(filesPerPartition(dir).values.sum == perTask)
    }
  }

  test("a landing batch with its own repartition writes one file per partition") {
    engineSplits() {
      val batch = landingBatch().repartition(byMonth.map(col): _*)
      val touched = batch.select(byMonth.map(col): _*).distinct().count()
      val dir = Fixtures.tempDir("graft_spec_land_repart")
      Ingest.writeParquet(batch, dir, byMonth, SaveMode.Append)
      val files = filesPerPartition(dir)
      assert(files.size == touched && files.values.forall(_ == 1), files)
    }
  }

  test("range-partitioned sink writes files with disjoint key ranges") {
    import org.apache.spark.sql.functions._
    val (out, dir) =
      graft.queries.EtlQueries.rangeLayout(spark, "/root/testdata/sf0.001")
    assert(out.count() ===
      Tables.t(spark, "/root/testdata/sf0.001", "orders").count())
    // per-file [min, max] of the clustering key must not overlap — the
    // property that lets key-range scans skip whole files on footer stats
    val ranges = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(ranges.length > 1, "expected multiple files")
    ranges.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(hi1 < lo2, s"overlapping file ranges: $hi1 >= $lo2")
    }
  }

  test("z-order sink writes files with disjoint curve ranges, tight in both dims") {
    import org.apache.spark.sql.functions._
    val (out, dir) =
      graft.queries.EtlQueries.zorderLayout(spark, "/root/testdata/sf0.001")
    assert(out.count() ===
      Tables.t(spark, "/root/testdata/sf0.001", "orders").count())
    val files = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("zval").as("zlo"), max("zval").as("zhi"),
        min("o_custkey").as("clo"), max("o_custkey").as("chi"),
        min("o_orderkey").as("olo"), max("o_orderkey").as("ohi"))
      .collect()
    // the curve value ranges are disjoint across files (footer-stats
    // skipping on zval works exactly like the 1-D range layout)
    val zr = files.map(r => (r.getInt(1), r.getInt(2))).sortBy(_._1)
    assert(zr.length > 1)
    zr.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(hi1 < lo2, s"overlapping z ranges: $hi1 >= $lo2")
    }
    // Interleaving RANGE-QUANTIZED keys buys genuine 2-D locality: the
    // RAW min/max footer stats (exactly what parquet skipping reads)
    // must tighten in BOTH dimensions. A contiguous Morton interval can
    // straddle a high-bit flip, so a single file may stay wide in one
    // dimension — assert on the layout as a whole: the average per-file
    // span is well under the global span, and at least half the files
    // tighten each dimension to <= 60% of it. (A 1-D orderkey sort
    // leaves EVERY file spanning ~the full custkey range.)
    val orders = Tables.t(spark, "/root/testdata/sf0.001", "orders")
    val Array(gc, go) = orders
      .selectExpr("max(o_custkey) - min(o_custkey)",
        "max(o_orderkey) - min(o_orderkey)")
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    def check(dim: String, spans: Seq[Long], global: Long): Unit = {
      assert(spans.sum.toDouble / spans.length < 0.75 * global,
        s"$dim: average file span not tightened: $spans vs $global")
      assert(spans.count(_ <= 0.6 * global) * 2 >= spans.length,
        s"$dim: fewer than half the files tightened: $spans vs $global")
    }
    check("custkey", files.map(r => r.getLong(4) - r.getLong(3)).toSeq, gc)
    check("orderkey", files.map(r => r.getLong(6) - r.getLong(5)).toSeq, go)
  }

  test("merge upsert: updates in place, inserts appended, rest untouched") {
    import org.apache.spark.sql.functions._
    val sfDir = "/root/testdata/sf0.001"
    val target = Tables.t(spark, sfDir, "orders")
    val nTarget = target.count()
    val nUpd = target.filter(col("o_orderkey") % 97 === 0).count()
    val nIns = target.filter(col("o_orderkey") % 101 === 0).count()
    val merged = graft.queries.EtlQueries.defs("etl_merge_upsert")(spark, sfDir)
      .cache()
    // row accounting: every target key survives, every insert appends
    assert(merged.count() === nTarget + nIns)
    assert(merged.filter(col("row_action") === "update").count() === nUpd)
    assert(merged.filter(col("row_action") === "insert").count() === nIns)
    assert(merged.filter(col("row_action") === "keep").count() === nTarget - nUpd)
    // updates actually moved the price by exactly +1000.00 (100000 in e2)
    val bump = merged.filter(col("row_action") === "update")
      .join(target, Seq("o_orderkey"))
      .filter(col("price_e2") =!=
        (round(col("o_totalprice") * 100).cast("bigint") + 100000L))
    assert(bump.count() === 0)
    // kept rows carry the target's price unchanged
    val drift = merged.filter(col("row_action") === "keep")
      .join(target, Seq("o_orderkey"))
      .filter(col("price_e2") =!= round(col("o_totalprice") * 100).cast("bigint"))
    assert(drift.count() === 0)
  }

  test("delete rewrite touches only the range-intersecting files") {
    import org.apache.spark.sql.functions._
    val sfDir = "/root/testdata/sf0.001"
    val (result, nAffected, nTotal) =
      graft.queries.EtlQueries.deleteRewrite(spark, sfDir)
    // the layout is 8 range-disjoint files; a 41-key range can
    // intersect at most 2 (a partitioner boundary may split it)
    assert(nTotal === 8)
    assert(nAffected >= 1 && nAffected <= 2, s"affected=$nAffected")
    // and the deletion is exact
    val orders = Tables.t(spark, sfDir, "orders")
    val expected = orders.filter(!col("o_orderkey").between(40, 80)).count()
    assert(result.count() === expected)
    assert(result.filter(col("o_orderkey").between(40, 80)).count() === 0)
  }

  test("k-anonymize: every released combination has >= k members, none lost") {
    import org.apache.spark.sql.functions._
    val sfDir = "/root/testdata/sf0.001"
    val out = graft.queries.EtlQueries.defs("etl_k_anonymize")(spark, sfDir)
      .cache()
    // the release invariant: no unmasked quasi-identifier combination
    // below k (the masked rows all collapse into the single '*' cell)
    val released = out.where(!col("is_suppressed"))
      .groupBy("nat", "seg", "band").count()
    assert(released.where(col("count") < 10).count() === 0)
    // suppression actually masks, and masks ALL quasi columns at once
    assert(out.where(col("is_suppressed") &&
      (col("nat") =!= "*" || col("seg") =!= "*" || col("band") =!= "*"))
      .count() === 0)
    // nothing dropped, keys unique
    val total = Tables.t(spark, sfDir, "customer").count()
    assert(out.count() === total)
    assert(out.select("c_custkey").distinct().count() === total)
    out.unpersist()
  }

  test("compaction collapses a many-small-files layout to few files") {
    // assert on the ACTUAL query pipeline's directories, not a copy
    val (out, small, big) =
      graft.queries.EtlQueries.compact(spark, "/root/testdata/sf0.001")
    val n = out.count()
    assert(n === Tables.t(spark, "/root/testdata/sf0.001", "events").count())
    def parquetFiles(d: String) =
      new java.io.File(d).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(small) === 64)
    assert(parquetFiles(big) === 2)
  }

  test("vacuum drops doomed snapshot dirs on disk, survivors untouched") {
    val (report, root) =
      queries.EtlQueries.vacuumWithRoot(spark, "/root/testdata/sf0.001")
    val rows = report.collect()
    val n = Tables.t(spark, "/root/testdata/sf0.001", "orders").count()
    // report shape: v=1 removed, v=2/3 live, each a full snapshot
    assert(rows.map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSeq
      === Seq((1, n, "removed"), (2, n, "live"), (3, n, "live")))
    // physical outcome: the doomed directory is GONE, survivors remain
    assert(!new java.io.File(s"$root/v=1").exists())
    assert(new java.io.File(s"$root/v=2").exists())
    assert(new java.io.File(s"$root/v=3").exists())
    assert(spark.read.parquet(root).count() === 2 * n)
  }

  test("orphan audit flags the manifest-less snapshot without deleting it") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("etl_orphan_audit")(spark, sfDir).collect()
    val n = Tables.t(spark, sfDir, "orders").count()
    assert(rows.map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSeq
      === Seq((1, n, "committed"), (2, n, "committed"), (3, n, "orphan")))
    // audit-only contract: the orphan's data is still on disk (reclaim
    // is a separate job — the orphan may belong to an in-flight commit)
    val root = graft.etl.Fixtures.stagedDir(sfDir, "orphan_audit")(_ => ())
    assert(new java.io.File(s"$root/v=3").exists())
    assert(new java.io.File(s"$root/_manifest").exists())
  }

  test("shallow clone copies zero source data files and reads correctly") {
    val sfDir = "/root/testdata/sf0.001"
    val (report, srcRoot, cloneRoot) =
      graft.queries.EtlQueries.shallowCloneWithDirs(spark, sfDir)
    val rows = report.collect()
    val srcRows = spark.read.parquet(s"$srcRoot/v=1").count()
    // shared versions read THROUGH the manifest equal the source
    assert(rows.filter(_.getString(1) == "shared")
      .map(_.getLong(2)).toSeq === Seq(srcRows, srcRows))
    // the physical contract: the clone directory contains only its
    // manifest and its OWN v=3 — no source data file was copied
    val entries = new java.io.File(cloneRoot).listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).sorted.toSeq
    assert(entries === Seq("_manifest", "v=3"), entries.toString)
    // the clone's own version really is independent of the source
    assert(!new java.io.File(s"$srcRoot/v=3").exists())
  }

  test("HITS scores are max-normalized exact integers on a real digraph") {
    val rows = SparkEntry.queries("llm_graph_hits")(spark,
      "/root/testdata/sf0.001").collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      assert(r.getLong(1) >= 0L && r.getLong(1) <= 1000000L)
      assert(r.getLong(2) >= 0L && r.getLong(2) <= 1000000L)
    }
    // the top row of a max-normalized ranking is the maximum itself
    assert(rows.head.getLong(1) === 1000000L)
  }
}
