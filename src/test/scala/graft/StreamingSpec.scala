package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingQ

/** Invariant self-tests for the streaming surface (SURVEY.md §2-I) —
  * properties the DuckDB oracle can't express (exactly-once replay,
  * session-gap structure). Runs at sf0.001 to stay fast. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  /** Part files of a staged directory, stream closed (fd hygiene). */
  private def parquetParts(dir: String): Array[String] = {
    import java.nio.file.{Files, Paths}
    val s = Files.list(Paths.get(dir))
    try s.toArray.map(_.toString).filter(_.endsWith(".parquet")).sorted
    finally s.close()
  }

  /** Land a file into a watched dir: stage outside (dot-prefixed tmp),
    * then atomic-move in — a running query must never list a
    * half-copied file. */
  private def land(landing: String, src: String, name: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = Paths.get(landing, s".$name.tmp")
    Files.copy(Paths.get(src), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, Paths.get(landing, name), StandardCopyOption.ATOMIC_MOVE)
  }

  test("stream_ingest is exactly-once: row set equals the batch table") {
    val streamed = StreamingQ.defs("stream_ingest")(spark, sfDir)
      .select("event_id", "user_id", "event_type")
    val batch = Tables.t(spark, sfDir, "events")
      .select("event_id", "user_id", "event_type")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("a parquet sink's read-back declares the schema inference finds, and starts no job") {
    // stream_ingest, and a windowed key whose sink holds a struct column
    for (key <- Seq("stream_ingest", "stream_window_distinct")) {
      val sink = StreamingQ.defs(key)(spark, sfDir).queryExecution.analyzed
        .collectFirst { case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs }
        .getOrElse(fail(s"$key reads no file relation"))
      val dir = sink.location.rootPaths.head.toString
      assert(sink.schema == spark.read.parquet(dir).schema, key)
      val jobs = TablesSpec.jobsStartedBy(spark) {
        spark.read.schema(sink.schema).parquet(dir)
      }
      assert(jobs == 0, s"$key: the declared read-back started $jobs Spark jobs")
    }
  }

  test("file-arrival ingest is incremental: each new file processed exactly once") {
    // The reference's S3-trigger semantics: files land one at a time;
    // each is processed once, previously-seen files never reprocess.
    val stagingAll = graft.etl.Fixtures.tempDir("graft_incr_all")
    Tables.t(spark, sfDir, "events").repartition(3)
      .write.mode("overwrite").parquet(stagingAll)
    val parts = parquetParts(stagingAll)
    assert(parts.length === 3)
    val landing = graft.etl.Fixtures.tempDir("graft_incr_landing")
    val out = graft.etl.Fixtures.tempDir("graft_incr_out")
    val q = spark.readStream.schema(Tables.t(spark, sfDir, "events").schema)
      .parquet(landing)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", graft.etl.Fixtures.tempDir("graft_incr_ckpt"))
      .start()
    try {
      var expected = 0L
      parts.zipWithIndex.foreach { case (p, i) =>
        land(landing, p, s"arrival_$i.parquet")
        q.processAllAvailable()
        expected += spark.read.parquet(p).count()
        assert(spark.read.parquet(out).count() === expected,
          s"after arrival $i: output rows != cumulative input rows")
      }
      // no new files → another pass must add nothing
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() === expected)
    } finally q.stop()
  }

  test("checkpoint recovery: a restarted query resumes exactly-once") {
    // Kill the query between file arrivals and restart it from the SAME
    // checkpoint: already-committed files must not reprocess (no dupes),
    // files that arrived while the query was down must not be lost.
    val stagingAll = graft.etl.Fixtures.tempDir("graft_rec_all")
    Tables.t(spark, sfDir, "events").repartition(2)
      .write.mode("overwrite").parquet(stagingAll)
    val parts = parquetParts(stagingAll)
    assert(parts.length === 2)
    val landing = graft.etl.Fixtures.tempDir("graft_rec_landing")
    val out = graft.etl.Fixtures.tempDir("graft_rec_out")
    val ckpt = graft.etl.Fixtures.tempDir("graft_rec_ckpt")
    def startQuery() = spark.readStream
      .schema(Tables.t(spark, sfDir, "events").schema)
      .parquet(landing)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .start()
    val n0 = spark.read.parquet(parts(0)).count()
    val q1 = startQuery()
    try { land(landing, parts(0), "f0.parquet"); q1.processAllAvailable() }
    finally q1.stop() // hard stop: the "crash"
    assert(spark.read.parquet(out).count() === n0)
    // second file arrives while no query is running
    land(landing, parts(1), "f1.parquet")
    val q2 = startQuery() // resumes from the same checkpoint
    try q2.processAllAvailable() finally q2.stop()
    val total = Tables.t(spark, sfDir, "events").count()
    val outDf = spark.read.parquet(out)
    assert(outDf.count() === total, "restart lost or duplicated rows")
    // event_id is unique in the corpus: any reprocessing would show here
    assert(outDf.select("event_id").distinct().count() === total)
  }

  test("stream_dedup collapses a double-delivered source to unique event_ids") {
    val out = StreamingQ.defs("stream_dedup")(spark, sfDir).cache()
    val n = out.count()
    assert(n === Tables.t(spark, sfDir, "events").count())
    assert(out.select("event_id").distinct().count() === n)
  }

  test("session windows: per-user sessions are disjoint and gap-separated") {
    val s = StreamingQ.defs("stream_window_session")(spark, sfDir)
    // Consecutive sessions of the same user must be separated by the
    // 30-minute gap: next start >= previous end (end already = last+gap).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("s_start")
    val overlaps = s
      .withColumn("prev_end", lag(col("s_end"), 1).over(w))
      .filter(col("prev_end").isNotNull && col("s_start") < col("prev_end"))
      .count()
    assert(overlaps === 0)
    // Every session spans at least the gap (end = last event + 30 min).
    val tooShort = s.filter(
      col("s_end") < col("s_start") + expr("INTERVAL 30 MINUTES")).count()
    assert(tooShort === 0)
  }

  test("streaming minhash dedup is arrival-order independent") {
    // The same corpus streamed even-ids-first and odd-ids-first must
    // produce the identical (dup_id, dup_of) set: whichever member of a
    // pair arrives second emits the same (higher, lower) row, so the
    // batch order cannot leak into the answer.
    val fwd = StreamingQ.streamDedupMinhashStaged(spark,
      StreamingQ.stagedParts(spark, sfDir, "documents",
        col("doc_id") % 2, 2)).cache()
    val rev = StreamingQ.streamDedupMinhashStaged(spark,
      StreamingQ.stagedParts(spark, sfDir, "documents",
        (col("doc_id") + 1) % 2, 2))
    assert(fwd.count() > 0, "corpus should contain minhash near-dups")
    assert(fwd.exceptAll(rev).isEmpty && rev.exceptAll(fwd).isEmpty)
    // Each duplicate points at a strictly smaller retained doc.
    assert(fwd.filter(col("dup_of") >= col("dup_id")).count() === 0)
  }

  test("watermark append-mode emits every real window exactly once") {
    val out = StreamingQ.defs("stream_watermark")(spark, sfDir).cache()
    val days = Tables.t(spark, sfDir, "events")
      .select(date_trunc("day", col("ts")).as("d")).distinct().count()
    assert(out.count() === days)
    assert(out.select("w_start").distinct().count() === days)
  }

  test("stream_topk counts are lower bounds of the exact counts") {
    // The mergeable heavy-hitters summary can only UNDERCOUNT (pruned
    // mass is dropped, never re-credited): every emitted count must be
    // ≤ the batch ground truth, and ranks must be the dense 1..10.
    val out = StreamingQ.defs("stream_topk")(spark, sfDir).cache()
    assert(out.count() === 10)
    assert(out.select("rk").collect().map(_.getInt(0)).sorted.toSeq
      === (1 to 10))
    val exact = Tables.t(spark, sfDir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("true_cnt"))
    val bad = out.join(exact, Seq("user_id"), "left")
      .where(col("true_cnt").isNull || col("cnt") > col("true_cnt"))
    assert(bad.count() === 0)
  }

  test("stream_countmin estimates never under-count and state stays bounded") {
    // CMS point estimates are OVER-estimates by construction (cell sums
    // only ever add mass), and the maintained sketch can never exceed
    // the d*w cell bound regardless of stream length: the key's fold
    // root keeps one snapshot, of at most 3·4096 cells, once it is done.
    import scala.jdk.CollectionConverters._
    def foldRoots = graft.etl.Fixtures.createdDirs.asScala
      .filter(_.getName.startsWith("graft_stream_fold_")).toSet
    val before = foldRoots
    val out = StreamingQ.defs("stream_countmin")(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getLong(2) >= r.getLong(1),
      s"CMS under-counted user ${r.getLong(0)}"))
    val roots = (foldRoots -- before).toSeq
    assert(roots.length === 1, s"fold roots made by the key: $roots")
    val snaps = roots.head.listFiles().filter(_.isDirectory).map(_.getName)
    assert(snaps.length === 1,
      s"superseded snapshots left behind: ${snaps.sorted.mkString(", ")}")
    val cells = spark.read.parquet(s"${roots.head}/${snaps.head}").count()
    assert(cells > 0 && cells <= 3 * 4096)
  }

  test("stream_merge_upsert equals the one-shot batch MERGE of its change feed") {
    // the feed the key stages: price bump + status 'R' on keys ≡0 mod
    // 97, and keys ≡0 mod 101 re-inserted past max(o_orderkey) as 'N'
    val target = Tables.t(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val shift = target.agg(max("o_orderkey")).head.getLong(0) + 1L
    val changes = target.where(col("o_orderkey") % 97 === 0)
      .withColumn("o_totalprice", (Tables.dec(col("o_totalprice")) +
        lit(BigDecimal("1000.00"))).cast("double"))
      .withColumn("o_orderstatus", lit("R"))
      .unionByName(target.where(col("o_orderkey") % 101 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + shift)
        .withColumn("o_orderstatus", lit("N")))
    // MERGE as unmatched target rows plus every change row
    val want = target.join(changes, Seq("o_orderkey"), "left_anti")
      .unionByName(changes)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("bigint").as("price_e2"))
    val got = StreamingQ.defs("stream_merge_upsert")(spark, sfDir).cache()
    assert(got.where(col("o_orderstatus") === "R").count() > 0)
    assert(got.where(col("o_orderstatus") === "N").count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streamed MERGE diverged from the batch MERGE")
  }

  test("stream_incremental_agg equals the one-shot batch aggregate") {
    val want = Tables.t(spark, sfDir, "events").groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("bigint")).as("sum_e2"))
    val got = StreamingQ.defs("stream_incremental_agg")(spark, sfDir)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "maintained rollup diverged from the batch aggregate")
  }

  test("stream_quantile_hist equals the exact batch quantiles") {
    // histogram merge is lossless, so the maintained quantiles must be
    // EXACTLY the batch percentile (no sketch tolerance)
    val out = StreamingQ.defs("stream_quantile_hist")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val exact = Tables.t(spark, sfDir, "events")
      .selectExpr("event_type", "cast(round(value * 100) as bigint) AS v")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (et, vs) =>
        val xs = vs.map(_._2).sorted
        def q(p: Int): Long = xs(((xs.length.toLong * p + 99) / 100 - 1)
          .toInt.max(0))
        et -> ((q(50), q(90), q(99)))
      }
    assert(out === exact)
    out.values.foreach { case (p50, p90, p99) =>
      assert(p50 <= p90 && p90 <= p99)
    }
  }

  test("stream_hll_distinct maintained sketch agrees with one-shot and exact") {
    // the mergeability property: unioning per-batch sketches lands
    // within 2% of the single-pass sketch, and the estimate within 5%
    // of the exact distinct count — the flags the oracle pins TRUE
    val out = StreamingQ.defs("stream_hll_distinct")(spark, sfDir).collect()
    assert(out.length === 5)
    out.foreach { r =>
      assert(r.getLong(1) > 0L)
      assert(r.getBoolean(2), s"merge drifted for ${r.getString(0)}")
      assert(r.getBoolean(3), s"estimate out of bound for ${r.getString(0)}")
    }
  }

  test("stream_incremental_dedup equals the one-shot batch key (maintained index == batch twin)") {
    // The streaming key probes a micro-batch-maintained fp+LSH index
    // (evens arrive first, odds probe that state); the batch key
    // computes the same boundary verdicts in one shot. They share one
    // DuckDB oracle string; this pins the equality inside sbt test too.
    val streamed = StreamingQ.defs("stream_incremental_dedup")(spark, sfDir)
    val batch = graft.queries.LlmText.defs("llm_incremental_dedup")(spark, sfDir)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streaming verdicts diverged from the batch twin")
  }
}
