package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 operator specs: the crossing-arm XL LSH grid (shared
  * device with the wide grid — overlap rows must be identical) and
  * restart recovery of the tiered run chain (crash mid-stream,
  * recover the chain from committed dirs, resume; final state and
  * probe must equal the uninterrupted run, TTL schedule included).
  */
class Round15Spec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  test("xl grid: monotone L dial, L=64 slice == wide-grid rows") {
    def gridOf(key: String) =
      SparkEntry.queries(key)(spark, sfDir)
        .collect().map(r => ((r.getLong(0), r.getLong(1)),
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val xl = gridOf("llm_ann_lsh_tune_xl")
    val bitLevels = xl.keys.map(_._1).toSeq.distinct.sorted
    val ls = Seq(64L, 96L, 128L)
    assert(xl.size == bitLevels.length * ls.length)
    for (b <- bitLevels; Seq(l1, l2) <- ls.sliding(2)) {
      assert(xl((b, l2))._1 >= xl((b, l1))._1 &&
        xl((b, l2))._2 >= xl((b, l1))._2, s"L dial not monotone at bits=$b")
    }
    // the crossing arm's L=64 column must equal the wide grid's L=64
    // column EXACTLY — one min-table/prefix device, three keys, no
    // drift (the wide grid's own L=8 slice is pinned to the bits grid
    // by Round14Spec, so the three curves are mutually consistent)
    val wide = gridOf("llm_ann_lsh_tune_wide")
    assert(bitLevels.toSet == wide.keys.map(_._1).toSet)
    for (b <- bitLevels) assert(xl((b, 64L)) === wide((b, 64L)),
      s"xl grid (bits=$b, L=64) drifted from llm_ann_lsh_tune_wide")
  }

  test("tiered chain restart: crash, recover from disk, resume == uninterrupted") {
    import graft.streaming.StreamingQ
    val nBits = graft.queries.LlmVector.lshBits(spark, sfDir)
    val src = StreamingQ.stagedParts(spark, sfDir, "embeddings",
      pmod(col("vec_id"), lit(16)), 16)
    def tmp(p: String) = graft.etl.Fixtures.tempDir(p)
    type Stats =
      scala.collection.mutable.ArrayBuffer[StreamingQ.IntakeBatchStat]
    def intake(root: String, ckpt: String, stats: Stats,
               crashAt: Option[Long], afterRun: Boolean) =
      StreamingQ.tieredIntake(spark, Tables.schemas("embeddings"), src,
        "graft_r15_unused_", Some("tbl"),
        b => graft.queries.LlmVector.lshBucketRows(b, nBits),
        stats = Some(stats), resumeRoot = Some(root),
        checkpointDir = Some(ckpt), crashAtBatch = crashAt,
        crashAfterRun = afterRun)
    def basenames(dirs: Seq[String]) =
      dirs.map(d => new java.io.File(d).getName)
    // the uninterrupted reference (resumeRoot on an empty dir = fresh)
    val refStats = new Stats
    val ref = intake(tmp("graft_r15_ref_"), tmp("graft_r15_refck_"),
      refStats, None, afterRun = false)
    val refProbe = graft.queries.LlmVector
      .annLshFromIndex(spark, sfDir, ref.liveDirs).collect().toSeq
    val refFires =
      refStats.filter(_.reclaimedDirs > 0).map(_.batchId).sorted.toSeq
    // two crash points: (a) at entry of batch 7 — the stream dies
    // after batch 6 fully committed; (b) after the run write of batch
    // 11, BEFORE its merge/TTL — the resume must replay batch 11
    // against its own committed run (the foreachBatch-replay exercise:
    // re-entering the batch function after partial effects), complete
    // the interrupted merge, and keep the vacuum schedule
    for ((crashBatch, afterRun) <- Seq((7L, false), (11L, true))) {
      val root = tmp("graft_r15_crash_")
      val ckpt = tmp("graft_r15_crashck_")
      val s1 = new Stats
      val ex = intercept[Exception] {
        intake(root, ckpt, s1, Some(crashBatch), afterRun)
      }
      assert(ex.getMessage != null && ex.getMessage.contains("injected crash"),
        s"expected the injected crash, got: $ex")
      val s2 = new Stats
      val res = intake(root, ckpt, s2, None, afterRun = false)
      assert(basenames(res.liveDirs) == basenames(ref.liveDirs),
        s"recovered chain drifted at crash=$crashBatch/afterRun=$afterRun")
      val probe = graft.queries.LlmVector
        .annLshFromIndex(spark, sfDir, res.liveDirs).collect().toSeq
      assert(probe == refProbe,
        s"probe result drifted at crash=$crashBatch/afterRun=$afterRun")
      // TTL accounting across the two segments == the uninterrupted
      // run's totals, firing on the same batch schedule (recovered
      // retirees keep their ORIGINAL retire batch ids)
      val seg1 = s1.map(_.reclaimedDirs).sum
      assert(seg1 + res.reclaimedDirs == ref.reclaimedDirs,
        s"reclaim totals drifted at crash=$crashBatch: $seg1 + ${res.reclaimedDirs} != ${ref.reclaimedDirs}")
      val fires = (s1 ++ s2).filter(_.reclaimedDirs > 0)
        .map(_.batchId).sorted.toSeq
      assert(fires == refFires,
        s"TTL fired at $fires, uninterrupted fired at $refFires")
    }
  }

  test("planted-margin recall tracks the analytic LSH curve in every cell") {
    // llm_ann_lsh_planted constructs fixed-cosine partners in-plan;
    // collision recall per (margin, bits, L) must sit within binomial
    // tolerance of 1-(1-p(c)^bits)^L, p(c) = 1-acos(c)/pi — the
    // sign-LSH collision law. n = 128 pairs per cell => sigma <= 4.4pp;
    // 15pp absolute is ~3.4 sigma plus the float32 margin slack.
    val rows = SparkEntry.queries("llm_ann_lsh_planted")(spark, sfDir)
      .collect()
    assert(rows.length == graft.queries.LlmVector.PlantedMargins.length * 2 * 4)
    rows.foreach { r =>
      val (margin, bits, l) = (r.getDouble(0), r.getLong(1), r.getLong(2))
      val (nPairs, bp) = (r.getLong(3), r.getLong(5))
      assert(nPairs == 128L, s"cell ($margin,$bits,$l) has $nPairs pairs")
      val p = 1.0 - math.acos(margin) / math.Pi
      val expBp = (1.0 - math.pow(1.0 - math.pow(p, bits.toDouble),
        l.toDouble)) * 10000
      assert(math.abs(bp - expBp) <= 1500,
        s"cell ($margin,$bits,$l): measured $bp bp vs analytic ${expBp.round} bp")
    }
    // higher margin can only help at the same (bits, L) — allow
    // binomial slack where the analytic gap is small
    val byCell = rows.map(r => ((r.getDouble(0), r.getLong(1), r.getLong(2)),
      r.getLong(5))).toMap
    for (Seq(c1, c2) <- graft.queries.LlmVector.PlantedMargins.sorted.sliding(2);
         b <- byCell.keys.map(_._2).toSeq.distinct;
         l <- byCell.keys.map(_._3).toSeq.distinct) {
      assert(byCell((c2, b, l)) >= byCell((c1, b, l)) - 300,
        s"margin dial not monotone at (bits=$b, L=$l)")
    }
  }

  test("dedup chain restart: crash, recover, resumed verdicts == uninterrupted") {
    import graft.streaming.StreamingQ
    val src = StreamingQ.stagedParts(spark, sfDir, "documents",
      pmod(col("doc_id"), lit(16)), 16)
    def tmp(p: String) = graft.etl.Fixtures.tempDir(p)
    type Stats =
      scala.collection.mutable.ArrayBuffer[StreamingQ.IntakeBatchStat]
    def intake(root: String, ckpt: String, stats: Stats,
               crashAt: Option[Long], afterRun: Boolean) =
      StreamingQ.incrementalDedupIntake(spark, src, Some(stats),
        resumeRoot = Some(root), checkpointDir = Some(ckpt),
        crashAtBatch = crashAt, crashAfterRun = afterRun)
    def verdicts(dirs: Seq[String]) =
      spark.read.parquet(dirs: _*).orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    def basenames(dirs: Seq[String]) =
      dirs.map(d => new java.io.File(d).getName)
    val refStats = new Stats
    val ref = intake(tmp("graft_r15_dref_"), tmp("graft_r15_drefck_"),
      refStats, None, afterRun = false)
    val refV = verdicts(ref.verdictDirs)
    val refFires =
      refStats.filter(_.reclaimedDirs > 0).map(_.batchId).sorted.toSeq
    // two crash points: (a) after the run write of batch 7 — resume
    // must replay batch 7 against its committed run+verdict (both
    // _SUCCESS-guarded) and re-list the committed verdict dirs; (b) at
    // entry of batch 12 — batch 11's merge has retired four runs that
    // are still inside their grace window, so recovery must rebuild
    // them with their original retire batch id. Both keep the vacuum
    // schedule.
    for ((crashBatch, afterRun) <- Seq((7L, true), (12L, false))) {
      val root = tmp("graft_r15_dcrash_")
      val ckpt = tmp("graft_r15_dcrashck_")
      val s1 = new Stats
      val ex = intercept[Exception] {
        intake(root, ckpt, s1, Some(crashBatch), afterRun)
      }
      assert(ex.getMessage != null && ex.getMessage.contains("injected crash"),
        s"expected the injected crash, got: $ex")
      val s2 = new Stats
      val res = intake(root, ckpt, s2, None, afterRun = false)
      assert(basenames(res.verdictDirs) == basenames(ref.verdictDirs),
        s"verdict dirs drifted at crash=$crashBatch/afterRun=$afterRun")
      assert(basenames(res.liveDirs) == basenames(ref.liveDirs),
        s"recovered chain drifted at crash=$crashBatch/afterRun=$afterRun")
      assert(verdicts(res.verdictDirs) == refV,
        s"resumed dedup verdicts drifted at crash=$crashBatch/afterRun=$afterRun")
      val fires = (s1 ++ s2).filter(_.reclaimedDirs > 0)
        .map(_.batchId).sorted.toSeq
      assert(fires == refFires,
        s"dedup TTL fired at $fires, uninterrupted fired at $refFires")
    }
  }
}
