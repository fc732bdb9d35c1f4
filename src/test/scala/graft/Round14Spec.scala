package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 operator specs: the candidate-efficient wide-L LSH grid
  * (shared device with the r13 bits grid — overlap rows must be
  * identical) and the in-stream read-grace-TTL reclamation schedule
  * of the tiered run chain.
  */
class Round14Spec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  test("wide-L grid: monotone dials, L=8 slice == bits-grid rows") {
    def gridOf(key: String) =
      SparkEntry.queries(key)(spark, sfDir)
        .collect().map(r => ((r.getLong(0), r.getLong(1)),
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val wide = gridOf("llm_ann_lsh_tune_wide")
    val bitLevels = wide.keys.map(_._1).toSeq.distinct.sorted
    val ls = Seq(8L, 16L, 32L, 64L)
    assert(wide.size == bitLevels.length * ls.length)
    // more tables at fixed bits can only ADD candidates/hits; fewer
    // bits at fixed L can only ADD candidates/hits (prefix property)
    for (b <- bitLevels; Seq(l1, l2) <- ls.sliding(2)) {
      assert(wide((b, l2))._1 >= wide((b, l1))._1 &&
        wide((b, l2))._2 >= wide((b, l1))._2, s"L dial not monotone at bits=$b")
    }
    for (Seq(b1, b2) <- bitLevels.sliding(2); l <- ls) {
      assert(wide((b1, l))._1 >= wide((b2, l))._1 &&
        wide((b1, l))._2 >= wide((b2, l))._2, s"bits dial not monotone at L=$l")
    }
    // the wide grid's bits levels are a subset of the r13 grid's
    // (deltas {0,2} ⊂ {0,2,4,6} under the same floor rule), and the
    // overlapping L=8 cells must agree EXACTLY — one min-table/prefix
    // device, two keys, no drift
    val bitsGrid = gridOf("llm_ann_lsh_tune_bits")
    assert(bitLevels.toSet.subsetOf(bitsGrid.keys.map(_._1).toSet))
    for (b <- bitLevels) assert(wide((b, 8L)) === bitsGrid((b, 8L)),
      s"wide grid (bits=$b, L=8) drifted from llm_ann_lsh_tune_bits")
  }

  test("grace-TTL reclamation: retire at N, unlink at N+2, bounded high-water") {
    val stats = scala.collection.mutable.ArrayBuffer
      .empty[graft.streaming.StreamingQ.IntakeBatchStat]
    val src = graft.streaming.StreamingQ.stagedParts(spark, sfDir,
      "embeddings", pmod(col("vec_id"), lit(16)), 16)
    val res = graft.streaming.StreamingQ.annIndexIntake(
      spark, sfDir, src, Some(stats))
    // Bentley–Saxe at fanout 4 over 16 batches: merges at batches
    // 3/7/11 retire 4 level-0 runs each; batch 15 cascades l0→l1 and
    // l1→l2, retiring 8. With grace 2, the in-stream vacuum fires at
    // batches 5/9/13 (4 dirs each = 12); batch 15's 8 retirees are
    // past no grace when the stream ends, so the close sweep takes
    // them — 20 total, matching the r13 end-of-stream-only count.
    val reclaimBatches = stats.filter(_.reclaimedDirs > 0).map(_.batchId)
    assert(reclaimBatches.toSeq == Seq(5L, 9L, 13L),
      s"TTL vacuum fired at $reclaimBatches, expected 5/9/13")
    assert(stats.filter(_.reclaimedDirs > 0).forall(_.reclaimedDirs == 4))
    assert(res.reclaimedInStreamDirs == 12 && res.reclaimedDirs == 20)
    // dead (retired-awaiting-TTL) files exist only inside grace
    // windows, and the disk high-water = live + dead stays bounded by
    // the chain bound plus one grace window of retired level runs
    assert(stats.exists(_.deadFilesBefore > 0),
      "TTL never held a retired run across a batch boundary")
    val k = graft.queries.LlmVector.ivfK(spark, sfDir)
    val maxDisk = stats.map(s => s.runsBefore + s.deadFilesBefore).max
    assert(maxDisk <= 11 * k,
      s"disk high-water $maxDisk exceeds live-chain + grace-window bound (k=$k)")
    // reclamation must not touch the live chain
    assert(res.liveDirs.forall(d => new java.io.File(d, "_SUCCESS").exists()))
  }

  test("stream_semdedup verdicts == the batch near-dup pair set") {
    // the streamed verdict rule (dropped iff an already-indexed
    // bucket-mate scores cosine >= 0.4) must agree with the batch
    // candidate key llm_embed_neardup_lsh on exactly the even->odd
    // pairs: same planes, same buckets, same threshold — one
    // semantics, two execution shapes
    val pairs = SparkEntry.queries("llm_embed_neardup_lsh")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expectDrop = pairs.flatMap { case (a, b) =>
      Seq(a -> b, b -> a).collectFirst {
        case (even, odd) if even % 2 == 0 && odd % 2 == 1 => (odd, even)
      }
    }.groupBy(_._1).map { case (odd, es) => odd -> es.map(_._2).min }
    val verdicts = SparkEntry.queries("stream_semdedup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    // batch 0 (even ids) sees an empty chain: all kept
    verdicts.filter(_._1 % 2 == 0).foreach { v =>
      assert(v._2 && v._3 == -1L, s"even id not kept: $v")
    }
    val dropped = verdicts.filter(v => !v._2).map(v => v._1 -> v._3).toMap
    assert(dropped === expectDrop,
      "streamed drop set drifted from the batch near-dup pair set")
  }
}
