package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 operator specs: the persisted LSH bucket index (probe ==
  * in-plan twin, and the probe plan reads the staged table instead of
  * re-deriving L union branches), plus the round's other additions.
  */
class Round13Spec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  test("persisted LSH index probes identically to the in-plan key") {
    val inPlan = SparkEntry.queries("llm_ann_lsh")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val persisted = SparkEntry.queries("llm_ann_lsh_persisted")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(persisted === inPlan)
  }

  test("ANN-index chain compacts: 16 batches end as one run, probe unchanged") {
    val stats =
      scala.collection.mutable.ArrayBuffer.empty[graft.streaming.StreamingQ.IntakeBatchStat]
    val src = graft.streaming.StreamingQ.stagedParts(spark, sfDir,
      "embeddings", pmod(col("vec_id"), lit(16)), 16)
    val res = graft.streaming.StreamingQ.annIndexIntake(
      spark, sfDir, src, Some(stats))
    val dirs = res.liveDirs
    assert(stats.length == 16)
    // end-of-stream vacuum: the 5 merges retired 4 runs each, every
    // retired dir is unlinked, and the live run survives on disk
    assert(res.reclaimedDirs == 20 && res.reclaimedFiles > 0)
    assert(dirs.forall(d => new java.io.File(d, "_SUCCESS").exists()))
    val chainRoot = new java.io.File(dirs.head).getParentFile
    assert(chainRoot.listFiles().count(_.isDirectory) == dirs.length,
      s"retired run dirs survive under $chainRoot")
    // Bentley–Saxe at fanout 4: merges fire at batches 3/7/11/15 (l0→l1)
    // plus the l1→l2 cascade at 15 — five total, and 16 = 4² collapses
    // the chain to a single level-2 run
    assert(stats.map(_.merges).sum == 5,
      s"expected 5 tiered merges, got ${stats.map(_.merges).toSeq}")
    assert(dirs.length == 1,
      s"16 = 4^2 batches must compact to one live run, got ${dirs.length}")
    // live run count is bounded by 3·log₄(batches)+1 at every batch
    // boundary (chain state == live dirs; file count per run is ≤ cells)
    val k = graft.queries.LlmVector.ivfK(spark, sfDir)
    val maxLiveFiles = stats.map(_.runsBefore).max
    assert(maxLiveFiles <= 7 * k,
      s"live files $maxLiveFiles exceed the runs·cells bound (k=$k)")
    // compaction must not change probe results: chained == batch-built
    val got = graft.queries.LlmVector.probeIvfIndex(spark, sfDir, dirs)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val want = SparkEntry.queries("llm_ann_ivf")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got === want)
  }

  test("streamed LSH index derives identically to the batch key") {
    val got = SparkEntry.queries("stream_lsh_index")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = SparkEntry.queries("llm_ann_lsh")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === want)
  }

  test("(bits, L) grid is consistent: monotone dials, full-bits row == tune key") {
    val grid = SparkEntry.queries("llm_ann_lsh_tune_bits")(spark, sfDir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val bitLevels = grid.keys.map(_._1).toSeq.distinct.sorted
    val ls = Seq(1L, 2L, 4L, 8L)
    assert(grid.size == bitLevels.length * ls.length)
    // more tables at fixed bits can only ADD candidates/hits; fewer
    // bits at fixed L can only ADD candidates/hits (prefix property:
    // a full-bucket collision implies every prefix collision)
    for (b <- bitLevels; Seq(l1, l2) <- ls.sliding(2)) {
      assert(grid((b, l2))._1 >= grid((b, l1))._1 &&
        grid((b, l2))._2 >= grid((b, l1))._2, s"L dial not monotone at bits=$b")
    }
    for (Seq(b1, b2) <- bitLevels.sliding(2); l <- ls) {
      assert(grid((b1, l))._1 >= grid((b2, l))._1 &&
        grid((b1, l))._2 >= grid((b2, l))._2, s"bits dial not monotone at L=$l")
    }
    // the derived-bits slice of the grid must EQUAL the r12 tune key —
    // one device, two keys, no drift
    val tune = SparkEntry.queries("llm_ann_lsh_tune")(spark, sfDir)
      .collect().map(r => (r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val full = bitLevels.max
    for (l <- ls) assert(grid((full, l)) === tune(l),
      s"grid (bits=$full, L=$l) drifted from llm_ann_lsh_tune")
  }

  test("target-vocab trainer: chars never pruned, coverage exact, counts consistent") {
    import graft.Tables.t
    val rows = SparkEntry.queries("llm_unigram_lm_vocab")(spark, sfDir)
      .collect()
    val byName = rows.head.schema.fieldNames.zipWithIndex.toMap
    def l(r: org.apache.spark.sql.Row, c: String) =
      r.get(byName(c)).asInstanceOf[Number].longValue
    // single chars are the coverage floor: never dropped from the
    // vocabulary (a char may still end with zero FINAL usage when every
    // occurrence segments through multi-char pieces — `kept` is usage)
    rows.filter(r => l(r, "piece_len") == 1).foreach { r =>
      assert(l(r, "drop_round") == 0, s"char piece dropped: $r")
    }
    // the reported final_vocab IS the surviving set
    val finalVocab = l(rows.head, "final_vocab")
    assert(rows.count(r => l(r, "drop_round") == 0) == finalVocab)
    assert(rows.forall(r => l(r, "drop_round") >= 0 && l(r, "drop_round") <= 3))
    // the loop converged to (or under) the target within the unroll
    assert(finalVocab <= l(rows.head, "target_vocab"),
      s"final vocab $finalVocab above target after 3 rounds")
    // character-exact coverage after the FULL loop: every corpus word
    // still segments — Σ usage_final·piece_len == Σ freq·len(word)
    val corpusChars = t(spark, sfDir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .agg(sum(length(col("w")))).head.getLong(0)
    val segChars = rows.map(r => l(r, "usage_final") * l(r, "piece_len")).sum
    assert(corpusChars === segChars,
      s"post-loop segmentation covers $segChars of $corpusChars chars")
  }

  test("persisted LSH probe plan reads the staged index, not L union scans") {
    // the property pinned: bucket derivation = one embeddings scan per
    // hash table, so the in-plan key's candidate subtree carries 4
    // bucket-branch scans ON TOP OF the re-attach scans; the persisted
    // probe replaces all of them with the staged (vec_id, tbl, bucket)
    // table and keeps only the re-attach/query scans. Counting
    // embeddings FileScan locations anchors the assertion to that
    // subtree instead of whole-plan substrings (r13 ADVICE #4).
    def embScans(df: org.apache.spark.sql.DataFrame): Int =
      "embeddings\\.parquet".r
        .findAllIn(df.queryExecution.executedPlan.toString).size
    val persistedDf = SparkEntry.queries("llm_ann_lsh_persisted")(spark, sfDir)
    val inPlanDf = SparkEntry.queries("llm_ann_lsh")(spark, sfDir)
    val (p, i) = (embScans(persistedDf), embScans(inPlanDf))
    assert(p < i,
      s"persisted probe re-derives buckets: $p embeddings scans vs in-plan $i")
    assert(p <= 3,
      s"persisted probe scans embeddings $p times — more than re-attach needs")
    val plan = persistedDf.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan") || plan.contains("graft_lsh_index"),
      s"persisted probe does not read the staged index:\n$plan")
  }
}
