package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 operator specs: the rotated-hyperplane LSH (decorrelation
  * properties of the HD-composition planes), the multi-table
  * OR-amplification tune curve, the unigram trainer's post-prune
  * coverage identity, and the many-batch ANN-index intake loop.
  */
class Round12Spec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  test("rotated LSH planes: exactly orthogonal integer rows (M·Mᵀ = 64²·I)") {
    // M_t = H·D2·H·D1 must be 64·(orthogonal matrix): row self-dot
    // 64² = 4096, cross-dot 0 — THE property that decorrelates sign
    // bits within a table (the r11 ±1 planes had bit-pair correlation
    // 0.225 measured at ×64; orthogonal rows measure 0.05).
    for (t <- 0 until 4) {
      val rows = (0 until 16).map(p => graft.queries.LlmVector.rotPlane(t, p))
      for (p <- rows.indices; q <- rows.indices) {
        val dot = rows(p).zip(rows(q)).map { case (a, b) => a * b }.sum
        if (p == q) assert(dot == 4096.0, s"t=$t p=$p self-dot $dot")
        else assert(dot == 0.0, s"t=$t ($p,$q) cross-dot $dot")
      }
      // entries are exact even integers in [-64, 64] (integer driver
      // arithmetic — the oracle recomputes them in exact integer SQL)
      assert(rows.flatten.forall(w =>
        w == math.rint(w) && math.abs(w) <= 64 && w.toLong % 2 == 0))
    }
    // determinism: same (t, p) → same row, different t → different rows
    assert(graft.queries.LlmVector.rotPlane(0, 3) ===
      graft.queries.LlmVector.rotPlane(0, 3))
    assert(graft.queries.LlmVector.rotPlane(0, 3) !==
      graft.queries.LlmVector.rotPlane(1, 3))
  }

  test("LSH tune curve: candidates and recall monotone in table count") {
    val rows = SparkEntry.queries("llm_ann_lsh_tune")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L))
    // OR-amplification: adding tables can only ADD candidates/hits
    assert(rows.sliding(2).forall { case Array(a, b) =>
      b._2 >= a._2 && b._3 >= a._3 })
    // recall_bp is exactly hits·10⁴ / truth, hits bounded by truth
    rows.foreach { case (_, _, hits, truth, bp) =>
      assert(truth > 0 && hits <= truth && bp == hits * 10000L / truth)
    }
  }

  test("unigram post-prune vocabulary still covers every word exactly") {
    import graft.Tables.t
    // Σ freq·len(word) over the corpus == Σ usage2·piece_len over the
    // post-prune segmentation — character-exact coverage, so no word
    // lost a segmentation to the prune round (the coverage floor).
    val corpusChars = t(spark, sfDir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .agg(sum(length(col("w")))).head.getLong(0)
    val segChars = SparkEntry.queries("llm_unigram_lm_train")(spark, sfDir)
      .agg(sum(col("usage2_freq") * col("piece_len"))).head.getLong(0)
    assert(corpusChars === segChars,
      s"post-prune segmentation covers $segChars of $corpusChars chars")
  }

  test("ANN-index intake: 4-batch maintained index probes identically to the 2-batch key") {
    val stats =
      scala.collection.mutable.ArrayBuffer.empty[graft.streaming.StreamingQ.IntakeBatchStat]
    val src = graft.streaming.StreamingQ.stagedParts(spark, sfDir,
      "embeddings", pmod(col("vec_id"), lit(4)), 4)
    val idx = graft.streaming.StreamingQ.annIndexIntake(
      spark, sfDir, src, Some(stats)).liveDirs
    // per-batch telemetry recorded, arrivals partition the corpus
    assert(stats.length == 4)
    val n = graft.Tables.t(spark, sfDir, "embeddings").count()
    assert(stats.map(_.arrivals).sum == n)
    // index grows monotonically, batch N sees N batches' files
    assert(stats.map(_.indexRowsBefore).toSeq == stats.map(_.indexRowsBefore).toSeq.sorted)
    // the probe over the 4-batch-maintained index == the stream_ann_index
    // key (2 batches) == llm_ann_ivf (batch-built): append order is
    // irrelevant to cell contents
    val got = graft.queries.LlmVector.probeIvfIndex(spark, sfDir, idx)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val want = SparkEntry.queries("llm_ann_ivf")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got === want)
  }
}
