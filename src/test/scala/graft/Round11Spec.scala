package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 operator specs: the unigram-LM tokenizer trainer, the
  * span-granularity quality gate, the cross-modal consistency filter,
  * and the compacting streaming-dedup intake chain — each on a crafted
  * corpus whose expected result is computable by hand.
  */
class Round11Spec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Write a documents.parquet corpus into a fresh dir and return it. */
  private def docsDir(rows: Seq[(Long, String)]): String = {
    val dir = graft.etl.Fixtures.tempDir("graft_r11_docs_")
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'unit' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("unigram trainer: segmentation covers every word and usage is corpus-weighted") {
    spark.sparkContext.setLogLevel("WARN")
    // 'abcd' dominates → the 4-char piece is cheap; 'xy' appears once.
    // Expected: 'abcd' Viterbi-segments as the single piece ['abcd']
    // (one 4-char piece always beats any multi-piece split of the same
    // string under -ln frequencies ∝ substring counts here), so
    // usage('abcd') = its word frequency and the single chars a,b,c,d
    // get NO usage from it.
    val dir = docsDir(Seq(
      (1L, "abcd abcd abcd abcd xy"),
      (2L, "abcd abcd xy abcd")))
    // schema: piece, piece_len, seed_weight, cost_e6, usage_freq,
    //         em_cost_e6, pruned, usage2_freq, kept   (r12: EM + prune)
    val out = SparkEntry.queries("llm_unigram_lm_train")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(4), r.getBoolean(6), r.getLong(7),
          r.getBoolean(8)))).toMap
    // (piece -> (seed_weight, usage_freq, pruned, usage2_freq, kept))
    assert(out("abcd")._2 == 7, s"usage(abcd) = ${out("abcd")._2}, want 7")
    assert(out("xy")._2 == 2)
    assert(out("a")._2 == 0 && !out("a")._5,
      "single char 'a' should be unused (abcd won) and kept=false")
    // prune round, hand-computed: live vocab after round 1 =
    // {abcd: 7, xy: 2} + singles floored to 1 (tot = 15). Loss deltas:
    // abcd → singles (4·ln15 − ln(15/7))·7 ≈ 70.5e6;
    // xy → x+y (2·ln15 − ln(15/2))·2 ≈ 6.8e6. One piece is cut
    // (⌈2/5⌉ = 1) — the cheaper-to-lose 'xy' — and re-segments as x, y.
    assert(out("xy")._3 && !out("xy")._5, "xy must be the pruned piece")
    assert(!out("abcd")._3 && out("abcd")._5 && out("abcd")._4 == 7)
    assert(out("x")._4 == 2 && out("y")._4 == 2 && out("x")._5,
      "pruned xy must re-segment as single chars x, y")
    // zero-usage multi-char pieces are dropped by the round too
    assert(out("abc")._3 && !out("abc")._5)
    // single chars are NEVER pruned (the coverage floor)
    assert(SparkEntry.queries("llm_unigram_lm_train")(spark, dir)
      .where(col("piece_len") === 1 && col("pruned")).count() == 0)
    // every piece's cost is positive (-ln of a proper fraction)
    val costs = SparkEntry.queries("llm_unigram_lm_train")(spark, dir)
      .select("cost_e6").collect().map(_.getLong(0))
    assert(costs.forall(_ > 0))
  }

  test("span gate: keep/trim/drop verdicts and exact cut counts") {
    spark.sparkContext.setLogLevel("WARN")
    // doc 1 (keeper, smaller id) and doc 2 share the identical 7-token
    // run "s1..s7" → doc 2's span is cut (7 of its 15 tokens → trim).
    // doc 3 shares nothing.
    val shared = "s1 s2 s3 s4 s5 s6 s7"
    val dir = docsDir(Seq(
      (1L, s"$shared tail1 tail2"),
      (2L, s"$shared o1 o2 o3 o4 o5 o6 o7 o8"),
      (3L, "u1 u2 u3 u4 u5 u6")))
    val rows = SparkEntry.queries("llm_span_quality_gate")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(5),
          r.getString(6))).toMap
    // (doc -> (n_tokens, n_spans_cut, tokens_cut, cut_ppm, gate))
    assert(rows(1L)._5 == "keep" && rows(1L)._3 == 0,
      "keeper doc must lose nothing")
    assert(rows(2L)._3 == 7 && rows(2L)._5 == "trim",
      s"doc 2 should lose exactly the 7 shared tokens, got ${rows(2L)}")
    assert(rows(3L)._5 == "keep")
    // majority-cut doc drops: doc 5 is doc 4's full-text copy plus one
    // token, so nearly all of 5's tokens are someone else's span
    val dir2 = docsDir(Seq(
      (4L, "d1 d2 d3 d4 d5 d6 d7 d8"),
      (5L, "d1 d2 d3 d4 d5 d6 d7 d8 extra")))
    val g2 = SparkEntry.queries("llm_span_quality_gate")(spark, dir2)
      .collect().map(r => r.getLong(0) -> r.getString(6)).toMap
    assert(g2(4L) == "keep" && g2(5L) == "drop",
      s"full-copy doc must gate 'drop', got $g2")
  }

  test("span gate: overlapping cut spans count once (interval union)") {
    spark.sparkContext.setLogLevel("WARN")
    // doc 8 = T1..T8 holds two duplicated 5-grams at positions 1 and 3
    // → two islands with OVERLAPPING token extents [1,5] and [3,7].
    // doc 7 (the keeper, smaller id) holds the same two gram contents
    // at NON-overlapping extents. doc 8's true loss is the union
    // [1,7] = 7 tokens; a naive per-span sum would claim 10 of its 8.
    val dir = docsDir(Seq(
      (7L, "T1 T2 T3 T4 T5 z T3 T4 T5 T6 T7"),
      (8L, "T1 T2 T3 T4 T5 T6 T7 T8")))
    val rows = SparkEntry.queries("llm_span_quality_gate")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getString(6))).toMap
    // (doc -> (n_spans_cut, tokens_cut, gate))
    assert(rows(8L)._1 == 2, s"doc 8 should have 2 cut spans, got ${rows(8L)}")
    assert(rows(8L)._2 == 7,
      s"overlapping spans must union to 7 tokens, got ${rows(8L)._2}")
    assert(rows(8L)._3 == "drop") // 7*2 > 8
    assert(rows(7L)._3 == "keep")
  }

  test("cross-modal consistency: hamming equals the published signatures' bit diff") {
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("llm_multimodal_consistency")(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out.values.forall { case (h, a, _) => h >= 0 && h <= 64 && a == 64 - h })
    assert(out.values.forall { case (h, _, c) => c == (h <= 26) })
    // recompute hamming for a few docs from the two SOURCE keys' own
    // published forms (dHash bands; simhash bit string)
    val caps = SparkEntry.queries("llm_dedup_simhash")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val imgs = graft.queries.LlmVector.ppmBytes _
    for (id <- Seq(0L, 7L, 42L)) {
      val b = graft.queries.LlmVector.dhashBands(imgs(id))
      val ih = b.map(x => x.toBinaryString.reverse.padTo(16, '0').reverse
        .mkString).mkString
      val want = ih.zip(caps(id)).count { case (x, y) => x != y }
      assert(out(id)._1 == want, s"doc $id hamming ${out(id)._1} != $want")
    }
  }

  test("intake chain: many-batch run compacts, keeps verdicts complete and runs logarithmic") {
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = "/root/testdata/sf0.001"
    val parts = 9
    val srcDir = graft.streaming.StreamingQ.stagedParts(spark, sfDir,
      "documents", pmod(col("doc_id"), lit(parts)), parts)
    val stats = scala.collection.mutable.ArrayBuffer
      .empty[graft.streaming.StreamingQ.IntakeBatchStat]
    val vdirs = graft.streaming.StreamingQ
      .incrementalDedupIntake(spark, srcDir, Some(stats)).verdictDirs
    assert(stats.length == parts, s"expected $parts batches, got ${stats.length}")
    // every doc verdicted exactly once
    val verdicts = spark.read.parquet(vdirs: _*)
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(verdicts.count() == nDocs)
    assert(verdicts.groupBy("doc_id").count().where(col("count") > 1).count() == 0)
    // fanout-4 tiering: 9 level-0 appends → merges at batches 4 and 8
    // (zero-based ids 3 and 7), live runs bounded well below O(batches)
    assert(stats.map(_.merges).sum == 2,
      s"expected 2 compaction merges over $parts batches, got ${stats.map(_.merges).sum}")
    assert(stats.map(_.runsBefore).max <= 6,
      s"live run count should stay logarithmic, saw ${stats.map(_.runsBefore).max}")
    // a kept doc must never name a dup_of; dup docs must point to a
    // SMALLER id that arrived in an EARLIER batch (evens/odds split by
    // doc_id % parts → batch of id is id % parts)
    val bad = verdicts.where(col("verdict") === "kept" && col("dup_of").isNotNull)
    assert(bad.count() == 0)
    val wrongOrder = verdicts.where(col("verdict") =!= "kept" &&
      pmod(col("dup_of"), lit(parts)) >= pmod(col("doc_id"), lit(parts)))
    assert(wrongOrder.count() == 0,
      "a duplicate's keeper must come from a STRICTLY earlier micro-batch " +
        "(the probe sees only the pre-batch index)")
  }
}
