package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-17 (second optimization round) specs.
  *
  *  1. Every unpartitioned (global) Window in the declared plans runs
  *     on a value-domain-bounded frame, not a data-sized one — the
  *     invariant behind waving through WindowExec's "No Partition
  *     Defined" warnings (VERDICT r16 #3/#4), enforced on measured
  *     row counts instead of asserted in prose.
  *  2. Theil–Sen's closed-form pair count stays synchronized with the
  *     actual ranked slope-row count (ADVICE r16 #3): a future filter
  *     on the slopes frame must fail here loudly, not skew the median.
  *  3. IntersectSize's null-INPUT behavior (null, not legacy −1) is
  *     pinned explicitly (ADVICE r16 #2).
  *  4. The r17 PPJoin positional filter is complete: the final
  *     thresholded pair set equals the length-filter-only variant's.
  */
class Round17Spec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"
  val sfDir01 = "/root/testdata/sf0.01"

  /** Rows flowing into each unpartitioned (global) Window of `df`'s
    * analyzed plan, counted by running the window's child. */
  private def globalWindowInputs(df: DataFrame): Seq[Long] =
    GraftSqlBridge.analyzedPlan(df).collect {
      case w: LWindow if w.partitionSpec.isEmpty =>
        GraftSqlBridge.ofRows(spark, w.child).count()
    }

  test("every global-window input is value-domain-bounded at sf0.01") {
    spark.sparkContext.setLogLevel("WARN")
    // key -> (expected #global windows in the final analyzed plan,
    //         max input rows at sf0.01). Bounds are measured actuals
    // (globalWindowInputs) with ~2x slack, all far below the data-sized
    // frames (events = 10,000 rows at sf0.01; lineitem = 60,000): a
    // future edit that puts a global window on a data-sized frame
    // fails this pin. The value-histogram keys (ks_test/mann_whitney)
    // saturate with the value domain, not the data: measured 3,305 at
    // sf0.01 vs 13,241 at sf0.1 while events grew 10x.
    // llm_mmr_diversify and llm_triangle_count also carry global
    // windows in source, but behind localCheckpoint lineage cuts, so
    // their final plans cannot be audited this way — their windows run
    // on <=10-row greedy cuts and the vocab-rank frame respectively
    // (audited r16, unchanged this round).
    val expected: Map[String, (Int, Long)] = Map(
      "agg_bootstrap_ci" -> (1, 100L),     // 40 bootstrap replicas
      "agg_ks_test" -> (2, 8000L),         // value histogram (3,305)
      "agg_mann_whitney" -> (1, 8000L),    // value histogram (3,305)
      "join_dpp" -> (1, 50L),              // years (7)
      "llm_dedup_auc" -> (1, 100L),        // agreement histogram (4)
      "llm_domain_mix" -> (1, 100L),       // domains (20)
      "llm_retrieval_rrf" -> (3, 100L),    // top-k cuts (<=20)
      "llm_vocab_build" -> (2, 500L),      // token vocabulary (31)
      "llm_zipf_slope" -> (1, 500L),       // token vocabulary (31)
      "sort_skyline" -> (2, 2000L),        // grid buckets (256)
      "win_kaplan_meier" -> (2, 200L),     // duration days (3)
      "win_lttb_downsample" -> (4, 4000L), // span hours (720)
      "win_rolling_corr" -> (1, 4000L),    // span hours (720)
      "stream_topk" -> (1, 500L))          // post-sink user cut (64)
    val bad = expected.toSeq.sortBy(_._1).flatMap { case (key, (n, bound)) =>
      val df = SparkEntry.queries(key)(spark, sfDir01)
      val counts = globalWindowInputs(df)
      val missing =
        if (counts.size != n)
          Seq(s"$key: expected $n global windows, found ${counts.size}")
        else Seq.empty
      val oversized = counts.filter(_ > bound)
        .map(c => s"$key: global-window input $c rows > bound $bound")
      missing ++ oversized
    }
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("theil-sen closed-form pair count == actual slope-row count") {
    import graft.Tables.t
    // Rebuild the slopes frame exactly as winTheilSen does and check
    // the r16 closed form cnt = n_h*(n_h-1)/2 against the REAL row
    // count per type — the identity the lower-median index rk rides.
    val hourly = t(spark, sfDir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("x"))
      .selectExpr("event_type",
        "CAST(unix_timestamp(bucket) DIV 3600 AS BIGINT) AS h", "x")
    val a = hourly.select(col("event_type"), col("h").as("ha"))
    val b = hourly.select(col("event_type"), col("h").as("hb"))
    val actual = a.join(b, Seq("event_type"))
      .where(col("ha") < col("hb"))
      .groupBy("event_type").agg(count(lit(1)).as("n_slopes"))
    val closed = hourly.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"))
      .withColumn("cnt", expr("n_hours * (n_hours - 1) DIV 2"))
    val drift = actual.join(closed, Seq("event_type"))
      .where(col("n_slopes") =!= col("cnt")).collect()
    assert(drift.isEmpty, s"pair-count drift: ${drift.mkString("; ")}")
    // and the reported n_pairs of the key itself matches the frame
    val key = SparkEntry.queries("win_theil_sen")(spark, sfDir)
      .select(col("event_type"), col("n_pairs")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val real = actual.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(key == real, s"n_pairs drift: key=$key actual=$real")
  }

  test("IntersectSize: NULL input array -> NULL (never legacy -1)") {
    import spark.implicits._
    def run(): Array[org.apache.spark.sql.Row] =
      Seq((Some(Seq("a", "b")), Option.empty[Seq[String]]),
        (Option.empty[Seq[String]], Some(Seq("a"))),
        (Option.empty[Seq[String]], Option.empty[Seq[String]]),
        (Some(Seq("a")), Some(Seq("a", "b"))))
        .toDF("a", "b")
        .select(
          graft.functions.TextOps.intersectSize(col("a"), col("b"))
            .as("fused"),
          expr("size(array_intersect(a, b))").as("reference"))
        .collect()
    // Under this engine's defaults (Spark 4, ANSI size semantics) both
    // sides are NULL on a null input — no divergence in any declared
    // plan. Under legacy sizeOfNull the reference flips to -1 while
    // IntersectSize STAYS null-in/null-out — the intended, documented
    // behavior (ADVICE r16: -1 would flow into ratio arithmetic as a
    // real value). Pin both modes.
    val ansi = run()
    assert(ansi.take(3).forall(r => r.isNullAt(0) && r.isNullAt(1)))
    assert(ansi(3).getInt(0) == 1 && ansi(3).getInt(1) == 1)
    // legacy sizeOfNull only takes effect with ANSI off
    val keys = Seq("spark.sql.legacy.sizeOfNull" -> "true",
      "spark.sql.ansi.enabled" -> "false")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val legacy = run()
      assert(legacy.take(3).forall(r => r.isNullAt(0) && r.getInt(1) == -1),
        "fused must stay NULL while legacy size() returns -1")
      assert(legacy(3).getInt(0) == 1 && legacy(3).getInt(1) == 1)
    } finally prev.foreach { case (k, vOpt) =>
      vOpt.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("PPJoin positional filter is complete (same final pair set)") {
    import graft.Tables.t
    // Rebuild the PPJoin from documents at sf0.001 twice — candidates
    // with the length filter only vs with the positional ubound — and
    // assert the exact-verified, thresholded answers are identical.
    val docs = t(spark, sfDir, "documents")
    val shs = docs
      .selectExpr("doc_id", "text", "split(text, ' ') AS tk")
      .selectExpr("doc_id",
        """CASE WHEN size(tk) >= 3 THEN
             array_distinct(transform(sequence(1, size(tk) - 2),
               i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1),
                    element_at(tk, i + 2))))
           ELSE array(text) END AS sh""")
    val tok = shs.selectExpr("doc_id", "explode(sh) AS s")
    val dfT = tok.groupBy("s").agg(count(lit(1)).as("df"))
    val sorted = tok.join(dfT, Seq("s")).groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("df"), col("s"))))
        .as("ordered"))
      .selectExpr("doc_id", "transform(ordered, x -> x.s) AS els",
        "size(ordered) AS sz")
      .selectExpr("doc_id", "els", "sz",
        "slice(els, 1, sz - CAST(ceil(0.5 * sz) AS INT) + 1) AS prefix")
      .localCheckpoint(true)
    val pre = sorted.select(col("doc_id"), col("sz"),
      posexplode(col("prefix")).as(Seq("p", "s")))
    val joined = pre.as("a")
      .join(pre.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .where(lit(2) * least(col("a.sz"), col("b.sz")) >=
        greatest(col("a.sz"), col("b.sz")))
    def answer(cand0: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      cand0.select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
        .join(sorted.select(col("doc_id").as("doc_a"), col("els").as("t_a"),
          col("sz").as("sz_a")), Seq("doc_a"))
        .join(sorted.select(col("doc_id").as("doc_b"), col("els").as("t_b"),
          col("sz").as("sz_b")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"),
          graft.functions.TextOps.intersectSize(col("t_a"), col("t_b"))
            .as("inter"))
        .where(expr("3 * inter >= sz_a + sz_b"))
        .selectExpr("doc_a", "doc_b",
          "inter / (sz_a + sz_b - inter) AS jaccard")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    val lenOnly = answer(joined)
    val positional = answer(joined
      .where(lit(3) * (lit(1) + least(col("a.sz") - col("a.p") - lit(1),
        col("b.sz") - col("b.p") - lit(1))) >= col("a.sz") + col("b.sz")))
    assert(lenOnly.nonEmpty, "vacuous pin: no verified pairs at sf0.001")
    assert(positional == lenOnly,
      s"positional filter dropped true pairs: ${(lenOnly -- positional).take(3)}")
    // and it must actually prune candidates (not a no-op predicate)
    val nLen = joined.select(col("a.doc_id"), col("b.doc_id"))
      .distinct().count()
    val nPos = joined
      .where(lit(3) * (lit(1) + least(col("a.sz") - col("a.p") - lit(1),
        col("b.sz") - col("b.p") - lit(1))) >= col("a.sz") + col("b.sz"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    assert(nPos < nLen, s"positional filter pruned nothing ($nPos vs $nLen)")
  }
}
