package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftExtensions

/** The SQL-text face of the custom expressions: a session built with
  * GraftExtensions can call them from spark.sql directly. */
class ExtensionsSpec extends AnyFunSuite {

  test("graft_dot and graft_minhash are callable from SQL via extensions") {
    // save the shared sessions other suites may have created; restore
    // them afterwards so suite order doesn't change their session state
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val dot = spark.sql(
        "SELECT graft_dot(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT))," +
          " array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))) AS d")
        .head().getDouble(0)
      assert(dot === 11.0)
      // SQL-registered minhash equals the declarative formulation
      val row = spark.sql(
        """SELECT graft_minhash(array('a b c', 'b c d'), 3) AS m,
                  transform(sequence(0, 2), s -> array_min(transform(
                    array('a b c', 'b c d'),
                    x -> md5(concat(x, '#', cast(s as string)))))) AS ref""")
        .head()
      assert(row.getSeq[String](0) === row.getSeq[String](1))
      // SQL-registered simhash-bands equals the Column-API path, and a
      // NULL element is skipped (absent feature), not an NPE
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      val viaSql = spark.sql(
        "SELECT graft_simhash_bands(array('alpha', NULL, 'beta')) AS b")
        .head().getSeq[Long](0)
      val viaCol = Seq(Seq("alpha", "beta")).toDF("f")
        .select(graft.functions.TextOps.simhashBands(col("f")).as("b"))
        .head().getSeq[Long](0)
      assert(viaSql === viaCol)
      // SQL-registered generator fans out rows
      val ng = spark.sql("SELECT graft_ngrams('a b c', 2) AS ngram")
        .collect().map(_.getString(0)).toSeq
      assert(ng === Seq("a b", "b c"))
      // SQL-registered unicode normalization: decomposed e+U+0301
      // composes to U+00E9 under NFC (5 code points -> 4), the result
      // is idempotent, and NFKC additionally folds compatibility
      // characters (U+FB01 'fi' ligature -> 'fi') where NFC must not.
      val norm = spark.sql(
        "SELECT graft_normalize('cafe\u0301', 'NFC') AS nfc, " +
          "length(graft_normalize('cafe\u0301', 'NFC')) AS n, " +
          "graft_normalize(graft_normalize('cafe\u0301', 'NFC')," +
          " 'NFC') AS idem, " +
          "graft_normalize('\ufb01n', 'NFKC') AS nfkc, " +
          "graft_normalize('\ufb01n', 'NFC') AS nfc_keeps")
        .head()
      assert(norm.getString(0) === "caf\u00e9")
      assert(norm.getInt(1) === 4)
      assert(norm.getString(2) === norm.getString(0))
      assert(norm.getString(3) === "fin")
      assert(norm.getString(4) === "\ufb01n")
      // the expression participates in REAL codegen (not fallback): a
      // projection over a parquet scan must plan inside a
      // WholeStageCodegen span (a local Seq would collapse to
      // LocalTableScan and prove nothing) and still execute correctly
      import org.apache.spark.sql.functions.{concat, lit}
      val cg = graft.Tables.t(spark, "/root/testdata/sf0.001", "documents")
        .select(graft.functions.TextOps.unicodeNorm(
          concat(col("text"), lit("nai\u0308ve"))).as("n"))
      // the `*(n)` prefix on Project is executedPlan.toString's
      // whole-stage-codegen marker (a fallback expression would plan
      // an unstarred Project)
      val cgPlan = cg.queryExecution.executedPlan.toString
      assert(cgPlan.contains("*(1) Project"), cgPlan)
      assert(cg.head().getString(0).endsWith("na\u00efve"))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("TopKPerGroup plans partial -> exchange -> final and matches the window twin") {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val sfDir = "/root/testdata/sf0.001"
    val custom = SparkEntry.queries("win_topk_custom")(spark, sfDir)
    val window = SparkEntry.queries("win_topk_per_group")(spark, sfDir)
      .select("o_orderstatus", "o_orderkey", "o_totalprice")
    // value equivalence with the declarative window formulation
    assert(custom.exceptAll(window).isEmpty && window.exceptAll(custom).isEmpty)
    assert(custom.count() === window.count())
    // physical shape: both phases present, exactly one exchange between
    // them, and NO sort below the final phase (the whole point)
    val plan = custom.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroupPartial"), plan)
    assert(plan.contains("TopKPerGroupFinal"), plan)
    val between = plan.substring(
      plan.indexOf("TopKPerGroupFinal"), plan.indexOf("TopKPerGroupPartial"))
    assert(between.contains("Exchange"), s"no exchange between phases:\n$plan")
    assert(!between.contains("Sort"), s"unexpected sort between phases:\n$plan")
  }

  test("TopKPerGroup resolves columns case-insensitively and rejects ambiguity") {
    import org.apache.spark.sql.functions._
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val src = graft.Tables.t(spark, "/root/testdata/sf0.001", "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
    // case-insensitive resolution, like every built-in operator
    val upper = graft.plans.GraftOps.topKPerGroup(
      src, Seq("O_CUSTKEY"), Seq(("O_TOTALPRICE", false), ("o_orderkey", true)),
      k = 1)
    val exact = graft.plans.GraftOps.topKPerGroup(
      src, Seq("o_custkey"), Seq(("o_totalprice", false), ("o_orderkey", true)),
      k = 1)
    assert(upper.exceptAll(exact).isEmpty && exact.exceptAll(upper).isEmpty)
    // duplicate-named columns must throw, not silently pick the first
    val dup = src.select(col("o_custkey"), col("o_orderkey"),
      col("o_totalprice"), col("o_orderkey").as("O_CUSTKEY"))
    val e = intercept[IllegalArgumentException] {
      graft.plans.GraftOps.topKPerGroup(
        dup, Seq("o_custkey"), Seq(("o_orderkey", true)), k = 1)
    }
    assert(e.getMessage.contains("ambiguous"), e.getMessage)
    // unknown column still reports the available names
    val e2 = intercept[IllegalArgumentException] {
      graft.plans.GraftOps.topKPerGroup(
        src, Seq("no_such_col"), Seq(("o_orderkey", true)), k = 1)
    }
    assert(e2.getMessage.contains("no column"), e2.getMessage)
  }

  test("TopKRewriteRule rewrites the row_number idiom only when safe") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // reference result from a STOCK session (no extensions, no rewrite)
    val stock = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    def idiom(s: SparkSession) = {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      graft.Tables.t(s, "/root/testdata/sf0.001", "orders")
        .select("o_orderstatus", "o_orderkey", "o_totalprice")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3).drop("rn")
    }
    val expected = idiom(stock).collect().toSet
    assert(idiom(stock).queryExecution.executedPlan.toString.contains("Window"))

    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      // same declarative code, extension session: planned as the
      // bounded-heap operator, no Window, no per-partition Sort — and
      // value-identical to stock planning
      val rewritten = idiom(spark)
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerGroupPartial") &&
        plan.contains("TopKPerGroupFinal"), plan)
      assert(!plan.contains("Window"), plan)
      assert(!plan.contains("Sort"), plan)
      assert(rewritten.collect().toSet === expected)

      // guard: a filter that is MORE than the rank bound must not be
      // rewritten (the extra conjunct would be dropped)
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val guarded = graft.Tables.t(spark, "/root/testdata/sf0.001", "orders")
        .select("o_orderstatus", "o_orderkey", "o_totalprice")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3 && col("o_orderkey") > 100).drop("rn")
      val gPlan = guarded.queryExecution.executedPlan.toString
      assert(gPlan.contains("Window") && !gPlan.contains("TopKPerGroup"), gPlan)

      // guard: keeping the rank column blocks the rewrite (the operator
      // cannot emit it)
      val kept = graft.Tables.t(spark, "/root/testdata/sf0.001", "orders")
        .select("o_orderstatus", "o_orderkey", "o_totalprice")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
      val kPlan = kept.queryExecution.executedPlan.toString
      assert(kPlan.contains("Window") && !kPlan.contains("TopKPerGroup"), kPlan)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("WordNGrams generator matches the eager explode formulation") {
    import org.apache.spark.sql.functions._
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val docs = graft.Tables.t(spark, "/root/testdata/sf0.001", "documents")
    val lazyGen = docs.select(col("doc_id"),
      graft.functions.TextOps.wordNGrams(col("text"), 3).as("ngram"))
    val eager = docs
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .where(size(col("toks")) >= 3)
      .selectExpr("doc_id",
        """explode(transform(sequence(1, size(toks) - 2),
             i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1),
                         ' ', element_at(toks, i + 2)))) AS ngram""")
    assert(lazyGen.exceptAll(eager).isEmpty && eager.exceptAll(lazyGen).isEmpty)
    assert(lazyGen.count() === eager.count())
    // boundary semantics: short/empty/null docs emit nothing
    import spark.implicits._
    val edge = Seq((1L, "one two"), (2L, ""), (3L, "a b c")).toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.TextOps.wordNGrams(col("text"), 3).as("ngram"))
      .collect()
    assert(edge.map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((3L, "a b c")))
  }

  test("SimHashBands matches the interpreted lambda formulation bit-for-bit") {
    import org.apache.spark.sql.functions._
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // the lambda reference: md5 per feature, per-bit ±1 vote via hex
    // nibble arithmetic, 4×16-bit MSB-first band packing — the exact
    // formulation the audits' DuckDB twins replay
    val docs = graft.Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .selectExpr("doc_id", "array_distinct(split(text, ' ')) AS feats")
    val reference = docs
      .selectExpr("doc_id", "transform(feats, t -> md5(t)) AS th")
      .selectExpr("doc_id",
        """concat_ws('', transform(sequence(0, 63), p ->
             CASE WHEN aggregate(th, cast(0 as bigint), (acc, h) ->
               acc + 2 * (((instr('0123456789abcdef',
                                  substring(h, (p DIV 4) + 1, 1)) - 1)
                           DIV CASE p % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                                          WHEN 2 THEN 2 ELSE 1 END) % 2) - 1)
               > 0 THEN '1' ELSE '0' END)) AS simhash""")
      .selectExpr("doc_id",
        """transform(sequence(0, 3), b ->
             aggregate(sequence(1, 16), cast(0 as bigint), (acc, i) ->
               acc * 2 + IF(substring(simhash, b * 16 + i, 1) = '1',
                            1, 0))) AS bands""")
    val native = docs.select(col("doc_id"),
      graft.functions.TextOps.simhashBands(col("feats")).as("bands"))
    assert(native.exceptAll(reference).isEmpty &&
      reference.exceptAll(native).isEmpty)
    // ties (2·cnt == n) vote 0: an empty feature list and an exact
    // half-split must produce all-zero bits in both formulations
    import spark.implicits._
    val empty = Seq(Seq.empty[String]).toDF("feats")
      .select(graft.functions.TextOps.simhashBands(col("feats")).as("b"))
      .head().getSeq[Long](0)
    assert(empty === Seq(0L, 0L, 0L, 0L))
    // band-range sanity on a plain two-feature array (the SQL
    // registration itself is exercised in the extensions-session test)
    val small = Seq(Seq("alpha", "beta")).toDF("feats")
      .select(graft.functions.TextOps.simhashBands(col("feats")).as("b"))
      .head().getSeq[Long](0)
    assert(small.length === 4 && small.forall(v => v >= 0L && v < 65536L))
  }

  test("CentroidScores/BestCentroid match the lambda formulation and each other") {
    import org.apache.spark.sql.functions._
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // a deliberately tie-rich matrix: centroids 1 and 3 are IDENTICAL,
    // so every row's best ties between them and must resolve to the
    // SMALLER id (1) in both kernels
    val cents = Array(
      Array.tabulate(64)(d => if (d % 2 == 0) 1.0 else -1.0),
      Array.tabulate(64)(d => if (d % 3 == 0) 1.0 else -1.0),
      Array.tabulate(64)(d => if (d % 5 == 0) -1.0 else 1.0),
      Array.tabulate(64)(d => if (d % 3 == 0) 1.0 else -1.0))
    val norms = Array.fill(4)(8.0)
    val e = graft.Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
      .selectExpr("vec_id", "embedding",
        "sqrt(aggregate(embedding, cast(0 as double)," +
          " (a, v) -> a + cast(v as double) * cast(v as double))) AS nrm")
    // lambda reference: sequential fold per centroid, same division,
    // array_max over struct(c, nid) — the formulation the oracles replay
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val ref2 = e.withColumn("cl", centsLit)
      .selectExpr("vec_id",
        """transform(cl, (ce, i) -> struct(
             aggregate(zip_with(embedding, ce,
                 (x, y) -> cast(x as double) * y),
               cast(0 as double), (a, v) -> a + v) / (nrm * 8D) AS c,
             cast(-i as int) AS nid)) AS scores""")
      .selectExpr("vec_id", "scores", "array_max(scores) AS best")
    val nativeScores = e.select(col("vec_id"),
      graft.functions.VectorOps.centroidScores(
        col("embedding"), col("nrm"), cents, norms).as("scores"))
    val nativeBest = e.select(col("vec_id"),
      graft.functions.VectorOps.bestCentroid(
        col("embedding"), col("nrm"), cents, norms).as("best"))
    // CentroidScores == the lambda scores, bit for bit
    assert(nativeScores.exceptAll(ref2.select("vec_id", "scores")).isEmpty &&
      ref2.select("vec_id", "scores").exceptAll(nativeScores).isEmpty)
    // BestCentroid == array_max(CentroidScores) == array_max(lambda)
    val viaMax = nativeScores.selectExpr("vec_id", "array_max(scores) AS best")
    assert(nativeBest.exceptAll(viaMax).isEmpty &&
      viaMax.exceptAll(nativeBest).isEmpty)
    assert(nativeBest.exceptAll(ref2.select("vec_id", "best")).isEmpty)
    // the duplicate-centroid tie really happens and resolves to id 1,
    // never 3 (nid = -1 wins over -3 in the lexicographic struct max)
    val cells = nativeBest.selectExpr("best.nid AS nid")
      .groupBy("nid").count().collect().map(r => r.getInt(0)).toSet
    assert(!cells.contains(-3),
      "a tie with an identical earlier centroid must never elect id 3")
    // codegen and interpreted paths agree for every kernel that
    // generates code (the eval path is what a CodegenFallback-wrapping
    // operator would run). Fallback is off on the codegen side, so
    // generated Java that fails to compile fails here instead of
    // silently running eval. The float and double element branches
    // both run: `ed` is the embedding cast to array<double>.
    def withConfs[T](kv: (String, String)*)(body: => T): T = {
      val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    import graft.functions.{TextOps, VectorOps}
    val planes = Array.tabulate(3, 5, 64)((t, p, d) =>
      math.sin(t * 31.0 + p * 7.0 + d))
    def vecKernels() = e.withColumn("ed", col("embedding").cast("array<double>"))
      .select(col("vec_id"),
        VectorOps.dot(col("embedding"), col("embedding")).as("dot_ff"),
        VectorOps.dot(col("embedding"), col("ed")).as("dot_fd"),
        VectorOps.cosine(col("ed"), col("ed"), col("nrm"), col("nrm"))
          .as("cos_dd"),
        VectorOps.centroidScores(col("embedding"), col("nrm"), cents, norms)
          .as("scores_f"),
        VectorOps.centroidScores(col("ed"), col("nrm"), cents, norms)
          .as("scores_d"),
        VectorOps.bestCentroid(col("embedding"), col("nrm"), cents, norms)
          .as("best_f"),
        VectorOps.bestCentroid(col("ed"), col("nrm"), cents, norms)
          .as("best_d"),
        VectorOps.signBuckets(col("embedding"), planes).as("sb_f"),
        VectorOps.signBuckets(col("ed"), planes).as("sb_d"))
    def textKernels() = graft.Tables.t(spark,
        s"${sys.props("user.home")}/testdata/sf0.001", "documents")
      .select(col("doc_id"), TextOps.unicodeNorm(col("text")).as("nfc"),
        TextOps.unicodeNorm(col("text"), "NFD").as("nfd"))
    // a Dataset keeps the physical plan of its first action, so each
    // mode plans its own DataFrame
    for ((kernels, calls) <- Seq((vecKernels _, 9), (textKernels _, 2))) {
      val interp = withConfs("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        kernels().collect().toSeq
      }
      val (gen, source) = withConfs("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
        val df = kernels()
        (df.collect().toSeq,
          df.queryExecution.debug.codegenToSeq().map(_._2).mkString("\n"))
      }
      assert(interp.nonEmpty)
      assert(gen.sortBy(_.getLong(0)) === interp.sortBy(_.getLong(0)))
      // each kernel column runs inside whole-stage codegen, through its
      // own compute method
      assert(raw"\.compute\(".r.findAllIn(source).size === calls, source)
    }

    // NaN parity (ADVICE r11): a zero centroid with zero cnorm makes
    // that centroid's cosine 0/0 = NaN; Spark's double ordering treats
    // NaN as greatest, so array_max elects the NaN cell — BestCentroid
    // must agree (it compares via Double.compare, not raw >, for
    // exactly this case), and with EVERY cosine NaN (NaN row norm)
    // both kernels must elect centroid 0 (the nid tie-break).
    val nanCents = cents.updated(1, Array.fill(64)(0.0))
    val nanNorms = Array(8.0, 0.0, 8.0, 8.0)
    val nanBest = e.select(col("vec_id"),
      graft.functions.VectorOps.bestCentroid(
        col("embedding"), col("nrm"), nanCents, nanNorms).as("best"))
    val nanViaMax = e.select(col("vec_id"),
      graft.functions.VectorOps.centroidScores(
        col("embedding"), col("nrm"), nanCents, nanNorms).as("scores"))
      .selectExpr("vec_id", "array_max(scores) AS best")
    assert(nanBest.exceptAll(nanViaMax).isEmpty &&
      nanViaMax.exceptAll(nanBest).isEmpty)
    assert(nanBest.selectExpr("best.nid").distinct().collect()
      .map(_.getInt(0)).toSet === Set(-1),
      "the NaN cosine (centroid 1) must win in both kernels")
    val nanNrm = e.withColumn("nrm", expr("cast('NaN' as double)"))
    val allNanBest = nanNrm.select(
      graft.functions.VectorOps.bestCentroid(
        col("embedding"), col("nrm"), cents, norms).as("best"))
    val allNanViaMax = nanNrm.select(
      graft.functions.VectorOps.centroidScores(
        col("embedding"), col("nrm"), cents, norms).as("scores"))
      .selectExpr("array_max(scores) AS best")
    assert(allNanBest.exceptAll(allNanViaMax).isEmpty &&
      allNanViaMax.exceptAll(allNanBest).isEmpty)
    assert(allNanBest.selectExpr("best.nid").distinct().collect()
      .map(_.getInt(0)).toSet === Set(0),
      "all-NaN scores must elect centroid 0 via the nid tie-break")
  }

  test("TopKPerGroup partial-overflow pass-through stays exact") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ~1500 customer groups vs a cap of 3: almost every partial-phase
    // row overflows the group map and passes through unreduced — the
    // branch no small-cardinality gate input ever reaches.
    val src = graft.Tables.t(spark, "/root/testdata/sf0.001", "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
    val custom = graft.plans.GraftOps.topKPerGroup(
      src, Seq("o_custkey"),
      Seq(("o_totalprice", false), ("o_orderkey", true)), k = 2,
      maxPartialGroups = 3)
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val reference = src.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 2).drop("rn")
    assert(custom.exceptAll(reference).isEmpty &&
      reference.exceptAll(custom).isEmpty)
    assert(custom.count() === reference.count())
  }
}
