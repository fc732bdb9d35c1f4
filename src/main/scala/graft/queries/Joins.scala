package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.{dec, t}

/** SURVEY.md §2-D — the join surface the reference delegated to Athena,
  * owned natively. Each variant is planned the way it should run at
  * 100 TB: small dims broadcast, big facts sort-merge on their keys,
  * range joins bucketized instead of cartesian, as-of joins as a single
  * sort+carry window rather than a join+filter blowup.
  */
object Joins {

  /** Inner equi-join, engine-picked strategy. */
  private def joinInner(spark: SparkSession, sfDir: String): DataFrame = {
    val o = t(spark, sfDir, "orders")
    val c = t(spark, sfDir, "customer")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .select("o_orderkey", "o_custkey", "c_mktsegment", "o_totalprice")
      .orderBy("o_orderkey", "o_custkey", "c_mktsegment", "o_totalprice")
  }

  /** Broadcast-hash join: part (small) explicitly broadcast against the
    * lineitem fact — no shuffle of the big side. */
  private def joinBroadcast(spark: SparkSession, sfDir: String): DataFrame = {
    val li = t(spark, sfDir, "lineitem")
    val p  = t(spark, sfDir, "part")
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy("p_brand")
      .agg(sum(dec(col("l_extendedprice"))).cast("double").as("brand_revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("p_brand")
  }

  /** Sort-merge join, forced via hint — the strategy that scales when
    * both sides are too big to broadcast or hash in memory. */
  private def joinSortMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val li = t(spark, sfDir, "lineitem").hint("merge")
    val o  = t(spark, sfDir, "orders")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(sum(dec(col("l_quantity"))).cast("double").as("total_qty"))
      .orderBy("o_orderpriority")
  }

  /** Shuffled-hash join, forced via hint — the third equi-join
    * strategy: both sides shuffle on the key but the build side hashes
    * instead of sorting, beating sort-merge when one side is much
    * smaller than the other yet too big to broadcast (the mid-size dim
    * at 100 TB). No Sort operator on either side — JoinsSpec-visible
    * in the plan via `ShuffledHashJoin`. */
  private def joinShuffledHash(spark: SparkSession, sfDir: String): DataFrame = {
    val li = t(spark, sfDir, "lineitem")
    val s  = t(spark, sfDir, "supplier").hint("shuffle_hash")
    li.join(s, li("l_suppkey") === s("s_suppkey"))
      .groupBy("s_nationkey")
      .agg(sum(dec(col("l_extendedprice"))).cast("double").as("nation_revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("s_nationkey")
  }

  /** Left outer: every customer, order key null when none. */
  private def joinOuter(spark: SparkSession, sfDir: String): DataFrame = {
    val c = t(spark, sfDir, "customer")
    val o = t(spark, sfDir, "orders").where(col("o_totalprice") > 400000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_custkey"), asc_nulls_first("o_orderkey"))
  }

  /** Left semi ≈ EXISTS: customers holding at least one open order. */
  private def joinSemi(spark: SparkSession, sfDir: String): DataFrame = {
    val c = t(spark, sfDir, "customer")
    val o = t(spark, sfDir, "orders").where(col("o_orderstatus") === "O")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** Left anti ≈ NOT EXISTS: customers with no urgent orders (the
    * unfiltered variant is empty in this corpus — every customer has
    * orders — so filter to keep the test non-trivial). */
  private def joinAnti(spark: SparkSession, sfDir: String): DataFrame = {
    val c = t(spark, sfDir, "customer")
    val o = t(spark, sfDir, "orders").where(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * MATCH each other instead of vanishing — the semantics data-repair
    * joins need when "unknown" is itself a join key. Planned as a
    * regular hash join on the null-safe key (nulls hash to one
    * partition; a production job with many null rows salts them like
    * any other hot key). Every tenth customer's nation is masked to
    * NULL and still finds the sentinel row the dim masks the same
    * way. */
  private def joinNullSafe(spark: SparkSession, sfDir: String): DataFrame = {
    val c = t(spark, sfDir, "customer")
      .selectExpr("c_custkey",
        "CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_nationkey END AS nk")
    val n = t(spark, sfDir, "nation")
      .selectExpr("nullif(n_nationkey, 3) AS nnk", "n_name")
    c.join(n, col("nk") <=> col("nnk"))
      .select("c_custkey", "n_name")
      .orderBy("c_custkey", "n_name")
  }

  /** Theta self-join: nation pairs within a region (equi on region +
    * `<` to keep each unordered pair once). */
  private def joinTheta(spark: SparkSession, sfDir: String): DataFrame = {
    val n1 = t(spark, sfDir, "nation").select(
      col("n_nationkey").as("k1"), col("n_name").as("name1"),
      col("n_regionkey").as("r1"))
    val n2 = t(spark, sfDir, "nation").select(
      col("n_nationkey").as("k2"), col("n_name").as("name2"),
      col("n_regionkey").as("r2"))
    n1.join(n2, col("r1") === col("r2") && col("k1") < col("k2"))
      .select("k1", "k2", "name1", "name2")
      .orderBy("k1", "k2")
  }

  /** Range join, bucketized: |c_acctbal - s_acctbal| < 1.0. The naive
    * plan is a cartesian nested-loop; instead each supplier is
    * replicated into its bucket ± 1 (bucket width = the range width) and
    * the join becomes an equi-join on bucket + a cheap refine — the
    * O(n·m) → O(n + m + matches) rewrite that survives 100 TB. */
  private def joinRange(spark: SparkSession, sfDir: String): DataFrame = {
    val c = t(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_acctbal"),
        floor(col("c_acctbal")).as("bucket"))
    val s = t(spark, sfDir, "supplier")
      .select(col("s_suppkey"), col("s_acctbal"))
      .withColumn("bucket",
        explode(array(floor(col("s_acctbal")) - 1, floor(col("s_acctbal")),
          floor(col("s_acctbal")) + 1)))
    c.join(s, Seq("bucket"))
      .where(abs(col("c_acctbal") - col("s_acctbal")) < 1.0)
      .select("c_custkey", "s_suppkey", "c_acctbal", "s_acctbal")
      .orderBy("c_custkey", "s_suppkey")
  }

  /** As-of join: for each purchase, the latest view at-or-before it by
    * the same user. Implemented as one sort + carry-forward window over
    * the unioned event kinds (a single shuffle on user_id) instead of a
    * join + per-key top-1 — the classic scalable as-of plan. */
  private def joinAsOf(spark: SparkSession, sfDir: String): DataFrame = {
    val e = t(spark, sfDir, "events")
      .where(col("event_type").isin("purchase", "view"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        when(col("event_type") === "view", col("ts")).as("view_ts"),
        (col("event_type") === "view").cast("int").as("is_view"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("is_view").desc, col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("last_view_ts", last(col("view_ts"), ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "last_view_ts")
      .orderBy("event_id")
  }

  /** As-of join with a STALENESS BOUND — the feature-store contract:
    * the latest view at-or-before each purchase counts only if it is
    * at most 1 hour old (stale features are worse than no features).
    * Same single sort+carry window as `join_asof`; the tolerance is a
    * post-carry guard, not a second join. */
  private def joinAsOfTolerance(spark: SparkSession, sfDir: String): DataFrame = {
    val e = t(spark, sfDir, "events")
      .where(col("event_type").isin("purchase", "view"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        when(col("event_type") === "view", col("ts")).as("view_ts"),
        (col("event_type") === "view").cast("int").as("is_view"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("is_view").desc, col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("lv", last(col("view_ts"), ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("lv") >= col("ts") - expr("INTERVAL 1 HOUR"), col("lv"))
          .as("fresh_view_ts"))
      .orderBy("event_id")
  }

  /** As-of join, NEAREST direction: for each purchase, the view by the
    * same user closest in time on EITHER side (backward as-of picks
    * only at-or-before; nearest is what sensor/feature alignment
    * usually wants). Same single sort + carry plan as `join_asof` —
    * one shuffle on user_id, then TWO frames over the SAME window sort
    * (carry-forward `last` for the latest view at-or-before,
    * carry-backward `first` for the earliest view after), so Spark
    * plans one Exchange + one Sort and both carries run in that sorted
    * pass. Tie (equidistant before/after) resolves to the earlier
    * view, interval-compared — no epoch conversion. */
  private def joinAsOfNearest(spark: SparkSession, sfDir: String): DataFrame = {
    val e = t(spark, sfDir, "events")
      .where(col("event_type").isin("purchase", "view"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        when(col("event_type") === "view", col("ts")).as("view_ts"),
        (col("event_type") === "view").cast("int").as("is_view"))
    val ord = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("is_view").desc, col("event_id"))
    val back = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    e.withColumn("b", last(col("view_ts"), ignoreNulls = true).over(back))
      .withColumn("f", first(col("view_ts"), ignoreNulls = true).over(fwd))
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("b").isNull, col("f"))
          .when(col("f").isNull, col("b"))
          .when(col("ts") - col("b") <= col("f") - col("ts"), col("b"))
          .otherwise(col("f")).as("nearest_view_ts"))
      .orderBy("event_id")
  }

  /** Bucketed co-located join: both sides pre-bucketed (and
    * sort-ordered) on the join key via `bucketBy` + `saveAsTable`, so
    * the sort-merge join runs with NO exchange and NO sort on either
    * side — the way recurring big-fact joins should be laid out at
    * 100 TB (pay the shuffle once at write time, never at read time).
    * JoinsSpec asserts the shuffle-free plan shape. */
  /** Drop a managed table AND its warehouse directory — a fresh JVM has
    * an empty in-memory catalog but inherits the on-disk warehouse, so
    * `saveAsTable` would otherwise fail with LOCATION_ALREADY_EXISTS. */
  def dropManaged(spark: SparkSession, name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh, name))
  }

  private def joinBucketed(spark: SparkSession, sfDir: String): DataFrame = {
    val tag = java.lang.Integer.toHexString(sfDir.hashCode).takeRight(6)
    val (liT, oT) = (s"graft_li_b_$tag", s"graft_o_b_$tag")
    dropManaged(spark, liT)
    dropManaged(spark, oT)
    // repartition on the bucket key first → exactly one file per
    // bucket, so readers also skip the per-bucket Sort (Spark only
    // trusts sortBy order when a bucket is a single file).
    t(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_extendedprice", "l_quantity")
      .repartition(8, col("l_orderkey"))
      .write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(liT)
    t(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus")
      .repartition(8, col("o_orderkey"))
      .write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(oT)
    bucketedJoinPlan(spark, liT, oT)
      .groupBy("o_orderstatus")
      .agg(sum(dec(col("l_extendedprice"))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderstatus")
  }

  /** The raw bucket-co-located join (exposed for the plan-shape spec).
    * Merge hint: at test scale the planner would broadcast (ignoring
    * buckets); at 100 TB neither side broadcasts — forcing sort-merge
    * exercises the layout the tables were bucketed FOR: zero exchange,
    * zero sort. */
  def bucketedJoinPlan(spark: SparkSession, liTable: String,
                       oTable: String): DataFrame =
    spark.table(liTable).hint("merge").join(spark.table(oTable),
      col("l_orderkey") === col("o_orderkey"))

  /** Manual salted join — the skew defense when one join key is too hot
    * for a single reducer and AQE's skew splitting isn't available
    * (e.g. the hot side feeds a later stage): the big side salts each
    * row deterministically (hash of its own PK, not rand(), so re-runs
    * agree), the small side replicates once per salt, and the join key
    * becomes (key, salt) — the hot key's rows spread over `salts`
    * reducers. Result is exactly the unsalted join. */
  private def joinSalted(spark: SparkSession, sfDir: String): DataFrame = {
    val salts = 8
    val li = t(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .withColumn("salt",
        pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(salts)))
    val o = t(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus")
      .crossJoin(spark.range(salts).select(col("id").cast("int").as("salt")))
    li.join(o, li("l_orderkey") === o("o_orderkey") && li("salt") === o("salt"))
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "o_orderstatus")
      .orderBy("l_orderkey", "l_linenumber", "l_extendedprice", "o_orderstatus")
  }

  /** D. AQE runtime skew-join split — the OTHER half of the skew story:
    * `join_salted` handles skew by rewriting the query (manual salting);
    * this key keeps the query UNCHANGED and lets adaptive execution
    * split the oversized partition at runtime from observed shuffle
    * statistics — the zero-code-change remedy a 100 TB job reaches for
    * first. The fact side funnels 70% of lineitem into one hot key; the
    * dim is a generated 1000-row table, forced to sort-merge (broadcast
    * disabled per-query) so the skewed exchange actually materializes.
    * Skew thresholds are lowered per-query to fire at test scale — at
    * production sizes the defaults (256 MB) play the same role.
    * PlanShapeSpec pins the AQEShuffleRead skew split. */
  /** Per-query AQE tuning for the skew demo, restored afterward so no
    * other key sees the lowered thresholds. Execution (not just plan
    * construction) must happen inside this scope — Spark reads these
    * confs when the adaptive plan re-optimizes at runtime. */
  private[graft] def withSkewConfs[T](spark: SparkSession)(body: => T): T =
    graft.Session.withConfs(spark,
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")(body)

  /** The unsalted skewed join itself (also exercised by PlanShapeSpec,
    * which pins the runtime skew split). */
  private[graft] def skewJoinFrame(spark: SparkSession, sfDir: String): DataFrame = {
    // AQE splits a skewed reduce partition by MAP-INDEX ranges, so the
    // skewed exchange needs multiple upstream map tasks to split over.
    // The test corpus is one parquet split; a production 100 TB scan
    // has thousands of map tasks naturally — synthesize that here.
    val fact = t(spark, sfDir, "lineitem").repartition(16).selectExpr(
      "CASE WHEN l_orderkey % 10 < 7 THEN CAST(7 AS BIGINT) " +
        "ELSE l_orderkey % 1000 END AS k",
      "l_extendedprice")
    val dim = spark.range(0, 1000).selectExpr("id", "id % 16 AS attr")
    fact.join(dim, fact("k") === dim("id"))
      .groupBy("attr")
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("l_extendedprice"))).cast("double").as("total_price"))
      .orderBy("attr")
  }

  private def joinSkewAqe(spark: SparkSession, sfDir: String): DataFrame = {
    // materialize INSIDE the conf scope (the plan re-optimizes during
    // execution); the bounded 16-row result round-trips through parquet
    val dir = graft.etl.Fixtures.tempDir("graft_skew_join")
    withSkewConfs(spark) {
      skewJoinFrame(spark, sfDir).write.mode("overwrite").parquet(dir)
    }
    spark.read.parquet(dir).orderBy("attr")
  }

  /** D. Dynamic partition pruning — the partition-elimination that
    * matters most at 100 TB: the fact side is the hive-partitioned
    * orders layout (shared with `scan_partition_pruned`), and the
    * pruning predicate is NOT known until runtime because it comes from
    * a filtered dimension (the top-5 busiest years — an aggregate the
    * optimizer cannot constant-fold into a static partition filter).
    * Catalyst's PartitionPruning rule turns the broadcast dim into a
    * `dynamicpruning` subquery inside the fact scan's PartitionFilters,
    * so the non-qualifying year directories are never opened. The dim
    * is deliberately built through an aggregate + window so constraint
    * propagation can't rewrite it into static pruning — that would be
    * `scan_partition_pruned`, the twin this key complements.
    * PlanShapeSpec pins the dynamicpruning expression. */
  private[graft] def dppJoinFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val fact = spark.read.parquet(EtlQueries.partPrunedDir(spark, sfDir))
    val dim = t(spark, sfDir, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("n_in_year"))
      .withColumn("rk", row_number().over(
        Window.partitionBy().orderBy(col("n_in_year").desc, col("yr"))))
      .where(col("rk") <= 5)
      .select("yr")
    fact.join(broadcast(dim), fact("p_year") === dim("yr"))
      .groupBy("p_year")
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
      .orderBy("p_year")
  }

  private def joinDpp(spark: SparkSession, sfDir: String): DataFrame =
    dppJoinFrame(spark, sfDir)

  /** D. Runtime bloom-filter join pruning — the row-level complement of
    * `join_dpp`: when the fact table is NOT partitioned on the join key,
    * Spark's InjectRuntimeFilter builds a bloom filter from the filtered
    * creation side (selective orders) and applies `might_contain`
    * map-side on the lineitem scan BEFORE the shuffle, so rows that
    * cannot join never cross the network — at 100 TB this is the
    * difference between shuffling the whole fact and shuffling the ~2%
    * that survives. Thresholds are lowered per-query so injection fires
    * at test scale (the application-side scan is tiny here; production
    * defaults of 10 GB play the same role); broadcast is disabled so the
    * shuffle the filter protects actually exists. Execution happens
    * inside the conf scope — injection runs at optimization time. */
  private[graft] def withRuntimeFilterConfs[T](spark: SparkSession)(body: => T): T =
    graft.Session.withConfs(spark,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")(body)

  /** The protected join itself (also pinned by PlanShapeSpec: the
    * lineitem side carries a `might_contain` filter fed by a
    * `bloom_filter_agg` subquery on the filtered orders). */
  private[graft] def runtimeFilterFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val li = t(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_extendedprice")
    val o = t(spark, sfDir, "orders")
      .where(col("o_totalprice") > 450000)
      .select("o_orderkey", "o_orderpriority")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(dec(col("l_extendedprice"))).cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  private def joinRuntimeFilter(spark: SparkSession, sfDir: String): DataFrame = {
    // materialize INSIDE the conf scope (InjectRuntimeFilter reads the
    // confs when the plan optimizes at first execution); the small
    // aggregate result round-trips through parquet
    val dir = graft.etl.Fixtures.tempDir("graft_runtime_filter")
    withRuntimeFilterConfs(spark) {
      runtimeFilterFrame(spark, sfDir).write.mode("overwrite").parquet(dir)
    }
    spark.read.parquet(dir).orderBy("o_orderpriority")
  }

  /** Correlated EXISTS + scalar subquery through the SQL surface:
    * Catalyst decorrelates the EXISTS into a left-semi join
    * (RewritePredicateSubquery) and evaluates the scalar subquery once
    * — the Athena-style query shape users of the reference migrate
    * verbatim. The average is decimal-exact so both engines agree. */
  private def joinSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    t(spark, sfDir, "customer").createOrReplaceTempView("customer_sq")
    t(spark, sfDir, "orders").createOrReplaceTempView("orders_sq")
    spark.sql(
      """SELECT c_custkey, c_mktsegment, c_acctbal
         FROM customer_sq
         WHERE EXISTS (SELECT 1 FROM orders_sq
                       WHERE o_custkey = c_custkey AND o_totalprice > 400000)
           AND c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                                        AS DOUBLE) / count(*)
                            FROM customer_sq)
         ORDER BY c_custkey""")
  }

  /** D/SQL. LATERAL correlated subquery — "top-2 orders per customer"
    * written the way an analyst writes it: a per-row subquery with its
    * own ORDER BY + LIMIT. Catalyst decorrelates the lateral into a
    * window-style rewrite over one shuffled join — no per-customer
    * query execution — so the declarative form keeps the set-based
    * plan at 100 TB. Customers without orders simply produce no rows
    * (inner lateral semantics). */
  private def joinLateral(spark: SparkSession, sfDir: String): DataFrame = {
    t(spark, sfDir, "customer").createOrReplaceTempView("customer_lat")
    t(spark, sfDir, "orders").createOrReplaceTempView("orders_lat")
    spark.sql(
      """SELECT c_custkey, o_orderkey, o_totalprice
         FROM customer_lat c,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders_lat o
                  WHERE o.o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
         ORDER BY c_custkey, o_totalprice DESC, o_orderkey""")
  }

  /** D. Blocked fuzzy join — entity resolution at scale: dirty records
    * (a deterministically dropped digit in the name) re-link to their
    * master rows by edit distance ≤ 2, ranked (distance, name, key)
    * with rank 1 winning — deterministic, order-free. Both engines
    * share the classic Levenshtein, so the oracle replays corruption
    * and ranking exactly — against the variant-free (nation,
    * segment)-scoped definition: the oracle still equi-joins on
    * (nation, mktsegment); only the SymDelete variant stage is the
    * plan-only device, and within a (nation, segment) block it
    * provably cannot change the answer.
    *
    * Candidates come from a SYMDELETE (deletion-neighborhood) join —
    * the SymSpell scheme: if lev(a, b) ≤ τ then deleting ≤ τ chars
    * from each side reaches a COMMON string, so each side enumerates
    * its ≤2-deletion variants (37 for the 8-char dirty suffix, 46 for
    * the 9-char clean one) and candidates are an equi-join on
    * (variant, nation, mktsegment), refined by the exact levenshtein.
    * Two rejected designs, both MEASURED on the ×8 keyed corpus: the
    * r5 (nation, segment)-only blocking is a FIXED 125-key space —
    * occupancy grows with the corpus and within-block pairs
    * quadratically (59×/148 s at ×8); PassJoin 3-gram segment blocking
    * fixes that for high-entropy strings but degenerates on
    * zero-padded SEQUENTIAL ids, whose leading segment is '000' for
    * every row (168 s at ×8). Deletion variants of dense integers are
    * near-unique — two ids share one only if they are genuine edit
    * neighbors — so the candidate set tracks the TRUE match set
    * (constant per row for sequential ids) at any corpus size:
    * ×8 re-measured at 7.3× (2.7 s → 19.4 s on 8× rows through a
    * 37-46× variant explode) — sublinear in data, candidates linear.
    *
    * Distance still evaluates on the DIGIT SUFFIXES only: the shared
    * 'Customer#' prefix provably never changes edit distance, and the
    * DP grid shrinks 17×18 → 8×9 (the r5 fix, kept). */
  private def joinFuzzyBlocked(spark: SparkSession, sfDir: String): DataFrame = {
    val c = t(spark, sfDir, "customer")
    // drop digit (c_custkey % 9) of the 9-digit suffix of
    // "Customer#NNNNNNNNN" — 1-based drop position 10 + (key % 9)
    val dirty = c.selectExpr("c_custkey AS d_key", "c_nationkey AS d_nat",
      "c_mktsegment AS d_seg",
      """concat(substring(c_name, 1, CAST(9 + c_custkey % 9 AS INT)),
                substring(c_name, CAST(11 + c_custkey % 9 AS INT)))
         AS dirty_name""")
    val clean = c.select(col("c_custkey"), col("c_nationkey"),
      col("c_mktsegment"), col("c_name"))
    // Deletion-variant enumeration, DEPTH-ASYMMETRIC (r17). The corpus
    // invariant is Δlen = 1 (every dirty suffix is a clean suffix with
    // exactly one digit dropped: 8 vs 9 chars), and for strings with
    // Δlen = 1 any lev ≤ 2 script from dirty→clean is exactly
    // {1 insertion + at most 1 substitution} — so a common deletion
    // string always exists with ≤ 1 deletion on the DIRTY side (delete
    // the substituted char if any) and {1 + #sub} ≤ 2 on the clean
    // side. Depth 1 on dirty (identity + 8 singles = 9 variants, was
    // 37) keeps candidate completeness for the lev ≤ 2 answer; the
    // clean side stays depth 2 but drops its IDENTITY variant — a
    // 9-char string can never equal a ≤ 8-char dirty variant, so that
    // row was 15 k dead join input (45 variants, was 46). Measured at
    // sf0.1 (noop-sink profile): dirty explode 555 k → 135 k rows while
    // the DISTINCT candidate pair set is bit-identical (109,086 pairs
    // under both enumerations) — the depth-2 dirty variants only
    // re-found pairs depth 1 already finds, so the cut is pure join-
    // input and dedup-shuffle volume; answer unchanged (oracle PASS
    // at sf0.001 and sf0.01).
    def delVariants(s: String, len: Int, depth1: Boolean): String =
      if (depth1)
        s"""array_distinct(concat(
              array($s),
              transform(sequence(1, $len),
                i -> concat(substring($s, 1, i - 1), substring($s, i + 1)))))"""
      else
        s"""array_distinct(concat(
              transform(sequence(1, $len),
                i -> concat(substring($s, 1, i - 1), substring($s, i + 1))),
              flatten(transform(sequence(1, ${len - 1}),
                i -> transform(sequence(i + 1, $len),
                  j -> concat(substring($s, 1, i - 1),
                              substring($s, i + 1, j - i - 1),
                              substring($s, j + 1)))))))"""
    val dirtyK = dirty
      .selectExpr("d_key", "d_nat", "d_seg", "dirty_name",
        "substring(dirty_name, 10) AS dsuf")
      .selectExpr("d_key", "d_nat", "d_seg", "dirty_name",
        s"explode(${delVariants("dsuf", 8, depth1 = true)}) AS variant")
    val cleanK = clean
      .selectExpr("c_custkey", "c_nationkey", "c_mktsegment", "c_name",
        "substring(c_name, 10, 9) AS csuf")
      .selectExpr("c_custkey", "c_nationkey", "c_mktsegment", "c_name",
        s"explode(${delVariants("csuf", 9, depth1 = false)}) AS variant")
    val cand = dirtyK.as("dv").join(cleanK.as("cv"),
        col("dv.variant") === col("cv.variant") &&
          col("dv.d_nat") === col("cv.c_nationkey") &&
          col("dv.d_seg") === col("cv.c_mktsegment"))
      .select("d_key", "dirty_name", "c_custkey", "c_name")
      .distinct()
    val ranked = cand
      .withColumn("lev",
        levenshtein(substring(col("dirty_name"), 10, 8),
          substring(col("c_name"), 10, 9)))
      .where(col("lev") <= 2)
      .withColumn("rk", row_number().over(
        Window.partitionBy("d_key")
          .orderBy(col("lev"), col("c_name"), col("c_custkey"))))
      .where(col("rk") === 1)
    ranked.select(col("d_key"), col("dirty_name"),
        col("c_custkey").as("matched_key"), col("c_name").as("matched_name"),
        col("lev"))
      .orderBy("d_key")
  }

  /** Interval-OVERLAP join (both sides are intervals — the general case
    * of [[joinRange]]'s point-in-range): order fulfillment windows
    * [o_orderdate, +5..24 days] against per-customer audit windows
    * [1996-01-01 + custkey-offset, +30 days] in the same nation. The
    * naive plan is a nation-keyed join with an O(n·m) overlap filter
    * per nation; the scale rewrite explodes BOTH sides into the 28-day
    * calendar blocks they cover (replication ≤ ⌈len/28⌉+1 ≈ 2 rows per
    * interval) and equi-joins on (nation, block), so matching is
    * O(pairs sharing a block), then refines with the exact overlap
    * predicate and dedups pairs that co-occur in two blocks BEFORE the
    * aggregate. Integer day arithmetic throughout — overlap lengths
    * are exact in both engines. */
  private def joinInterval(spark: SparkSession, sfDir: String): DataFrame = {
    val a = t(spark, sfDir, "orders")
      .join(t(spark, sfDir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .selectExpr("o_orderkey", "c_nationkey AS nat",
        "to_date(o_orderdate) AS a_start",
        "date_add(to_date(o_orderdate), cast(o_orderkey % 20 + 5 as int)) AS a_end")
    val b = t(spark, sfDir, "customer")
      .selectExpr("c_custkey", "c_nationkey AS nat",
        "date_add(date'1996-01-01', cast(c_custkey % 1500 as int)) AS b_start")
      .selectExpr("c_custkey", "nat", "b_start",
        "date_add(b_start, 30) AS b_end")
    def blocks(s: String, e: String) =
      s"explode(sequence(datediff($s, date'1970-01-01') div 28, " +
        s"datediff($e, date'1970-01-01') div 28)) AS blk"
    val aB = a.selectExpr("o_orderkey", "nat", "a_start", "a_end",
      blocks("a_start", "a_end"))
    val bB = b.selectExpr("c_custkey", "nat", "b_start", "b_end",
      blocks("b_start", "b_end"))
    aB.join(bB, Seq("nat", "blk"))
      .where(col("a_start") <= col("b_end") &&
        col("b_start") <= col("a_end"))
      .selectExpr("nat", "o_orderkey", "c_custkey",
        "datediff(least(a_end, b_end), greatest(a_start, b_start)) + 1 AS overlap_days")
      .distinct()
      .groupBy(col("nat").as("nationkey"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("overlap_days")).cast("long").as("total_overlap_days"))
      .orderBy("nationkey")
  }

  // ---------------------------------------------------------------------
  // join_spatial_grid — radius self-join (all customer pairs within
  // 300 km) via grid-cell blocking: the SPATIAL instance of the same
  // filter-then-verify discipline as the fuzzy join's SymDelete
  // variants and the dedup tier's LSH bands. Coordinates are synthetic
  // but deterministic (md5-derived from the key, replicated digit-for-
  // digit in the DuckDB twin): lat ∈ ±50°, lon ∈ ±180° at 1e-4°
  // resolution. Blocking: 3° grid cells; each point lands in exactly
  // ONE cell and the probe side explodes to the 3×5 neighborhood
  // (±1 lat cell since 300 km ≤ 2.7° of latitude; ±2 lon cells since
  // 300 km ≤ 4.2° of longitude at |lat| ≤ 50°) — so the candidate set
  // provably contains every true pair, each found exactly ONCE (one
  // cell per build point ⇒ no distinct needed, unlike banding).
  // Longitude cells NORMALIZE modulo 120 on both sides, so
  // antimeridian pairs (haversine's sin²(Δλ/2) is periodic — a Δλ of
  // 359.9° IS a small distance) block correctly: without the wrap the
  // grid missed 3 of 763 true pairs at sf0.01 (measured against the
  // O(n²) brute force; with it, exact equality at both SFs).
  // Verify: exact haversine — threshold applied on the hav() term
  // against the constant sin²(d/2R), so the asin/sqrt only run for
  // emitted rows. At 100 TB this is a cell-keyed shuffle join with
  // candidates O(n × cell occupancy), never O(n²); production sizes
  // the cell to the radius and treats hot cells (cities) like any
  // skewed join key: AQE skew split or per-cell salting.
  // ---------------------------------------------------------------------
  private def hex6(col: String): String =
    Seq(1048576, 65536, 4096, 256, 16, 1).zipWithIndex.map { case (m, i) =>
      s"(instr('0123456789abcdef', substring($col, ${i + 1}, 1)) - 1) * $m"
    }.mkString("(", " + ", ")")

  /** Engine-neutral SQL for the synthetic point table — shared between
    * the Spark implementation and the DuckDB oracle so the coordinate
    * derivation cannot drift. `keyCast` differs per engine (Spark
    * `string`, DuckDB `VARCHAR`). */
  private def geoPointSql(keyCast: String): (String, String) = {
    val lat = s"${hex6("md5(concat(cast(c_custkey as " + keyCast + "), '#geo-lat'))")} % 1000001 - 500000"
    val lon = s"${hex6("md5(concat(cast(c_custkey as " + keyCast + "), '#geo-lon'))")} % 3600001 - 1800000"
    (s"cast($lat as bigint)", s"cast($lon as bigint)")
  }

  private val SpatialHav =
    """power(sin((radians(lat_b / 10000.0) - radians(lat_a / 10000.0)) / 2), 2)
       + cos(radians(lat_a / 10000.0)) * cos(radians(lat_b / 10000.0))
         * power(sin((radians(lon_b / 10000.0) - radians(lon_a / 10000.0)) / 2), 2)"""

  private def joinSpatialGrid(spark: SparkSession, sfDir: String): DataFrame = {
    val (latSql, lonSql) = geoPointSql("string")
    val pts = t(spark, sfDir, "customer")
      .selectExpr("c_custkey", s"$latSql AS lat_e4", s"$lonSql AS lon_e4")
      .selectExpr("c_custkey", "lat_e4", "lon_e4",
        "cast(floor(lat_e4 / 30000.0) as int) AS cell_lat",
        """cast(((cast(floor(lon_e4 / 30000.0) as int) % 120) + 120) % 120
           as int) AS cell_lon""")
    // the 3×5 neighbor-offset array is CONSTANT: emit it as a literal
    // (ConstantFolding collapses it), not a per-row nested transform —
    // the computed form re-built all 15 structs on GenerateExec's
    // interpreted path for every probe row (the r12 trap)
    val offsets = (for { la <- -1 to 1; lo <- -2 to 2 }
      yield s"named_struct('la', $la, 'lo', $lo)").mkString(", ")
    val probe = pts.selectExpr("c_custkey AS cust_a", "lat_e4 AS lat_a",
        "lon_e4 AS lon_a", "cell_lat", "cell_lon",
        s"explode(array($offsets)) AS d")
      .selectExpr("cust_a", "lat_a", "lon_a",
        "cell_lat + d.la AS cell_lat",
        "cast((((cell_lon + d.lo) % 120) + 120) % 120 as int) AS cell_lon")
    val build = pts.selectExpr("c_custkey AS cust_b", "lat_e4 AS lat_b",
      "lon_e4 AS lon_b", "cell_lat", "cell_lon")
    // Δlat PRE-FILTER before the trig (r17, guide §1.2 per-task work):
    // the haversine lives in the JOIN CONDITION (the hav ≤ const
    // predicate references both sides, so Catalyst pushes it there),
    // i.e. it runs sin/cos/radians ×3 for EVERY cell-matched candidate.
    // Great-circle distance is ≥ the meridian separation, so any true
    // pair has |Δlat| ≤ (300 km / 6371 km)·(180/π)° = 2.6979° =
    // 26 980 e4-units (ceil — completeness-safe; the exact hav verify
    // still follows). One integer compare, placed BEFORE the a < b and
    // hav conjuncts, prunes ~55% of the up-to-6°-lat-span candidates
    // off the trig path. Local wall sits inside this key's ±0.5 s
    // ambient band (min-of-10 A/Bs flipped sign with measurement
    // ORDER — whichever variant ran second was ~0.3 s faster), so the
    // claim is the arithmetic, not a wall delta: strictly fewer trig
    // evaluations at any scale, zero added cost on surviving rows.
    // Candidate generation itself is unchanged — a half-plane
    // neighborhood variant (8 of 15 probe cells + least/greatest
    // re-orientation) was built and REVERTED: its hav count is
    // identical (the a<b guard already skipped trig on the discarded
    // twin), the halved hash probes are cheap, and it ADDS
    // per-candidate orientation expressions — no demonstrable win
    // under either measurement order (OPTIMIZATION_r17.md).
    probe.join(build, Seq("cell_lat", "cell_lon"))
      .where(abs(col("lat_a") - col("lat_b")) <= lit(26980L) &&
        col("cust_a") < col("cust_b"))
      .selectExpr("cust_a", "cust_b", s"$SpatialHav AS hav")
      .where(expr("hav <= power(sin(300.0 / 12742.0), 2)"))
      .selectExpr("cust_a", "cust_b",
        "cast(round(12742000.0 * asin(sqrt(hav))) as bigint) AS dist_m")
      .orderBy("cust_a", "cust_b")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_spatial_grid" -> (joinSpatialGrid _),
    "join_interval" -> (joinInterval _),
    "join_fuzzy_blocked" -> (joinFuzzyBlocked _),
    "join_lateral" -> (joinLateral _),
    "join_subquery" -> (joinSubquery _),
    "join_salted" -> (joinSalted _),
    "join_skew_aqe" -> (joinSkewAqe _),
    "join_dpp" -> (joinDpp _),
    "join_runtime_filter" -> (joinRuntimeFilter _),
    "join_bucketed" -> (joinBucketed _),
    "join_inner" -> (joinInner _),
    "join_shuffled_hash" -> (joinShuffledHash _),
    "join_broadcast" -> (joinBroadcast _),
    "join_sortmerge" -> (joinSortMerge _),
    "join_outer" -> (joinOuter _),
    "join_semi" -> (joinSemi _),
    "join_anti" -> (joinAnti _),
    "join_theta" -> (joinTheta _),
    "join_null_safe" -> (joinNullSafe _),
    "join_range" -> (joinRange _),
    "join_asof" -> (joinAsOf _),
    "join_asof_tolerance" -> (joinAsOfTolerance _),
    "join_asof_nearest" -> (joinAsOfNearest _))

  private val SpatialGridOracle: String = {
    val (latSql, lonSql) = geoPointSql("VARCHAR")
    s"""WITH pts AS (
          SELECT c_custkey, $latSql AS lat_e4, $lonSql AS lon_e4
          FROM customer),
        cells AS (
          SELECT c_custkey, lat_e4, lon_e4,
                 CAST(floor(lat_e4 / 30000.0) AS INTEGER) AS cell_lat,
                 CAST(((CAST(floor(lon_e4 / 30000.0) AS INTEGER) % 120)
                       + 120) % 120 AS INTEGER) AS cell_lon
          FROM pts),
        probe AS (
          SELECT c_custkey AS cust_a, lat_e4 AS lat_a, lon_e4 AS lon_a,
                 cell_lat + la.la AS cell_lat,
                 CAST((((cell_lon + lo.lo) % 120) + 120) % 120 AS INTEGER)
                   AS cell_lon
          FROM cells
          CROSS JOIN (SELECT unnest(range(-1, 2)) AS la) la
          CROSS JOIN (SELECT unnest(range(-2, 3)) AS lo) lo),
        cand AS (
          SELECT cust_a, lat_a, lon_a, c_custkey AS cust_b,
                 lat_e4 AS lat_b, lon_e4 AS lon_b
          FROM probe JOIN cells
            ON probe.cell_lat = cells.cell_lat
           AND probe.cell_lon = cells.cell_lon
           AND probe.cust_a < cells.c_custkey),
        verified AS (
          SELECT cust_a, cust_b, $SpatialHav AS hav FROM cand)
        SELECT cust_a, cust_b,
               CAST(round(12742000.0 * asin(sqrt(hav))) AS BIGINT) AS dist_m
        FROM verified
        WHERE hav <= power(sin(300.0 / 12742.0), 2)
        ORDER BY cust_a, cust_b"""
  }

  val oracle: Map[String, String] = Map(
    "join_spatial_grid" -> SpatialGridOracle,
    "join_interval" ->
      """WITH a AS (
           SELECT o_orderkey, c_nationkey AS nat,
                  CAST(o_orderdate AS DATE) AS a_start,
                  CAST(o_orderdate AS DATE)
                    + CAST(o_orderkey % 20 + 5 AS INTEGER) AS a_end
           FROM orders JOIN customer ON o_custkey = c_custkey),
         b AS (
           SELECT c_custkey, c_nationkey AS nat,
                  DATE '1996-01-01'
                    + CAST(c_custkey % 1500 AS INTEGER) AS b_start,
                  DATE '1996-01-01'
                    + CAST(c_custkey % 1500 AS INTEGER) + 30 AS b_end
           FROM customer)
         SELECT nat AS nationkey,
                count(*) AS n_pairs,
                CAST(sum(date_diff('day',
                           greatest(a_start, b_start),
                           least(a_end, b_end)) + 1) AS BIGINT)
                  AS total_overlap_days
         FROM a JOIN b USING (nat)
         WHERE a_start <= b_end AND b_start <= a_end
         GROUP BY 1
         ORDER BY nationkey""",
    "join_fuzzy_blocked" ->
      """WITH dirty AS (
           SELECT c_custkey AS d_key, c_nationkey AS d_nat,
                  c_mktsegment AS d_seg,
                  substring(c_name, 1, CAST(9 + c_custkey % 9 AS INT))
                    || substring(c_name, CAST(11 + c_custkey % 9 AS INT))
                    AS dirty_name
           FROM customer),
         ranked AS (
           SELECT d_key, dirty_name, c_custkey, c_name,
                  levenshtein(dirty_name, c_name) AS lev,
                  row_number() OVER (PARTITION BY d_key
                    ORDER BY levenshtein(dirty_name, c_name), c_name,
                             c_custkey) AS rk
           FROM dirty JOIN customer
             ON d_nat = c_nationkey AND d_seg = c_mktsegment
           WHERE levenshtein(dirty_name, c_name) <= 2)
         SELECT d_key, dirty_name, c_custkey AS matched_key,
                c_name AS matched_name, lev
         FROM ranked WHERE rk = 1 ORDER BY d_key""",
    "join_lateral" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
         FROM customer c,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
         ORDER BY c_custkey, o_totalprice DESC, o_orderkey""",
    "join_subquery" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal
         FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 400000)
           AND c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                                        AS DOUBLE) / count(*)
                            FROM customer)
         ORDER BY c_custkey""",
    "join_salted" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, o_orderstatus
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         ORDER BY l_orderkey, l_linenumber, l_extendedprice, o_orderstatus""",
    "join_skew_aqe" ->
      """SELECT attr, count(*) AS n_rows,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS total_price
         FROM (SELECT CASE WHEN l_orderkey % 10 < 7 THEN CAST(7 AS BIGINT)
                           ELSE l_orderkey % 1000 END AS k,
                      l_extendedprice
               FROM lineitem) f
         JOIN (SELECT r AS id, r % 16 AS attr
               FROM range(0, 1000) t(r)) d
           ON f.k = d.id
         GROUP BY attr ORDER BY attr""",
    "join_dpp" ->
      """SELECT p_year, count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS revenue
         FROM (SELECT year(o_orderdate) AS p_year, o_totalprice
               FROM orders) f
         JOIN (SELECT yr FROM (
                 SELECT year(o_orderdate) AS yr, count(*) AS n_in_year,
                        row_number() OVER (ORDER BY count(*) DESC,
                                           year(o_orderdate)) AS rk
                 FROM orders GROUP BY 1)
               WHERE rk <= 5) d
           ON f.p_year = d.yr
         GROUP BY 1 ORDER BY p_year""",
    "join_runtime_filter" ->
      """SELECT o_orderpriority, count(*) AS n_items,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS revenue
         FROM lineitem
         JOIN (SELECT o_orderkey, o_orderpriority FROM orders
               WHERE o_totalprice > 450000) o
           ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY o_orderpriority""",
    "join_bucketed" ->
      """SELECT o_orderstatus,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                count(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY o_orderstatus""",
    "join_inner" ->
      """SELECT o_orderkey, o_custkey, c_mktsegment, o_totalprice
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey, o_custkey, c_mktsegment, o_totalprice""",
    "join_broadcast" ->
      """SELECT p_brand,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS brand_revenue,
                count(*) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1 ORDER BY p_brand""",
    "join_shuffled_hash" ->
      """SELECT s_nationkey,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS nation_revenue,
                count(*) AS n_items
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY 1 ORDER BY s_nationkey""",
    "join_sortmerge" ->
      """SELECT o_orderpriority,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY o_orderpriority""",
    "join_outer" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
         FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
           ON c_custkey = o.o_custkey
         ORDER BY c_custkey, o_orderkey NULLS FIRST""",
    "join_semi" ->
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
         ORDER BY c_custkey""",
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "join_null_safe" ->
      """SELECT c_custkey, n_name
         FROM (SELECT c_custkey,
                      CASE WHEN c_custkey % 10 = 0 THEN NULL
                           ELSE c_nationkey END AS nk
               FROM customer) c
         JOIN (SELECT nullif(n_nationkey, 3) AS nnk, n_name FROM nation) n
           ON c.nk IS NOT DISTINCT FROM n.nnk
         ORDER BY c_custkey, n_name""",
    "join_theta" ->
      """SELECT n1.n_nationkey AS k1, n2.n_nationkey AS k2,
                n1.n_name AS name1, n2.n_name AS name2
         FROM nation n1 JOIN nation n2
           ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
         ORDER BY k1, k2""",
    "join_range" ->
      """SELECT c_custkey, s_suppkey, c_acctbal, s_acctbal
         FROM customer, supplier
         WHERE abs(c_acctbal - s_acctbal) < 1.0
         ORDER BY c_custkey, s_suppkey""",
    "join_asof" ->
      """SELECT event_id, user_id, ts,
                (SELECT max(v.ts) FROM events v
                 WHERE v.user_id = e.user_id AND v.event_type = 'view'
                   AND v.ts <= e.ts) AS last_view_ts
         FROM events e WHERE event_type = 'purchase'
         ORDER BY event_id""",
    "join_asof_tolerance" ->
      """SELECT event_id, user_id, ts,
                (SELECT max(v.ts) FROM events v
                 WHERE v.user_id = e.user_id AND v.event_type = 'view'
                   AND v.ts <= e.ts
                   AND v.ts >= e.ts - INTERVAL 1 HOUR) AS fresh_view_ts
         FROM events e WHERE event_type = 'purchase'
         ORDER BY event_id""",
    "join_asof_nearest" ->
      """SELECT event_id, user_id, ts,
                CASE WHEN b IS NULL THEN f
                     WHEN f IS NULL THEN b
                     WHEN e.ts - b <= f - e.ts THEN b
                     ELSE f END AS nearest_view_ts
         FROM (SELECT event_id, user_id, ts,
                      (SELECT max(v.ts) FROM events v
                       WHERE v.user_id = e0.user_id
                         AND v.event_type = 'view'
                         AND v.ts <= e0.ts) AS b,
                      (SELECT min(v.ts) FROM events v
                       WHERE v.user_id = e0.user_id
                         AND v.event_type = 'view'
                         AND v.ts > e0.ts) AS f
               FROM events e0 WHERE event_type = 'purchase') e
         ORDER BY event_id""")
}
