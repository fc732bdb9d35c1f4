package graft.queries

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.{dec, t}
import graft.etl.{Fixtures, Ingest, Schemas}

/** SURVEY.md §2 groups A/B/C — the reference's own ETL surface (CSV
  * scans with malformed-row policies, partitioned snappy-parquet sinks,
  * catalog registration, projection/cast/filter/dedup cleanup), each as
  * a driver-checkable query. Sinks are verified "as the next consumer
  * sees them": write to a temp dir, re-read, compare to the oracle.
  */
object EtlQueries {

  /** A. CSV scan: corpus events → CSV (temp) → read back with explicit
    * schema; round-trips timestamps at microsecond resolution. */
  private def scanCsv(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Fixtures.csvOf(spark, sfDir, "events")
    Ingest.readCsv(spark, dir, Schemas.events)
      .orderBy("event_id")
  }

  /** A. Compressed CSV landing files (`.csv.gz`) — the most common
    * landing-zone reality. Spark decompresses gzip transparently on
    * read (codec picked by extension), but each .gz file is
    * NON-SPLITTABLE: one file = one task regardless of size, so a
    * 100 TB landing zone must arrive as many moderate files — a single
    * giant .gz serializes its scan into one core (same caveat as
    * multiLine CSV). First touch should rewrite to parquet/zstd. */
  private def scanCsvGzip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Fixtures.stagedDir(sfDir, "gz_csv") { d =>
      t(spark, sfDir, "events")
        .write.mode("overwrite")
        .option("header", true)
        .option("timestampFormat", Ingest.TsFormat)
        .option("ignoreLeadingWhiteSpace", false)
        .option("ignoreTrailingWhiteSpace", false)
        .option("compression", "gzip")
        .csv(d)
    }
    Ingest.readCsv(spark, dir, Schemas.events)
      .orderBy("event_id")
  }

  /** A. Malformed-row handling: PERMISSIVE parse of a hand-written bad
    * CSV, corrupt lines preserved in `_corrupt`. Oracle-checked
    * (VERDICT r9 #3 graduation): the fixture lives at [[BadCsvDir]]
    * (sfDir-independent — the file is hand-written, not corpus-derived)
    * and the oracle SQL interpolates that path at dump time, so the
    * DuckDB twin reads the SAME file and replays PERMISSIVE semantics
    * with all_varchar + null_padding + TRY_CAST: a cast-failed or
    * column-short row keeps its parseable fields and reconstructs the
    * raw line into `_corrupt`. The reconstruction is concat_ws over the
    * varchar fields — exact for any malformed line without quoted
    * fields, which this fixture (and Spark's own quote-stripping of
    * WELL-FORMED rows) guarantees. */
  private[graft] lazy val BadCsvDir: String = {
    // staged ONCE per JVM into a private fresh temp dir and published
    // by atomic move (ADVICE r10: the previous fixed world-readable
    // /tmp path was rewritten non-atomically per call — a concurrent
    // reader could see a partial file, and the predictable path was
    // pre-creatable by another local user). The oracle map is built in
    // the same JVM, so the interpolated path always names this copy.
    // DuckDB reads it after the dumping JVM exits, so it is kept.
    val d = Paths.get(Fixtures.tempDir("graft_badcsv", outlivesJvm = true))
    val tmp = Files.createTempFile(d, "bad", ".tmp")
    Files.writeString(tmp,
      """k,qty,note
        |1,10.5,ok
        |2,notanumber,bad-numeric
        |3,5.0,"quoted,comma"
        |4,7.25
        |""".stripMargin)
    Files.move(tmp, d.resolve("bad.csv"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    d.toString
  }
  private def scanCsvPermissive(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = BadCsvDir
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("qty", DoubleType),
      StructField("note", StringType)))
    Ingest.readCsv(spark, dir, schema, mode = "PERMISSIVE",
        corruptColumn = Some("_corrupt"))
      .orderBy(asc_nulls_first("k"))
  }

  /** A. Multi-char-delimiter CSV in a legacy encoding — the two
    * migration warts every lake intake hits: exports with `||`
    * separators (because the data contains commas) and ISO-8859-1
    * bytes from pre-UTF8 systems. Staged once by writing a slice with
    * a non-ASCII literal in that encoding, read back with the same
    * `sep`/`encoding` options; the oracle recomputes the value in
    * UTF-8, so a mis-decoded byte (mojibake) hash-mismatches. */
  private def scanCsvDelim(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Fixtures.stagedDir(sfDir, "delim_csv") { d =>
      t(spark, sfDir, "events")
        .select(col("event_id"), col("event_type"),
          concat(lit("café_"), col("event_type")).as("note"))
        .write.mode("overwrite")
        .option("header", true).option("sep", "||")
        .option("encoding", "ISO-8859-1")
        .csv(d)
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("note", StringType)))
    spark.read.schema(schema)
      .option("header", true).option("sep", "||")
      .option("encoding", "ISO-8859-1")
      .csv(dir)
      .orderBy("event_id")
  }

  /** A. Corrupt-file tolerance: a landing directory where one "file"
    * is truncated garbage (a half-uploaded object, the classic lake
    * intake failure). `ignoreCorruptFiles` skips files whose parquet
    * footer fails to parse instead of killing the job; the oracle is
    * the intact files' contents, so the key also proves no valid row
    * is lost alongside the skip. */
  private def scanIgnoreCorrupt(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Fixtures.stagedDir(sfDir, "corrupt_mix") { d =>
      t(spark, sfDir, "events")
        .select("event_id", "event_type", "value")
        .coalesce(2).write.mode("overwrite").parquet(d)
      Files.write(Paths.get(d, "part-junk.parquet"),
        "this is not a parquet file".getBytes("UTF-8"))
      ()
    }
    spark.read.option("ignoreCorruptFiles", "true").parquet(dir)
      .orderBy("event_id")
  }

  /** A. Glob-filtered scan: a landing directory where parquet data
    * sits next to sidecar files (manifests, _SUCCESS markers,
    * half-written .tmp uploads). `pathGlobFilter` restricts the
    * LISTING — non-matching files are never opened, which is both
    * correctness (the sidecars aren't data) and scale hygiene (no
    * wasted opens on 100k-file directories). */
  private def scanGlobFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Fixtures.stagedDir(sfDir, "glob_mix") { d =>
      t(spark, sfDir, "events")
        .select("event_id", "event_type", "value")
        .coalesce(2).write.mode("overwrite").parquet(d)
      Files.writeString(Paths.get(d, "manifest.json"), """{"files": 2}""")
      Files.writeString(Paths.get(d, "upload.tmp"), "partial bytes")
      ()
    }
    spark.read.option("pathGlobFilter", "*.parquet").parquet(dir)
      .orderBy("event_id")
  }

  /** A. File-provenance scan — Spark's hidden `_metadata` struct
    * (file_path / file_name etc.) read alongside the data, the lake
    * lineage primitive (which physical file did this row come from —
    * the hook for file-level retraction, audit, and incremental
    * reprocessing). Costs nothing: the metadata columns are constants
    * per file, filled at scan time, no extra I/O. The oracle pins the
    * CONTRACT part of provenance — the hive partition directory
    * embedded in the path, and the writer's part-file naming shape —
    * not the incidental task-UUID file names. Reuses the
    * `p_year`-partitioned staged orders shared with
    * scan_partition_pruned/join_dpp. */
  private def scanFileLineage(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = partPrunedDir(spark, sfDir)
    spark.read.parquet(dir)
      .select(col("o_orderkey"),
        regexp_extract(col("_metadata.file_path"), "p_year=(\\d+)", 1)
          .cast("int").as("path_year"),
        (col("_metadata.file_name").startsWith("part-") &&
          col("_metadata.file_name").endsWith(".parquet")).as("file_ok"))
      .orderBy("o_orderkey")
  }

  /** A. Parquet scan with filter + projection — Catalyst pushes both
    * into the scan (PushedFilters / ReadSchema). */
  private def scanParquet(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .where(col("l_returnflag") === "R" && col("l_quantity") >= 45)
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")

  /** Staged hive-partitioned orders (partitioned by `p_year`) — shared
    * by `scan_partition_pruned` (static pruning) and `join_dpp`
    * (dynamic pruning), so both keys exercise the same on-disk layout. */
  private[graft] def partPrunedDir(spark: SparkSession, sfDir: String): String =
    Fixtures.stagedDir(sfDir, "part_pruned") { d =>
      Ingest.writeParquet(
        t(spark, sfDir, "orders").withColumn("p_year", year(col("o_orderdate"))),
        d, partitionColumns = Seq("p_year"))
    }

  /** A. Partition-pruned scan: stage orders partitioned by year, then
    * read one year — Catalyst prunes to the matching directory only. */
  private def scanPartitionPruned(spark: SparkSession, sfDir: String): DataFrame = {
    spark.read.parquet(partPrunedDir(spark, sfDir)).where(col("p_year") === 1997)
      .select("o_orderkey", "o_totalprice", "p_year")
      .orderBy("o_orderkey")
  }

  /** A/H. JSON-in-string scan: lift events.props. */
  private def scanJson(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy("event_id")

  /** B. Parquet sink (snappy): write → re-read → verify content. */
  private def sinkParquet(spark: SparkSession, sfDir: String): DataFrame = {
    val out = Fixtures.roundTrip(spark,
      t(spark, sfDir, "lineitem").where(col("l_returnflag") === "A")
        .select("l_orderkey", "l_linenumber", "l_extendedprice"),
      "graft_sink_parquet")
    out.orderBy("l_orderkey", "l_linenumber", "l_extendedprice")
  }

  /** B. Hive-partitioned sink: derive p_year/p_month from ship date,
    * write partitioned, re-read, count rows per partition. The write
    * repartitions on the partition columns first — otherwise every
    * task writes a file into every partition directory (tasks ×
    * partitions small files, the classic lake pathology); with it,
    * each partition gets one right-sized file. */
  private def sinkParquetPartitioned(spark: SparkSession, sfDir: String): DataFrame = {
    val staged = Fixtures.roundTrip(spark,
      Ingest.withDatePartitions(t(spark, sfDir, "lineitem"), "l_shipdate")
        .select("l_orderkey", "p_year", "p_month")
        .repartition(col("p_year"), col("p_month")),
      "graft_sink_part", partitionBy = Seq("p_year", "p_month"))
    staged.groupBy("p_year", "p_month").agg(count(lit(1)).as("n_rows"))
      .orderBy("p_year", "p_month")
  }

  /** B. Dynamic partition overwrite (wrangler `overwrite_partitions`):
    * full write, then re-write only the 'F' partition with a filtered
    * subset; the other partitions must be untouched. */
  private def sinkOverwriteDynamic(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Fixtures.tempDir("graft_dyn_overwrite")
    val orders = t(spark, sfDir, "orders")
    Ingest.writeParquet(orders, dir, partitionColumns = Seq("o_orderstatus"))
    Ingest.writeParquet(
      orders.where(col("o_orderstatus") === "F" && col("o_totalprice") > 100000),
      dir, partitionColumns = Seq("o_orderstatus"),
      saveMode = SaveMode.Overwrite, dynamicOverwrite = true)
    spark.read.parquet(dir)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n_rows"))
      .orderBy("o_orderstatus")
  }

  /** B. Catalog registration (the reference's Glue upsert): external
    * table in the session catalog, then query it by name. */
  private def catalogRegister(spark: SparkSession, sfDir: String): DataFrame = {
    val reg = Ingest.registerTable(spark, t(spark, sfDir, "customer"),
      "graft_customer_reg", Fixtures.tempDir("graft_catalog"))
    reg.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("c_acctbal"))).cast("double").as("total_bal"))
      .orderBy("c_mktsegment")
  }

  /** B. Parquet bloom-filter sink — point-lookup acceleration at rest:
    * write with a bloom filter on the lookup key, read back with an IN
    * predicate. At 100 TB the bloom lets row groups be skipped for
    * selective equality probes that min/max statistics can't prune
    * (high-cardinality, unsorted keys) — the pushed filter is visible
    * in the scan's PushedFilters. */
  private def sinkParquetBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Fixtures.tempDir("graft_bloom")
    t(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#o_custkey", "true")
      .option("parquet.bloom.filter.expected.ndv#o_custkey", "100000")
      .parquet(dir)
    spark.read.parquet(dir)
      .where(col("o_custkey").isin(1L, 2L, 3L, 5L, 8L, 13L))
      .orderBy("o_orderkey", "o_custkey", "o_totalprice")
  }

  /** B. Catalog statistics — ANALYZE TABLE COMPUTE STATISTICS (+ FOR
    * COLUMNS): the CBO's inputs. The distributed ANALYZE jobs compute
    * exact row counts and per-column min/max; this key surfaces them
    * back OUT of the catalog metadata, proving the stats round-trip
    * that join-reorder and broadcast-threshold decisions feed on. */
  private def catalogAnalyzeStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val name = "graft_orders_stats"
    Ingest.registerTable(spark, t(spark, sfDir, "orders"), name,
      Fixtures.tempDir("graft_stats"))
    spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS")
    spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS " +
      "FOR COLUMNS o_orderkey, o_custkey")
    val stats = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(name))
      .stats.getOrElse(throw new IllegalStateException(
        s"ANALYZE left no stats on $name"))
    def colMinMax(c: String): (Long, Long) = {
      val cs = stats.colStats.getOrElse(c, throw new IllegalStateException(
        s"ANALYZE left no column stats for $c"))
      // min/max can be absent even when colStats exist (e.g. all-NULL
      // column) — keep that failure self-describing too
      (cs.min.getOrElse(throw new IllegalStateException(
          s"ANALYZE left no min for $c")).toLong,
        cs.max.getOrElse(throw new IllegalStateException(
          s"ANALYZE left no max for $c")).toLong)
    }
    val (okMin, okMax) = colMinMax("o_orderkey")
    val (ckMin, ckMax) = colMinMax("o_custkey")
    Seq((stats.rowCount.get.toLong, okMin, okMax, ckMin, ckMax))
      .toDF("n_rows", "min_orderkey", "max_orderkey",
        "min_custkey", "max_custkey")
  }

  /** C. Projection / column reorder. */
  private def projectSelect(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "part")
      .select("p_partkey", "p_name", "p_retailprice")
      .orderBy("p_partkey")

  /** C. Rename / name sanitization (Athena/Glue-safe names). */
  private def projectRename(spark: SparkSession, sfDir: String): DataFrame = {
    val ugly = t(spark, sfDir, "supplier").select(
      col("s_suppkey").as("S SuppKey"),
      col("s_name").as("Supplier-Name"),
      col("s_acctbal").as("Acct Bal ($)"))
    Ingest.sanitizeColumnNames(ugly).orderBy("s_suppkey")
  }

  /** C. Type casts: double→int (integral values), timestamp→date,
    * long→string. */
  private def projectCast(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .select(
        col("l_orderkey").cast("string").as("orderkey_str"),
        col("l_linenumber"),
        col("l_quantity").cast("int").as("qty_int"),
        col("l_shipdate").cast("date").as("ship_date"))
      .orderBy("orderkey_str", "l_linenumber", "qty_int", "ship_date")

  /** C. Derived partition columns from event time. */
  private def projectDerivePartition(spark: SparkSession, sfDir: String): DataFrame =
    Ingest.withDatePartitions(t(spark, sfDir, "events"), "ts")
      .groupBy("p_year", "p_month", "p_day")
      .agg(count(lit(1)).as("n_rows"))
      .orderBy("p_year", "p_month", "p_day")

  /** C. Compound row predicate (range + IN + comparison). */
  private def filterPredicate(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .where(col("l_shipdate") >= to_timestamp(lit("1998-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1999-01-01")) &&
        col("l_returnflag").isin("A", "R") &&
        col("l_quantity") > 40)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")

  /** C. Null handling: synthesize nulls (corpus has none), then
    * na.fill — the reference's drop/fill cleanup step. */
  private def filterNullHandling(spark: SparkSession, sfDir: String): DataFrame = {
    val withNulls = t(spark, sfDir, "events")
      .withColumn("v_or_null", when(col("value") < 1, lit(null)).otherwise(col("value")))
    withNulls.na.fill(Map("v_or_null" -> -1.0))
      .withColumn("was_null", col("v_or_null") === -1.0)
      .select("event_id", "v_or_null", "was_null")
      .orderBy("event_id")
  }

  /** C. Exact dedup on re-delivery: keep the canonical (lowest-key) row
    * per (custkey, status) — deterministic, unlike dropDuplicates. */
  private def dedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey", "o_orderstatus").orderBy("o_orderkey")
    t(spark, sfDir, "orders")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("o_custkey", "o_orderstatus", "o_orderkey")
      .orderBy("o_custkey", "o_orderstatus")
  }

  /** C. k-anonymity suppression — the privacy gate a dataset passes
    * before leaving the lake: rows whose QUASI-IDENTIFIER combination
    * (nation, market segment, account-balance band) is shared by fewer
    * than k individuals get those columns masked, so no released
    * combination isolates a group smaller than k. Plan: the
    * quasi-identifier CELL table (bounded by the attribute domain —
    * nations × segments × bands, corpus-size-independent) aggregates
    * in one shuffle and broadcasts back; the per-row mask is then a
    * map-side flag. EtlSpec pins the k-anonymity invariant itself:
    * every released (unmasked) combination has >= k members. */
  private val KAnon = 10

  private def etlKAnonymize(spark: SparkSession, sfDir: String): DataFrame = {
    val c = t(spark, sfDir, "customer")
      .select(col("c_custkey"),
        col("c_nationkey").cast("string").as("nat"),
        col("c_mktsegment").as("seg"),
        expr("cast(floor(c_acctbal / 2000) as string)").as("band"))
    val cells = c.groupBy("nat", "seg", "band")
      .agg(count(lit(1)).as("grp_n"))
    c.join(broadcast(cells), Seq("nat", "seg", "band"))
      .select(col("c_custkey"),
        when(col("grp_n") < KAnon, lit("*")).otherwise(col("nat")).as("nat"),
        when(col("grp_n") < KAnon, lit("*")).otherwise(col("seg")).as("seg"),
        when(col("grp_n") < KAnon, lit("*")).otherwise(col("band")).as("band"),
        col("grp_n"), (col("grp_n") < KAnon).as("is_suppressed"))
      .orderBy("c_custkey")
  }

  /** The reference's entire serverless handler as ONE operator: CSV
    * landing zone → schema-enforced parse → name sanitization → derived
    * date partitions → partitioned snappy-parquet staging zone →
    * re-read as the query layer sees it (Ingest.run). What the Lambda
    * does per-object per-invoke, this does for the whole directory in
    * one distributed plan. */
  private def etlPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val csvDir = Fixtures.csvOf(spark, sfDir, "events")
    val out = Fixtures.tempDir("graft_etl_pipeline")
    Ingest.run(spark, csvDir, out, Schemas.events, "ts")
      .select("event_id", "ts", "user_id", "event_type", "value", "props",
        "p_year", "p_month", "p_day")
      .orderBy("event_id")
  }

  /** Typed Dataset[T] surface (SURVEY.md §1): compile-time-checked
    * row logic via case-class encoders. The tradeoff is documented and
    * deliberate: typed lambdas are opaque to Catalyst (no pushdown
    * through them), so this engine uses them only where type safety
    * matters more than plan optimality — exactly this demo and the
    * Aggregator/mapPartitions surfaces. */
  private def typedDataset(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    t(spark, sfDir, "orders").as[EtlQueries.Order]
      .filter(o => o.o_totalprice > 300000.0 && o.o_orderstatus != "P")
      .map(o => (o.o_orderkey, o.o_orderstatus, o.o_totalprice * 0.9))
      .toDF("o_orderkey", "o_orderstatus", "discounted")
      .orderBy("o_orderkey")
  }

  /** B. Small-file compaction — the housekeeping pass every
    * event-driven lake needs (the reference's per-object writes produce
    * one file per arriving CSV): scatter events into 64 tiny files,
    * then compact to 2 right-sized files and re-read. Row content must
    * survive byte-exactly; EtlSpec asserts the file-count collapse. */
  private def sinkCompaction(spark: SparkSession, sfDir: String): DataFrame =
    compact(spark, sfDir)._1

  /** Compaction pipeline with its directories exposed so EtlSpec can
    * assert the file-count collapse on the ACTUAL query output. */
  def compact(spark: SparkSession, sfDir: String): (DataFrame, String, String) = {
    val small = Fixtures.tempDir("graft_compact_small")
    val big = Fixtures.tempDir("graft_compact_big")
    t(spark, sfDir, "events").repartition(64)
      .write.mode("overwrite").parquet(small)
    spark.read.parquet(small).coalesce(2)
      .write.mode("overwrite").option("compression", "snappy").parquet(big)
    val out = spark.read.parquet(big)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .orderBy("event_id")
    (out, small, big)
  }

  /** A. JSON-lines file source: events staged as .json (one object per
    * line, µs-precision timestamps) and read back with an explicit
    * schema — schema inference on JSON at scale costs a full extra
    * scan, same rule as CSV. */
  private def scanJsonl(spark: SparkSession, sfDir: String): DataFrame = {
    val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    val dir = Fixtures.stagedDir(sfDir, "jsonl") { d =>
      t(spark, sfDir, "events")
        .write.mode("overwrite").option("timestampFormat", tsFmt).json(d)
    }
    spark.read.schema(Schemas.events).option("timestampFormat", tsFmt)
      .json(dir)
      .orderBy("event_id")
  }

  /** A. Schema evolution (`mergeSchema`) — the parquet answer to the
    * reference's Glue catalog-entry merge: the staged zone accumulates
    * files written under different schema versions (v2 adds
    * o_orderstatus); a mergeSchema read reconciles them into the union
    * schema, with v1 rows null for the added column. At scale the
    * footer merge costs one distributed metadata pass — enable it per
    * read (as here) rather than session-wide. */
  private def scanSchemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Fixtures.stagedDir(sfDir, "schema_evo") { d =>
      val orders = t(spark, sfDir, "orders")
      orders.where(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(d)
      orders.where(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .write.mode("append").parquet(d)
    }
    spark.read.option("mergeSchema", true).parquet(dir)
      .orderBy("o_orderkey")
  }

  /** A/B. Schema-drift guard — the landing-zone gate that catches a
    * producer silently changing shape between batches: two staged
    * batch directories are compared COLUMN BY COLUMN and classified
    * added / dropped / type_changed / unchanged (here v2 adds
    * o_custkey, drops o_orderstatus, and flips o_totalprice
    * double→string — the classic "someone started quoting numbers"
    * regression a mergeSchema read would either mask or explode on).
    * The comparison runs on the driver over footer METADATA only —
    * schemas, not data; bounded by column count at any corpus size —
    * which is the one place driver-side work is the correct design,
    * and the report ships back as a tiny local DataFrame. */
  private def etlSchemaDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = t(spark, sfDir, "orders")
    val v1 = Fixtures.stagedDir(sfDir, "drift_v1") { d =>
      orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
        .write.mode("overwrite").parquet(d)
    }
    val v2 = Fixtures.stagedDir(sfDir, "drift_v2") { d =>
      orders.selectExpr("o_orderkey", "CAST(o_totalprice AS STRING) AS o_totalprice",
          "o_custkey")
        .write.mode("overwrite").parquet(d)
    }
    val t1 = spark.read.parquet(v1).schema.map(f => f.name -> f.dataType.simpleString).toMap
    val t2 = spark.read.parquet(v2).schema.map(f => f.name -> f.dataType.simpleString).toMap
    val rows = (t1.keySet ++ t2.keySet).toSeq.sorted.map { c =>
      (t1.get(c), t2.get(c)) match {
        case (Some(a), None)              => (c, a, null: String, "dropped")
        case (None, Some(b))              => (c, null: String, b, "added")
        case (Some(a), Some(b)) if a == b => (c, a, b, "unchanged")
        case (Some(a), Some(b))           => (c, a, b, "type_changed")
        case _                            => throw new IllegalStateException(c)
      }
    }
    import spark.implicits._
    rows.toDF("column_name", "v1_type", "v2_type", "status")
      .orderBy("column_name")
  }

  /** B. Partitioned-table registration + partition recovery (MSCK): an
    * external hive-partitioned directory is registered with NO
    * partitions visible until `recoverPartitions` walks the directory
    * tree and registers each — the reference's Glue partition upsert
    * after a partitioned write. */
  private def catalogRecoverPartitions(spark: SparkSession, sfDir: String): DataFrame = {
    val tag = java.lang.Integer.toHexString(sfDir.hashCode).takeRight(6)
    val tbl = s"graft_events_part_$tag"
    val dir = Fixtures.tempDir("graft_recover_part")
    t(spark, sfDir, "events")
      .repartition(col("event_type"))
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(
      s"""CREATE TABLE $tbl (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
            value DOUBLE, props STRING, event_type STRING)
          USING parquet PARTITIONED BY (event_type) LOCATION '$dir'""")
    // before recovery the catalog knows zero partitions → empty scan
    require(spark.table(tbl).count() == 0L,
      "external partitioned table must be empty before recoverPartitions")
    spark.catalog.recoverPartitions(tbl)
    spark.table(tbl)
      .groupBy("event_type").agg(count(lit(1)).as("n_rows"))
      .orderBy("event_type")
  }

  /** A. Schema-inference exploration read (`inferSchema=true`) — the
    * interactive first-contact path; costs one extra full scan, which
    * is why every production key in this engine reads with an explicit
    * schema instead (SURVEY.md §1 "Schema"). */
  private def scanCsvInferSchema(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Fixtures.csvOf(spark, sfDir, "events")
    spark.read
      .option("header", true)
      .option("inferSchema", true)
      .csv(dir)
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id")
  }

  /** A. binaryFile source — the multimodal landing zone: one opaque
    * object per document (image/audio shape), read back as
    * (path, length, content) with the id parsed from the object key and
    * the payload decoded. Staging writes run executor-side via
    * foreachPartition (no driver loop); a production deployment points
    * the same reader at an object-store prefix. */
  private def scanBinaryFile(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Fixtures.stagedDir(sfDir, "binfiles") { d =>
      t(spark, sfDir, "documents").select("doc_id", "text")
        .repartition(4)
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { r =>
            Files.write(
              Paths.get(d, f"${r.getLong(0)}%06d.bin"),
              r.getString(1).getBytes("UTF-8"))
          }
        }
    }
    spark.read.format("binaryFile").load(dir)
      .selectExpr(
        "cast(regexp_extract(path, '([0-9]+)\\\\.bin$', 1) as bigint) AS doc_id",
        "length AS n_bytes",
        "decode(content, 'UTF-8') AS text_rt")
      .orderBy("doc_id")
  }

  /** A. Raw-line text source — the "unstructured logs" first-contact
    * path: whole lines in, structure extracted with string ops. Reads
    * the staged events CSV as plain lines, drops headers, parses the
    * leading key field. */
  private def scanText(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Fixtures.csvOf(spark, sfDir, "events")
    spark.read.text(dir)
      // keep only lines whose first field is numeric: drops the header
      // AND any continuation line from a quoted field with an embedded
      // newline (which would otherwise parse to a NULL event_id that
      // Spark sorts first but DuckDB sorts last)
      .where(col("value").rlike("^[0-9]+,"))
      .selectExpr("cast(split(value, ',')[0] as bigint) AS event_id")
      .orderBy("event_id")
  }

  /** A/B. ORC scan/sink round-trip — the second columnar format a
    * lakehouse must speak (Spark's OrcFileFormat ships in spark-sql).
    * Stages a lineitem projection as ORC, reads it back with a
    * predicate — min/max stripe statistics + pushdown work exactly as
    * for parquet, so the same pruning story holds at 100 TB. */
  private def scanOrc(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Fixtures.stagedDir(sfDir, "orc") { d =>
      t(spark, sfDir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_returnflag")
        .write.mode("overwrite").orc(d)
    }
    spark.read.orc(dir)
      .where(col("l_returnflag") === "A" && col("l_quantity") >= 30)
      .orderBy("l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_returnflag")
  }

  /** A/B. Avro scan/sink round-trip — the row-oriented interchange
    * format of Kafka-adjacent lakes. Stages an orders projection as
    * Avro container files and reads it back with a post-decode filter;
    * see graft.sources.AvroIO for why this bridges through the core
    * Avro jars (the external spark-avro module is not in this
    * distribution) and what that costs (no pushdown — which is also
    * why Avro stays an ingest format and parquet/ORC the query layer). */
  private val avroOrdersSchema =
    """{"type":"record","name":"OrderLite","namespace":"graft","fields":[
       {"name":"o_orderkey","type":"long"},
       {"name":"o_orderstatus","type":"string"},
       {"name":"o_totalprice","type":"double"}]}"""

  private def scanAvro(spark: SparkSession, sfDir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_orderstatus", "o_totalprice")
    // FileOutputFormat requires a non-existent output dir — write into
    // a subdir of the (pre-created) staged dir
    val dir = Fixtures.stagedDir(sfDir, "avro") { d =>
      graft.sources.AvroIO.writeAvro(
        t(spark, sfDir, "orders").select(cols.map(col): _*),
        s"$d/data", avroOrdersSchema)
    }
    val sparkSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
    graft.sources.AvroIO.readAvro(spark, s"$dir/data", avroOrdersSchema,
        sparkSchema)
      .where(col("o_totalprice") > 150000.0)
      .orderBy("o_orderkey")
  }

  /** A/B. XML scan/sink round-trip — Spark 4 ships the (formerly
    * external) XML datasource in spark-sql, so a lakehouse ingesting
    * B2B/legacy feeds needs no extra jar. Stages an orders projection
    * as XML, reads it back with an EXPLICIT schema (inference on XML is
    * a two-pass scan — never at 100 TB). Scale note: like multiLine
    * CSV/JSON, XML files are not splittable; parallelism comes from
    * file count, so keep files small and many. */
  private def scanXml(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Fixtures.stagedDir(sfDir, "xml") { d =>
      t(spark, sfDir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite")
        .option("rowTag", "order")
        .format("xml").save(d)
    }
    spark.read
      .schema("o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
      .option("rowTag", "order")
      .format("xml").load(dir)
      .orderBy("o_orderkey")
  }

  /** A. Nested-schema pruning — parquet with a struct column read back
    * selecting ONE subfield: the scan's ReadSchema must contain only
    * `meta.width` (PlanShapeSpec pins this), not the whole struct.
    * At 100 TB multimodal metadata structs carry many wide fields;
    * without nested pruning every subfield query drags the full struct
    * through IO. The payload column proves unread columns cost nothing. */
  private def scanNestedPruned(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Fixtures.stagedDir(sfDir, "nested") { d =>
      t(spark, sfDir, "documents")
        .selectExpr("doc_id",
          "unhex(md5(text)) AS payload",
          "named_struct('width', cast(n_chars % 64 + 1 as int)," +
            " 'height', cast(n_chars DIV 64 + 1 as int)," +
            " 'fmt', 'fake/rgb8') AS meta")
        .write.mode("overwrite").parquet(d)
    }
    spark.read.parquet(dir)
      .select(col("doc_id"), col("meta.width").as("width"))
      .orderBy("doc_id")
  }

  /** A. Multi-line CSV scan — quoted fields with EMBEDDED NEWLINES (the
    * hostile-input case scan_text deliberately filters out). Stages the
    * documents table with newline-ified text, reads it back with
    * multiLine=true, and proves content-exact recovery by fingerprint.
    * Scale note: multiLine CSV files are NOT splittable — each file
    * parses in one task, so parallelism comes from file count; a
    * production layout keeps such files small and many. */
  private def scanCsvMultiline(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Fixtures.stagedDir(sfDir, "multiline_csv") { d =>
      t(spark, sfDir, "documents")
        .selectExpr("doc_id", "replace(text, ' ', '\n') AS mltext")
        .write.mode("overwrite")
        .option("header", true)
        .option("ignoreLeadingWhiteSpace", false)
        .option("ignoreTrailingWhiteSpace", false)
        .csv(d)
    }
    spark.read
      .schema("doc_id BIGINT, mltext STRING")
      .option("header", true)
      .option("multiLine", true)
      .option("ignoreLeadingWhiteSpace", false)
      .option("ignoreTrailingWhiteSpace", false)
      .csv(dir)
      .selectExpr("doc_id", "length(mltext) AS n_chars_ml",
        "md5(mltext) AS fp")
      .orderBy("doc_id")
  }

  /** C. Single-pass pipeline metrics (`df.observe`) — accumulator-style
    * aggregates collected DURING a write, no second scan: the row
    * counts / checksums / null rates a production sink job must report
    * without paying another 100 TB pass. The observed metrics surface
    * as a one-row frame, oracle-checked against a direct aggregation. */
  private def etlObserve(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val obs = org.apache.spark.sql.Observation()
    t(spark, sfDir, "orders")
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(dec(col("o_totalprice"))).cast("double").as("sum_price"),
        sum(col("o_custkey").isNull.cast("long")).as("null_custkey"))
      .write.mode("overwrite").parquet(Fixtures.tempDir("graft_observe"))
    val m = obs.get
    Seq((m("n_rows").asInstanceOf[Long], m("sum_price").asInstanceOf[Double],
      m("null_custkey").asInstanceOf[Long]))
      .toDF("n_rows", "sum_price", "null_custkey")
  }

  /** C. Data-quality profile — the "analyze before you trust it" pass
    * every landing zone needs: one single-pass aggregate computes
    * null/distinct/min/max per column, then stack() reshapes to one
    * row per column. One scan, one reduce, any number of columns. */
  private def dqReport(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_custkey").isNull.cast("long")).as("null_custkey"),
        countDistinct(col("o_custkey")).as("dist_custkey"),
        min(col("o_custkey")).cast("string").as("min_custkey"),
        max(col("o_custkey")).cast("string").as("max_custkey"),
        sum(col("o_orderstatus").isNull.cast("long")).as("null_status"),
        countDistinct(col("o_orderstatus")).as("dist_status"),
        min(col("o_orderstatus")).as("min_status"),
        max(col("o_orderstatus")).as("max_status"))
      .selectExpr("n_rows",
        """stack(2,
             'o_custkey', null_custkey, dist_custkey, min_custkey, max_custkey,
             'o_orderstatus', null_status, dist_status, min_status, max_status)
           AS (col_name, n_null, n_distinct, min_val, max_val)""")
      .orderBy("col_name")

  /** C. Snapshot diff (the SCD2 / CDC merge classifier): FULL OUTER
    * join of yesterday's and today's snapshot on the business key,
    * each row classified inserted/deleted/changed/unchanged — the
    * decision input for a merge write. Snapshots are simulated with
    * deterministic key filters and a price revision. */
  private def scd2Diff(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = t(spark, sfDir, "orders")
    val old = orders.where(col("o_orderkey") % 10 =!= 0)
      .select(col("o_orderkey").as("key"),
        col("o_totalprice").as("old_price"))
    val cur = orders.where(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey").as("key"),
        when(col("o_orderkey") % 3 === 0,
          (dec(col("o_totalprice")) * lit(BigDecimal("1.10"))).cast("double"))
          .otherwise(col("o_totalprice")).as("new_price"))
    old.join(cur, Seq("key"), "full_outer")
      .select(col("key"),
        when(col("old_price").isNull, "inserted")
          .when(col("new_price").isNull, "deleted")
          .when(col("old_price") =!= col("new_price"), "changed")
          .otherwise("unchanged").as("status"),
        col("old_price"), col("new_price"))
      .orderBy("key")
  }

  /** C/B. MERGE-style upsert on a plain-parquet target — the Delta/
    * Iceberg `MERGE INTO` shape owned natively: matched keys take the
    * source's values (update), source-only keys append (insert),
    * untouched target rows carry forward. One full-outer join on the
    * key — the same single-shuffle plan MERGE compiles to at 100 TB —
    * then the merged table is WRITTEN and re-read (sink semantics: the
    * next consumer's view is what's checked). Updates and inserts are
    * carved deterministically from the corpus (keys ≡0 mod 97 update
    * with a price bump; keys ≡0 mod 101 re-insert shifted past the
    * target's max key so inserts stay disjoint at any scale factor).
    * Prices are emitted as scaled-bigint cents per the engine-parity
    * convention. */
  private def etlMergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val target = t(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val updates = target.where(col("o_orderkey") % 97 === 0)
      .withColumn("o_totalprice",
        (dec(col("o_totalprice")) + lit(BigDecimal("1000.00"))).cast("double"))
      .withColumn("o_orderstatus", lit("R"))
    // Inserted keys are shifted past the target's max key (a metadata-
    // sized driver scalar) so they stay disjoint from existing keys at
    // ANY scale factor — a fixed +10M shift collides once real keys
    // pass 10M (TPC-H SF≈2) and silently turns inserts into fan-out.
    val shift = target.agg(max("o_orderkey")).head.getLong(0) + 1L
    val inserts = target.where(col("o_orderkey") % 101 === 0)
      .select((col("o_orderkey") + lit(shift)).as("o_orderkey"),
        col("o_custkey"), lit("N").as("o_orderstatus"), col("o_totalprice"))
    val source = updates.unionByName(inserts)
    val merged = target.as("t")
      .join(source.as("s"), col("t.o_orderkey") === col("s.o_orderkey"),
        "full_outer")
      .select(
        coalesce(col("s.o_orderkey"), col("t.o_orderkey")).as("o_orderkey"),
        coalesce(col("s.o_custkey"), col("t.o_custkey")).as("o_custkey"),
        coalesce(col("s.o_orderstatus"), col("t.o_orderstatus"))
          .as("o_orderstatus"),
        round(coalesce(col("s.o_totalprice"), col("t.o_totalprice"))
          * lit(100)).cast("bigint").as("price_e2"),
        when(col("t.o_orderkey").isNull, "insert")
          .when(col("s.o_orderkey").isNull, "keep")
          .otherwise("update").as("row_action"))
    Fixtures.roundTrip(spark, merged, "graft_merge_upsert")
      .orderBy("o_orderkey")
  }

  /** B. Shallow clone — the zero-copy table fork every lakehouse
    * format ships (`CREATE TABLE ... SHALLOW CLONE src`): the clone is
    * METADATA ONLY — a manifest of references into the source's
    * version directories — so forking a 100 TB table costs a
    * manifest write, not a data copy, and the clone then evolves
    * independently by landing its OWN versions next to the manifest.
    * Here the source is the shared time-travel-style v=1,2 layout
    * (never mutated, so its fixture is cacheable), the clone manifest
    * references both source versions, and the clone appends a v=3 of
    * its own (high-value orders only). Reading the clone = resolving
    * the manifest (a 2-row metadata read) into a multi-path
    * partitioned scan with basePath — partition pruning still works
    * on the borrowed directories — union the clone-local versions.
    * The report counts rows per version with provenance; EtlSpec pins
    * the physical contract: the clone directory contains ZERO copied
    * source data files. */
  private[graft] def shallowCloneWithDirs(spark: SparkSession,
      sfDir: String): (DataFrame, String, String) = {
    import spark.implicits._
    val srcRoot = Fixtures.stagedDir(sfDir, "shallow_clone_src") { d =>
      val base = t(spark, sfDir, "orders").select("o_orderkey", "o_totalprice")
      (1 to 2).foreach { v =>
        base.withColumn("v", lit(v))
          .write.partitionBy("v").mode(SaveMode.Append).parquet(d)
      }
    }
    val cloneRoot = Fixtures.tempDir("graft_shallow_clone_")
    // the clone operation itself: ONE manifest write, zero data copied
    Seq((1, s"$srcRoot/v=1"), (2, s"$srcRoot/v=2"))
      .toDF("v", "src_path").coalesce(1)
      .write.mode("overwrite").parquet(s"$cloneRoot/_manifest")
    // independent evolution: the clone lands its own v=3
    t(spark, sfDir, "orders")
      .where(col("o_totalprice") > 200000)
      .select("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$cloneRoot/v=3")
    // resolve the manifest (metadata-sized collect, the MSCK class)
    val refs = spark.read.parquet(s"$cloneRoot/_manifest")
      .collect().map(_.getString(1)).sorted
    val shared = spark.read.option("basePath", srcRoot)
      .parquet(refs.toIndexedSeq: _*)
      .groupBy("v").agg(count(lit(1)).as("n_rows"))
      .withColumn("origin", lit("shared"))
    val own = spark.read.parquet(s"$cloneRoot/v=3")
      .agg(count(lit(1)).as("n_rows"))
      .select(lit(3).as("v"), col("n_rows"), lit("own").as("origin"))
    (shared.unionByName(own).select("v", "origin", "n_rows").orderBy("v"),
      srcRoot, cloneRoot)
  }

  private def etlShallowClone(spark: SparkSession, sfDir: String): DataFrame =
    shallowCloneWithDirs(spark, sfDir)._1

  /** B. Time travel on plain parquet — snapshot versioning as a lake
    * layout: every write lands under a `v=<n>` partition, so "AS OF
    * version n" is partition pruning (the same planning-time directory
    * elision as scan_partition_pruned) and no snapshot is ever
    * rewritten. The query diffs two versions IN ONE PLAN — the shape a
    * lakehouse audit ("what changed between v1 and v2?") compiles to —
    * reading exactly two partitions' bytes regardless of how many
    * versions accumulate. Versions here: v2 applies the standard
    * price-bump update to keys ≡0 mod 97; the diff recovers precisely
    * those keys. */
  private def etlTimeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val root = Fixtures.stagedDir(sfDir, "time_travel") { d =>
      val base = t(spark, sfDir, "orders").select("o_orderkey", "o_totalprice")
      base.withColumn("v", lit(1))
        .write.partitionBy("v").mode("overwrite").parquet(d)
      base.withColumn("o_totalprice",
          when(col("o_orderkey") % 97 === 0,
            (dec(col("o_totalprice")) + lit(BigDecimal("1000.00")))
              .cast("double"))
            .otherwise(col("o_totalprice")))
        .withColumn("v", lit(2))
        .write.partitionBy("v").mode("append").parquet(d)
    }
    val snaps = spark.read.parquet(root)
    def at(n: Int, alias: String) = snaps.where(col("v") === n)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("bigint").as(alias))
    at(1, "price_v1_e2").join(at(2, "price_v2_e2"), "o_orderkey")
      .where(col("price_v1_e2") =!= col("price_v2_e2"))
      .orderBy("o_orderkey")
  }

  /** B. VACUUM — snapshot-retention garbage collection on the
    * `v=<n>` snapshot-versioned layout [[etlTimeTravel]] reads:
    * keep the newest 2 snapshot versions, physically delete the
    * rest, and report per-version (rows reclaimed / rows live). The
    * retention scan is METADATA-sized (distinct partition values —
    * the same collect class as ANALYZE/MSCK), the reclaimed counts
    * are partition-pruned reads of ONLY the doomed versions, and the
    * deletes are directory drops — no data is rewritten, ever (the
    * defining property of snapshot vacuum vs compaction). Reclaimed
    * counts MATERIALIZE before deletion — a lazy plan evaluated
    * after the drop would read vanished files. A fresh fixture is
    * staged per invocation because the vacuum mutates it (same
    * rationale as partition_backfill's damaged copy). EtlSpec pins
    * the physical outcome: doomed directories gone from disk, the
    * survivor re-read exactly two snapshots wide. */
  private[graft] def vacuumWithRoot(spark: SparkSession,
      sfDir: String): (DataFrame, String) = {
    val root = stageVacuumFixture(spark, sfDir)
    (vacuumRun(spark, root), root)
  }

  /** Stage the 3-version snapshot layout the vacuum will mutate — a
    * FRESH copy per call, because the op deletes directories (a cached
    * fixture would hand re-runs an already-vacuumed table). Split from
    * [[vacuumRun]] so Bench can re-stage between runs UNTIMED and time
    * only the op (VERDICT r8 #5 — the staging write dominated the
    * key's bench number). */
  private[graft] def stageVacuumFixture(spark: SparkSession,
      sfDir: String): String = {
    val root = Fixtures.tempDir("graft_vacuum")
    val base = t(spark, sfDir, "orders").select("o_orderkey", "o_totalprice")
    (1 to 3).foreach { v =>
      base.withColumn("v", lit(v))
        .write.partitionBy("v").mode(SaveMode.Append).parquet(root)
    }
    root
  }

  /** The vacuum op itself, against an already-staged root. */
  private[graft] def vacuumRun(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val snaps = spark.read.parquet(root)
    val versions = snaps.select("v").distinct()
      .collect().map(_.getInt(0)).sorted
    val keep = versions.takeRight(2).toSet
    val doomed = versions.filterNot(keep)
    val reclaimed = doomed.map { v =>
      (v, snaps.where(col("v") === v).count())
    }.toSeq
    doomed.foreach { v =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$root/v=$v"))
    }
    val removedDf = reclaimed.toDF("v", "n_rows")
      .selectExpr("v", "n_rows", "'removed' AS status")
    val liveDf = spark.read.parquet(root)
      .groupBy("v").agg(count(lit(1)).as("n_rows"))
      .selectExpr("v", "n_rows", "'live' AS status")
    removedDf.unionByName(liveDf).orderBy("v")
  }

  private def etlVacuum(spark: SparkSession, sfDir: String): DataFrame =
    vacuumWithRoot(spark, sfDir)._1

  /** B. Orphan-file audit — the OTHER half of table maintenance next
    * to [[etlVacuum]]: snapshot retention removes versions the
    * manifest says are old; orphan audit finds data the manifest
    * never admitted — the debris of a writer that died after its
    * files landed but before its commit record appended (every
    * lakehouse format has exactly this failure mode, and `VACUUM
    * ... ORPHAN FILES` exists because of it). The staged layout
    * commits v=1,2 into a `_manifest` parquet (underscore-prefixed,
    * so partition discovery ignores it — the same convention Spark
    * itself uses for _SUCCESS) and then lands v=3 WITHOUT the
    * manifest append. The audit is a metadata-sized anti-join:
    * on-disk partition values (directory listing — planning-time
    * metadata, no data read) vs manifest rows, with per-version row
    * counts partition-pruned. Nothing is deleted here — audit and
    * reclaim are separate jobs in production because orphans may
    * belong to an IN-FLIGHT commit; the report is what a retention
    * policy acts on. */
  private def etlOrphanAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val root = Fixtures.stagedDir(sfDir, "orphan_audit") { d =>
      val base = t(spark, sfDir, "orders").select("o_orderkey", "o_totalprice")
      (1 to 2).foreach { v =>
        base.withColumn("v", lit(v))
          .write.partitionBy("v").mode(SaveMode.Append).parquet(d)
      }
      Seq(1, 2).toDF("v").coalesce(1)
        .write.mode("overwrite").parquet(s"$d/_manifest")
      // the aborted write: data lands, the manifest append never runs
      base.withColumn("v", lit(3))
        .write.partitionBy("v").mode(SaveMode.Append).parquet(d)
    }
    val onDisk = spark.read.parquet(root)
    val committed = spark.read.parquet(s"$root/_manifest")
      .withColumn("in_manifest", lit(1))
    onDisk.groupBy("v").agg(count(lit(1)).as("n_rows"))
      .join(broadcast(committed), Seq("v"), "left")
      .selectExpr("v", "n_rows",
        "IF(in_manifest IS NULL, 'orphan', 'committed') AS status")
      .orderBy("v")
  }

  /** B/C. Surgical delete (GDPR-style erasure) on a range-clustered
    * layout: the delete predicate is a narrow key range, per-file
    * min/max stats identify which files can contain matches, and ONLY
    * those files are rewritten through an anti-filter — every other
    * file carries forward untouched. On a 100 TB table this is the
    * difference between rewriting gigabytes and rewriting everything;
    * the stats pass here reads the key column (columnar, cheap) where
    * a production implementation reads parquet footers — same
    * metadata-scale collect as ANALYZE/zorder. Returns the post-delete
    * table; EtlSpec asserts the surgical property (≤2 of 8 files
    * rewritten, the rest untouched on disk). */
  private[graft] def deleteRewrite(spark: SparkSession,
      sfDir: String): (DataFrame, Int, Int) = {
    val dir = Fixtures.stagedDir(sfDir, "delete_rw") { d =>
      t(spark, sfDir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite").parquet(d)
    }
    val (lo, hi) = (40L, 80L)
    val stats = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("o_orderkey").as("fmin"), max("o_orderkey").as("fmax"))
      .collect()
    val (affected, untouched) = stats.partition(r =>
      r.getLong(1) <= hi && r.getLong(2) >= lo)
    // No file intersects the delete range → the delete is a no-op; an
    // empty path list would make spark.read.parquet throw.
    if (affected.isEmpty)
      return (spark.read.parquet(dir).orderBy("o_orderkey"), 0, stats.length)
    val rewritten = spark.read
      .parquet(affected.map(_.getString(0)).toIndexedSeq: _*)
      .where(!col("o_orderkey").between(lo, hi))
    val result =
      (if (untouched.isEmpty) rewritten
       else spark.read.parquet(untouched.map(_.getString(0)).toIndexedSeq: _*)
         .unionByName(rewritten))
        .orderBy("o_orderkey")
    (result, affected.length, stats.length)
  }

  private def etlDeleteRewrite(spark: SparkSession, sfDir: String): DataFrame =
    deleteRewrite(spark, sfDir)._1

  /** B. Missing-partition detection + selective backfill — the nightly
    * repair job for a hive-partitioned table that lost partitions
    * (failed job, accidental directory drop): diff the EXPECTED
    * partition spine (distinct months in the source) against the
    * ACTUAL directories, rebuild ONLY the missing ones from the
    * source, and report per-partition status. A fresh damaged copy is
    * staged per invocation — the repair mutates it, so a cached
    * fixture would hand re-runs an already-repaired table. Scale: the
    * spine diff moves two partition-cardinality distinct lists
    * (metadata-sized collect, same class as ANALYZE); the rebuild
    * reads only the missing months (partition-pruned source scan) and
    * appends only those directories — O(missing), never a full
    * rewrite. */
  private def etlPartitionBackfill(spark: SparkSession, sfDir: String): DataFrame =
    backfillRun(spark, sfDir, stageBackfillFixture(spark, sfDir))

  /** Stage the damaged partitioned copy the repair will mutate — a
    * FRESH copy per call (the repair appends the missing months, so a
    * cached fixture would hand re-runs an already-repaired table).
    * Split from [[backfillRun]] so Bench can re-stage between runs
    * UNTIMED and time only the repair (VERDICT r8 #5). */
  private[graft] def stageBackfillFixture(spark: SparkSession,
      sfDir: String): String = {
    val src = t(spark, sfDir, "orders")
      .withColumn("om", date_format(col("o_orderdate"), "yyyy-MM"))
    val dir = Fixtures.tempDir("graft_backfill_")
    src.where(!col("om").isin("1996-03", "1996-07")) // the damaged write
      .write.partitionBy("om").mode("overwrite").parquet(dir)
    dir
  }

  /** The spine-diff + partition-pruned repair, against a staged copy. */
  private[graft] def backfillRun(spark: SparkSession, sfDir: String,
      dir: String): DataFrame = {
    val src = t(spark, sfDir, "orders")
      .withColumn("om", date_format(col("o_orderdate"), "yyyy-MM"))
    val actual = spark.read.parquet(dir).select("om").distinct()
    val expected = src.select("om").distinct()
    val missing = expected.exceptAll(actual)
      .collect().map(_.getString(0)).toSeq
    if (missing.nonEmpty)
      src.where(col("om").isin(missing: _*))
        .write.partitionBy("om").mode("append").parquet(dir)
    spark.read.parquet(dir)
      .groupBy("om").agg(count(lit(1)).as("n_rows"))
      .withColumn("status",
        when(col("om").isin(missing: _*), lit("backfilled"))
          .otherwise(lit("kept")))
      .select("om", "status", "n_rows")
      .orderBy("om")
  }

  /** B. CSV export sink — the reverse of the landing path: query
    * results shipped to CSV consumers (finance exports, legacy BI).
    * Written with header + canonical timestamp format, re-read with
    * the same schema — what the downstream consumer parses is what's
    * checked. */
  private def sinkCsv(spark: SparkSession, sfDir: String): DataFrame = {
    val out = Fixtures.tempDir("graft_sink_csv")
    t(spark, sfDir, "orders")
      .where(col("o_totalprice") > 400000)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").option("header", true).csv(out)
    import org.apache.spark.sql.types._
    spark.read.option("header", true)
      .schema(StructType(Seq(StructField("o_orderkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType))))
      .csv(out)
      .orderBy("o_orderkey")
  }

  /** B. JSONL export sink — the API-feed shape: one JSON object per
    * line, field names preserved, read back as the consumer would. */
  private def sinkJson(spark: SparkSession, sfDir: String): DataFrame = {
    val out = Fixtures.tempDir("graft_sink_json")
    t(spark, sfDir, "events")
      .select("event_id", "event_type", "value")
      .write.mode("overwrite").json(out)
    spark.read.json(out)
      .select("event_id", "event_type", "value")
      .orderBy("event_id")
  }

  /** B. Range-clustered layout sink: `repartitionByRange` +
    * `sortWithinPartitions` writes files with DISJOINT key ranges, so
    * downstream key-range scans skip whole files on parquet min/max
    * stats (the zone-map layout every lake table wants for its primary
    * scan key). EtlSpec asserts the disjoint-ranges property on the
    * actual files. */
  private def sinkRangePartitioned(spark: SparkSession, sfDir: String): DataFrame =
    rangeLayout(spark, sfDir)._1

  /** B. Z-order clustered layout — multi-dimensional data skipping the
    * single-column range layout can't give: each key is first
    * RANGE-QUANTIZED to its high-order 8 bits (`key*256 div (max+1)`,
    * monotone in the raw value), then the two quantized keys are
    * bit-interleaved into a Morton curve value. Quantizing over the
    * actual value range is what makes per-file min/max tight in the
    * RAW columns — interleaving low bits (key mod 256) would cluster
    * in modular space and prune nothing once a key's range exceeds
    * 256. Spark has no native ZORDER; the curve is plain integer
    * arithmetic + repartitionByRange + sortWithinPartitions, the same
    * machinery as the range layout pointed at the interleaved key.
    * The two max() scalars are collected driver-side once (metadata,
    * like ANALYZE). EtlSpec asserts disjoint per-file z-ranges and
    * genuine raw-column tightening in both dimensions. */
  def zorderLayout(spark: SparkSession, sfDir: String): (DataFrame, String) = {
    val dir = Fixtures.tempDir("graft_zorder_sink")
    val src = t(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val maxes = src.agg(max("o_custkey"), max("o_orderkey")).head()
    val (maxC, maxO) = (maxes.getLong(0), maxes.getLong(1))
    val zbits = (0 until 8).map { i =>
      s"(shiftleft(shiftright(cq, $i) & 1, ${2 * i + 1}) + " +
        s"shiftleft(shiftright(oq, $i) & 1, ${2 * i}))"
    }.mkString(" + ")
    src
      .withColumn("cq", expr(s"(o_custkey * 256) DIV ${maxC + 1}"))
      .withColumn("oq", expr(s"(o_orderkey * 256) DIV ${maxO + 1}"))
      .withColumn("zval", expr(s"cast($zbits as int)"))
      .drop("cq", "oq")
      .repartitionByRange(8, col("zval"))
      .sortWithinPartitions("zval")
      .write.mode("overwrite").option("compression", "snappy").parquet(dir)
    (spark.read.parquet(dir).orderBy("o_orderkey"), dir)
  }

  private def sinkZorder(spark: SparkSession, sfDir: String): DataFrame =
    zorderLayout(spark, sfDir)._1

  def rangeLayout(spark: SparkSession, sfDir: String): (DataFrame, String) = {
    val dir = Fixtures.tempDir("graft_range_sink")
    t(spark, sfDir, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderdate")
      .repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").option("compression", "snappy").parquet(dir)
    (spark.read.parquet(dir).orderBy("o_orderkey"), dir)
  }

  /** B3. Cross-engine table checksum — the migration/replication audit
    * that answers "are these two copies of the table the SAME" without
    * shipping rows: per month-partition, row count + an
    * ORDER-INDEPENDENT 60-bit fingerprint (bit_xor of a per-row
    * md5-prefix hash over a canonical `|`-joined rendering) + the exact
    * cents total. XOR is the one aggregate that is commutative,
    * associative, AND never overflows, so the fingerprint is stable
    * under any partitioning/ordering at any scale — exactly why
    * engine-migration validators (and this key's DuckDB oracle, which
    * IS the second engine recomputing the checksum independently) use
    * it. One map-side-combined shuffle on the partition key; output is
    * partition-count rows. The canonical rendering sticks to
    * int/string/date columns (dates render 'yyyy-MM-dd' in both
    * engines) and quantizes money to cents so no float formatting
    * enters the hash. */
  private def etlChecksumAudit(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .selectExpr("date_format(o_orderdate, 'yyyy-MM') AS part",
        // concat (not concat_ws): NULL in any column nulls the row
        // hash, and bit_xor skips NULLs — in BOTH engines, so a null
        // row degrades the checksum identically instead of silently
        // reshaping the canonical string on one side only.
        """CAST(conv(substring(md5(concat(
             CAST(o_orderkey AS STRING), '|', CAST(o_custkey AS STRING),
             '|', o_orderstatus, '|',
             CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING),
             '|', CAST(CAST(o_orderdate AS DATE) AS STRING))),
             1, 15), 16, 10)
           AS BIGINT) AS h""",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents")
      .groupBy("part")
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("xor_fingerprint"),
        sum(col("cents")).as("total_cents"))
      .orderBy("part")

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_checksum_audit" -> (etlChecksumAudit _),
    "scan_orc" -> (scanOrc _),
    "scan_avro" -> (scanAvro _),
    "scan_xml" -> (scanXml _),
    "scan_nested_pruned" -> (scanNestedPruned _),
    "etl_observe" -> (etlObserve _),
    "scan_csv_multiline" -> (scanCsvMultiline _),
    "sink_parquet_bloom" -> (sinkParquetBloom _),
    "catalog_analyze_stats" -> (catalogAnalyzeStats _),
    "sink_range_partitioned" -> (sinkRangePartitioned _),
    "sink_zorder" -> (sinkZorder _),
    "etl_dq_report" -> (dqReport _),
    "etl_scd2_diff" -> (scd2Diff _),
    "etl_schema_drift" -> (etlSchemaDrift _),
    "etl_merge_upsert" -> (etlMergeUpsert _),
    "etl_time_travel" -> (etlTimeTravel _),
    "etl_shallow_clone" -> (etlShallowClone _),
    "etl_vacuum" -> (etlVacuum _),
    "etl_orphan_audit" -> (etlOrphanAudit _),
    "etl_delete_rewrite" -> (etlDeleteRewrite _),
    "etl_partition_backfill" -> (etlPartitionBackfill _),
    "sink_csv" -> (sinkCsv _),
    "sink_json" -> (sinkJson _),
    "scan_text" -> (scanText _),
    "scan_binaryfile" -> (scanBinaryFile _),
    "scan_schema_evolution" -> (scanSchemaEvolution _),
    "catalog_recover_partitions" -> (catalogRecoverPartitions _),
    "scan_csv_inferschema" -> (scanCsvInferSchema _),
    "scan_jsonl" -> (scanJsonl _),
    "sink_compaction" -> (sinkCompaction _),
    "etl_pipeline" -> (etlPipeline _),
    "typed_dataset" -> (typedDataset _),
    "scan_csv" -> (scanCsv _),
    "scan_csv_gzip" -> (scanCsvGzip _),
    "scan_csv_permissive" -> (scanCsvPermissive _),
    "scan_parquet" -> (scanParquet _),
    "scan_partition_pruned" -> (scanPartitionPruned _),
    "scan_csv_delim" -> (scanCsvDelim _),
    "scan_ignore_corrupt" -> (scanIgnoreCorrupt _),
    "scan_glob_filter" -> (scanGlobFilter _),
    "scan_file_lineage" -> (scanFileLineage _),
    "etl_k_anonymize" -> (etlKAnonymize _),
    "scan_json" -> (scanJson _),
    "sink_parquet" -> (sinkParquet _),
    "sink_parquet_partitioned" -> (sinkParquetPartitioned _),
    "sink_overwrite_dynamic" -> (sinkOverwriteDynamic _),
    "catalog_register" -> (catalogRegister _),
    "project_select" -> (projectSelect _),
    "project_rename" -> (projectRename _),
    "project_cast" -> (projectCast _),
    "project_derive_partition" -> (projectDerivePartition _),
    "filter_predicate" -> (filterPredicate _),
    "filter_null_handling" -> (filterNullHandling _),
    "dedup_exact" -> (dedupExact _))

  val oracle: Map[String, String] = Map(
    // VERDICT r9 #3: the last no-oracle key graduates. DuckDB reads the
    // SAME fixed-path file and replays Spark's PERMISSIVE semantics
    // independently: all_varchar + null_padding keeps every physical
    // row; TRY_CAST nulls exactly the unparseable fields; a row is
    // malformed iff a present field fails its cast OR the row is
    // column-short (note IS NULL — no well-formed fixture row omits
    // note), and its `_corrupt` raw line is rebuilt by concat_ws over
    // the varchar fields (exact whenever the malformed line has no
    // quoted field — Spark strips quotes only on well-formed rows).
    "scan_csv_permissive" ->
      s"""SELECT TRY_CAST(k AS BIGINT) AS k,
                 TRY_CAST(qty AS DOUBLE) AS qty,
                 note,
                 CASE WHEN (k IS NOT NULL AND TRY_CAST(k AS BIGINT) IS NULL)
                        OR (qty IS NOT NULL
                            AND TRY_CAST(qty AS DOUBLE) IS NULL)
                        OR note IS NULL
                      THEN concat_ws(',', k, qty, note) END AS "_corrupt"
          FROM read_csv('$BadCsvDir/bad.csv', header=true,
                 auto_detect=false, null_padding=true,
                 columns={'k':'VARCHAR','qty':'VARCHAR','note':'VARCHAR'})
          ORDER BY k NULLS FIRST""",
    // The oracle IS the migration scenario: a second engine recomputes
    // the canonical-row checksum from scratch — count, bit_xor of the
    // identical md5-prefix hash, exact cents total.
    "etl_checksum_audit" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS part,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(bit_xor(CAST(('0x' || substring(md5(
                  CAST(o_orderkey AS VARCHAR) || '|' ||
                  CAST(o_custkey AS VARCHAR) || '|' ||
                  o_orderstatus || '|' ||
                  CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                    AS VARCHAR) || '|' ||
                  CAST(CAST(o_orderdate AS DATE) AS VARCHAR)), 1, 15))
                  AS BIGINT))
                  AS BIGINT) AS xor_fingerprint,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS total_cents
         FROM orders GROUP BY 1 ORDER BY part""",
    "scan_orc" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                l_returnflag
         FROM lineitem
         WHERE l_returnflag = 'A' AND l_quantity >= 30
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                  l_returnflag""",
    "scan_avro" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
         FROM orders
         WHERE o_totalprice > 150000.0
         ORDER BY o_orderkey""",
    "scan_xml" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
         FROM orders ORDER BY o_orderkey""",
    "scan_nested_pruned" ->
      """SELECT doc_id, CAST(n_chars % 64 + 1 AS INTEGER) AS width
         FROM documents ORDER BY doc_id""",
    "etl_observe" ->
      """SELECT count(*) AS n_rows,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_price,
                count(*) FILTER (WHERE o_custkey IS NULL) AS null_custkey
         FROM orders""",
    "scan_csv_multiline" ->
      """SELECT doc_id,
                length(replace(text, ' ', chr(10))) AS n_chars_ml,
                md5(replace(text, ' ', chr(10))) AS fp
         FROM documents ORDER BY doc_id""",
    "sink_parquet_bloom" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders
         WHERE o_custkey IN (1, 2, 3, 5, 8, 13)
         ORDER BY o_orderkey, o_custkey, o_totalprice""",
    "catalog_analyze_stats" ->
      """SELECT count(*) AS n_rows,
                min(o_orderkey) AS min_orderkey,
                max(o_orderkey) AS max_orderkey,
                min(o_custkey) AS min_custkey,
                max(o_custkey) AS max_custkey
         FROM orders""",
    "sink_range_partitioned" ->
      """SELECT o_orderkey, o_totalprice, o_orderdate
         FROM orders ORDER BY o_orderkey""",
    "sink_zorder" ->
      """WITH q AS (
           SELECT o_orderkey, o_custkey, o_totalprice,
                  (o_custkey * 256) // ((SELECT max(o_custkey) FROM orders) + 1) AS cq,
                  (o_orderkey * 256) // ((SELECT max(o_orderkey) FROM orders) + 1) AS oq
           FROM orders)
         SELECT o_orderkey, o_custkey, o_totalprice,
                CAST((((cq >> 0) & 1) << 1) + (((oq >> 0) & 1) << 0)
                   + (((cq >> 1) & 1) << 3) + (((oq >> 1) & 1) << 2)
                   + (((cq >> 2) & 1) << 5) + (((oq >> 2) & 1) << 4)
                   + (((cq >> 3) & 1) << 7) + (((oq >> 3) & 1) << 6)
                   + (((cq >> 4) & 1) << 9) + (((oq >> 4) & 1) << 8)
                   + (((cq >> 5) & 1) << 11) + (((oq >> 5) & 1) << 10)
                   + (((cq >> 6) & 1) << 13) + (((oq >> 6) & 1) << 12)
                   + (((cq >> 7) & 1) << 15) + (((oq >> 7) & 1) << 14)
                   AS INTEGER) AS zval
         FROM q ORDER BY o_orderkey""",
    "etl_dq_report" ->
      """WITH s AS (
           SELECT count(*) AS n_rows,
                  count(*) FILTER (WHERE o_custkey IS NULL) AS null_custkey,
                  count(DISTINCT o_custkey) AS dist_custkey,
                  CAST(min(o_custkey) AS VARCHAR) AS min_custkey,
                  CAST(max(o_custkey) AS VARCHAR) AS max_custkey,
                  count(*) FILTER (WHERE o_orderstatus IS NULL) AS null_status,
                  count(DISTINCT o_orderstatus) AS dist_status,
                  min(o_orderstatus) AS min_status,
                  max(o_orderstatus) AS max_status
           FROM orders)
         SELECT n_rows, 'o_custkey' AS col_name, null_custkey AS n_null,
                dist_custkey AS n_distinct, min_custkey AS min_val,
                max_custkey AS max_val
         FROM s
         UNION ALL
         SELECT n_rows, 'o_orderstatus', null_status, dist_status,
                min_status, max_status
         FROM s
         ORDER BY col_name""",
    "etl_shallow_clone" ->
      """SELECT v, origin, n_rows FROM (
           SELECT 1 AS v, 'shared' AS origin,
                  CAST(count(*) AS BIGINT) AS n_rows FROM orders
           UNION ALL
           SELECT 2, 'shared', CAST(count(*) AS BIGINT) FROM orders
           UNION ALL
           SELECT 3, 'own', CAST(count(*) AS BIGINT) FROM orders
           WHERE o_totalprice > 200000)
         ORDER BY v""",
    "etl_schema_drift" ->
      """SELECT * FROM (VALUES
           ('o_custkey', CAST(NULL AS VARCHAR), 'bigint', 'added'),
           ('o_orderkey', 'bigint', 'bigint', 'unchanged'),
           ('o_orderstatus', 'string', CAST(NULL AS VARCHAR), 'dropped'),
           ('o_totalprice', 'double', 'string', 'type_changed'))
           AS t(column_name, v1_type, v2_type, status)
         ORDER BY column_name""",
    "etl_scd2_diff" ->
      """WITH old AS (
           SELECT o_orderkey AS key, o_totalprice AS old_price
           FROM orders WHERE o_orderkey % 10 <> 0),
         cur AS (
           SELECT o_orderkey AS key,
                  CASE WHEN o_orderkey % 3 = 0
                       THEN CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                 * CAST(1.10 AS DECIMAL(3,2)) AS DOUBLE)
                       ELSE o_totalprice END AS new_price
           FROM orders WHERE o_orderkey % 7 <> 0)
         SELECT coalesce(old.key, cur.key) AS key,
                CASE WHEN old.old_price IS NULL THEN 'inserted'
                     WHEN cur.new_price IS NULL THEN 'deleted'
                     WHEN old.old_price <> cur.new_price THEN 'changed'
                     ELSE 'unchanged' END AS status,
                old.old_price, cur.new_price
         FROM old FULL OUTER JOIN cur ON old.key = cur.key
         ORDER BY key""",
    "etl_partition_backfill" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS om,
                CASE WHEN strftime(o_orderdate, '%Y-%m')
                       IN ('1996-03', '1996-07')
                     THEN 'backfilled' ELSE 'kept' END AS status,
                count(*) AS n_rows
         FROM orders GROUP BY 1, 2 ORDER BY om""",
    "etl_vacuum" ->
      """WITH n AS (SELECT count(*) AS c FROM orders)
         SELECT CAST(1 AS INTEGER) AS v, CAST(c AS BIGINT) AS n_rows,
                'removed' AS status FROM n
         UNION ALL
         SELECT CAST(2 AS INTEGER), CAST(c AS BIGINT), 'live' FROM n
         UNION ALL
         SELECT CAST(3 AS INTEGER), CAST(c AS BIGINT), 'live' FROM n
         ORDER BY v""",
    "etl_orphan_audit" ->
      """WITH n AS (SELECT count(*) AS c FROM orders)
         SELECT CAST(1 AS INTEGER) AS v, CAST(c AS BIGINT) AS n_rows,
                'committed' AS status FROM n
         UNION ALL
         SELECT CAST(2 AS INTEGER), CAST(c AS BIGINT), 'committed' FROM n
         UNION ALL
         SELECT CAST(3 AS INTEGER), CAST(c AS BIGINT), 'orphan' FROM n
         ORDER BY v""",
    "etl_delete_rewrite" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders
         WHERE o_orderkey NOT BETWEEN 40 AND 80
         ORDER BY o_orderkey""",
    "etl_time_travel" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_v1_e2,
                CAST(round(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                + CAST(1000.00 AS DECIMAL(18,2)) AS DOUBLE)
                           * 100) AS BIGINT) AS price_v2_e2
         FROM orders
         WHERE o_orderkey % 97 = 0
         ORDER BY o_orderkey""",
    "etl_merge_upsert" ->
      """WITH target AS (
           SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
           FROM orders),
         src AS (
           SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2))
                       + CAST(1000.00 AS DECIMAL(18,2)) AS DOUBLE)
                    AS o_totalprice
           FROM target WHERE o_orderkey % 97 = 0
           UNION ALL
           SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM target),
                  o_custkey, 'N', o_totalprice
           FROM target WHERE o_orderkey % 101 = 0)
         SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
                coalesce(s.o_custkey, t.o_custkey) AS o_custkey,
                coalesce(s.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
                CAST(round(coalesce(s.o_totalprice, t.o_totalprice) * 100)
                     AS BIGINT) AS price_e2,
                CASE WHEN t.o_orderkey IS NULL THEN 'insert'
                     WHEN s.o_orderkey IS NULL THEN 'keep'
                     ELSE 'update' END AS row_action
         FROM target t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
         ORDER BY o_orderkey""",
    "scan_text" ->
      "SELECT event_id FROM events ORDER BY event_id",
    "scan_csv_delim" ->
      """SELECT event_id, event_type, 'café_' || event_type AS note
         FROM events ORDER BY event_id""",
    "scan_ignore_corrupt" ->
      """SELECT event_id, event_type, value
         FROM events ORDER BY event_id""",
    "scan_glob_filter" ->
      """SELECT event_id, event_type, value
         FROM events ORDER BY event_id""",
    "scan_file_lineage" ->
      """SELECT o_orderkey,
                CAST(year(o_orderdate) AS INTEGER) AS path_year,
                TRUE AS file_ok
         FROM orders ORDER BY o_orderkey""",
    "etl_k_anonymize" ->
      """WITH c AS (
           SELECT c_custkey,
                  CAST(c_nationkey AS VARCHAR) AS nat,
                  c_mktsegment AS seg,
                  CAST(CAST(floor(c_acctbal / 2000) AS BIGINT) AS VARCHAR)
                    AS band
           FROM customer),
         cells AS (
           SELECT nat, seg, band, count(*) AS grp_n
           FROM c GROUP BY 1, 2, 3)
         SELECT c_custkey,
                CASE WHEN grp_n < 10 THEN '*' ELSE nat END AS nat,
                CASE WHEN grp_n < 10 THEN '*' ELSE seg END AS seg,
                CASE WHEN grp_n < 10 THEN '*' ELSE band END AS band,
                grp_n, grp_n < 10 AS is_suppressed
         FROM c JOIN cells USING (nat, seg, band)
         ORDER BY c_custkey""",
    "sink_csv" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
         FROM orders WHERE o_totalprice > 400000
         ORDER BY o_orderkey""",
    "sink_json" ->
      """SELECT event_id, event_type, value
         FROM events ORDER BY event_id""",
    "scan_binaryfile" ->
      """SELECT doc_id,
                octet_length(encode(text)) AS n_bytes,
                text AS text_rt
         FROM documents ORDER BY doc_id""",
    "scan_schema_evolution" ->
      """SELECT o_orderkey, o_totalprice,
                CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS o_orderstatus
         FROM orders ORDER BY o_orderkey""",
    "catalog_recover_partitions" ->
      """SELECT event_type, count(*) AS n_rows
         FROM events GROUP BY 1 ORDER BY event_type""",
    "scan_csv_inferschema" ->
      """SELECT event_id, user_id, event_type, value
         FROM events ORDER BY event_id""",
    "scan_jsonl" ->
      """SELECT event_id, ts, user_id, event_type, value, props
         FROM events ORDER BY event_id""",
    "sink_compaction" ->
      """SELECT event_id, ts, user_id, event_type, value, props
         FROM events ORDER BY event_id""",
    "etl_pipeline" ->
      """SELECT event_id, ts, user_id, event_type, value, props,
                CAST(year(ts) AS INTEGER) AS p_year,
                CAST(month(ts) AS INTEGER) AS p_month,
                CAST(day(ts) AS INTEGER) AS p_day
         FROM events ORDER BY event_id""",
    "typed_dataset" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice * 0.9 AS discounted
         FROM orders WHERE o_totalprice > 300000 AND o_orderstatus <> 'P'
         ORDER BY o_orderkey""",
    "scan_csv" ->
      "SELECT event_id, ts, user_id, event_type, value, props FROM events ORDER BY event_id",
    "scan_csv_gzip" ->
      "SELECT event_id, ts, user_id, event_type, value, props FROM events ORDER BY event_id",
    "scan_parquet" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
         WHERE l_returnflag = 'R' AND l_quantity >= 45
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""",
    "scan_partition_pruned" ->
      """SELECT o_orderkey, o_totalprice, CAST(year(o_orderdate) AS INTEGER) AS p_year
         FROM orders WHERE year(o_orderdate) = 1997 ORDER BY o_orderkey""",
    "scan_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
         FROM events ORDER BY event_id""",
    "sink_parquet" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         WHERE l_returnflag = 'A'
         ORDER BY l_orderkey, l_linenumber, l_extendedprice""",
    "sink_parquet_partitioned" ->
      """SELECT CAST(year(l_shipdate) AS INTEGER) AS p_year,
                CAST(month(l_shipdate) AS INTEGER) AS p_month,
                count(*) AS n_rows
         FROM lineitem GROUP BY 1, 2 ORDER BY p_year, p_month""",
    "sink_overwrite_dynamic" ->
      """SELECT o_orderstatus, count(*) AS n_rows FROM orders
         WHERE o_orderstatus <> 'F' OR o_totalprice > 100000
         GROUP BY 1 ORDER BY o_orderstatus""",
    "catalog_register" ->
      """SELECT c_mktsegment, count(*) AS n,
                CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
         FROM customer GROUP BY 1 ORDER BY c_mktsegment""",
    "project_select" ->
      "SELECT p_partkey, p_name, p_retailprice FROM part ORDER BY p_partkey",
    "project_rename" ->
      """SELECT s_suppkey AS s_suppkey, s_name AS supplier_name,
                s_acctbal AS acct_bal FROM supplier ORDER BY s_suppkey""",
    "project_cast" ->
      """SELECT CAST(l_orderkey AS VARCHAR) AS orderkey_str, l_linenumber,
                CAST(l_quantity AS INTEGER) AS qty_int,
                CAST(l_shipdate AS DATE) AS ship_date
         FROM lineitem
         ORDER BY orderkey_str, l_linenumber, qty_int, ship_date""",
    "project_derive_partition" ->
      """SELECT CAST(year(ts) AS INTEGER) AS p_year,
                CAST(month(ts) AS INTEGER) AS p_month,
                CAST(day(ts) AS INTEGER) AS p_day, count(*) AS n_rows
         FROM events GROUP BY 1, 2, 3 ORDER BY p_year, p_month, p_day""",
    "filter_predicate" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
           AND l_returnflag IN ('A', 'R') AND l_quantity > 40
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate""",
    "filter_null_handling" ->
      """SELECT event_id,
                coalesce(CASE WHEN value < 1 THEN NULL ELSE value END, -1.0) AS v_or_null,
                coalesce(CASE WHEN value < 1 THEN NULL ELSE value END, -1.0) = -1.0 AS was_null
         FROM events ORDER BY event_id""",
    "dedup_exact" ->
      """SELECT o_custkey, o_orderstatus, o_orderkey FROM (
           SELECT o_custkey, o_orderstatus, o_orderkey,
                  row_number() OVER (PARTITION BY o_custkey, o_orderstatus ORDER BY o_orderkey) AS rn
           FROM orders) WHERE rn = 1
         ORDER BY o_custkey, o_orderstatus""")

  /** Typed view of the orders table (parquet stores the order date as
    * TIMESTAMP_NTZ, which encodes as LocalDateTime). */
  case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                   o_totalprice: Double, o_orderdate: java.time.LocalDateTime,
                   o_orderpriority: String)
}
