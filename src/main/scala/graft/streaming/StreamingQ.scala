package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType
import graft.Tables.{dec, schemas, t}
import graft.etl.{Ingest, Schemas}
import graft.etl.Fixtures.{stagedDir, tempDir}

/** SURVEY.md §2-I — the Structured Streaming surface.
  *
  * The reference's ingest loop is an S3-event-triggered serverless
  * function: one CSV object per invocation, at-least-once, no state, no
  * windows. Re-expressed Spark-first, that loop is a checkpointed file
  * source with `Trigger.AvailableNow` — exactly-once per file, schema
  * enforced, and the same code scales from one file to a bucket with
  * millions of objects because file listing, parsing, and the sink all
  * run partition-parallel on executors. Windows / watermarks / stateful
  * dedup extend that to the event-time semantics the `events` table
  * needs (north star; the reference itself has no equivalent).
  *
  * Verification strategy: each key stages the corpus table into a temp
  * source dir, runs a real streaming query to completion
  * (`AvailableNow` + checkpoint), and returns the sink contents as a
  * DataFrame, so the driver's DuckDB oracle can hash-compare streaming
  * results against batch SQL over the same rows.
  *
  * Scale notes (100 TB): windowed aggregations here use the memory sink
  * in Complete mode only where the *result* cardinality is bounded
  * (per-day × event-type windows of a month = tiny); everything with
  * unbounded result cardinality — session windows, watermarked day
  * windows, dedup, stateful sessionization — runs the
  * production-shaped path: watermark + Append mode to a parquet sink,
  * bounded state, late data dropped. State stores are per-key
  * partition-parallel; nothing here collects unbounded data to the
  * driver.
  */
object StreamingQ {

  /** Stage a corpus table as parquet into a temp dir (streaming file
    * sources need a directory they can list). */
  private def stagedParquet(spark: SparkSession, sfDir: String,
                            table: String, copies: Int = 1): String =
    stagedDir(sfDir, s"stream_src_${table}_x$copies") { dir =>
      val df = t(spark, sfDir, table)
      (1 to copies).foreach { i =>
        df.write.mode(if (i == 1) "overwrite" else "append").parquet(dir)
      }
    }

  /** Stage `table` as `parts` files, file i holding the rows whose
    * `part` is i, with mtimes in part order: a file source with
    * maxFilesPerTrigger=1 replays them as `parts` micro-batches,
    * part 0 first. */
  private[graft] def stagedParts(spark: SparkSession, sfDir: String,
      table: String, part: Column, parts: Int): String =
    stagedDir(sfDir,
        s"stream_${table}_x${parts}_${part.toString.hashCode.toHexString}") { dir =>
      val df = t(spark, sfDir, table)
      stageInOrder(dir, (0 until parts).map(i => df.where(part === i)))
    }

  /** Write each frame as one file into `dir`, with strictly increasing
    * mtimes in sequence order (file sources order by mtime). */
  private def stageInOrder(dir: String, frames: Seq[DataFrame]): Unit = {
    val seen = mutable.Set.empty[String]
    frames.zipWithIndex.foreach { case (df, i) =>
      df.coalesce(1).write.mode(if (i == 0) "overwrite" else "append")
        .parquet(dir)
      new java.io.File(dir).listFiles()
        .filterNot(f => seen(f.getName) || f.getName.startsWith("_"))
        .foreach { f =>
          f.setLastModified(1000000000000L + i * 60000L)
          seen += f.getName
        }
    }
  }

  /** Run a streaming query with shuffle partitions capped at 4: a
    * stateful operator creates one state store (plus checkpoint commit
    * I/O) per shuffle partition per micro-batch — an interval join
    * keeps FOUR stores per partition — so at local test cardinalities
    * (thousands of keys) extra partitions cost more in commit overhead
    * than they gain in parallelism (measured: cap 8 → 4 shaves ~0.4 s
    * off every stateful key at sf0.1). A production deployment sizes
    * this to keys/partition ≈ memory budget — the cap is per-query
    * here because the state partition count is fixed at first run by
    * the checkpoint. */
  private def withStreamingPartitions[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    graft.Session.withConfs(spark,
      key -> math.min(spark.conf.get(key).toInt, 4).toString)(body)
  }

  /** Run a streaming query to completion: the one place a query gets
    * its checkpoint and the `AvailableNow` trigger, starts and is
    * awaited. A caller that resumes a stream passes its checkpoint. */
  private def runAvailableNow(writer: DataStreamWriter[_],
      checkpointDir: String = tempDir("graft_stream_ckpt_")): Unit =
    writer.option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()

  /** Run a streaming DataFrame to a parquet sink with AvailableNow and
    * return the sink re-read — the "as the next consumer sees it" view.
    * The re-read declares the stream's schema, so it infers nothing. */
  private def runToParquet(spark: SparkSession, stream: DataFrame): DataFrame = {
    val out = tempDir("graft_stream_out_")
    withStreamingPartitions(spark) {
      runAvailableNow(stream.writeStream.format("parquet").option("path", out))
    }
    spark.read.schema(stream.schema).parquet(out)
  }

  /** Run a streaming aggregation to completion in Complete mode via the
    * memory sink and return the final result. Used only for bounded-
    * cardinality window aggregates (see class doc). */
  private def runComplete(spark: SparkSession, stream: DataFrame): DataFrame = {
    val name = "graft_mem_" + UUID.randomUUID.toString.replace("-", "")
    withStreamingPartitions(spark) {
      runAvailableNow(stream.writeStream.format("memory").queryName(name)
        .outputMode("complete"))
    }
    // Copy the bounded result out of the memory sink and drop the temp
    // view immediately — otherwise every invocation pins a full result
    // copy in driver memory for the session lifetime.
    val out = tempDir("graft_stream_complete_out_")
    val result = spark.table(name)
    result.write.mode("overwrite").parquet(out)
    spark.catalog.dropTempView(name)
    spark.read.schema(result.schema).parquet(out)
  }

  // ---------------------------------------------------------------------
  // stream_ingest — the reference's whole pipeline as a stream:
  // CSV files arriving in a directory → schema-enforced parse →
  // parquet sink, exactly-once per file via the checkpoint.
  // ---------------------------------------------------------------------
  private def streamIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val csvDir = graft.etl.Fixtures.csvOf(spark, sfDir, "events")
    val parsed = spark.readStream
      .schema(Schemas.events)
      .option("header", true)
      .option("timestampFormat", Ingest.TsFormat)
      .csv(csvDir)
    runToParquet(spark, parsed).orderBy("event_id")
  }

  // ---------------------------------------------------------------------
  // stream_window_tumbling — 1-day tumbling event-time windows.
  // ---------------------------------------------------------------------
  private def streamTumbling(spark: SparkSession, sfDir: String): DataFrame = {
    val src = spark.readStream.schema(Schemas.events)
      .parquet(stagedParquet(spark, sfDir, "events"))
    val agg = src
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
    runComplete(spark, agg)
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("w_start", "event_type")
  }

  // ---------------------------------------------------------------------
  // stream_window_sliding — 1-day windows sliding every 12 hours; each
  // event contributes to exactly two overlapping windows.
  // ---------------------------------------------------------------------
  private def streamSliding(spark: SparkSession, sfDir: String): DataFrame = {
    val src = spark.readStream.schema(Schemas.events)
      .parquet(stagedParquet(spark, sfDir, "events"))
    val agg = src
      .groupBy(window(col("ts"), "1 day", "12 hours"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    runComplete(spark, agg)
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n_events"))
      .orderBy("w_start", "event_type")
  }

  // ---------------------------------------------------------------------
  // stream_window_session — per-user session windows with a 30-minute
  // inactivity gap (session end = last event + gap, Spark semantics).
  // user×session cardinality is UNBOUNDED, so unlike the day×type
  // windows above this must not run Complete-mode into memory: it uses
  // the production shape — watermark + Append mode to a parquet sink.
  // A closed session emits once the watermark passes its end; the
  // far-future sentinel row (its own user_id = -1) advances the
  // watermark past every real session and is filtered from the result
  // (its own still-open session never emits).
  // ---------------------------------------------------------------------
  private def streamSession(spark: SparkSession, sfDir: String): DataFrame = {
    // r17: no maxFilesPerTrigger — data + sentinel land in ONE batch
    // (see stagedWithSentinel's 2-batch note); was 3 batches.
    val srcDir = stagedWithSentinel(spark, sfDir, sentinelUser = -1L)
    val src = spark.readStream.schema(Schemas.events)
      .parquet(srcDir)
    val agg = src
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("user_id"), col("n_events"))
    runToParquet(spark, agg)
      .where(col("user_id") >= 0)
      .orderBy("user_id", "s_start")
  }

  // ---------------------------------------------------------------------
  // stream_window_distinct — EXACT distinct users per 1-day window ×
  // event type. Streaming aggregation does not admit count(DISTINCT x)
  // (per-group distinct state would be unmergeable across micro-batch
  // retractions), so this runs the canonical two-level rewrite as
  // CHAINED STATEFUL AGGREGATIONS — Spark's multi-stateful-operator
  // support: level 1 reduces to one row per (window, type, user) —
  // state O(distinct triples), each key exactly-once — and level 2
  // re-windows that stream (window() over the level-1 window struct's
  // own start) to count rows = exact distinct users. Both levels share
  // the event-time watermark; a closed window flushes Append-mode once
  // the far-future sentinel advances it. At 100 TB the level-1 state is
  // the true distinct cardinality — the irreducible memory of any exact
  // distinct — hash-partitioned across executors, and the level-2 state
  // is window×type-bounded (tiny).
  // ---------------------------------------------------------------------
  private def streamWindowDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    // r17: one data+sentinel batch (see stagedWithSentinel); the
    // chained level-1→level-2 emission mechanics are unchanged — both
    // levels emit in the trailing flush batch exactly as they did in
    // the sentinel's own batch before.
    val srcDir = stagedWithSentinel(spark, sfDir, sentinelUser = -1L)
    val src = spark.readStream.schema(Schemas.events)
      .parquet(srcDir)
    val perUser = src
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n_ev"))
    val perWindow = perUser
      .groupBy(window(col("window"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_users"), sum(col("n_ev")).as("n_events"))
    // The sentinel's own far-future window never flushes (the watermark
    // stops 1 h short of it), so the sink holds exactly the real windows.
    runToParquet(spark, perWindow)
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n_users"), col("n_events"))
      .orderBy("w_start", "event_type")
  }

  /** Stage events as ONE data file plus a far-future sentinel row in
    * its own NEWEST file: the sentinel advances the watermark past
    * every real window/session so Append-mode results flush
    * deterministically (one data batch, see the 2-batch shape below). */
  private def stagedWithSentinel(spark: SparkSession, sfDir: String,
                                 sentinelUser: Long): String =
    stageCorpusWithSentinels(spark, sfDir, s"stream_sentinel_u$sentinelUser",
      Seq((-1L, sentinelUser, None)))

  /** Core sentinel staging: corpus as one file, then one far-future
    * sentinel file per entry (event_id, user_id, optional event_type
    * override), each newer than the last ([[stageInOrder]]).
    *
    * 2-batch shape (r17, the outer-join keys' r3 shape generalized):
    * the watermark-flush consumers no longer set maxFilesPerTrigger=1,
    * so data + sentinel land in ONE micro-batch — nothing is late
    * against the initial watermark (it is 0 during batch 0), the
    * sentinel hoists the post-batch watermark past every real event,
    * and AvailableNow's trailing no-new-data batch emits/evicts
    * everything at once. Same declared rows (oracle-checked at 3 SFs),
    * one fewer full state-store commit + planning cycle per run —
    * measured ~1–3 s per key at sf0.1, and at scale one less pass over
    * every state partition. The per-file batch split stays ONLY where
    * batch sequencing is semantic (the intake chains: evens-then-odds
    * dedup, tiered ANN index, LSH grid). */
  private def stageCorpusWithSentinels(spark: SparkSession, sfDir: String,
      tag: String, sentinels: Seq[(Long, Long, Option[String])]): String =
    stagedDir(sfDir, tag) { srcDir =>
      val ev = t(spark, sfDir, "events")
      stageInOrder(srcDir, ev +: sentinels.map { case (eid, uid, kind) =>
        val row = ev.limit(1)
          .withColumn("ts", lit(java.sql.Timestamp.valueOf("2030-01-01 00:00:00")))
          .withColumn("event_id", lit(eid))
          .withColumn("user_id", lit(uid))
        kind.fold(row)(k => row.withColumn("event_type", lit(k)))
      })
    }

  // ---------------------------------------------------------------------
  // stream_resample_ohlc — streaming twin of win_resample_ohlc:
  // 5-minute OHLC bars per event type maintained incrementally under a
  // watermark in Append mode (bar cardinality is time-unbounded, so
  // Complete-mode memory is not an option at scale). Open and close
  // come from the same lexicographic struct min/max as the batch key —
  // crucially ASSOCIATIVE aggregates, so the state store keeps ONE
  // partial OHLC per open bar and merges each micro-batch into it:
  // per-batch work is O(batch + open bars), closed bars emit exactly
  // once when the watermark passes their end, history is never
  // re-read. The far-future sentinel flushes the tail; its own 2030
  // bar is filtered out. Oracle = the batch OHLC twin bit-for-bit
  // (same bucket grid: window() and the batch timestampadd both align
  // to wall-clock 5-minute boundaries).
  // ---------------------------------------------------------------------
  private def streamResampleOhlc(spark: SparkSession, sfDir: String): DataFrame = {
    // r17: one data+sentinel batch (see stagedWithSentinel)
    val srcDir = stagedWithSentinel(spark, sfDir, sentinelUser = -1L)
    val src = spark.readStream.schema(Schemas.events)
      .parquet(srcDir)
    val agg = src
      .withWatermark("ts", "1 hour")
      .where(col("value").isNotNull)
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(
        min(struct(col("ts").as("a"), col("event_id").as("b"),
          col("value").as("v"))).getField("v").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(struct(col("ts").as("a"), col("event_id").as("b"),
          col("value").as("v"))).getField("v").as("close"),
        count(lit(1)).as("n_ticks"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_ticks"), col("sum_value"))
    runToParquet(spark, agg)
      .where(col("bucket_start") < lit("2029-01-01").cast("timestamp"))
      .orderBy("event_type", "bucket_start")
  }

  // ---------------------------------------------------------------------
  // stream_stateful_session — arbitrary stateful processing
  // (flatMapGroupsWithState): per-user gap sessionization with explicit
  // session state and event-time timeouts. Same semantics as
  // session_window (stream_window_session) but through the custom-state
  // API — the escape hatch for logic windows can't express. State is
  // one open session per user, evicted by the watermark-driven timeout;
  // closed sessions emit incrementally in Append mode.
  // ---------------------------------------------------------------------
  case class SessState(startUs: Long, lastUs: Long, n: Long)
  case class SessOut(user_id: Long, s_start: java.sql.Timestamp,
                     s_end: java.sql.Timestamp, n_events: Long)

  private[graft] val GapUs = 30L * 60 * 1000000L

  private def tsOfUs(us: Long): java.sql.Timestamp = {
    val ts = new java.sql.Timestamp(us / 1000)
    ts.setNanos(((us % 1000000) * 1000).toInt)
    ts
  }
  private def usOfTs(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000 + (ts.getNanos / 1000) % 1000

  /** Pure gap-session fold shared by BOTH custom-state APIs
    * (flatMapGroupsWithState and transformWithState): absorb sorted
    * event micros into an optional open session (startUs, lastUs, n),
    * emitting sessions closed by a gap. Keeping the state machine in
    * one place means the two API demonstrations cannot drift apart
    * while sharing one oracle. */
  private[graft] def foldSessions(uid: Long, times: Array[Long],
      init: Option[(Long, Long, Long)])
      : (List[SessOut], Option[(Long, Long, Long)]) = {
    var closed = List.empty[SessOut]
    var cur = init
    times.foreach { t =>
      cur = cur match {
        case None => Some((t, t, 1L))
        case Some((s0, last, n)) if t - last <= GapUs => Some((s0, t, n + 1))
        case Some((s0, last, n)) =>
          closed ::= SessOut(uid, tsOfUs(s0), tsOfUs(last + GapUs), n)
          Some((t, t, 1L))
      }
    }
    (closed.reverse, cur)
  }

  private def streamStatefulSession(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // r17: one data+sentinel batch (see stagedWithSentinel); event-time
    // timeouts all fire in the trailing flush batch instead of across
    // the sentinel + trailing batches — same closed-session rows.
    val srcDir = stagedWithSentinel(spark, sfDir, sentinelUser = -1L)
    val src = spark.readStream.schema(Schemas.events)
      .parquet(srcDir)
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
    val sessions = src.groupByKey(_._1)
      .flatMapGroupsWithState[SessState, SessOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessOut(uid, tsOfUs(s.startUs),
              tsOfUs(s.lastUs + GapUs), s.n))
          } else {
            val times = evs.map(e => usOfTs(e._2)).toArray.sorted
            val (closed, cur) = foldSessions(uid, times,
              state.getOption.map(s => (s.startUs, s.lastUs, s.n)))
            cur.foreach { case (s0, last, n) =>
              state.update(SessState(s0, last, n))
              state.setTimeoutTimestamp((last + GapUs) / 1000)
            }
            closed.iterator
          }
      }
    runToParquet(spark, sessions.toDF())
      .where(col("user_id") >= 0)
      .orderBy("user_id", "s_start")
  }

  // ---------------------------------------------------------------------
  // stream_transform_with_state — the SAME sessionization through Spark
  // 4's transformWithState (StatefulProcessor + ValueState + event-time
  // timers), the successor API to (flat)MapGroupsWithState: typed state
  // variables (value/list/map) instead of one state blob, explicit
  // timers instead of a single timeout, and schema-evolvable state.
  // Requires the RocksDB state store (column families) — also the
  // provider a 100 TB deployment runs, since its state lives off-heap
  // and on disk with incremental-snapshot checkpoints. Oracle: same
  // gap-sessionization SQL as stream_stateful_session.
  // ---------------------------------------------------------------------
  case class TwsState(startUs: Long, lastUs: Long, n: Long, timerMs: Long)

  private class SessionProcessor extends org.apache.spark.sql.streaming
      .StatefulProcessor[Long, (Long, java.sql.Timestamp), SessOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var state: ValueState[TwsState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[TwsState](
        "sess", Encoders.product[TwsState], TTLConfig.NONE)

    override def handleInputRows(uid: Long,
        rows: Iterator[(Long, java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[SessOut] = {
      val times = rows.map(e => usOfTs(e._2)).toArray.sorted
      val init = if (state.exists()) {
        val s = state.get()
        getHandle.deleteTimer(s.timerMs) // superseded by this batch
        Some((s.startUs, s.lastUs, s.n))
      } else None
      val (closed, cur) = foldSessions(uid, times, init)
      cur.foreach { case (s0, last, n) =>
        val timerMs = (last + GapUs) / 1000
        state.update(TwsState(s0, last, n, timerMs))
        getHandle.registerTimer(timerMs)
      }
      closed.iterator
    }

    override def handleExpiredTimer(uid: Long, timerValues: TimerValues,
        expired: ExpiredTimerInfo): Iterator[SessOut] =
      if (state.exists()) {
        val s = state.get()
        state.clear()
        Iterator.single(SessOut(uid, tsOfUs(s.startUs),
          tsOfUs(s.lastUs + GapUs), s.n))
      } else Iterator.empty
  }

  private def streamTransformWithState(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    graft.Session.withConfs(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      // r17: one data+sentinel batch (see stagedWithSentinel)
      val srcDir = stagedWithSentinel(spark, sfDir, sentinelUser = -1L)
      val src = spark.readStream.schema(Schemas.events)
        .parquet(srcDir)
        .withWatermark("ts", "1 hour")
        .select(col("user_id"), col("ts"))
        .as[(Long, java.sql.Timestamp)]
      val sessions = src.groupByKey(_._1)
        .transformWithState(new SessionProcessor,
          TimeMode.EventTime(), OutputMode.Append())
      runToParquet(spark, sessions.toDF())
        .where(col("user_id") >= 0)
        .orderBy("user_id", "s_start")
    }
  }

  // ---------------------------------------------------------------------
  // stream_watermark — the production shape: watermark + Append mode to
  // a parquet (file) sink; a window only emits once the watermark
  // passes its end, so state is bounded and late data is dropped. A
  // sentinel "flush" file with a far-future timestamp (processed last —
  // file sources order by modification time) advances the watermark
  // past every real window; the sentinel's own window stays un-emitted
  // and is filtered by the sentinel guard ts bound.
  // ---------------------------------------------------------------------
  private def streamWatermark(spark: SparkSession, sfDir: String): DataFrame = {
    // r17: one data+sentinel batch (see stagedWithSentinel); was 3
    val srcDir = stagedWithSentinel(spark, sfDir, sentinelUser = -1L)
    val src = spark.readStream.schema(Schemas.events)
      .parquet(srcDir)
    val agg = src
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("n_events"), col("sum_value"))
    runToParquet(spark, agg)
      .where(col("w_start") < lit(java.sql.Timestamp.valueOf("2029-01-01 00:00:00")))
      .orderBy("w_start")
  }

  // ---------------------------------------------------------------------
  // stream_dedup — at-least-once delivery repaired in-stream: the source
  // dir holds TWO copies of every event file (the reference's S3
  // redelivery case); dropDuplicatesWithinWatermark keeps state only
  // until the watermark passes, so dedup state is bounded at scale.
  // ---------------------------------------------------------------------
  private def streamDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val src = spark.readStream.schema(Schemas.events)
      .parquet(stagedParquet(spark, sfDir, "events", copies = 2))
    val deduped = src
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    runToParquet(spark, deduped)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------------
  // stream_join — stream-stream interval join: each purchase joined to
  // the same user's views in the preceding hour. Watermarks on both
  // sides + the time-range join condition bound the join state (views
  // older than the watermark minus the interval are evicted) — the
  // pattern that keeps stream-stream joins finite at 100 TB/day.
  // ---------------------------------------------------------------------
  /** Sentinel staging for the OUTER stream-stream join: each side
    * filters to one event_type BEFORE its watermark, so flushing both
    * sides' state needs one far-future sentinel PER TYPE (a single
    * sentinel would advance only the side whose filter it passes). */
  private def stagedWithTypeSentinels(spark: SparkSession, sfDir: String): String =
    stageCorpusWithSentinels(spark, sfDir, "stream_type_sentinels",
      Seq((-1L, -1L, Some("purchase")), (-2L, -1L, Some("view"))))

  // ---------------------------------------------------------------------
  // stream_join_outer — stream-stream LEFT OUTER interval join: every
  // purchase emits, view-less purchases as null rows — but ONLY once
  // the watermark proves no matching view can still arrive (the null
  // row is a promise about the future, so it must wait for state
  // eviction). The per-type sentinels advance both sides' watermarks
  // past all real data, flushing every pending outer row before the
  // query stops — without them the last hour of purchases would
  // silently never emit.
  // ---------------------------------------------------------------------
  private def streamJoinOuter(spark: SparkSession, sfDir: String): DataFrame =
    outerIntervalJoin(spark, sfDir, "leftOuter")

  // ---------------------------------------------------------------------
  // stream_join_outer / _full_outer / _right_outer — all three
  // watermark-eviction join shapes through one implementation. An
  // outer row is a promise about the future, so it only emits once the
  // watermark proves no partner can still arrive: LEFT evicts pending
  // purchases, RIGHT pending views, FULL both sides' state. Staging is
  // one micro-batch of all real data plus both type sentinels — rows
  // are never late against the initial watermark, and the eviction
  // runs in AvailableNow's trailing no-new-data micro-batch after the
  // sentinels move both watermarks past all real data. (One data batch
  // + one flush batch replaces round 3's one-checkpoint-commit-per-
  // staged-file shape, 4.5 s -> ~2 s at sf0.1.) The two sentinels join
  // each other (same user, same ts) and are dropped by the user_id
  // guard on the COALESCED key, which is non-null on whichever side
  // survived.
  // ---------------------------------------------------------------------
  private def outerIntervalJoin(spark: SparkSession, sfDir: String,
                                joinType: String): DataFrame = {
    val dir = stagedWithTypeSentinels(spark, sfDir)
    def side(kind: String, prefix: String) =
      spark.readStream.schema(Schemas.events)
        .parquet(dir)
        .where(col("event_type") === kind)
        .select(col("event_id").as(s"${prefix}_id"),
          col("user_id").as(s"${prefix}_user"),
          col("ts").as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", "1 hour")
    val joined = side("purchase", "p").join(side("view", "v"),
      expr("""p_user = v_user AND
              v_ts >= p_ts - INTERVAL 1 HOUR AND v_ts <= p_ts"""),
      joinType)
      .select(col("p_id"), col("v_id"),
        coalesce(col("p_user"), col("v_user")).as("user_id"),
        col("p_ts"), col("v_ts"))
    runToParquet(spark, joined)
      .where(col("user_id") >= 0) // drop sentinel rows from either side
      // null ids exist on both key columns now — pin null placement so
      // the row order matches the oracle's NULLS FIRST exactly
      .orderBy(asc_nulls_first("p_id"), asc_nulls_first("v_id"))
  }

  private def streamJoinFullOuter(spark: SparkSession, sfDir: String): DataFrame =
    outerIntervalJoin(spark, sfDir, "fullOuter")

  private def streamJoinRightOuter(spark: SparkSession, sfDir: String): DataFrame =
    outerIntervalJoin(spark, sfDir, "rightOuter")

  private def streamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stagedParquet(spark, sfDir, "events")
    def side(kind: String, prefix: String) =
      spark.readStream.schema(Schemas.events).parquet(dir)
        .where(col("event_type") === kind)
        .select(col("event_id").as(s"${prefix}_id"),
          col("user_id").as(s"${prefix}_user"),
          col("ts").as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", "1 hour")
    val joined = side("purchase", "p").join(side("view", "v"),
      expr("""p_user = v_user AND
              v_ts >= p_ts - INTERVAL 1 HOUR AND v_ts <= p_ts"""))
      .select(col("p_id"), col("v_id"), col("p_user").as("user_id"),
        col("p_ts"), col("v_ts"))
    runToParquet(spark, joined).orderBy("p_id", "v_id")
  }

  // ---------------------------------------------------------------------
  // stream_static_join — the enrichment shape: a stream joined to a
  // static (batch) dimension. The static side re-broadcasts per
  // micro-batch, needs no watermark and holds no join state — the
  // cheap, stateless cousin of the stream-stream join, and the right
  // tool whenever the right side is a slowly-changing dimension.
  // ---------------------------------------------------------------------
  private def streamStaticJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val src = spark.readStream.schema(Schemas.events)
      .parquet(stagedParquet(spark, sfDir, "events"))
    val dim = t(spark, sfDir, "events").select("event_type").distinct()
      .withColumn("category",
        when(col("event_type").isin("purchase", "signup"), "conversion")
          .otherwise("engagement"))
    val joined = src.join(broadcast(dim), Seq("event_type"))
      .select("event_id", "event_type", "category", "value")
    runToParquet(spark, joined).orderBy("event_id")
  }

  // ---------------------------------------------------------------------
  // stream_foreach_batch — the custom-sink escape hatch (the direct
  // analogue of the reference's per-object processing function): each
  // micro-batch lands as event_type-partitioned parquet via foreachBatch,
  // giving per-batch control (dynamic partition overwrite, upserts,
  // multi-sink fanout) while the checkpoint still guarantees each batch
  // is processed once.
  // ---------------------------------------------------------------------
  private def streamForeachBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val out = tempDir("graft_stream_feb_out_")
    val src = spark.readStream.schema(Schemas.events)
      .parquet(stagedParquet(spark, sfDir, "events"))
    runAvailableNow(src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append")
          .partitionBy("event_type")
          .option("compression", "snappy")
          .parquet(out)
      })
    spark.read.parquet(out)
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------------
  // stream_ann_index — the IVF ANN index MAINTAINED BY A STREAM: new
  // embedding batches assign their cells map-side (argmax over the
  // broadcast centroids — no shuffle, no index rebuild) and APPEND
  // into the hive-partitioned index layout; a probe after ingest is
  // partition-pruned exactly like the batch-built index and returns
  // the identical top-10 (append order is irrelevant to cell
  // contents), so this key shares `llm_ann_ivf`'s oracle verbatim.
  // This is how a vector index stays fresh at 100 TB: per-batch work
  // is O(new vectors), the probe cost never changes.
  // ---------------------------------------------------------------------
  private def streamAnnIndex(spark: SparkSession, sfDir: String): DataFrame =
    graft.queries.LlmVector.probeIvfIndex(spark, sfDir,
      annIndexIntake(spark, sfDir,
        stagedParts(spark, sfDir, "embeddings", col("vec_id") % 2, 2)).liveDirs)

  // ---------------------------------------------------------------------
  // stream_lsh_index — the LSH bucket index MAINTAINED BY A STREAM: the
  // hyperplane twin of stream_ann_index, riding the same tiered run
  // chain. Arriving embedding batches hash their bucket rows map-side
  // (the rotated planes are plan literals; bits is pinned at
  // index-build time from the indexed corpus size, the same convention
  // as ivfK in the IVF twin) and commit level-0 runs partitioned by
  // hash table; the post-ingest derivation probes the chained index
  // ids-only and must return EXACTLY llm_ann_lsh's top-50 (bucket
  // contents are a set — batch boundaries and merge timing cannot
  // change them), so this key shares AnnLshOracle verbatim:
  // "maintained state == batch twin" is the checked property. At
  // 100 TB: per-batch work is O(arrivals · L · bits) dot products +
  // a batch-sized write; the index on disk stays live-chain-sized
  // (merged-away runs are vacuumed); probes never re-hash the corpus.
  // ---------------------------------------------------------------------
  private def streamLshIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val nBits = graft.queries.LlmVector.lshBits(spark, sfDir)
    val res = tieredIntake(spark, schemas("embeddings"),
      stagedParts(spark, sfDir, "embeddings", col("vec_id") % 2, 2),
      "graft_stream_lsh_idx_", Some("tbl"), lshRowsOf(nBits))
    graft.queries.LlmVector.annLshFromIndex(spark, sfDir, res.liveDirs)
  }

  // ---------------------------------------------------------------------
  // stream_semdedup — streaming SEMANTIC dedup over the chained LSH
  // index (VERDICT r13 #8): the `stream_incremental_dedup` shape on
  // vectors, completing the batch/stream symmetry of the dedup tiers.
  // Arriving embedding batches first get their near-dup verdict
  // against the PRE-batch chain (bucket-rows hashed map-side →
  // ids-only (tbl, bucket) equi-join against the indexed runs → exact
  // cosine ≥ 0.4 re-rank on candidates only → dup_of = smallest
  // earlier id), then append their own bucket rows as a level-0 run —
  // so each vector is judged exactly once, against everything indexed
  // before it, and merge/vacuum timing can never change a verdict
  // (pre-batch chain contents are a set). The oracle replays the
  // even/odd half-split staging: batch-0 (even ids) all kept, an odd
  // id dropped iff some even bucket-mate scores ≥ 0.4. Candidate
  // generation is the occupancy-bounded bucket join of the ARRIVALS
  // only, the index never rebuilds, and disk stays live-chain-sized
  // under the grace-TTL vacuum. The cosine re-rank, however, joins each
  // batch's candidates to `LlmVector.emb`, a full scan and l2norm of
  // the embeddings table, so every micro-batch still reads the corpus.
  // ---------------------------------------------------------------------
  private def streamSemDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val nBits = graft.queries.LlmVector.lshBits(spark, sfDir)
    val res = tieredIntake(spark, schemas("embeddings"),
      stagedParts(spark, sfDir, "embeddings", col("vec_id") % 2, 2),
      "graft_stream_semded_", Some("tbl"), lshRowsOf(nBits),
      verdictOf = Some(
        graft.queries.LlmVector.semDedupVerdicts(spark, sfDir, _, _)))
    spark.read.parquet(res.verdictDirs: _*).orderBy("vec_id")
  }

  /** The IVF index on the [[tieredIntake]] chain, run by the
    * `stream_ann_index` key (2 micro-batches: corpus halves) and over
    * many batches by Round12Spec–Round14Spec. Each micro-batch assigns
    * cells map-side against the broadcast parity centroids (the fused
    * BestCentroid argmax; nlist is fixed at index-build time from the
    * indexed corpus — the k ∝ N rule — so the maintained index keeps
    * sharing llm_ann_ivf's oracle); runs are partitioned by cell. */
  private[graft] def annIndexIntake(spark: SparkSession, sfDir: String,
      srcDir: String,
      stats: Option[mutable.ArrayBuffer[IntakeBatchStat]] = None)
      : IntakeResult = {
    val k = graft.queries.LlmVector.ivfK(spark, sfDir)
    tieredIntake(spark, schemas("embeddings"), srcDir,
      "graft_stream_ann_idx_", Some("cell"),
      b => graft.queries.LlmVector.assignCells(spread(b), k), stats = stats)
  }

  /** LSH bucket rows of a micro-batch of embeddings, partitioned by
    * hash table in the run (the LSH index and semantic-dedup chains). */
  private def lshRowsOf(nBits: Int)(batch: DataFrame): DataFrame =
    graft.queries.LlmVector.lshBucketRows(spread(batch), nBits)

  /** Spread a micro-batch of embeddings before its CPU-heavy row
    * function (the O(arrivals·k) IVF assignment, the O(arrivals·L·bits)
    * bucket hash). The batch arrives as one staged file, a handful of
    * scan splits: the bare scan measured 22–25 s and a coalesce(1)
    * variant 47 s for the 2-half ×64 intake, against ~11 s with the
    * input spread. `batch.inputFiles` is empty on a micro-batch frame,
    * so a bytes-conditional spread cannot engage. With the run's own
    * partition exchange this costs ~+0.7 s/batch at steady state over
    * a single-writer form (two extra stages on a KB-sized batch): the
    * price of intake that keeps up when a batch is big. */
  private def spread(batch: DataFrame): DataFrame =
    batch.repartition(col("vec_id"))

  /** Per-batch intake stats, filled only when a caller passes `stats`
    * (the chain specs); the production keys skip the extra counts.
    * `indexRowsBefore` and `runsBefore` are the live chain's rows and
    * data files before the batch, `deadFilesBefore` the files of
    * merged-away runs still inside their grace window (so runsBefore +
    * deadFilesBefore is the batch's disk high-water), and
    * `reclaimedDirs`/`reclaimedFiles` what this batch's TTL vacuum
    * unlinked. */
  private[graft] case class IntakeBatchStat(batchId: Long, arrivals: Long,
      indexRowsBefore: Long, runsBefore: Int, secs: Double, merges: Int,
      reclaimedDirs: Int, reclaimedFiles: Int, deadFilesBefore: Int)

  /** What [[tieredIntake]] leaves: `liveDirs`, the run chain after the
    * stream (oldest first); `verdictDirs`, the committed per-batch
    * verdicts in batch order (empty without a verdict hook);
    * `reclaimedDirs`/`reclaimedFiles`, every merged-away run unlinked
    * over the stream's life, and `reclaimedInStreamDirs` the part the
    * TTL vacuum unlinked before the stream closed. */
  private[graft] case class IntakeResult(liveDirs: Seq[String],
      reclaimedDirs: Int, reclaimedFiles: Int,
      reclaimedInStreamDirs: Int, verdictDirs: Seq[String])

  /** Same-level runs that merge into one run a level up. */
  private val CompactFanout = 4

  /** Batches a merged-away run stays on disk after its merge commits. */
  private val GraceBatches = 2

  /** The size-tiered (Bentley–Saxe) run chain that keeps a streamed
    * index fresh: the IVF index ([[annIndexIntake]]), the LSH index and
    * semantic dedup (`stream_lsh_index`, `stream_semdedup`) and the text
    * dedup index ([[incrementalDedupIntake]]) all run on it. A caller
    * supplies only its data: the source `schema`, `rowsOf` (a
    * micro-batch's run rows), the run layout (hive-partitioned on
    * `partCol`, or unpartitioned) and an optional `verdictOf`.
    *
    * APPEND + MERGE. Each micro-batch (one staged file) commits a
    * level-0 run `b<id>` holding only its own rows, so per-batch work is
    * O(arrivals) plus a batch-sized write however big the index is (the
    * first dedup cut rewrote the whole index per batch: 23.6× at ×64
    * batches). When [[CompactFanout]] runs share a level they merge into
    * one run a level up, `m<id>_l<lvl>_<len>`. Every row is rewritten at
    * most log₄(batches) times and the chain holds ≤ 3·log₄(batches)+1
    * live runs. A run is one file per `partCol` value (one file when
    * unpartitioned), so live files are bounded by runs · partition
    * values instead of batches · values (the append-only IVF index held
    * 1,919 live files after 16 batches). Which run a row lives in cannot
    * change a probe: runs are a partition of a set.
    *
    * VERDICTS. `verdictOf(rows, priorDirs)` judges a batch's rows
    * against the PRE-batch chain and is written to `v<id>` beside the
    * runs. Each arrival is judged exactly once, against everything
    * indexed before it, and merge timing cannot change a verdict. With
    * a hook the rows are persisted for the batch, so they are computed
    * once for the verdict and the run write.
    *
    * IDEMPOTENCY. Run, merge and verdict dirs have deterministic names
    * and are _SUCCESS-guarded, so a replayed micro-batch reuses what it
    * committed, and the in-memory chain never re-appends a run it holds
    * live or retired (a second append would duplicate its rows in every
    * later merge and probe).
    *
    * READ-GRACE TTL. A merged-away run is dead once the merge commits,
    * but a reader of the pre-merge chain may still be draining, so the
    * loop unlinks it [[GraceBatches]] batches later (retire at N, unlink
    * at N+2). Disk is the live chain plus one grace window while the
    * stream runs; at its end a sweep unlinks the rest (probes read the
    * returned chain). Merges are unions, so deletion timing cannot
    * change the live chain's contents.
    *
    * RESTART RECOVERY. The index is the expensive artifact, so a
    * restarted stream must not rebuild it. Given `resumeRoot` (and
    * `checkpointDir`, so the source offsets resume too), the chain state
    * is rebuilt from the committed dirs by [[recoverChain]] and intake
    * continues at the first un-checkpointed batch; the guards above make
    * that batch idempotent whether the crash hit before the run write,
    * after it, or after a merge. `crashAtBatch` injects the crash for
    * tests, at batch entry or, with `crashAfterRun`, after the run
    * write. */
  private[graft] def tieredIntake(spark: SparkSession, schema: StructType,
      srcDir: String, rootPrefix: String, partCol: Option[String],
      rowsOf: DataFrame => DataFrame,
      verdictOf: Option[(DataFrame, Seq[String]) => DataFrame] = None,
      stats: Option[mutable.ArrayBuffer[IntakeBatchStat]] = None,
      resumeRoot: Option[String] = None,
      checkpointDir: Option[String] = None,
      crashAtBatch: Option[Long] = None,
      crashAfterRun: Boolean = false)
      : IntakeResult = {
    val root = resumeRoot.getOrElse(tempDir(rootPrefix))
    // (level, dir) live runs oldest first; (retireBatchId, dir) runs
    // awaiting the TTL; both empty for a fresh root
    var (chain, retired, verdictDirs) = recoverChain(root)
    var reclaimedInStream = 0
    var reclaimedFiles = 0
    def committed(dir: String) = new java.io.File(dir, "_SUCCESS").exists()
    def filesOf(runs: Seq[(Any, String)]) =
      runs.map(r => countParquetFiles(r._2)).sum
    def writeRun(rows: DataFrame, dir: String): Unit = (partCol match {
      case Some(c) => rows.repartition(col(c)).write.partitionBy(c)
      case None => rows.coalesce(1).write
    }).mode("overwrite").parquet(dir)
    val writer = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (crashAtBatch.contains(batchId) && !crashAfterRun)
          throw new IllegalStateException(
            s"injected crash at entry of batch $batchId")
        // stats-only counts, taken before the timed window
        val (rowsBefore, filesBefore) = stats.fold((-1L, -1)) { _ =>
          val files = filesOf(chain)
          (if (files == 0) 0L
           else graft.queries.LlmVector.readRuns(spark, chain.map(_._2))
             .count(), files)
        }
        val deadFilesBefore = stats.fold(-1)(_ => filesOf(retired))
        val arrivals = stats.fold(-1L)(_ => batch.count())
        val t0 = System.nanoTime()
        val run = s"$root/b$batchId"
        val rows = rowsOf(batch)
        if (verdictOf.nonEmpty) rows.persist()
        verdictOf.foreach { v =>
          val vdir = s"$root/v$batchId"
          if (!committed(vdir))
            v(rows, chain.map(_._2)).write.mode("overwrite").parquet(vdir)
          if (!verdictDirs.contains(vdir)) verdictDirs :+= vdir
        }
        if (!committed(run)) writeRun(rows, run)
        if (verdictOf.nonEmpty) rows.unpersist()
        if (crashAtBatch.contains(batchId) && crashAfterRun)
          throw new IllegalStateException(
            s"injected crash after run write of batch $batchId")
        if (!chain.exists(_._2 == run) && !retired.exists(_._2 == run))
          chain :+= ((0, run))
        var merges = 0
        var tail = chain.takeRight(CompactFanout)
        while (tail.length == CompactFanout &&
               tail.forall(_._1 == tail.head._1)) {
          val lvl = tail.head._1
          val merged = s"$root/m${batchId}_l${lvl + 1}_${chain.length}"
          if (!committed(merged))
            writeRun(graft.queries.LlmVector.readRuns(spark, tail.map(_._2)),
              merged)
          chain = chain.dropRight(CompactFanout) :+ ((lvl + 1, merged))
          retired ++= tail.map(r => (batchId, r._2))
          merges += 1
          tail = chain.takeRight(CompactFanout)
        }
        // TTL vacuum, idempotent under replay: unlinking a gone dir is a
        // no-op, and foreachBatch replays only the latest batch while a
        // run stays in `retired` (seen by the append guard above) for
        // GraceBatches further commits
        val (due, waiting) = retired.partition(_._1 + GraceBatches <= batchId)
        val dueFiles = filesOf(due)
        due.foreach(r => FileUtils.deleteQuietly(new java.io.File(r._2)))
        retired = waiting
        reclaimedInStream += due.length
        reclaimedFiles += dueFiles
        stats.foreach(_ += IntakeBatchStat(batchId, arrivals, rowsBefore,
          filesBefore, (System.nanoTime() - t0) / 1e9, merges,
          due.length, dueFiles, deadFilesBefore))
      }
    checkpointDir.fold(runAvailableNow(writer))(runAvailableNow(writer, _))
    val closeFiles = filesOf(retired)
    retired.foreach(r => FileUtils.deleteQuietly(new java.io.File(r._2)))
    IntakeResult(chain.map(_._2), reclaimedInStream + retired.length,
      reclaimedFiles + closeFiles, reclaimedInStream, verdictDirs)
  }

  /** Rebuild a tiered run chain's in-memory state from its committed
    * on-disk dirs (the restart-recovery path). Lists the
    * _SUCCESS-committed dirs under `root` and replays the deterministic
    * merge algebra over them in creation order (by batch id; within a
    * batch the level-0 run precedes its merges, merges cascade by
    * increasing level — the names `b<id>` / `m<id>_l<lvl>_<len>` encode
    * exactly this). A merge dir consumed the trailing [[CompactFanout]]
    * level-(lvl−1) runs of the chain at its commit time; because chain
    * levels are non-increasing head→tail and a 4th same-level run merges
    * the moment it appears, the still-on-disk survivors of that consumed
    * set are exactly the trailing level-(lvl−1) entries of the replayed
    * chain (already-reclaimed members simply never enter the replay) —
    * so the replay needs no history of unlinked runs. Survivors move to
    * the retired list with the merge's ORIGINAL batch id, so the resumed
    * loop's read-grace TTL unlinks them on the same schedule as an
    * uninterrupted stream. Returns (live chain oldest-first, retired
    * awaiting TTL, committed verdict dirs in batch order). */
  private def recoverChain(root: String)
      : (Vector[(Int, String)], Vector[(Long, String)], Vector[String]) = {
    val runPat = "b(\\d+)".r
    val mergePat = "m(\\d+)_l(\\d+)_(\\d+)".r
    val verdictPat = "v(\\d+)".r
    val committed = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(d => new java.io.File(d, "_SUCCESS").exists())
      .map(_.getName)
    // (batchId, kindOrder, level, name): level-0 runs sort before the
    // merges of their batch, cascading merges by ascending level
    val events = committed.flatMap {
      case n @ runPat(b) => Some((b.toLong, 0, 0, n))
      case n @ mergePat(b, l, _) => Some((b.toLong, 1, l.toInt, n))
      case _ => None
    }.sortBy(e => (e._1, e._2, e._3))
    var chain = Vector.empty[(Int, String)]
    var retired = Vector.empty[(Long, String)]
    events.foreach { case (batchId, kind, level, name) =>
      val dir = s"$root/$name"
      if (kind == 0) chain = chain :+ ((0, dir))
      else {
        val consumed = chain.reverse.takeWhile(_._1 == level - 1)
          .take(CompactFanout)
        chain = chain.dropRight(consumed.length) :+ ((level, dir))
        retired = retired ++ consumed.reverse.map(c => (batchId, c._2))
      }
    }
    val verdicts = committed.collect { case n @ verdictPat(_) => n }
      .sortBy { case verdictPat(b) => b.toLong }
      .map(n => s"$root/$n").toVector
    (chain, retired, verdicts)
  }

  /** Data files under a (possibly hive-partitioned) parquet dir. */
  private def countParquetFiles(dir: String): Int = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0
    else {
      val s = Files.walk(root)
      try s.filter((p: Path) =>
        p.getFileName.toString.endsWith(".parquet")).count().toInt
      finally s.close()
    }
  }

  /** The snapshot loop of the mergeable-summary keys: `init` is
    * written to `b_init` under a per-call root, and each micro-batch of
    * the file stream over `srcDir` (one file per batch) writes
    * `merge(prev, batch)` to `b<batchId>`, never over what it reads.
    * The superseded snapshot is deleted once the next one commits. A
    * batch whose snapshot already holds _SUCCESS is not merged again,
    * so a replayed batch cannot add its partial (cell sums, counts)
    * twice; one without _SUCCESS is rewritten. Returns the last
    * snapshot. */
  private def foldSnapshots(spark: SparkSession, schema: StructType,
      srcDir: String, init: DataFrame)(
      merge: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val root = tempDir("graft_stream_fold_")
    var cur = s"$root/b_init"
    init.write.mode("overwrite").parquet(cur)
    runAvailableNow(spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val next = s"$root/b$batchId"
        if (!new java.io.File(next, "_SUCCESS").exists())
          merge(spark.read.parquet(cur), batch)
            .write.mode("overwrite").parquet(next)
        // a replayed batch finds `cur` already naming its own snapshot
        if (next != cur) FileUtils.deleteQuietly(new java.io.File(cur))
        cur = next
      })
    spark.read.parquet(cur)
  }

  /** `a + b` across a full-outer summary merge, a missing side
    * counting 0. */
  private def addCounts(a: String, b: String): Column =
    coalesce(col(a), lit(0L)) + coalesce(col(b), lit(0L))

  // ---------------------------------------------------------------------
  // stream_merge_upsert — streaming CDC upsert: change batches arrive
  // on a file stream and foreachBatch MERGEs each one into a parquet
  // target snapshot (matched keys update, new keys insert, the rest
  // carry forward) — the incremental-materialization loop every
  // warehouse-on-a-lake runs, here with plain parquet owning the MERGE
  // natively. Each micro-batch writes the merged snapshot to a FRESH
  // directory and repoints (never overwrites what it is still reading
  // from); at 100 TB the same shape is one full-outer join per batch,
  // co-partitioned on the key, with the snapshot swap being a catalog
  // pointer flip. The change feed is two files — updates (price bump +
  // status 'R' on keys ≡0 mod 97), then inserts (keys ≡0 mod 101
  // shifted past max(o_orderkey)) — with ordered mtimes so maxFilesPerTrigger=1
  // yields exactly two deterministic micro-batches; the key sets are
  // disjoint, so the final state equals the one-shot batch MERGE and
  // the oracle is `etl_merge_upsert`'s twin without the action column.
  // ---------------------------------------------------------------------
  private def streamMergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val snapshot = t(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val srcDir = stagedDir(sfDir, "stream_cdc_merge") { dir =>
      val updates = snapshot.where(col("o_orderkey") % 97 === 0)
        .withColumn("o_totalprice",
          (dec(col("o_totalprice")) + lit(BigDecimal("1000.00"))).cast("double"))
        .withColumn("o_orderstatus", lit("R"))
      // Shift inserted keys past the snapshot's max key (not a fixed
      // +10M) so they stay disjoint from real keys at any scale factor.
      val shift = snapshot.agg(max("o_orderkey")).head.getLong(0) + 1L
      val inserts = snapshot.where(col("o_orderkey") % 101 === 0)
        .select((col("o_orderkey") + lit(shift)).as("o_orderkey"),
          col("o_custkey"), lit("N").as("o_orderstatus"), col("o_totalprice"))
      stageInOrder(dir, Seq(updates, inserts))
    }
    def latest(c: String) = coalesce(col(s"s.$c"), col(s"t.$c")).as(c)
    foldSnapshots(spark, snapshot.schema, srcDir, snapshot) { (prev, batch) =>
      prev.as("t")
        .join(batch.as("s"), col("t.o_orderkey") === col("s.o_orderkey"),
          "full_outer")
        .select(snapshot.columns.toSeq.map(latest): _*)
    }.select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("bigint").as("price_e2"))
      .orderBy("o_orderkey")
  }

  // ---------------------------------------------------------------------
  // stream_incremental_agg — incremental MATERIALIZED AGGREGATE
  // maintenance: the rollup table a warehouse keeps current without
  // ever re-scanning history. Each micro-batch computes its own
  // partial aggregate (count + scaled-bigint sum per group — both
  // MERGEABLE, which is the property that makes this work), then a
  // full-outer join adds the partials into the snapshot. Per-batch
  // work is O(batch + |groups|), independent of total history — at
  // 100 TB the snapshot is group-cardinality-sized, co-partitioned
  // with the partials, and the swap is a catalog pointer flip. The
  // sum is per-row-rounded cents (exact integers), so partial-merge
  // order can never change the result — the oracle is the one-shot
  // batch aggregate over the same corpus, bit-for-bit.
  // ---------------------------------------------------------------------
  private def streamIncrementalAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = t(spark, sfDir, "events")
    foldSnapshots(spark, ev.schema,
        stagedParts(spark, sfDir, "events", col("event_id") % 2, 2),
        ev.limit(0).select(col("event_type"), lit(0L).as("n_events"),
          lit(0L).as("sum_e2"))) { (prev, batch) =>
      val part = batch.groupBy("event_type").agg(
        count(lit(1)).as("b_cnt"),
        sum(round(col("value") * 100).cast("bigint")).as("b_sum"))
      prev.join(part, Seq("event_type"), "full_outer")
        .select(col("event_type"),
          addCounts("n_events", "b_cnt").as("n_events"),
          addCounts("sum_e2", "b_sum").as("sum_e2"))
    }.orderBy("event_type")
  }

  // ---------------------------------------------------------------------
  // stream_countmin — incremental COUNT-MIN SKETCH maintenance: the
  // frequency summary a stream keeps when even the per-key count table
  // is too big to materialize. Each micro-batch builds its own d=3 ×
  // w=4096 cell partial from the batch's per-key counts (same
  // md5-string cells as agg_countmin — engine-identical slots), then
  // full-outer-adds it into the snapshot: CMS cells are SUMS, so the
  // merge is associative and the maintained sketch is BIT-IDENTICAL
  // to the one-shot batch sketch over the same corpus — which is
  // exactly what the DuckDB oracle replays (the equality IS the
  // mergeability property, proved per run). A replayed batch must not
  // add its cell sums twice, which [[foldSnapshots]]' _SUCCESS guard
  // ensures. Per-batch work is O(batch keys + d·w); the snapshot is
  // d·w-bounded (≤ 12,288 rows) FOREVER, independent of stream length
  // or key cardinality — the whole point of shipping a sketch instead
  // of exact counts. The final answer probes user_ids 1–5 against the
  // maintained sketch next to their exact counts (estimate ≥ exact, by
  // how much).
  // ---------------------------------------------------------------------
  private def streamCountMin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = t(spark, sfDir, "events")
    val cellsOf = "transform(sequence(0, 2), r -> struct(r AS row, " +
      "substring(md5(concat(cast(user_id as string), '#', " +
      "cast(r as string))), 1, 3) AS cell))"
    val sketch = foldSnapshots(spark, ev.schema,
        stagedParts(spark, sfDir, "events", col("event_id") % 2, 2),
        ev.limit(0).selectExpr("CAST(0 AS INT) AS row", "'' AS cell",
          "CAST(0 AS BIGINT) AS cnt")) { (prev, batch) =>
      val part = batch.groupBy("user_id").agg(count(lit(1)).as("cnt"))
        .selectExpr(s"explode($cellsOf) AS rc", "cnt")
        .groupBy(col("rc.row").as("row"), col("rc.cell").as("cell"))
        .agg(sum(col("cnt")).as("b_cnt"))
      prev.join(part, Seq("row", "cell"), "full_outer")
        .select(col("row"), col("cell"), addCounts("cnt", "b_cnt").as("cnt"))
    }
    ev.groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
      .where(col("user_id") <= 5)
      .selectExpr("user_id", "exact_cnt", s"explode($cellsOf) AS rc")
      .select(col("user_id"), col("exact_cnt"),
        col("rc.row").as("row"), col("rc.cell").as("cell"))
      .join(broadcast(sketch), Seq("row", "cell"))
      .groupBy("user_id", "exact_cnt")
      .agg(min(col("cnt")).as("est_cnt"))
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------------
  // stream_quantile_hist — EXACT streaming quantiles via mergeable
  // value histograms: per event type, each micro-batch aggregates to a
  // (cents value → count) histogram and full-outer-merges into the
  // snapshot — histogram merge is LOSSLESS (counts add), so unlike
  // sketch quantiles the maintained p50/p90/p99 are EXACTLY the batch
  // quantiles, while state stays bounded by the value domain
  // (vocab-bound, the agg_gini device made incremental). This is the
  // production trade: when the domain is quantizable (money, latencies
  // in µs buckets), a mergeable exact histogram beats t-digest — same
  // bounded state, zero error. The histogram is folded by
  // [[foldSnapshots]], whose _SUCCESS guard keeps a replayed batch
  // from adding its counts twice. Quantile rule: smallest value whose
  // running count reaches ceil(p·n), computed identically in both
  // engines via integer cross-multiplication (cum·100 ≥ p100·n — no
  // ceil, no floats); the DuckDB oracle computes the same rule
  // directly on the full table, which equals the merged-histogram
  // answer precisely BECAUSE merge is lossless.
  // ---------------------------------------------------------------------
  private def streamQuantileHist(spark: SparkSession,
                                 sfDir: String): DataFrame = {
    val ev = t(spark, sfDir, "events")
    val hist = foldSnapshots(spark, ev.schema,
        stagedParts(spark, sfDir, "events", col("event_id") % 2, 2),
        ev.limit(0).selectExpr("event_type",
          "CAST(0 AS BIGINT) AS v", "CAST(0 AS BIGINT) AS cnt")) {
      (prev, batch) =>
        val part = batch
          .selectExpr("event_type", "cast(round(value * 100) as bigint) AS v")
          .groupBy("event_type", "v").agg(count(lit(1)).as("b_cnt"))
        prev.join(part, Seq("event_type", "v"), "full_outer")
          .select(col("event_type"), col("v"),
            addCounts("cnt", "b_cnt").as("cnt"))
    }.where(col("cnt") > 0)
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.partitionBy("event_type").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = hist.groupBy("event_type").agg(sum(col("cnt")).as("n"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .join(broadcast(tot), Seq("event_type"))
    def pick(p100: Int, name: String) = cum
      .where(col("cum") * 100 >= col("n") * p100)
      .groupBy("event_type").agg(min(col("v")).as(name))
    pick(50, "p50_c")
      .join(pick(90, "p90_c"), Seq("event_type"))
      .join(pick(99, "p99_c"), Seq("event_type"))
      .join(tot, Seq("event_type"))
      .select("event_type", "n", "p50_c", "p90_c", "p99_c")
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------------
  // stream_hll_distinct — incremental APPROXIMATE-DISTINCT maintenance:
  // the streaming cardinality monitor ("distinct users per event class,
  // updated every batch") kept as a DataSketches HLL sketch per key,
  // each micro-batch hll_sketch_agg'd and hll_union'd into the
  // snapshot — the mergeable-summaries pattern stream_countmin applies
  // to frequencies, applied to cardinality. State is sketch-bounded
  // (lgK=14 ≈ KBs per key) FOREVER, independent of stream length —
  // exactly why monitors ship HLL instead of distinct sets. The sketch
  // is folded by [[foldSnapshots]] like stream_countmin's (HLL union
  // is max-of-registers, so even a double-union would be harmless, but
  // the fold keeps one exactly-once discipline for every summary).
  // Oracle-BOUNDED like the batch sketch keys: the output carries the
  // exact distinct count plus merge_consistent (|maintained − one-shot|
  // ≤ 2% of one-shot) and within_bound (|maintained − exact| ≤ 5% of
  // exact) — DuckDB independently computes the exact side and asserts
  // both flags TRUE.
  // ---------------------------------------------------------------------
  private def streamHllDistinct(spark: SparkSession,
                                sfDir: String): DataFrame = {
    val ev = t(spark, sfDir, "events")
    val maintained = foldSnapshots(spark, ev.schema,
        stagedParts(spark, sfDir, "events", col("event_id") % 2, 2),
        ev.limit(0).groupBy("event_type")
          .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))) {
      (prev, batch) =>
        val part = batch.groupBy("event_type")
          .agg(expr("hll_sketch_agg(user_id, 14)").as("b_sk"))
        prev.join(part, Seq("event_type"), "full_outer")
          .selectExpr("event_type",
            """CASE WHEN sk IS NULL THEN b_sk
                    WHEN b_sk IS NULL THEN sk
                    ELSE hll_union(sk, b_sk) END AS sk""")
    }.selectExpr("event_type", "hll_sketch_estimate(sk) AS est_users")
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"),
        expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))")
          .as("oneshot_est"))
    maintained.join(exact, Seq("event_type"))
      .selectExpr("event_type", "exact_users",
        "abs(est_users - oneshot_est) * 50 <= oneshot_est" +
          " AS merge_consistent",
        "abs(est_users - exact_users) * 20 <= exact_users" +
          " AS within_bound")
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------------
  // stream_topk — streaming HEAVY HITTERS with BOUNDED state: a top-m
  // summary (m=64 keys) maintained per micro-batch by merge-and-prune —
  // each batch's exact counts full-outer-merge into the summary, then
  // only the m largest (count desc, key) survive. This is the mergeable
  // heavy-hitters summary (SpaceSaving/Misra-Gries merge, Agarwal et
  // al., "Mergeable Summaries"): summary size is m FOREVER, independent
  // of stream length or key cardinality, and surviving counts are LOWER
  // bounds whose error is bounded by the pruned mass. Distinct keys
  // exceed m even at verify scale (150 users at sf0.01), so pruning is
  // real — the key is still oracle-able because the batch split
  // (even/odd event_id) and the (count desc, key) prune order are both
  // deterministic: the oracle replays the two merge rounds verbatim.
  // At 100 TB the same code runs with per-partition summaries merged
  // associatively (the property the paper proves). The per-batch
  // window ranks ≤ m + |batch keys| rows — summary-sized, never
  // stream-sized.
  // ---------------------------------------------------------------------
  private def streamTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = t(spark, sfDir, "events")
    val wTop = Window.orderBy(col("cnt").desc, col("user_id"))
    foldSnapshots(spark, ev.schema,
        stagedParts(spark, sfDir, "events", col("event_id") % 2, 2),
        ev.limit(0).select(col("user_id"), lit(0L).as("cnt"))) {
      (prev, batch) =>
        val part = batch.groupBy("user_id").agg(count(lit(1)).as("b_cnt"))
        prev.join(part, Seq("user_id"), "full_outer")
          .select(col("user_id"), addCounts("cnt", "b_cnt").as("cnt"))
          .withColumn("rk", row_number().over(wTop))
          .where(col("rk") <= 64)
          .select("user_id", "cnt")
    }.withColumn("rk", row_number().over(wTop))
      .where(col("rk") <= 10)
      .select(col("rk"), col("user_id"), col("cnt"))
      .orderBy("rk")
  }

  // ---------------------------------------------------------------------
  // stream_dedup_minhash — STREAMING near-duplicate detection: documents
  // arrive in micro-batches, each computes its MinHash signature and LSH
  // band hashes map-side (LlmText.signedOn, the batch 12-hash/6-band
  // pipeline), and per (band, bucket) a flatMapGroupsWithState group
  // holds the signatures seen so far. A new arrival compares against its
  // bucket's state only — the streaming equivalent of the batch band
  // equi-join — so per-batch work is O(new docs × bucket occupancy),
  // never corpus × corpus. Emission is order-independent: whichever
  // member of a duplicate pair arrives LAST emits (higher_id, lower_id),
  // so the final per-doc min-dup aggregation equals the batch answer for
  // any arrival order; the oracle is the batch LSH pipeline thresholded
  // at signature agreement ≥ 6/12 (est. Jaccard ≥ 0.5).
  //
  // State at 100 TB: the full signature index, spread over band×bucket
  // keys in the state store (RocksDB at scale) — true streaming dedup
  // keeps its history by design; pipelines that only need
  // recent-window dedup add a watermark TTL on the bucket state.
  // ---------------------------------------------------------------------
  case class SigDoc(id: Long, sig: Seq[String])
  case class BucketState(docs: Seq[SigDoc])
  case class DupEmit(dup_id: Long, dup_of: Long)

  /** Documents as two micro-batches, even doc_ids then odd: enough to
    * prove cross-batch state without a per-file checkpoint storm. */
  private def streamDedupMinhash(spark: SparkSession, sfDir: String): DataFrame =
    streamDedupMinhashStaged(spark,
      stagedParts(spark, sfDir, "documents", col("doc_id") % 2, 2))

  private[graft] def streamDedupMinhashStaged(spark: SparkSession,
                                              srcDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val src = spark.readStream.schema(graft.Tables.schemas("documents"))
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val banded = graft.queries.LlmText.signedOn(src)
      .selectExpr("doc_id", "sig", "posexplode(bands) AS (band_idx, band_hash)")
      .selectExpr("concat(band_idx, '|', band_hash) AS bucket",
        "doc_id", "sig")
      .as[(String, Long, Seq[String])]
    val pairs = banded.groupByKey(_._1)
      .flatMapGroupsWithState[BucketState, DupEmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[(String, Long, Seq[String])],
         state: GroupState[BucketState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[DupEmit]
          val seen = scala.collection.mutable.ArrayBuffer.empty[SigDoc]
          seen ++= state.getOption.map(_.docs).getOrElse(Seq.empty)
          rows.map(r => SigDoc(r._2, r._3.toIndexedSeq)).toArray
            .sortBy(_.id).foreach { n =>
              seen.foreach { e =>
                if (e.id != n.id) {
                  var agree = 0
                  var i = 0
                  while (i < n.sig.length) {
                    if (n.sig(i) == e.sig(i)) agree += 1
                    i += 1
                  }
                  if (agree >= 6)
                    out += (if (n.id > e.id) DupEmit(n.id, e.id)
                            else DupEmit(e.id, n.id))
                }
              }
              seen += n
            }
          state.update(BucketState(seen.toSeq))
          out.iterator
      }
    // Band-level emissions collapse to one row per duplicate document;
    // this runs on the SINK re-read (batch), not inside the stream.
    runToParquet(spark, pairs.toDF())
      .distinct()
      .groupBy("dup_id").agg(min(col("dup_of")).as("dup_of"))
      .orderBy("dup_id")
  }

  // ---------------------------------------------------------------------
  // stream_incremental_dedup — the steady-state INTAKE dedup loop as a
  // stream (VERDICT r9 #7: the streaming twin of llm_incremental_dedup's
  // batch boundary probe). Deliveries arrive as micro-batches; the
  // maintained state is the dedup INDEX a production pipeline persists
  // anyway — normalized-text fingerprints for the exact tier, minhash
  // signatures + LSH band hashes + shingle sets for the near tier — kept
  // on the [[tieredIntake]] run chain. Each batch (1) probes the
  // PRE-batch index for its verdicts (exact > near precedence, min-id
  // lineage, exactly the batch key's rules), then (2) appends its own
  // rows as a run. Evens arrive as micro-batch 0 (the "existing
  // corpus"), odds as micro-batch 1 (the "incoming crawl"), so the final
  // verdict table over odd docs must EQUAL the one-shot
  // llm_incremental_dedup — the two keys share ONE oracle string
  // (LlmText.IncrementalDedupOracle), making "maintained state == batch
  // twin" the checked property, not prose. Signatures come from
  // LlmText.signedOn — the ONE definition the whole batch LSH family
  // uses, so the twin cannot drift from it.
  //
  // Scale: per batch, the exact probe is a fingerprint equi-join
  // (incoming × index-bucket), the near probe explodes 6 bands and
  // equi-joins the index's bands (O(incoming × bucket occupancy) — the
  // streaming equivalent of the batch band join), and the Jaccard
  // verify re-attaches shingles BY ID after candidate generation, so
  // no exchange ever carries shingle arrays for non-candidates. State
  // is the index itself: it grows with the CORPUS (a dedup index is
  // the product), not with stream length, and lives as parquet
  // (RocksDB/Delta at scale), partition-parallel on its keys.
  // ---------------------------------------------------------------------
  /** The dedup index on the [[tieredIntake]] chain, run by the
    * `stream_incremental_dedup` key (2 micro-batches: corpus, then
    * crawl) and over many batches by Round11Spec/Round15Spec. Runs are
    * unpartitioned; each batch's verdicts land in the chain's `v<id>`
    * dirs. */
  private[graft] def incrementalDedupIntake(spark: SparkSession,
      srcDir: String,
      stats: Option[mutable.ArrayBuffer[IntakeBatchStat]] = None,
      resumeRoot: Option[String] = None,
      checkpointDir: Option[String] = None,
      crashAtBatch: Option[Long] = None,
      crashAfterRun: Boolean = false): IntakeResult =
    tieredIntake(spark, schemas("documents"), srcDir, "graft_stream_incded_",
      None, dedupRowsOf, Some(dedupVerdicts(spark, _, _)), stats,
      resumeRoot, checkpointDir, crashAtBatch, crashAfterRun)

  /** A batch's dedup index rows: doc_id, the normalized-text
    * fingerprint `fp`, and the shingles, signature and band hashes. */
  private def dedupRowsOf(batch: DataFrame): DataFrame =
    graft.queries.LlmText.signedOn(batch)
      .join(batch.selectExpr("doc_id",
        s"md5(${graft.queries.LlmText.NormText}) AS fp"), Seq("doc_id"))
      .select("doc_id", "fp", "sh", "sig", "bands")

  /** A batch's verdicts against the pre-batch index `prior`: exact_dup
    * before near_dup, dup_of the smallest matching id. An empty index
    * keeps every arrival. */
  private def dedupVerdicts(spark: SparkSession, rows: DataFrame,
                            prior: Seq[String]): DataFrame =
    if (prior.isEmpty)
      rows.selectExpr("doc_id", "'kept' AS verdict",
        "CAST(NULL AS BIGINT) AS dup_of")
    else {
      val index = spark.read.parquet(prior: _*)
      val exFp = index.groupBy("fp").agg(min(col("doc_id")).as("ex_doc"))
      val incB = rows.selectExpr("doc_id AS inc_doc",
        "posexplode(bands) AS (band_idx, band_hash)")
      val exB = index.selectExpr("doc_id AS ex_doc",
        "posexplode(bands) AS (band_idx, band_hash)")
      val near = incB.join(exB, Seq("band_idx", "band_hash"))
        .select("inc_doc", "ex_doc").distinct()
        .join(rows.selectExpr("doc_id AS inc_doc", "sh AS sh_i",
          "sig AS sig_i"), Seq("inc_doc"))
        .join(index.selectExpr("doc_id AS ex_doc", "sh AS sh_e",
          "sig AS sig_e"), Seq("ex_doc"))
        // identical filter-then-verify as dedupNgramJaccard: 12-way
        // signature agreement >= 3, then exact 3-gram Jaccard >= 0.5
        .where(expr(graft.queries.LlmText.sigAgreement("sig_i", "sig_e")) >= 3)
        // exact integer form of J ≥ ½ (3i ≥ a+b): ONE count-only
        // IntersectSize per pair, where a ratio predicate evaluates
        // array_intersect twice (codegen CSE does not collapse the
        // duplicate) and allocates the intersection array both times.
        // Identical row set: sizes are exact ints, equality at J = 0.5
        // included both ways.
        .where(graft.functions.TextOps.intersectSize(
            col("sh_i"), col("sh_e")) * 3 >=
          size(col("sh_i")) + size(col("sh_e")))
        .groupBy("inc_doc").agg(min(col("ex_doc")).as("near_of"))
      rows.select("doc_id", "fp")
        .join(exFp, Seq("fp"), "left_outer")
        .join(near, col("doc_id") === col("inc_doc"), "left_outer")
        .selectExpr("doc_id",
          """CASE WHEN ex_doc IS NOT NULL THEN 'exact_dup'
                  WHEN near_of IS NOT NULL THEN 'near_dup'
                  ELSE 'kept' END AS verdict""",
          "coalesce(ex_doc, near_of) AS dup_of")
    }

  private def streamIncrementalDedup(spark: SparkSession,
                                     sfDir: String): DataFrame = {
    val res = incrementalDedupIntake(spark,
      stagedParts(spark, sfDir, "documents", col("doc_id") % 2, 2))
    // explicit dir list, not a `v*` glob: the foreachBatch loop knows
    // every verdict dir it committed, and the glob path triggered the
    // sink-metadata probe's WARN-with-stack in the bench tail
    // (VERDICT r10 #2)
    spark.read.parquet(res.verdictDirs: _*)
      .where(col("doc_id") % 2 === 1)
      .orderBy("doc_id")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_incremental_dedup" -> (streamIncrementalDedup _),
    "stream_dedup_minhash" -> (streamDedupMinhash _),
    "stream_static_join" -> (streamStaticJoin _),
    "stream_foreach_batch" -> (streamForeachBatch _),
    "stream_merge_upsert" -> (streamMergeUpsert _),
    "stream_incremental_agg" -> (streamIncrementalAgg _),
    "stream_countmin" -> (streamCountMin _),
    "stream_hll_distinct" -> (streamHllDistinct _),
    "stream_quantile_hist" -> (streamQuantileHist _),
    "stream_topk" -> (streamTopK _),
    "stream_ann_index" -> (streamAnnIndex _),
    "stream_lsh_index" -> (streamLshIndex _),
    "stream_semdedup" -> (streamSemDedup _),
    "stream_stateful_session" -> (streamStatefulSession _),
    "stream_transform_with_state" -> (streamTransformWithState _),
    "stream_join" -> (streamJoin _),
    "stream_join_outer" -> (streamJoinOuter _),
    "stream_join_full_outer" -> (streamJoinFullOuter _),
    "stream_join_right_outer" -> (streamJoinRightOuter _),
    "stream_ingest" -> (streamIngest _),
    "stream_window_tumbling" -> (streamTumbling _),
    "stream_window_sliding" -> (streamSliding _),
    "stream_window_distinct" -> (streamWindowDistinct _),
    "stream_window_session" -> (streamSession _),
    "stream_resample_ohlc" -> (streamResampleOhlc _),
    "stream_watermark" -> (streamWatermark _),
    "stream_dedup" -> (streamDedup _))

  /** Shared gap-sessionization twin: lag + running-sum session ids —
    * exactly the semantics of both custom-state implementations
    * (stream_stateful_session, stream_transform_with_state). */
  private val gapSessionOracle =
    """WITH marked AS (
         SELECT user_id, ts,
                CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                          > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
         FROM events),
       sess AS (
         SELECT user_id, ts,
                sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
         FROM marked)
       SELECT user_id,
              min(ts) AS s_start,
              max(ts) + INTERVAL 30 MINUTE AS s_end,
              count(*) AS n_events
       FROM sess GROUP BY user_id, sid ORDER BY user_id, s_start"""

  /** DuckDB twins. Tumbling/watermark windows are `date_trunc` buckets;
    * sliding windows enumerate the two 12h-offset buckets per event;
    * session windows are the classic lag + running-sum gap
    * sessionization, which is exactly Spark's session_window semantics
    * (end = last event + gap). */
  val oracle: Map[String, String] = Map(
    // shared VERBATIM with the batch key — see streamIncrementalDedup
    "stream_incremental_dedup" ->
      graft.queries.LlmText.IncrementalDedupOracle,
    // the even→odd half-split batch twin of the streamed verdicts
    "stream_semdedup" -> graft.queries.LlmVector.SemDedupStreamOracle,
    "stream_dedup_minhash" ->
      s"""WITH ${graft.queries.LlmText.DSigned}
          SELECT doc_b AS dup_id, min(doc_a) AS dup_of FROM cand
          WHERE list_reduce(list_prepend(0, list_transform(range(1, 13),
                  i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)),
                  (acc, v) -> acc + v) >= 6
          GROUP BY 1 ORDER BY dup_id""",
    "stream_incremental_agg" ->
      """SELECT event_type, count(*) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS sum_e2
         FROM events GROUP BY 1 ORDER BY event_type""",
    // one-shot batch CMS over the whole corpus: equality with the
    // incrementally-maintained sketch IS the cell-sum mergeability
    // property (same md5 cells as the agg_countmin oracle)
    // Histogram merge is lossless, so the maintained quantiles equal
    // the one-shot batch quantiles EXACTLY — the oracle computes the
    // same smallest-value-reaching-ceil(p·n) rule on the raw table.
    "stream_quantile_hist" ->
      """WITH hist AS (
           SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
                  CAST(count(*) AS BIGINT) AS cnt
           FROM events GROUP BY 1, 2),
         tot AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
                 FROM hist GROUP BY 1),
         cum AS (
           SELECT h.event_type, h.v, t.n,
                  CAST(sum(h.cnt) OVER (PARTITION BY h.event_type
                    ORDER BY h.v ROWS UNBOUNDED PRECEDING) AS BIGINT)
                    AS cum
           FROM hist h JOIN tot t USING (event_type)),
         p50 AS (SELECT event_type, CAST(min(v) AS BIGINT) AS p50_c
                 FROM cum WHERE cum * 100 >= n * 50 GROUP BY 1),
         p90 AS (SELECT event_type, CAST(min(v) AS BIGINT) AS p90_c
                 FROM cum WHERE cum * 100 >= n * 90 GROUP BY 1),
         p99 AS (SELECT event_type, CAST(min(v) AS BIGINT) AS p99_c
                 FROM cum WHERE cum * 100 >= n * 99 GROUP BY 1)
         SELECT event_type, n, p50_c, p90_c, p99_c
         FROM tot JOIN p50 USING (event_type) JOIN p90 USING (event_type)
                  JOIN p99 USING (event_type)
         ORDER BY event_type""",
    // Sketch estimates are engine-specific; the BOUND is not — DuckDB
    // computes the exact distinct count and asserts both flags TRUE
    // (the agg_approx_distinct graduation convention).
    "stream_hll_distinct" ->
      """SELECT event_type,
                CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
                TRUE AS merge_consistent,
                TRUE AS within_bound
         FROM events GROUP BY 1 ORDER BY event_type""",
    "stream_countmin" ->
      """WITH rs AS (SELECT unnest(range(0, 3)) AS r),
         kc AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
                FROM events GROUP BY 1),
         cells AS (
           SELECT r, substring(md5(CAST(user_id AS VARCHAR) || '#' ||
                       CAST(r AS VARCHAR)), 1, 3) AS cell, cnt
           FROM kc CROSS JOIN rs),
         sketch AS (SELECT r AS rw, cell, CAST(sum(cnt) AS BIGINT) AS cnt
                    FROM cells GROUP BY 1, 2),
         pc AS (SELECT k.user_id, k.cnt AS exact_cnt, r AS rw,
                       substring(md5(CAST(k.user_id AS VARCHAR) || '#' ||
                         CAST(r AS VARCHAR)), 1, 3) AS cell
                FROM kc k CROSS JOIN rs WHERE k.user_id <= 5)
         SELECT pc.user_id, pc.exact_cnt,
                CAST(min(s.cnt) AS BIGINT) AS est_cnt
         FROM pc JOIN sketch s ON pc.rw = s.rw AND pc.cell = s.cell
         GROUP BY 1, 2 ORDER BY 1""",
    // replays the deterministic two-batch merge-and-prune verbatim:
    // batch 1 = even event_ids, batch 2 = odd, prune to the 64 largest
    // (count desc, user_id) after each merge
    "stream_topk" ->
      """WITH b1 AS (
           SELECT user_id, count(*) AS c FROM events
           WHERE event_id % 2 = 0 GROUP BY 1),
         s1 AS (
           SELECT user_id, c FROM (
             SELECT user_id, c,
                    row_number() OVER (ORDER BY c DESC, user_id) AS rk
             FROM b1)
           WHERE rk <= 64),
         b2 AS (
           SELECT user_id, count(*) AS c FROM events
           WHERE event_id % 2 = 1 GROUP BY 1),
         m AS (
           SELECT coalesce(s1.user_id, b2.user_id) AS user_id,
                  coalesce(s1.c, 0) + coalesce(b2.c, 0) AS c
           FROM s1 FULL OUTER JOIN b2 ON s1.user_id = b2.user_id),
         s2 AS (
           SELECT user_id, c,
                  row_number() OVER (ORDER BY c DESC, user_id) AS rk
           FROM (SELECT user_id, c FROM (
                   SELECT user_id, c,
                          row_number() OVER (ORDER BY c DESC, user_id) AS rk
                   FROM m)
                 WHERE rk <= 64))
         SELECT rk, user_id, CAST(c AS BIGINT) AS cnt
         FROM s2 WHERE rk <= 10 ORDER BY rk""",
    "stream_static_join" ->
      """SELECT event_id, event_type,
                CASE WHEN event_type IN ('purchase', 'signup')
                     THEN 'conversion' ELSE 'engagement' END AS category,
                value
         FROM events ORDER BY event_id""",
    "stream_foreach_batch" ->
      """SELECT event_id, user_id, event_type, value
         FROM events ORDER BY event_id""",
    // identical probe semantics to the batch-built IVF index
    "stream_ann_index" -> graft.queries.LlmVector.AnnIvfOracle,
    // maintained LSH state == the batch key, one oracle string
    "stream_lsh_index" -> graft.queries.LlmVector.AnnLshOracle,
    "stream_merge_upsert" ->
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
                     AS BIGINT) AS price_e2
         FROM target t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
         ORDER BY o_orderkey""",
    "stream_stateful_session" -> gapSessionOracle,
    "stream_transform_with_state" -> gapSessionOracle,
    "stream_join" ->
      """SELECT p.event_id AS p_id, v.event_id AS v_id,
                p.user_id, p.ts AS p_ts, v.ts AS v_ts
         FROM events p JOIN events v
           ON p.user_id = v.user_id
          AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
         WHERE p.event_type = 'purchase' AND v.event_type = 'view'
         ORDER BY p_id, v_id""",
    "stream_join_outer" ->
      """SELECT p.event_id AS p_id, v.event_id AS v_id,
                p.user_id, p.ts AS p_ts, v.ts AS v_ts
         FROM events p LEFT JOIN events v
           ON p.user_id = v.user_id AND v.event_type = 'view'
          AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
         WHERE p.event_type = 'purchase'
         ORDER BY p_id, v_id""",
    "stream_join_full_outer" ->
      """SELECT p.event_id AS p_id, v.event_id AS v_id,
                coalesce(p.user_id, v.user_id) AS user_id,
                p.ts AS p_ts, v.ts AS v_ts
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         FULL JOIN (SELECT * FROM events WHERE event_type = 'view') v
           ON p.user_id = v.user_id
          AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
         ORDER BY p_id NULLS FIRST, v_id NULLS FIRST""",
    "stream_join_right_outer" ->
      """SELECT p.event_id AS p_id, v.event_id AS v_id,
                coalesce(p.user_id, v.user_id) AS user_id,
                p.ts AS p_ts, v.ts AS v_ts
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         RIGHT JOIN (SELECT * FROM events WHERE event_type = 'view') v
           ON p.user_id = v.user_id
          AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
         ORDER BY p_id NULLS FIRST, v_id NULLS FIRST""",
    "stream_ingest" ->
      """SELECT event_id, ts, user_id, event_type, value, props
         FROM events ORDER BY event_id""",
    // shared verbatim with the batch twin (win_resample_ohlc) except
    // bucket_start comes first — the driver sorts columns by name, so
    // projection order is immaterial; the bar values must hash equal
    "stream_resample_ohlc" ->
      """SELECT date_trunc('hour', ts)
                  + INTERVAL 1 MINUTE * (5 * (minute(ts) // 5))
                  AS bucket_start,
                event_type,
                (min(struct_pack(a := ts, b := event_id, v := value))).v
                  AS open,
                max(value) AS high,
                min(value) AS low,
                (max(struct_pack(a := ts, b := event_id, v := value))).v
                  AS close,
                CAST(count(*) AS BIGINT) AS n_ticks,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events
         WHERE value IS NOT NULL
         GROUP BY 1, 2
         ORDER BY event_type, bucket_start""",
    "stream_window_tumbling" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_start,
                CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY AS w_end,
                event_type,
                count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2, 3 ORDER BY w_start, event_type""",
    "stream_window_distinct" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_start,
                CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY AS w_end,
                event_type,
                count(DISTINCT user_id) AS n_users,
                count(*) AS n_events
         FROM events GROUP BY 1, 2, 3 ORDER BY w_start, event_type""",
    "stream_window_sliding" ->
      """SELECT make_timestamp((epoch_us(ts) // 43200000000 - off.o) * 43200000000) AS w_start,
                make_timestamp((epoch_us(ts) // 43200000000 - off.o) * 43200000000 + 86400000000) AS w_end,
                event_type,
                count(*) AS n_events
         FROM events CROSS JOIN (SELECT unnest([0, 1]) AS o) off
         GROUP BY 1, 2, 3 ORDER BY w_start, event_type""",
    "stream_window_session" ->
      """WITH marked AS (
           SELECT user_id, ts,
                  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                            > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
           FROM events),
         sess AS (
           SELECT user_id, ts,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
           FROM marked)
         SELECT min(ts) AS s_start,
                max(ts) + INTERVAL 30 MINUTE AS s_end,
                user_id,
                count(*) AS n_events
         FROM sess GROUP BY user_id, sid ORDER BY user_id, s_start""",
    "stream_watermark" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_start,
                CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY AS w_end,
                count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY w_start""",
    "stream_dedup" ->
      """SELECT event_id, ts, user_id, event_type, value, props
         FROM events ORDER BY event_id""")
}
