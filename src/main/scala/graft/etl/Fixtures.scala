package graft.etl

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.FileSystem
import org.apache.hadoop.util.ShutdownHookManager
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture material and the one memo policy for expensive derived
  * artifacts. The corpus is parquet-only and read-only (TESTDATA.md),
  * so every other input shape (CSV, staged streaming sources, pair
  * logs, indexes) is derived from it into temp dirs.
  *
  * Three memos, all keyed by `sfDir/tag`. A tag names ONE artifact, and
  * each literal tag has one call site in `src/main`, so one builder
  * defines it (`ArchitectureSpec` enforces this). Call sites of
  * different families use distinct tag prefixes (`csv_`, `stream_`):
  *  - [[stagedDir]]: a directory built once per JVM. The staged copy is
  *    immutable, so every session may read it.
  *  - [[persisted]]: a DataFrame built once per (session, sfDir, tag),
  *    so repeated invocations reuse one persisted copy instead of
  *    pinning a new one per call. Keyed WEAKLY by the session OBJECT: a
  *    memo keyed by sfDir alone would hand a restarted session in the
  *    same JVM a DataFrame bound to a stopped SparkContext, a strong key
  *    would pin dead sessions for the JVM lifetime, and object identity
  *    (not a hash) can never alias two live sessions.
  *  - [[stagedPersisted]] composes the two: it takes the frame to stage,
  *    writes it once to a staged dir, and memoizes a persisted read of
  *    that dir. The persisted DataFrame's lineage is just the parquet
  *    scan, so storage-pressure eviction costs a re-READ of a small
  *    file, never a re-RUN of the producing pipeline.
  *
  * All three tolerate nested builds (a builder that asks for another
  * memoized artifact). Every dir created here is deleted, best effort,
  * by one JVM shutdown hook that runs after Spark's, so no path from
  * here may be used after the JVM exits (see [[tempDir]]).
  */
object Fixtures {
  /** Dirs from [[tempDir]] (and so [[stagedDir]]) that the shutdown
    * hook deletes. */
  private[graft] val createdDirs = new ConcurrentLinkedQueue[File]()

  // Spark stops its SparkContext from a Hadoop shutdown hook at
  // FileSystem.SHUTDOWN_HOOK_PRIORITY + 30; lower priorities run later.
  ShutdownHookManager.get().addShutdownHook(
    () => createdDirs.forEach(d => FileUtils.deleteQuietly(d)),
    FileSystem.SHUTDOWN_HOOK_PRIORITY + 20)

  /** Fresh unique temp dir, deleted at JVM exit. Its path must not
    * outlive the JVM: a path handed to a consumer that runs after exit
    * (oracle SQL read by DuckDB, a printed result dir, a table LOCATION
    * read later) names a deleted dir. Such a dir passes
    * `outlivesJvm = true` and stays in `java.io.tmpdir`. */
  def tempDir(prefix: String, outlivesJvm: Boolean = false): String = {
    val dir = Files.createTempDirectory(prefix).toFile
    if (!outlivesJvm) createdDirs.add(dir)
    dir.toString
  }

  private val stagedDirs = new ConcurrentHashMap[String, String]()

  /** Stage read-only fixture material once per (sfDir, tag) per JVM.
    * Scan keys measure the READ; re-staging on every invocation charges
    * them the fixture-write cost instead. Sink keys must NOT use this —
    * the write is what they measure. `build` populates the directory it
    * is given, exactly once. */
  def stagedDir(sfDir: String, tag: String)(build: String => Unit): String = {
    // check-then-build-then-publish instead of computeIfAbsent: a nested
    // computeIfAbsent on one ConcurrentHashMap throws "Recursive update".
    // Keys are built single-threaded per query; a lost race merely
    // orphans one duplicate staging — the published dir stays unique.
    val key = s"$sfDir/$tag"
    val cached = stagedDirs.get(key)
    if (cached != null) cached
    else {
      val dir = tempDir(s"graft_$tag")
      build(dir)
      val prev = stagedDirs.putIfAbsent(key, dir)
      if (prev != null) prev else dir
    }
  }

  private val sessionTables =
    new java.util.WeakHashMap[SparkSession, mutable.Map[String, DataFrame]]()

  /** Memoize `df` per (session, sfDir, tag). The caller's expression
    * decides persistence (`persist()`, a parquet re-read, …); this only
    * guarantees it is evaluated once per session. */
  def persisted(spark: SparkSession, sfDir: String, tag: String)(
      df: => DataFrame): DataFrame =
    sessionTables.synchronized {
      sessionTables.computeIfAbsent(spark, _ => mutable.Map.empty)
        .getOrElseUpdate(s"$sfDir/$tag", df)
    }

  /** Staged parquet + a memoized persisted read of it: the pattern for
    * an expensive derived table consumed more than once per query.
    * `df` is evaluated (by name) only when the dir is not yet staged,
    * and written once with `mode("overwrite")`; it may itself read
    * another memoized artifact. */
  def stagedPersisted(spark: SparkSession, sfDir: String, tag: String)(
      df: => DataFrame): DataFrame =
    persisted(spark, sfDir, tag)(
      spark.read.parquet(stagedDir(sfDir, tag)(
        dir => df.write.mode("overwrite").parquet(dir))).persist())

  /** Export a corpus table to CSV (header, canonical timestamp format)
    * and return the directory path. */
  def csvOf(spark: SparkSession, sfDir: String, table: String): String =
    stagedDir(sfDir, s"csv_$table") { dir =>
      graft.Tables.t(spark, sfDir, table)
        .write.mode("overwrite")
        .option("header", true)
        .option("timestampFormat", Ingest.TsFormat)
        // the CSV writer trims edge whitespace by default — disable so
        // the fixture round-trips losslessly even for values with
        // leading/trailing spaces (readers set the matching flags)
        .option("ignoreLeadingWhiteSpace", false)
        .option("ignoreTrailingWhiteSpace", false)
        .csv(dir)
    }

  /** Write `df` to a fresh parquet dir and read it back — the
    * "as the next consumer sees it" view of a sink. An unpartitioned
    * read-back declares `df`'s schema, so it infers nothing; a
    * partitioned one keeps partition discovery. */
  def roundTrip(spark: SparkSession, df: DataFrame, prefix: String,
                partitionBy: Seq[String] = Nil): DataFrame = {
    val dir = tempDir(prefix)
    Ingest.writeParquet(df, dir, partitionColumns = partitionBy)
    if (partitionBy.isEmpty) spark.read.schema(df.schema).parquet(dir)
    else spark.read.parquet(dir)
  }
}
