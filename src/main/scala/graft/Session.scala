package graft

import org.apache.spark.sql.SparkSession

/** The one way the engine builds a session: `Smoke`, `Verify` and
  * `Bench` all run on [[Session.local]], so the configuration the
  * oracle checks is the one that gets benchmarked.
  *
  * The confs:
  *  - `local[n]` with `n` shuffle partitions, where `n` is
  *    `SPARK_GRAFT_CPUS` or else the number of available processors.
  *  - `spark.sql.files.maxPartitionBytes=8m`. The corpora are small
  *    files (sf0.1 tables are under 11 MB; the scale dirs hold one
  *    ~0.5–17 MB file per copy). The 128 MB default packs a whole table
  *    into 1–2 scan tasks and serializes every CPU-heavy map stage;
  *    8 MB splits spread scans across cores at these volumes.
  *  - `spark.sql.files.openCostInBytes=256k`, paired with the smaller
  *    split budget. With the default 4 MB open cost, sources of many
  *    tiny files (binaryFile: one object per doc) packed ~2 files per
  *    task, and `scan_binaryfile` went from 0.19 s to 2.64 s. 256k
  *    keeps ~30 small files per task, the packing the defaults gave.
  *  - These two confs also decide when a scan plans as one partition:
  *    `SingleSplitRule` (registered by the extension) plans a relation
  *    whose files pack into one split under them with no exchange above
  *    it. At 8m/256k one file of up to 256 KB is one split (a curate
  *    shard is ~64 KB), and on two or more cores two files never are.
  *    `maxPartitionBytes` also decides when a write gets one writer:
  *    `Ingest.writeParquet` coalesces a `Project`/`Filter` chain over a
  *    file relation of at most 8m to one task, so a ~1 MB landing batch
  *    writes one file per partition instead of one per scan task.
  *  - `spark.sql.session.timeZone=UTC` and no UI.
  *  - `spark.sql.extensions=graft.functions.GraftExtensions`, which also
  *    sizes the codegen cache (see
  *    [[graft.functions.GraftExtensions.CodegenCacheMaxEntries]]).
  *
  * `perfbench/run.py` passes the same engine confs to its harness, plus
  * run-local paths; `SessionSpec` keeps the two in step.
  */
object Session {
  private[graft] def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  private[graft] def confs: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.files.maxPartitionBytes" -> "8m",
    "spark.sql.files.openCostInBytes" -> "256k",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.ui.enabled" -> "false")

  /** The engine session, logging at WARN. */
  def local(): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config(confs).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` with `confs` set on `spark`, then put each back: to its
    * previous value, or unset if it had none. Whatever reads the confs
    * at execution time (AQE, the optimizer, a streaming query's start)
    * must run inside `body`. */
  def withConfs[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
