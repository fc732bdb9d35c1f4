package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Repartition, RepartitionOperation}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}

/** Optimizer-rule extension: plans a file scan that Spark would read as
  * one split as a single-partition query.
  *
  * A scan of one small file runs as one task whatever the plan above it
  * says, yet an aggregate, join, window or `ORDER BY` above it still
  * plans a hash or range exchange, and each exchange is a stage of its
  * own (plus a sampling job for every range partitioner). AQE then
  * shrinks each of those stages to one task, so the query pays every
  * stage's fixed driver cost (scheduling, closure cleaning, task
  * binaries) for no parallelism. This rule puts a no-shuffle
  * `Repartition(1)` above the maximal `Project`/`Filter` chain over such
  * a relation. Its physical form, `CoalesceExec(1)`, reports
  * `SinglePartition`, which satisfies every required distribution, so
  * `EnsureRequirements` adds no exchange above it.
  *
  * It fires only when the relation's files pack into exactly one split
  * under Spark's own `FilePartition.maxSplitBytes` and packing, so the
  * session's `spark.sql.files.maxPartitionBytes` and `openCostInBytes`
  * decide; it adds no conf. A multi-split input (the 100 TB case) plans
  * exactly as without the rule. The chain stays below the repartition,
  * so filter pushdown and column pruning into the scan are unchanged.
  *
  * Guard rails:
  *  - `sizeInBytes` is checked against `maxPartitionBytes` before the
  *    index is listed ([[SingleSplitRule.smallScan]]), so a large catalog
  *    index is never listed only to be rejected;
  *  - a `RepartitionOperation` and everything below it is returned
  *    unchanged: the rule is idempotent, keeps a user's `repartition`,
  *    and does not fight `CollapseRepartition` in the fixed-point batch;
  *  - streaming plans and bucketed relations (whose scan reports its own
  *    partitioning) are left alone.
  */
case class SingleSplitRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan else wrap(plan)

  private def wrap(plan: LogicalPlan): LogicalPlan = plan match {
    case r: RepartitionOperation => r
    case chain if SingleSplitRule.smallScan(chain).exists(singleSplit) =>
      Repartition(1, shuffle = false, chain)
    case other => other.mapChildren(wrap)
  }

  /** True when the scan of every file of `fs` is one file partition.
    * Lists with no filters, a superset of what the scan reads, so the
    * answer errs toward not firing. */
  private def singleSplit(fs: HadoopFsRelation): Boolean = {
    val dirs = fs.location.listFiles(Nil, Nil)
    val maxSplit = FilePartition.maxSplitBytes(session, dirs)
    val splits = dirs.flatMap { dir =>
      dir.files.flatMap { f =>
        val path = f.getPath
        PartitionedFileUtil.splitFiles(f, path,
          fs.fileFormat.isSplitable(session, fs.options, path),
          maxSplit, dir.values)
      }
    }.sortBy(_.length)(Ordering[Long].reverse)
    FilePartition.getFilePartitions(session, splits, maxSplit).size == 1
  }
}

object SingleSplitRule {
  /** The file relation at the bottom of a `Project`/`Filter` chain, if it
    * is a non-streaming, unbucketed relation whose files total at most
    * the reading session's `spark.sql.files.maxPartitionBytes`. Such a
    * relation is small enough to plan as one split (the rule then checks
    * Spark's packing) and to write with one writer
    * (`graft.etl.Ingest.writeParquet`). The size comes from the file
    * index, so nothing is listed here. */
  def smallScan(plan: LogicalPlan): Option[HadoopFsRelation] = plan match {
    case Project(_, child) => smallScan(child)
    case Filter(_, child) => smallScan(child)
    case LogicalRelation(fs: HadoopFsRelation, _, _, false, _)
      if fs.bucketSpec.isEmpty && fs.location.sizeInBytes <=
        fs.sparkSession.sessionState.conf.filesMaxPartitionBytes => Some(fs)
    case _ => None
  }
}
