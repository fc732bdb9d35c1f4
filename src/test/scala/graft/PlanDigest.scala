package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Plan-fingerprint snapshot over the whole query surface (VERDICT r6
  * #2): `PlanShapeSpec` pins ~dozens of load-bearing shapes by hand;
  * the other ~250 physical plans could silently regress (the r1 LSH
  * pushdown-recompute incident was exactly such a drift — an extra
  * re-scan appearing without any correctness change). This main
  * renders every key's pre-AQE physical plan as a canonical operator
  * tree — node name + output-column count (catches pruning drift) +
  * the partitioning class on shuffles (catches exchange-structure
  * drift), literals and expression ids stripped by construction — and
  * writes one line per key to a committed JSON snapshot.
  * `PlanSnapshotSpec` recomputes the side-effect-free keys against the
  * committed file so a shape change fails `sbt test` until the
  * snapshot is deliberately regenerated; `tools/plan_diff.py` diffs
  * two snapshots across rounds.
  *
  * Usage: `sbt "Test/runMain graft.PlanDigest <sfDir> plans_r17.json"`
  * (sfDir must be the sf0.001 testdata for spec parity — join
  * strategy choices are statistics-driven, so shapes are pinned at a
  * fixed scale factor).
  */
object PlanDigest {

  /** Canonical operator-tree rendering of a physical plan: recursive
    * `name#outCols[children;subqueries]`. Stable across scale-factor-
    * preserving refactors; changes when an operator appears/disappears,
    * a scan stops pruning columns, or a shuffle's partitioning class
    * changes. Descends into subqueries (DPP / scalar subqueries are
    * part of the shape) but not into cached-relation build plans. */
  def shape(p: SparkPlan): String = {
    val part = p match {
      case e: ShuffleExchangeLike =>
        ":" + e.outputPartitioning.getClass.getSimpleName
      case _ => ""
    }
    val label = p.nodeName.replace(" ", "") + "#" + p.output.size + part
    val kids = p.children ++ p.subqueries
    if (kids.isEmpty) label
    else label + "[" + kids.map(shape).mkString(",") + "]"
  }

  /** Shape of the plan Spark hands to AQE — analysis, optimizer,
    * physical planning AND EnsureRequirements run (so exchanges are in
    * the fingerprint — shuffle-structure drift is the #1 regression
    * class this net exists to catch); nothing executes. With AQE on,
    * `executedPlan` is the adaptive wrapper; its initialPlan is the
    * deterministic pre-runtime plan, stable at fixed SF. */
  def shapeOf(df: DataFrame): String =
    shape(df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    })

  /** Keys whose DataFrame CONSTRUCTION runs side effects — sink writes,
    * table mutations/DDL, or a full streaming query. The snapshot main
    * records them (their shape is the read-back scan, still worth
    * diffing round-to-round), but PlanSnapshotSpec skips recomputing
    * them so `sbt test` stays fast and side-effect-free. */
  def constructionHeavy(key: String): Boolean =
    Seq("stream_", "sink_", "etl_", "catalog_").exists(key.startsWith)

  /** The session both the snapshot and `PlanSnapshotSpec` plan under:
    * a stock one (`local[4]`, no extensions). The committed snapshot
    * pins the plans of exactly this session: the scale (multi-split)
    * plan shapes, with every exchange a 100 TB run plans.
    *
    * `Verify`, `Bench` and perfbench register `GraftExtensions`, so they
    * also run `TopKRewriteRule` and `SingleSplitRule`, and a one-split
    * input plans there with no exchange at all. Keep this session
    * stock: switching it to `Session.local()` would pin those
    * single-split plans in place of the scale shapes. The extension
    * plans have their own specs (`ExtensionsSpec`, `SingleSplitSpec`). */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outFile) = args
    val spark = session()
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).map { case (k, fn) =>
      val s =
        try shapeOf(fn(spark, sfDir))
        catch { case e: Throwable => "ERR:" + e.getClass.getSimpleName }
      s"""  "$k": "$s""""
    }
    Files.writeString(Paths.get(outFile),
      lines.mkString("{\n", ",\n", "\n}\n"))
    println(s"PLAN_DIGEST_KEYS=${lines.size} -> $outFile")
    spark.stop()
  }
}
