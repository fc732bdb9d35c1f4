package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Guards the committed plan-fingerprint snapshot (plans_r17.json,
  * written by `sbt "Test/runMain graft.PlanDigest <sf0.001 dir>
  * plans_r17.json"`): recomputes the canonical operator-tree shape for
  * every side-effect-free key and fails when a physical plan changed
  * without the snapshot being regenerated. This is the wide net under
  * PlanShapeSpec's hand-pinned assertions — a planner regression (an
  * extra exchange, a scan that stops pruning, a broadcast that flips
  * to sort-merge) in ANY of the ~250 unpinned plans now fails `sbt
  * test` instead of surfacing as a silent bench drift two rounds
  * later. Construction-heavy keys (stream_/sink_/etl_/catalog_) are
  * snapshot-only: recomputing them would run writes and streaming
  * queries inside the unit suite.
  */
class PlanSnapshotSpec extends AnyFunSuite {
  lazy val spark: SparkSession = PlanDigest.session()

  private val sfDir = "/root/testdata/sf0.001"
  // r17: regenerated snapshot — exactly one intentional drift vs
  // plans_r16.json (llm_setsim_join: posexplode + positional filter).
  private val snapshotPath = "plans_r17.json"

  private val regenerate =
    s"""sbt "Test/runMain graft.PlanDigest $sfDir $snapshotPath""""

  private lazy val committed: Map[String, String] = {
    val txt = Files.readString(Paths.get(snapshotPath))
    """"([^"]+)":\s*"([^"]*)"""".r
      .findAllMatchIn(txt).map(m => m.group(1) -> m.group(2)).toMap
  }

  test("snapshot file covers every SparkEntry key (and nothing stale)") {
    val keys = SparkEntry.queries.keySet
    val extra = committed.keySet -- keys
    val missing = keys -- committed.keySet
    assert(extra.isEmpty && missing.isEmpty,
      s"regenerate: $regenerate " +
        s"(missing=${missing.toSeq.sorted.take(5)}, stale=${extra.toSeq.sorted.take(5)})")
  }

  test("no side-effect-free plan shape drifted from the snapshot") {
    val drifted = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (k, _) => PlanDigest.constructionHeavy(k) }
      .flatMap { case (k, fn) =>
        val now =
          try PlanDigest.shapeOf(fn(spark, sfDir))
          catch { case e: Throwable => "ERR:" + e.getClass.getSimpleName }
        if (committed.getOrElse(k, "<absent>") == now) None
        else Some(s"$k:\n  committed: ${committed.getOrElse(k, "<absent>")}" +
          s"\n  now:       $now")
      }
    assert(drifted.isEmpty,
      s"${drifted.size} plan shape(s) drifted — if intentional, regenerate " +
        s"with: $regenerate\n" +
        drifted.take(5).mkString("\n"))
  }
}
