package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Enforces the cache-lifecycle audit (PLANS.md "Cache-lifecycle
  * audit"): repeated invocations of keys that `persist()` or
  * `localCheckpoint(true)` internally must leave the session's
  * persistent-RDD registry at a PLATEAU — the rising-runs signature
  * (each run pinning a fresh cached copy) that produced the r7 driver
  * bench outlier can then never silently return.
  *
  * Mechanism per class: session-memoized tables (Fixtures.persisted,
  * Fixtures.stagedPersisted) hold exactly one copy per (session, sfDir,
  * tag) by construction; paired persist/unpersist
  * sites release within the builder; per-invocation re-persists of
  * the SAME canonical plan are deduped by Spark's CacheManager; and
  * localCheckpoint blocks are reclaimed by the ContextCleaner once
  * the plan is garbage-collected. The spec measures
  * `sc.getPersistentRDDs` (which includes localCheckpointed RDDs
  * until cleaned) after a warm-up run and again after two more runs,
  * GC-polling so ContextCleaner has a chance to run.
  */
class CacheLifecycleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  /** Persistent-RDD count after nudging the ContextCleaner: GC, then
    * poll until the count stops shrinking (or 15 s). */
  private def settledRddCount(): Int = {
    var last = Int.MaxValue
    var cur = spark.sparkContext.getPersistentRDDs.size
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (cur < last && System.nanoTime() < deadline) {
      last = cur
      System.gc()
      Thread.sleep(500)
      cur = spark.sparkContext.getPersistentRDDs.size
    }
    cur
  }

  // One representative key per lifecycle class (PLANS.md table):
  //   class 1 session-memoized: llm_dedup_minhash (LlmText.signed via
  //           Fixtures.persisted)
  //   class 2 paired unpersist: llm_pagerank
  //   class 3 CacheManager-deduped re-persist: llm_vocab_build,
  //           llm_triangle_count, llm_bpe_apply
  //   class 4 localCheckpoint-only: win_autocorr
  //   class 5 parquet-staged fixtures (VERDICT r9 #1): the two keys
  //           whose driver-bench episode the r9 artifact couldn't
  //           attribute — llm_kneser_ney_score (staged LM count
  //           tables) and llm_inverted_index. Their staged artifacts
  //           live on disk (Fixtures.stagedPersisted), so repeats must
  //           neither re-stage nor pin new cached copies; a plateau
  //           here pins "flat when repeated in-process", isolating the
  //           driver episode to environment (page-cache/IO), which the
  //           bench's new io/mem PSI + disk_read_bytes fields now
  //           record per run.
  private val keys = Seq("llm_dedup_minhash", "llm_pagerank",
    "llm_vocab_build", "llm_triangle_count", "llm_bpe_apply",
    "win_autocorr", "llm_kneser_ney_score", "llm_inverted_index")

  test("3x repeated cache-bearing keys leave persistent RDDs at a plateau") {
    def runAll(): Unit = keys.foreach { k =>
      val n = SparkEntry.queries(k)(spark, sfDir).count()
      assert(n > 0, s"$k returned no rows")
    }
    runAll() // warm-up: memoized caches fill, first persists land
    val baseline = settledRddCount()
    runAll()
    runAll()
    val after = settledRddCount()
    assert(after <= baseline,
      s"persistent-RDD count rose across repeated runs: " +
        s"$baseline -> $after (a cache site is pinning a fresh copy " +
        s"per invocation — see PLANS.md cache-lifecycle audit)")
  }
}
