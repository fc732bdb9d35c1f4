package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.Fixtures
import graft.functions.GraftExtensions

/** Spark's generated-class cache is sized once per JVM, so this spec
  * runs in its own forked JVM (build.sbt, group "codegen-cache"): the
  * first session here is the first to generate code. */
class CodegenCacheSpec extends AnyFunSuite {
  private val key = "spark.sql.codegen.cache.maxEntries"
  // the corpus the benchmark generates its shards from (~/testdata)
  private val sf = Paths.get(sys.props("user.home"), "testdata", "sf0.001").toString
  // the curate workload's keys, in its order (perfbench/run.py CURATE_KEYS)
  private val curateKeys = Seq("llm_text_stats", "llm_quality_score",
    "llm_tfidf", "llm_dedup_minhash", "llm_dedup_simhash",
    "llm_topk_similarity", "llm_ann_lsh", "llm_ann_ivf")

  private def session(extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
    extra.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  /** A never-seen copy of the curate inputs, so no memo carries over. */
  private def freshShard(): String = {
    val d = Fixtures.tempDir("graft_codegen_shard_")
    Seq("documents.parquet", "embeddings.parquet").foreach(f =>
      Files.copy(Paths.get(sf, f), Paths.get(d, f)))
    d
  }

  test("repeated curate passes reuse their compiled classes") {
    val spark = session()
    val compiles = (1 to 3).map { _ =>
      val dir = freshShard()
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      curateKeys.foreach(k => SparkEntry.queries(k)(spark, dir).collect())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    info(s"classes compiled per round: ${compiles.mkString(", ")}")
    // at Spark's default of 100 entries every round recompiles ~60
    assert(compiles(2) <= 10, s"classes compiled per round: $compiles")
    assert(spark.conf.get(key) == GraftExtensions.CodegenCacheMaxEntries.toString)
  }

  test("an explicitly set cache size is kept") {
    def fresh(extra: (String, String)*): SparkSession = {
      SparkSession.getActiveSession.foreach(_.stop())
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      session(extra: _*)
    }
    // a builder option, and a conf the SparkContext loads itself (the
    // spark-submit --conf / -Dspark.* path the extension sees set)
    val viaBuilder = fresh(key -> "500")
    try assert(viaBuilder.conf.get(key) == "500")
    finally viaBuilder.stop()
    System.setProperty(key, "600")
    try {
      val viaContext = fresh()
      try assert(viaContext.conf.get(key) == "600")
      finally viaContext.stop()
    } finally System.clearProperty(key)
  }
}
