package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RoundRobinPartitioning}
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.Fixtures
import graft.functions.GraftExtensions
import graft.plans.SingleSplitRule

/** `SingleSplitRule`, registered by `GraftExtensions`: a scan that reads
  * as one split plans as a single-partition query, and nothing else
  * changes. Runs an extension session against a stock one with the
  * engine's split confs (`Session.confs`). Each test reads its own copy
  * of the sf0.01 corpus, so the memos and cached tables one session
  * builds are never reused by the other, or by another suite. */
class SingleSplitSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val corpus = Paths.get(sys.props("user.home"), "testdata", "sf0.01")
  private val curateKeys = Seq("llm_text_stats", "llm_quality_score",
    "llm_tfidf", "llm_dedup_minhash", "llm_dedup_simhash",
    "llm_topk_similarity", "llm_ann_lsh", "llm_ann_ivf")

  private var prevDefault: Option[SparkSession] = None
  private var prevActive: Option[SparkSession] = None
  private var stock: SparkSession = _
  private var ext: SparkSession = _

  override def beforeAll(): Unit = {
    // save the shared sessions other suites may have created; restore
    // them afterwards so suite order doesn't change their session state
    prevDefault = SparkSession.getDefaultSession
    prevActive = SparkSession.getActiveSession
    def fresh(b: SparkSession.Builder): SparkSession = {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      b.master(s"local[${Session.cpus}]")
        .config(Session.confs - "spark.sql.extensions").getOrCreate()
    }
    stock = fresh(SparkSession.builder())
    ext = fresh(SparkSession.builder().withExtensions(new GraftExtensions))
  }

  override def afterAll(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    prevDefault.foreach(SparkSession.setDefaultSession)
    prevActive.foreach(SparkSession.setActiveSession)
  }

  /** A fresh copy of the sf0.01 corpus: one file per table, as a curate
    * shard is. */
  private def shard(): String = {
    val dir = Fixtures.tempDir("graft_singlesplit_")
    Files.list(corpus).iterator.asScala.foreach(f =>
      Files.copy(f, Paths.get(dir).resolve(f.getFileName)))
    dir
  }

  /** `shard()` with documents and embeddings rewritten as 3 files each. */
  private def multiFileShard(): String = {
    val dir = shard()
    for (t <- Seq("documents", "embeddings")) {
      Files.delete(Paths.get(s"$dir/$t.parquet"))
      Tables.t(stock, corpus.toString, t).repartition(3)
        .write.parquet(s"$dir/$t.parquet")
    }
    dir
  }

  private def on[T](spark: SparkSession)(body: => T): T = {
    SparkSession.setActiveSession(spark)
    try body finally SparkSession.clearActiveSession()
  }

  /** The plan Spark hands to AQE: exchanges are placed, nothing ran. */
  private def physical(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }

  /** Every node of `p`, its subqueries and the plans of the cached
    * tables it reads. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] =
    (p +: (p.children ++ p.subqueries).flatMap(nodes)) ++ (p match {
      case s: InMemoryTableScanExec => nodes(s.relation.cachedPlan)
      case _ => Nil
    })

  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
    nodes(p).collect { case e: ShuffleExchangeExec => e }

  private def key(spark: SparkSession, k: String, sfDir: String): DataFrame =
    on(spark)(SparkEntry.queries(k)(spark, sfDir))

  test("on a one-file shard, curate keys plan with no shuffle and no range partitioning") {
    val (stockDir, extDir) = (shard(), shard())
    for (k <- Seq("llm_text_stats", "llm_tfidf", "llm_dedup_minhash")) {
      assert(shuffles(physical(key(stock, k, stockDir))).nonEmpty,
        s"$k: the stock plan has no exchange, so this test shows nothing")
      val p = physical(key(ext, k, extDir))
      assert(nodes(p).exists(_.isInstanceOf[CoalesceExec]), s"$k: rule did not fire\n$p")
      assert(shuffles(p).isEmpty, s"$k plans an exchange\n$p")
      assert(!p.toString.toLowerCase.contains("rangepartitioning"), s"$k\n$p")
    }
  }

  test("a multi-split input plans the same as under a stock session") {
    val keys = Seq("llm_text_stats", "llm_dedup_minhash")
    // several files: each one is a split of its own
    val multi = multiFileShard()
    for (k <- keys) {
      val p = physical(key(ext, k, multi))
      assert(PlanDigest.shape(p) == PlanDigest.shape(physical(key(stock, k, multi))), k)
      assert(!nodes(p).exists(_.isInstanceOf[CoalesceExec]), s"$k\n$p")
    }
    // one file, split by a small maxPartitionBytes
    val split = shard()
    val small = "spark.sql.files.maxPartitionBytes" -> "16k"
    for (k <- keys) {
      val p = Session.withConfs(ext, small)(physical(key(ext, k, split)))
      val s = Session.withConfs(stock, small)(physical(key(stock, k, split)))
      assert(PlanDigest.shape(p) == PlanDigest.shape(s), k)
      assert(!nodes(p).exists(_.isInstanceOf[CoalesceExec]), s"$k\n$p")
    }
  }

  test("PushedFilters and ReadSchema are the same with and without the rule") {
    val dir = shard()
    def q(spark: SparkSession) = on(spark) {
      Tables.t(spark, dir, "documents")
        .where(col("lang") === "en" && col("n_chars") > 100)
        .groupBy("source").count().orderBy("source")
    }
    def scan(p: SparkPlan): Map[String, String] =
      nodes(p).collectFirst { case s: FileSourceScanExec => s }.get.metadata
        .filter { case (k, _) => Set("PushedFilters", "ReadSchema", "DataFilters",
          "PartitionFilters")(k) }
        .map { case (k, v) => k -> v.replaceAll("#\\d+", "") }
    val (withRule, without) = (physical(q(ext)), physical(q(stock)))
    assert(shuffles(withRule).isEmpty && shuffles(without).nonEmpty, s"$withRule")
    val pushed = scan(withRule)
    assert(pushed("PushedFilters").contains("EqualTo(lang,en)"), pushed.toString)
    assert(pushed("ReadSchema") == "struct<lang:string,source:string,n_chars:bigint>",
      pushed.toString)
    assert(pushed == scan(without))
    assert(q(ext).collect().toSeq == q(stock).collect().toSeq)
  }

  test("a streaming read is untouched") {
    // a file stream source reads a directory
    val dir = Fixtures.tempDir("graft_singlesplit_stream_")
    Files.copy(corpus.resolve("documents.parquet"), Paths.get(dir, "part-0.parquet"))
    val q = on(ext) {
      ext.readStream.schema(Tables.schemas("documents")).parquet(dir)
        .groupBy("lang").count()
        .writeStream.format("noop").outputMode("complete")
        .option("checkpointLocation", Fixtures.tempDir("graft_singlesplit_ckpt_"))
        .trigger(Trigger.AvailableNow()).start()
    }
    try q.awaitTermination(120000) finally q.stop()
    val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
    assert(exec != null, "the query ran no batch")
    assert(exec.optimizedPlan.collectFirst { case r: Repartition => r }.isEmpty,
      exec.optimizedPlan.toString)
    assert(shuffles(exec.executedPlan).nonEmpty, exec.executedPlan.toString)
  }

  test("a user repartition keeps its exchange, and a second pass changes nothing") {
    val dir = shard()
    val docs = on(ext)(Tables.t(ext, dir, "documents"))
    val byCount = physical(docs.repartition(8))
    assert(shuffles(byCount).exists(_.outputPartitioning == RoundRobinPartitioning(8)),
      byCount.toString)
    val byCol = physical(docs.repartition(col("lang")))
    assert(shuffles(byCol).exists(_.outputPartitioning.isInstanceOf[HashPartitioning]),
      byCol.toString)
    val rule = SingleSplitRule(ext)
    for (df <- Seq(docs.repartition(8), docs.repartition(col("lang")),
                   key(ext, "llm_tfidf", dir), key(ext, "llm_dedup_minhash", dir))) {
      val opt = df.queryExecution.optimizedPlan
      assert(rule(opt).fastEquals(opt), opt.toString)
    }
  }

  test("the curate keys return the same rows with and without the extension") {
    val (stockDir, extDir) = (shard(), shard())
    def rows(spark: SparkSession, dir: String, k: String) =
      on(spark)(key(spark, k, dir).collect().map(_.toString).sorted.toSeq)
    for (k <- curateKeys) {
      val got = rows(ext, extDir, k)
      assert(got.nonEmpty, k)
      assert(got == rows(stock, stockDir, k), k)
    }
  }
}
