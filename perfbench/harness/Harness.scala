package perfbench

import java.io.File
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.{col, split}

import graft.SparkEntry
import graft.etl.{Ingest, Schemas}
import graft.functions.{TextOps, VectorOps}

/** The JVM half of the benchmark: one client thread driving the
  * engine's public entry points in a closed loop.
  *
  * Usage: `perfbench.Harness <head.json> <plan.json> <result.json>`.
  * The head (written by run.py) names the Spark confs and whether to
  * trace; the plan names the untimed warm-up ops and the timed passes.
  * This process runs them and records one record per op (latency,
  * output digest or staged count) and, when tracing, spans around each
  * layer call plus listener counters. All arithmetic on those records
  * happens in run.py.
  */
object Harness {
  private val json = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val head = json.readTree(new File(args(0)))
    val trace = head.get("trace").asBoolean
    val builder = SparkSession.builder().master(head.get("master").asText)
    head.get("conf").fields.asScala.foreach(e =>
      builder.config(e.getKey, e.getValue.asText))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, trace)
    val out = json.createObjectNode()
    out.put("session_ready_ms", System.currentTimeMillis())
    out.put("jdk", System.getProperty("java.vm.name") + " " +
      System.getProperty("java.runtime.version"))
    val ops = out.putArray("ops")
    val runner = new OpRunner(spark, tracer)
    // run.py generates the inputs while this JVM starts; the plan file
    // appears (atomically renamed) once they are ready.
    val planFile = new File(args(1))
    val waitUntil = System.nanoTime() + 120L * 1000000000L
    while (!planFile.exists() && System.nanoTime() < waitUntil) Thread.sleep(20)
    val plan = json.readTree(planFile)

    plan.get("warmup").elements.asScala.foreach(op =>
      ops.add(runner.run(op, "warmup", 0)))
    out.put("first_op_ms", System.currentTimeMillis())
    // process CPU seconds of the timed phase: host steal stretches wall
    // time but not this, so it separates ambient episodes from changes
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = os.getProcessCpuTime
    // A fixed number of whole passes (run.py derives it from the run
    // length): every run measures the same ops, so a calm or busy host
    // changes their latencies but never which ops are in the sample.
    plan.get("passes").elements.asScala.zipWithIndex.foreach { case (pass, p) =>
      pass.elements.asScala.foreach(op => ops.add(runner.run(op, "timed", p + 1)))
    }
    out.put("timed_cpu_s", (os.getProcessCpuTime - cpu0) / 1e9)
    tracer.drain()

    // Untimed end-of-run facts.
    out.put("cached_mb_end", spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0)
    if (trace) Option(plan.get("probe_dir")).foreach(d =>
      out.set[JsonNode]("probes", probes(spark, tracer, d.asText)))
    tracer.drain()
    out.set[JsonNode]("spans", tracer.spansJson(json))
    out.set[JsonNode]("spark", tracer.sparkJson(json))
    out.set[JsonNode]("streaming", tracer.streamingJson(json))
    val oracle = out.putObject("oracle")
    val keys = ops.elements.asScala.map(_.get("key").asText).toSet
    SparkEntry.oracleSql.filter(kv => keys(kv._1))
      .foreach { case (k, v) => oracle.put(k, v) }
    spark.stop()
    json.writeValue(new File(args(2)), out)
  }

  /** Noop-sink selects of each public column function over the curate
    * shard. Reports input rows per second, median of three. */
  private def probes(spark: SparkSession, tracer: Tracer,
                     dir: String): ObjectNode = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("toks", split(col("text"), " "))
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
    val e = col("embedding")
    val cases: Seq[(String, DataFrame)] = Seq(
      "minhash" -> docs.select(TextOps.minhashSig(col("toks"), 64)),
      "simhash" -> docs.select(TextOps.simhashBands(col("toks"))),
      "ngrams" -> docs.select(TextOps.wordNGrams(col("text"), 3)),
      "normalize" -> docs.select(TextOps.unicodeNorm(col("text"))),
      "dot" -> vecs.select(VectorOps.dot(e, e)),
      "cosine" -> vecs.select(VectorOps.cosine(e, e,
        VectorOps.l2norm(e), VectorOps.l2norm(e))))
    val nDocs = docs.count().toDouble
    val nVecs = vecs.count().toDouble
    val res = json.createObjectNode()
    cases.foreach { case (name, df) =>
      val n = if (Set("dot", "cosine")(name)) nVecs else nDocs
      val secs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        tracer.span(s"functions.$name", "probe") {
          df.write.format("noop").mode("overwrite").save()
        }
        (System.nanoTime() - t0) / 1e9
      }.sorted
      res.put(name, n / secs(1))
    }
    res
  }
}

/** Runs one op of the plan and returns its record. */
private class OpRunner(spark: SparkSession, tracer: Tracer) {
  private val json = new ObjectMapper()
  private var seq = 0
  private val helper = new AdaptiveSparkPlanHelper {}

  /** Parquet files under `dir` with their sizes. */
  private def parquetFiles(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator.asScala.filter(_.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      finally s.close()
    }
  }

  def run(op: JsonNode, phase: String, pass: Int): ObjectNode = {
    seq += 1
    val id = s"op$seq"
    val key = op.get("key").asText
    val rec = json.createObjectNode()
    rec.put("id", id).put("phase", phase).put("pass", pass)
      .put("key", key).put("kind", op.get("kind").asText)
    Option(op.get("batch")).foreach(b => rec.put("batch", b.asText))
    val before = if (tracer.on) spark.sparkContext.getPersistentRDDs.keySet
      else Set.empty[Int]
    val landDir = Option(op.get("out")).map(_.asText)
    val filesBefore = landDir.filter(_ => tracer.on).map(parquetFiles)
    tracer.begin(phase)
    val t0 = System.nanoTime()
    try {
      op.get("kind").asText match {
        case "query" =>
          val df = tracer.span("queries.build", id) {
            SparkEntry.queries(key)(spark, op.get("dir").asText)
          }
          if (tracer.on) tracer.span("plans.plan", id) {
            df.queryExecution.executedPlan
          }
          val rows = tracer.span("queries.action", id) { df.collect() }
          rec.put("dur_s", (System.nanoTime() - t0) / 1e9)
          rec.put("nrows", rows.length)
          rec.put("digest", Canon.digest(df.schema, rows))
          if (tracer.on) rec.put("memo_scans", helper.collectWithSubqueries(
            df.queryExecution.executedPlan) {
              case s: InMemoryTableScanExec => s
            }.size)
        case "land" =>
          val dynamic = op.get("mode").asText == "dynamic"
          val table = op.get("table").asText
          val schema = table match {
            case "lineitem" => Schemas.lineitem
            case "orders" => Schemas.orders
            case "events" => Schemas.events
          }
          val staged = tracer.span("etl.read", id) {
            Ingest.withDatePartitions(Ingest.sanitizeColumnNames(
              Ingest.readCsv(spark, op.get("csv").asText, schema)),
              op.get("ts").asText)
          }
          val dir = op.get("out").asText
          tracer.span("etl.write", id) {
            Ingest.writeParquet(staged, dir, Seq("p_year", "p_month"),
              if (dynamic) SaveMode.Overwrite else SaveMode.Append, dynamic)
          }
          val n = tracer.span("etl.count", id) {
            spark.read.parquet(dir).count()
          }
          rec.put("dur_s", (System.nanoTime() - t0) / 1e9)
          rec.put("count", n)
      }
      rec.put("ok", true)
    } catch {
      case NonFatal(e) =>
        rec.put("dur_s", (System.nanoTime() - t0) / 1e9)
        rec.put("ok", false)
        rec.put("error", s"${e.getClass.getName}: ${e.getMessage}".take(500))
    } finally tracer.end()
    filesBefore.foreach { b =>
      val added = parquetFiles(landDir.get) -- b.keySet
      rec.put("files_written", added.size).put("bytes_written", added.values.sum)
    }
    if (tracer.on) rec.put("memo_fills",
      (spark.sparkContext.getPersistentRDDs.keySet -- before).size)
    rec
  }
}
