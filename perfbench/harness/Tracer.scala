package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around layer calls and counters from Spark's own listeners.
  *
  * Spans are kept in memory and written out once, at the end of the
  * run. The listeners are registered only when tracing is on, so the
  * untraced run measures the engine without them. Listener counters
  * cover timed ops only: each op tags its jobs with a local property
  * naming its phase, and stages inherit it.
  */
class Tracer(spark: SparkSession, val on: Boolean) {
  private case class Span(id: Int, parent: Int, op: String, name: String,
                          start: Long, end: Long)
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private val PhaseProp = "perfbench.phase"

  def begin(phase: String): Unit =
    spark.sparkContext.setLocalProperty(PhaseProp, phase)

  def end(): Unit = spark.sparkContext.setLocalProperty(PhaseProp, null)

  def span[T](name: String, op: String)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, System.nanoTime())
      }
    }

  // ---- Spark listener: task/stage counters for the timed phase ----
  private val timedStages = ConcurrentHashMap.newKeySet[Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val counters = new ConcurrentHashMap[String, Double]()
  private def add(k: String, v: Double): Unit = counters.merge(k, v, _ + _)

  private val sparkListener = new SparkListener {
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (e.properties != null &&
          e.properties.getProperty(PhaseProp) == "timed") {
        val s = e.stageInfo
        timedStages.add(s.stageId)
        stageSubmit.put(s.stageId, s.submissionTime.getOrElse(0L))
        add("stages", 1)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (timedStages.contains(e.stageId)) {
        add("tasks", 1)
        if (e.reason != Success) add("tasks_failed", 1)
        add("sched_wait_s", math.max(0L,
          e.taskInfo.launchTime - stageSubmit.getOrDefault(e.stageId, 0L)) / 1e3)
        val m = e.taskMetrics
        if (m != null) {
          add("task_cpu_s", m.executorCpuTime / 1e9)
          add("task_run_s", m.executorRunTime / 1e3)
          add("gc_s", m.jvmGCTime / 1e3)
          add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
          add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
          add("input_mb", m.inputMetrics.bytesRead / 1048576.0)
          add("output_mb", m.outputMetrics.bytesWritten / 1048576.0)
        }
      }
  }

  // ---- streaming listener: micro-batch durations of timed queries ----
  @volatile private var phaseAtStart = Map.empty[java.util.UUID, String]
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      phaseAtStart += e.id -> String.valueOf(
        spark.sparkContext.getLocalProperty(PhaseProp))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (phaseAtStart.get(e.progress.id).contains("timed")) {
        val d = e.progress.durationMs.asScala
        add("streaming.batches", 1)
        add("streaming.add_batch_ms", d.get("addBatch").map(_.toDouble).getOrElse(0.0))
        add("streaming.wal_commit_ms", d.get("walCommit").map(_.toDouble).getOrElse(0.0))
        add("streaming.planning_ms", d.get("queryPlanning").map(_.toDouble).getOrElse(0.0))
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Block until every posted listener event has been delivered. */
  def drain(): Unit = if (on) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def spansJson(json: ObjectMapper): ArrayNode = {
    val a = json.createArrayNode()
    spans.foreach { s =>
      a.addObject().put("id", s.id).put("parent", s.parent).put("op", s.op)
        .put("name", s.name).put("start_ns", s.start).put("end_ns", s.end)
    }
    a
  }

  private def countersJson(json: ObjectMapper, pick: String => Boolean): ObjectNode = {
    val o = json.createObjectNode()
    counters.asScala.toSeq.sortBy(_._1).foreach { case (k, v) =>
      if (pick(k)) o.put(k, v)
    }
    o
  }

  def sparkJson(json: ObjectMapper): ObjectNode =
    countersJson(json, !_.startsWith("streaming."))

  def streamingJson(json: ObjectMapper): ObjectNode =
    countersJson(json, _.startsWith("streaming."))
}
