package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
import org.scalatest.funsuite.AnyFunSuite

/** Keeps each cross-cutting decision in one module: no main-source file
  * other than etl/Fixtures.scala may declare a session-keyed cache or
  * create temp dirs itself, none other than Session.scala may build a
  * session, no streaming query is run outside
  * StreamingQ.runAvailableNow, every kernel's generated code calls
  * its Scala loop through Kernel.callCompute, only LlmVector.Cents
  * calls the centroid kernels or ranks cells on the driver, only
  * plans/SingleSplitRule.scala reads the split budget, and each literal
  * memo tag of Fixtures has one call site, so one builder defines each
  * staged or persisted artifact. */
class ArchitectureSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  /** `file: pattern` for each main-source file other than `owner` in
    * which one of `banned` occurs. */
  private def offenders(owner: String, banned: Seq[Regex]): List[String] = {
    val ownerPath = root.resolve(owner)
    assert(Files.isRegularFile(ownerPath))
    val walk = Files.walk(root)
    try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != ownerPath)
      .flatMap { p =>
        val src = Files.readString(p)
        banned.filter(_.findFirstIn(src).isDefined).map(r => s"$p: $r")
      }.toList
    finally walk.close()
  }

  test("only etl/Fixtures.scala declares session memos or creates temp dirs") {
    val found = offenders("graft/etl/Fixtures.scala",
      Seq(raw"WeakHashMap\s*\[\s*SparkSession".r, raw"createTempDirectory".r))
    assert(found.isEmpty,
      s"memo/temp-dir code outside graft.etl.Fixtures: ${found.mkString("; ")}")
  }

  test("only StreamingQ.runAvailableNow starts and awaits a streaming query") {
    val owner = root.resolve("graft/streaming/StreamingQ.scala")
    // the runner's body: from its `def` to the next blank line
    val runner = {
      val src = Files.readString(owner)
      val at = src.indexOf("def runAvailableNow(")
      if (at < 0) (0, 0) else (at, src.indexOf("\n\n", at))
    }
    val walk = Files.walk(root)
    val sites = try walk.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = Files.readString(p)
        raw"Trigger\s*\.\s*AvailableNow\s*\(|awaitTermination".r
          .findAllMatchIn(src).map(_.start)
          .filterNot(at => p == owner && at > runner._1 && at < runner._2)
          .map(at => s"$p:${src.take(at).count(_ == '\n') + 1}")
      }.toList
    finally walk.close()
    assert(sites.isEmpty, s"${sites.length} sites run a streaming query " +
      s"outside runAvailableNow: ${sites.mkString("; ")}")
  }

  test("only Session.scala builds a SparkSession") {
    val found = offenders("graft/Session.scala",
      Seq(raw"SparkSession\s*\.\s*builder".r))
    assert(found.isEmpty,
      s"session built outside graft.Session: ${found.mkString("; ")}")
  }

  test("only plans/SingleSplitRule.scala reads the split budget") {
    // the one-split read rule and the one-writer write share one size
    // test, SingleSplitRule.smallScan, so the two cannot drift apart
    val found = offenders("graft/plans/SingleSplitRule.scala",
      Seq(raw"filesMaxPartitionBytes".r, raw"FilePartition\s*\.\s*maxSplitBytes".r))
    assert(found.isEmpty,
      s"split budget read outside graft.plans.SingleSplitRule: ${found.mkString("; ")}")
  }

  test("each literal Fixtures memo tag has exactly one call site") {
    // two builders under one tag would serve whichever ran first in the
    // session; an interpolated tag (s"csv_$table") is one builder per
    // family and is not counted
    val tagged = raw"\b(?:stagedDir|persisted|stagedPersisted)\s*\(" +
      raw"\s*[^()\x22]*?[,\s]\x22([^\x22]*)\x22\s*\)"
    val walk = Files.walk(root)
    val sites = try walk.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = Files.readString(p)
        tagged.r.findAllMatchIn(src).map(m =>
          m.group(1) -> s"$p:${src.take(m.start).count(_ == '\n') + 1}")
      }.toList
    finally walk.close()
    val repeated = sites.groupBy(_._1).toSeq.sortBy(_._1).collect {
      case (tag, at) if at.length > 1 => s"$tag at ${at.map(_._2).mkString(", ")}"
    }
    assert(sites.length >= 30, s"only ${sites.length} memo tags found")
    assert(repeated.isEmpty,
      s"memo tags with more than one call site: ${repeated.mkString("; ")}")
  }

  test("every doGenCode in graft.functions is one Kernel.callCompute") {
    // the whole method, from `def` to the next blank line or the end of
    // its class, must be the one-line call: a hand-written Java copy of
    // a kernel cannot return
    val oneCall = (raw"def doGenCode\([^)]*\)\s*:\s*ExprCode\s*=\s*" +
      raw"nullSafeCodeGen\(ctx,\s*ev,\s*\(?[\w,\s]*\)?\s*=>\s*" +
      raw"(Kernel\.)?callCompute\(ctx,\s*ev,\s*this(,\s*\w+)*\)\)").r
    val walk = Files.walk(root.resolve("graft/functions"))
    val bodies = try walk.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = Files.readString(p)
        raw"def doGenCode\(".r.findAllMatchIn(src).map { m =>
          val end = Seq(src.indexOf("\n\n", m.start),
            src.indexOf("\n}", m.start), src.length).filter(_ >= 0).min
          (s"$p:${src.take(m.start).count(_ == '\n') + 1}",
            src.substring(m.start, end).trim)
        }
      }.toList
    finally walk.close()
    assert(bodies.nonEmpty)
    val off = bodies.filterNot { case (_, body) => oneCall.matches(body) }
    assert(off.isEmpty, s"${off.length} of ${bodies.length} doGenCode " +
      s"bodies do not call Kernel.callCompute: ${off.map(_._1).mkString("; ")}")
  }

  test("only LlmVector.Cents calls the centroid kernels; one driver-side probe") {
    // the in-plan IVF probe and the driver-side one read one centroid
    // type, so the persisted and IVFPQ keys pick llm_ann_ivf's cells
    val walk = Files.walk(root.resolve("graft/queries"))
    val srcs = try walk.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toList
    finally walk.close()
    // the body of `class Cents`: from its first `{` to the matching `}`
    def centsBody(src: String): (Int, Int) = {
      val at = src.indexOf("class Cents(")
      if (at < 0) (0, 0)
      else {
        val open = src.indexOf('{', at)
        var depth = 1
        var i = open + 1
        while (depth > 0 && i < src.length) {
          if (src(i) == '{') depth += 1 else if (src(i) == '}') depth -= 1
          i += 1
        }
        (open, i)
      }
    }
    def sites(r: Regex, skipCents: Boolean): List[String] = srcs.flatMap {
      case (p, src) =>
        val (from, to) = centsBody(src)
        r.findAllMatchIn(src).map(_.start)
          .filterNot(at => skipCents && at > from && at < to)
          .map(at => s"$p:${src.take(at).count(_ == '\n') + 1}")
    }
    val kernels = sites(
      raw"VectorOps\s*\.\s*(centroidScores|bestCentroid)\s*\(".r,
      skipCents = true)
    // the (cosine desc, centroid id asc) sort key of a driver-side probe
    val probes = sites(raw"\(\s*-\s*cos\s*,\s*c\s*\)".r, skipCents = false)
    assert(kernels.isEmpty && probes.length == 1,
      s"${kernels.length} centroid kernel call sites outside " +
        s"LlmVector.Cents (${kernels.mkString("; ")}) and " +
        s"${probes.length} driver-side probe folds, want the one in " +
        s"Cents.probe (${probes.mkString("; ")})")
  }
}
