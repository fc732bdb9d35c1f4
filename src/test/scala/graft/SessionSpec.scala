package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Keeps `graft.Session` and the benchmark harness on one configuration:
  * the engine confs that `perfbench/run.py` passes (`spark_conf`) are
  * exactly the factory's. Only the run-local entries (warehouse and
  * local dirs, driver host and bind address) are the harness's own.
  * Compares conf maps, so it does not depend on which session this JVM
  * built first. */
class SessionSpec extends AnyFunSuite {
  test("Session.confs equal the engine confs perfbench/run.py passes") {
    val src = Files.readString(Paths.get("perfbench/run.py"))
    val body = src.linesIterator.dropWhile(!_.startsWith("def spark_conf("))
      .drop(1).takeWhile(l => l.isEmpty || l.startsWith(" ")).toList
    // `n` in the dict is the core count, which the factory reads as
    // SPARK_GRAFT_CPUS or the available processors
    assert(body.exists(_.trim == "n = str(nproc())"),
      s"spark_conf no longer sets n from nproc():\n${body.mkString("\n")}")
    val runLocal = Set("spark.sql.warehouse.dir", "spark.local.dir")
    val harness = body.flatMap(l =>
      raw"""\s*"([^"]+)":\s*(.+?),?\s*""".r.unapplySeq(l)).collect {
      case List(k, v) if !runLocal(k) && !k.startsWith("spark.driver.") =>
        k -> (if (v == "n") Session.cpus else v.stripPrefix("\"").stripSuffix("\""))
    }.toMap
    assert(harness.nonEmpty, "found no conf entries in spark_conf")
    assert(Session.confs == harness,
      s"factory-only: ${(Session.confs.toSet -- harness.toSet).toSeq.sorted}; " +
        s"harness-only: ${(harness.toSet -- Session.confs.toSet).toSeq.sorted}")
  }
}
