package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.io.Source

/** Guards the committed scale-evidence register (SCALE.md, regenerated
  * via `python3 tools/scale_table.py plans_r17.json > SCALE.md`):
  * every `SparkEntry.queries` key must carry either a measured x8/x64
  * scaling row or a named bounded-by-construction tag. This is the
  * same enforcement shape as the survey table's coverage drift check —
  * a new operator cannot land without a scale story, the same way it
  * cannot land without an oracle entry. The generator itself
  * additionally validates tag vocabulary and fails on dict drift
  * against the plan snapshot.
  */
class ScaleEvidenceSpec extends AnyFunSuite {

  private lazy val registerKeys: Set[String] = {
    val src = Source.fromFile("SCALE.md", "UTF-8")
    try {
      val Row = """\|\s*`([a-z0-9_]+)`\s*\|.*""".r
      src.getLines().collect { case Row(k) => k }.toSet
    } finally src.close()
  }

  test("every query key has a scale-evidence row in SCALE.md") {
    val missing = SparkEntry.queries.keySet -- registerKeys
    assert(missing.isEmpty,
      s"keys without a scale story (add to tools/scale_table.py EVIDENCE " +
        s"and regenerate SCALE.md): ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("SCALE.md carries no stale keys") {
    val stale = registerKeys -- SparkEntry.queries.keySet
    assert(stale.isEmpty,
      s"SCALE.md rows for keys no longer in SparkEntry.queries: " +
        s"${stale.toSeq.sorted.mkString(", ")}")
  }
}
