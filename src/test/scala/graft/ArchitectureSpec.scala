package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
import org.scalatest.funsuite.AnyFunSuite

/** Keeps each cross-cutting decision in one module: no main-source file
  * other than etl/Fixtures.scala may declare a session-keyed cache or
  * create temp dirs itself, and none other than Session.scala may build
  * a session. */
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

  test("only Session.scala builds a SparkSession") {
    val found = offenders("graft/Session.scala",
      Seq(raw"SparkSession\s*\.\s*builder".r))
    assert(found.isEmpty,
      s"session built outside graft.Session: ${found.mkString("; ")}")
  }
}
