package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps the memo and temp-dir decision in one module: no main-source
  * file other than etl/Fixtures.scala may declare a session-keyed cache
  * or create temp dirs itself. */
class ArchitectureSpec extends AnyFunSuite {
  test("only etl/Fixtures.scala declares session memos or creates temp dirs") {
    val root = Paths.get("src/main/scala")
    val owner = root.resolve("graft/etl/Fixtures.scala")
    val banned = Seq(raw"WeakHashMap\s*\[\s*SparkSession".r,
      raw"createTempDirectory".r)
    val walk = Files.walk(root)
    val offenders = try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != owner)
      .flatMap { p =>
        val src = Files.readString(p)
        banned.filter(_.findFirstIn(src).isDefined).map(r => s"$p: $r")
      }.toList
    finally walk.close()
    assert(Files.isRegularFile(owner))
    assert(offenders.isEmpty,
      s"memo/temp-dir code outside graft.etl.Fixtures: ${offenders.mkString("; ")}")
  }
}
