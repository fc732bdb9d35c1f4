package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.Fixtures

/** The memo policy in [[graft.etl.Fixtures]] under nested builds. */
class FixturesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // memo key namespace only — nothing here reads it as a path
  private val sfDir = "fixtures-spec"

  // Each memo is exercised as a chain of builders, each asking for the
  // next: deep enough that a non-re-entrant memo (a nested
  // ConcurrentHashMap.computeIfAbsent throws "Recursive update" once two
  // pending keys share a bin) cannot pass by luck.
  private val depth = 32

  test("nested memo builds return, and each builder runs exactly once") {
    // staged dirs whose builders stage another dir
    val dirRuns = Array.fill(depth)(0)
    def dirChain(i: Int): String = Fixtures.stagedDir(sfDir, s"nested_dir_$i") { d =>
      dirRuns(i) += 1
      if (i + 1 < depth) Files.writeString(Paths.get(d, "next"), dirChain(i + 1))
    }
    val top = dirChain(0)
    assert(dirChain(0) == top)
    assert(Files.readString(Paths.get(top, "next")) == dirChain(1))
    assert(dirRuns.forall(_ == 1), dirRuns.mkString(","))

    // a staged-persisted table whose build asks for a persisted table,
    // which asks for another — the shape of ngram_pairs → signed
    val tableRuns = Array.fill(depth)(0)
    def tableChain(i: Int): DataFrame = Fixtures.persisted(spark, sfDir, s"nested_table_$i") {
      tableRuns(i) += 1
      (if (i + 1 < depth) tableChain(i + 1).selectExpr("id + 1 AS id")
       else spark.range(5).toDF("id")).persist()
    }
    var stagedRuns = 0
    def staged() = Fixtures.stagedPersisted(spark, sfDir, "nested_staged") {
      stagedRuns += 1
      tableChain(0)
    }
    val df = staged()
    assert(staged() eq df)
    assert(tableChain(0) eq tableChain(0))
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (31L to 35L))
    assert(stagedRuns == 1 && tableRuns.forall(_ == 1), tableRuns.mkString(","))
  }
}
