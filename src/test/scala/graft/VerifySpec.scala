package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.Fixtures

/** The per-key loop of [[graft.Verify]]'s correctness dump. */
class VerifySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private type Key = (SparkSession, String) => DataFrame

  test("a failing key loses its stale dump; a fatal error ends the dump") {
    val out = Fixtures.tempDir("graft_verify_spec_")
    Files.createDirectories(Paths.get(out, "bad"))
    Files.writeString(Paths.get(out, "bad", "stale.parquet"), "old")
    val ok: Key = (s, _) => s.range(3).toDF("id")
    val bad: Key = (_, _) => throw new IllegalStateException("bad key")
    Verify.dump(spark, "unused", out, Map("bad" -> bad, "ok" -> ok))
    assert(!Files.exists(Paths.get(out, "bad")))
    assert(spark.read.parquet(s"$out/ok").count() == 3)

    val oom: Key = (_, _) => throw new OutOfMemoryError("simulated")
    assertThrows[OutOfMemoryError](Verify.dump(spark, "unused", out, Map("oom" -> oom)))
    val interrupted: Key = (_, _) => throw new InterruptedException("simulated")
    assertThrows[InterruptedException](
      Verify.dump(spark, "unused", out, Map("interrupted" -> interrupted)))
  }
}
