package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import org.apache.commons.io.FileUtils
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    val only = SparkEntry.onlyKeys()
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.contains(name))
    }
    dump(spark, sfDir, outDir, selected)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Write each key's result to `outDir/<key>`. A key that fails is
    * reported and the rest still run; a fatal error (OOM, interrupt)
    * ends the dump, since the JVM may be too damaged to trust. */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      keys: Map[String, (SparkSession, String) => DataFrame]): Unit =
    keys.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any stale output from a previous run — a leftover dump
        // would let the oracle compare silently pass on old results
        FileUtils.deleteQuietly(new java.io.File(s"$outDir/$name"))
      }
    }
}
