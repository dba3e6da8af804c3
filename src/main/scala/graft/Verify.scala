package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession("graft-verify")
    new java.io.File(outDir).mkdirs()
    // optional selection (comma-separated regexes) for targeted local
    // re-verification; the driver never sets it → always the full dump
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSeq.filter(_.nonEmpty))
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.matches)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // free each query's localCheckpoint blocks (CC labels, iteration
      // pins) so a 200-query run's storage footprint stays one query
      // deep — same hygiene as Bench.clearState; process-pinned shared
      // checkpoints (Dedup's shingle frame) are exempt, their truncated
      // lineage could never be recomputed after an unpersist
      PinnedBlocks.clearUnpinned(spark)
    }
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
}
