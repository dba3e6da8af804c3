package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => Report.selected(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${Report.cause(e)}")
      }
      // free each query's localCheckpoint blocks (CC labels, iteration
      // pins) so a 200-query run's storage footprint stays one query
      // deep — same hygiene as Bench.clearState; process-pinned shared
      // checkpoints (Dedup's shingle frame) are exempt, their truncated
      // lineage could never be recomputed after an unpersist
      PinnedBlocks.clearUnpinned(spark)
    }
    // escaped by Report.json: an unescaped control char in an oracle's
    // SQL would make the compare's json.load fail
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Report.json(k)}: ${Report.json(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
