package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // static conf — must be set at build; bucketed-table queries
      // (q77) saveAsTable here rather than into the driver's cwd. Fresh
      // per run: a REUSED dir + fresh in-memory catalog would make
      // saveAsTable refuse ("managed table location already exists").
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft_warehouse_verify").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
