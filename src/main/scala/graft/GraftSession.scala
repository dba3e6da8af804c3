package graft

import graft.sources.LocalFs
import org.apache.spark.sql.SparkSession

/** The one session factory of graft's mains (Bench, Verify, ProfileJobs):
  * a production deployment shrunk to one node. `SPARK_GRAFT_CPUS` (default
  * 4) sets both the local cores and the shuffle parallelism (not the 200
  * default); AQE is on (runtime partition coalescing and skew-join
  * splitting); UTC; no UI. Every `file:` path goes through
  * [[graft.sources.LocalFs]], which starts no `chmod` or `readlink`
  * process per file or dir the session writes.
  */
object GraftSession {
  def apply(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // default codegen class cache (100 entries) evicts the warm pass's
      // compiled stages across hundreds of queries; keep them all hot
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // set at build: Hadoop caches the first `file:` filesystem it makes
      .config(Map(LocalFs.fileSystem))
      // static conf, set at build: bucketed-table and catalog gates
      // saveAsTable here rather than into the cwd. Fresh per run: a
      // REUSED dir + fresh in-memory catalog would make saveAsTable
      // refuse ("managed table location already exists").
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory(s"${appName}_warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
