package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.core.MapReduce
import graft.sources.TsvSourceProvider

/** The reference's own job, `basic_mr_month_count.py`, as SURVEY.md
  * §2.2 (Q5-Q9) describes it: count log rows per (variant, month), where
  * the variant is the second space-separated token of column 13 and the
  * month is the first 7 characters of the date in column 3. Header lines
  * are skipped. Malformed rows are counted under sentinel keys: a row
  * without a variant token under `no_variant`, a row whose date is not
  * `yyyy-MM...` under `date_error`; their month is `-`. Every call
  * returns (variant, month, n) in key order, but the streaming one: the
  * month-count gate `q70_stream_month_count` over the well-formed rows'
  * `events` table returns (event_type, month, n). */
object Etl {
  val StreamCall = "q70_stream_month_count"
  private val Tsv = classOf[TsvSourceProvider].getName
  private val ResultDdl = "variant STRING, month STRING, n BIGINT"
  private val LogColumns = Seq("id", "user", "host", "date", "path", "status",
    "bytes", "ms", "agent", "region", "lang", "ref", "session", "variant")
  private val LogDdl = LogColumns.map(c => s"$c STRING").mkString(", ")
  private val Header = LogColumns.mkString("\t")

  private def dated(d: String): Boolean =
    d.length >= 7 && d.charAt(4) == '-' &&
      d.take(4).forall(_.isDigit) && d.slice(5, 7).forall(_.isDigit)

  /** The reference's map function: one (key, 1) per line but the header. */
  def mapLine(line: String): Iterator[((String, String), Long)] =
    if (line == Header) Iterator.empty
    else {
      val f = line.split("\t", -1)
      val tokens = if (f.length > 13) f(13).split(" ", -1) else Array.empty[String]
      val key =
        if (tokens.length < 2) ("no_variant", "-")
        else if (!dated(f(3))) ("date_error", "-")
        else (tokens(1), f(3).take(7))
      Iterator((key, 1L))
    }

  private def ordered(df: DataFrame): DataFrame =
    df.toDF("variant", "month", "n").orderBy("variant", "month")

  /** (name, goes through graft.core.MapReduce, build) for every call
    * of one pass. `data` holds `index.txt`, `shards/` and
    * `events.parquet`; sinks are written under `scratch`. */
  def calls(data: String, scratch: String): Seq[(String, Boolean, SparkSession => DataFrame)] = {
    def holistic(s: SparkSession): DataFrame = {
      import s.implicits._
      ordered(MapReduce.runOnFileIndex[(String, String), Long, (String, String, Long)](
        s, s"$data/index.txt", mapLine, (k, vs) => (k._1, k._2, vs.size.toLong)).toDF())
    }
    def associative(s: SparkSession): DataFrame = {
      import s.implicits._
      ordered(MapReduce.runAssociative[String, (String, String), Long](
        s.read.textFile(s"$data/shards"), mapLine, _ + _)
        .map { case ((v, m), n) => (v, m, n) }.toDF())
    }
    def dsv2(s: SparkSession): DataFrame = {
      // short rows read as nulls in their missing columns
      val tokens = split(col("variant"), " ", -1)
      val variant = when(size(tokens) >= 2, tokens.getItem(1))
      val isDated = coalesce(col("date").rlike("^[0-9]{4}-[0-9]{2}"), lit(false))
      s.read.format(Tsv).schema(StructType.fromDDL(LogDdl))
        .option("path", s"$data/shards").load()
        .where(col("id") =!= "id")
        .select(
          when(variant.isNull, "no_variant").when(!isDated, "date_error")
            .otherwise(variant).as("variant"),
          when(variant.isNull || !isDated, "-")
            .otherwise(substring(col("date"), 1, 7)).as("month"))
        .groupBy("variant", "month")
        .agg(count(lit(1)).as("n"))
        .orderBy("variant", "month")
    }
    def tsvSink(s: SparkSession): DataFrame = {
      val out = s"$scratch/tsv_sink"
      holistic(s).write.format(Tsv).option("path", out)
        .option("write_schema", ResultDdl).mode("overwrite").save()
      ordered(s.read.format(Tsv).schema(StructType.fromDDL(ResultDdl))
        .option("path", out).load())
    }
    def parquetSink(s: SparkSession): DataFrame = {
      val out = s"$scratch/parquet_sink"
      dsv2(s).write.mode("overwrite").parquet(out)
      ordered(s.read.parquet(out))
    }
    val streamed = SparkEntry.queries(StreamCall)
    // mr_holistic and mr_holistic_tsv_sink differ by the TSV sink's
    // write and read-back alone
    Seq(
      ("mr_holistic", true, holistic),
      ("mr_holistic_tsv_sink", true, tsvSink),
      ("mr_associative", true, associative),
      ("dsv2_parquet_sink", false, parquetSink),
      (StreamCall, false, s => streamed(s, data)))
  }
}
