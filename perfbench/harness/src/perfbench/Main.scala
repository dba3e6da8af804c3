package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{PinnedBlocks, SparkEntry}

/** Closed-loop benchmark harness: one client, one call at a time, in one
  * JVM on `local[N]`. A fixed number of warm passes over the workload's
  * call list ends set-up (JIT, codegen, scratch layouts, pinned
  * checkpoints and process caches fill there); then whole passes run
  * until `--seconds` have elapsed and at least `--min-passes` have
  * completed. A call is timed from the call that builds its DataFrame
  * until every output row has been collected and fingerprinted.
  *
  * With `--trace 1`, even passes run with the listeners of [[Recorder]]
  * attached and odd passes without, so the traced/untraced wall ratio
  * is the tracing overhead; traced passes also yield the per-call
  * ledger and the spans.
  *
  * Writes `result.json` (and `spans.jsonl`) under `--out`, and the first
  * warm pass's collected outputs under `--out`/outputs/<call> as
  * parquet, for the oracle check that runs after this process. Any
  * failure outside a call exits non-zero. Usage:
  * `perfbench.Main --workload W --data DIR --out DIR --seconds S
  * --trace 0|1 --cores N --t0-us EPOCH_US --warm-passes W --min-passes P
  * [--gates a,b,...]`
  */
object Main {
  final case class Call(name: String, core: Boolean, build: SparkSession => DataFrame)
  final case class Sample(name: String, pass: Int, traced: Boolean, wallS: Double,
      buildS: Double, rows: Long, fp: String, error: Option[String])
  type Output = (Array[Row], StructType)

  private def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** Error class and the first line of its message. */
  private def describe(e: Throwable): String = {
    val msg = Option(e.getMessage).map(_.linesIterator.nextOption().getOrElse("")).getOrElse("")
    s"${e.getClass.getName}: ${msg.take(300)}"
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def jitMs(): Long =
    Option(ManagementFactory.getCompilationMXBean).filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => throw new IllegalStateException("process CPU time is not available")
  }

  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    // Spark's non-daemon threads must not keep a failed run alive
    Runtime.getRuntime.halt(code)
  }

  private def run(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val data = opt("data")
    val out = opt("out")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val t0Us = opt("t0-us").toLong
    val warmPasses = opt("warm-passes").toInt
    val minPasses = opt("min-passes").toInt
    require(warmPasses >= 1 && minPasses >= 1, "need at least one warm and one timed pass")
    val scratch = s"$out/scratch"
    Files.createDirectories(Paths.get(scratch))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.local.dir", s"$scratch/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionUs = nowUs()

    val calls: Seq[Call] = workload match {
      case "etl" => Etl.calls(data, scratch).map { case (n, c, b) => Call(n, c, b) }
      case _ =>
        val all = SparkEntry.queries
        opt("gates").split(",").toSeq.filter(_.nonEmpty).map { g =>
          val fn = all.getOrElse(g, throw new IllegalArgumentException(s"unknown gate $g"))
          Call(g, core = false, s => fn(s, data))
        }
    }
    require(calls.nonEmpty, s"workload $workload has no calls")

    val recorder = new Recorder(spark)
    val ledger = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
    val spans = mutable.ArrayBuffer.empty[Span]
    var spanId = 0L
    def nextSpan(): Long = { spanId += 1; spanId }

    def clearState(): Unit = {
      PinnedBlocks.clearUnpinned(spark)
      spark.catalog.clearCache()
    }
    def stateSnapshot(): (Int, Int, Long) = {
      val sc = spark.sparkContext
      val ids = sc.getPersistentRDDs.keys.toSeq
      (ids.size, ids.count(PinnedBlocks.isPinned),
        sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
    }

    /** Runs one call; returns its sample and its collected output. */
    def runOne(c: Call, pass: Int, trace: Boolean): (Sample, Option[Output]) = {
      if (trace) { recorder.drain(); recorder.take() }
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var buildEndNs = 0L
      var buildEndMs = 0L
      val outcome = try {
        val df = c.build(spark)
        buildEndNs = System.nanoTime()
        buildEndMs = System.currentTimeMillis()
        val rows = df.collect()
        Right((rows, df.schema, Fingerprint(df.schema, rows)))
      } catch {
        case NonFatal(e) => Left(describe(e))
      }
      val t1 = System.nanoTime()
      val endMs = System.currentTimeMillis()
      if (buildEndNs == 0L) { buildEndNs = t1; buildEndMs = endMs }
      if (trace) {
        val state = stateSnapshot()
        recorder.drain()
        val ev = recorder.take()
        val w = Window(c.name, pass, c.core, startMs, buildEndMs, endMs,
          (t1 - t0) / 1e6, (buildEndNs - t0) / 1e6)
        ledger += Ledger.row(w, ev, state)
        spans ++= Ledger.spans(w, ev, () => nextSpan())
      }
      clearState()
      val sample = Sample(c.name, pass, trace, (t1 - t0) / 1e9, (buildEndNs - t0) / 1e9,
        outcome.map(_._1.length.toLong).getOrElse(0L), outcome.map(_._3).getOrElse(""),
        outcome.left.toOption)
      (sample, outcome.toOption.map(o => (o._1, o._2)))
    }

    // warm passes: the first one's outputs are the ones the oracle checks;
    // later ones (numbered -1, -2, ...) are checked against the first like
    // timed passes
    val samples = mutable.ArrayBuffer.empty[Sample]
    val warmStartUs = nowUs()
    var warm = calls.map(c => runOne(c, 0, trace = false))
    val warmSamples = warm.map(_._1)
    for (w <- 1 until warmPasses)
      calls.foreach(c => samples += runOne(c, -w, trace = false)._1)
    val setupGc = gcMs()
    val setupJit = jitMs()
    val setupEndUs = nowUs()

    // the timed window: whole passes until `seconds` and `minPasses`
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val cpu0 = cpuNs()
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    var pass = 0
    while (pass < minPasses || elapsed < seconds) {
      pass += 1
      val trace = traced && pass % 2 == 0
      if (trace) recorder.attach()
      val gc0 = gcMs()
      val p0 = System.nanoTime()
      calls.foreach(c => samples += runOne(c, pass, trace)._1)
      val wall = (System.nanoTime() - p0) / 1e9
      if (trace) { recorder.drain(); recorder.detach() }
      passes += Map("pass" -> pass, "traced" -> trace, "wall_s" -> wall,
        "jvm_gc_ms" -> (gcMs() - gc0))
    }
    val windowS = (System.nanoTime() - loopStart) / 1e9
    val windowCpuS = (cpuNs() - cpu0) / 1e9

    // the warm outputs go to parquet for the oracle (a failed write ends
    // the run), then are released so that the heap reading below does
    // not count them
    warm.foreach { case (s, o) =>
      o.foreach { case (rows, schema) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/outputs/${s.name}")
      }
    }
    warm = Nil
    clearState()
    // retained heap: the least of three readings, each after a full GC
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    def sampleJson(s: Sample) = Map("call" -> s.name, "pass" -> s.pass, "traced" -> s.traced,
      "wall_s" -> s.wallS, "build_s" -> s.buildS, "rows" -> s.rows, "fp" -> s.fp,
      "error" -> s.error.orNull)
    val result = Map(
      "workload" -> workload,
      "cores" -> cores,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "jvm_start_to_session_s" -> (sessionUs - t0Us) / 1e6,
      "warm_s" -> (setupEndUs - warmStartUs) / 1e6,
      "setup_s" -> (setupEndUs - t0Us) / 1e6,
      "setup_jvm_gc_ms" -> setupGc,
      "setup_jvm_jit_ms" -> setupJit,
      "window_s" -> windowS,
      "window_cpu_s" -> windowCpuS,
      "live_heap_mb" -> heapMb,
      "calls" -> calls.map(_.name),
      "warm" -> warmSamples.map(sampleJson),
      "passes" -> passes,
      "samples" -> samples.map(sampleJson),
      "ledger" -> ledger)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    if (traced) {
      val w = Files.newBufferedWriter(Paths.get(s"$out/spans.jsonl"))
      try spans.foreach { s =>
        w.write(mapper.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent,
          "call" -> s.call, "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.startMs,
          "end_ms" -> s.endMs, "self_ms" -> s.selfMs)))
        w.newLine()
      } finally w.close()
    }
    val names = calls.map(_.name).toSet
    Files.createDirectories(Paths.get(s"$out/outputs"))
    Files.writeString(Paths.get(s"$out/outputs/oracle_sql.json"), mapper.writeValueAsString(
      SparkEntry.oracleSql.filter { case (k, _) => names(k) }))
    Files.writeString(Paths.get(s"$out/result.json"), mapper.writeValueAsString(result))
    spark.stop()
  }
}
