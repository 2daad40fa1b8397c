package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.PerfbenchInternals
import org.apache.spark.sql.functions._

/** Closed-loop benchmark harness: one client, one JVM, `local[cpus]`.
  * It drives one workload through the engine's public entry points and
  * writes `result.json` (and `trace.json` when tracing) into the work
  * directory; `perfbench/run.py` turns that into the benchmark's result
  * line. Arguments are `key=value` pairs, all required:
  *
  *   workload  clinical_etl | compaction_stream
  *   seed      workload seed (step order, stream corpora and waves)
  *   seconds   length of the timed section
  *   trace     0 | 1 — record spans and per-layer counters
  *   input     input tables (batch workloads)
  *   work      scratch directory of this run
  *   nonce     run-unique tag for input directory names
  *   setups    set-up repetitions; their median enters `setup_s`
  *   warmup    warm passes after the set-ups, counted in `setup_s`
  *   size      full | tiny
  */
object Harness {

  /** The paper's linear flow over nested clinical documents: JSON
    * ingest, flatten, quarantine, project, impute, lookup joins, struct
    * build, validation, serialization, a sink round trip and the composed
    * ETL pipeline. */
  val clinicalSteps: Seq[String] = Seq("q_patient_ingest",
    "q_observation_flatten", "q_corrupt_quarantine", "q_project_nested",
    "q_null_impute", "q_parent_lookup", "q_code_map", "q_build_struct",
    "q_validate", "q_er7_serialize", "q_sink_roundtrip", "q_pipeline_etl")

  final case class Conf(workload: String, seed: Long, seconds: Double,
    trace: Boolean, input: String, work: String, nonce: String,
    setups: Int, warmup: Int, tiny: Boolean)

  final class ConfError(msg: String) extends IllegalArgumentException(msg)

  def parse(args: Array[String]): Conf = {
    val kv = args.map { a =>
      a.split("=", 2) match {
        case Array(k, v) => k -> v
        case _ => throw new ConfError(s"argument '$a' is not key=value")
      }
    }.toMap
    def get(k: String): String =
      kv.getOrElse(k, throw new ConfError(s"missing argument '$k'"))
    def int(k: String, lo: Int, hi: Int): Int =
      get(k).toIntOption.filter(v => v >= lo && v <= hi).getOrElse(
        throw new ConfError(s"'$k' must be an integer in [$lo, $hi]," +
          s" got '${get(k)}'"))
    val workload = get("workload")
    if (!Set("clinical_etl", "compaction_stream")(workload))
      throw new ConfError(s"unknown workload '$workload'")
    val nonce = get("nonce")
    if (!nonce.matches("[a-z0-9_]{1,40}"))
      throw new ConfError(s"'nonce' must match [a-z0-9_]{1,40}, got '$nonce'")
    Conf(workload,
      get("seed").toLongOption.getOrElse(
        throw new ConfError(s"'seed' must be an integer, got '${get("seed")}'")),
      int("seconds", 1, 600).toDouble, int("trace", 0, 1) == 1,
      get("input"), get("work"), nonce, int("setups", 1, 9),
      int("warmup", 0, 20),
      get("size") match {
        case "tiny" => true
        case "full" => false
        case s => throw new ConfError(s"'size' must be full or tiny, got '$s'")
      })
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Wall clock in epoch milliseconds with nanosecond resolution, on the
    * same axis as the listener's event times. */
  object Clock {
    private val ms0 = System.currentTimeMillis().toDouble
    private val ns0 = System.nanoTime()
    def now: Double = ms0 + (System.nanoTime() - ns0) / 1e6
  }

  /** JVM-wide counters read at pass boundaries. */
  object Jvm {
    private def gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def gcMs: Long = gcs.map(_.getCollectionTime.max(0L)).sum
    def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
    def heapPeakMb: Double =
      heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
    /** Peak resident set of this process (VmHWM), in MB. */
    def peakRssMb: Double = {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
      line.split("\\s+")(1).toDouble / 1024.0
    }
  }

  /** Files under `roots` with their sizes, for published bytes/files. */
  def listFiles(roots: Seq[String]): Map[String, Long] =
    roots.map(Paths.get(_)).filter(Files.exists(_)).flatMap { r =>
      val s = Files.walk(r)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toList
      catch { case _: java.io.UncheckedIOException => Nil }
      finally s.close()
    }.toMap

  /** One timed pass: wall time, per-layer counters and the per-unit
    * latencies (steps or micro-batches) it contained. */
  final case class Pass(wallS: Double, layers: Map[String, Acc],
    buildMs: Double, execMs: Double, unitMs: Seq[Double], gcMs: Double,
    heapPeakMb: Double, rows: Double, payloadBytes: Double,
    publishedBytes: Double, publishedFiles: Double, traced: Boolean,
    stream: Map[String, Double] = Map.empty)

  /** Everything a workload hands back to [[main]]. */
  final case class Outcome(setupS: Seq[Double], warmupS: Double,
    passes: Seq[Pass], attempted: Long, failures: Seq[String],
    checks: Map[String, Boolean], oracleSteps: Seq[String],
    inputNote: Map[String, Any])

  /** The closed loop of the timed section: a pass starts while time is
    * left, and at least one runs. With tracing, untraced (U) and traced
    * (T) passes follow the pattern U T T U, at least once, so a steady
    * JIT or cache drift weighs on both sides of the tracing overhead
    * alike. */
  def timedLoop(conf: Conf, probe: Probe, limit: Int = Int.MaxValue)(
      onePass: (String, Boolean) => Pass): Seq[Pass] = {
    val start = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[Pass]
    val least = if (conf.trace) 4 else 1
    while (passes.size < limit &&
        (passes.size < least || secondsSince(start) < conf.seconds)) {
      val trace = conf.trace && Set(1, 2)(passes.size % 4)
      probe.enabled = trace
      passes += onePass(s"pass${passes.size + 1}", trace)
    }
    probe.enabled = false
    passes.toSeq
  }

  def session(cpus: Int, work: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()

  /** Bench's `cpu_sec` host anchor: a fixed 200 M-row hash reduction. */
  def cpuProbe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(200L * 1000 * 1000).select(max(xxhash64(col("id"))))
      .write.format("noop").mode("overwrite").save()
    secondsSince(t0)
  }

  def main(args: Array[String]): Unit = {
    val conf = try parse(args) catch {
      case e: ConfError =>
        System.err.println(s"perfbench: ${e.getMessage}"); sys.exit(2)
    }
    val cpus = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = session(cpus, conf.work)
    spark.sparkContext.setLogLevel("ERROR")
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    val sessionS = secondsSince(t0)
    val runStart = Clock.now

    val outcome = conf.workload match {
      case "clinical_etl" =>
        new BatchWorkload(spark, probe, conf, clinicalSteps).run()
      case "compaction_stream" =>
        new StreamWorkload(spark, probe, conf).run()
    }
    probe.enabled = conf.trace
    probe.record(Span("workload", "", conf.workload, runStart, Clock.now))
    probe.enabled = false
    val cpuSec = cpuProbe(spark)

    val passes = outcome.passes
    val untraced = passes.filterNot(_.traced)
    val measured = if (conf.trace) passes.filter(_.traced) else passes
    def med(f: Pass => Double): Double = median(measured.map(f))
    def layer(phase: String, f: Acc => Double): Double =
      med(p => p.layers.get(phase).map(f).getOrElse(0.0))
    val execPhase = if (conf.workload == "compaction_stream") "stream" else "exec"

    val e2e = Map(
      "setup_s" -> (sessionS + median(outcome.setupS) + outcome.warmupS),
      "run_s" -> med(_.wallS),
      "batch_p50_ms" -> median(measured.flatMap(_.unitMs)),
      "rows_per_s" -> med(p => p.rows / p.wallS),
      "write_amp" -> med(p =>
        if (p.payloadBytes > 0) p.layers.values.map(_.outBytes).sum / p.payloadBytes
        else p.layers.values.map(_.outBytes).sum.toDouble /
          math.max(1L, p.layers.values.map(_.inBytes).sum)),
      "peak_rss_mb" -> Jvm.peakRssMb)

    val perLayer: Map[String, Double] = Map(
      "operators.build_ms" -> med(_.buildMs),
      "operators.build_jobs" -> layer("build", _.jobs.toDouble),
      "operators.build_tasks" -> layer("build", _.tasks.toDouble),
      "catalyst.plan_ms" -> layer(execPhase, _.catalystMs),
      "spark_exec.wall_ms" -> med(_.execMs),
      "spark_exec.jobs" -> layer(execPhase, _.jobs.toDouble),
      "spark_exec.stages" -> layer(execPhase, _.stages.toDouble),
      "spark_exec.tasks" -> layer(execPhase, _.tasks.toDouble),
      "spark_exec.task_cpu_ms" -> layer(execPhase, _.taskCpuNs / 1e6),
      "spark_exec.task_run_ms" -> layer(execPhase, _.taskRunMs.toDouble),
      "spark_exec.cpu_util" -> med(p => p.layers.get(execPhase)
        .map(_.taskCpuNs / 1e6).getOrElse(0.0) / math.max(1.0, p.execMs * cpus)),
      "spark_exec.max_task_skew" -> layer(execPhase, _.maxTaskSkew),
      "spark_exec.shuffle_write_bytes" -> layer(execPhase, _.shuffleWrite.toDouble),
      "spark_exec.shuffle_read_bytes" -> layer(execPhase, _.shuffleRead.toDouble),
      "spark_exec.spill_bytes" -> layer(execPhase, _.spill.toDouble),
      "spark_exec.gc_ms" -> layer(execPhase, _.gcMs.toDouble),
      "sources.input_bytes" -> med(_.layers.values.map(_.inBytes.toDouble).sum),
      "sources.input_rows" -> med(_.layers.values.map(_.inRows.toDouble).sum),
      "sources.published_bytes" -> med(_.publishedBytes),
      "sources.published_files" -> med(_.publishedFiles),
      "streaming.batches" -> measured.map(_.stream.getOrElse("batches", 0.0)).sum,
      "streaming.add_batch_ms" -> med(_.stream.getOrElse("add_batch_ms", 0.0)),
      "streaming.query_planning_ms" ->
        med(_.stream.getOrElse("query_planning_ms", 0.0)),
      "streaming.wal_commit_ms" -> med(_.stream.getOrElse("wal_commit_ms", 0.0)),
      "streaming.jobs_per_batch" -> med(p =>
        p.layers.get("stream").map(_.jobs.toDouble).getOrElse(0.0) /
          math.max(1.0, p.stream.getOrElse("batches", 0.0))),
      "jvm.driver_gc_ms" -> med(_.gcMs),
      "jvm.heap_peak_mb" -> med(_.heapPeakMb),
      "tracing.overhead_s" ->
        (if (conf.trace && untraced.nonEmpty)
          med(_.wallS) - median(untraced.map(_.wallS)) else 0.0))
    val failed = outcome.failures.size.toLong

    val env = Map(
      "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "seed" -> conf.seed, "size" -> (if (conf.tiny) "tiny" else "full"),
      "setups" -> conf.setups, "warmup_passes" -> conf.warmup,
      "session_start_s" -> sessionS, "setup_reps_s" -> outcome.setupS,
      "warmup_s" -> outcome.warmupS,
      "timed_passes" -> measured.size, "untraced_passes" -> untraced.size,
      "pass_s" -> passes.map(_.wallS),
      "cpu_sec" -> cpuSec) ++ outcome.inputNote
    val result = Map(
      "end_to_end" -> e2e, "per_layer" -> perLayer,
      "attempted" -> outcome.attempted, "failed" -> failed,
      "failures" -> outcome.failures.take(20), "checks" -> outcome.checks,
      "oracle_steps" -> outcome.oracleSteps, "env" -> env)
    Files.writeString(Paths.get(conf.work, "result.json"), Json.render(result))
    if (conf.trace) {
      PerfbenchInternals.drain(spark.sparkContext)
      Files.writeString(Paths.get(conf.work, "trace.json"),
        Json.render(probe.spans.map(_.toMap)))
    }
    spark.stop()
  }
}
