package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.PerfbenchInternals

import graft.SparkEntry
import Harness._

/** A batch workload: a fixed list of `SparkEntry.queries` steps, sent one
  * after another (closed loop, one client) in a seed-permuted order.
  *
  * Each step is timed at two boundaries: the call that returns the
  * DataFrame (`operators`: every construction-time eager job runs here)
  * and the `noop` sink write (`spark_exec`, with the write's Catalyst
  * phases read from its query execution).
  *
  * Set-up is repeated `setups` times, each on a freshly named view of
  * the input (a symlink), so the engine's per-directory caches — JSON
  * fixtures, `FitCache` fits, parquet schema cache — start cold every
  * time ([[coldBuild]]). Then `warmup` passes run on the last view until
  * the JVM is warm, before the timed passes start. */
final class BatchWorkload(spark: SparkSession, probe: Probe, conf: Conf,
    steps: Seq[String]) {

  private val sc = spark.sparkContext
  private val order = new scala.util.Random(conf.seed).shuffle(steps)
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  private var attempted = 0L

  /** A new directory name over the same input tables. The engine keys
    * its JSON fixtures and fits by directory name and path. */
  private def freshView(rep: Int): String = {
    val link = Paths.get(conf.work, s"pb_${conf.nonce}_$rep")
    Files.createSymbolicLink(link, Paths.get(conf.input).toAbsolutePath)
    link.toString
  }

  private def tag(phase: String, span: String): Unit =
    sc.setJobGroup(s"pb:$phase:$span", span, interruptOnCancel = false)

  /** One pass over every step; returns per-step (build, exec) times. */
  private def pass(dir: String, id: String, count: Boolean)
      : Seq[(Double, Double)] =
    order.zipWithIndex.map { case (step, i) =>
      val span = s"$id/s$i"
      val t0 = Clock.now
      val result = try {
        tag("build", s"$span/operators")
        val df = SparkEntry.queries(step)(spark, dir)
        val t1 = Clock.now
        tag("exec", s"$span/spark_exec")
        df.write.format("noop").mode("overwrite").save()
        val t2 = Clock.now
        probe.record(Span(s"$span/operators", span, "operators", t0, t1))
        probe.record(Span(s"$span/spark_exec", span, "spark_exec", t1, t2))
        Some((t1 - t0, t2 - t1))
      } catch {
        case NonFatal(e) =>
          failures += s"$step: ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      } finally sc.clearJobGroup()
      probe.record(Span(span, id, "step", t0, Clock.now, Map("query" -> step)))
      if (count) attempted += 1
      result.getOrElse((Clock.now - t0, 0.0))
    }

  /** One cold set-up: every step's DataFrame built on a fresh view. All
    * per-input work the engine does eagerly — JSON fixture writing,
    * `FitCache` fits, checkpoints, probes — runs here. */
  private def coldBuild(rep: Int): Double = {
    val view = freshView(rep)
    val t0 = System.nanoTime()
    order.foreach { step =>
      try {
        tag("build", s"setup$rep")
        SparkEntry.queries(step)(spark, view)
      } catch {
        case NonFatal(e) =>
          failures += s"$step (set-up): ${e.getClass.getSimpleName}: ${e.getMessage}"
      } finally sc.clearJobGroup()
    }
    secondsSince(t0)
  }

  def run(): Outcome = {
    val setupS = (1 to conf.setups).map(coldBuild)
    val dir = Paths.get(conf.work, s"pb_${conf.nonce}_${conf.setups}").toString
    val w0 = System.nanoTime()
    (1 to conf.warmup).foreach(w => pass(dir, s"warmup$w", count = false))
    PerfbenchInternals.drain(sc)
    val warmupS = secondsSince(w0)
    probe.take()

    val tmpRoot = System.getProperty("java.io.tmpdir")
    val passes = timedLoop(conf, probe) { (id, traced) =>
      val before = if (traced) listFiles(Seq(tmpRoot)) else Map.empty[String, Long]
      val gc0 = Jvm.gcMs
      Jvm.resetHeapPeak()
      val t0 = Clock.now
      val times = pass(dir, id, count = true)
      val wallMs = Clock.now - t0
      val gcMs = (Jvm.gcMs - gc0).toDouble
      val heap = Jvm.heapPeakMb
      probe.record(Span(id, "workload", "pass", t0, t0 + wallMs))
      PerfbenchInternals.drain(sc)
      val layers = probe.take()
      val created = if (traced)
        listFiles(Seq(tmpRoot)).filter { case (p, _) => !before.contains(p) }
      else Map.empty[String, Long]
      Pass(wallMs / 1000, layers, times.map(_._1).sum,
        times.map(_._2).sum, times.map { case (b, e) => b + e }, gcMs, heap,
        rows = layers.values.map(_.inRows).sum.toDouble, payloadBytes = 0,
        publishedBytes = created.values.sum.toDouble,
        publishedFiles = created.size.toDouble, traced = traced)
    }

    Outcome(setupS, warmupS, passes, attempted, failures.toSeq,
      checks = Map.empty, oracleSteps = dumpOutputs(dir),
      inputNote = Map("steps" -> order))
  }

  /** Untimed: each step's output on the warm view, as parquet, and the
    * oracle SQL that must reproduce it, for the DuckDB check. */
  private def dumpOutputs(dir: String): Seq[String] = {
    val oracle = SparkEntry.oracleSql
    val fixtureSf = "(/tmp/graft_fixtures/[a-z_]+/)sf[0-9.]+/".r
    val name = Paths.get(dir).getFileName.toString
    val sql = order.filter(oracle.contains).map { step =>
      step -> fixtureSf.replaceAllIn(oracle(step),
        m => java.util.regex.Matcher.quoteReplacement(m.group(1) + name + "/"))
    }.toMap
    sql.keys.foreach { step =>
      try SparkEntry.queries(step)(spark, dir).coalesce(1).write
        .mode("overwrite").parquet(Paths.get(conf.work, "out", step).toString)
      catch {
        case NonFatal(e) =>
          failures += s"$step (output dump): ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
    }
    Files.writeString(Paths.get(conf.work, "oracle_sql.json"), Json.render(sql))
    order.filterNot(oracle.contains).foreach(s =>
      failures += s"$s: no oracle SQL to check its output against")
    sql.keys.toSeq.sorted
  }
}
