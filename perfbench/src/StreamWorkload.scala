package graft.perfbench

import java.nio.file.Paths

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.PerfbenchInternals
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.operators.TextOps
import graft.sources.Markers
import graft.streaming.Streams
import Harness._

/** The streaming compaction workload: re-crawl waves through
  * `Streams.dedupCompactSink` over a root seeded by
  * `TextOps.seedDedupState`, one micro-batch per wave (closed loop: the
  * next wave is sent when the previous micro-batch has committed).
  *
  * The seeded base corpus has `n` documents of 60 random words. Wave `w`
  * re-crawls ids `[w·wave, (w+1)·wave)`: a re-crawl of id `i` with
  * `i % 4 == 0` becomes an exact copy of base document `n/2 + i` (a fresh
  * pair the sink must verify, label and publish), every other re-crawl
  * turns into unrelated text (stale state the sink must retire).
  *
  * One set-up seeds a fresh root and starts the query; it is repeated
  * `setups` times. `warmup` waves follow (the first is the cold
  * micro-batch) before the timed waves. */
final class StreamWorkload(spark: SparkSession, probe: Probe, conf: Conf) {
  import spark.implicits._

  private val rnd = new scala.util.Random(conf.seed)
  private val n = if (conf.tiny) 200 else 1000
  private val wave = if (conf.tiny) 10 else 20

  private def words(prefix: String): String =
    Seq.fill(60)(prefix + rnd.nextInt(100000)).mkString(" ")

  private val base = IndexedSeq.fill(n)(words("w"))
  private val fresh = IndexedSeq.fill(n / 2)(words("x"))

  private def recrawl(i: Int): (Long, String) =
    (i.toLong, if (i % 4 == 0) base(n / 2 + i) else fresh(i))

  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var root: String = _
  private var query: StreamingQuery = _
  private var input: MemoryStream[(Long, String)] = _
  private var waves = 0
  private var lastSeen = -1L

  private def stop(): Unit = if (query != null) { query.stop(); query = null }

  private def setUp(rep: Int): Double = {
    stop()
    val dir = Paths.get(conf.work, s"stream$rep")
    val t0 = System.nanoTime()
    root = dir.resolve("root").toString
    TextOps.seedDedupState(spark,
      base.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text"), root)
    input = MemoryStream[(Long, String)](spark)
    waves = 0
    lastSeen = -1L
    query = Streams.dedupCompactSink(root, input.toDS().toDF("doc_id", "text"),
      dir.resolve("checkpoint").toString, retainVersions = 2)
    probe.streamRuns.add(query.runId.toString)
    secondsSince(t0)
  }

  /** The progress of the micro-batch the last wave ran; the query posts
    * it shortly after `processAllAvailable` returns. */
  private def awaitProgress(): Option[StreamingQueryProgress] = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var found: Option[StreamingQueryProgress] = None
    while (found.isEmpty && System.nanoTime() < deadline) {
      found = query.recentProgress.filter(p =>
        p.batchId > lastSeen && p.numInputRows > 0).lastOption
      if (found.isEmpty) Thread.sleep(5)
    }
    found.foreach(p => lastSeen = p.batchId)
    found
  }

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** One wave, one micro-batch: (wall ms, rows, payload bytes, progress). */
  private def push(id: String, count: Boolean)
      : (Double, Int, Long, Option[StreamingQueryProgress]) = {
    val rows = (waves * wave until (waves + 1) * wave).map(recrawl)
    waves += 1
    val t0 = Clock.now
    try {
      input.addData(rows)
      query.processAllAvailable()
    } catch {
      case NonFatal(e) =>
        failures += s"wave $waves: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    val t1 = Clock.now
    if (count) attempted += 1
    val progress = awaitProgress()
    if (progress.isEmpty)
      failures += s"wave $waves: no progress reported for its micro-batch"
    probe.record(Span(id, "workload", "wave", t0, t1, Map("rows" -> rows.size)))
    progress.foreach { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      probe.record(Span(s"mb:${p.id}:${p.batchId}", id, "micro_batch", t,
        t + dur(p, "triggerExecution"),
        p.durationMs.asScala.map { case (k, v) => s"${k}_ms" -> v.longValue }
          .toMap + ("rows" -> p.numInputRows)))
    }
    (t1 - t0, rows.size, rows.map(r => 8L + r._2.length).sum, progress)
  }

  /** The published labels after all waves: every copy re-crawl is in the
    * component of its base document, no unrelated re-crawl is labelled. */
  private def repairsExact(): Boolean = {
    val current = Markers.read(spark, root, TextOps.dedupCurrentMarker)
    val labels = spark.read.parquet(s"$root/$current/labels")
      .select(col("node_id"), col("cluster_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = 0 until waves * wave
    ids.filter(_ % 4 == 0).forall(i => labels.get(n / 2L + i).contains(i.toLong)) &&
      ids.filter(_ % 4 != 0).forall(i => !labels.contains(i.toLong))
  }

  def run(): Outcome = {
    val setupS = (1 to conf.setups).map(setUp)
    val w0 = System.nanoTime()
    (1 to conf.warmup).foreach(w => push(s"warmup$w", count = false))
    PerfbenchInternals.drain(spark.sparkContext)
    val warmupS = secondsSince(w0)
    probe.take()

    val passes = timedLoop(conf, probe, n / 2 / wave - conf.warmup) { (id, traced) =>
      val before = if (traced) listFiles(Seq(root)) else Map.empty[String, Long]
      val gc0 = Jvm.gcMs
      Jvm.resetHeapPeak()
      val (wallMs, rows, bytes, progress) = push(id, count = true)
      val gcMs = (Jvm.gcMs - gc0).toDouble
      val heap = Jvm.heapPeakMb
      PerfbenchInternals.drain(spark.sparkContext)
      val layers = probe.take()
      val created = if (traced)
        listFiles(Seq(root)).filter { case (p, _) => !before.contains(p) }
      else Map.empty[String, Long]
      Pass(wallMs / 1000, layers, 0, wallMs,
        progress.map(dur(_, "triggerExecution")).toSeq, gcMs, heap,
        rows = rows.toDouble, payloadBytes = bytes.toDouble,
        publishedBytes = created.values.sum.toDouble,
        publishedFiles = created.size.toDouble, traced = traced,
        stream = Map(
          "batches" -> progress.size.toDouble,
          "add_batch_ms" -> progress.map(dur(_, "addBatch")).getOrElse(0.0),
          "query_planning_ms" -> progress.map(dur(_, "queryPlanning")).getOrElse(0.0),
          "wal_commit_ms" -> progress.map(dur(_, "walCommit")).getOrElse(0.0)))
    }

    val exact = try repairsExact() catch {
      case NonFatal(e) =>
        failures += s"repairs check: ${e.getClass.getSimpleName}: ${e.getMessage}"
        false
    }
    stop()
    Outcome(setupS, warmupS, passes, attempted, failures.toSeq,
      Map("compact_sink_repairs_exact" -> exact), oracleSteps = Nil,
      inputNote = Map("corpus_docs" -> n, "wave_rows" -> wave,
        "waves" -> waves))
  }
}
