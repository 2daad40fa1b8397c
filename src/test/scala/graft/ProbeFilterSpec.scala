package graft

import org.apache.spark.sql.functions._

import graft.operators.{BandedJoins, Lifecycle, ProbeFilters, TextOps, Vectors}
import graft.sources.Tables

/** Pins for the pre-shuffle bloom prune on the incremental index
  * probes (ProbeFilters.bloomSemi): hash parity between the sketch
  * build and the might_contain probe (a mismatch would silently drop
  * true pairs), actual pruning on disjoint keys, the skip-guard, and
  * end-to-end parity of both incremental probes with the prune on vs
  * off on the real fixture.
  */
class ProbeFilterSpec extends SparkTestBase {

  test("bloomSemi keeps every true partner (build/probe hash parity)") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    // adversarial key mix: random longs, small ints, negatives, dups
    val keys = (Seq.fill(5000)((rnd.nextLong(), rnd.nextInt(16))) ++
      Seq((0L, 0), (-1L, 15), (Long.MinValue, 3), (Long.MaxValue, 3)))
    val probe = keys.toDF("bhash", "band")
    val big = keys.toDF("bhash", "band")
    // identical key sets: a false negative (= putLong/mightContainLong
    // disagreeing with the Column-side xxhash64 shape) drops rows
    val kept = ProbeFilters
      .bloomSemi(big, probe, Seq("band", "bhash")).count()
    assert(kept == keys.size.toLong)
  }

  test("bloomSemi prunes partnerless rows to ~fpp") {
    import spark.implicits._
    val big = (0 until 20000).map(i => (i.toLong, i % 16))
      .toDF("bhash", "band")
    val probe = (0 until 2000).map(i => (1000000L + i, i % 16))
      .toDF("bhash", "band")
    val pruned = ProbeFilters
      .bloomSemi(big, probe, Seq("band", "bhash"), fpp = 0.01)
    // disjoint key spaces: survivors are pure false positives — at
    // fpp 0.01 expect ~200 of 20000; 5% is a generous ceiling that
    // still proves the filter bites
    assert(pruned.count() < 1000L)
    // the sketch probe is in the plan (analyzed tree: these are local
    // relations, so ConvertToLocalRelation folds the filter into the
    // data before the physical plan — the parquet-backed fixture test
    // pins the executed-plan placement)
    assert(pruned.queryExecution.analyzed.toString
      .contains("might_contain"))
  }

  test("bloomSemi skips when the probe outgrows the driver-bloom bound") {
    import spark.implicits._
    val big = (0 until 100).map(i => (i.toLong, 0)).toDF("bhash", "band")
    val probe = (500 until 600).map(i => (i.toLong, 0)).toDF("bhash", "band")
    val out = ProbeFilters
      .bloomSemi(big, probe, Seq("band", "bhash"), maxKeys = 10L)
    // guard returns the big side UNfiltered (disjoint keys would have
    // pruned everything had a bloom been planted)
    assert(out.count() == 100L)
    assert(!out.queryExecution.executedPlan.toString
      .contains("might_contain"))
  }

  test("incremental text probe: prune-on equals prune-off on the fixture") {
    val docs = Tables.documents(spark, sfDir)
    val base = TextOps.stageDocs(docs.filter(!Lifecycle.isIncrement("doc_id")))
      .localCheckpoint(true)
    val inc = TextOps.stageDocs(docs.filter(Lifecycle.isIncrement("doc_id")))
      .localCheckpoint(true)
    def pairs(prune: Boolean) =
      BandedJoins.incrementPairs(TextOps.minhashFamily, base, inc,
        joinBack = false,
        bloomPrune = prune)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val on = pairs(prune = true)
    assert(on == pairs(prune = false))
    // the declared query's plan carries the scan-side sketch filter
    val planned = BandedJoins.incrementPairs(TextOps.minhashFamily, base, inc,
      joinBack = false)
    assert(planned.queryExecution.executedPlan.toString
      .contains("might_contain"))
  }

  test("bloom prune cuts the probe's shuffled records where it bites") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // total records through every shuffle exchange of the EXECUTED plan
    def shuffledRecords(df: DataFrame): Long = {
      df.collect()
      def walk(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => q +: walk(q.plan)
        case other => other +: other.children.flatMap(walk)
      }
      val recs = walk(df.queryExecution.executedPlan)
        .collect { case s: ShuffleExchangeLike =>
          Seq("shuffleRecordsWritten", "numOutputRows")
            .flatMap(k => s.metrics.get(k).map(_.value)).headOption
            .getOrElse(0L) }
      assert(recs.exists(_ > 0L),
        "no shuffle metrics found — exchange metric key changed?")
      recs.sum
    }
    // disjoint vocabularies: the increment shares no shingles with the
    // base, so (almost) every banded base row is partnerless
    val base = (0 until 400)
      .map(i => (i.toLong, s"alpha bravo charlie delta echo $i " * 4))
      .toDF("doc_id", "text")
    val inc = (1000 until 1010)
      .map(i => (i.toLong, s"zulu yankee xray whiskey victor $i " * 4))
      .toDF("doc_id", "text")
    val baseStaged = TextOps.stageDocs(base).localCheckpoint(true)
    val incStaged = TextOps.stageDocs(inc).localCheckpoint(true)
    def probe(prune: Boolean) = BandedJoins.incrementPairs(TextOps.minhashFamily,
      baseStaged, incStaged, joinBack = false, bloomPrune = prune)
    val withPrune = shuffledRecords(probe(prune = true))
    val without = shuffledRecords(probe(prune = false))
    // without the prune every banded base row (400 docs × bands)
    // shuffles; with it only bloom false positives survive the scan —
    // records must drop by well over 2× (observed ~bands×hundreds → ~0)
    assert(withPrune * 2 < without,
      s"prune did not cut shuffle volume: with=$withPrune without=$without")
  }

  test("incremental embed probe: prune-on equals prune-off on the fixture") {
    val vecs = Vectors.unit(spark, sfDir)
    val base = Vectors.stageVectors(vecs.filter(!Lifecycle.isIncrement("vec_id")))
      .localCheckpoint(true)
    val inc = Vectors.stageVectors(vecs.filter(Lifecycle.isIncrement("vec_id")))
      .localCheckpoint(true)
    def pairs(prune: Boolean) =
      BandedJoins.incrementPairs(Vectors.lshFamily, base, inc, joinBack = true,
        bloomPrune = prune)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(prune = true) == pairs(prune = false))
  }

  test("the increment pull is bounded at maxRows + 1 rows and its " +
      "driver-built sketch keeps every true partner") {
    import spark.implicits._
    val rnd = new scala.util.Random(91)
    val keys = Seq.fill(3000)((rnd.nextLong(), rnd.nextInt(16))) ++
      Seq((0L, 0), (Long.MinValue, 15), (Long.MaxValue, 7))
    // materialized, not a local relation (whose limit would fold away
    // at optimization instead of planning the bounded collect)
    val probe = keys.toDF("bhash", "band").localCheckpoint(true)
    val keyCols = Seq("band", "bhash")
    // every executed pull plan: the limit is the bound, checked by the
    // collect itself before the driver holds more rows
    val limits = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = qe.executedPlan.collectFirst {
        case c: org.apache.spark.sql.execution.CollectLimitExec => c.limit
      }.foreach(limits.add)
      def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val n = keys.size
    try {
      // at and over the bound
      val atBound = ProbeFilters.pullKeys(probe, keyCols, carry = keyCols,
        maxRows = n)
      assert(atBound.map(_.length).contains(n))
      assert(ProbeFilters.pullKeys(probe, keyCols, maxRows = n - 1).isEmpty)
      assert(ProbeFilters.pullKeys(probe, keyCols, maxRows = 10).isEmpty)
      org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      assert(limits.asScala.toSeq == Seq(n + 1, n, 11), limits.toString)
      // the carried columns ride along unchanged
      assert(atBound.get.map(r => (r.getLong(2), r.getInt(1))).toSet ==
        keys.toSet)
      // every true partner survives the sketch built from the pull
      val bf = ProbeFilters.sketch(atBound.get)
      assert(atBound.get.forall(r => bf.mightContainLong(r.getLong(0))))
      assert(ProbeFilters.pruneBy(probe, probe, keyCols, atBound).count() ==
        n.toLong)
    } finally spark.listenerManager.unregister(listener)
  }

  test("a probe past the pull bound builds its sketch on the executors: " +
      "true partners kept, partnerless rows pruned, maxKeys still skips") {
    import spark.implicits._
    val keyCols = Seq("band", "bhash")
    val probe = (0 until 2000).map(i => (1000000L + i, i % 16))
      .toDF("bhash", "band").localCheckpoint(true)
    val partners = (0 until 2000 by 7).map(i => (1000000L + i, i % 16))
    val big = ((0 until 20000).map(i => (i.toLong, i % 16)) ++ partners)
      .toDF("bhash", "band").localCheckpoint(true)
    val pulled = ProbeFilters.pullKeys(probe, keyCols, maxRows = 100)
    assert(pulled.isEmpty)
    val pruned = ProbeFilters.pruneBy(big, probe, keyCols, pulled)
    assert(pruned.queryExecution.executedPlan.toString
      .contains("might_contain"))
    val kept = pruned.collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(partners.toSet.subsetOf(kept))
    // disjoint keys: survivors past the partners are false positives
    assert(kept.size < partners.size + 1000)
    // the skip-guard holds on this path too
    assert(ProbeFilters.pruneBy(big, probe, keyCols, pulled,
      maxKeys = 1000L) eq big)
  }

  test("maxPullRows is sized from the driver bytes of a pulled row") {
    import spark.implicits._
    val n = 20000
    val probe = (0 until n).map(i => (i * 7919L, i % 16))
      .toDF("bhash", "band").localCheckpoint(true)
    val rows = ProbeFilters.pullKeys(probe, Seq("band", "bhash"),
      carry = Seq("band", "bhash")).get
    // a (hash, band, key) row is a boxed GenericRow: ~108 bytes
    val perRow =
      org.apache.spark.util.SizeEstimator.estimate(rows).toDouble / n
    assert(perRow > 64 && perRow < 128, perRow)
    // a full pull stays under 64 MiB of driver heap
    assert(ProbeFilters.maxPullRows * perRow < 64.0 * 1024 * 1024)
  }
}
