package graft

import org.apache.spark.sql.functions._

import graft.operators.{BandedJoins, Components, IndexLayers, TextOps,
  Vectors}

/** The hot-bucket guard (r8 verdict item 1): a planted mega-cluster of
  * k identical documents/vectors must emit O(k) star edges through the
  * banded joins — not O(k²) pairs on one skewed (band, bucket) key —
  * while the cluster labeling stays exactly right (star edges preserve
  * connectivity, and verification passes on them since identical
  * members have similarity 1).
  */
class HotBucketSpec extends SparkTestBase {

  private val k = 120 // > BandedJoins.defaultHotBucketCap = 64
  private val minhash = TextOps.minhashFamily
  private val lsh = Vectors.lshFamily

  /** k identical documents (ids 0..k-1) plus mutually-dissimilar
    * fillers (ids 1000+) including one small exact-dup pair that must
    * stay on the normal all-pairs path. */
  private def megaDocs = {
    import spark.implicits._
    val cluster = (0 until k).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog " +
        "and then runs far away into the deep green forest tonight"))
    val fillers = (0 until 8).map(i =>
      (1000L + i, (0 until 40).map(j => s"w${i * 977 + j * 31}_$j")
        .mkString(" ")))
    val smallDup = Seq((2000L, "alpha beta gamma delta epsilon zeta " +
      "eta theta iota kappa lambda mu"),
      (2001L, "alpha beta gamma delta epsilon zeta " +
        "eta theta iota kappa lambda mu"))
    (cluster ++ fillers ++ smallDup).toDF("doc_id", "text")
  }

  test("mega-cluster emits O(k) star candidates, not O(k^2) pairs") {
    val cands = BandedJoins.candidates(minhash, TextOps.stageDocs(megaDocs))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // no duplicate emissions across the normal and star paths
    assert(cands.length == cands.toSet.size, "duplicate candidate pairs")
    val clusterCands = cands.filter(_._1 < 1000L)
    // star reduction: every non-min member pairs with doc 0 exactly once
    assert(clusterCands.toSet ==
      (1 until k).map(i => (0L, i.toLong)).toSet,
      s"expected ${k - 1} star edges, got ${clusterCands.length}")
    // the small identical pair is below the cap -> normal path keeps it
    assert(cands.contains((2000L, 2001L)))
  }

  test("hotBuckets frame reports the oversized buckets loudly") {
    val banded = TextOps.stageDocs(megaDocs)
      .select(posexplode(col("bsigs")).as(Seq("band", "bhash")))
    // identical docs share a bucket in every one of the 16 bands
    assert(BandedJoins.hotBuckets(banded, "band", "bhash").count() == 16)
    // a healthy corpus has none (sf0.1 max observed bucket is 4)
    val healthy = TextOps.stageDocs(
        graft.sources.Tables.documents(spark, sfDir))
      .select(posexplode(col("bsigs")).as(Seq("band", "bhash")))
    assert(BandedJoins.hotBuckets(healthy, "band", "bhash").count() == 0)
  }

  test("clusters over the star-reduced graph are exactly right") {
    val flags = TextOps.dedupClusters(megaDocs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    (0 until k).foreach { i =>
      assert(flags(i.toLong) == ((0L, i == 0)), s"doc $i: ${flags(i.toLong)}")
    }
    (0 until 8).foreach { i =>
      assert(flags(1000L + i) == ((1000L + i, true)))
    }
    assert(flags(2000L) == ((2000L, true)) && flags(2001L) == ((2000L, false)))
  }

  test("incremental probe of a hot base bucket emits O(increment) edges") {
    val docs = megaDocs
    val isInc = col("doc_id") >= 80L && col("doc_id") < k.toLong
    val baseStaged = TextOps.stageDocs(docs.filter(!isInc))
      .localCheckpoint(true)
    val newStaged = TextOps.stageDocs(docs.filter(isInc))
      .localCheckpoint(true)
    val inc = BandedJoins.incrementPairs(minhash, baseStaged, newStaged,
      joinBack = false).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(inc.length == inc.toSet.size, "duplicate incremental pairs")
    // cross edges: each of the 40 increment members meets ONLY the hot
    // base bucket's min (doc 0); within edges: the 40-member increment
    // bucket sits under the cap, so its self-join stays all-pairs
    val cross = inc.filter(_._1 < 80L)
    assert(cross.toSet == (80 until k).map(i => (0L, i.toLong)).toSet,
      s"expected 40 star cross edges, got ${cross.length}")
    assert(inc.count(p => p._1 >= 80L) == 40 * 39 / 2)
    // and extending the base labels with the star-reduced increment
    // pairs equals a full recompute of the cluster flags
    val baseLabels = Components.labelComponents(
      BandedJoins.selfPairs(minhash, baseStaged, joinBack = false)
        .select(col("id_a"), col("id_b")))
    val incPairs = BandedJoins.incrementPairs(minhash, baseStaged, newStaged,
      joinBack = false)
    val extended = Components.flagCorpus(docs, "doc_id",
      Components.extendLabels(baseLabels, incPairs)).collect()
    val full = TextOps.dedupClusters(docs).collect()
    assert(extended.map(_.toSeq).toSeq == full.map(_.toSeq).toSeq)
  }

  test("fit publishes the hot set inside the index; probes serve from it") {
    val path = graft.sources.TempDirs
      .scratchDir("graft_hotset_fit").toString
    val idx = TextOps.minhashFit(spark, megaDocs, path)
    // the marker carries the count, the artifact holds the buckets, and
    // the underscore prefix keeps it invisible to the index read
    assert(graft.sources.Markers
      .read(spark, path, "_graft_hot_buckets") == "16")
    val hotSet = BandedJoins.loadHotSet(spark, path)
    assert(hotSet.count() == 16)
    assert(!IndexLayers.read(spark, idx.stagedPath).columns
      .contains("hot_band"))
    assert(IndexLayers.read(spark, idx.stagedPath).count() == k + 10)
    // a probe with the published set star-reduces identically to the
    // inline-counting path
    val served = BandedJoins.selfPairs(minhash,
        IndexLayers.read(spark, idx.stagedPath), joinBack = false, Some(hotSet))
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val inline = BandedJoins.selfPairs(minhash,
        IndexLayers.read(spark, idx.stagedPath), joinBack = false)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == inline)
    assert(served.count(_._1 < 1000L) == k - 1)
  }

  test("served probes skip the per-query bucket-count aggregation") {
    // wall-clock at sf0.1 is noise-dominated on this box; the
    // deterministic evidence that fit-time hot-set serving removed the
    // guard's steady-state cost is the PLAN: an index-served probe has
    // exactly the verify/minRows aggregates, no bucket-COUNT aggregate
    // (the inline path has one more hash aggregate pair over the
    // banded relation)
    def nAggs(df: org.apache.spark.sql.DataFrame): Int =
      "HashAggregate".r.findAllIn(
        df.queryExecution.executedPlan.toString).length
    val path = graft.sources.TempDirs
      .scratchDir("graft_hotset_plan").toString
    val idx = TextOps.minhashFit(spark, megaDocs, path)
    val staged = IndexLayers.read(spark, idx.stagedPath)
    val hot = BandedJoins.loadHotSet(spark, path)
    val served = nAggs(BandedJoins.selfPairs(minhash, staged,
      joinBack = false, Some(hot)))
    val inline = nAggs(BandedJoins.selfPairs(minhash, staged,
      joinBack = false))
    assert(served < inline,
      s"served plan has $served aggregates, inline $inline — " +
        "hot-set serving did not remove the per-query count")
  }

  test("embedding mega-cluster star-reduces and clusters exactly") {
    import spark.implicits._
    def unit(v: Array[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n).toSeq
    }
    val same = unit(Array.tabulate(64)(j => math.sin(j * 13.7)))
    // fillers are basis vectors: mutually orthogonal, and cosine vs the
    // cluster direction is one component of a unit 64-dim vector (≤0.2)
    val rows = (0 until k).map(i => (i.toLong, same)) ++
      (0 until 6).map(i => (1000L + i,
        Array.tabulate(64)(j => if (j == i * 9) 1.0 else 0.0).toSeq))
    val u = rows.toDF("vec_id", "u")
    val cands = BandedJoins.candidates(lsh, Vectors.stageVectors(u))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(cands.length == cands.toSet.size)
    val clusterCands = cands.filter(_._1 < 1000L)
    assert(clusterCands.toSet ==
      (1 until k).map(i => (0L, i.toLong)).toSet,
      s"expected ${k - 1} star edges, got ${clusterCands.length}")
    val flags = Vectors.embedClusters(u).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    (0 until k).foreach { i =>
      assert(flags(i.toLong) == ((0L, i == 0)))
    }
    (0 until 6).foreach { i =>
      assert(flags(1000L + i) == ((1000L + i, true)))
    }
  }

  test("an increment's own hot bucket is counted from the probe's one " +
      "pull and star-reduces exactly like the inline count") {
    import spark.implicits._
    // the increment holds k identical documents (ids 0..k-1, one
    // bucket per band over the 64 cap) plus the small exact-dup pair;
    // the base is the dissimilar fillers alone
    val docs = megaDocs
    val isInc = col("doc_id") < 1000L || col("doc_id") >= 2000L
    val baseStaged = TextOps.stageDocs(docs.filter(!isInc))
      .localCheckpoint(true)
    val newStaged = TextOps.stageDocs(docs.filter(isInc))
      .localCheckpoint(true)
    val newBanded = newStaged
      .select(posexplode(col("bsigs")).as(Seq("band", "bhash")))
    val hot = BandedJoins.planIncrementProbe(newBanded, newBanded, minhash,
      bloomPrune = false)._2.get
    assert(hot.collect().map(r => (r.getInt(0), r.getLong(1))).toSet ==
      BandedJoins.hotBuckets(newBanded, "band", "bhash").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSet)
    assert(hot.count() == 16)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    Seq(false, true).foreach { joinBack =>
      val inc = pairs(BandedJoins.incrementPairs(minhash, baseStaged,
        newStaged, joinBack))
      val inline = pairs(BandedJoins.selfPairs(minhash, newStaged, joinBack))
      // the base shares nothing with the increment: every emitted pair
      // is a within edge, and they equal the inline-counted self-join's
      assert(inc == inline, s"joinBack=$joinBack")
      assert(inc == (1 until k).map(i => (0L, i.toLong)).toSet +
        ((2000L, 2001L)), s"joinBack=$joinBack")
    }
    // the same holds for the embedding twin
    def unit(v: Array[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n).toSeq
    }
    val same = unit(Array.tabulate(64)(j => math.sin(j * 13.7)))
    val vecs = ((0 until k).map(i => (i.toLong, same)) ++
      (0 until 6).map(i => (1000L + i,
        Array.tabulate(64)(j => if (j == i * 9) 1.0 else 0.0).toSeq)))
      .toDF("vec_id", "u")
    val vBase = Vectors.stageVectors(vecs.filter(col("vec_id") >= 1000L))
      .localCheckpoint(true)
    val vNew = Vectors.stageVectors(vecs.filter(col("vec_id") < 1000L))
      .localCheckpoint(true)
    val vInc = pairs(BandedJoins.incrementPairs(lsh, vBase, vNew,
      joinBack = true))
    assert(vInc == pairs(BandedJoins.selfPairs(lsh, vNew, joinBack = true)))
    assert(vInc ==
      (1 until k).map(i => (0L, i.toLong)).toSet)
  }

  test("an empty published hot set plans no star branch and no " +
      "hot-set broadcast; the served pairs are unchanged") {
    val path = graft.sources.TempDirs
      .scratchDir("graft_hotset_empty").toString
    val idx = TextOps.minhashFit(spark,
      graft.sources.Tables.documents(spark, sfDir), path)
    assert(graft.sources.Markers
      .read(spark, path, "_graft_hot_buckets") == "0")
    val staged = IndexLayers.read(spark, idx.stagedPath)
    val served = BandedJoins.selfPairs(minhash, staged, joinBack = false,
      Some(BandedJoins.loadHotSet(spark, path)))
    val optimized = served.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("min_by"), optimized)
    assert(!optimized.contains("LeftAnti"), optimized)
    val physical = served.queryExecution.executedPlan.toString
    assert(!physical.contains("BroadcastExchange"), physical)
    // today's broadcast plan over the parquet hot set: same pairs
    val broadcastPlan = BandedJoins.selfPairs(minhash, staged,
      joinBack = false,
      Some(graft.sources.Pq.read(spark, s"$path/${BandedJoins.hotSetDirName}")
        .select(col("hot_band"), col("hot_key"))))
    assert(broadcastPlan.queryExecution.optimizedPlan.toString
      .contains("min_by"))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(served) == pairs(broadcastPlan))
  }

  test("retiring a hot bucket's star centre re-centres the star on the " +
      "smallest retained member in both banded families") {
    import spark.implicits._
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    def labels(ps: Seq[(Long, Long)]): Set[(Long, Long)] =
      Components.labelComponents(ps.toDF("id_a", "id_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 100 identical members put every band bucket over the cap, so the
    // seed publishes the 99 star edges on member 1; the wave re-crawls
    // member 1 into unrelated content
    val star = (3 to 100).map(i => (2L, i.toLong))
    def tmp(tag: String) = java.nio.file.Files.createTempDirectory(tag)
      .toString

    val text = "the quick brown fox jumps over the lazy dog and then runs " +
      "far away into the deep green forest tonight"
    val docs = (1 to 100).map(i => (i.toLong, text)).toDF("doc_id", "text")
    val recrawl = Seq((1L, (0 until 40).map(j => s"u${j * 977}").mkString(" ")))
      .toDF("doc_id", "text")
    val textRoot = tmp("graft_recentre_text")
    TextOps.seedDedupState(spark, docs, textRoot)
    val seeded = pairs(spark.read.parquet(s"$textRoot/" + graft.sources
      .Markers.read(spark, textRoot, TextOps.dedupCurrentMarker) + "/pairs"))
    assert(seeded.toSet == (2 to 100).map(i => (1L, i.toLong)).toSet)
    val textWave = pairs(TextOps.compactWaveState(spark, textRoot, recrawl).pairs)
    assert(textWave.size == textWave.distinct.size, "duplicate pairs")
    assert(textWave.toSet == star.toSet)
    val textAfter = docs.filter(col("doc_id") =!= 1L).unionByName(recrawl)
    assert(labels(textWave) == labels(pairs(TextOps.minhashPairs(textAfter))))

    def unit(v: Array[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n).toSeq
    }
    val same = unit(Array.tabulate(64)(j => math.sin(j * 13.7)))
    val vecs = (1 to 100).map(i => (i.toLong, same)).toDF("vec_id", "embedding")
    val reembed = Seq((1L, Array.tabulate(64)(j => if (j == 5) 1.0 else 0.0)
      .toSeq)).toDF("vec_id", "embedding")
    val vecRoot = tmp("graft_recentre_vec")
    Vectors.seedEmbedRoot(spark, vecs, vecRoot)
    val vecWave = pairs(Vectors.embedWaveState(spark, vecRoot, reembed).pairs)
    assert(vecWave.size == vecWave.distinct.size, "duplicate pairs")
    assert(vecWave.toSet == star.toSet)
    val vecAfter = vecs.filter(col("vec_id") =!= 1L).unionByName(reembed)
    assert(labels(vecWave) ==
      labels(pairs(Vectors.lshVerifiedPairsOver(vecAfter))))

    // a root whose published hot set is empty plans no re-centring
    val healthy = tmp("graft_recentre_healthy")
    TextOps.seedDedupState(spark, docs.filter(col("doc_id") <= 2L), healthy)
    val plan = TextOps.compactWaveState(spark, healthy, recrawl).pairs
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("min_by"), plan)
  }
}
