package graft

import org.apache.spark.sql.functions._

import graft.operators.Documents
import graft.sources.{BatchedSink, InJvmUpsertStore, TransientSinkError}

/** Top-level so the closure does not capture the (non-serializable)
  * spec instance: records committed rows and enforces the batch-size
  * bound by throwing (surfacing as a task failure) on violation. */
case class RecorderEndpoint(storeName: String, bound: Int)
    extends graft.sources.UpsertEndpoint {
  override def upsertBatch(batch: Seq[(String, String)]): Unit = {
    if (batch.isEmpty || batch.size > bound)
      throw new IllegalStateException(
        s"batch size ${batch.size} violates bound $bound")
    InJvmUpsertStore.get(storeName).committedRows.addAndGet(batch.size)
  }
}

/** Partition-batched external sink (SURVEY §2.1 S6 external form):
  * bounded batches, bounded retry, and exactly-once EFFECT via
  * idempotent upsert-by-key under injected transient failures with
  * partial batch effects.
  */
class SinkSpec extends SparkTestBase {

  private def sourceFrame(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (f"k$i%04d", s"payload-$i"))
      .toDF("key", "payload").repartition(4)
  }

  test("flaky endpoint with partial batch effects still lands every row exactly once") {
    val st = InJvmUpsertStore.fresh("spec_flaky")
    BatchedSink.write(sourceFrame(137),
      InJvmUpsertStore.FlakyEndpoint("spec_flaky", failFirstAttempt = true),
      batchSize = 10)
    // every row present with its latest payload, none duplicated/lost
    assert(st.rows.size() == 137)
    (0 until 137).foreach { i =>
      assert(st.rows.get(f"k$i%04d") == s"payload-$i")
    }
    // every batch needed exactly 2 attempts (fail + successful replay),
    // and the successful attempts committed each row exactly once
    import scala.jdk.CollectionConverters._
    assert(st.attempts.values().asScala.forall(_.get() == 2))
    assert(st.committedRows.get() == 137L)
  }

  test("batches respect the configured size bound") {
    InJvmUpsertStore.fresh("spec_sizes")
    BatchedSink.write(sourceFrame(57), RecorderEndpoint("spec_sizes", 10),
      batchSize = 10)
    assert(InJvmUpsertStore.get("spec_sizes").committedRows.get() == 57L)
  }

  test("retry exhaustion propagates the sink error instead of dropping data") {
    InJvmUpsertStore.fresh("spec_down")
    val e = intercept[Exception] {
      BatchedSink.write(sourceFrame(5),
        InJvmUpsertStore.AlwaysDownEndpoint("spec_down"),
        batchSize = 10, maxRetries = 2)
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain(e).exists(_.isInstanceOf[TransientSinkError]), e)
  }

  test("streaming ForeachWriter sink lands every row exactly once under flaky batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val st = InJvmUpsertStore.fresh("spec_stream")
    val input = MemoryStream[(String, String)](spark)
    val q = input.toDS()
      .writeStream
      .foreach(new graft.sources.UpsertForeachWriter(
        InJvmUpsertStore.FlakyEndpoint("spec_stream",
          failFirstAttempt = true), batchSize = 7))
      .outputMode("append").start()
    try {
      input.addData((0 until 40).map(i => (f"s$i%03d", s"v$i-a")))
      q.processAllAvailable()
      // a second epoch UPSERTS over half the keys — latest value wins
      input.addData((0 until 20).map(i => (f"s$i%03d", s"v$i-b")))
      q.processAllAvailable()
    } finally q.stop()
    assert(st.rows.size() == 40)
    (0 until 40).foreach { i =>
      val want = if (i < 20) s"v$i-b" else s"v$i-a"
      assert(st.rows.get(f"s$i%03d") == want)
    }
    // every batch attempt sequence was fail-once-then-succeed
    import scala.jdk.CollectionConverters._
    assert(st.attempts.values().asScala.forall(_.get() == 2))
  }

  test("q_sink_batched roundtrip equals the source practitioner table") {
    val got = Documents.qSinkBatched(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val want = spark.read.parquet(s"$sfDir/supplier.parquet")
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
      .orderBy(col("s_suppkey")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == want)
    // and the flaky endpoint really did exercise retry underneath
    import scala.jdk.CollectionConverters._
    val st = InJvmUpsertStore.get("q_sink_batched")
    assert(st.attempts.values().asScala.forall(_.get() == 2))
  }

  test("q_sink_batched read-back is a distributed scan, not a driver dump") {
    val plan = Documents.qSinkBatched(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the read-back stage must be a parallel Range->slice-scan source;
    // a driver-side createDataFrame would show up as LocalTableScan
    assert(plan.contains("Range"), plan)
    assert(!plan.contains("LocalTableScan"), plan)
  }

  test("sliced store scan partitions the keyspace exactly") {
    import scala.jdk.CollectionConverters._
    val st = InJvmUpsertStore.fresh("slice_test")
    (0 until 101).foreach(i => st.rows.put(s"k$i", s"v$i"))
    val slices = (0 until 7).map(s =>
      InJvmUpsertStore.scanSlice("slice_test", s, 7).toSeq)
    assert(slices.flatten.sorted ==
      st.rows.values().asScala.toSeq.sorted)
    assert(slices.count(_.nonEmpty) > 1) // genuinely spread over tasks
  }

  // ---------------------------------------------- gated publish (EP12)

  private def gateFrame(rows: Seq[(String, Double, Double)]) = {
    import spark.implicits._
    rows.toDF("check", "metric", "threshold")
      .withColumn("pass", col("metric") <= col("threshold"))
  }

  private def landedFrame(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"row-$i")).toDF("id", "payload")
  }

  private def ls(root: String): Set[String] = {
    val d = new java.io.File(root)
    if (!d.exists()) Set.empty
    // drop the local FS's dot-prefixed .crc shadow files — artifacts
    // of RawLocalFileSystem, not of the publish layout under test
    else d.listFiles().map(_.getName).filterNot(_.startsWith(".")).toSet
  }

  test("failing gate publishes NOTHING and quarantines drop + checklist") {
    import graft.operators.Pipelines
    val root = java.nio.file.Files
      .createTempDirectory("graft_publish_spec").toString
    val landed = landedFrame(57)
    val gate = gateFrame(Seq(
      ("nulls:id", 0.0, 0.0),
      ("orphans:fk", 3.0, 0.0), // violated
      ("outlier_rate:click", 0.5, 0.05))) // violated
    val published = Pipelines.landThenPublish(spark, landed, gate,
      root, "v1", key = "id")
    assert(!published)
    // NO partial publish: no version directory, no current marker —
    // only the quarantine subtree exists under the root
    assert(ls(root) == Set("quarantine"), ls(root).toString)
    intercept[Exception](Pipelines.currentSilver(spark, root).collect())
    // the quarantined drop keeps full fidelity for the re-land
    val qDrop = spark.read.parquet(s"$root/quarantine/v1/drop")
    assert(qDrop.count() == 57)
    // the checklist records exactly the failing checks
    val qChecks = spark.read
      .parquet(s"$root/quarantine/v1/checklist").collect()
      .map(_.getAs[String]("check")).sorted.toSeq
    assert(qChecks == Seq("orphans:fk", "outlier_rate:click"))
  }

  test("passing gate publishes the silver layout; read-back is exact") {
    import graft.operators.Pipelines
    val root = java.nio.file.Files
      .createTempDirectory("graft_publish_spec").toString
    val landed = landedFrame(57)
    val published = Pipelines.landThenPublish(spark, landed,
      gateFrame(Seq(("nulls:id", 0.0, 0.0))), root, "v1", key = "id")
    assert(published)
    val got = Pipelines.currentSilver(spark, root)
      .drop("key_shard").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("payload")))
      .sorted.toSeq
    assert(got == (0 until 57).map(i => (i.toLong, s"row-$i")))
    // and the published layout serves clustered point lookups
    val hit = graft.operators.Relational.pointLookupClustered(spark,
      s"$root/v1", "id", 13L).collect()
    assert(hit.map(_.getAs[String]("payload")).toSeq == Seq("row-13"))
  }

  test("a failing later drop leaves the previous version current (flip discipline)") {
    import graft.operators.Pipelines
    val root = java.nio.file.Files
      .createTempDirectory("graft_publish_spec").toString
    assert(Pipelines.landThenPublish(spark, landedFrame(10),
      gateFrame(Seq(("nulls:id", 0.0, 0.0))), root, "v1", key = "id"))
    // the next nightly drop fails its gate — the marker must still
    // point at v1 and readers must see v1's exact content
    assert(!Pipelines.landThenPublish(spark, landedFrame(99),
      gateFrame(Seq(("orphans:fk", 1.0, 0.0))), root, "v2", key = "id"))
    assert(graft.sources.Markers.read(spark, root,
      graft.sources.Versions.currentMarker) == "v1")
    assert(Pipelines.currentSilver(spark, root).count() == 10)
    // v2 exists only under quarantine
    assert(!new java.io.File(s"$root/v2").exists())
    assert(new java.io.File(s"$root/quarantine/v2/drop").exists())
  }

  test("a shard digest that outlives its bound fails the publish " +
      "loudly, cancelled, before any version byte lands") {
    import graft.operators.Pipelines
    val root = java.nio.file.Files
      .createTempDirectory("graft_publish_spec").toString
    val slow = udf { (x: Long) => Thread.sleep(2000); x }
    val landed = landedFrame(8).withColumn("id", slow(col("id")))
    val t0 = System.nanoTime()
    val e = intercept[Pipelines.DigestTimeoutException] {
      Pipelines.landThenPublish(spark, landed,
        gateFrame(Seq(("nulls:id", 0.0, 0.0))), root, "v1", key = "id",
        digestTimeout = scala.concurrent.duration.FiniteDuration(
          200, "ms"))
    }
    assert(e.getMessage.contains("v1"))
    assert((System.nanoTime() - t0) / 1e9 < 10.0)
    assert(ls(root).isEmpty, ls(root).toString)
    assert(graft.sources.Markers.readOption(spark, root,
      graft.sources.Versions.currentMarker).isEmpty)
  }

  /** A drop whose every row differs per `tag` — every shard digest
    * moves, so copy-on-write degenerates to a full rewrite and no
    * version references an earlier one. */
  private def taggedFrame(n: Int, tag: String) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"row-$i-$tag")).toDF("id", "payload")
  }

  test("retention deletes only stale non-current versions, never quarantine") {
    import graft.operators.Pipelines
    val root = java.nio.file.Files
      .createTempDirectory("graft_publish_spec").toString
    val gate = gateFrame(Seq(("nulls:id", 0.0, 0.0)))
    // one failing drop first so a quarantine subtree exists
    assert(!Pipelines.landThenPublish(spark, landedFrame(5),
      gateFrame(Seq(("orphans:fk", 1.0, 0.0))), root, "q0", key = "id"))
    // fully-changing drops: every version materializes all its shards,
    // so retention's reference closure protects nothing extra and the
    // pre-r16 count semantics hold exactly
    (1 to 4).foreach { i =>
      assert(Pipelines.landThenPublish(spark, taggedFrame(10 * i, s"t$i"),
        gate, root, s"v$i", key = "id", retainVersions = 2))
    }
    // newest two non-current versions (v2, v3) survive with current v4;
    // v1 is expired; quarantine is untouched
    assert(ls(root) == Set("quarantine", "v2", "v3", "v4",
      graft.sources.Versions.currentMarker), ls(root).toString)
    assert(Pipelines.currentSilver(spark, root).count() == 40)
    assert(new java.io.File(s"$root/quarantine/q0/drop").exists())
  }

  test("every versioned root kind commits, resolves, retires and rolls " +
      "back through one protocol") {
    import graft.operators.{BandedJoins, Bpe, Components, Curation,
      Pipelines, TextOps}
    import graft.sources.{Pq, Versions}
    import spark.implicits._
    val gate = gateFrame(Seq(("nulls:id", 0.0, 0.0)))
    def rows(v: Int) = (0 until 6).map(i => (i.toLong, s"v$v w$i x$i"))
      .toDF("doc_id", "text")
    /** A root kind: its three versions' names, publishing version i
      * (1-based) with `retain` = 1, a publish of a fourth version whose
      * write throws, and whether the first version stays referenced. */
    final case class Kind(name: String, versions: Seq[String],
        publish: (String, Int) => Unit, failing: String => Unit,
        referenced: Boolean)
    def boom(): Nothing = throw new IllegalStateException("write failed")
    def plain(name: String)(write: (Int, String) => Unit) =
      Kind(name, Seq("v1", "v2", "v3"),
        (root, i) => Versions.publish(spark, root, s"v$i", retain = 1)(
          write(i, _)),
        root => Versions.publish(spark, root, "v4", retain = 1) { dir =>
          write(4, dir); boom()
        }, referenced = false)
    val docs = (0 until 12).map(i =>
      (i.toLong, (0 until 40).map(j => s"t${(i * 31 + j * 7919) % 100000}")
        .mkString(" "))).toDF("doc_id", "text")
    def wave(i: Int) = Seq((i.toLong, s"recrawl $i " * 20))
      .toDF("doc_id", "text")
    def publishWave(root: String, version: String,
        pairs: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : Unit = {
      val w = wave(version.last.asDigit)
      val cw = TextOps.compactWaveState(spark, root, w)
      graft.operators.Lifecycle.publishWaveState(spark, root, version,
        "staged", cw.copy(pairs = pairs(cw.pairs)), Some(w.select("doc_id")), 1,
        BandedJoins.writeHotSet(spark, _, TextOps.minhashFamily))
    }
    val failPairs = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("pairs failed"); x }
    val kinds = Seq(
      plain("labels")((i, dir) => Pq.write(Components.labelComponents(
        Seq((1L, 1L + i)).toDF("id_a", "id_b")), dir)),
      plain("snapshot")((i, dir) => Pq.write(rows(i), dir)),
      plain("epoch") { (i, dir) =>
        Pq.write(rows(i).withColumn("source", lit("web")), s"$dir/snapshot")
        Pq.write(Curation.sourceRollup(rows(i).withColumn("source",
          lit("web"))), s"$dir/mv")
      },
      plain("bpe words")((i, dir) => Pq.write(Bpe.wordCounts(rows(i)), dir)),
      // identical drops: v2 and v3 carry every shard of v1
      Kind("silver", Seq("v1", "v2", "v3"),
        (root, i) => assert(Pipelines.landThenPublish(spark,
          landedFrame(10), gate, root, s"v$i", key = "id",
          retainVersions = 1)),
        root => Versions.publish(spark, root, "v4", retain = 1) { dir =>
          Pq.write(landedFrame(3), s"$dir/key_shard=0"); boom()
        }, referenced = true),
      // v3's manifest lists the seed's base and v2's delta
      Kind("near-dup", Seq("seed", "v2", "v3"),
        (root, i) =>
          if (i == 1) TextOps.seedDedupState(spark, docs, root)
          else publishWave(root, s"v$i", identity),
        root => publishWave(root, "v4", _.unionByName(spark.range(1)
          .select(failPairs(col("id")).as("id_a"), col("id").as("id_b")))),
        referenced = true))
    kinds.foreach { k =>
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_versions_${k.name.replace(' ', '_')}")
        .toString
      new java.io.File(s"$root/quarantine").mkdirs()
      (1 to 3).foreach(k.publish(root, _))
      val Seq(first, second, third) = k.versions
      // the current version is the third
      assert(Versions.current(spark, root) == s"$root/$third", k.name)
      assert(Versions.isCurrent(spark, root, third), k.name)
      // the first is deleted unless a kept version references it; the
      // kept second and the unpublished quarantine/ always survive
      val dirs = ls(root)
      assert(dirs.contains(first) == k.referenced, s"${k.name}: $dirs")
      assert(Set(second, third, "quarantine").subsetOf(dirs),
        s"${k.name}: $dirs")
      // a write that throws leaves the third current and no fourth
      intercept[Exception](k.failing(root))
      assert(Versions.isCurrent(spark, root, third), k.name)
      assert(!ls(root).contains("v4"), s"${k.name}: ${ls(root)}")
    }
  }

  test("copy-on-write publish: unchanged shards carry forward by " +
      "manifest; retention protects referenced versions") {
    import graft.operators.Pipelines
    val root = java.nio.file.Files
      .createTempDirectory("graft_publish_spec").toString
    val gate = gateFrame(Seq(("nulls:id", 0.0, 0.0)))
    val drop = landedFrame(57)
    assert(Pipelines.landThenPublish(spark, drop, gate, root, "v1",
      key = "id"))
    // v2: the IDENTICAL drop — zero shards change, so v2 holds only
    // markers (no key_shard directories) and every manifest entry
    // points into v1
    assert(Pipelines.landThenPublish(spark, drop, gate, root, "v2",
      key = "id"))
    val v2Files = ls(s"$root/v2")
    assert(!v2Files.exists(_.startsWith("key_shard=")),
      s"unchanged publish materialized shards: $v2Files")
    val manifest = graft.sources.Markers.read(spark, s"$root/v2",
      Pipelines.shardSourcesMarker)
    assert(manifest.split("\n").forall(_.contains("/v1/key_shard=")),
      manifest)
    // read-back through the manifest is exact, and the clustered
    // point lookup resolves the carried shard
    val got = Pipelines.currentSilver(spark, root)
      .drop("key_shard").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("payload")))
      .sorted.toSeq
    assert(got == (0 until 57).map(i => (i.toLong, s"row-$i")))
    val hit = graft.operators.Relational.pointLookupClustered(spark,
      s"$root/v2", "id", 13L).collect()
    assert(hit.map(_.getAs[String]("payload")).toSeq == Seq("row-13"))
    // v3: ONE row changes — only that row's shard materializes under
    // v3; the rest still reference v1
    import spark.implicits._
    val drop3 = drop.filter(col("id") =!= 13L).unionByName(
      Seq((13L, "row-13-recrawled")).toDF("id", "payload"))
    assert(Pipelines.landThenPublish(spark, drop3, gate, root, "v3",
      key = "id"))
    val v3Shards = ls(s"$root/v3").filter(_.startsWith("key_shard="))
    assert(v3Shards.size == 1, s"one changed row touched $v3Shards")
    val hit3 = graft.operators.Relational.pointLookupClustered(spark,
      s"$root/v3", "id", 13L).collect()
    assert(hit3.map(_.getAs[String]("payload")).toSeq ==
      Seq("row-13-recrawled"))
    // retention with retainVersions=1 after two more no-change
    // publishes: v1 is OLD but still referenced by the surviving
    // manifests — it must survive; v2 (unreferenced, past the keep
    // window) expires
    assert(Pipelines.landThenPublish(spark, drop3, gate, root, "v4",
      key = "id", retainVersions = 1))
    val dirs = ls(root)
    assert(dirs.contains("v1"), s"referenced v1 was deleted: $dirs")
    assert(!dirs.contains("v2"), s"stale unreferenced v2 survived: $dirs")
    assert(Pipelines.currentSilver(spark, root).count() == 57)
  }

  test("map-typed drop publishes: digests canonicalize MapType and " +
      "copy-on-write still detects the unchanged shards (ADVICE r16)") {
    import graft.operators.Pipelines
    import spark.implicits._
    // xxhash64 rejects MapType outright — before r17 this drop threw
    // at publish time; the digest now canonicalizes map columns to
    // key-sorted JSON, so publish works AND an identical re-drop
    // carries every shard forward (entry-order invariance: the two
    // drops build their maps in OPPOSITE entry order)
    val root = java.nio.file.Files
      .createTempDirectory("graft_publish_spec").toString
    val gate = gateFrame(Seq(("nulls:id", 0.0, 0.0)))
    def drop(reversed: Boolean) = (0 until 40).map { i =>
      val kv = Seq("a" -> i.toLong, "b" -> (i + 1).toLong)
      (i.toLong, (if (reversed) kv.reverse else kv).toMap)
    }.toDF("id", "attrs")
    assert(Pipelines.landThenPublish(spark, drop(false), gate, root,
      "v1", key = "id"))
    assert(Pipelines.landThenPublish(spark, drop(true), gate, root,
      "v2", key = "id"))
    val v2Files = ls(s"$root/v2")
    assert(!v2Files.exists(_.startsWith("key_shard=")),
      s"entry-order-only change rewrote shards: $v2Files")
    val got = Pipelines.currentSilver(spark, root).collect()
      .map(r => r.getAs[Long]("id") ->
        r.getAs[Map[String, Long]]("attrs")).toMap
    assert(got(7L) == Map("a" -> 7L, "b" -> 8L))
    assert(got.size == 40)
  }

  test("zero-row drop is refused before any version byte lands; the " +
      "previous version stays current (ADVICE r16)") {
    import graft.operators.Pipelines
    val root = java.nio.file.Files
      .createTempDirectory("graft_publish_spec").toString
    val gate = gateFrame(Seq(("nulls:id", 0.0, 0.0)))
    assert(Pipelines.landThenPublish(spark, landedFrame(10), gate,
      root, "v1", key = "id"))
    // pre-r17 this published a markers-only v2 with an empty manifest
    // and flipped the marker to an UNREADABLE version
    intercept[IllegalArgumentException] {
      Pipelines.landThenPublish(spark, landedFrame(0), gate, root,
        "v2", key = "id")
    }
    assert(graft.sources.Markers.read(spark, root,
      graft.sources.Versions.currentMarker) == "v1")
    assert(!new java.io.File(s"$root/v2").exists(),
      "refused publish left a version directory behind")
    assert(Pipelines.currentSilver(spark, root).count() == 10)
  }

  test("q_pipeline_publish publishes on driver data and reads back the drop") {
    import graft.operators.Pipelines
    val got = Pipelines.qPipelinePublish(spark, sfDir)
    val n = spark.read.parquet(s"$sfDir/orders.parquet").count()
    assert(got.count() == n)
    assert(got.columns.toSeq == Seq("o_orderkey", "o_custkey",
      "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"))
  }
}
