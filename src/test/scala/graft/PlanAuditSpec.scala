package graft

import graft.operators._

/** Plan-shape audit (SURVEY §4): the declared queries must keep the
  * physical-plan properties the 100 TB posture depends on — predicate
  * pushdown into the parquet scans, broadcast joins on dimension sides,
  * map-side partial aggregation, top-k via TakeOrderedAndProject, and
  * whole-stage codegen on hot paths. Asserting them here means a
  * regression (e.g. a filter that stops reaching the scan) fails CI, not
  * a cluster run.
  */
class PlanAuditSpec extends SparkTestBase {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filters reach the parquet scans") {
    assert(plan(Relational.qPointLookup(spark, sfDir))
      .contains("PushedFilters: [IsNotNull(c_custkey), EqualTo(c_custkey,42)"))
    assert(plan(Relational.qFilteredSearch(spark, sfDir))
      .contains("EqualTo(c_mktsegment,BUILDING)"))
    assert(plan(Joins.qAntiMissing(spark, sfDir))
      .contains("GreaterThanOrEqual(o_orderdate"))
  }

  test("dimension joins broadcast; the fact side never does") {
    val parent = plan(Joins.qParentLookup(spark, sfDir))
    assert(parent.contains("BroadcastHashJoin"))
    assert(!parent.contains("SortMergeJoin"))
    val codeMap = plan(Joins.qCodeMap(spark, sfDir))
    assert(codeMap.contains("BroadcastHashJoin"))
    // care-gap anti join stays a real anti join
    assert(plan(Joins.qAntiMissing(spark, sfDir)).contains("LeftAnti"))
  }

  test("aggregations take map-side partials") {
    val p = plan(Relational.qCountByKey(spark, sfDir))
    assert(p.contains("partial_count") || p.contains("partial"))
    val f = plan(Relational.qFirstPerKey(spark, sfDir))
    assert(f.contains("partial_min"))
    assert(!f.contains("Window")) // the old window plan shuffled every row
  }

  test("composed pipelines keep pushdown, broadcast dims, and agg partials") {
    val p = plan(Pipelines.qPipelineEtl(spark, sfDir))
    // segment filter reaches the customer scan through the whole chain
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"))
    // nation/region enrichment broadcasts; the first-encounter
    // aggregate takes map-side partials
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("partial_min"))
    val c = plan(Pipelines.qPipelineCareGap(spark, sfDir))
    // recent-encounter date filter is pushed to the orders scan, so
    // only recent keys reach the first-of-group shuffle
    assert(c.contains("GreaterThanOrEqual(o_orderdate"))
    assert(c.contains("partial_min"))
  }

  test("AQE and its skew-join handling stay enabled") {
    // the fact-to-fact joins rely on runtime skew splitting at scale
    // (see JoinsSpec's skewed child-records case); pin the configs so a
    // session-builder change that silently disables them fails CI
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
  }

  test("top-k plans as TakeOrderedAndProject") {
    assert(plan(Relational.qTopk(spark, sfDir))
      .contains("TakeOrderedAndProject"))
  }

  test("cosine top-k pre-reduces map-side instead of a per-query window") {
    val p = plan(Vectors.qCosineTopk(spark, sfDir))
    // bounded TopKByCosine aggregate: partial (map-side) phase present,
    // no rank window over the full scored set (round-2 verdict item 7)
    assert(p.contains("partial_topkbycosine"),
      s"expected partial top-k aggregate in:\n$p")
    assert(!p.contains("Window"))
  }

  test("column pruning: scans read only referenced columns") {
    val p = plan(Relational.qScan(spark, sfDir))
    assert(p.contains("ReadSchema"))
    // q_drop_cols must not read the dropped columns
    val d = plan(Relational.qDropCols(spark, sfDir))
    assert(!d.contains("l_tax") && !d.contains("l_discount"))
  }

  test("round-9 queries prune their scans to the referenced columns") {
    // text ops must never drag lang/source/n_chars through the scan
    for (df <- Seq(TextOps.qVocabTopk(spark, sfDir),
        Curation.qChunkDocs(spark, sfDir))) {
      val p = plan(df)
      assert(!p.contains("n_chars") && !p.contains("source"),
        s"scan reads unreferenced document columns:\n$p")
    }
    // the source cap needs only (doc_id, source)
    val cap = plan(Curation.qSourceCap(spark, sfDir))
    assert(!cap.contains("n_chars") && !cap.contains("text#"),
      s"source cap reads text:\n$cap")
    // the as-of join needs no props column and pushes the type filters
    val asof = plan(Joins.qAsofJoin(spark, sfDir))
    assert(!asof.contains("props"), s"as-of reads props:\n$asof")
    assert(asof.contains("PushedFilters: [IsNotNull(event_type)") ||
      asof.contains("EqualTo(event_type"), s"type filter not pushed:\n$asof")
    // the histogram needs only value
    val hist = plan(Joins.qValueHistogram(spark, sfDir))
    assert(!hist.contains("user_id") && !hist.contains("props"),
      s"histogram reads unreferenced event columns:\n$hist")
  }

  test("bucketed tables co-locate the fact-to-fact join with zero exchanges") {
    // the 100 TB answer to a REPEATED fact⋈fact join on one key
    // (SURVEY §7.1: "bucketing for co-located joins"): bucket both
    // sides by the join key at write time; the join then consumes the
    // bucketed layout directly — no Exchange on either side, however
    // large the tables. (AQE skew-split covers the ad-hoc join; this
    // covers the curated-layout one.)
    import org.apache.spark.sql.functions.col
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_bucketed").toString
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey"), col("c_name"))
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$tmp/cust").mode("overwrite")
        .saveAsTable("g_cust_bucketed")
      spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$tmp/ord").mode("overwrite")
        .saveAsTable("g_ord_bucketed")
      val j = spark.table("g_cust_bucketed")
        .join(spark.table("g_ord_bucketed"),
          col("c_custkey") === col("o_custkey"))
      val n = j.collect().length
      assert(n == spark.read.parquet(s"$sfDir/orders.parquet").count())
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(2000))
      assert(!p.contains("Exchange"), s"unexpected shuffle:\n${p.take(2000)}")
      assert(p.contains("SelectedBucketsCount"), p.take(2000))
    } finally {
      spark.sql("DROP TABLE IF EXISTS g_cust_bucketed")
      spark.sql("DROP TABLE IF EXISTS g_ord_bucketed")
      saved match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  /** S2's scale claim, pinned by metrics the way the IVF probe is
    * (r4 verdict item 4): the sharded+sorted layout must make an
    * equality lookup read (a) one shard directory of the files and
    * (b) one row-group's worth of rows inside it — not the table.
    * Shared by the long- and string-key tests (r5 verdict item 2: the
    * reference's real point lookup is by UUID string, so the hash-
    * sharded layout must serve any key type with the same pruning). */
  private def assertPointLayoutPrunes(key: String, value: Any): Unit = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
      case q: QueryStageExec => fileScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(fileScans)
    }
    val tmpPath = java.nio.file.Files
      .createTempDirectory("graft_point_layout")
    val tmp = tmpPath.toString
    try {
      val big = "/root/testdata/sf0.1" // enough rows for many row groups
      val customer = spark.read.parquet(s"$big/customer.parquet")
      val total = customer.count()
      val shards = 4
      // 64 KB row groups => each shard file holds MANY row groups, so
      // intra-file skipping is observable at test scale
      Relational.writePointLayout(customer, key, tmp, shards,
        blockSize = 64 * 1024)
      val df = Relational.pointLookupClustered(spark, tmp, key, value)
      val rows = df.collect()
      assert(rows.map(_.getAs[Any](key)).toSeq == Seq(value))
      val scan = fileScans(df.queryExecution.executedPlan).head
      // (a) file-level: static partition pruning to one shard directory
      val allFiles = spark.read.parquet(tmp).inputFiles.length
      val readFiles = scan.metrics("numFiles").value
      assert(allFiles >= shards, s"layout produced only $allFiles files")
      assert(readFiles < allFiles,
        s"lookup read $readFiles of $allFiles files — no partition pruning")
      assert(scan.toString.contains("PushedFilters") &&
        scan.toString.contains(key), scan.toString.take(500))
      // (b) row-group-level: the sorted key's footer min/max admit only a
      // row-group's worth of the shard, far below even one shard's rows
      val shardRows = total / shards
      val scanned = scan.metrics("numOutputRows").value
      assert(scanned < shardRows / 2,
        s"scan emitted $scanned rows vs ~$shardRows in the shard — " +
          "row-group stats not skipping")
    } finally graft.sources.TempDirs.deleteTree(tmpPath)
  }

  test("point lookup on the key-clustered silver layout prunes files AND row groups") {
    assertPointLayoutPrunes("c_custkey", 42L)
  }

  test("string-keyed silver point lookup prunes files AND row groups") {
    // the reference's point lookups are by UUID string (GET
    // Patient/{id}); parquet footer min/max prune on sorted strings
    // exactly as on sorted longs
    assertPointLayoutPrunes("c_name", "Customer#000000042")
  }

  test("nested-JSON ingestion prunes the read schema") {
    import org.apache.spark.sql.functions.{col, get, lit}
    val p = graft.sources.PatientJson.readPatients(spark, sfDir)
    // the JSON scan reads only the referenced TOP-LEVEL columns (v1
    // JSON has no nested pruning in Catalyst's SchemaPruning rule —
    // that is Parquet/ORC-only)
    val jsonRs = plan(p.select(
        get(col("name"), lit(0)).getField("family").as("family")))
      .linesIterator.find(_.contains("ReadSchema")).get
    assert(jsonRs.contains("name:"), jsonRs)
    assert(!jsonRs.contains("identifier") && !jsonRs.contains("address") &&
      !jsonRs.contains("communication"), jsonRs)
    // landed to parquet — the bronze→silver step a 100 TB pipeline
    // takes after exactly one pass over the JSON — nested SchemaPruning
    // trims the ReadSchema to the single touched subfield
    val out = java.nio.file.Files
      .createTempDirectory("graft_patients_parquet").toString
    p.write.mode("overwrite").parquet(out)
    val parquetRs = plan(spark.read.parquet(out).select(
        get(col("name"), lit(0)).getField("family").as("family")))
      .linesIterator.find(_.contains("ReadSchema")).get
    assert(parquetRs.contains("struct<name:array<struct<family:string>>>"),
      parquetRs)
  }

  test("text/vector hot paths stay in whole-stage codegen") {
    // codegen spans only appear once AQE finalizes — execute first
    def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    // "*(n)" prefixes mark WholeStageCodegen stages in the compact tree
    assert(finalPlan(TextOps.qDedupExact(spark, sfDir)).contains("*("))
    assert(finalPlan(Vectors.qCosineTopk(spark, sfDir)).contains("*("))
    // metadata extraction never crosses an object boundary
    assert(!plan(Multimodal.qMultimodalMeta(spark, sfDir))
      .contains("MapPartitions"))
  }

  test("banded self-join keeps exchange reuse under the hot-bucket guard") {
    // the guard anti-filters BOTH sides with the same broadcast hot set
    // precisely so the two shuffle exchanges stay plan-identical; a
    // drifted filter on one side would silently double the banded
    // projection's evaluation
    val df = TextOps.qDedupMinhash(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"no exchange reuse in the banded self-join:\n${p.take(3000)}")
  }

  test("q_pipeline_mix broadcasts the cell weights; corpus never shuffles") {
    val df = Pipelines.qPipelineMix(spark, sfDir)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"))
    assert(!p.contains("SortMergeJoin"))
    // shuffles: the cell aggregate's partials and the final orderBy's
    // range partitioning — nothing corpus-keyed beyond them
    val exchanges = "Exchange (hashpartitioning|rangepartitioning|SinglePartition)".r
      .findAllIn(p).length
    assert(exchanges <= 3, s"$exchanges exchanges in q_pipeline_mix:\n$p")
  }

  test("compaction retires stale rows through broadcast anti-joins") {
    // the declared query's final plan shows only the corpus flag join
    // (label propagation executes its input eagerly), so the audit pins
    // the exposed pair stage: stale-row retirement and pair drops must
    // be BROADCAST anti-joins — the re-crawl id set is increment-sized
    // and the corpus-sized index must not shuffle for it
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val p = plan(TextOps.compactWaveState(spark,
      Lifecycle.minhash.compactRoots.get(spark, sfDir),
      docs.filter(Lifecycle.isRecrawl("doc_id"))).pairs)
    val anti = "BroadcastHashJoin .*LeftAnti".r.findAllIn(p).length
    assert(anti >= 3, s"expected 3 broadcast anti-joins, got $anti:\n" +
      p.take(3000))
    assert(!p.contains("SortMergeJoin(LeftAnti)"))
  }

  test("q_image_meta stays a pure whole-stage-codegen expression plan") {
    val df = Multimodal.qImageMeta(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(") && !p.contains("MapPartitions"))
  }

  test("round-10 queries prune their scans to the referenced columns") {
    // events queries must not drag props/value (wide JSON payload)
    // through the scan unless referenced
    for (df <- Seq(Events.qRollingCount(spark, sfDir),
        Events.qTransitions(spark, sfDir),
        Events.qUserJourney(spark, sfDir))) {
      val p = plan(df)
      assert(!p.contains("props") && !p.contains("value"),
        s"events scan reads unreferenced columns:\n${p.take(2000)}")
    }
    // document snapshot/diff family: never read lang/source/n_chars
    for (df <- Seq(Curation.qSnapshotDiff(spark, sfDir),
        Curation.qCdcMerge(spark, sfDir))) {
      val p = plan(df)
      assert(!p.contains("n_chars") && !p.contains("source"),
        s"documents scan reads unreferenced columns:\n${p.take(2000)}")
    }
    // mix drift needs only (doc_id, lang, source): text must be pruned
    val md = plan(Curation.qMixDrift(spark, sfDir))
    assert(!md.contains("text") && !md.contains("n_chars"),
      s"mix-drift scan reads text:\n${md.take(2000)}")
    // edit pairs: heads only — n_chars/source never scanned
    val ep = plan(TextOps.qEditPairs(spark, sfDir))
    assert(!ep.contains("n_chars") && !ep.contains("source"),
      s"edit-pairs scan reads unreferenced columns:\n${ep.take(2000)}")
    // cluster assignment: label is never read from the embeddings scan
    val ca = plan(Vectors.qClusterAssign(spark, sfDir))
    assert(!ca.contains("label"),
      s"cluster-assign scan reads label:\n${ca.take(2000)}")
  }

  test("span scrub: semi-join occurrence match, no nested-loop join") {
    val p = plan(TextOps.qSpanScrub(spark, sfDir))
    // occurrences match the dup set through a LEFT SEMI join (never a
    // full join materializing per-occurrence dup rows)
    assert(p.contains("LeftSemi"), s"no semi join:\n${p.take(2000)}")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"))
    // spans shuffle as hashes off the fused kernel, never as strings
    assert(p.contains("graft_positional_shingle_hashes"))
  }

  test("boilerplate report: TakeOrdered cut, N-row broadcast rebuild") {
    val df = TextOps.qBoilerplate(spark, sfDir)
    val p = plan(df)
    // the deterministic top-N boundary plans as per-partition heaps
    assert(p.contains("TakeOrderedAndProject"),
      s"no TakeOrdered:\n${p.take(2000)}")
    // span-text reconstruction broadcasts the N-row side
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("simhash pair join: emit-once is row-local — no pair-keyed " +
      "exchange after the block join") {
    // r12 verdict item 1b: the old dropDuplicates(doc_id_a, doc_id_b)
    // re-shuffled the candidate set to decide something both rows
    // already carry; the first-matching-table predicate must leave NO
    // exchange keyed on the emitted pair (the only post-join exchange
    // is the result sort)
    val p = plan(TextOps.qSimhashPairs(spark, sfDir))
    assert(!p.contains("hashpartitioning(doc_id_a"),
      s"pair-keyed exchange found:\n${p.take(3000)}")
    // and the join really is the banded equi-join (hash/merge — tiny
    // fixture SFs may broadcast it), never a nested-loop cross product
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no equi-join in the simhash pair plan:\n${p.take(3000)}")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
  }

  test("each family's compaction wave keeps its pairs plan's exchanges " +
      "and exchange reuse") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{Exchange,
      ReusedExchangeExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => (p.children ++ p.subqueries).flatMap(nodes)
    })
    /** (exchanges, reused exchanges) of the executed plan of `df`. */
    def exchanges(df: DataFrame): (Int, Int) = {
      df.collect()
      val ns = nodes(df.queryExecution.executedPlan)
      (ns.count(_.isInstanceOf[Exchange]),
        ns.count(_.isInstanceOf[ReusedExchangeExec]))
    }
    def words(n: Int, seed: Int): String =
      (0 until n).map(i => s"w${(i * 31 + seed * 7919) % 100000}")
        .mkString(" ")
    // 200 documents; the wave re-crawls doc 3 into a copy of doc 4 and
    // adds doc 5000 as a copy of doc 7
    def docs(n: Int): DataFrame = (1 to 200)
      .map(i => (i.toLong, "en", words(n, i))).toDF("doc_id", "lang", "text")
    def docWave(n: Int): DataFrame = Seq((3L, "en", words(n, 4)),
      (5000L, "en", words(n, 7))).toDF("doc_id", "lang", "text")
    def vec(seed: Int): Seq[Float] = (0 until 64).map { j =>
      val h = seed.toLong * 2654435761L + j.toLong * 0x9E3779B97F4A7C15L
      (((h ^ (h >>> 31)) % 1000).abs / 1000.0f) - 0.5f
    }
    val vecs = (1 to 200).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val vecWave = Seq((3L, vec(4)), (5000L, vec(7)))
      .toDF("vec_id", "embedding")
    def root(): String =
      java.nio.file.Files.createTempDirectory("graft_wave_plan").toString
    // (case, family, corpus, wave, MinHash layout, expected (exchanges,
    // reused))
    val cases = Seq[(String, Lifecycle.Family, DataFrame, DataFrame,
        Option[String], (Int, Int))](
      ("minhash join-back", Lifecycle.minhash, docs(60), docWave(60),
        Some("joinback"), (5, 7)),
      ("minhash carried", Lifecycle.minhash, docs(8), docWave(8),
        Some("carried"), (3, 4)),
      ("simhash", Lifecycle.simhash, docs(60), docWave(60), None, (5, 2)),
      ("edit", Lifecycle.edit, docs(8), docWave(8), None, (4, 2)),
      ("embedding", Lifecycle.embedding, vecs, vecWave, None, (5, 7)))
    val got = cases.map { case (name, f, corpus, wave, layout, _) =>
      val r = root()
      f.seed(spark, corpus, r, true)
      layout.foreach(l => assert(graft.sources.Markers.read(spark, r,
        "_graft_layout") == l, s"$name: the fixture seeds another layout"))
      name -> exchanges(f.wave(spark, r, wave).pairs)
    }
    assert(got == cases.map(c => c._1 -> c._6), got.mkString("\n"))
  }
}
