package graft

import org.apache.spark.sql.functions._

import graft.operators.Joins

class JoinsSpec extends SparkTestBase {

  test("q_cube_counts holds the full grouping lattice consistently") {
    val rows = Joins.qCubeCounts(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val total = rows.collect { case ("ALL", "ALL", n) => n }.head
    // each of the four grouping sets independently sums to the table
    assert(rows.filter(r => r._1 != "ALL" && r._2 != "ALL").map(_._3).sum == total)
    assert(rows.filter(r => r._1 != "ALL" && r._2 == "ALL").map(_._3).sum == total)
    assert(rows.filter(r => r._1 == "ALL" && r._2 != "ALL").map(_._3).sum == total)
    assert(total == spark.read.parquet(s"$sfDir/orders.parquet").count())
  }

  test("q_pivot_lang cells re-sum to the corpus and match the long form") {
    val wide = Joins.qPivotLang(spark, sfDir).collect()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val langs = Seq("de", "en", "es", "fr", "zh")
    assert(wide.map(r => langs.map(l => r.getAs[Long](s"n_$l")).sum).sum ==
      docs.count()) // no document lost or double-counted by the spread
    val long = docs.groupBy("source", "lang").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    wide.foreach { r =>
      val s = r.getAs[String]("source")
      langs.foreach { l =>
        assert(r.getAs[Long](s"n_$l") == long.getOrElse((s, l), 0L))
      }
    }
  }

  test("q_value_histogram buckets partition the table with true extrema") {
    val h = Joins.qValueHistogram(spark, sfDir).collect()
    val ev = graft.sources.Tables.events(spark, sfDir)
    assert(h.map(_.getAs[Long]("n")).sum == ev.count())
    h.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(r.getAs[Double]("min_v") >= b * 50.0)
      assert(r.getAs[Double]("max_v") < (b + 1) * 50.0)
      assert(r.getAs[Double]("min_v") <= r.getAs[Double]("max_v"))
    }
  }

  test("q_asof_join matches a driver-side as-of scan with boundary semantics") {
    import java.sql.Timestamp
    val got = Joins.qAsofJoin(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("event_id"),
        r.getAs[Timestamp]("click_ts"), r.getAs[Double]("click_value")))
    // independent oracle: for each purchase, linear scan of the user's
    // pre-aggregated clicks for the max ts <= purchase ts
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select("event_id", "user_id", "ts", "event_type", "value").collect()
    val clicks = ev.filter(_.getAs[String]("event_type") == "click")
      .groupBy(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("ts")))
      .map { case ((u, t), rs) =>
        (u, t, rs.map(_.getAs[Double]("value")).max) }.toSeq
    val want = ev.filter(_.getAs[String]("event_type") == "purchase")
      .flatMap { b =>
        val bt = b.getAs[Timestamp]("ts")
        val cands = clicks.filter(c =>
          c._1 == b.getAs[Long]("user_id") && !c._2.after(bt))
        if (cands.isEmpty) None
        else {
          val best = cands.maxBy(_._2.getTime)
          Some((b.getAs[Long]("event_id"), best._2, best._3))
        }
      }.sortBy(_._1)
    assert(got.toSeq == want.toSeq)
    assert(got.nonEmpty)
  }

  test("as-of join: equal-ts match, no-prior-click drop, no join in the plan") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    // user 1: purchase exactly AT a click ts (>= bound matches it) and
    // a later purchase matching the latest prior click; user 2: purchase
    // BEFORE any click -> dropped
    def ns(s: String) = t(s).getTime * 1000000L // Tables.events reads NANOS
    val fixture = Seq(
      (1L, ns("2024-01-01 10:00:00"), 1L, "click", 1.0),
      (2L, ns("2024-01-01 10:00:00"), 1L, "purchase", 5.0),
      (3L, ns("2024-01-01 11:00:00"), 1L, "click", 2.0),
      (4L, ns("2024-01-01 12:00:00"), 1L, "purchase", 6.0),
      (5L, ns("2024-01-01 09:00:00"), 2L, "purchase", 7.0),
      (6L, ns("2024-01-01 10:00:00"), 2L, "click", 3.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    // reroute the declared query's shape onto the fixture by rebuilding
    // its stages (same code path via a temp view is overkill here; the
    // operator body is exercised at sfDir by the other test)
    val tmpPath = java.nio.file.Files.createTempDirectory("asof_fix")
    val tmp = tmpPath.toString
    fixture.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    try {
      val got = Joins.qAsofJoin(spark, tmp).collect()
        .map(r => (r.getAs[Long]("event_id"),
          r.getAs[Timestamp]("click_ts"), r.getAs[Double]("click_value")))
      assert(got.toSeq == Seq(
        (2L, t("2024-01-01 10:00:00"), 1.0),
        (4L, t("2024-01-01 11:00:00"), 2.0)))
      val plan = Joins.qAsofJoin(spark, tmp)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"expected a join-free plan:\n$plan")
    } finally graft.sources.TempDirs.deleteTree(tmpPath)
  }

  test("q_child_records matches an independently-computed FK join") {
    val df = Joins.qChildRecords(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[String]("o_orderstatus") == "O"))
    // row count = sum over BUILDING customers of their O-status orders
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ords = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderstatus") === "O")
    val expected = ords.join(cust, col("o_custkey") === col("c_custkey")).count()
    assert(rows.length.toLong == expected)
  }

  test("q_child_records broadcasts neither side unforced at scale (plan sanity)") {
    val plan = Joins.qChildRecords(spark, sfDir)
      .queryExecution.executedPlan.toString
    // filters must be pushed into the scans, not evaluated post-join
    assert(plan.contains("PushedFilters"))
  }

  test("q_parent_lookup resolves every customer to exactly one parent") {
    val df = Joins.qParentLookup(spark, sfDir)
    val n = df.count()
    assert(n == spark.read.parquet(s"$sfDir/customer.parquet").count())
    assert(df.filter(col("parent_name").isNull).count() == 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("q_child_lookup picks the minimal child of each parent region") {
    val df = Joins.qChildLookup(spark, sfDir)
    // independently: for each region the child_key must be the min nationkey
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val minPerRegion = nation.groupBy("n_regionkey")
      .agg(min("n_nationkey").as("mk"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    val regionOf = nation.collect()
      .map(r => r.getInt(0) -> r.getInt(2)).toMap // nationkey -> regionkey
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      .select("c_custkey", "c_nationkey").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    df.collect().foreach { r =>
      val ck = r.getAs[Long]("c_custkey")
      val expected = minPerRegion(regionOf(cust(ck)))
      assert(r.getAs[Int]("child_key") == expected)
    }
  }

  test("q_code_map maps every lineitem and keeps left rows") {
    val df = Joins.qCodeMap(spark, sfDir)
    assert(df.count() ==
      spark.read.parquet(s"$sfDir/lineitem.parquet").count())
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("q_anti_missing is the complement of customers with recent orders") {
    val df = Joins.qAntiMissing(spark, sfDir)
    val gap = df.select("c_custkey").collect().map(_.getLong(0)).toSet
    val recent = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderdate") >= lit("2000-06-01").cast("timestamp"))
      .select("o_custkey").distinct().collect().map(_.getLong(0)).toSet
    assert(gap.intersect(recent).isEmpty)
    val all = spark.read.parquet(s"$sfDir/customer.parquet")
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(gap.union(recent) == all)
  }

  test("q_semi_exists equals the distinct-inner set, one row per customer") {
    val df = Joins.qSemiExists(spark, sfDir)
    val got = df.select("c_custkey").collect().map(_.getLong(0))
    // semi join must not fan out: strictly one row per qualifying key
    assert(got.length == got.toSet.size)
    val want = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_totalprice") > 150000)
      .select("o_custkey").distinct().collect().map(_.getLong(0)).toSet
    assert(got.toSet == want)
    assert(want.nonEmpty) // the predicate must bite at every SF
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"))
    // the totalprice filter reaches the orders scan
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(o_totalprice"))
  }

  test("q_resource_counts totals match the table sizes") {
    val df = Joins.qResourceCounts(spark, sfDir)
    val byType = df.groupBy("resource_type").agg(sum("n").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType("orders") ==
      spark.read.parquet(s"$sfDir/orders.parquet").count())
    assert(byType("lineitem") ==
      spark.read.parquet(s"$sfDir/lineitem.parquet").count())
  }

  test("q_rollup_counts subtotals are consistent at every level") {
    val rows = Joins.qRollupCounts(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val grand = rows(("ALL", "ALL"))
    assert(grand == spark.read.parquet(s"$sfDir/orders.parquet").count())
    // per-status subtotals sum to the grand total
    val statusTotals = rows.collect {
      case ((st, "ALL"), n) if st != "ALL" => n }
    assert(statusTotals.sum == grand)
    // leaves sum to their status subtotal
    rows.keys.map(_._1).filter(_ != "ALL").toSet.foreach { st: String =>
      val leaves = rows.collect {
        case ((s2, pr), n) if s2 == st && pr != "ALL" => n }
      assert(leaves.sum == rows((st, "ALL")))
    }
  }

  test("q_approx_distinct stays within 5% of an independently-computed exact") {
    // the exact countDistinct lives HERE, not in the declared query —
    // the declared plan must carry only the mergeable sketch (r3 verdict)
    val exact = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("exact_parts"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = Joins.qApproxDistinct(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val approx = r.getLong(1).toDouble
      val want = exact(r.getString(0)).toDouble
      assert(want > 0 && math.abs(approx - want) / want <= 0.05,
        s"${r.getString(0)}: approx=$approx exact=$want")
    }
  }

  test("q_distinct_exact is the sketch's declared reference, within 5%") {
    val exact = Joins.qDistinctExact(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Joins.qApproxDistinct(spark, sfDir).collect().foreach { r =>
      val want = exact(r.getString(0)).toDouble
      assert(math.abs(r.getLong(1).toDouble - want) / want <= 0.05)
    }
    // and the exact query really pays the expand the sketch avoids
    val plan = Joins.qDistinctExact(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("count(distinct") || plan.contains("Expand"),
      plan)
  }

  test("q_approx_distinct plan contains no exact-distinct expand") {
    val p = Joins.qApproxDistinct(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Expand"), p.take(2000))
    assert(p.contains("partial_approx_count_distinct"), p.take(2000))
  }

  test("AQE splits a skewed FK partition in the child-records join") {
    // one hot patient owns ~2/3 of all fact rows — the realistic hot-key
    // failure mode of the fact-to-fact join at scale. Thresholds are
    // lowered so the local-size data trips the same AQE skew-split
    // machinery a 100 TB run relies on; broadcast is disabled so the
    // join actually sort-merges.
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "128KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      import spark.implicits._
      val patients = spark.range(0, 200)
        .select(col("id").as("c_custkey"),
          concat(lit("Customer#"), col("id")).as("c_name"))
      val records = spark.range(0, 300000)
        .select(col("id").as("o_orderkey"),
          when(col("id") < 200000, lit(0L))
            .otherwise(col("id") % 200).as("o_custkey"),
          lit("O").as("o_orderstatus"),
          (col("id") % 1000).cast("double").as("o_totalprice"))
      val joined = graft.operators.Joins.childRecordsJoin(patients, records)
      // collect() executes THIS queryExecution, letting AQE finalize the
      // plan we then inspect (a .write would run a separate execution)
      val n = joined.collect().length
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("SortMergeJoin"), finalPlan.take(2000))
      assert(finalPlan.contains("skew=true"),
        s"no skew split observed in final plan:\n${finalPlan.take(2000)}")
      // and the result is still exactly the FK join
      assert(n == 300000)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q_hierarchy_closure matches a driver-side transitive closure") {
    val got = Joins.qHierarchyClosure(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    // rebuild the edge relation on the driver and close it by brute force
    val cust = spark.read.parquet(s"$sfDir/customer.parquet").collect()
    val nation = spark.read.parquet(s"$sfDir/nation.parquet").collect()
      .map(r => r.getAs[Int]("n_nationkey") ->
        (r.getAs[String]("n_name"), r.getAs[Int]("n_regionkey"))).toMap
    val region = spark.read.parquet(s"$sfDir/region.parquet").collect()
      .map(r => r.getAs[Int]("r_regionkey") -> r.getAs[String]("r_name"))
      .toMap
    val brands = spark.read.parquet(s"$sfDir/part.parquet").collect()
      .map(_.getAs[String]("p_brand")).distinct
    val parent = scala.collection.mutable.Map[String, String]()
    cust.foreach { c =>
      parent(c.getAs[String]("c_name")) =
        nation(c.getAs[Int]("c_nationkey"))._1
    }
    nation.values.foreach { case (n, rk) => parent(n) = region(rk) }
    region.values.foreach(r => parent(r) = "WORLD")
    brands.foreach { b =>
      val k = "([0-9]+)".r.findFirstIn(b).get.toInt % 5 + 1
      val m = "Mfgr#" + k
      val s = "Sector#" + ((k - 1) % 2 + 1)
      parent(b) = m
      parent(m) = s
      parent(s) = "Goods"
      parent("Goods") = "WORLD"
    }
    val want = parent.keys.flatMap { start =>
      Iterator.iterate(Option(start))(_.flatMap(parent.get))
        .drop(1).takeWhile(_.isDefined).zipWithIndex
        .map { case (anc, i) => (start, anc.get, i + 1) }
    }.toSet
    assert(got == want)
    // depth really goes multi-hop, PAST the old hardcoded bound of 3:
    // brands reach WORLD at depth 4 (brand→mfgr→sector→Goods→WORLD)
    assert(got.exists { case (d, a, n) =>
      d.startsWith("Brand#") && a == "WORLD" && n == 4 })
    assert(got.exists { case (d, a, n) =>
      d.startsWith("Customer#") && a == "WORLD" && n == 3 })
  }

  test("transitiveClosure runs a planted depth-6 chain to convergence") {
    import spark.implicits._
    // leaf L sits under a 5-deep concept chain: L→n1→n2→n3→n4→n5 — the
    // deepest ancestor is 6 hops away, double the old hardcoded bound
    val leaf = Seq(("L", "n1"), ("M", "n1")).toDF("child", "parent")
    val upper = (1 to 5).map(i =>
      if (i == 5) (s"n$i", "ROOT") else (s"n$i", s"n${i + 1}"))
      .toDF("child", "parent")
    val got = Joins.transitiveClosure(leaf, upper).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val chain = "n1" :: (2 to 5).map("n" + _).toList ::: List("ROOT")
    val want =
      chain.zipWithIndex.map { case (a, i) => ("L", a, i + 1) }.toSet ++
      chain.zipWithIndex.map { case (a, i) => ("M", a, i + 1) }.toSet ++
      (1 to 5).flatMap { i =>
        chain.drop(i).zipWithIndex.map { case (a, j) => (s"n$i", a, j + 1) }
      }.toSet
    assert(got == want)
    assert(got.contains(("L", "ROOT", 6)))
  }

  test("transitiveClosure fails loudly on a cyclic edge set") {
    import spark.implicits._
    val leaf = Seq(("L", "a")).toDF("child", "parent")
    val cyc = Seq(("a", "b"), ("b", "a")).toDF("child", "parent")
    val e = intercept[IllegalStateException] {
      Joins.transitiveClosure(leaf, cyc).collect()
    }
    assert(e.getMessage.contains("cycle"))
  }

  private def closureRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().toSeq.map(r =>
      (Option(r.get(0)), Option(r.get(1)), r.getInt(2))).sortBy(_.toString)

  test("driver closure falls back as soon as a dense level passes the " +
      "row bound, before the level is appended") {
    import spark.implicits._
    // a → b1..b10, every b_i → c1..c10: 110 depth-1 rows, then a
    // 100-path depth-2 level; a bound of 150 admits level 1 and trips
    // 41 rows into level 2
    val edges = (1 to 10).map(i => ("a", s"b$i")) ++
      (for (i <- 1 to 10; j <- 1 to 10) yield (s"b$i", s"c$j"))
    val u0 = edges.toDF("child", "parent")
    val rows = u0.collect()
    assert(Joins.driverClosure(u0, rows, maxRows = 150).isEmpty)
    // exactly at the bound the walk completes and equals the loop
    val full = Joins.driverClosure(u0, rows, maxRows = 210)
    assert(full.isDefined)
    assert(closureRows(full.get) == closureRows(Joins.loopClosure(u0)))
    assert(full.get.count() == 210)
  }

  test("driver closure skips null keys exactly as the SQL loop does") {
    import spark.implicits._
    val u0 = Seq[(String, String)](("x", "y"), ("y", null), (null, "z"),
      ("z", "w"), ("w", null), ("q", "z"))
      .toDF("child", "parent")
    val driver = Joins.driverClosure(u0, u0.collect())
    assert(driver.isDefined)
    val got = closureRows(driver.get)
    assert(got == closureRows(Joins.loopClosure(u0)))
    // a null parent ends the path: (y, null) never meets the null
    // child of (null, z), so neither x nor y reaches z
    assert(got.contains((Some("x"), None, 2)))
    assert(!got.exists { case (d, a, _) =>
      (d.contains("x") || d.contains("y")) && a.contains("z") })
    // a null child still walks up through its non-null parent
    assert(got.contains((None, Some("w"), 2)))
  }

  test("q_ri_audit reports all six relations clean on the generated data") {
    val rows = Joins.qRiAudit(spark, sfDir).collect()
      .map(r => (r.getAs[String]("relation"), r.getAs[Long]("n_child"),
        r.getAs[Long]("n_null_fk"), r.getAs[Long]("n_orphans"),
        r.getAs[Long]("n_orphan_keys")))
    assert(rows.map(_._1).toSeq == Seq(
      "customer.c_nationkey->nation", "lineitem.l_orderkey->orders",
      "lineitem.l_partkey->part", "lineitem.l_suppkey->supplier",
      "nation.n_regionkey->region", "orders.o_custkey->customer"))
    // the driver's TPC-H-ish generator emits consistent keys: child
    // counts match the tables, zero nulls, zero orphans
    val counts = Map(
      "customer" -> spark.read.parquet(s"$sfDir/customer.parquet").count(),
      "lineitem" -> spark.read.parquet(s"$sfDir/lineitem.parquet").count(),
      "nation" -> spark.read.parquet(s"$sfDir/nation.parquet").count(),
      "orders" -> spark.read.parquet(s"$sfDir/orders.parquet").count())
    rows.foreach { case (rel, nc, nn, no, nok) =>
      assert(nc == counts(rel.takeWhile(_ != '.')), rel)
      assert((nn, no, nok) == ((0L, 0L, 0L)), rel)
    }
  }

  test("riRelation counts planted orphans, null FKs, and distinct keys") {
    import spark.implicits._
    val child = Seq(Some(1L), Some(1L), Some(2L), Some(9L), Some(9L),
      Some(9L), None, None).toDF("fk")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val r = Joins.riRelation("t", child, "fk", parent, "pk",
      bcastParent = true).collect().head
    assert(r.getAs[Long]("n_child") == 8L)
    assert(r.getAs[Long]("n_null_fk") == 2L)   // NULL FK is not an orphan
    assert(r.getAs[Long]("n_orphans") == 3L)   // the three 9s
    assert(r.getAs[Long]("n_orphan_keys") == 1L)
  }

  test("ri audit plans broadcast anti-joins for dimension parents") {
    val plan = Joins.qRiAudit(spark, sfDir)
      .queryExecution.executedPlan.toString
    // five dimension-sized parents broadcast; only lineitem->orders may
    // shuffle both sides
    assert("BroadcastHashJoin.*LeftAnti".r.findAllIn(plan).size >= 5, plan)
  }
}
