package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Join layer — every lookup in the reference is an equi-join
  * (SURVEY.md §2.3). Role mapping (Tables.scala): customer→patients,
  * orders→per-patient clinical facts, nation/region→two-level concept
  * hierarchy, part→concept map.
  *
  * Scale posture: dimension sides (nation 25, region 5, part = code
  * dictionary) stay small at any data scale, so they are broadcast —
  * the fact side never shuffles for those joins. The one fact⋈fact join
  * (customer⋈orders) is left to Catalyst/AQE: both sides grow with the
  * data, so a shuffled hash / sort-merge join on the FK is the correct
  * 100 TB plan, not a forced broadcast.
  */
object Joins {

  /** J1 — child-records FK join: all Conditions *for* a patient
    * (`Condition?patient=id`, /root/reference/src/coding_task_1.py:85-109,
    * coding_task_2.py:63-87), plus the P5 code-equality filter on the
    * child side (`?code=...`, coding_task_3.py:60). Both filters are
    * pushed to the parquet scans before the join.
    */
  def qChildRecords(spark: SparkSession, dir: String): DataFrame = {
    val patients = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_name"))
    val records = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "O")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    childRecordsJoin(patients, records)
      .orderBy(col("c_custkey"), col("o_orderkey"))
  }

  /** The J1 join core over any (c_custkey, …) ⋈ (o_custkey, …) frames —
    * exposed so JoinsSpec can drive it with a deliberately skewed FK
    * and observe AQE's skew-join split: at real scale a hot patient
    * (one FK value owning a large share of the fact rows) would stall
    * a sort-merge task for the whole stage; AQE splits the oversized
    * partition into advisory-sized slices at runtime, which is the
    * engine's answer to FK skew (no manual salting needed for joins).
    */
  private[graft] def childRecordsJoin(patients: DataFrame,
    records: DataFrame): DataFrame =
    patients
      .join(records, patients("c_custkey") === records("o_custkey"))
      .drop("o_custkey")

  /** J2 — hierarchy parent lookup: SNOMED code → parent concept via ECL
    * `>!{code}` (/root/reference/src/coding_task_1.py:137-175, query at
    * :158). Here: each patient's code (nation) is enriched with its
    * parent concept (region) through two broadcast joins — zero fact
    * shuffles at any scale.
    */
  def qParentLookup(spark: SparkSession, dir: String): DataFrame = {
    val facts  = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val nation = broadcast(Tables.nation(spark, dir))
    val region = broadcast(Tables.region(spark, dir))
    facts
      .join(nation, facts("c_nationkey") === nation("n_nationkey"))
      .join(region, col("n_regionkey") === region("r_regionkey"))
      .select(col("c_custkey"), col("n_name").as("code_name"),
        col("r_name").as("parent_name"))
      .orderBy(col("c_custkey"))
  }

  /** J3 — hierarchy child lookup with deterministic first pick: SNOMED
    * code → *a* child concept via ECL `<!{code}` then `data[0]`
    * (/root/reference/src/coding_task_2.py:115-153, query :139, pick
    * :144-145). The reference trusts server order; we make the pick
    * deterministic with min(struct(key, name)).
    *
    * Scale shape: the first-child-per-parent map is reduced by a partial
    * hash aggregate on the (tiny) hierarchy table *before* being
    * broadcast, so the per-fact work is two broadcast probes.
    */
  def qChildLookup(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.nation(spark, dir)
    val firstChild = nation
      .groupBy(col("n_regionkey").as("fc_regionkey"))
      .agg(min(struct(col("n_nationkey"), col("n_name"))).as("fc"))
      .select(col("fc_regionkey"), col("fc.n_nationkey").as("child_key"),
        col("fc.n_name").as("child_name"))
    val facts = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    facts
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(firstChild), col("n_regionkey") === col("fc_regionkey"))
      .select(col("c_custkey"), col("n_name").as("code_name"),
        col("child_key"), col("child_name"))
      .orderBy(col("c_custkey"))
  }

  /** J4 — concept-map join: SNOMED → ICD-10 through map refset 447562003
    * (/root/reference/src/coding_task_5.py:71-94, pick :89-90). The code
    * dictionary (part) is broadcast; LEFT join keeps unmapped codes with
    * a null mapTarget exactly like the reference's no-mapping branch
    * (coding_task_5.py:85-87).
    */
  def qCodeMap(spark: SparkSession, dir: String): DataFrame = {
    val facts = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
    val dict = broadcast(Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand").as("map_target")))
    facts
      .join(dict, facts("l_partkey") === dict("p_partkey"), "left")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("map_target"))
      // (l_orderkey, l_linenumber) is NOT unique in the testdata; adding
      // l_partkey makes tied rows byte-identical (map_target is a function
      // of l_partkey), so the hash compare is order-stable.
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
  }

  /** J6 — care-gap anti-join: patients with NO recent observation →
    * create-if-missing (/root/reference/src/coding_task_3.py:54-87 +
    * main :236-245; the `insights.md:223` "no recent blood pressure
    * Observation" query verbatim). LEFT ANTI join; the date filter is
    * pushed into the orders scan so only recent keys shuffle.
    */
  /** As-of join — each purchase matched to the same user's most recent
    * click at or before it (the canonical time-series enrichment join;
    * kdb/Pandas `merge_asof`, DuckDB `ASOF JOIN`). Spark has no native
    * operator, and the naive range join (`b.ts >= c.ts` + max per
    * purchase) explodes quadratically per user. This is the published
    * UNION-WINDOW formulation instead: tag both sides, interleave on
    * (ts, tag) with right rows first at ties (the `>=` bound), and let
    * a `last(ignoreNulls)` running carry deliver each purchase its
    * match — NO join operator in the plan at all.
    *
    * Ties are pinned deterministic: clicks pre-aggregate to one row per
    * (user, ts) — also what makes the oracle's ASOF well-defined — and
    * equal-ts purchases all read the same carry.
    *
    * Scale shape: ONE shuffle (user_id), a per-user sort, zero joins —
    * the reducer bound is the busiest single user, the same skew
    * posture as [[graft.operators.Windowed.qSessionGap]]. Unmatched
    * purchases (no prior click) drop, matching the oracle's inner ASOF.
    */
  def qAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("click_value"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val tagged = clicks
      .select(col("user_id"), col("ts"), lit(0).as("tag"),
        lit(null).cast("long").as("event_id"),
        lit(null).cast("double").as("value"),
        col("ts").as("click_ts"), col("click_value"))
      .unionByName(buys
        .select(col("user_id"), col("ts"), lit(1).as("tag"),
          col("event_id"), col("value"),
          lit(null).cast("timestamp").as("click_ts"),
          lit(null).cast("double").as("click_value")))
    val carry = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("m_ts", last(col("click_ts"), ignoreNulls = true)
        .over(carry))
      .withColumn("m_val", last(col("click_value"), ignoreNulls = true)
        .over(carry))
      .filter(col("tag") === 1 && col("m_ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("m_ts").as("click_ts"), col("m_val").as("click_value"))
      .orderBy(col("event_id"))
  }

  def qAntiMissing(spark: SparkSession, dir: String): DataFrame = {
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("2000-06-01").cast("timestamp"))
      .select(col("o_custkey"))
    Tables.customer(spark, dir)
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** P6 declared — the EXISTENCE predicate as a first-class query, the
    * semi twin of [[qAntiMissing]]'s anti: customers WITH at least one
    * high-value recent order, via LEFT SEMI join (one probe per build
    * row, no fan-out — a plain inner join would duplicate a customer
    * per matching order and need a distinct shuffle on top; the semi
    * form stops at the first match). Same scale posture as the anti:
    * the filter on orders pushes to its scan, both sides shuffle once
    * on the key, AQE is free to broadcast the filtered build side.
    */
  def qSemiExists(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 150000)
      .select(col("o_custkey"))
    Tables.customer(spark, dir)
      .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** A2 — resource-type rollup counts, source-vs-target
    * (/root/reference/src/insights.py:9-14): union of per-type tallies →
    * one 2-key hash aggregate. Partial aggregation runs on each union
    * branch's partitions before the (tiny) shuffle.
    */
  /** A2 extension — hierarchical rollup with subtotals and a grand
    * total (the generalization of insights.py's per-type tallies to the
    * reporting shape `GROUP BY ROLLUP`): status × priority counts, with
    * the rollup null markers replaced by 'ALL' for deterministic
    * ordering. One pass, map-side partials for every grouping set.
    */
  def qRollupCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"))
      .orderBy(col("status"), col("priority"))

  /** CUBE — the full grouping-set lattice next to [[qRollupCounts]]'s
    * hierarchy: all four groupings of (status, priority) in one pass,
    * null markers replaced by 'ALL'. Same execution shape as the
    * rollup — a single Expand + hash aggregate with map-side partials;
    * the lattice multiplies the expand factor (4 grouping sets), never
    * the shuffle count.
    */
  def qCubeCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"))
      .orderBy(col("status"), col("priority"))

  /** The exact per-group distinct count — the oracle-checked BASELINE
    * of the [[qApproxDistinct]] pair (the `q_cosine_topk`-vs-ANN
    * pattern applied to cardinality): this query PAYS the Expand +
    * value-set shuffle that the HLL sketch exists to avoid, and is
    * declared so the approximate/exact pairing has a green row and the
    * 5%-error spec a declared reference. At 100 TB you run the sketch;
    * this is the semantics it approximates.
    */
  def qDistinctExact(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"))
      .orderBy(col("l_returnflag"))

  /** Pivot — the wide-form dual of the rollup/mixture long-form
    * aggregates: per-source document counts spread across one column
    * per language. The value list is EXPLICIT (the five corpus
    * languages), which both fixes the output schema at plan time and
    * skips the extra distinct-values pass Spark otherwise runs before
    * pivoting; empty cells coalesce to 0 (SQL FILTER-count semantics).
    * One hash aggregate with map-side partials — the pivot is a
    * projection trick on the grouping, not an extra shuffle.
    */
  def qPivotLang(spark: SparkSession, dir: String): DataFrame = {
    val langs = Seq("de", "en", "es", "fr", "zh")
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .pivot("lang", langs)
      .agg(count(lit(1)))
      .select(col("source") +:
        langs.map(l => coalesce(col(l), lit(0L)).as(s"n_$l")): _*)
      .orderBy(col("source"))
  }

  /** Width-bucket histogram over the event value column — the binning
    * aggregate every monitoring/profiling surface needs. Buckets are
    * floor(value/50); per-bucket count plus min/max (order-independent
    * statistics only — a float SUM would be aggregation-order-dependent
    * and break bit-exact comparison, the same determinism rule as the
    * rational tf-idf). One map-side-combined aggregate, bucket-count
    * cardinality on the shuffle.
    */
  def qValueHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(floor(col("value") / 50).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"))
      .orderBy(col("bucket"))

  /** §2.10 — approximate distinct at scale: HyperLogLog++ cardinality
    * per group. The sketch is mergeable, so the shuffle carries
    * fixed-size HLL buffers instead of value sets — the 100 TB answer
    * to COUNT(DISTINCT). Sketch-ONLY (r3 verdict: round 3 computed the
    * exact `countDistinct` alongside it, paying the very expand/shuffle
    * the sketch exists to avoid); the exact comparison lives in
    * JoinsSpec, which bounds relative error at 5%. Declared rows-only
    * (HLL estimates are engine-specific).
    */
  def qApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"))
      .orderBy(col("l_returnflag"))

  /** Multi-hop hierarchy closure — the generalization of J2/J3's one-hop
    * ECL lookups (`>!`/`<!`, /root/reference/src/coding_task_1.py:158,
    * coding_task_2.py:139) to full SNOMED-style ancestry (SURVEY §4):
    * every (descendant, ancestor, depth) pair of a derived 6-level
    * concept tree
    *
    *   customer → nation → region → WORLD
    *   brand → mfgr (Brand#N → Mfgr#(N mod 5 + 1))
    *         → sector (Mfgr#K → Sector#((K-1) mod 2 + 1))
    *         → Goods → WORLD
    *
    * computed by [[transitiveClosure]]'s run-to-convergence frontier
    * loop (r4 verdict item 1: a HARDCODED depth bound silently truncates
    * closure rows the moment the ontology gets deeper — real SNOMED
    * ancestry runs 10–15 levels — so the loop now extends hops until the
    * frontier is EMPTY, with a loud backstop the way
    * [[graft.operators.Components.clusterMaxRounds]] guards the cluster
    * propagation). The two synthesized upper levels (sector, Goods) make
    * the deepest chain depth 4 — past the old bound, so the convergence
    * loop is exercised by the driver's own oracle compare, not just the
    * planted-chain spec.
    */
  def qHierarchyClosure(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.nation(spark, dir)
    val region = Tables.region(spark, dir)
    def numOf(c: Column): Column =
      regexp_extract(c, "([0-9]+)", 1).cast("int")
    val nr = nation.join(broadcast(region),
      col("n_regionkey") === col("r_regionkey"))
      .select(col("n_name").as("child"), col("r_name").as("parent"))
    val rw = region.select(col("r_name").as("child"),
      lit("WORLD").as("parent"))
    val bm = Tables.part(spark, dir).select(col("p_brand")).distinct()
      .select(col("p_brand").as("child"),
        concat(lit("Mfgr#"),
          (pmod(numOf(col("p_brand")), lit(5)) + 1).cast("string"))
          .as("parent"))
    val ms = bm.select(col("parent").as("child")).distinct()
      .select(col("child"),
        concat(lit("Sector#"),
          (pmod(numOf(col("child")) - 1, lit(2)) + 1).cast("string"))
          .as("parent"))
    val sg = ms.select(col("parent").as("child")).distinct()
      .select(col("child"), lit("Goods").as("parent"))
    val gw = sg.select(col("parent").as("child")).distinct()
      .select(col("child"), lit("WORLD").as("parent"))
    val cn = Tables.customer(spark, dir).join(broadcast(nation),
      col("c_nationkey") === col("n_nationkey"))
      .select(col("c_name").as("child"), col("n_name").as("parent"))
    val upperEdges = nr.unionByName(rw).unionByName(bm).unionByName(ms)
      .unionByName(sg).unionByName(gw)
    transitiveClosure(cn, upperEdges)
      .orderBy(col("descendant"), col("depth"), col("ancestor"))
  }

  /** Backstop for [[transitiveClosure]]: any real ontology is far
    * shallower (SNOMED ancestry ≈10–15 levels); hitting this bound means
    * the edge set has a cycle, which must fail LOUDLY rather than emit a
    * silently truncated closure. */
  private[graft] val closureMaxDepth = 32

  /** Driver-walk budget for [[transitiveClosure]] (r19): edge sets up
    * to this size close on the driver (16 k edges × ≤32 levels stays
    * well inside the [[Components]] 32 MB pull discipline); larger
    * ontologies keep the distributed hop loop. */
  private[graft] val closureDriverMaxEdges = 1 << 14

  /** Emitted-row cap for the driver walk — a multi-parent DAG can fan
    * out paths; past this the walk abandons and the distributed loop
    * (whose memory is cluster-sized) takes over. */
  private val closureDriverMaxRows = 1 << 21

  /** The upper-closure hop loop of [[transitiveClosure]] — the
    * distributed fixed-point form, now the fallback for edge sets past
    * the driver budget. Emptiness-checked per hop; trips
    * [[closureMaxDepth]] loudly on a cycle. */
  private[graft] def loopClosure(u0: DataFrame): DataFrame = {
    val up = broadcast(u0
      .select(col("child").as("u_child"), col("parent").as("u_parent")))
    var frontier = u0
      .select(col("child").as("descendant"), col("parent").as("ancestor"),
        lit(1).as("depth"))
      .localCheckpoint(true)
    var upperClosure = frontier
    var depth = 1
    var converged = false
    while (!converged) {
      val next = frontier
        .join(up, frontier("ancestor") === up("u_child"))
        .select(col("descendant"), col("u_parent").as("ancestor"),
          lit(depth + 1).as("depth"))
        .localCheckpoint(true)
      if (next.isEmpty) converged = true
      else {
        depth += 1
        if (depth > closureMaxDepth) {
          throw new IllegalStateException(
            s"hierarchy closure still growing after $closureMaxDepth " +
              "hops — cycle in the concept edges?")
        }
        frontier = next
        upperClosure = upperClosure.unionByName(next)
      }
    }
    upperClosure
  }

  /** Driver-side upper closure (r19): the exact row multiset the hop
    * loop emits — one (descendant, ancestor, depth) row per PATH, no
    * dedup, matching the join semantics on multi-parent DAGs — built
    * by a breadth-first walk over the collected edges; null keys never
    * match, as in the loop's equi-join. Returns None as soon as the
    * emitted rows plus the level being built pass `maxRows` (the
    * distributed loop then runs instead) — mid-level, before a fan-out
    * blow-up allocates; throws the loop's cycle error past
    * [[closureMaxDepth]]. */
  private[graft] def driverClosure(u0: DataFrame,
      edges: Array[org.apache.spark.sql.Row],
      maxRows: Int = closureDriverMaxRows): Option[DataFrame] = {
    val parentsOf = new scala.collection.mutable.HashMap[Any,
      scala.collection.mutable.ArrayBuffer[Any]]()
    edges.filter(!_.isNullAt(0)).foreach { r =>
      parentsOf.getOrElseUpdate(r.get(0),
        scala.collection.mutable.ArrayBuffer.empty[Any]) += r.get(1)
    }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    // frontier rows mirror the loop's: (descendant, ancestor, depth)
    var frontier = scala.collection.mutable.ArrayBuffer
      .from(edges.map(r => (r.get(0), r.get(1))))
    var depth = 1
    while (frontier.nonEmpty) {
      frontier.foreach { case (d, a) =>
        out += org.apache.spark.sql.Row(d, a, depth) }
      if (out.length > maxRows) return None
      val next = scala.collection.mutable.ArrayBuffer.empty[(Any, Any)]
      frontier.foreach { case (d, a) =>
        if (a != null) parentsOf.getOrElse(a, Nil).foreach { p =>
          next += ((d, p))
          if (out.length + next.length > maxRows) return None
        }
      }
      if (next.nonEmpty) {
        depth += 1
        if (depth > closureMaxDepth) {
          throw new IllegalStateException(
            s"hierarchy closure still growing after $closureMaxDepth " +
              "hops — cycle in the concept edges?")
        }
      }
      frontier = next
    }
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("descendant",
        u0.schema("child").dataType),
      org.apache.spark.sql.types.StructField("ancestor",
        u0.schema("parent").dataType),
      org.apache.spark.sql.types.StructField("depth",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    Some(u0.sparkSession.createDataFrame(out.asJava, schema))
  }

  /** Full (descendant, ancestor, depth) transitive closure of a concept
    * DAG given as (child, parent) edge frames: `leaf` rows are the
    * fact-sized bottom level (they only ever appear as descendants),
    * `upper` the concept levels above it.
    *
    * Two-phase shape, the closure analog of the dedup-cluster "iterate
    * the small set" rule: the ITERATION runs over the UPPER closure
    * only — concept levels are small at any data scale, so each hop is
    * a tiny broadcast join and the per-hop `localCheckpoint(eager)`
    * (which makes the emptiness probe free and keeps the probe-per-hop
    * from recomputing the prefix chain) materializes model-sized
    * frames, never the corpus. The fact-sized leaf level then joins
    * the FINISHED upper closure exactly once, broadcast, zero
    * shuffles: a leaf's ancestors are its parent (depth 1) plus its
    * parent's ancestors at +1 — so the corpus is never iterated,
    * checkpointed, or self-joined.
    *
    * The upper loop runs to an EMPTINESS-checked fixed point: on a DAG
    * the frontier MUST empty within the ontology's depth, so
    * [[closureMaxDepth]] only trips on a cycle (loud
    * IllegalStateException, mirroring the dedup-cluster backstop).
    * Every edge level is functional (one parent per child), so closure
    * rows are unique without a distinct.
    */
  private[graft] def transitiveClosure(leaf: DataFrame,
    upper: DataFrame): DataFrame = {
    // materialize the (tiny) upper edge set ONCE: every hop's action
    // re-evaluates its broadcast, and without this each emptiness probe
    // would re-run the whole upper-edge derivation (scans + distincts)
    // per hop
    val u0 = upper.localCheckpoint(true)
    // r19 (guide §1.2 — the gap between wall time and stage time on
    // this query was sequential tiny driver jobs): the upper edge set
    // is model-sized by contract, so when it fits the same bounded
    // driver-pull budget as [[graft.operators.Components]]' union-find
    // (a LIMIT-probed collect, never an unbounded pull), the hop loop
    // — one localCheckpoint job plus one emptiness job PER LEVEL — is
    // replaced by a driver-side walk producing the identical row
    // multiset in zero jobs. Oversized or blowing-up edge sets fall
    // back to the distributed loop unchanged ([[loopClosure]]).
    val probe = u0.select(col("child"), col("parent"))
      .limit(closureDriverMaxEdges + 1).collect()
    val upperClosure: DataFrame =
      if (probe.length <= closureDriverMaxEdges)
        driverClosure(u0, probe).getOrElse(loopClosure(u0))
      else loopClosure(u0)
    // ONE pass over the fact-sized leaf level: depth-0 self-rows for
    // every upper node let a single LEFT broadcast join produce both
    // the leaf's depth-1 row (parent's self-row, +1) and all deeper
    // ancestors; a leaf parent absent from the upper levels falls
    // through the left join to a plain depth-1 row via the coalesce.
    // (A separate leafDirect ∪ leafDeeper union would scan the leaf
    // frame — a corpus join pipeline — twice.)
    val selfRows = u0.select(col("child").as("p_desc"))
      .unionByName(u0.select(col("parent").as("p_desc"))).distinct()
      .select(col("p_desc"), col("p_desc").as("p_anc"),
        lit(0).as("p_depth"))
    val upc = broadcast(upperClosure
      .select(col("descendant").as("p_desc"), col("ancestor").as("p_anc"),
        col("depth").as("p_depth"))
      .unionByName(selfRows))
    leaf
      .join(upc, col("parent") === col("p_desc"), "left")
      .select(col("child").as("descendant"),
        coalesce(col("p_anc"), col("parent")).as("ancestor"),
        coalesce(col("p_depth") + 1, lit(1)).as("depth"))
      .unionByName(upperClosure)
  }

  def qResourceCounts(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(lit("orders").as("resource_type"),
        col("o_orderstatus").as("code"))
    val l = Tables.lineitem(spark, dir)
      .select(lit("lineitem").as("resource_type"),
        col("l_returnflag").as("code"))
    o.unionByName(l)
      .groupBy(col("resource_type"), col("code"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("resource_type"), col("code"))
  }

  /** Referential-integrity audit: one row per declared FK relation with
    * the child row count, NULL-FK count, orphan row count (non-null FK
    * with no parent), and distinct orphan key count — the cross-table
    * generalization of the single-relation care-gap anti-join
    * ([[qAntiMissing]]), and the first report an ETL runs after landing
    * a multi-table drop (the reference re-links Patient references by
    * id before posting, /root/reference/src/coding_task_4.py — this is
    * the audit that says whether those links CAN resolve).
    *
    * Scale shape per relation: orphans are a LEFT ANTI join of the
    * child against the parent's DISTINCT key projection — broadcast
    * when the parent is dimension-sized (flagged per relation; nation/
    * region/part/supplier stay broadcast at any realistic scale), a
    * key-shuffle hash anti-join for fact-sized parents (lineitem →
    * orders at 100 TB: both sides hash on the key once, AQE handles
    * skew). Counts are 1-row aggregates; the report is a union of six
    * 1-row frames — driver-trivial.
    */
  def qRiAudit(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.customer(spark, dir)
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    // r19 note (OPTIMIZATION_r19.md): a one-pass-per-child rewrite
    // (chained left key-joins + one multi-distinct aggregate) was
    // built and measured — it LOST 0.23–0.45 s locally (the union's
    // independent branches broadcast and execute concurrently, while
    // the chained form serializes them behind one fact shuffle) and
    // its scale story is ambivalent (six single-column pruned scans
    // vs one 3-column scan plus an always-on Expand ×4). Reverted;
    // the per-relation form below stays the shape of record.
    Seq(
      riRelation("customer.c_nationkey->nation", customer, "c_nationkey",
        Tables.nation(spark, dir), "n_nationkey", bcastParent = true),
      riRelation("lineitem.l_orderkey->orders", lineitem, "l_orderkey",
        orders, "o_orderkey", bcastParent = false),
      riRelation("lineitem.l_partkey->part", lineitem, "l_partkey",
        Tables.part(spark, dir), "p_partkey", bcastParent = true),
      riRelation("lineitem.l_suppkey->supplier", lineitem, "l_suppkey",
        Tables.supplier(spark, dir), "s_suppkey", bcastParent = true),
      riRelation("nation.n_regionkey->region", Tables.nation(spark, dir),
        "n_regionkey", Tables.region(spark, dir), "r_regionkey",
        bcastParent = true),
      riRelation("orders.o_custkey->customer", orders, "o_custkey",
        customer, "c_custkey", bcastParent = true))
      .reduce(_ unionByName _)
      .orderBy(col("relation"))
  }

  /** One FK relation's audit row; see [[qRiAudit]]. */
  private[graft] def riRelation(name: String, child: DataFrame,
      fk: String, parent: DataFrame, pk: String,
      bcastParent: Boolean): DataFrame = {
    val keys0 = parent.select(col(pk)).distinct()
    val keys = if (bcastParent) broadcast(keys0) else keys0
    val orphans = child.filter(col(fk).isNotNull)
      .join(keys, col(fk) === col(pk), "left_anti")
    child
      .agg(count(lit(1)).as("n_child"),
        count(when(col(fk).isNull, lit(1))).as("n_null_fk"))
      .crossJoin(orphans.agg(count(lit(1)).as("n_orphans"),
        countDistinct(col(fk)).as("n_orphan_keys")))
      .select(lit(name).as("relation"), col("n_child"),
        col("n_null_fk"), col("n_orphans"), col("n_orphan_keys"))
  }
}
