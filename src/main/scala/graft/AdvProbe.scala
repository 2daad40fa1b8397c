package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{BandedJoins, TextOps}
import graft.sources.Tables

/** Guard-counter probe over the ADVERSARIAL ScaleGen dataset (r12
  * verdict item 3): the hot-bucket star-reductions and AQE skew
  * handling exist for data shaped like this; this main measures each
  * guard actually FIRING on artifact-scale volume and prints one JSON
  * line for `SCALE.md`. Companion to the oracle sweep
  * (`CORRECTNESS_ADV_r13.json`), which proves the ANSWERS stay
  * right — this proves the COST posture (O(k) candidate emission on a
  * k-clique, split skewed partitions) held while they did.
  *
  * The skew probe forces the plan shape a 1000-executor corpus join
  * would have: the 15k-row customer dim broadcasts at test scale,
  * which makes key skew invisible by construction (a broadcast join
  * has no shuffle partitions to skew) — THAT is the first guard, and
  * it is asserted. Disabling broadcast then plans the real shuffled
  * join, where AQE's skew-join rule must split the ~25%-of-orders hot
  * key; the thresholds are lowered to artifact scale (the hot
  * partition is ~10 MB here, not the default 256 MB) and the probe
  * reports the `skew=true` plan marker plus the partition multiple.
  */
object AdvProbe {

  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/repo/tmp/sfadv")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.documents(spark, dir)
    val clique = col("doc_id") >= ScaleGen.megaClusterBase
    val k = docs.filter(clique).count()

    // --- MinHash banded family: hot buckets detected, star-reduced ---
    val staged = TextOps.stageDocs(docs).localCheckpoint(true)
    val banded = staged
      .select(col("doc_id"), posexplode(col("bsigs")).as(Seq("band", "bhash")))
    val hotMinhash = BandedJoins.hotBuckets(banded, "band", "bhash").count()
    val cands = BandedJoins.candidates(TextOps.minhashFamily, staged)
      .filter(col("id_a") >= ScaleGen.megaClusterBase &&
        col("id_b") >= ScaleGen.megaClusterBase)
      .count()

    // --- SimHash clusters: identical-signature collapse ---
    val sig = TextOps.simhashMd5Halves(docs.filter(clique))
    val identityEdges = TextOps.simhashClusterEdges(docs)
      .filter(col("id_a") >= ScaleGen.megaClusterBase &&
        col("id_b") >= ScaleGen.megaClusterBase)
      .count()
    val distinctCliqueSigs = sig.select(col("sig_hi"), col("sig_lo"))
      .distinct().count()
    // correlated-corpus hot buckets vs block-plan width: the exact
    // family's documented remedy is a WIDER plan (more combination
    // tables of more shared bits), not star reduction — measure the
    // hot mass actually shrinking as B grows
    val allSig = TextOps.simhashMd5Halves(docs)
    val repsAll = allSig.groupBy(col("sig_hi"), col("sig_lo"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("sig_hi"), col("sig_lo"))
      .localCheckpoint(true)
    def hotAt(bPlan: Int): Long =
      BandedJoins.hotBuckets(
        TextOps.simhashKeyed(repsAll, bPlan), "band", "key").count()
    val hotByPlan = Seq(4, 5, 6, 8).map(bp => s""""B$bp":${hotAt(bp)}""")
      .mkString("{", ",", "}")
    // r14: the stats-driven plan selection must ACT on this corpus —
    // the fit auto-widens past the count-derived B until the hot set
    // empties (the r13 verdict's "done" pin: adversarial fit picks
    // B >= 6 with zero hot buckets at the chosen plan)
    val countB = TextOps.simhashBlockPlan(repsAll.count())
    val autoB = TextOps.simhashAutoPlan(repsAll, repsAll.count())
    val autoHot = hotAt(autoB)

    // --- AQE skew join on the planted hot o_custkey ---
    val orders = Tables.orders(spark, dir)
    val hotKeyOrders = orders.filter(col("o_custkey") === 42L).count()
    val customer = Tables.customer(spark, dir)
    def joinPlan(): String = {
      val j = orders.join(customer,
          col("o_custkey") === col("c_custkey"))
        .agg(sum(col("o_totalprice")).as("s"))
      j.collect()
      j.queryExecution.executedPlan.toString
    }
    // guard 1: at dim scale the join BROADCASTS — skew cannot exist.
    // ASSERTED, not just recorded: a committed artifact claiming the
    // guard while the plan silently stopped broadcasting would be
    // worse than no artifact.
    val broadcastPlan = joinPlan()
    val broadcastImmune = broadcastPlan.contains("BroadcastHashJoin")
    require(broadcastImmune,
      "customer dim no longer broadcasts — the skew-immunity guard " +
        "this probe documents has regressed:\n" + broadcastPlan.take(2000))
    // guard 2: force the 100 TB shape (no broadcast) and let AQE split
    // the skewed partition; thresholds lowered to artifact scale
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "512k")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "2")
    val shuffledPlan = joinPlan()
    val skewSplit = shuffledPlan.contains("skew=true")

    println(Seq(
      s""""mega_cluster_docs":$k""",
      s""""minhash_hot_buckets":$hotMinhash""",
      s""""minhash_clique_candidates":$cands""",
      s""""minhash_clique_all_pairs":${k * (k - 1) / 2}""",
      s""""simhash_identity_edges":$identityEdges""",
      s""""simhash_distinct_clique_sigs":$distinctCliqueSigs""",
      s""""simhash_hot_buckets_by_plan":$hotByPlan""",
      s""""simhash_count_derived_B":$countB""",
      s""""simhash_auto_plan_B":$autoB""",
      s""""simhash_auto_plan_hot_buckets":$autoHot""",
      s""""skewed_key_orders":$hotKeyOrders""",
      s""""broadcast_join_immune_to_skew":$broadcastImmune""",
      s""""aqe_skew_join_split":$skewSplit""").mkString("{", ",", "}"))
    spark.stop()
  }
}
