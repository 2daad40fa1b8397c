package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.{Pq, Versions}

/** Streaming-throughput benchmark main (r11 verdict item 7): the batch
  * surface publishes per-query medians every round (`BENCH_FULL`), but
  * the streaming intake legs were only floor-gated inside an env-gated
  * spec — this main gives them the same committed-artifact treatment.
  *
  * Each leg pushes a FIXED deterministic workload through the real
  * streaming entry point (MemoryStream → the production sink/transform
  * → memory or parquet sink), split into 4 micro-batches so per-batch
  * planning overhead is measured the way production triggers pay it,
  * and reports rows/second. One JSON line on stdout (sbt prefixes
  * `[info] `), plus a file copy (SPARK_GRAFT_STREAM_BENCH_OUT, same
  * contract as [[Bench]]).
  *
  * Workload sizes are chosen so each leg runs seconds, not minutes:
  * the artifact's purpose is round-over-round comparability (did a
  * state operator or publish loop regress structurally), not absolute
  * cluster sizing — the committed JSON carries the sizes so a future
  * round can spot a moved goalpost. The same machine-load caveat as
  * the batch bench applies; the `anchor` duplicated from [[Bench]]'s
  * calibration contract (a trivial 1-row noop write) lets a reader
  * separate load from regression here too.
  */
object StreamBench {

  private def words(n: Int, seed: Int): Seq[String] =
    (0 until n).map(i => s"w${(i * 31 + seed * 7919) % 100000}")

  private def tmp(tag: String): String =
    graft.sources.TempDirs.scratchDir(tag).toString

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val results = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Double)]
    var memorySinkSeq = 0

    /** Drive `build(stream)` over `rows` in 4 micro-batches through a
      * memory sink; record rows/s under `leg`. */
    def runLeg[T: org.apache.spark.sql.Encoder](leg: String, rows: Seq[T],
        build: DataFrame => DataFrame,
        toDf: org.apache.spark.sql.Dataset[T] => DataFrame): Unit = {
      memorySinkSeq += 1
      val input = MemoryStream[T](spark)
      val q = build(toDf(input.toDS()))
        .writeStream.format("memory")
        .queryName(s"graft_stream_bench_$memorySinkSeq")
        .outputMode("append").start()
      val t0 = System.nanoTime()
      try {
        rows.grouped(math.max(1, rows.size / 4)).foreach { chunk =>
          input.addData(chunk); q.processAllAvailable()
        }
      } finally q.stop()
      val secs = (System.nanoTime() - t0) / 1e9
      results(leg) = (rows.size.toLong, rows.size / secs)
      System.err.println(f"[stream-bench] $leg: ${rows.size / secs}%.0f rows/s")
    }

    /** Bytes published per payload byte of each compaction leg. */
    val publishAmp = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    /** Sizes of the files under `root`. */
    def filesUnder(root: String): Map[String, Long] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      finally s.close()
    }

    /** foreachBatch sinks manage their own lifecycle; time the whole
      * pumped volume. With `published` = (root, payload bytes of a row),
      * the files each micro-batch adds under the root are summed (listed
      * after every batch, so versions retired later still count) and
      * divided by the rows' payload bytes. */
    def runSinkLeg[T: org.apache.spark.sql.Encoder](leg: String, rows: Seq[T],
        start: DataFrame => org.apache.spark.sql.streaming.StreamingQuery,
        toDf: org.apache.spark.sql.Dataset[T] => DataFrame,
        published: Option[(String, T => Long)] = None): Unit = {
      val input = MemoryStream[T](spark)
      val q = start(toDf(input.toDS()))
      val before = published.fold(Map.empty[String, Long])(p => filesUnder(p._1))
      val added = scala.collection.mutable.Map.empty[String, Long]
      val t0 = System.nanoTime()
      try {
        rows.grouped(math.max(1, rows.size / 4)).foreach { chunk =>
          input.addData(chunk); q.processAllAvailable()
          published.foreach(p => added ++= filesUnder(p._1) -- before.keys)
        }
      } finally q.stop()
      val secs = (System.nanoTime() - t0) / 1e9
      results(leg) = (rows.size.toLong, rows.size / secs)
      published.foreach { case (_, payload) =>
        publishAmp(leg) = added.values.sum.toDouble / rows.map(payload).sum }
      System.err.println(f"[stream-bench] $leg: ${rows.size / secs}%.0f rows/s" +
        publishAmp.get(leg).fold("")(a => f", $a%.2f bytes published per payload byte"))
    }

    def textBytes(t: String): Long = 8L + t.getBytes("UTF-8").length

    // anchors: the full Bench calibration contract (r17 hygiene — the
    // stream artifact carried only overhead_sec, so cross-round
    // throughput comparisons had no cpu/bandwidth load signal to
    // normalize against; probes duplicated from [[Bench]] verbatim)
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def medianOf(xs: Seq[Double]): Double =
      { val s = xs.sorted; s(s.length / 2) }
    def overheadProbe(): Double = time {
      spark.range(1).write.format("noop").mode("overwrite").save()
    }
    def cpuProbe(): Double = time {
      spark.range(200L * 1000 * 1000).select(max(xxhash64(col("id"))))
        .write.format("noop").mode("overwrite").save()
    }
    val memDf = spark.range(128L * 1000 * 1000)
      .select(xxhash64(col("id")).as("h")).cache()
    def memProbe(): Double = time {
      memDf.select(max(col("h")))
        .write.format("noop").mode("overwrite").save()
    }
    overheadProbe(); cpuProbe(); memProbe() // warm-up + cache fill
    val anchorSecs = medianOf((1 to 5).map(_ => overheadProbe()))
    val cpuSecs = medianOf((1 to 3).map(_ => cpuProbe()))
    val memSecs = medianOf((1 to 3).map(_ => memProbe()))
    memDf.unpersist(blocking = true)

    // ---- synthetic corpora (deterministic) ----
    val nDocs = 4000
    val docRows: Seq[(Long, String)] = (0 until nDocs).map { i =>
      (i.toLong, words(80, i).mkString(" "))
    }
    val sourcedDocs = docRows.map { case (id, t) =>
      (id, if (id % 2 == 0) "web" else "book", t)
    }

    // 1. curation flags — row-local quality/keep/split expressions
    runLeg[(Long, String)]("curation_flags", docRows,
      df => graft.streaming.Streams.curationFlags(df),
      ds => ds.toDF("doc_id", "text"))

    // 2. BPE encode under a published tokenizer
    val bpeDocs = sourcedDocs.map { case (id, _, t) => (id, t) }
    val tokPath = tmp("graft_sb_tok")
    graft.operators.Bpe.publishFit(spark,
      docRows.take(500).toDF("doc_id", "text"), tokPath)
    runLeg[(Long, String)]("bpe_intake", bpeDocs,
      df => graft.streaming.Streams.bpeIntake(spark, df, tokPath),
      ds => ds.toDF("doc_id", "text"))

    // 3. classifier serving under a published centroid model
    val clfPath = tmp("graft_sb_clf")
    graft.operators.TextOps.publishClassifier(spark,
      sourcedDocs.take(500).toDF("doc_id", "source", "text"), 2000, clfPath)
    runLeg[(Long, String)]("classifier_intake", docRows,
      df => graft.streaming.Streams.classifyIntake(spark, df, clfPath),
      ds => ds.toDF("doc_id", "text"))

    // 4. near-dup intake against a published MinHash index: 1/8 of
    // arrivals are near-dups of the 64-doc base so the emit-once join
    // does real flagging work each batch
    val baseTexts = (0 until 64).map(b => words(120, 100000 + b))
    val staged = graft.operators.TextOps.stageDocs(
        baseTexts.zipWithIndex.map { case (w, b) =>
          (b.toLong, w.mkString(" ")) }.toDF("doc_id", "text"))
      .localCheckpoint(true)
    val ndRows: Seq[(Long, String)] = (0 until 2000).map { i =>
      val id = 10000L + i
      if (i % 8 == 0) {
        val b = (i / 8) % 64
        (id, (baseTexts(b).take(114) ++ words(6, i).map("q" + _))
          .mkString(" "))
      } else (id, words(120, 200000 + i).map("z" + _).mkString(" "))
    }
    runLeg[(Long, String)]("neardup_intake", ndRows,
      df => graft.streaming.Streams.nearDupIntake(staged, df),
      ds => ds.toDF("doc_id", "text"))

    // 5. IVF vector intake: unit-normalize + bucket-route + partitioned
    // parquet append (a file sink — measured end to end)
    val dim = 16
    def syntheticVec(i: Int): Seq[Float] =
      (0 until dim).map(j =>
        (((i * 31 + j * 7919) % 1000) / 500.0f) - 1.0f)
    val cents: Seq[Seq[Double]] = (0 until 8).map { c =>
      val v = syntheticVec(900000 + c).map(_.toDouble)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val vecRows: Seq[(Long, String, Seq[Float])] =
      (0 until 4000).map(i => (i.toLong, s"l${i % 4}", syntheticVec(i)))
    val ivfOut = tmp("graft_sb_ivf_out")
    runSinkLeg[(Long, String, Seq[Float])]("ivf_intake", vecRows,
      df => graft.streaming.Streams.ivfIntake(ivfOut, cents, df,
        tmp("graft_sb_ivf_cp")),
      ds => ds.toDF("vec_id", "label", "embedding"))

    // 6. CDC apply: change ops merged onto a published snapshot, one
    // full publish per micro-batch (the honest copy-on-write price —
    // this leg's rate is dominated by the 4 publishes, by design)
    val cdcBase = (0 until 2000).map(i => (i.toLong, words(40, i).mkString(" ")))
      .toDF("doc_id", "text")
    val cdcRoot = tmp("graft_sb_cdc")
    Versions.publish(spark, cdcRoot, "base")(Pq.write(cdcBase, _))
    val cdcOps: Seq[(Long, String, String)] = (0 until 1000).map { i =>
      if (i % 5 == 4) (i.toLong * 2, "delete", null)
      else (2000L + i, "upsert", words(40, 500000 + i).mkString(" "))
    }
    runSinkLeg[(Long, String, String)]("cdc_apply", cdcOps,
      df => graft.streaming.Streams.cdcApplySink(cdcRoot, df,
        tmp("graft_sb_cdc_cp"), retainVersions = 2),
      ds => ds.toDF("doc_id", "op", "text"))

    // 7. MV apply: CDC merge + incremental rollup refresh per batch
    // under the single-flip epoch publication
    val mvBase = (0 until 2000).map(i =>
      (i.toLong, if (i % 2 == 0) "web" else "book",
        words(40, i).mkString(" ")))
      .toDF("doc_id", "source", "text")
    val mvRoot = tmp("graft_sb_mv")
    Versions.publish(spark, mvRoot, "base") { dir =>
      Pq.write(mvBase, s"$dir/snapshot")
      Pq.write(graft.operators.Curation.sourceRollup(mvBase), s"$dir/mv")
    }
    val mvOps: Seq[(Long, String, String, String)] = (0 until 1000).map { i =>
      if (i % 5 == 4) (i.toLong * 2, "delete", null, null)
      else (2000L + i, "upsert", if (i % 3 == 0) "web" else "book",
        words(40, 600000 + i).mkString(" "))
    }
    runSinkLeg[(Long, String, String, String)]("mv_apply", mvOps,
      df => graft.streaming.Streams.mvApplySink(mvRoot, df,
        tmp("graft_sb_mv_cp"), retainVersions = 2),
      ds => ds.toDF("doc_id", "op", "source", "text"))

    // 8. CDC apply under a BACKLOG: three seq-ordered ops per doc
    // coalesced into each micro-batch, so every batch exercises the
    // r12 `collapseOps` last-op-wins collapse — this leg prices that
    // hardening instead of only fixture-testing it
    val cdc2Root = tmp("graft_sb_cdc2")
    Versions.publish(spark, cdc2Root, "base")(Pq.write(cdcBase, _))
    val backlogOps: Seq[(Long, String, String, Long)] =
      (0 until 1500).map { i =>
        val doc = 3000L + i / 3 // doc-major: a doc's ops share a batch
        if (i % 3 == 2 && doc % 7 == 0) (doc, "delete", null, i.toLong)
        else (doc, "upsert", words(40, 700000 + i).mkString(" "),
          i.toLong)
      }
    runSinkLeg[(Long, String, String, Long)]("cdc_backlog_collapse",
      backlogOps,
      df => graft.streaming.Streams.cdcApplySink(cdc2Root, df,
        tmp("graft_sb_cdc2_cp"), retainVersions = 2),
      ds => ds.toDF("doc_id", "op", "text", "seq"))

    // 9. near-dup label-map extension with bounded retention: each
    // batch probes the published index, extends the label map over
    // star edges ∪ new pairs, and republishes versioned-then-flip
    // (retainVersions = 2 — the retention cost rides in the number)
    val labelsRoot = tmp("graft_sb_labels")
    Versions.publish(spark, labelsRoot, "base")(Pq.write(
      graft.operators.Components.labelComponents(
        graft.operators.BandedJoins.selfPairs(
            graft.operators.TextOps.minhashFamily, staged, joinBack = false)
          .select(col("id_a"), col("id_b"))), _))
    val labelRows: Seq[(Long, String)] = (0 until 1000).map { i =>
      val id = 50000L + i
      if (i % 8 == 0) {
        val b = (i / 8) % 64
        (id, (baseTexts(b).take(114) ++ words(6, 400000 + i).map("r" + _))
          .mkString(" "))
      } else (id, words(120, 500000 + i).map("y" + _).mkString(" "))
    }
    runSinkLeg[(Long, String)]("labels_extend", labelRows,
      df => graft.streaming.Streams.extendLabelsSink(staged, labelsRoot,
        df, tmp("graft_sb_labels_cp"), retainVersions = 2),
      ds => ds.toDF("doc_id", "text"))

    // 10. nightly BPE tokenizer refresh on the streaming clock (r13):
    // delta-sized word-count fold + versioned word-table publish per
    // batch; retrain fires only when the capped table moves
    val tok2 = tmp("graft_sb_tok2")
    graft.operators.Bpe.publishFit(spark,
      docRows.take(500).toDF("doc_id", "text"), tok2)
    val refreshRows: Seq[(Long, String)] = (0 until 2000).map(i =>
      (20000L + i, words(40, 300000 + i).mkString(" ")))
    runSinkLeg[(Long, String)]("bpe_refresh", refreshRows,
      df => graft.streaming.Streams.bpeRefreshSink(tok2, df,
        tmp("graft_sb_bpe_cp")),
      ds => ds.toDF("doc_id", "text"))

    // 11. SimHash intake against the published rep index (r13 item 6):
    // row-local md5 signer + block-combination stream-static emit-once
    // join; 1/8 of arrivals are EXACT dups of the 64-doc base (Hamming
    // 0 vs the rep), so the flag path does real work each batch
    val shBase = baseTexts.zipWithIndex.map { case (w, b) =>
      (b.toLong, w.mkString(" ")) }.toDF("doc_id", "text")
    val (shIdentity, shReps) = graft.operators.TextOps.simhashCollapse(
      graft.operators.TextOps.simhashMd5Halves(shBase))
    val shIdxPath = tmp("graft_sb_sh_idx")
    shReps.write.mode("overwrite").parquet(shIdxPath)
    val shB = graft.operators.TextOps.simhashAutoPlan(shReps, 64)
    graft.sources.Markers.write(spark, shIdxPath, "_graft_simhash_b",
      shB.toString)
    val (shKeyed, shBLoaded) =
      graft.operators.TextOps.simhashIntakeIndex(spark, shIdxPath)
    val shRows: Seq[(Long, String)] = (0 until 2000).map { i =>
      val id = 60000L + i
      if (i % 8 == 0) (id, baseTexts((i / 8) % 64).mkString(" "))
      else (id, words(120, 800000 + i).map("s" + _).mkString(" "))
    }
    runLeg[(Long, String)]("simhash_intake", shRows,
      df => graft.streaming.Streams.simhashIntake(shKeyed, shBLoaded, df),
      ds => ds.toDF("doc_id", "text"))

    // ---- ADVERSARIAL streaming sweep (r13 item 7): the batch
    // adversarial artifact's planted pathology — a 1000-doc
    // IDENTICAL-TEXT boilerplate cluster — pushed through the intake
    // legs as ONE hostile arrival wave. The stream-static joins are
    // new-vs-base by construction, so the output must be O(k) flags
    // (one per arrival), never the within-batch O(k²) clique; the
    // `checks` map in the artifact records the verified post-conditions
    // next to the throughput numbers.
    val checks = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
    val bpText = (0 until 45).map(i => s"bp$i").mkString(" ")
    val megaRows: Seq[(Long, String)] =
      (0 until 1000).map(i => (500000000L + i, bpText))

    // 12. the mega-batch through the MinHash near-dup intake: base
    // holds ONE doc with the boilerplate text, so exactly 1000 flags
    val advBase = (shBase.collect().map(r =>
        (r.getLong(0), r.getString(1))).toSeq :+ ((999L, bpText)))
      .toDF("doc_id", "text")
    val advStaged = graft.operators.TextOps.stageDocs(advBase)
      .localCheckpoint(true)
    val advOut = tmp("graft_sb_nd_adv_out")
    runSinkLeg[(Long, String)]("neardup_intake_adversarial", megaRows,
      df => graft.streaming.Streams.nearDupIntake(advStaged, df)
        .writeStream.format("parquet").option("path", advOut)
        .option("checkpointLocation", tmp("graft_sb_nd_adv_cp"))
        .outputMode("append").start(),
      ds => ds.toDF("doc_id", "text"))
    checks("neardup_adv_flags_linear") =
      spark.read.parquet(advOut).count() == 1000L

    // 13. the mega-batch through the SimHash intake: every arrival
    // signs to the SAME signature and flags its one rep at Hamming 0
    val (advIdentity2, advReps) = graft.operators.TextOps.simhashCollapse(
      graft.operators.TextOps.simhashMd5Halves(advBase))
    val advIdxPath = tmp("graft_sb_sh_adv_idx")
    advReps.write.mode("overwrite").parquet(advIdxPath)
    val advB = graft.operators.TextOps.simhashAutoPlan(advReps, 65)
    graft.sources.Markers.write(spark, advIdxPath, "_graft_simhash_b",
      advB.toString)
    val (advKeyed, advBLoaded) =
      graft.operators.TextOps.simhashIntakeIndex(spark, advIdxPath)
    val advShOut = tmp("graft_sb_sh_adv_out")
    runSinkLeg[(Long, String)]("simhash_intake_adversarial", megaRows,
      df => graft.streaming.Streams.simhashIntake(advKeyed, advBLoaded, df)
        .writeStream.format("parquet").option("path", advShOut)
        .option("checkpointLocation", tmp("graft_sb_sh_adv_cp"))
        .outputMode("append").start(),
      ds => ds.toDF("doc_id", "text"))
    val advShFlags = spark.read.parquet(advShOut)
    checks("simhash_adv_flags_linear") = advShFlags.count() == 1000L &&
      advShFlags.filter(col("dup_of") === 999L && col("hamming") === 0)
        .count() == 1000L

    // 14. the mega-batch through the SimHash LABEL sink: per-batch
    // probe + dup-set-sized extension + versioned publish under the
    // hostile wave; the check pins the final map's exactly-once shape
    // (every arrival labeled to the boilerplate component's min id)
    val advLabelsRoot = tmp("graft_sb_sh_adv_labels")
    Versions.publish(spark, advLabelsRoot, "base")(Pq.write(
      graft.operators.Components.labelComponents(advIdentity2), _))
    runSinkLeg[(Long, String)]("simhash_labels_adversarial", megaRows,
      df => graft.streaming.Streams.simhashLabelsSink(advKeyed,
        advBLoaded, advLabelsRoot, df, tmp("graft_sb_sh_adv_lcp"),
        retainVersions = 2),
      ds => ds.toDF("doc_id", "text"))
    val advLabels = Pq.read(spark, Versions.current(spark, advLabelsRoot))
    checks("simhash_adv_labels_exactly_once") =
      advLabels.filter(col("node_id") >= 500000000L).count() == 1000L &&
        advLabels.filter(col("node_id") >= 500000000L)
          .filter(col("cluster_id") =!= 999L).count() == 0L

    // 15. edit-distance intake against the published segment index
    // (r14): row-local head keying + multi-match-aware probe substring
    // enumeration + EditFirstMatch emit-once; 1/8 of arrivals share a
    // base doc's exact 30-char head (dist 0 flags)
    val editIdxPath = tmp("graft_sb_edit_idx")
    graft.operators.TextOps.editBuildRows(
        graft.operators.TextOps.editKeyedHeads(
          shBase.withColumn("lang", lit("en")), 30), 3)
      .select(col("doc_id"), col("lang"), col("head"), col("len"),
        col("kseg.idx").as("idx"), col("kseg.seg").as("seg"))
      .write.mode("overwrite").parquet(editIdxPath)
    val editStaged = graft.operators.TextOps.editIntakeIndex(spark,
      editIdxPath)
    val editRows: Seq[(Long, String)] = (0 until 2000).map { i =>
      val id = 70000L + i
      if (i % 8 == 0) (id, baseTexts((i / 8) % 64).mkString(" "))
      else (id, words(120, 900000 + i).map("e" + _).mkString(" "))
    }
    runLeg[(Long, String)]("edit_intake", editRows,
      df => graft.streaming.Streams.editIntake(editStaged,
        df.withColumn("lang", lit("en"))),
      ds => ds.toDF("doc_id", "text"))

    // 16. the adversarial wave through the edit intake: 1000 arrivals
    // sharing ONE base head exactly — O(k) flags via emit-once
    val advEditIdx = tmp("graft_sb_edit_adv_idx")
    graft.operators.TextOps.editBuildRows(
        graft.operators.TextOps.editKeyedHeads(
          advBase.withColumn("lang", lit("en")), 30), 3)
      .select(col("doc_id"), col("lang"), col("head"), col("len"),
        col("kseg.idx").as("idx"), col("kseg.seg").as("seg"))
      .write.mode("overwrite").parquet(advEditIdx)
    val advEditStaged = graft.operators.TextOps.editIntakeIndex(spark,
      advEditIdx)
    val advEditOut = tmp("graft_sb_edit_adv_out")
    runSinkLeg[(Long, String)]("edit_intake_adversarial", megaRows,
      df => graft.streaming.Streams.editIntake(advEditStaged,
          df.withColumn("lang", lit("en")))
        .writeStream.format("parquet").option("path", advEditOut)
        .option("checkpointLocation", tmp("graft_sb_edit_adv_cp"))
        .outputMode("append").start(),
      ds => ds.toDF("doc_id", "text"))
    val advEditFlags = spark.read.parquet(advEditOut)
    checks("edit_adv_flags_linear") = advEditFlags.count() == 1000L &&
      advEditFlags.filter(col("dup_of") === 999L && col("dist") === 0)
        .count() == 1000L

    // 17-20. streaming RE-CRAWL COMPACTION, one leg per near-dup family
    // (the nightly repair loop as a continuously-maintained artifact):
    // seed a root over a base corpus, then stream re-crawl waves
    // through the family's compaction sink. Every 4th re-crawl becomes
    // an EXACT copy of the base doc `copy` ids later (a fresh pair the
    // wave must verify and label), the rest turn unrelated (stale-state
    // retirement); the check pins both outcomes. The rate prices retire
    // + bloom-pruned probe + relabel + publish per micro-batch.
    def compactLeg[T: org.apache.spark.sql.Encoder](leg: String,
        check: String, tag: String, f: graft.operators.Lifecycle.Family,
        base: DataFrame, rows: Seq[T], copy: Long, payload: T => Long,
        cols: String*): Unit = {
      val root = tmp(s"graft_sb_${tag}_root")
      f.seed(spark, base, root, true)
      runSinkLeg[T](leg, rows,
        df => graft.streaming.Streams.compactSink(f, root, df,
          tmp(s"graft_sb_${tag}_cp"), retainVersions = 2),
        ds => ds.toDF(cols: _*), Some((root, payload)))
      val labels = spark.read.parquet(Versions.current(spark, root) + "/labels")
      // every copy re-crawl pairs (i, copy + i) into a min-i component;
      // every unrelated re-crawl stays a singleton (absent from labels)
      checks(check) =
        labels.filter(col("node_id") >= copy &&
          col("node_id") < copy + rows.size &&
          col("cluster_id") === col("node_id") - copy)
          .count() == rows.size / 4 &&
          labels.filter(col("node_id") < rows.size.toLong &&
            col("node_id") % 4 =!= 0).count() == 0L
    }
    def text(n: Int, seed: Int): String = words(n, seed).mkString(" ")
    def fresh(n: Int, seed: Int): String =
      words(n, seed).map("x" + _).mkString(" ")

    compactLeg[(Long, String)]("dedup_compact_sink",
      "compact_sink_repairs_exact", "compact", graft.operators.Lifecycle.minhash,
      (0 until 1500).map(i => (i.toLong, text(60, 300000 + i)))
        .toDF("doc_id", "text"),
      (0 until 500).map(i => (i.toLong,
        if (i % 4 == 0) text(60, 300000 + 1000 + i) else fresh(60, 400000 + i))),
      1000, r => textBytes(r._2), "doc_id", "text")

    compactLeg[(Long, String)]("simhash_compact_sink",
      "simhash_compact_repairs_exact", "simhash",
      graft.operators.Lifecycle.simhash,
      (0 until 1500).map(i => (i.toLong, text(60, 500000 + i)))
        .toDF("doc_id", "text"),
      (0 until 400).map(i => (i.toLong,
        if (i % 4 == 0) text(60, 500000 + 1000 + i) else fresh(60, 600000 + i))),
      1000, r => textBytes(r._2), "doc_id", "text")

    // heads of distinct random words sit far above edit distance 3 —
    // only the copy waves pair
    compactLeg[(Long, String, String)]("edit_compact_sink",
      "edit_compact_repairs_exact", "editc", graft.operators.Lifecycle.edit,
      (0 until 1200).map(i => (i.toLong, "en", text(8, 700000 + i)))
        .toDF("doc_id", "lang", "text"),
      (0 until 300).map(i => (i.toLong, "en",
        if (i % 4 == 0) text(8, 700000 + 600 + i) else fresh(8, 800000 + i))),
      600, r => textBytes(r._3) + r._2.length, "doc_id", "lang", "text")

    // random 64-dim directions sit far below the 0.8 cosine threshold —
    // only the copy waves pair. Bit-mixed, not a shifted sawtooth: two
    // ramp sequences offset by a small circular shift would correlate
    // near 1 and fabricate cross-base pairs
    def dvec(seed: Int): Seq[Float] = (0 until 64).map { j =>
      val h = seed.toLong * 2654435761L + j.toLong * 0x9E3779B97F4A7C15L
      (((h ^ (h >>> 31)) % 1000).abs / 1000.0f) - 0.5f
    }
    compactLeg[(Long, Seq[Float])]("embed_compact_sink",
      "embed_compact_repairs_exact", "embedc",
      graft.operators.Lifecycle.embedding,
      (0 until 1200).map(i => (i.toLong, dvec(i))).toDF("vec_id", "embedding"),
      (0 until 300).map(i => (i.toLong,
        if (i % 4 == 0) dvec(600 + i) else dvec(900000 + i))),
      600, r => 8L + 4L * r._2.size, "vec_id", "embedding")

    // Serialize the artifact maps only AFTER the last leg has appended
    // to `results` — building them earlier silently drops late legs
    // from the published JSON (the r14 artifact bug).
    val legs = results.map { case (k, (_, rps)) =>
      "\"" + k + "\":" + f"$rps%.1f"
    }.mkString("{", ",", "}")
    val sizes = results.map { case (k, (n, _)) =>
      "\"" + k + "\":" + n
    }.mkString("{", ",", "}")
    val checksJson = checks.map { case (k, v) =>
      "\"" + k + "\":" + v
    }.mkString("{", ",", "}")
    val ampJson = publishAmp.map { case (k, a) =>
      "\"" + k + "\":" + f"$a%.2f"
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"stream_rows_per_sec","legs":$legs,"rows":$sizes,"published_per_payload_byte":$ampJson,"batches_per_leg":4,"checks":$checksJson,"anchor":{"overhead_sec":$anchorSecs,"cpu_sec":$cpuSecs,"mem_sec":$memSecs},"cpus":"$cpus"}"""
    println(line)
    try {
      val outPath = sys.env.getOrElse("SPARK_GRAFT_STREAM_BENCH_OUT",
        java.nio.file.Files.createTempFile("graft_stream_bench_", ".json")
          .toString)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outPath), line + "\n")
      System.err.println(s"[stream-bench] written to $outPath")
    } catch { case e: Exception =>
      System.err.println(s"[stream-bench] could not write file: $e")
    }
    spark.stop()
  }
}
