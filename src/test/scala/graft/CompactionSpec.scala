package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{BandedJoins, Components, Lifecycle, TextOps, Vectors}

/** Re-crawl compaction (r8 verdict item 3): retiring a re-crawled
  * document's stale index rows, dropping its published pairs,
  * re-pairing its NEW text, and relabeling must equal a full recompute
  * over the post-compaction corpus — including the case a label-map
  * extension alone can never repair: a re-crawled BRIDGE document
  * whose new text splits its old component.
  */
class CompactionSpec extends SparkTestBase {

  private def toks(n: Int, tag: String): IndexedSeq[String] =
    (0 until n).map(i => s"$tag$i")

  /** A, B, C where B_old bridges A and C (A~B_old~C near-dups at
    * J>=0.8 but A!~C), plus dissimilar fillers. */
  private val base = toks(50, "t")
  private val aText = (toks(3, "x") ++ base.drop(3)).mkString(" ")
  private val bOld  = base.mkString(" ")
  private val cText = (base.dropRight(3) ++ toks(3, "y")).mkString(" ")
  private val bNew  = toks(50, "z").mkString(" ")

  private def staleDocs = {
    import spark.implicits._
    Seq((1L, aText), (2L, bOld), (3L, cText),
      (10L, toks(40, "f").mkString(" ")),
      (11L, toks(40, "g").mkString(" "))).toDF("doc_id", "text")
  }

  /** One compaction wave through the MinHash frame-level core
    * ([[BandedJoins.compactState]]) in either verify layout, relabelled
    * and joined to `corpus` — what the declared compaction queries run
    * over a seeded root. */
  private def compactFlags(baseStaged: DataFrame, basePairs: DataFrame,
      recrawled: DataFrame, corpus: DataFrame,
      joinBack: Boolean): DataFrame =
    Components.flagCorpus(corpus, "doc_id", Components.labelComponents(
      BandedJoins.compactState(TextOps.minhashFamily, baseStaged, basePairs,
        recrawled.select(col("doc_id")),
        TextOps.stageDocs(recrawled).localCheckpoint(true),
        joinBack, baseHot = None)._2))

  private def trueDocs = {
    import spark.implicits._
    Seq((1L, aText), (2L, bNew), (3L, cText),
      (10L, toks(40, "f").mkString(" ")),
      (11L, toks(40, "g").mkString(" "))).toDF("doc_id", "text")
  }

  test("fixture sanity: B_old bridges A and C; B_new is unrelated") {
    val pairs = TextOps.jaccardPairs(staleDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (2L, 3L)), s"stale pairs: $pairs")
    assert(TextOps.jaccardPairs(trueDocs).collect().isEmpty)
  }

  test("compaction splits a component bridged by the re-crawled doc") {
    import spark.implicits._
    val baseStaged = TextOps.stageDocs(staleDocs).localCheckpoint(true)
    val basePairs = BandedJoins.selfPairs(TextOps.minhashFamily, baseStaged,
        joinBack = false)
      .localCheckpoint(true)
    val recrawled = Seq((2L, bNew)).toDF("doc_id", "text")
    val out = compactFlags(baseStaged, basePairs, recrawled, trueDocs,
        joinBack = false)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // full recompute over the true corpus: everything is a singleton
    Seq(1L, 2L, 3L, 10L, 11L).foreach { id =>
      assert(out(id) == ((id, true)), s"doc $id: ${out(id)}")
    }
    // and the naive label-map extension CANNOT produce this: the base
    // labels still chain A and C through the retired bridge
    val naive = Components.flagCorpus(trueDocs, "doc_id",
      Components.extendLabels(
        Components.labelComponents(basePairs.select(col("id_a"),
          col("id_b"))),
        spark.emptyDataFrame.select(lit(0L).as("id_a"),
          lit(0L).as("id_b")).limit(0))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(naive(3L) == 1L, "precondition: stale labels chain C to A")
  }

  test("compaction re-pairs a re-crawled doc against its new match") {
    import spark.implicits._
    // B's new text becomes a near-dup of filler 10 instead
    val bMatches10 = (Seq("q0", "q1", "q2") ++ toks(40, "f").drop(3))
      .mkString(" ")
    val recrawled = Seq((2L, bMatches10)).toDF("doc_id", "text")
    val newCorpus = Seq((1L, aText), (2L, bMatches10), (3L, cText),
      (10L, toks(40, "f").mkString(" ")),
      (11L, toks(40, "g").mkString(" "))).toDF("doc_id", "text")
    val baseStaged = TextOps.stageDocs(staleDocs).localCheckpoint(true)
    val basePairs = BandedJoins.selfPairs(TextOps.minhashFamily, baseStaged,
        joinBack = false)
      .localCheckpoint(true)
    val want = TextOps.dedupClusters(newCorpus).collect()
      .map(_.toSeq).toSeq
    // both verify layouts: carried, and the join-back the long-document
    // corpora (and the compaction benchmark) run
    Seq(false, true).foreach { joinBack =>
      val got = compactFlags(baseStaged, basePairs, recrawled, newCorpus,
        joinBack).collect().map(_.toSeq).toSeq
      assert(got == want, s"joinBack=$joinBack")
      // the new pairing actually exists (2 clusters with 10)
      val flags = got.map(s => s.head.asInstanceOf[Long] ->
        s(1).asInstanceOf[Long]).toMap
      assert(flags(10L) == 2L && flags(2L) == 2L, s"joinBack=$joinBack")
    }
  }

  test("embedding compaction splits a vector-bridged component") {
    import spark.implicits._
    def unit(v: Array[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n).toSeq
    }
    def basis(i: Int): Array[Double] =
      Array.tabulate(64)(j => if (j == i) 1.0 else 0.0)
    // A and C at cosine 0.7 (below the 0.8 near-dup threshold); the
    // stale bridge B_old = normalized midpoint, cosine ~0.92 with each
    val a = basis(0)
    val c = Array.tabulate(64)(j =>
      if (j == 0) 0.7 else if (j == 1) math.sqrt(0.51) else 0.0)
    val bOld = unit(a.zip(c).map { case (x, y) => x + y }).toArray
    val bNew = basis(20)
    val staleU = Seq((1L, unit(a)), (2L, bOld.toSeq), (3L, unit(c)),
      (10L, unit(basis(30)))).toDF("vec_id", "u")
    val trueU = Seq((1L, unit(a)), (2L, unit(bNew)), (3L, unit(c)),
      (10L, unit(basis(30)))).toDF("vec_id", "u")
    val baseStaged = Vectors.stageVectors(staleU).localCheckpoint(true)
    val basePairs = BandedJoins.selfPairs(Vectors.lshFamily, baseStaged,
        joinBack = true)
      .localCheckpoint(true)
    // fixture sanity: the stale graph is exactly the bridge
    assert(basePairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L), (2L, 3L)))
    val recrawled = trueU.filter(col("vec_id") === 2L)
    val out = Components.flagCorpus(trueU, "vec_id",
      Components.labelComponents(BandedJoins.compactState(Vectors.lshFamily,
        baseStaged, basePairs, recrawled.select(col("vec_id")),
        Vectors.stageVectors(recrawled).localCheckpoint(true),
        joinBack = true, None)._2))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    Seq(1L, 2L, 3L, 10L).foreach { id =>
      assert(out(id) == ((id, true)), s"vec $id: ${out(id)}")
    }
    // and it equals the full recompute on the true corpus
    val full = Vectors.embedClusters(trueU).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out == full)
  }

  test("declared q_dedup_embed_compact equals a full recompute") {
    val got = Lifecycle.compact(Lifecycle.embedding)(spark, sfDir).collect()
      .map(_.toSeq)
    val want = Vectors.qDedupEmbedClusters(spark, sfDir).collect()
      .map(_.toSeq)
    assert(got.sameElements(want))
  }

  test("nightly pipeline (new + re-crawled in one batch) equals full recompute") {
    import spark.implicits._
    // base state: doc 4 is MISSING (it is tonight's new doc) and doc 2
    // holds stale bridging text; tonight's crawl delivers both — doc 4
    // brand-new (near-dup of filler 10) and doc 2 re-crawled unrelated
    val staleBase = Seq((1L, aText), (2L, bOld), (3L, cText),
      (10L, toks(40, "f").mkString(" ")),
      (11L, toks(40, "g").mkString(" "))).toDF("doc_id", "text")
    val new4 = (Seq("n0", "n1") ++ toks(40, "f").drop(2)).mkString(" ")
    val crawl = Seq((2L, bNew), (4L, new4)).toDF("doc_id", "text")
    val trueCorpus = Seq((1L, aText), (2L, bNew), (3L, cText),
      (4L, new4),
      (10L, toks(40, "f").mkString(" ")),
      (11L, toks(40, "g").mkString(" "))).toDF("doc_id", "text")
    val baseStaged = TextOps.stageDocs(staleBase).localCheckpoint(true)
    val basePairs = BandedJoins.selfPairs(TextOps.minhashFamily, baseStaged,
        joinBack = false)
      .localCheckpoint(true)
    val got = compactFlags(baseStaged, basePairs, crawl, trueCorpus,
        joinBack = false)
      .collect().map(_.toSeq).toSeq
    val want = TextOps.dedupClusters(trueCorpus).collect()
      .map(_.toSeq).toSeq
    assert(got == want)
    // the result shows BOTH effects at once: the retired bridge split
    // {1,2,3} into singletons AND the new doc merged with filler 10
    val flags = got.map(s => s.head.asInstanceOf[Long] ->
      s(1).asInstanceOf[Long]).toMap
    assert(flags(1L) == 1L && flags(2L) == 2L && flags(3L) == 3L)
    assert(flags(4L) == 4L && flags(10L) == 4L)
  }

  test("declared q_pipeline_nightly equals the full recompute") {
    val got = TextOps.qPipelineNightly(spark, sfDir).collect()
      .map(_.toSeq)
    val want = TextOps.qDedupClusters(spark, sfDir).collect()
      .map(_.toSeq)
    assert(got.sameElements(want))
  }

  test("declared q_dedup_compact equals a full recompute on the corpus") {
    val got = Lifecycle.compact(Lifecycle.minhash)(spark, sfDir).collect().map(_.toSeq)
    val want = TextOps.qDedupClusters(spark, sfDir).collect().map(_.toSeq)
    assert(got.sameElements(want))
    // the fixture is non-trivial: the re-crawl subset is non-empty
    import spark.implicits._
    val n = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(Lifecycle.isRecrawl("doc_id")).count()
    assert(n > 0)
  }
}
