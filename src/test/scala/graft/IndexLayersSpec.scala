package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{BandedJoins, Components, IndexLayers, Lifecycle,
  TextOps, Vectors}
import graft.sources.Markers
import graft.streaming.Streams

/** A compaction root publishes each wave as an index delta under a
  * manifest: the effective index (every layer's rows that no later
  * layer retires) must equal the in-memory `retained ∪ added` after
  * every wave, through folds, version retirement and a wave that fails
  * between its delta write and its flip, and the labels must equal a
  * full recompute. */
class IndexLayersSpec extends SparkTestBase {

  private def tmp(tag: String): String =
    Files.createTempDirectory(tag).toString

  private def words(n: Int, seed: Int, tag: String = "w"): String =
    (0 until n).map(i => s"$tag${(i * 31 + seed * 7919) % 100000}")
      .mkString(" ")

  private def current(root: String): String =
    Markers.read(spark, root, TextOps.dedupCurrentMarker)

  /** Rows as sorted strings over name-sorted columns: a multiset. */
  private def bag(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col): _*).collect().map(_.toString)
      .toSeq.sorted

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** One family's compaction root over its lifecycle value `f`: its
    * sink, the wave's added rows for a batch on the served version, and
    * — spec-side only — its full recompute and, where a fixture needs
    * one, a seed with other settings. */
  private final case class Family(f: Lifecycle.Family,
      fullLabels: (String, DataFrame) => Set[(Long, Long)],
      seedWith: Option[(DataFrame, String) => Unit] = None) {
    def name: String = f.name
    def indexName: String = f.indexName
    def key: String = f.id
    def seed(corpus: DataFrame, root: String): Unit =
      seedWith.fold(f.seed(spark, corpus, root, true))(_(corpus, root))
    def sink(root: String, df: DataFrame, cp: String): StreamingQuery =
      Streams.compactSink(f, root, df, cp, retainVersions = 2)
    def added(root: String, batch: DataFrame): DataFrame =
      f.wave(spark, root, batch).added
  }

  private val minhash = Family(Lifecycle.minhash,
    (_, corpus) => pairSet(Components.labelComponents(
      TextOps.minhashPairs(corpus).select(col("id_a"), col("id_b")))))

  private val simhash = Family(Lifecycle.simhash,
    { (root, corpus) =>
      val b = Markers.read(spark, root, "_graft_simhash_b").toInt
      val (identity, reps) =
        TextOps.simhashCollapse(TextOps.simhashMd5Halves(corpus))
      pairSet(Components.labelComponents(identity.unionByName(
        TextOps.simhashSigPairs(reps, b).select(col("doc_id_a").as("id_a"),
          col("doc_id_b").as("id_b")))))
    })

  private val edit = Family(Lifecycle.edit,
    (_, corpus) => pairSet(Components.labelComponents(
      TextOps.editDistancePairs(corpus, 30, 3)
        .select(col("doc_id_a").as("id_a"), col("doc_id_b").as("id_b")))),
    Some(TextOps.seedEditRoot(spark, _, _, shortsCap = 2)))

  private def unitVecs(df: DataFrame): DataFrame =
    df.select(col("vec_id"),
      graft.functions.VectorFunctions.unitv(col("embedding")).as("u"))

  private val embed = Family(Lifecycle.embedding,
    (_, corpus) => pairSet(Components.labelComponents(
      BandedJoins.selfPairs(Vectors.lshFamily,
        Vectors.stageVectors(unitVecs(corpus)), joinBack = true)
        .select(col("id_a"), col("id_b")))))

  /** A running sink over a directory stream: each wave lands as one
    * parquet file and runs as one micro-batch. */
  private final class Root(val f: Family, seedCorpus: DataFrame) {
    val root: String = tmp(s"graft_layers_${f.name}")
    private val input = tmp(s"graft_layers_${f.name}_in")
    f.seed(seedCorpus, root)
    var corpus: DataFrame = seedCorpus.localCheckpoint(true)
    private val query = f.sink(root,
      spark.readStream.schema(seedCorpus.schema)
        .option("maxFilesPerTrigger", 1).parquet(input),
      tmp(s"graft_layers_${f.name}_cp"))
    var folds = 0
    var maxDeltas = 0

    def indexPath: String = s"$root/${current(root)}/${f.indexName}"
    def effective(): DataFrame = IndexLayers.read(spark, indexPath)

    /** Runs `batch` as one wave and checks the served version. */
    def wave(batch: DataFrame): Unit = {
      val ids = batch.select(col(f.key))
      val expected = bag(effective().join(ids, Seq(f.key), "left_anti")
        .localCheckpoint(true)) ++ bag(f.added(root, batch))
      val before = current(root)
      batch.coalesce(1).write.mode("append").parquet(input)
      query.processAllAvailable()
      assert(current(root) != before, s"${f.name}: the wave never published")
      corpus = corpus.join(ids, Seq(f.key), "left_anti").unionByName(batch)
        .localCheckpoint(true)
      check(expected.sorted)
    }

    def check(expected: Seq[String]): Unit = {
      val layers = IndexLayers.layerPaths(spark, indexPath)
      if (layers.size == 1) folds += 1
      maxDeltas = math.max(maxDeltas, layers.size - 1)
      withClue(s"${f.name} at ${current(root)} over ${layers.size} layers: ") {
        assert(bag(effective()) == expected)
        assert(pairSet(spark.read.parquet(s"$root/${current(root)}/labels")) ==
          f.fullLabels(root, corpus))
        // retention keeps every layer a surviving manifest lists
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sessionState.newHadoopConf())
        fs.listStatus(new org.apache.hadoop.fs.Path(root))
          .filter(_.isDirectory).map(_.getPath.toString)
          .map(v => s"$v/${f.indexName}")
          .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p,
            IndexLayers.manifestMarker)))
          .foreach { p =>
            IndexLayers.layerPaths(spark, p).foreach { l =>
              assert(fs.exists(new org.apache.hadoop.fs.Path(l)),
                s"$p lists $l, which retirement deleted")
            }
          }
      }
    }

    def stop(): Unit = query.stop()
  }

  /** Runs `waves` on a fresh root of `f` and returns it stopped. */
  private def run(f: Family, seed: DataFrame, waves: Seq[DataFrame])(
      after: (Root, Int) => Unit = (_, _) => ()): Root = {
    val r = new Root(f, seed)
    try waves.zipWithIndex.foreach { case (w, i) => r.wave(w); after(r, i) }
    finally r.stop()
    assert(r.folds >= 2, s"${f.name}: ${r.folds} folds")
    assert(r.maxDeltas >= 2, s"${f.name}: at most ${r.maxDeltas} deltas")
    r
  }

  private def versionDirs(root: String): Set[String] =
    new java.io.File(root).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet

  test("minhash: a doc re-crawled in two layers, folds, retirement and " +
      "a wave that fails before its flip") {
    import spark.implicits._
    val seed = (1L to 12L).map(i => (i, words(60, i.toInt))).toDF("doc_id", "text")
    def doc(i: Long, t: String) = Seq((i, t)).toDF("doc_id", "text")
    val waves = Seq(
      // doc 5 becomes a copy of doc 6, then unrelated: two deltas
      doc(5L, words(60, 6)), doc(5L, words(60, 105, "u")),
      doc(7L, words(60, 8)), doc(9L, words(60, 109, "v")),
      doc(8L, words(60, 108, "x")), doc(13L, words(60, 2)),
      doc(2L, words(60, 102, "y")), doc(3L, words(60, 4)),
      doc(10L, words(60, 110, "z")), doc(11L, words(60, 12)),
      doc(6L, words(60, 106, "p")), doc(12L, words(60, 112, "q")),
      doc(1L, words(60, 101, "r")), doc(14L, words(60, 10)),
      doc(8L, words(60, 11)), doc(7L, words(60, 107, "s")))
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val r = run(minhash, seed, waves) { (r, i) =>
      seen += current(r.root)
      if (i == 1) {
        // the second re-crawl of doc 5 sits on top of the first
        val layers = IndexLayers.layerPaths(spark, r.indexPath)
        assert(layers.size == 3 && layers(1).contains(seen(0)), layers)
        assert(r.effective().filter(col("doc_id") === 5L).count() == 1L)
      }
    }
    // retirement deleted the unpinned versions, not only kept them
    assert(seen.count(v => !versionDirs(r.root)(v)) > 0)

    // a wave that throws after its delta write, before the flip
    val served = current(r.root)
    val before = bag(r.effective())
    // a new doc 15 copying doc 4, which doc 3's re-crawl also copies
    val batch = doc(15L, words(60, 4))
    val w = TextOps.compactWaveState(spark, r.root, batch)
    var deltaWritten = false
    val failed = scala.util.Try(Lifecycle.publishWaveState(spark, r.root,
      "crashed", "staged", w, Some(batch.select("doc_id")), 2,
      { p => BandedJoins.writeHotSet(spark, p, TextOps.minhashFamily)
        deltaWritten = new java.io.File(s"${r.root}/crashed/staged/" +
          IndexLayers.manifestMarker).exists()
        throw new IllegalStateException("sidecar failed") }))
    assert(failed.failed.get.getMessage == "sidecar failed")
    assert(deltaWritten, "the delta was not written")
    // the failed version's directory is gone with its orphaned delta
    assert(!versionDirs(r.root)("crashed"))
    assert(current(r.root) == served)
    assert(bag(r.effective()) == before)
    // the replay of that wave, and the next wave, publish correctly
    val w2 = TextOps.compactWaveState(spark, r.root, batch)
    val expected = (bag(r.effective().filter(col("doc_id") =!= 15L)) ++
      bag(w2.added)).sorted
    Lifecycle.publishWaveState(spark, r.root, "crashed", "staged", w2,
      Some(batch.select("doc_id")), 2,
      BandedJoins.writeHotSet(spark, _, TextOps.minhashFamily))
    assert(current(r.root) == "crashed")
    r.corpus = r.corpus.filter(col("doc_id") =!= 15L).unionByName(batch)
      .localCheckpoint(true)
    r.check(expected)
    assert(pairSet(spark.read.parquet(s"${r.root}/crashed/labels"))
      .contains((15L, 3L)), "doc 15 joins docs 3 and 4")
  }

  test("simhash: waves through folds equal retained ∪ added") {
    import spark.implicits._
    val seed = (1L to 12L).map(i => (i, words(40, i.toInt))).toDF("doc_id", "text")
    def doc(i: Long, t: String) = Seq((i, t)).toDF("doc_id", "text")
    run(simhash, seed, Seq(
      doc(5L, words(40, 6)), doc(5L, words(40, 105, "u")),
      doc(7L, words(40, 8)), doc(9L, words(40, 109, "v")),
      doc(13L, words(40, 2)), doc(2L, words(40, 102, "y")),
      doc(3L, words(40, 4)), doc(10L, words(40, 110, "z"))))()
  }

  test("edit: a re-elected shorts row survives an unrelated wave and " +
      "retires with its document") {
    import spark.implicits._
    // four short heads in one lang, past the shorts cap of 2: the seed
    // keeps doc 1's shorts row alone
    val shorts = Seq((1L, "aa"), (2L, "ab"), (3L, "ba"), (4L, "bb"))
    val longs = (10L to 17L).map(i => (i, words(6, i.toInt)))
    val seed = (shorts ++ longs).map { case (i, t) => (i, "en", t) }
      .toDF("doc_id", "lang", "text")
    def doc(i: Long, t: String) = Seq((i, "en", t)).toDF("doc_id", "lang", "text")
    def shortsRows(r: Root): Set[Long] = r.effective()
      .filter(col("idx") === -1).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val r = run(edit, seed, Seq(
      doc(1L, words(6, 101, "u")), doc(12L, words(6, 10) + "q"),
      doc(2L, words(6, 102, "v")), doc(13L, words(6, 103, "x")),
      doc(14L, words(6, 11)), doc(15L, words(6, 105, "y")),
      doc(16L, words(6, 10)), doc(17L, words(6, 107, "z")))) { (r, i) =>
      i match {
        case 0 => assert(shortsRows(r) == Set(2L), "doc 2 re-elected")
        case 1 => assert(shortsRows(r) == Set(2L),
          "the re-elected row survives an unrelated wave")
        case 2 => assert(shortsRows(r) == Set(3L),
          "retired with doc 2, re-elected on doc 3")
        case _ => ()
      }
    }
    assert(r.folds >= 2)
  }

  test("embedding: waves through folds equal retained ∪ added") {
    import spark.implicits._
    def vec(seed: Int): Seq[Float] = (0 until 64).map { j =>
      val h = seed.toLong * 2654435761L + j.toLong * 0x9E3779B97F4A7C15L
      (((h ^ (h >>> 31)) % 1000).abs / 1000.0f) - 0.5f
    }
    val seed = (1L to 12L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
    def v(i: Long, s: Int) = Seq((i, vec(s))).toDF("vec_id", "embedding")
    run(embed, seed, Seq(v(5L, 6), v(5L, 105), v(7L, 8), v(9L, 109),
      v(13L, 2), v(2L, 102), v(3L, 4), v(10L, 110), v(11L, 111),
      v(12L, 3), v(1L, 101), v(6L, 5), v(4L, 104), v(8L, 108),
      v(14L, 9), v(11L, 1)))()
  }
}
