package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Components, Lifecycle, TextOps}
import graft.sources.Pq
import graft.streaming.Streams

/** One lifecycle per near-dup family: a batch compaction query is one
  * wave of the family's streaming sink applied to a seeded root, and a
  * root's published statistics describe the version they sit in. */
class LifecycleSpec extends SparkTestBase {

  private def tmp(tag: String): String =
    Files.createTempDirectory(tag).toString

  /** Lands `wave` as one parquet file under `dir` and runs `sink` over
    * the directory's stream until idle: one micro-batch per wave. */
  private def drain(sink: DataFrame => StreamingQuery, wave: DataFrame,
      dir: String): Unit = {
    wave.coalesce(1).write.mode("append").parquet(dir)
    val q = sink(spark.readStream.schema(wave.schema).parquet(dir))
    try q.processAllAvailable() finally q.stop()
  }

  private def served(root: String, name: String): DataFrame =
    Pq.read(spark, s"${graft.sources.Versions.current(spark, root)}/$name")

  /** One family's lifecycle value and — spec-side only — the columns
    * its streamed re-crawl waves carry. */
  private case class Family(f: Lifecycle.Family, cols: Seq[String]) {
    def name: String = f.name
    def corpus: DataFrame = f.corpus(spark, sfDir)
    def recrawl: DataFrame =
      corpus.filter(Lifecycle.isRecrawl(f.id)).select(cols.map(col): _*)
  }

  test("each family's batch compaction equals its compaction sink's " +
      "labels over the same stale seed and re-crawl set") {
    val families = Seq(
      Family(Lifecycle.minhash, Seq("doc_id", "text")),
      Family(Lifecycle.simhash, Seq("doc_id", "text")),
      Family(Lifecycle.edit, Seq("doc_id", "lang", "text")),
      Family(Lifecycle.embedding, Seq("vec_id", "embedding")))
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    families.foreach { fam =>
      val f = fam.f
      withClue(s"${f.name}: ") {
        assert(fam.recrawl.count() > 0, "vacuous re-crawl set")
        val root = tmp(s"graft_lifecycle_${f.name}")
        f.seed(spark, f.stale(fam.corpus), root, true)
        val input = tmp(s"graft_lifecycle_${f.name}_in")
        drain(Streams.compactSink(f, root, _,
            tmp(s"graft_lifecycle_${f.name}_cp")), fam.recrawl, input)
        assert(graft.sources.Markers.read(spark, root,
          TextOps.dedupCurrentMarker) != "seed", "the wave never published")
        val streamed = Components.flagCorpus(fam.corpus.select(f.id),
          f.id, served(root, "labels"))
        assert(rows(streamed) ==
          rows(Lifecycle.compact(f)(spark, sfDir)))
      }
    }
  }

  test("the edit shorts gate reads the served version's count: a wave " +
      "that adds short heads arms the next wave's repair branches") {
    import spark.implicits._
    // the seed holds no head of length <= d = 3, so its count marker
    // reads zero. Wave 1 adds 70 short heads in one lang — past the
    // shorts cap (64), so its fresh build rows keep ONE shorts-keyed
    // row (doc 1, the cell min) and its pairs are a star on doc 1.
    // Wave 2 re-crawls that min away and doc 3, a cell partner, into a
    // length-5 head within d of member 5 ("aa") but not of the new min
    // doc 2 ("qqq"): only the re-election (stars on doc 2) and the
    // (d, 2d] sliver (doc 3 to the cell) keep the cell together, and a
    // gate that read the SEED's zero count would skip both.
    val seedDocs = Seq(
      (1000L, "en", "kilimanjaro base station alpha"),
      (1001L, "en", "zephyr quartz voltmeter jungle"))
      .toDF("doc_id", "lang", "text")
    val root = tmp("graft_edit_gate_root")
    TextOps.seedEditRoot(spark, seedDocs, root)
    def shortRows(): Long = TextOps.loadEditIndexStats(spark,
      s"${graft.sources.Versions.current(spark, root)}/index", 3).shortRows
    assert(shortRows() == 0L)
    val shorts = (1 to 70).map { i =>
      (i.toLong, "en",
        if (i == 2) "qqq" else if (i == 5) "aa"
        else ('b' + i % 20).toChar.toString * (1 + i % 3))
    }
    val wave2 = Seq((1L, "en", "nothing like the other documents"),
      (3L, "en", "aaaaa"))
    val input = tmp("graft_edit_gate_in")
    val cp = tmp("graft_edit_gate_cp")
    def wave(rows: Seq[(Long, String, String)]): Unit =
      drain(Streams.compactSink(Lifecycle.edit, root, _, cp),
        rows.toDF("doc_id", "lang", "text"), input)
    wave(shorts)
    assert(shortRows() > 0L, "wave 1 published no short-row count")
    val idx1 = graft.operators.IndexLayers.read(spark,
      s"${graft.sources.Versions.current(spark, root)}/index")
    assert(idx1.filter(col("idx") === -1).select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(1L),
      "fixture must star-reduce the wave's cell to doc 1's shorts row")
    wave(wave2)
    val corpus = seedDocs.unionByName(shorts.toDF("doc_id", "lang", "text")
      .join(wave2.toDF("doc_id", "lang", "text").select("doc_id"),
        Seq("doc_id"), "left_anti"))
      .unionByName(wave2.toDF("doc_id", "lang", "text"))
    def flags(labels: DataFrame) =
      Components.flagCorpus(corpus, "doc_id", labels).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val full = flags(Components.labelComponents(
      TextOps.editDistancePairs(corpus, 30, 3)
        .select(col("doc_id_a").as("id_a"), col("doc_id_b").as("id_b"))))
    assert(flags(served(root, "labels")) == full)
    // non-vacuity: the cell survives as one component, doc 3 included
    val m = full.map(t => t._1 -> t._2).toMap
    assert((2L to 70L).forall(m(_) == 2L), full.toString)
    assert(m(1L) == 1L)
  }

  test("a simhash wave publishes its cross pairs: the next wave keeps " +
      "a new doc's near (not identical) partner in the seed") {
    import spark.implicits._
    def words(n: Int, seed: Int): Seq[String] =
      (0 until n).map(i => s"w${(i * 31 + seed * 7919) % 100000}")
    val t1 = words(80, 71).mkString(" ")
    // the first one-token extension of t1 whose signature sits at
    // Hamming distance 1..3: a cross pair, not an identity star
    val sig = TextOps.simhashMd5Halves(
      ((0 until 64).map(k => (100L + k, s"$t1 extra$k")) :+ ((1L, t1)))
        .toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def hamming(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) +
        java.lang.Long.bitCount(a._2 ^ b._2)
    val k = (0 until 64).find { k =>
      val h = hamming(sig(100L + k), sig(1L)); h >= 1 && h <= 3
    }.getOrElse(fail("no near extension of the fixture text"))
    val t2 = words(80, 72).map("u" + _).mkString(" ")
    val t3 = words(80, 73).map("v" + _).mkString(" ")
    val root = tmp("graft_simhash_cross_root")
    TextOps.seedSimhashRoot(spark,
      Seq((1L, t1), (2L, t2), (3L, t3)).toDF("doc_id", "text"), root)
    val input = tmp("graft_simhash_cross_in")
    val cp = tmp("graft_simhash_cross_cp")
    def wave(rows: Seq[(Long, String)]): Unit =
      drain(Streams.compactSink(Lifecycle.simhash, root, _, cp),
        rows.toDF("doc_id", "text"), input)
    def labels(): Set[(Long, Long)] = served(root, "labels").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    wave(Seq((4L, s"$t1 extra$k")))
    assert(labels() == Set((1L, 1L), (4L, 1L)), labels().toString)
    // wave 2 touches neither doc: the published pair set alone must
    // carry the (1, 4) cross pair forward
    wave(Seq((3L, words(80, 74).map("x" + _).mkString(" "))))
    assert(labels() == Set((1L, 1L), (4L, 1L)), labels().toString)
  }
}
