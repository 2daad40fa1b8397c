package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{BandedJoins, TextOps}

/** Property tests (SURVEY §5 row 4): the text operators must never throw
  * and must keep their core invariants on adversarial inputs — empty
  * strings, single tokens, repeated whitespace, unicode, and empty
  * partitions — mirroring the reference's defensive empty/error handling
  * (/root/reference/src/coding_task_1.py:147-149, insights.md:89-99).
  */
class RobustnessSpec extends SparkTestBase {

  /** Deterministic ScalaCheck sampling (no scalatest bridge in the
    * offline cache): n samples from fixed seeds. */
  private def samples[T](gen: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)))

  private val token: Gen[String] = Gen.oneOf(
    Gen.alphaLowerStr.map(_.take(8)),
    Gen.oneOf("the", "a", "und", "le", "データ", "наука", "☃", ""),
    Gen.choose(0, 9).map(_.toString))

  private val textGen: Gen[String] = for {
    n <- Gen.choose(0, 12)
    ts <- Gen.listOfN(n, token)
    sep <- Gen.oneOf(" ", "  ", " \t ")
  } yield ts.mkString(sep)

  private def docsOf(texts: Seq[String]) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .repartition(7) // force empty partitions for small inputs
  }

  test("text operators never throw on adversarial corpora") {
    samples(Gen.listOfN(6, textGen), 8).foreach { texts =>
      val docs = docsOf(texts)
      val n = texts.length
      assert(TextOps.dedupExact(docs).count() <= n)
      assert(TextOps.textStats(docs).count() == n)
      assert(TextOps.langId(docs).count() == n)
      assert(TextOps.fingerprint(docs).count() == n)
      assert(TextOps.tokenCount(docs).count() == n)
      assert(TextOps.simhash(docs).count() <= n) // groupBy over tokens
      // pair queries: no self-pairs, ids ordered
      TextOps.jaccardPairs(docs).collect().foreach { r =>
        assert(r.getLong(0) < r.getLong(1))
      }
      TextOps.dedupMinhash(docs).collect().foreach { r =>
        assert(r.getLong(0) < r.getLong(1))
      }
    }
  }

  test("tokenCount yields NULL chars_per_token on token-free documents") {
    // empty and whitespace-only docs have 0 BPE tokens: under ANSI mode
    // a plain division would throw DIVIDE_BY_ZERO; the operator must
    // return NULL (the DuckDB oracle's division semantics) instead
    val rows = TextOps.tokenCount(docsOf(Seq("", "   ", "hello world")))
      .collect().sortBy(_.getLong(0))
    assert(rows.length == 3)
    assert(rows(0).isNullAt(3) && rows(1).isNullAt(3))
    assert(!rows(2).isNullAt(3))
  }

  test("vector operators tolerate zero-norm vectors") {
    import spark.implicits._
    val u = Seq(
      (0L, Seq.fill(64)(0.0)),                       // zero vector
      (1L, Seq.tabulate(64)(j => math.sin(j + 1.0))),
      (2L, Seq.tabulate(64)(j => math.sin(j + 1.0)))) // dup of 1
      .toDF("vec_id", "v")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.unitv(col("v")).as("u"))
    // zero vector normalizes to NULL and silently drops from the pairs
    assert(u.filter(col("u").isNull).count() == 1)
    val pairs = graft.operators.Vectors.dedupLsh(u).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("identical documents always pair at jaccard 1.0") {
    samples(textGen.suchThat(_.trim.nonEmpty), 8).foreach { t =>
      val docs = docsOf(Seq(t, t))
      val pairs = TextOps.jaccardPairs(docs).collect()
      assert(pairs.length == 1 && pairs.head.getDouble(2) == 1.0)
      val cand = TextOps.dedupMinhash(docs).collect()
      assert(cand.length == 1 && cand.head.getDouble(2) == 1.0)
    }
  }

  test("dedupExact partitions the corpus regardless of input shape") {
    samples(Gen.listOfN(10, textGen), 8).foreach { texts =>
      val out = TextOps.dedupExact(docsOf(texts)).collect()
      assert(out.map(_.getLong(1)).sum == texts.length)
    }
  }

  test("empty corpus yields empty results, not errors") {
    val empty = docsOf(Seq.empty)
    assert(TextOps.dedupExact(empty).count() == 0)
    assert(TextOps.jaccardPairs(empty).count() == 0)
    assert(TextOps.dedupMinhash(empty).count() == 0)
    assert(TextOps.dedupClusters(empty).count() == 0)
    assert(TextOps.textStats(empty).count() == 0)
    assert(TextOps.simhash(empty).count() == 0)
    assert(TextOps.fingerprint(empty).count() == 0)
    // both verify layouts and the plan-time chooser share the contract
    assert(!TextOps.chooseJoinBack(empty))
    assert(TextOps.minhashPairsCarried(empty).count() == 0)
    assert(TextOps.minhashPairsJoinBack(empty).count() == 0)
    assert(TextOps.dupSpans(empty).count() == 0)
  }

  test("compaction degrades gracefully on empty inputs") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma delta"),
      (2L, "epsilon zeta eta theta")).toDF("doc_id", "text")
    val staged = TextOps.stageDocs(docs).localCheckpoint(true)
    val pairs = BandedJoins.selfPairs(TextOps.minhashFamily, staged,
      joinBack = false).localCheckpoint(true)
    val noneRecrawled = docs.filter(org.apache.spark.sql.functions
      .col("doc_id") < 0)
    // empty re-crawl set: compaction is a no-op relabel of the base
    def compactFlags(recrawled: org.apache.spark.sql.DataFrame,
        corpus: org.apache.spark.sql.DataFrame) =
      graft.operators.Components.flagCorpus(corpus, "doc_id",
        graft.operators.Components.labelComponents(BandedJoins.compactState(
          TextOps.minhashFamily, staged, pairs, recrawled.select("doc_id"),
          TextOps.stageDocs(recrawled).localCheckpoint(true),
          joinBack = false, baseHot = None)._2))
    val out = compactFlags(noneRecrawled, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(out == Set((1L, 1L, true), (2L, 2L, true)))
    // every document re-crawled: the base contributes nothing and the
    // result is a full recompute of the new text
    val allNew = Seq((1L, "one two three four"),
      (2L, "one two three four")).toDF("doc_id", "text")
    val out2 = compactFlags(allNew, allNew).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(out2 == Set((1L, 1L, true), (2L, 1L, false)))
  }

  test("dup-span fractions are always within [0,1] on adversarial corpora") {
    samples(Gen.listOfN(6, textGen), 4).foreach { texts =>
      val docs = docsOf(texts)
      val rows = TextOps.dupSpans(docs).collect()
      assert(rows.length == texts.length)
      rows.foreach { r =>
        val frac = r.getDouble(3)
        assert(frac >= 0.0 && frac <= 1.0)
        assert(r.getLong(2) <= r.getLong(1))
      }
    }
  }

  test("embedClusters degrades to all-kept singletons on edge-case frames") {
    import spark.implicits._
    // empty frame
    val empty = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "u")
    assert(graft.operators.Vectors.embedClusters(empty).count() == 0)
    // a zero vector (null u after normalization) and two orthogonal
    // vectors: no pairs anywhere, every id must come back kept
    val u = Seq(
      (0L, Seq.fill(64)(0.0)),
      (1L, Seq.tabulate(64)(j => if (j == 0) 1.0 else 0.0)),
      (2L, Seq.tabulate(64)(j => if (j == 1) 1.0 else 0.0)))
      .toDF("vec_id", "v")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.unitv(col("v")).as("u"))
    val flags = graft.operators.Vectors.embedClusters(u).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(flags == Set((0L, 0L, true), (1L, 1L, true), (2L, 2L, true)))
  }

  test("transitiveClosure with no upper levels is just the leaf edges") {
    import spark.implicits._
    val leaf = Seq(("a", "p"), ("b", "q")).toDF("child", "parent")
    val upper = Seq.empty[(String, String)].toDF("child", "parent")
    val got = graft.operators.Joins.transitiveClosure(leaf, upper)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .toSet
    assert(got == Set(("a", "p", 1), ("b", "q", 1)))
  }

  test("transitiveClosure matches brute force on random forests") {
    import spark.implicits._
    // random functional forests: each upper node's parent has a
    // strictly smaller index (guaranteed DAG, varied depths up to ~12),
    // plus leaf rows pointing at random upper nodes
    val forestGen: Gen[(Seq[(String, String)], Seq[(String, String)])] =
      for {
        nUpper <- Gen.choose(2, 16)
        parents <- Gen.sequence[Seq[Option[Int]], Option[Int]](
          (1 until nUpper).map(i =>
            Gen.option(Gen.choose(0, i - 1))))
        nLeaf <- Gen.choose(0, 6)
        leafTo <- Gen.listOfN(nLeaf, Gen.choose(0, nUpper - 1))
      } yield {
        val upper = parents.zipWithIndex.collect {
          case (Some(p), i) => (s"u${i + 1}", s"u$p") }
        val leaf = leafTo.zipWithIndex.map { case (t, i) =>
          (s"leaf$i", s"u$t") }
        (leaf, upper)
      }
    samples(forestGen, 8).foreach { case (leaf, upper) =>
      val parent = (leaf ++ upper).toMap // functional: one parent each
      val want = parent.keys.flatMap { start =>
        Iterator.iterate(Option(start))(_.flatMap(parent.get))
          .drop(1).takeWhile(_.isDefined).zipWithIndex
          .map { case (anc, i) => (start, anc.get, i + 1) }
      }.toSet
      val got = graft.operators.Joins.transitiveClosure(
        leaf.toDF("child", "parent"), upper.toDF("child", "parent"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      assert(got == want, s"forest upper=$upper leaf=$leaf")
    }
  }

  test("labelComponents matches union-find on random pair graphs") {
    import spark.implicits._
    // b is derived from a non-zero offset rather than filtered (a
    // suchThat guard makes dense small-node samples fail generation
    // and silently drop — exactly the high-merge-pressure graphs this
    // oracle needs)
    val graphGen: Gen[Seq[(Long, Long)]] = for {
      nNodes <- Gen.choose(2, 24)
      nEdges <- Gen.choose(1, 30)
      edges <- Gen.listOfN(nEdges, for {
        a <- Gen.choose(0, nNodes - 1)
        d <- Gen.choose(1, nNodes - 1)
      } yield {
        val b = (a + d) % nNodes
        (math.min(a, b).toLong, math.max(a, b).toLong)
      })
    } yield edges.distinct
    val graphs = samples(graphGen, 8)
    assert(graphs.size == 8, "graph generation silently dropped samples")
    graphs.foreach { edges =>
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x
        else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) => parent(find(a)) = find(b) }
      val want = nodes.map(n => n -> find(n)).groupBy(_._2)
        .flatMap { case (_, ms) =>
          val ids = ms.map(_._1); val m = ids.min; ids.map(_ -> m) }
      // BOTH strategies must match the oracle: the default call takes
      // the r14 driver fast path at this scale; localMaxEdges = 0
      // forces the distributed alternation — pinning that the two are
      // bit-identical label maps, not merely both "valid" labelings
      val got = graft.operators.Components.labelComponents(
        edges.toDF("id_a", "id_b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"local path: edges=$edges")
      val gotDist = graft.operators.Components.labelComponentsCounted(
          edges.toDF("id_a", "id_b"), localMaxEdges = 0L)._1.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotDist == want, s"distributed path: edges=$edges")
    }
  }

  test("components: an eccentricity-40 drift chain with adversarial " +
      "id placement converges in <= 10 alternating rounds") {
    import spark.implicits._
    // r12 verdict item 2 — the bound the Kiveris large-star/small-star
    // rewrite buys: round count independent of WHERE ids sit on the
    // topology. A 41-node path whose min node sits at one END
    // (min-eccentricity 40), with the remaining ids interleaved so no
    // prefix of the chain is id-sorted, forced the old pointer jump
    // through ~40 neighbor-flow rounds; the star rewrite must collapse
    // it in O(log² n) — measured ≤ 7, pinned ≤ 10 (round counter
    // includes the fixed-point confirmation round).
    val ids: Seq[Long] = 0L +: (1 to 40).map(i =>
      if (i % 2 == 1) (41 - i / 2).toLong else (i / 2).toLong + 1L)
    assert(ids.distinct.size == 41 && ids.head == 0L)
    val chain = ids.sliding(2).map(p => (p(0), p(1))).toSeq
      .toDF("id_a", "id_b")
    // localMaxEdges = 0 forces the DISTRIBUTED alternation — this pin
    // measures the star rewrite's round count, which the r14 driver
    // fast path would otherwise bypass at fixture scale
    val (labels, rounds) =
      graft.operators.Components.labelComponentsCounted(chain,
        localMaxEdges = 0L)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 41 && got.forall(_._2 == 0L),
      s"chain not fully collapsed: ${got.filter(_._2 != 0L).mkString(",")}")
    assert(rounds <= 10,
      s"adversarial chain took $rounds rounds — id placement is " +
        "driving the round count again")
  }

  test("bench env: AQE partition size takes Spark byte sizes only and " +
      "lands escaped in the JSON line") {
    assert(Bench.byteSize("64k").contains("64k"))
    assert(Bench.byteSize(" 1m ").contains("1m"))
    assert(Bench.byteSize("1048576").contains("1048576"))
    Seq("", "0", "-1k", "64q", "lots", "64k\"}").foreach(v =>
      assert(Bench.byteSize(v).isEmpty, v))
    assert(Bench.jsonString("64k") == "\"64k\"")
    assert(Bench.jsonString("a\"b\\c\n") == "\"a\\\"b\\\\c\\u000a\"")
  }

  test("clustered point lookup on an absent key returns empty, not error") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_point_miss")
    try {
      import spark.implicits._
      val df = Seq((1L, "x"), (9L, "y")).toDF("k", "v")
      graft.operators.Relational.writePointLayout(df, "k",
        dir.toString, shards = 4)
      val hit = graft.operators.Relational
        .pointLookupClustered(spark, dir.toString, "k", 9L).collect()
      assert(hit.map(_.getLong(0)).toSeq == Seq(9L))
      val miss = graft.operators.Relational
        .pointLookupClustered(spark, dir.toString, "k", 7L).collect()
      assert(miss.isEmpty)
    } finally graft.sources.TempDirs.deleteTree(dir)
  }
}
