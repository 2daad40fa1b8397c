package graft

import graft.functions.{BpeEncode, BpeFunctions}
import graft.operators.Bpe
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Trained BPE subword tokenization: trainer vs the hand-traced
  * Sennrich example, kernel vs the built-in replace-chain formulation
  * (the DuckDB oracle's shape), the fixed-merge checked ride, and
  * robustness/plan pins.
  */
class BpeSpec extends SparkTestBase {
  import spark.implicits._

  // --- trainer ----------------------------------------------------------

  test("trainer reproduces the hand-traced Sennrich word-table example") {
    // Classic corpus {low:5, lower:2, newest:6, widest:3}. Pair counts,
    // total-ordered (count desc, pair asc):
    //   round 1: (e,s)=9 ties (s,t)=9 -> (e,s)
    //   round 2: (es,t)=9
    //   round 3: (l,o)=7 ties (o,w)=7 -> (l,o)
    //   round 4: (lo,w)=7
    //   round 5: at 6: (n,e),(e,w),(w,est) -> (e,w)
    val merges = Bpe.trainBpe(
      Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L),
      numMerges = 5)
    assert(merges === Seq("e" -> "s", "es" -> "t", "l" -> "o",
      "lo" -> "w", "e" -> "w"))
  }

  test("trainer stops when no pair occurs twice, and on empty input") {
    assert(Bpe.trainBpe(Seq("abc" -> 1L), numMerges = 10).isEmpty)
    assert(Bpe.trainBpe(Seq.empty, numMerges = 10).isEmpty)
    assert(Bpe.trainBpe(Seq("a" -> 100L), numMerges = 10).isEmpty)
  }

  test("the classic lowest encode: trained merges yield low + est") {
    val merges = Bpe.trainBpe(
      Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L),
      numMerges = 5)
    val out = Seq("lowest newest low")
      .toDF("text")
      .select(BpeFunctions.bpeEncode(col("text"), merges).as("enc"))
      .head().getString(0)
    // lowest: (e,s): l o w es t ; (es,t): l o w est ; (l,o): lo ;
    // (lo,w): low -> "low est". newest: n e w est, then (e,w): n ew est.
    assert(out === "low est n ew est low")
  }

  // --- kernel vs replace-chain parity (the oracle's shape) -------------

  test("kernel output equals the replace-chain formulation on the corpus") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val merges = Bpe.fitFor(spark, sfDir)
    assert(merges.nonEmpty)
    val diff = docs.select(
        BpeFunctions.bpeEncode(col("text"), merges).as("kernel"),
        Bpe.encodeViaReplace(col("text"), merges).as("chain"))
      .filter(col("kernel") =!= col("chain"))
    assert(diff.isEmpty, "kernel and replace-chain BPE must agree bitwise")
  }

  test("kernel/chain parity holds on the fixed checked merge list too") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val diff = docs.select(
        BpeFunctions.bpeEncode(col("text"), Bpe.checkedMerges).as("kernel"),
        Bpe.encodeViaReplace(col("text"), Bpe.checkedMerges).as("chain"))
      .filter(col("kernel") =!= col("chain"))
    assert(diff.isEmpty)
  }

  test("boundary safety: a rule never fires inside a fused symbol") {
    // After (t,h) and (th,e), the symbol "the" contains the byte pair
    // h+e — rule (h,e) must NOT fire inside it. And (e,r) must not
    // fire across symbols (xe, r).
    val merges = Seq("t" -> "h", "th" -> "e", "h" -> "e", "x" -> "e")
    val out = Seq("the hex xer")
      .toDF("text")
      .select(BpeFunctions.bpeEncode(col("text"), merges).as("enc"))
      .head().getString(0)
    // the -> "the"; hex: (h,e) -> he x; xer: (x,e) -> xe r (no (e,r) rule,
    // and "xe" + "r" stays split).
    assert(out === "the he x xe r")
    val chain = Seq("the hex xer").toDF("text")
      .select(Bpe.encodeViaReplace(col("text"), merges)).head().getString(0)
    assert(chain === out)
  }

  test("overlap runs merge left-to-right non-overlapping in both forms") {
    val merges = Seq("a" -> "a")
    val rows = Seq("aaaa aaa aa a", "aaaaa").toDF("text")
      .select(BpeFunctions.bpeEncode(col("text"), merges).as("k"),
        Bpe.encodeViaReplace(col("text"), merges).as("c"))
      .collect()
    assert(rows(0).getString(0) === "aa aa aa a aa a")
    assert(rows(1).getString(0) === "aa aa a")
    rows.foreach(r => assert(r.getString(0) === r.getString(1)))
  }

  // --- declared queries -------------------------------------------------

  test("q_bpe_checked: hand-pinned encodings and token accounting") {
    val out = Bpe.qBpeChecked(spark, sfDir).collect()
    assert(out.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    // whole-word rules fuse these corpus words to single tokens
    val fused = Set("the", "key", "scan", "table", "value", "query",
      "stream", "order", "hash")
    out.foreach { r =>
      val toks = r.getString(2).split(" ").filter(_.nonEmpty)
      assert(toks.length.toLong === r.getLong(1))
      val words = docs(r.getLong(0)).split(" ").filter(_.nonEmpty)
      // every fully-fused word contributes exactly one token
      val fusedIn = words.count(fused)
      assert(toks.count(fused) === fusedIn)
      // token count bounded by [n_words, n_chars]
      assert(r.getLong(1) >= words.length)
      assert(r.getLong(1) <= words.map(_.length).sum)
    }
  }

  test("q_bpe_encode: n_tokens between n_words and character count; " +
      "zero merges would mean pure character tokens") {
    val out = Bpe.qBpeEncode(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val nWords = r.getLong(1)
      val nTokens = r.getLong(2)
      val toks = r.getString(3).split(" ").filter(_.nonEmpty)
      assert(toks.length.toLong === nTokens)
      assert(nTokens >= nWords)
    }
    // trained merges genuinely compress vs character-level
    val charTokens = graft.sources.Tables.documents(spark, sfDir)
      .select(BpeFunctions.bpeEncode(col("text"), Seq.empty).as("enc"))
      .select(size(split(col("enc"), " ")).cast("long").as("n"))
      .agg(sum(col("n"))).head().getLong(0)
    val bpeTokens = out.map(_.getLong(2)).sum
    assert(bpeTokens < charTokens,
      s"trained BPE ($bpeTokens tokens) must compress vs chars ($charTokens)")
  }

  test("fit is corpus-deterministic and serves from the cache") {
    val a = Bpe.fitFor(spark, sfDir)
    val b = Bpe.fitFor(spark, sfDir)
    assert(a eq b) // same cached instance per (JVM, dir)
    assert(a === Bpe.trainBpe(
      graft.sources.Tables.documents(spark, sfDir)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w").asc)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq,
      numMerges = 160))
  }

  test("q_bpe_fertility: driver-side recount; fertility = tokens/words") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val enc = new BpeEncode(org.apache.spark.sql.catalyst.expressions
      .Literal("x"), Bpe.checkedMerges)
    def encode(t: String): String = enc.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(t)).toString
    val want = docs.groupBy(_._1).view.mapValues { ds =>
      val nw = ds.map(_._2.split(" ").count(_.nonEmpty).toLong).sum
      val nt = ds.map { case (_, t) =>
        val e = encode(t)
        if (e.isEmpty) 0L else e.split(" ").length.toLong
      }.sum
      (ds.length.toLong, nw, nt, nt.toDouble / nw.toDouble)
    }.toMap
    val got = Bpe.qBpeFertility(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))).toMap
    assert(got == want)
    assert(got.values.forall { case (_, _, _, f) => f >= 1.0 },
      "subword fertility below 1 means the encoder dropped tokens")
  }

  test("q_bpe_vocab: driver-side recount over the checked encodings") {
    val vocab = Bpe.qBpeVocab(spark, sfDir).collect()
    assert(vocab.nonEmpty && vocab.length <= 100)
    // independent recount from the checked query's own encodings
    val enc = Bpe.qBpeChecked(spark, sfDir)
      .select("doc_id", "encoded").as[(Long, String)].collect()
    val counts = scala.collection.mutable.Map.empty[String, (Long, Set[Long])]
    enc.foreach { case (id, e) =>
      e.split(" ").filter(_.nonEmpty).foreach { t =>
        val (n, docs) = counts.getOrElse(t, (0L, Set.empty[Long]))
        counts(t) = (n + 1, docs + id)
      }
    }
    val want = counts.toSeq
      .map { case (t, (n, d)) => (t, n, d.size.toLong) }
      .sortBy { case (t, n, _) => (-n, t) }
      .take(100)
    val got = vocab.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === want)
    // fully-fused corpus words appear as single vocabulary tokens
    assert(got.map(_._1).toSet.intersect(
      Set("the", "table", "scan", "value", "query")).nonEmpty)
  }

  test("randomized kernel/chain parity over arbitrary merge lists") {
    // deterministic pseudo-random corpora + merge lists: the kernel and
    // the replace-chain formulation (the oracle's shape) must agree on
    // every one — overlap runs, chained ranks, rules that never fire.
    val rnd = new scala.util.Random(42)
    val alphabet = "abcd"
    def word(): String =
      (0 until (1 + rnd.nextInt(8)))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    (0 until 20).foreach { trial =>
      val docs = (0 until 30).map(_ =>
        (0 until (1 + rnd.nextInt(12))).map(_ => word()).mkString(" "))
      // merges reference symbols that plausibly exist: start from
      // single chars, occasionally reuse an earlier fused symbol
      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      (0 until (1 + rnd.nextInt(10))).foreach { _ =>
        def side(): String =
          if (merges.nonEmpty && rnd.nextBoolean()) {
            val m = merges(rnd.nextInt(merges.size)); m._1 + m._2
          } else alphabet(rnd.nextInt(alphabet.length)).toString
        merges += ((side(), side()))
      }
      val diff = docs.toDF("text").select(
          BpeFunctions.bpeEncode(col("text"), merges.toSeq).as("k"),
          Bpe.encodeViaReplace(col("text"), merges.toSeq).as("c"))
        .filter(col("k") =!= col("c"))
        .collect()
      assert(diff.isEmpty,
        s"trial $trial diverged for merges $merges: ${diff.headOption}")
    }
  }

  // --- published tokenizer artifact ------------------------------------

  test("published tokenizer: fit -> publish -> load roundtrip; foreign " +
      "path fails loudly") {
    val merges = Bpe.fitFor(spark, sfDir)
    val p = graft.sources.TempDirs.scratchDir("graft_bpe_tok").toString
    Bpe.publishTokenizer(spark, merges, p)
    assert(Bpe.loadTokenizer(spark, p) === merges)
    val bad = graft.sources.TempDirs.scratchDir("graft_bpe_bad").toString
    intercept[Exception] { Bpe.loadTokenizer(spark, bad) }
  }

  test("streaming BPE intake equals the batch encode under the " +
      "published tokenizer") {
    import org.apache.spark.sql.types._
    val p = graft.sources.TempDirs.scratchDir("graft_bpe_tok2").toString
    Bpe.publishTokenizer(spark, Bpe.checkedMerges, p)
    val docs = Seq((1L, "the table scan"), (2L, "stream value query"),
      (3L, "order by hash"), (4L, ""))
    val input = graft.sources.TempDirs.scratchDir("graft_bpe_in").toString
    val out = graft.sources.TempDirs.scratchDir("graft_bpe_out").toString
    val cp = graft.sources.TempDirs.scratchDir("graft_bpe_cp").toString
    docs.toDF("doc_id", "text").write.mode("append").json(input)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val q = graft.streaming.Streams.bpeIntake(spark,
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).json(input), p)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(out)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val batch = docs.toDF("doc_id", "text")
      .select(col("doc_id"),
        BpeFunctions.bpeEncode(col("text"), Bpe.checkedMerges).as("enc"))
      .orderBy("doc_id")
      .collect().map { r =>
        val e = r.getString(1)
        (r.getLong(0),
          if (e.isEmpty) 0L
          else e.split(" ").count(_.nonEmpty).toLong, e)
      }
    assert(streamed.toSeq === batch.toSeq)
  }

  // --- robustness -------------------------------------------------------

  test("robustness: null, empty, reserved delimiters, unicode, spaces") {
    val rows = Seq[Option[String]](None, Some(""), Some("   "),
        Some("a\u001Eb\u001Fc abc"), Some("héllo wörld"), Some("a"),
        Some("  double  spaced  "))
      .toDF("text")
      .select(BpeFunctions.bpeEncode(col("text"), Bpe.checkedMerges)
        .as("enc"))
      .collect()
    assert(rows(0).isNullAt(0))       // null in, null out
    assert(rows(1).getString(0) === "")
    assert(rows(2).getString(0) === "")
    assert(rows(3).getString(0) === "a b c a b c") // delimiters stripped
    assert(rows(5).getString(0) === "a")
    assert(rows(6).getString(0) === "d o u b l e s p a c e d")
  }

  // --- plan pin ---------------------------------------------------------

  test("plan: q_bpe_checked is one scan + project; the only exchange " +
      "is the determinism sort") {
    val plan = Bpe.qBpeChecked(spark, sfDir)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 1, s"expected at most the sort exchange:\n$plan")
    assert(!plan.contains("Join"), "BPE encode must not plan a join")
  }

  test("nightly refresh: delta update == full refit; empty delta warm") {
    // r11 verdict item 8 — the published tokenizer under the nightly
    // posture: the word-table update is delta-sized, yet the refreshed
    // artifact must be BIT-IDENTICAL to a from-scratch fit on the
    // grown corpus (the mvRefresh oracle-is-the-recompute pattern).
    val base = Seq((1L, "the table scan runs"), (2L, "the value table"),
      (3L, "scan the stream"), (4L, "order the query"))
      .toDF("doc_id", "text")
    // the delta shifts the frequency balance hard enough to change the
    // trained merge order (many repeats of new words)
    val delta = (10L to 40L).map(i => (i, "zig zag zig zag zoom"))
      .toDF("doc_id", "text")
    val p = graft.sources.TempDirs.scratchDir("graft_bpe_night").toString
    val m0 = Bpe.publishFit(spark, base, p, numMerges = 24)
    assert(Bpe.loadTokenizer(spark, p) === m0)

    // empty delta: the capped training table cannot move — warm path,
    // no retrain, artifact untouched
    val refitsBefore = Bpe.refitInvocations.get()
    val warm = Bpe.refreshTokenizer(spark, p,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), numMerges = 24)
    assert(!warm && Bpe.refitInvocations.get() == refitsBefore)
    assert(Bpe.loadTokenizer(spark, p) === m0)

    // real delta: refit fires, and the refreshed tokenizer equals the
    // from-scratch fit over base ∪ delta exactly
    val refit = Bpe.refreshTokenizer(spark, p, delta, numMerges = 24)
    assert(refit && Bpe.refitInvocations.get() == refitsBefore + 1)
    val fromScratch = Bpe.trainBpe(
      Bpe.cappedWords(Bpe.wordCounts(base.unionByName(delta))),
      numMerges = 24)
    assert(Bpe.loadTokenizer(spark, p) === fromScratch)
    assert(fromScratch !== m0, "delta should actually move the fit")

    // a second identical refresh on the already-updated table is warm
    // again only if the counts do not move — they do (the delta adds
    // again), so the contract stays exact: refresh == refit on the
    // doubly-grown corpus
    val refit2 = Bpe.refreshTokenizer(spark, p, delta, numMerges = 24)
    val doubled = Bpe.trainBpe(
      Bpe.cappedWords(Bpe.wordCounts(
        base.unionByName(delta).unionByName(delta))),
      numMerges = 24)
    assert(Bpe.loadTokenizer(spark, p) === doubled)
    // bounded retention: the words artifact keeps the current version
    // plus at most 2 retired ones
    val wroot = new java.io.File(Bpe.wordsRootOf(p))
    assert(wroot.listFiles().count(_.isDirectory) <= 3)
    assert(refit2 || Bpe.loadTokenizer(spark, p) === fromScratch)
  }

  test("sequential refresh on a streaming-managed root fails with the " +
      "one-root-one-cadence contract in the message") {
    // ADVICE r13: the sequential path used to surface this documented
    // restriction as an unexplained NumberFormatException from the
    // version parse; the error must NAME the contract instead
    val base = Seq((1L, "the table scan runs")).toDF("doc_id", "text")
    val p = graft.sources.TempDirs.scratchDir("graft_bpe_cadence").toString
    Bpe.publishFit(spark, base, p, numMerges = 8)
    // simulate the streaming sink having published a qid-bound version
    Bpe.refreshTokenizer(spark, p, base, numMerges = 8,
      version = Some("b3-abcd1234"))
    val e = intercept[IllegalStateException] {
      Bpe.refreshTokenizer(spark, p, base, numMerges = 8)
    }
    assert(e.getMessage.contains("ONE cadence") &&
      e.getMessage.contains("b3-abcd1234"))
  }

  test("refresh crash window: word table flipped but tokenizer not " +
      "republished — the NEXT refresh retrains") {
    // ADVICE r12: the pre-fix refresh compared before-vs-after capped
    // tables, so a crash between the word-table flip and
    // publishTokenizer made the next refresh's `before` reflect the
    // already-updated table — no movement seen, stale tokenizer kept
    // silently. The decision now compares against the fingerprint the
    // TOKENIZER artifact records having been trained on.
    val base = Seq((1L, "the table scan runs"), (2L, "the value table"))
      .toDF("doc_id", "text")
    val delta = (10L to 40L).map(i => (i, "zig zag zig zag zoom"))
      .toDF("doc_id", "text")
    val p = graft.sources.TempDirs.scratchDir("graft_bpe_crash").toString
    val m0 = Bpe.publishFit(spark, base, p, numMerges = 24)
    // the crashed refresh's completed first half, replayed faithfully:
    // fold the delta into the word table, publish v1, flip the words
    // marker — then "die" before the tokenizer republish
    val wordsRoot = Bpe.wordsRootOf(p)
    val updated = spark.read.parquet(s"$wordsRoot/v0")
      .join(Bpe.wordCounts(delta).select(col("w"), col("n").as("dn")),
        Seq("w"), "full_outer")
      .select(col("w"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n"))
    updated.write.mode("overwrite").parquet(s"$wordsRoot/v1")
    graft.sources.Markers.write(spark, wordsRoot,
      graft.sources.Versions.currentMarker, "v1")
    assert(Bpe.loadTokenizer(spark, p) === m0, "tokenizer is stale")
    // an EMPTY-delta refresh (the nightly tick with nothing new) must
    // still notice the recorded training set no longer matches and
    // retrain — exactly the refresh the old comparison skipped
    val refit = Bpe.refreshTokenizer(spark, p,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), numMerges = 24)
    assert(refit, "crash-window staleness went unnoticed")
    val fromScratch = Bpe.trainBpe(
      Bpe.cappedWords(Bpe.wordCounts(base.unionByName(delta))),
      numMerges = 24)
    assert(Bpe.loadTokenizer(spark, p) === fromScratch)
    // and the repaired artifact is warm again on the next empty tick
    val warm = Bpe.refreshTokenizer(spark, p,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), numMerges = 24)
    assert(!warm)
  }
}
