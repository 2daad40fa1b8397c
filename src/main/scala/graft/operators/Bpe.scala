package graft.operators

import graft.functions.{BpeEncode, BpeFunctions}
import graft.sources.{Tables, Versions}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Trained byte-pair-encoding subword tokenization over the documents
  * corpus — the missing real-tokenizer member of the text family
  * (`q_token_count` counts whitespace tokens; an LLM pipeline budgets
  * sequences in SUBWORD tokens under a vocabulary trained on its own
  * corpus).
  *
  * Published recipe throughout (Sennrich/Haddow/Birch, ACL 2016): the
  * trainer iterates "count adjacent symbol pairs over the word-
  * frequency table, merge the most frequent" — training runs on WORD
  * COUNTS, never on the corpus itself, which is exactly what makes it
  * scale: one corpus pass reduces 100 TB of text to a ≤`maxVocab`-row
  * frequency table (TakeOrderedAndProject — map-side heaps, top rows
  * to the driver), and the merge loop is driver-side arithmetic on
  * that bounded table (the ivfFit/minhashFit offline-fit posture; the
  * vocabulary cap is the same bounded-model contract as the centroid
  * matrix). Encoding is then a per-row scan-speed kernel
  * ([[graft.functions.BpeEncode]]) against the broadcast-by-closure
  * merge list.
  *
  * Determinism: the trainer's pair choice is a TOTAL order (count
  * desc, then (a, b) lexicographic asc) and the word table is capped
  * under a total order (count desc, word asc), so the fitted merge
  * list is a pure function of the corpus. Encoding is
  * character-deterministic; no floats anywhere.
  *
  * Two declared queries follow the approximate-family precedent
  * (`q_fingerprint`/`q_fingerprint_checked`):
  *   - [[qBpeEncode]] (`q_bpe_encode`): the production path — merges
  *     TRAINED on the query's own corpus. Rows-only (the merge list
  *     depends on the corpus, so no static oracle SQL exists);
  *     spec-pinned against a driver-side reference trainer/encoder.
  *   - [[qBpeChecked]] (`q_bpe_checked`): the oracle ride — a FIXED
  *     32-rule merge list both engines replay. DuckDB reproduces the
  *     exact token stream through [[encodeViaReplace]]'s delimiter
  *     encoding: each symbol is rendered `<s>` with reserved
  *     delimiters chr(30)/chr(31), so the literal replace of
  *     `<a><b>` → `<ab>` fires exactly on adjacent WHOLE symbols
  *     (a delimiter-free rendering would let rule (e, r) fire inside
  *     symbol pair (xe, r) — the classic string-replace BPE bug), and
  *     left-to-right non-overlapping replace-all IS exhaustive
  *     leftmost pair merging. The custom kernel is parity-pinned
  *     against the replace-chain formulation bitwise.
  */
object Bpe {

  private val Open = "\u001E"
  private val Close = "\u001F"

  /** Sennrich-2016 BPE training over a word-frequency table. Pair
    * statistics count every adjacent position (the reference
    * `get_stats` convention); the merge choice is total-ordered
    * (count desc, pair lexicographic asc) and training stops when no
    * pair occurs at least twice — merging a once-seen pair can never
    * change any other word's tokenization.
    */
  private[graft] def trainBpe(wordCounts: Seq[(String, Long)],
      numMerges: Int): Seq[(String, String)] = {
    var vocab: Array[(Array[String], Int, Long)] = wordCounts.map {
      case (w, c) =>
        val syms = new Array[String](w.length)
        var i = 0
        while (i < w.length) { syms(i) = String.valueOf(w.charAt(i)); i += 1 }
        (syms, w.length, c)
    }.toArray
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var go = true
    while (merges.size < numMerges && go) {
      val counts = mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, len, c) =>
        var i = 0
        while (i < len - 1) {
          val p = (syms(i), syms(i + 1))
          counts.update(p, counts.getOrElse(p, 0L) + c)
          i += 1
        }
      }
      if (counts.isEmpty) go = false
      else {
        val best = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
        if (best._2 < 2L) go = false
        else {
          val (a, b) = best._1
          merges += ((a, b))
          vocab = vocab.map { case (syms, len, c) =>
            (syms, BpeEncode.mergePass(syms, len, a, b), c)
          }
        }
      }
    }
    merges.toSeq
  }

  /** One fitted merge list per (JVM, sf-dir): ONE corpus pass reduces
    * the text to a capped word-frequency table (top `maxVocab` under
    * (count desc, word asc) — a TakeOrderedAndProject, so the driver
    * pull is bounded by construction), then the merge loop runs on
    * that table alone. */
  private val fitCache = new FitCache[Seq[(String, String)]]((s, d) =>
    trainBpe(cappedWords(wordCounts(Tables.documents(s, d))),
      numMerges = 160))

  private[graft] def fitFor(spark: SparkSession, dir: String):
      Seq[(String, String)] = fitCache.get(spark, dir)

  // ------------------------------------------------- nightly refresh

  /** Suffix of the word-frequency-table artifact SIBLING to a
    * tokenizer directory (`<path>_words`): it cannot live inside the
    * merges directory because every republish rewrites that directory
    * wholesale (parquet overwrite truncates the target), and the word
    * table must survive republishes — it IS the refresh state. The
    * table is UNCAPPED (vocabulary × counts, never corpus-sized):
    * capping is applied only at train time, because an incremental
    * update to a capped table could not promote a tail word whose base
    * count was thrown away. */
  private[graft] val wordsSuffix = "_words"
  private[graft] def wordsRootOf(path: String): String =
    path.stripSuffix("/") + wordsSuffix

  /** Incremented on every driver-side retrain through the refresh
    * path — the [[TextOps.fitInvocations]] precedent: the spec pins
    * that a warm refresh never retrains and a real delta does. */
  private[graft] val refitInvocations =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** The corpus → word-frequency map (one pass, vocabulary-sized
    * output) shared by the fit and the refresh delta. */
  private[graft] def wordCounts(docs: DataFrame): DataFrame =
    docs.select(explode(split(regexp_replace(col("text"),
        "[\u001E\u001F]", ""), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))

  /** The capped training table: top `maxVocab` words under the
    * (count desc, word asc) total order — a TakeOrderedAndProject, so
    * the driver pull is bounded by construction. */
  private[graft] def cappedWords(words: DataFrame,
      maxVocab: Int = 50000): Seq[(String, Long)] =
    words.orderBy(col("n").desc, col("w").asc).limit(maxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Marker (inside the tokenizer directory) recording the
    * [[trainSetFingerprint]] of the capped table the PUBLISHED merges
    * were actually trained on — the refresh decision's ground truth
    * (ADVICE r12): comparing before-vs-after capped tables across the
    * word-table flip left a crash window, because a death between the
    * flip and [[publishTokenizer]] made the NEXT refresh compute
    * `before` from the already-updated table and silently skip the
    * missed retrain. Comparing `after` against what the tokenizer
    * artifact itself records is crash-window-proof: any published word
    * table whose capped view differs from the tokenizer's recorded
    * training set triggers the retrain, whoever died where. */
  private[graft] val trainSetMarker = "_graft_bpe_trainset"

  /** Canonical md5 of a capped training table (order-significant —
    * the capped pull is already under the (count desc, word asc)
    * total order, so equal fingerprints mean bit-identical tables). */
  private[graft] def trainSetFingerprint(
      capped: Seq[(String, Long)]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    capped.foreach { case (w, n) =>
      md.update(w.getBytes("UTF-8")); md.update(0.toByte)
      md.update(n.toString.getBytes("UTF-8")); md.update(1.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Fit AND publish in the refreshable form: the corpus pass lands
    * the full word table as a versioned artifact sibling to the
    * tokenizer directory, the capped pull trains the merges, and both
    * publish together — after this, [[refreshTokenizer]] keeps the
    * artifact current with delta-sized work only. */
  private[graft] def publishFit(spark: SparkSession, docs: DataFrame,
      path: String, numMerges: Int = 160,
      maxVocab: Int = 50000): Seq[(String, String)] = {
    val wordsRoot = wordsRootOf(path)
    Versions.publish(spark, wordsRoot, "v0")(
      graft.sources.Pq.write(wordCounts(docs), _))
    val capped = cappedWords(graft.sources.Pq.read(spark, s"$wordsRoot/v0"),
      maxVocab)
    val merges = trainBpe(capped, numMerges)
    publishTokenizer(spark, merges, path)
    graft.sources.Markers.write(spark, path, trainSetMarker,
      trainSetFingerprint(capped))
    merges
  }

  /** NIGHTLY TOKENIZER REFRESH (r11 verdict item 8): fold an APPEND
    * delta (the nightly loop's newly-crawled documents) into the
    * published artifact without re-scanning the corpus, and retrain
    * only when the training input actually moved.
    *
    *   1. word-table update: the delta's word counts (a DELTA-sized
    *      pass) full-outer-merge onto the persisted vocabulary-sized
    *      table — exact count addition, published versioned-then-flip
    *      (read the current version, write the next, flip the marker;
    *      bounded newest-2 retention, [[graft.sources.Versions]]);
    *   2. refit decision: retrain iff the CAPPED training table
    *      differs from the one the PUBLISHED tokenizer records having
    *      been trained on ([[trainSetMarker]] — ADVICE r12: a
    *      before-vs-after comparison across the word-table flip had a
    *      crash window; the fingerprint is flip-order-independent).
    *      Because the incremental count merge is exact, the capped
    *      table after the update is bit-identical to what a
    *      from-scratch corpus pass over base ∪ delta would produce —
    *      so this is not a staleness heuristic but an exactness
    *      CONTRACT: the published tokenizer after a refresh IS the
    *      full-refit tokenizer, with the warm path merely skipping a
    *      retrain whose input did not change (and every path skipping
    *      the 100 TB corpus re-scan, which is the entire point).
    *      BpeSpec pins refresh == from-scratch refit on a planted
    *      delta, warm-path artifact untouchedness on an empty one, and
    *      retrain-on-replay from the flip-then-die crash window.
    *
    * Contract: `delta` is APPENDED documents only — the nightly
    * new-crawl posture. A re-crawl that REPLACES text would need
    * signed count retraction of the old words (the [[Curation
    * .mvRefresh]] retract/insert shape applied to word counts); that
    * delta type routes through a full [[publishFit]] today and the
    * requirement is documented here rather than silently mishandled.
    *
    * @param version explicit name for the updated word-table version —
    *   the streaming refresh sink passes its qid-bound batch version
    *   ([[graft.streaming.Streams.bpeRefreshSink]]) so a checkpoint
    *   replay can recognize its own already-published fold; the batch
    *   default keeps the `v<n>` sequence. One artifact root is managed
    *   by ONE cadence — mixing named and sequential versions on the
    *   same root is unsupported (the sequential path parses its own
    *   `v<n>` names).
    * @return true iff the merges were retrained and republished. */
  private[graft] def refreshTokenizer(spark: SparkSession, path: String,
      delta: DataFrame, numMerges: Int = 160,
      maxVocab: Int = 50000, version: Option[String] = None): Boolean = {
    val wordsRoot = wordsRootOf(path)
    val prevDir = Versions.current(spark, wordsRoot)
    val v = prevDir.stripPrefix(s"$wordsRoot/")
    val updated = graft.sources.Pq.read(spark, prevDir)
      .join(wordCounts(delta).select(col("w"), col("n").as("dn")),
        Seq("w"), "full_outer")
      .select(col("w"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n"))
    // ADVICE r13: a root whose current version is not `v<n>` is being
    // managed by the STREAMING cadence (qid-bound `b<id>-<qid>` names);
    // the sequential path must fail with the documented one-root-one-
    // cadence contract as the message, not a bare NumberFormatException
    // from the version parse
    val next = version.getOrElse {
      if (!v.matches("v\\d+"))
        throw new IllegalStateException(
          s"word-table root $wordsRoot is on non-sequential version " +
            s"'$v' — one artifact root is managed by ONE cadence " +
            "(batch 'v<n>' or streaming qid-bound versions); this " +
            "batch refresh cannot extend a streaming-managed root")
      s"v${v.stripPrefix("v").toLong + 1L}"
    }
    Versions.publish(spark, wordsRoot, next, retain = 2)(
      graft.sources.Pq.write(updated, _))
    retrainIfStale(spark, path, numMerges, maxVocab)
  }

  /** The refresh's RETRAIN HALF alone: cap the CURRENT word table and
    * retrain iff its fingerprint differs from the one the published
    * tokenizer records having been trained on. Exposed separately
    * because it is what a replayed streaming batch runs when the word
    * fold itself already published (marker names the batch's own
    * version): the fold is a no-op, but a predecessor may still have
    * died between the flip and the tokenizer republish.
    * @return true iff the merges were retrained and republished. */
  private[graft] def retrainIfStale(spark: SparkSession, path: String,
      numMerges: Int = 160, maxVocab: Int = 50000): Boolean = {
    val after = cappedWords(graft.sources.Pq.read(spark,
      Versions.current(spark, wordsRootOf(path))), maxVocab)
    val afterPrint = trainSetFingerprint(after)
    // the tokenizer artifact's own record of its training set is the
    // comparison baseline — an absent marker (pre-fingerprint artifact
    // or a crash before the marker write) reads as "unknown" and
    // retrains, self-healing instead of silently trusting staleness
    if (graft.sources.Markers.readOption(spark, path, trainSetMarker)
        .contains(afterPrint)) false
    else {
      refitInvocations.incrementAndGet()
      publishTokenizer(spark, trainBpe(after, numMerges), path)
      graft.sources.Markers.write(spark, path, trainSetMarker,
        afterPrint)
      true
    }
  }

  /** Persist a trained merge list as the durable tokenizer artifact —
    * the minhashFit/ivfFit published-fit posture applied to the
    * tokenizer: a production pipeline trains ONCE, ships the artifact,
    * and every later encode job (batch or streaming, any JVM) loads it
    * without refitting. One tiny parquet of rank-ordered rules plus a
    * `_graft_bpe` marker carrying the rule count (Hadoop FS marker
    * mechanics shared with the silver/MinHash layouts: object-store
    * paths work, parquet listing ignores underscore files). */
  private[graft] def publishTokenizer(spark: SparkSession,
      merges: Seq[(String, String)], path: String): Unit = {
    import spark.implicits._
    graft.sources.Pq.write(merges.zipWithIndex
      .map { case ((a, b), r) => (r, a, b) }
      .toDF("rank", "left", "right")
      .coalesce(1), path)
    graft.sources.Markers.write(spark, path, "_graft_bpe",
      merges.size.toString)
  }

  /** Re-open a [[publishTokenizer]] artifact from its path alone. A
    * missing/foreign marker or a rule-count mismatch FAILS LOUDLY —
    * silently encoding with a truncated rule list would fragment every
    * token downstream with no visible error. */
  private[graft] def loadTokenizer(spark: SparkSession,
      path: String): Seq[(String, String)] = {
    val n = graft.sources.Markers.read(spark, path, "_graft_bpe").toInt
    val rows = graft.sources.Pq.read(spark, path)
      .orderBy(col("rank")).collect()
    require(rows.length == n,
      s"$path holds ${rows.length} merge rules, marker says $n — " +
        "not a complete published tokenizer?")
    rows.map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
  }

  /** The built-in-functions formulation the DuckDB oracle mirrors
    * call-for-call: strip the two reserved delimiters, render every
    * non-space character as `<c>`, apply each merge as a LITERAL
    * replace of `<a><b>` → `<ab>` (boundary-safe: a match needs both
    * delimiter-wrapped symbols verbatim, and replace-all is
    * left-to-right non-overlapping in both engines), then flatten
    * delimiters to the space-joined token stream. Kept as the parity
    * reference for the kernel and as the shape [[checkedOracleSql]]
    * replays — NOT the production encode path (K nested full-string
    * passes; the kernel is one symbol-array walk per rule with a word
    * memo). */
  private[graft] def encodeViaReplace(text: Column,
      merges: Seq[(String, String)]): Column = {
    val stripped = regexp_replace(text, "[\u001E\u001F]", "")
    var x = regexp_replace(stripped, "(\\S)", Open + "$1" + Close)
    merges.foreach { case (a, b) =>
      x = replace(x, lit(Open + a + Close + Open + b + Close),
        lit(Open + a + b + Close))
    }
    trim(regexp_replace(
      replace(replace(x, lit(Open), lit("")), lit(Close), lit(" ")),
      " +", " "))
  }

  private def tokenCount(encoded: Column): Column =
    when(length(encoded) === 0, lit(0L))
      .otherwise(size(split(encoded, " ")).cast("long"))

  /** `q_bpe_encode` — the production tokenizer: merges trained on this
    * corpus (fit-once per JVM/sf-dir), encoding via the codegen'd
    * kernel. ONE scan + project; the only exchange is the
    * determinism sort. Rows-only by contract (corpus-dependent merge
    * list); BpeSpec pins the trainer against hand-traced Sennrich
    * examples and the kernel against the replace-chain formulation. */
  def qBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val merges = fitFor(spark, dir)
    val enc = BpeFunctions.bpeEncode(col("text"), merges)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), w => length(w) > 0))
          .cast("long").as("n_words"),
        enc.as("encoded"))
      .select(col("doc_id"), col("n_words"),
        tokenCount(col("encoded")).as("n_tokens"), col("encoded"))
      .orderBy(col("doc_id"))
  }

  /** The fixed rank-ordered merge list of the oracle ride: 32 rules
    * over the corpus alphabet, exercising multi-level fusion (whole
    * words `the/key/scan/table/value/query/stream/order/hash`), rules
    * over previously-merged symbols, and rules that partially overlap
    * other words (`st` in `customer`/`fast`, `or` in `sort`). */
  private[graft] val checkedMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e",
    "k" -> "e", "ke" -> "y",
    "s" -> "c", "sc" -> "a", "sca" -> "n",
    "t" -> "a", "ta" -> "b", "tab" -> "l", "tabl" -> "e",
    "v" -> "a", "va" -> "l", "val" -> "u", "valu" -> "e",
    "q" -> "u", "qu" -> "e", "que" -> "r", "quer" -> "y",
    "s" -> "t", "st" -> "r", "str" -> "e", "stre" -> "a", "strea" -> "m",
    "o" -> "r", "or" -> "d", "ord" -> "e", "orde" -> "r",
    "e" -> "r",
    "h" -> "a", "ha" -> "s", "has" -> "h")

  /** `q_bpe_checked` — the oracle ride: the SAME kernel as the
    * production query over the FIXED merge list, hash-compared against
    * DuckDB replaying the replace-chain formulation. A kernel bug in
    * merge order, overlap handling, or boundary safety fails the hash.
    */
  def qBpeChecked(spark: SparkSession, dir: String): DataFrame = {
    val enc = BpeFunctions.bpeEncode(col("text"), checkedMerges)
    Tables.documents(spark, dir)
      .select(col("doc_id"), enc.as("encoded"))
      .select(col("doc_id"), tokenCount(col("encoded")).as("n_tokens"),
        col("encoded"))
      .orderBy(col("doc_id"))
  }

  /** `q_bpe_vocab` — the subword-vocabulary report under the fixed
    * tokenizer: corpus-wide count and document frequency per emitted
    * subword token, top 100 under a (count desc, token asc) total
    * order — [[TextOps.qVocabTopk]]'s contract transposed from words
    * to subwords (the table an LLM pipeline inspects to size its
    * vocabulary and spot fragmenting tokens). Same scale shape as the
    * word version: the encode is the scan-speed kernel, the explode is
    * row-local, map-side partials collapse each partition to its
    * distinct subwords before the vocabulary-sized exchange, and the
    * limit plans as TakeOrderedAndProject. Oracle-green via the
    * [[checkedMerges]] replay (the trained-tokenizer variant would be
    * corpus-dependent; the checked list keeps both engines in the same
    * vocabulary). */
  def qBpeVocab(spark: SparkSession, dir: String): DataFrame = {
    val enc = BpeFunctions.bpeEncode(col("text"), checkedMerges)
    Tables.documents(spark, dir)
      .select(col("doc_id"), enc.as("encoded"))
      .filter(length(col("encoded")) > 0)
      .select(col("doc_id"), explode(split(col("encoded"), " ")).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n").desc, col("tok").asc)
      .limit(100)
      .orderBy(col("n").desc, col("tok").asc)
  }

  /** `q_bpe_fertility` — per-language subword FERTILITY report under
    * the fixed tokenizer: tokens-per-word is THE tokenizer-quality
    * number a multilingual pipeline watches (a language whose
    * fertility balloons is under-served by the merge table and pays
    * its context budget in fragments — the SentencePiece/multilingual-
    * BPE literature's standard diagnostic). Exact long counts per
    * lang, ONE IEEE division per output row (house determinism rule),
    * riding the [[checkedMerges]] replay so both engines tokenize
    * identically. Scale shape: the encode is the scan-speed kernel,
    * counts are row-local array lengths, and the aggregate exchanges
    * two longs per lang — scan-bound at any corpus size. */
  def qBpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val enc = BpeFunctions.bpeEncode(col("text"), checkedMerges)
    Tables.documents(spark, dir)
      .select(col("lang"),
        size(filter(split(col("text"), " "), w => length(w) > 0))
          .cast("long").as("nw"),
        tokenCount(enc).as("nt"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_words"),
        sum(col("nt")).as("n_tokens"))
      .withColumn("fertility",
        col("n_tokens").cast("double") / col("n_words").cast("double"))
      .orderBy(col("lang"))
  }

  /** DuckDB SQL for [[qBpeFertility]]: the same encode-chain CTE,
    * word/subword counts and ONE division per lang. */
  def fertilityOracleSql: String =
    s"""WITH enc AS (
       |  SELECT d.lang,
       |    CAST(len(list_filter(string_split(d.text, ' '),
       |      w -> length(w) > 0)) AS BIGINT) AS nw,
       |    CAST(CASE WHEN length(e.encoded) = 0 THEN 0
       |              ELSE len(string_split(e.encoded, ' ')) END AS BIGINT)
       |      AS nt
       |  FROM documents d JOIN (${encodedCte("documents")}) e
       |    USING (doc_id))
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(nw) AS BIGINT) AS n_words,
       |       CAST(sum(nt) AS BIGINT) AS n_tokens,
       |       CAST(sum(nt) AS DOUBLE) / CAST(sum(nw) AS DOUBLE)
       |         AS fertility
       |FROM enc GROUP BY lang ORDER BY lang""".stripMargin

  /** DuckDB SQL for [[qBpeVocab]]: the [[checkedOracleSql]] encode
    * chain, unnested and counted. */
  def vocabOracleSql: String =
    s"""WITH enc AS (${encodedCte("documents")}),
       |t AS (SELECT doc_id, unnest(string_split(encoded, ' ')) AS tok
       |      FROM enc WHERE length(encoded) > 0)
       |SELECT tok, CAST(count(*) AS BIGINT) AS n,
       |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
       |FROM t GROUP BY tok
       |ORDER BY n DESC, tok ASC LIMIT 100""".stripMargin

  /** Shared encode-chain CTE body: (doc_id, encoded) for every row of
    * `table` under [[checkedMerges]]. */
  private def encodedCte(table: String): String = {
    def sym(s: String): String = s"chr(30) || '$s' || chr(31)"
    val wrap =
      """regexp_replace(regexp_replace(text, '[' || chr(30) || chr(31) || ']', '', 'g'),
        |      '(\S)', chr(30) || '\1' || chr(31), 'g')""".stripMargin
    val merged = checkedMerges.foldLeft(wrap) { case (acc, (a, b)) =>
      s"replace($acc,\n      ${sym(a)} || ${sym(b)}, ${sym(a + b)})"
    }
    s"""SELECT doc_id,
       |    trim(regexp_replace(replace(replace($merged, chr(30), ''),
       |      chr(31), ' '), ' +', ' ', 'g')) AS encoded
       |  FROM $table""".stripMargin
  }

  /** DuckDB SQL for [[qBpeChecked]], generated from the same
    * [[checkedMerges]] constant the Spark query encodes with (one
    * source of truth for the rule list). */
  def checkedOracleSql: String =
    s"""WITH f AS (${encodedCte("documents")})
       |SELECT doc_id,
       |  CAST(CASE WHEN length(encoded) = 0 THEN 0
       |            ELSE len(string_split(encoded, ' ')) END AS BIGINT)
       |    AS n_tokens,
       |  encoded
       |FROM f ORDER BY doc_id""".stripMargin
}
