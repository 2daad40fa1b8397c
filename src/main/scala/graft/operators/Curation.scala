package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond the dedup/quality/ANN family already in [[TextOps]] and
  * [[Vectors]]: deterministic dataset splitting, per-stratum sampling
  * (data mixing), benchmark decontamination, repetition-based quality
  * filtering, sequence packing, and the corpus-mixture report that
  * drives sampling-weight decisions.
  *
  * Design rules shared by every operator here:
  *   - Assignment decisions (split / sample / shard) hash a STABLE key
  *     (`doc_id`) through `md5`, never `rand()`: re-running the job on a
  *     grown corpus must not reshuffle previously assigned documents
  *     (the same backfill-stability argument as the reference's nightly
  *     incremental posture, /root/reference/insights.md:169-172).
  *     `md5` rather than `xxhash64` because the decision must be
  *     reproducible OUTSIDE Spark too (the DuckDB oracle, a Python
  *     sampler, a data loader shard-picker) — hex-prefix comparison is
  *     engine-agnostic; the few extra ns/row is noise next to the scan.
  *   - Everything row-local stays row-local: split, sample, repetition
  *     scoring are pure per-row expressions in whole-stage codegen, zero
  *     shuffles — at 100 TB these run at scan speed.
  *   - The only shuffles are the ones the semantics force (the
  *     decontamination hit-set distinct, the per-shard packing window,
  *     the mixture groupBy), each keyed as small as the semantics allow.
  */
object Curation {

  private def toks: Column = split(col("text"), " ")

  // Shared expression builders — the single source of the curation
  // semantics, used by the standalone queries, the EP4 manifest
  // pipeline, and the streaming dual (graft.streaming.Streams), so the
  // three surfaces cannot drift.

  /** 1 − distinct-unigram/total fraction over a token-array column. */
  private[graft] def dupWordFracCol(w: Column): Column =
    lit(1.0) - size(graft.functions.TextFunctions.shingleHashes(w, 1))
      .cast("double") / size(w)

  /** 1 − distinct-bigram fraction; 0 for single-token docs. */
  private[graft] def dupBigramFracCol(w: Column): Column =
    when(size(w) >= 2, lit(1.0) -
      size(graft.functions.TextFunctions.shingleHashes(w, 2))
        .cast("double") / (size(w) - 1))
      .otherwise(lit(0.0))

  /** md5-prefix train/val/test assignment of a key column. */
  private[graft] def splitNameCol(id: Column): Column = {
    val prefix = substring(md5(id.cast("string")), 1, 2)
    when(prefix < "cd", "train").when(prefix < "e6", "val")
      .otherwise("test")
  }

  /** md5 shard of a key column (`hexLen` hex digits → 16^hexLen shards). */
  private[graft] def shardCol(id: Column, hexLen: Int = 1): Column =
    substring(md5(id.cast("string")), 1, hexLen)

  /** Row-local manifest flags — quality fractions, thresholded keep,
    * split assignment — with NO sort and NO shuffle: the exact shape
    * that runs unchanged under Structured Streaming append mode
    * ([[graft.streaming.Streams.curationFlags]] is this function under
    * `readStream`). The sorted declared queries wrap the same
    * expressions. */
  private[graft] def curationFlags(docs: DataFrame): DataFrame = {
    val w = toks
    docs.select(
      col("doc_id"),
      size(w).as("n_tok"),
      dupWordFracCol(w).as("dup_word_frac"),
      dupBigramFracCol(w).as("dup_bigram_frac"),
      splitNameCol(col("doc_id")).as("split_name"))
      .withColumn("quality_keep",
        col("dup_word_frac") <= 0.7 && col("dup_bigram_frac") <= 0.2)
  }

  // ---------------------------------------------------------------- split

  /** Deterministic train/val/test split (~80/10/10) by md5 hex prefix of
    * the document key. Per-row, no shuffle, no RNG state: a document's
    * split is a pure function of its id, so incremental corpus refreshes
    * never migrate old documents across splits (which would leak val/test
    * into train across training runs). The two-hex-digit prefix gives
    * 1/256 granularity: < 'cd' (205/256 ≈ 80.1%) → train, < 'e6'
    * (230/256 ≈ 89.8%) → val, else test.
    */
  def qTrainSplit(spark: SparkSession, dir: String): DataFrame =
    trainSplit(Tables.documents(spark, dir))

  /** Core of [[qTrainSplit]] over any frame with a `doc_id` column. */
  private[graft] def trainSplit(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      splitNameCol(col("doc_id")).as("split_name"))
      .orderBy(col("doc_id"))

  // --------------------------------------------------------------- sample

  /** Stratified downsampling — the data-mixing primitive: keep a
    * per-stratum fraction of documents (here: halve the dominant `en`
    * stratum, keep the rest whole). The keep decision hashes
    * `doc_id:lang` and compares one hex digit against a per-stratum
    * threshold (1/16 granularity; production would widen the prefix for
    * finer rates). Pure per-row filter — at 100 TB this is a scan-speed
    * map with the rate table folded into the CASE expression, and the
    * same salt trick re-draws an independent sample by changing the key
    * separator constant.
    */
  def qSampleStratified(spark: SparkSession, dir: String): DataFrame =
    sampleStratified(Tables.documents(spark, dir))

  /** Core of [[qSampleStratified]]: `rates` maps stratum → hex-digit
    * threshold ('8' = 8/16 = 0.5, 'g' > 'f' = keep all). */
  private[graft] def sampleStratified(
      docs: DataFrame,
      rates: Map[String, String] = Map("en" -> "8"),
      defaultRate: String = "g"): DataFrame = {
    val digit = substring(
      md5(concat(col("doc_id").cast("string"), lit(":"), col("lang"))), 1, 1)
    val threshold = rates.foldLeft(lit(defaultRate)) { case (acc, (k, v)) =>
      when(col("lang") === k, lit(v)).otherwise(acc)
    }
    docs.filter(digit < threshold)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** Token-proportional weighted sampling — the per-DOCUMENT-weight
    * member of the sampling family ([[qSampleStratified]] draws at
    * per-STRATUM rates): each document keeps with probability
    * proportional to its token count, the draw a pipeline uses to
    * build token-balanced subsamples (long documents carry more of the
    * training token mass, so a uniform doc draw under-represents
    * them). Published practice weights by quality or length; the
    * weight column is pluggable ([[sampleWeighted]]).
    *
    * Determinism discipline, ZERO floating point: the uniform draw is
    * the first 8 md5 hex digits of the salted doc_id as a 32-bit
    * integer u, and `keep ⟺ u · w_max < w_i · 2³²` — exact BIGINT
    * products on both sides (u < 2³², w bounded by the corpus max, no
    * overflow), which IS `u/2³² < w_i/w_max` with no division, no
    * rounding, no cross-engine FP lottery. Two invariants fall out:
    * a maximum-weight document is ALWAYS kept (u < 2³² holds for every
    * u), and re-salting the hash re-draws an independent sample.
    *
    * Scale shape: ONE one-row aggregate (the corpus max) broadcast
    * back, then a scan-speed row-local filter — the
    * [[TextOps.scoreDeciles]] broadcast-statistic plan, with the
    * statistic a single long.
    */
  def qSampleWeighted(spark: SparkSession, dir: String): DataFrame =
    sampleWeighted(Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("weight")))

  /** Core of [[qSampleWeighted]] over any (doc_id, weight) frame with
    * positive long weights. */
  private[graft] def sampleWeighted(weighted: DataFrame,
      salt: String = ":wsamp"): DataFrame = {
    val mx = weighted.agg(max(col("weight")).as("max_weight"))
    val u32 = conv(substring(
      md5(concat(col("doc_id").cast("string"), lit(salt))), 1, 8),
      16, 10).cast("long")
    weighted.crossJoin(broadcast(mx))
      .filter(u32 * col("max_weight") < col("weight") * lit(4294967296L))
      .select(col("doc_id"), col("weight"))
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------- decontaminate

  /** Benchmark decontamination: flag every training document that shares
    * at least one 8-token shingle with the held-out eval set (here the
    * synthetic holdout `doc_id % 10 = 0`). This is the published
    * n-gram-overlap decontamination recipe — GPT-2/WebText-style 8-gram
    * collision against eval text ⇒ contaminated (GPT-3's appendix-C
    * variant of the same recipe used 13-grams; k=8 here is the stricter
    * deliberate choice, and the shingle builder takes k as a knob).
    *
    * Scale posture: the eval side of the join is benchmark-sized (tiny
    * next to the corpus), so its distinct shingle set broadcasts — the
    * 100 TB training side never shuffles (two corpus SCANS: one
    * shingled map-side for the semi-join, one bare-id projection for
    * the final flag join — scans are the cheap axis; the avoided corpus
    * SHUFFLE is the expensive one). The only shuffled data is the hit
    * doc_id set (contaminated docs, rare by construction), which is
    * itself broadcast back for the final flag join.
    *
    * Known miss class (documented, not hidden): documents SHORTER than
    * 8 tokens are shingled as one whole-text shingle, so a short eval
    * doc is flagged only against an exact whole-document train copy —
    * a LONGER train doc merely CONTAINING the short eval string
    * verbatim is NOT flagged (its 8-gram shingles can never equal the
    * shorter eval shingle). Containment-level decontamination of short
    * eval items would additionally shingle train docs at each short
    * eval doc's token length (or substring-match them); the standard
    * recipe — and this operator — does not.
    */
  def qDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    decontaminate(docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0))
  }

  /** Core of [[qDecontaminate]]: flags each row of `train` that shares
    * an 8-gram with any row of `eval`. Output: (doc_id, contaminated).
    *
    * Shingling runs through the fused [[graft.functions.ShingleHashes]]
    * expression (one JIT-compiled per-row loop; a HOF `transform`
    * indexing the token array re-inlines `split()` per element and goes
    * quadratic — the same measured trap the MinHash path hit in round
    * 2), and the overlap join compares 8-byte xxhash64 values, never
    * shingle strings — the [[TextOps.dedupExact]] tradeoff: constant-
    * width broadcast keys at any document length, collision probability
    * negligible at 64 bits. The expression's sub-8-token guard (whole
    * text as one shingle) is mirrored in the oracle's CASE. */
  private[graft] def decontaminate(train: DataFrame, eval: DataFrame)
      : DataFrame =
    train.select(col("doc_id"))
      .join(broadcast(contaminationHits(train, eval)
        .withColumn("hit", lit(true))), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("hit"), lit(false)).as("contaminated"))
      .orderBy(col("doc_id"))

  /** The distinct doc_ids of `train` rows sharing an 8-gram with `eval`
    * — the broadcastable hit set both [[decontaminate]] and the EP4
    * manifest pipeline flag against. */
  private[graft] def contaminationHits(train: DataFrame, eval: DataFrame)
      : DataFrame = {
    val shingled = (d: DataFrame) =>
      d.select(col("doc_id"),
        explode(graft.functions.TextFunctions.shingleHashes(toks, 8))
          .as("sh"))
    val evalShingles = shingled(eval).select(col("sh")).distinct()
    shingled(train)
      .join(broadcast(evalShingles), Seq("sh"), "left_semi")
      .select(col("doc_id")).distinct()
  }

  /** The inverse view of [[qDecontaminate]]: per EVAL document, how many
    * training documents share an 8-gram with it — the report a benchmark
    * owner reads to decide whether an eval set is too burned to trust.
    * Same shingle machinery and broadcast posture; the final aggregate
    * is keyed by eval doc_id over the (train, eval) hit pairs, which are
    * rare by construction, so the groupBy shuffles a hit-sized relation,
    * not a corpus-sized one. Eval docs with zero hits still report
    * (n_train_hits = 0) — absence from the report must mean "not in the
    * eval set", never "clean". */
  def qContaminationReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    contaminationReport(docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0))
  }

  /** Core of [[qContaminationReport]]: (doc_id, n_train_hits) per `eval`
    * row, counting DISTINCT `train` documents sharing an 8-gram. */
  private[graft] def contaminationReport(train: DataFrame, eval: DataFrame)
      : DataFrame = {
    val shingled = (d: DataFrame, idAs: String) =>
      d.select(col("doc_id").as(idAs),
        explode(graft.functions.TextFunctions.shingleHashes(toks, 8))
          .as("sh"))
    val hitPairs = shingled(train, "train_id")
      .join(broadcast(shingled(eval, "doc_id")), "sh")
      .select(col("doc_id"), col("train_id")).distinct()
    eval.select(col("doc_id"))
      .join(hitPairs.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("hits")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("hits"), lit(0L)).as("n_train_hits"))
      .orderBy(col("doc_id"))
  }

  // ----------------------------------------------------------- repetition

  /** Repetition-based quality filter (the Gopher/MassiveText rule shape):
    * per-document duplicate-word and duplicate-bigram fractions, plus the
    * keep decision (dup_word_frac ≤ 0.7 AND dup_bigram_frac ≤ 0.2).
    * Entirely per-row array expressions in codegen — zero shuffle; the
    * thresholded `keep` column is what a pipeline filter consumes.
    */
  def qRepetition(spark: SparkSession, dir: String): DataFrame =
    repetition(Tables.documents(spark, dir))

  /** Core of [[qRepetition]] over any (doc_id, text) frame. Single-token
    * documents have no bigrams; their bigram fraction is defined as 0
    * (nothing repeats), mirrored in the oracle CASE.
    *
    * Distinct unigram/bigram counts come from the fused
    * [[graft.functions.ShingleHashes]] loops (k=1, k=2): the first
    * formulation built bigrams with a HOF `transform` indexing the token
    * array — lambda bodies are outside CSE, so Catalyst re-inlined the
    * `split()` per element and the query went quadratic (7.8 s at sf0.1
    * vs 0.3 s fused). Distinctness over 64-bit hashes equals string
    * distinctness up to per-document collision odds of ~n²/2⁶⁵ —
    * negligible, the same documented tradeoff as [[TextOps.dedupExact]].
    */
  private[graft] def repetition(docs: DataFrame): DataFrame =
    curationFlags(docs)
      .select(col("doc_id"), col("n_tok"), col("dup_word_frac"),
        col("dup_bigram_frac"), col("quality_keep").as("keep"))
      .orderBy(col("doc_id"))

  // ------------------------------------------------------- normalization

  /** Unicode + whitespace text normalization — the cleanup pass every
    * published crawl pipeline runs before anything hashes or tokenizes
    * (C4's "clean" step, Dolma's unicode fixes): canonical NFC
    * composition (so `e` + COMBINING ACUTE and precomposed `é` hash
    * identically downstream — un-normalized text silently splits
    * duplicate clusters), lowercase, control characters to spaces,
    * whitespace runs collapsed, edges trimmed. NFC is the one step
    * with no Spark built-in — [[graft.functions.NfcNormalize]] wraps
    * the JDK's UAX #15 implementation as a codegen'd expression with
    * an allocation-free already-normalized fast path (ASCII crawl
    * text); DuckDB's `nfc_normalize` (utf8proc) implements the same
    * published algorithm, which is what makes the chain oracle-able.
    * Zero shuffles: scan-speed row-local projection; the determinism
    * sort is the only exchange.
    */
  def qNormalizeText(spark: SparkSession, dir: String): DataFrame =
    normalizeText(Tables.documents(spark, dir))

  /** Core of [[qNormalizeText]] over any (doc_id, text) frame. */
  private[graft] def normalizeText(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(regexp_replace(
      lower(graft.functions.TextFunctions.nfcNormalize(col("text"))),
      "[\\x00-\\x1f\\x7f]", " "), " +", " "))
    docs
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("n_chars_raw"),
        norm.as("norm_text"))
      .select(col("doc_id"), col("n_chars_raw"), col("norm_text"),
        length(col("norm_text")).cast("long").as("n_chars_norm"),
        (col("norm_text") =!= col("text")).cast("int").as("changed"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------ pii scrub

  /** PII detection + redaction — the C4/Dolma-style cleanup pass every
    * public web corpus runs before training: emails, US-SSN-shaped and
    * US-phone-shaped digit groups are counted (on the ORIGINAL text,
    * for the audit columns) and replaced with typed placeholder tokens.
    * Pure per-row regex expressions in whole-stage codegen — zero
    * shuffle, scan-speed at 100 TB. The patterns stick to constructs
    * with identical semantics in Java regex (Spark) and RE2 (DuckDB):
    * character classes, bounded repetition, ASCII `\b` word boundaries
    * — no backreferences, no lookaround (RE2 has neither). The
    * SSN/phone shapes (3-2-4 vs 3-3-4 digit groups) cannot overlap a
    * match, so the replacement order is immaterial.
    */
  def qPiiScrub(spark: SparkSession, dir: String): DataFrame =
    piiScrub(Tables.documents(spark, dir))

  private[graft] val emailPattern =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val ssnPattern = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
  private[graft] val phonePattern = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

  /** Core of [[qPiiScrub]] over any (doc_id, text) frame. */
  private[graft] def piiScrub(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(emailPattern), lit(0)))
        .as("n_emails"),
      size(regexp_extract_all(col("text"), lit(ssnPattern), lit(0)))
        .as("n_ssns"),
      size(regexp_extract_all(col("text"), lit(phonePattern), lit(0)))
        .as("n_phones"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), emailPattern, "<EMAIL>"),
          ssnPattern, "<SSN>"),
        phonePattern, "<PHONE>").as("clean_text"))
      .withColumn("has_pii",
        col("n_emails") + col("n_ssns") + col("n_phones") > 0)
      .orderBy(col("doc_id"))

  // ------------------------------------------------------------ source cap

  /** Per-source document cap — the anti-domination quota every crawl
    * mix applies so one mega-domain can't swamp the corpus: each source
    * keeps its `cap` documents with the smallest stable per-document
    * hashes (md5 over a salted doc_id — the [[trainSplit]] determinism
    * discipline: reproducible outside Spark, stable as the corpus
    * grows, uncorrelated with the split/sample draws by the salt).
    *
    * This declared form is the one-window EXACT semantics: a
    * row_number over each source ordered by (hash, doc_id). Its scale
    * exposure is the window sort itself — one reducer sees a whole
    * mega-source. [[sourceCapPruned]] is the 100 TB path: broadcast
    * per-source counts, keep rows whose 32-bit hash prefix falls under
    * `margin·cap/n_src` of the keyspace (row-local), and run the exact
    * window on the ~margin·cap survivors per source. Under-selection
    * (a source's cap-th smallest hash above the bound) is the binomial
    * lower tail at mean margin·cap — for margin 4, cap 10 that is
    * P[Bin(n, 40/n) < 10] < 1e-9 for any n, and sources at or below
    * margin·cap keep everything (bound 1), so the pruned plan equals
    * this one except with negligible probability on adversarial data —
    * the parity spec pins equality on real and synthetic corpora.
    */
  def qSourceCap(spark: SparkSession, dir: String): DataFrame =
    sourceCap(Tables.documents(spark, dir))

  private[graft] def capHash(id: Column): Column =
    md5(concat(id.cast("string"), lit(":cap")))

  /** Core of [[qSourceCap]]: exact one-window form. */
  private[graft] def sourceCap(docs: DataFrame, cap: Int = 10): DataFrame =
    docs
      .withColumn("rk", row_number().over(Window.partitionBy(col("source"))
        .orderBy(capHash(col("doc_id")), col("doc_id"))))
      .filter(col("rk") <= cap)
      .select(col("doc_id"), col("source"), col("rk"))
      .orderBy(col("doc_id"))

  /** Scale path of [[qSourceCap]]: hash-prefix pruning ahead of the
    * exact window (see the declared query's scaladoc for the
    * under-selection bound). The window input shrinks from the corpus
    * to ~margin·cap rows per source; the broadcast count table is
    * source-cardinality-sized. */
  private[graft] def sourceCapPruned(docs: DataFrame, cap: Int = 10,
      margin: Int = 4): DataFrame = {
    val counts = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_src"))
    val bound = least(lit(1.0),
      lit(margin.toDouble * cap) / col("n_src"))
    val hash32 = conv(substring(capHash(col("doc_id")), 1, 8), 16, 10)
      .cast("long").cast("double")
    docs.join(broadcast(counts), "source")
      .filter(hash32 < bound * lit(4294967296.0))
      .withColumn("rk", row_number().over(Window.partitionBy(col("source"))
        .orderBy(capHash(col("doc_id")), col("doc_id"))))
      .filter(col("rk") <= cap)
      .select(col("doc_id"), col("source"), col("rk"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------- chunking

  /** Context-window chunking with overlap — the other half of sequence
    * preparation: where [[packSequences]] concatenates SHORT documents
    * up to the budget, chunking cuts LONG documents down to it, with a
    * stride shorter than the window so consecutive chunks share
    * (window − stride) tokens of context (the standard long-document
    * recipe for pre-training and embedding corpora). Chunk k of a
    * document covers tokens [k·stride, k·stride + window); starts are
    * every stride-th token index below the document length, so even an
    * empty document yields its one (degenerate) chunk and no text is
    * ever dropped.
    *
    * Scale shape: ZERO shuffle — `split` → `posexplode(sequence(...))`
    * → `slice`/`array_join` is all row-local, the fanout per row is
    * ⌈tokens/stride⌉, and the output streams straight to the sink. This
    * is the multimodal frame-sample pattern applied to text: an expand,
    * not a join, so it scales at scan speed. The declared query's
    * orderBy exists for the oracle's presentation only.
    */
  def qChunkDocs(spark: SparkSession, dir: String): DataFrame =
    chunkDocs(Tables.documents(spark, dir))
      .orderBy(col("doc_id"), col("chunk_id"))

  /** Core of [[qChunkDocs]]: window/stride in plain-space tokens (the
    * corpus tokenization contract); defaults sized so the test corpus's
    * 10-99-token documents produce 1-5 chunks each. */
  private[graft] def chunkDocs(docs: DataFrame, window: Int = 32,
      stride: Int = 24): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"), posexplode(
        sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)),
          lit(stride))).as(Seq("chunk_id", "start")))
      .select(col("doc_id"), col("chunk_id"),
        array_join(slice(col("toks"), col("start") + 1, lit(window)), " ")
          .as("chunk_text"),
        least(size(col("toks")) - col("start"), lit(window))
          .as("n_chunk_tokens"))

  // -------------------------------------------------------------- packing

  /** Sequence packing — the concat-and-chunk packing every GPT-style
    * pre-training run does: documents are concatenated in a deterministic
    * order and cut into fixed token-budget packs; a document's `pack_id`
    * is the pack its first token lands in.
    *
    * Scale posture: a single global concatenation order would be one
    * giant window (single reducer). Instead documents are hash-sharded
    * (md5 first hex digit here; production widens the prefix so shards ≫
    * executors) and packed per shard — the running-sum window partitions
    * by shard, so the packing parallelizes and each reducer sees one
    * shard's worth. Shard assignment is the same stable-hash discipline
    * as [[trainSplit]]: corpus growth only appends to shards, never
    * reshuffles old documents between them.
    */
  def qPackSequences(spark: SparkSession, dir: String): DataFrame =
    packSequences(Tables.documents(spark, dir))

  /** Core of [[qPackSequences]]: pack to `budget` tokens within each of
    * 16^`shardHexLen` shards. */
  private[graft] def packSequences(docs: DataFrame, budget: Int = 512,
      shardHexLen: Int = 1): DataFrame =
    packAssign(docs, budget, shardHexLen)
      .orderBy(col("shard"), col("doc_id"))

  /** Unsorted packing assignment — the shape downstream AGGREGATES
    * consume ([[packManifest]]): Spark 4 does not eliminate a global
    * sort under a later aggregate, so building the rollup on the sorted
    * declared query carried a wasted corpus-scale range shuffle
    * (measured: 4 shuffles → 3 without it). */
  private[graft] def packAssign(docs: DataFrame, budget: Int = 512,
      shardHexLen: Int = 1): DataFrame = {
    val base = docs.select(
      col("doc_id"),
      shardCol(col("doc_id"), shardHexLen).as("shard"),
      size(toks).as("n_tok"))
    val cum = sum(col("n_tok")).over(
      Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    base.withColumn("cum", cum)
      .select(col("doc_id"), col("shard"), col("n_tok"),
        floor((col("cum") - col("n_tok")) / lit(budget.toDouble))
          .cast("long").as("pack_id"))
  }

  /** The pack-level rollup of [[qPackSequences]] — one row per
    * (shard, pack): member count, token total, and the ordered member
    * list (joined to a string so the oracle compare stays scalar). This
    * is the manifest a sequence-building job consumes: it reads each
    * pack's documents in doc_id order and concatenates. Per-pack state
    * is bounded by budget/min-doc-tokens members, so the collect_list
    * aggregate never holds more than a pack's worth — safe at any
    * corpus size. */
  def qPackManifest(spark: SparkSession, dir: String): DataFrame =
    packManifest(Tables.documents(spark, dir))

  /** Core of [[qPackManifest]]: rollup of the packing assignment. */
  private[graft] def packManifest(docs: DataFrame): DataFrame =
    packAssign(docs)
      .groupBy(col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        array_join(sort_array(collect_list(col("doc_id"))), "-")
          .as("doc_ids"))
      .orderBy(col("shard"), col("pack_id"))

  // ----------------------------------------------------------- resampling

  /** Data-mixing EXECUTION step — the operator that consumes a mixture
    * report: per-document repeat counts that reweight the corpus toward
    * a uniform per-language token share (the up/down-sampling every
    * published pre-training mix applies to its sources). A document's
    * language cell gets weight `target_tokens / actual_tokens`; each
    * document repeats `floor(weight)` times plus one more with
    * probability `frac(weight)`, drawn DETERMINISTICALLY by comparing
    * four md5 hex digits of a salted doc key against the fraction
    * scaled to 16⁴ — so the materialized epoch plan is reproducible
    * bit-for-bit by the oracle or a data loader, and re-runs never
    * reshuffle which documents got the extra repeat.
    *
    * Scale shape: the weight table is language-count-sized and
    * broadcast; everything else is the per-row hash discipline of
    * [[trainSplit]]. The aggregate that builds the weights shuffles
    * only per-cell partials.
    */
  def qMixResample(spark: SparkSession, dir: String): DataFrame =
    mixResample(Tables.documents(spark, dir))

  /** Core of [[qMixResample]] over any (doc_id, lang, text) frame. */
  private[graft] def mixResample(docs: DataFrame): DataFrame = {
    val cells = docs.groupBy(col("lang"))
      .agg(sum(size(toks)).as("cell_tokens"))
    // tiny post-agg frame: the unpartitioned windows see one row per
    // language, never the corpus
    val weights = cells.withColumn("weight",
      (sum(col("cell_tokens")).over(Window.partitionBy()).cast("double") /
        count(lit(1)).over(Window.partitionBy())) / col("cell_tokens"))
      .select(col("lang"), col("weight"))
    val frac16 = floor((col("weight") - floor(col("weight"))) * 65536)
    val extraDraw = upper(substring(
      md5(concat(col("doc_id").cast("string"), lit("#rep"))), 1, 4)) <
      lpad(hex(frac16), 4, "0")
    docs.select(col("doc_id"), col("lang"))
      .join(broadcast(weights), "lang")
      .select(col("doc_id"), col("lang"), col("weight"),
        (floor(col("weight")) + when(extraDraw, 1).otherwise(0))
          .cast("long").as("n_repeats"))
      .orderBy(col("doc_id"))
  }

  /** Exact uniform k-per-stratum sample (distributed reservoir
    * sampling, derandomized): exactly min(k, |stratum|) documents per
    * language, each k-subset uniform over the stratum — the
    * fixed-SIZE member of the sampling family ([[qSampleStratified]]
    * draws a fixed RATE, so its output size is binomial; eval-set and
    * human-review construction want exact counts).
    *
    * Bottom-k of a random permutation is a uniform k-subset, and the
    * permutation here is the engine's standard derandomized draw: the
    * first 8 md5 hex digits of the salted doc_id as a 32-bit integer
    * ([[trainSplit]] lineage — reproducible row-by-row outside Spark,
    * re-salting re-draws an independent sample, and the oracle
    * replays it verbatim). Distinct doc_ids give distinct-enough
    * draws; exact collisions settle on the doc_id tie-break, costing
    * uniformity nothing measurable at 2³² resolution.
    *
    * Scale shape: the textbook formulation — `row_number() OVER
    * (PARTITION BY lang ORDER BY draw)` — SORTS every stratum: a full
    * corpus-key exchange plus per-partition sort state, all to keep k
    * rows. Here the bounded [[graft.functions.BottomKDraws]] aggregate
    * (the [[Vectors]] top-k shortlist discipline pointed at sampling)
    * reduces every map partition to ≤ k draws per stratum BEFORE the
    * exchange, so shuffle volume is #strata × k fixed-width rows —
    * independent of corpus size — and no sort buffer ever holds a
    * stratum. The explode after the aggregate is #strata × k rows,
    * nothing. Deterministic under any partitioning (associative,
    * commutative, doc_id ties).
    */
  def qSampleReservoir(spark: SparkSession, dir: String): DataFrame =
    sampleReservoir(Tables.documents(spark, dir), 20)

  /** Core of [[qSampleReservoir]] over any (doc_id, lang) frame. */
  private[graft] def sampleReservoir(docs: DataFrame, k: Int,
      salt: String = "#resv"): DataFrame = {
    val u32 = conv(substring(
      md5(concat(col("doc_id").cast("string"), lit(salt))), 1, 8),
      16, 10).cast("long")
    docs.select(col("lang"), col("doc_id"), u32.as("draw"))
      .groupBy(col("lang"))
      .agg(graft.functions.BottomKDraws.bottomk(k)(
        col("draw"), col("doc_id")).as("picks"))
      .select(col("lang"), posexplode(col("picks")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("rank"),
        col("col.doc_id").as("doc_id"))
      .orderBy(col("lang"), col("rank"))
  }

  // -------------------------------------------------------------- mixture

  /** Corpus-mixture report: documents, tokens, and token share per
    * (lang, source) cell — the table a data-mixing policy reads to set
    * sampling weights. One groupBy over the corpus (map-side partial
    * aggregation; the shuffle carries only per-cell partials), then the
    * share is computed with an unpartitioned window over the AGGREGATED
    * frame — langs × sources rows, so the single-partition window is a
    * few hundred rows regardless of corpus size.
    */
  def qCorpusMix(spark: SparkSession, dir: String): DataFrame =
    corpusMix(Tables.documents(spark, dir))

  /** Core of [[qCorpusMix]] over any (lang, source, text) frame. */
  private[graft] def corpusMix(docs: DataFrame): DataFrame = {
    val g = docs
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(toks)).as("n_tokens"))
    g.withColumn("token_share",
      col("n_tokens").cast("double") /
        sum(col("n_tokens")).over(Window.partitionBy()).cast("double"))
      .orderBy(col("lang"), col("source"))
  }

  // ------------------------------------------------------------ mix drift

  /** Mixture-drift report between two corpus snapshots: per
    * (lang, source) cell, document counts and corpus shares in each
    * snapshot plus the share delta — the guard a training pipeline
    * runs before accepting a new crawl, so a silent collapse of one
    * source (or a flood from another) is caught as a mix shift BEFORE
    * it skews the sampled training distribution (the drift dual of
    * [[qCorpusMix]]'s static report).
    *
    * Scale shape: one groupBy per snapshot (map-side partials; the
    * exchange carries per-cell counts only), shares via an
    * unpartitioned window over the AGGREGATED frames — langs × sources
    * rows, regardless of corpus size — and a full-outer join of the two
    * tiny cell tables. Cells present in only one snapshot surface with
    * zero count/share on the other side rather than dropping.
    * Determinism: each share is ONE IEEE division of two exact longs,
    * and the drift is one subtraction of two such quotients — no FP
    * summation order anywhere.
    */
  private[graft] def mixDrift(base: DataFrame, next: DataFrame): DataFrame = {
    def cells(df: DataFrame): DataFrame = {
      val g = df.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"))
      g.withColumn("share", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy()).cast("double"))
    }
    val b = cells(base).select(col("lang"), col("source"),
      col("n").as("n_base"), col("share").as("share_base"))
    val n = cells(next).select(col("lang"), col("source"),
      col("n").as("n_next"), col("share").as("share_next"))
    b.join(n, Seq("lang", "source"), "full_outer")
      .select(col("lang"), col("source"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_next"), lit(0L)).as("n_next"),
        coalesce(col("share_base"), lit(0.0)).as("share_base"),
        coalesce(col("share_next"), lit(0.0)).as("share_next"),
        (coalesce(col("share_next"), lit(0.0)) -
          coalesce(col("share_base"), lit(0.0))).as("share_drift"))
      .orderBy(col("lang"), col("source"))
  }

  /** Declared mix-drift query over the same derived crawls as
    * [[qSnapshotDiff]] (base misses `doc_id % 11 = 3`, next misses
    * `% 11 = 5`; text changes don't move counts, so the stale-text
    * class needs no mirroring here). */
  def qMixDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    mixDrift(docs.filter(col("doc_id") % 11 =!= 3),
      docs.filter(col("doc_id") % 11 =!= 5))
  }

  // --------------------------------------------------------- snapshot diff

  /** Snapshot delta between two corpus crawls: every `doc_id` that was
    * `added`, `removed`, or `changed` from `base` to `next` (unchanged
    * documents — the overwhelming majority of a re-crawl — are dropped,
    * so the output is delta-sized, not corpus-sized). This is the
    * change-detection front half of the nightly re-crawl posture the
    * compaction operator (the MinHash [[Lifecycle.compact]] query) consumes: diff the
    * crawls first, then re-shingle ONLY the changed/added slice instead
    * of the whole snapshot (reference nightly-sync cadence,
    * /root/reference/insights.md:169-172).
    *
    * Scale shape: both sides are projected to `(doc_id, md5(text))`
    * BEFORE the full-outer join, so the shuffle moves a 16-byte digest
    * per document, not the document bytes — on a 100 TB corpus with
    * ~1 KB-1 MB documents that is a 100-1000× cut in exchange volume,
    * and the digest runs map-side in whole-stage codegen at scan speed.
    * The join itself is a sort-merge on `doc_id`; snapshots bucketed by
    * `doc_id` (the natural layout for crawl storage, and what
    * [[graft.operators.Relational]]'s silver table already does) make
    * it shuffle-free entirely. Equal-digest ⇒ unchanged has the
    * standard content-hash caveat (md5 collision ~2^-64 birthday bound
    * corpus-wide), the same trade every published crawl differ makes;
    * swapping in a wider digest is a one-line change.
    */
  private[graft] def snapshotDiff(base: DataFrame, next: DataFrame): DataFrame = {
    val b = base.select(col("doc_id"), md5(col("text")).as("b_sig"))
    val n = next.select(col("doc_id"), md5(col("text")).as("n_sig"))
    b.join(n, Seq("doc_id"), "full_outer")
      .filter(!(col("b_sig") <=> col("n_sig"))) // IS DISTINCT FROM
      .select(col("doc_id"),
        when(col("b_sig").isNull, lit("added"))
          .when(col("n_sig").isNull, lit("removed"))
          .otherwise(lit("changed")).as("change"))
      .orderBy(col("doc_id"))
  }

  /** Apply a CDC change batch onto a base snapshot — MERGE semantics
    * without a table format: `upsert` rows replace (or insert) their
    * `doc_id`, `delete` ids disappear, untouched base rows pass
    * through. Composed after [[snapshotDiff]] this closes the re-crawl
    * loop: diff the crawls, turn the delta into a change batch, merge
    * it onto the published snapshot — the batch dual of the reference's
    * nightly upsert sink posture (/root/reference/insights.md:169-172;
    * the same op a lakehouse MERGE INTO runs, expressed as a plain
    * plan so it works on bare parquet).
    *
    * Scale shape: the change batch is delta-sized (re-crawls touch a
    * fraction of the corpus), so BOTH joins keep the corpus on the
    * streamed side — a broadcast-able right side when the delta fits,
    * hash-partitioned otherwise. The copy-on-write framing: with the
    * snapshot laid out doc_id-partitioned, the anti+outer pair rewrites
    * only partitions the batch's keys touch (plan-time pruning by the
    * batch's key bounds), which is exactly what table formats do under
    * MERGE. No wide columns cross an exchange redundantly: the upsert
    * side carries its
    * replacement text once, the base carries its text once, and the
    * coalesce picks per row.
    *
    * Batch contract: at most ONE operation per doc_id per batch — the
    * lakehouse MERGE precondition (Delta/Iceberg ERROR on multiple
    * source matches for one target row; there is no order column here
    * to resolve them by). The diff-derived batches satisfy it by
    * construction (one delta row per doc_id), and the streaming specs'
    * one-file-per-trigger intake keeps cross-file conflicts in
    * separate batches, where later-op-wins is pinned. A multi-op batch
    * would surface loudly as duplicate doc_ids in the merged snapshot,
    * not as a silent arbitrary winner.
    */
  private[graft] def cdcMerge(base: DataFrame, changes: DataFrame): DataFrame = {
    val ups = changes.filter(col("op") === "upsert")
      .select(col("doc_id"), col("text").as("u_text"))
    val dels = changes.filter(col("op") === "delete")
      .select(col("doc_id"))
    base.select(col("doc_id"), col("text").as("b_text"))
      .join(dels, Seq("doc_id"), "left_anti")
      .join(ups, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("u_text"), col("b_text")).as("text"))
      .orderBy(col("doc_id"))
  }

  /** Enforce [[cdcMerge]]/[[cdcMergeDocs]]'s one-op-per-doc_id-per-batch
    * contract at the SINK boundary, where it can actually be violated:
    * diff-derived batches satisfy it by construction, but a file-source
    * restart with a backlog coalesces many change files into ONE
    * micro-batch (the default trigger reads all available files), and a
    * multi-op batch then silently corrupts the merge — duplicate
    * doc_ids in the snapshot and, worse, a DOUBLED retract leg in the
    * incremental MV, which just drifts with no loud symptom.
    *
    * Two modes, chosen by schema:
    *   - batch carries a `seq` column (any orderable intake sequence —
    *     an explicit change-log LSN, a file mtime, a kafka offset):
    *     collapse to last-op-wins per doc_id under the TOTAL order
    *     max(struct(seq, op, payload…)) — deterministic even on seq
    *     ties (house rule: every boundary gets a total order). The
    *     collapsed batch equals the sequential fold of the ops, so a
    *     backlog replayed as one batch applies exactly like the
    *     batches it coalesced.
    *   - no `seq`: there is nothing to order duplicates by, so any
    *     duplicate doc_id FAILS the batch loudly (the lakehouse MERGE
    *     posture — Delta/Iceberg error on multiple source matches)
    *     rather than letting an arbitrary winner drift the MV.
    * Cost: one delta-sized aggregate per micro-batch — noise next to
    * the publish. */
  private[graft] def collapseOps(batch: DataFrame): DataFrame = {
    val payload = batch.columns.filterNot(c => c == "doc_id" || c == "seq")
    if (batch.columns.contains("seq")) {
      batch.groupBy(col("doc_id"))
        .agg(max(struct(col("seq") +: payload.map(col): _*)).as("r"))
        .select(col("doc_id") +: payload.map(c => col(s"r.$c").as(c)): _*)
    } else {
      val dup = batch.groupBy(col("doc_id")).count()
        .filter(col("count") > 1).limit(1).collect()
      if (dup.nonEmpty) throw new IllegalStateException(
        s"change batch carries multiple ops for doc_id=${dup.head.get(0)} " +
          "and no seq column to order them by; add a seq column for " +
          "last-op-wins or deliver one op per doc_id per batch")
      batch
    }
  }

  /** [[cdcMerge]] widened to the full document row (doc_id, source,
    * text) — the same anti+outer plan shape, but the upsert payload
    * rides ONE struct so the per-row coalesce replaces the whole row
    * atomically (a column-by-column coalesce could interleave an old
    * source with a new text). Serves the streaming MV-maintenance leg,
    * whose refreshed rollup needs `source` to survive the merge.
    * Carries [[cdcMerge]]'s one-op-per-doc_id-per-batch contract. */
  private[graft] def cdcMergeDocs(base: DataFrame,
      changes: DataFrame): DataFrame = {
    val ups = changes.filter(col("op") === "upsert")
      .select(col("doc_id"),
        struct(col("source"), col("text")).as("u"))
    val dels = changes.filter(col("op") === "delete")
      .select(col("doc_id"))
    base.select(col("doc_id"),
        struct(col("source"), col("text")).as("b"))
      .join(dels, Seq("doc_id"), "left_anti")
      .join(ups, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), coalesce(col("u"), col("b")).as("r"))
      .select(col("doc_id"), col("r.source").as("source"),
        col("r.text").as("text"))
  }

  /** Declared CDC-merge query: the change batch is the
    * [[qSnapshotDiff]] delta materialized as operations (added/changed
    * ⇒ upsert with the new crawl's text, removed ⇒ delete), applied
    * onto the same derived base crawl. By construction the merged
    * result must equal the next crawl EXACTLY — which is what the
    * oracle checks, making the whole diff→batch→merge loop
    * self-verifying rather than fixture-trusted.
    */
  def qCdcMerge(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val base = docs.filter(col("doc_id") % 11 =!= 3)
      .withColumn("text",
        when(col("doc_id") % 11 === 7, concat(col("text"), lit(" [stale]")))
          .otherwise(col("text")))
    val next = docs.filter(col("doc_id") % 11 =!= 5)
    val delta = snapshotDiff(base, next)
    val changes = delta
      .join(next.select(col("doc_id"), col("text")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("change") === "removed", lit("delete"))
          .otherwise(lit("upsert")).as("op"),
        col("text"))
    cdcMerge(base, changes)
  }

  /** Declared snapshot-diff query. The two crawls are derived
    * deterministically from the `documents` table (mirrored in the
    * DuckDB oracle): the base crawl is missing `doc_id % 11 = 3`
    * (those arrive in the next crawl ⇒ `added`), the next crawl is
    * missing `doc_id % 11 = 5` (⇒ `removed`), and `doc_id % 11 = 7`
    * documents carry stale text in the base crawl (⇒ `changed`). The
    * mod-11 classes are disjoint, so the spec can pin the class of
    * every emitted row exactly.
    */
  def qSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val base = docs.filter(col("doc_id") % 11 =!= 3)
      .withColumn("text",
        when(col("doc_id") % 11 === 7, concat(col("text"), lit(" [stale]")))
          .otherwise(col("text")))
    val next = docs.filter(col("doc_id") % 11 =!= 5)
    snapshotDiff(base, next)
  }

  // --------------------------------------- incremental view maintenance

  /** Incremental materialized-view maintenance: refresh a per-`source`
    * rollup (`n_docs`, `n_tokens`) under a [[snapshotDiff]] delta
    * WITHOUT rescanning the corpus — the third leg of the nightly
    * re-crawl loop (diff → merge the snapshot ([[cdcMerge]]) → refresh
    * the aggregates that serve dashboards and mixing policies, all
    * delta-sized).
    *
    * The delta is applied in RETRACT/INSERT form — the standard IVM
    * decomposition (count and sum are self-maintainable aggregates):
    * every delta doc present in `base` contributes `(source, −1,
    * −tokens)`, every one present in `next` contributes `(source, +1,
    * +tokens)`; a `changed` doc emits both rows, so a document that
    * MOVES source decrements its old cell and increments its new one —
    * no per-op case analysis, and `added`/`removed` fall out as the
    * one-sided cases. Groups whose refreshed count reaches zero are
    * dropped, matching a from-scratch recompute exactly (the declared
    * query's oracle IS that recompute over the next crawl, so the
    * whole maintenance identity mv ⊎ Δ = eval(next) is checked
    * end-to-end, not fixture-trusted — the [[qCdcMerge]]
    * self-verifying posture).
    *
    * Scale shape: the delta (re-crawls touch a fraction of the corpus)
    * is joined TO each crawl on `doc_id` with the corpus streamed —
    * broadcast-able when the delta fits, hash-partitioned otherwise —
    * and only the matched slice's token counts are computed; the
    * retract/insert union then aggregates to source-cardinality
    * partials. The published MV itself is group-cardinality-sized, so
    * the final outer-join-and-coalesce costs nothing at any corpus
    * scale. Token counts are exact longs (whitespace tokens, the
    * [[corpusMix]] definition), so refresh arithmetic is order-free
    * integer addition — no FP drift across refresh generations.
    *
    * Delta-completeness contract: the refresh is only as correct as
    * the delta is complete — every document whose VIEW-INPUT columns
    * (`source`, `text`) differ between the crawls must appear in it.
    * [[snapshotDiff]]'s signature is md5(text), which covers the
    * declared derivation (source never moves without a text change
    * there); a deployment where metadata can change independently
    * widens the digest to md5(source ‖ text) — a one-line change, and
    * CurationSpec's source-move test pins the retract/insert algebra
    * that makes the widened delta land in both cells correctly.
    */
  private[graft] def mvRefresh(baseMv: DataFrame, base: DataFrame,
      next: DataFrame, delta: DataFrame): DataFrame = {
    val ids = delta.select(col("doc_id"))
    def side(crawl: DataFrame, sign: Int): DataFrame =
      crawl.select(col("doc_id"), col("source"), size(toks).as("tk"))
        .join(ids, Seq("doc_id"))
        .select(col("source"), lit(sign.toLong).as("d_docs"),
          (lit(sign.toLong) * col("tk")).as("d_tokens"))
    val deltaAgg = side(base, -1).unionAll(side(next, +1))
      .groupBy(col("source"))
      .agg(sum(col("d_docs")).as("d_docs"),
        sum(col("d_tokens")).as("d_tokens"))
    baseMv.join(deltaAgg, Seq("source"), "full_outer")
      .select(col("source"),
        (coalesce(col("n_docs"), lit(0L)) +
          coalesce(col("d_docs"), lit(0L))).as("n_docs"),
        (coalesce(col("n_tokens"), lit(0L)) +
          coalesce(col("d_tokens"), lit(0L))).as("n_tokens"))
      .filter(col("n_docs") =!= 0L)
      .orderBy(col("source"))
  }

  /** The maintained view definition over any (source, text) frame —
    * shared by the declared query's base-MV build and the specs'
    * from-scratch oracle side. */
  private[graft] def sourceRollup(docs: DataFrame): DataFrame =
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(size(toks)).as("n_tokens"))

  /** Declared IVM query over the [[qSnapshotDiff]] crawl derivation:
    * the base MV (in production the published artifact of the previous
    * refresh; built in-plan here) is rolled forward under the
    * diff-derived delta, and the oracle recomputes the rollup directly
    * over the next crawl — equality is the IVM maintenance identity.
    */
  def qMvRefresh(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val base = docs.filter(col("doc_id") % 11 =!= 3)
      .withColumn("text",
        when(col("doc_id") % 11 === 7, concat(col("text"), lit(" [stale]")))
          .otherwise(col("text")))
    val next = docs.filter(col("doc_id") % 11 =!= 5)
    mvRefresh(sourceRollup(base), base, next, snapshotDiff(base, next))
  }
}
