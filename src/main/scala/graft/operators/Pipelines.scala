package graft.operators

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.FiniteDuration

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.{Tables, Versions}

/** Composed end-to-end pipelines — the reference's actual *product* is
  * not single operators but whole task dataflows
  * (/root/reference/src/coding_task_1.py:438-459, SURVEY §3 EP1–EP3).
  * Round 2 implemented every stage as a separate declared query; this
  * object chains them into single plans so stage-composition behavior
  * (schema drift between clean→build, null flow across the join) is
  * itself oracle-checked.
  */
object Pipelines {

  /** EP1 — the task-1 pipeline as ONE declared plan:
    *
    *   filtered scan (S3, coding_task_1.py:64-83)
    *   → PII array-filter (P3: numeric identifier tokens scrubbed from
    *     the name, :199-204)
    *   → first-encounter lookup (J1+A3 child records reduced to a
    *     deterministic first-of-group, :85-109/:122-127) as a LEFT join
    *   → null imputation (F1: district ← 'Not found' for patients with
    *     no encounter, :211-212)
    *   → concat/trim normalization (F3 address text, :214-220)
    *   → hierarchy enrichment (J2 nation→region, :137-175)
    *   → nested struct build + JSON serialization (D1, :238-319)
    *   → constraint validation count (V1, validation.py:8-34)
    *
    * Scale shape: one shuffled first-of-group aggregate on orders (8-byte
    * keys, map-side partials), one shuffled left join fact⋈fact on
    * c_custkey, two broadcast dimension joins, then pure per-row
    * expressions — no stage materializes anything wider than the output
    * row. All JSON struct fields are non-null strings/arrays so Spark's
    * `to_json` and DuckDB's `to_json(struct_pack(...))` agree byte-wise
    * (the q_build_struct parity result).
    */
  def qPipelineEtl(spark: SparkSession, dir: String): DataFrame = {
    // S3: server-side filtered scan (pushed to parquet)
    val pts = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
    // J1+A3: deterministic first encounter per patient
    val fo = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(min(struct(col("o_orderdate"), col("o_orderkey"),
        col("o_orderpriority"))).as("f"))
      .select(col("o_custkey"),
        col("f.o_orderkey").as("first_orderkey"),
        col("f.o_orderdate").as("first_orderdate"),
        col("f.o_orderpriority").as("first_priority"))
    val nation = broadcast(Tables.nation(spark, dir))
    val region = broadcast(Tables.region(spark, dir))

    // P3: PII scrub — numeric identifier tokens dropped from the name
    val nameParts = filter(split(col("c_name"), "#"),
      p => !p.rlike("^[0-9]+$"))

    val enriched = pts
      .join(fo, col("c_custkey") === col("o_custkey"), "left")
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .withColumn("name_parts", nameParts)
      .withColumn("name_text", array_join(col("name_parts"), " "))
      // F1: impute the district from the first encounter's priority
      .withColumn("district",
        coalesce(col("first_priority"), lit("Not found")))
      // F3: normalized address text
      .withColumn("addr_text", trim(concat_ws(" ",
        col("name_text"), col("n_name"), col("district"), col("r_name"))))

    // V1: constraint battery evaluated on the *composed* row
    val checks = array(
      when(col("c_acctbal") < 0, lit("negative account balance")),
      when(col("first_orderkey").isNull, lit("no encounters on file")),
      when(!col("c_name").startsWith("Customer#"), lit("bad name format")))

    enriched.select(
      col("c_custkey"),
      to_json(struct(
        lit("Patient").as("resourceType"),
        concat(lit("Patient/"), col("c_custkey").cast("string")).as("id"),
        struct(
          lit("generated").as("status"),
          concat(lit("<div xmlns=\"http://www.w3.org/1999/xhtml\"><p>"),
            col("name_text"), lit("</p></div>")).as("div")).as("text"),
        struct(
          col("name_text").as("text"),
          col("name_parts").as("given")).as("name"),
        struct(
          col("addr_text").as("text"),
          col("n_name").as("city"),
          col("district").as("district"),
          col("r_name").as("state")).as("address"),
        struct(
          concat(lit("Encounter/"),
            coalesce(col("first_orderkey").cast("string"), lit("none")))
            .as("reference"),
          coalesce(date_format(col("first_orderdate"), "yyyyMMdd"),
            lit("none")).as("period")).as("encounter"))).as("doc"),
      size(filter(checks, x => x.isNotNull)).as("n_violations"))
      .orderBy(col("c_custkey"))
  }

  /** EP2 — the task-3 create-if-missing pipeline as ONE declared plan
    * (/root/reference/src/coding_task_3.py:54-87 + main :236-245; the
    * `insights.md:223` care-gap query): patients WITHOUT a recent
    * encounter get a synthesized vitals Observation (the reference's
    * literal 120/80 build, coding_task_3.py:159,188); patients WITH one
    * carry their deterministic first recent encounter as the existing
    * Observation. The anti/semi split is one left join observed two
    * ways, the build is the D2 struct shape, and the union is implicit
    * in the CASE'd projection — exactly the imperative
    * `if entry is None: create` re-expressed declaratively.
    *
    * Scale shape: one shuffled first-of-group aggregate over the
    * date-filtered orders (the filter is pushed to the scan, so only
    * recent keys shuffle), one shuffled left join on c_custkey, then
    * per-row expressions.
    */
  /** EP3 — end-to-end LLM CORPUS CURATION as one declared plan: the
    * composed dataflow a training-data pipeline actually ships, chaining
    * the already-proven stages into per-document keep decisions with
    * audit columns (the row a curation job filters on and the reasons a
    * data-quality review needs):
    *
    *   near-dup keep/drop flags from the FITTED MinHash index
    *   (banded pairs → shared Components propagation; exact duplicates
    *   are subsumed — identical texts have identical shingle sets, so
    *   J = 1 puts them in one cluster with one kept representative)
    *   → per-document quality stats (token count, type-token ratio,
    *     stopword ratio — q_text_stats' exact expressions) thresholded
    *     into a quality gate (≥25 tokens, stop_ratio ≥ 0.02, ttr ≥ 0.3)
    *   → language-ID (q_lang_id's scoring)
    *   → keep = near-dup representative ∧ quality gate.
    *
    * Scale shape: the dedup flags reuse the published index (no
    * re-shingle) and dup-set-sized propagation; stats and language are
    * pure per-row codegen'd expressions on the single corpus pass; one
    * corpus-keyed shuffle joins flags to stats. Every stage's parity
    * with DuckDB is already pinned by its standalone query, so the
    * composed oracle checks stage COMPOSITION (flag flow across the
    * join, boolean gates over computed doubles), not re-derivations.
    */
  def qPipelineCuration(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // unsorted flags: the doc_id join below re-shuffles anyway
    val near = Components.flagsUnsorted(docs, "doc_id",
      Components.labelComponents(
        TextOps.minhashPairsIndexed(spark, dir)
          .select(col("id_a"), col("id_b"))))
      .withColumnRenamed("is_kept", "near_kept")
    val w = split(col("text"), " ")
    val nTok = size(w)
    val nDis = size(array_distinct(w))
    val nStop = size(filter(w, t => t.isin("a", "the", "and", "of", "in")))
    val lw = split(lower(col("text")), " ")
    val sEn = size(filter(lw, t => t.isin("the", "a", "and", "of", "is")))
    val sDe = size(filter(lw, t => t.isin("der", "die", "das", "und", "ist")))
    val sFr = size(filter(lw, t => t.isin("le", "la", "et", "est", "un")))
    docs
      .select(col("doc_id"),
        nTok.as("n_tokens"),
        (nDis.cast("double") / nTok).as("ttr"),
        (nStop.cast("double") / nTok).as("stop_ratio"),
        when(sEn >= sDe && sEn >= sFr, lit("en"))
          .when(sDe >= sFr, lit("de"))
          .otherwise(lit("fr")).as("pred_lang"))
      .withColumn("quality_ok",
        col("n_tokens") >= 25 && col("stop_ratio") >= 0.02 &&
          col("ttr") >= 0.3)
      .join(near, "doc_id")
      .withColumn("keep", col("near_kept") && col("quality_ok"))
      .select(col("doc_id"), col("cluster_id"), col("near_kept"),
        col("n_tokens"), col("ttr"), col("stop_ratio"),
        col("quality_ok"), col("pred_lang"), col("keep"))
      .orderBy(col("doc_id"))
  }

  def qPipelineCareGap(spark: SparkSession, dir: String): DataFrame = {
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("2000-06-01").cast("timestamp"))
      .groupBy(col("o_custkey"))
      .agg(min(struct(col("o_orderdate"), col("o_orderkey"))).as("f"))
      .select(col("o_custkey"),
        col("f.o_orderkey").as("enc_key"),
        col("f.o_orderdate").as("enc_date"))
    val joined = Tables.customer(spark, dir)
      .join(recent, col("c_custkey") === col("o_custkey"), "left")
    val created = col("enc_key").isNull
    joined.select(
      col("c_custkey"),
      when(created, lit("created")).otherwise(lit("existing"))
        .as("origin"),
      to_json(struct(
        lit("Observation").as("resourceType"),
        lit("vital-signs").as("category"),
        concat(lit("Patient/"), col("c_custkey").cast("string"))
          .as("subject"),
        when(created, lit("synthesized"))
          .otherwise(concat(lit("Encounter/"),
            col("enc_key").cast("string"))).as("encounter"),
        coalesce(date_format(col("enc_date"), "yyyy-MM-dd"),
          lit("1900-01-01")).as("effectiveDate"),
        struct(
          lit("120").as("systolic"),
          lit("80").as("diastolic")).as("component"))).as("doc"))
      .orderBy(col("c_custkey"))
  }

  /** EP4 — the training-data MANIFEST pipeline: one composed plan that
    * turns the raw corpus into what a training run actually consumes,
    * chaining the whole [[Curation]] family with the dedup discipline
    * of [[TextOps]]:
    *
    *   eval holdout split-off (doc_id % 10, the decontamination target)
    *   → exact-dedup survivor flag (min-doc_id window over the 8-byte
    *     xxhash64 of normalized text — the [[TextOps.dedupExact]] key;
    *     the oracle windows over the normalized text itself)
    *   → repetition quality gate (fused distinct-shingle loops, k=1/2)
    *   → benchmark decontamination (8-gram hit set, broadcast)
    *   → deterministic md5 train/val/test split
    *   → per-shard sequence packing of the KEPT train split only
    *
    * Scale shape: two hash-partition windows (normalized-text hash,
    * then md5 shard) and one broadcast join — the hit set is the only
    * thing that moves besides the corpus's own two shuffles. Packing
    * uses a CONDITIONAL running sum inside the shard window
    * (non-kept/non-train rows contribute 0) instead of packing a
    * filtered subset and joining back, which would add a corpus-scale
    * doc_id shuffle join for the same numbers.
    */
  def qPipelineManifest(spark: SparkSession, dir: String): DataFrame =
    manifestFlags(Tables.documents(spark, dir), shardHexLen = 1)

  /** Core of [[qPipelineManifest]] with the packing-shard width as a
    * knob (r8 verdict item 5): the declared query keeps the 1-hex
    * 16-shard layout its oracle mirrors; a production corpus widens
    * `shardHexLen` so shards ≫ executors (16^n shards) — the same
    * stable-md5 discipline, so widening never migrates a document's
    * split, only narrows its packing partition. */
  private[graft] def manifestFlags(docs: DataFrame,
      shardHexLen: Int): DataFrame = {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val evalSet = docs.filter(col("doc_id") % 10 === 0)
    val w = split(col("text"), " ")
    val normHash = xxhash64(lower(trim(
      regexp_replace(col("text"), "\\s+", " "))))
    val scored = corpus.select(
      col("doc_id"), size(w).as("n_tok"), normHash.as("nh"),
      Curation.dupWordFracCol(w).as("dwf"),
      Curation.dupBigramFracCol(w).as("dbf"))
      .withColumn("dedup_keep", col("doc_id") ===
        min(col("doc_id")).over(Window.partitionBy(col("nh"))))
      .withColumn("quality_keep", col("dwf") <= 0.7 && col("dbf") <= 0.2)
    val hits = Curation.contaminationHits(corpus, evalSet)
    val flags = scored
      .join(broadcast(hits.withColumn("hit", lit(true))),
        Seq("doc_id"), "left")
      .withColumn("contaminated", coalesce(col("hit"), lit(false)))
      .withColumn("keep",
        col("dedup_keep") && col("quality_keep") && !col("contaminated"))
      .withColumn("split_name", Curation.splitNameCol(col("doc_id")))
      .withColumn("shard", Curation.shardCol(col("doc_id"), shardHexLen))
    val inPack = col("keep") && col("split_name") === "train"
    val cum = sum(when(inPack, col("n_tok")).otherwise(lit(0))).over(
      Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    flags
      .withColumn("pack_id", when(inPack,
        floor((cum - col("n_tok")) / lit(512.0)).cast("long")))
      .select(col("doc_id"), col("n_tok"), col("dedup_keep"),
        col("quality_keep"), col("contaminated"), col("keep"),
        col("split_name"), col("shard"), col("pack_id"))
      .orderBy(col("doc_id"))
  }

  /** EP5 — the MIXING LOOP as one composed plan (r8 verdict item 8):
    * [[Curation.qCorpusMix]]'s report feeds [[Curation.qMixResample]]'s
    * execution step directly, at the report's full (lang, source) cell
    * granularity — report → weights → per-document repeat plan, one
    * dataflow instead of a human carrying numbers between two queries.
    * Each cell's weight targets the uniform token share
    * (`total/ncells / cell_tokens`); each document repeats
    * `floor(weight)` times plus one more on a deterministic md5 draw
    * (salt `#mix`, independent of the resample query's `#rep` stream),
    * so the materialized epoch plan is reproducible bit-for-bit by the
    * oracle or a data loader.
    *
    * Scale shape: ONE corpus aggregate builds the cells (map-side
    * partials; the shuffle carries per-cell sums), the share/weight
    * windows run over the cell-sized aggregated frame, and the weight
    * table broadcasts back onto the second corpus scan — the corpus
    * itself never shuffles.
    */
  def qPipelineMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = split(col("text"), " ")
    val cells = docs.groupBy(col("lang"), col("source"))
      .agg(sum(size(toks)).as("cell_tokens"))
    val total = sum(col("cell_tokens")).over(Window.partitionBy())
    val weights = cells
      .withColumn("token_share",
        col("cell_tokens").cast("double") / total.cast("double"))
      .withColumn("weight",
        (total.cast("double") / count(lit(1)).over(Window.partitionBy())) /
          col("cell_tokens"))
      .select(col("lang"), col("source"), col("token_share"), col("weight"))
    val frac16 = floor((col("weight") - floor(col("weight"))) * 65536)
    val extraDraw = upper(substring(
      md5(concat(col("doc_id").cast("string"), lit("#mix"))), 1, 4)) <
      lpad(hex(frac16), 4, "0")
    docs.select(col("doc_id"), col("lang"), col("source"))
      .join(broadcast(weights), Seq("lang", "source"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("token_share"), col("weight"),
        (floor(col("weight")) + when(extraDraw, 1).otherwise(0))
          .cast("long").as("n_repeats"))
      .orderBy(col("doc_id"))
  }

  /** EP7 — the composed QUALITY AUDIT: every per-document quality
    * signal the engine computes, in ONE plan — the row a data-quality
    * review actually reads before deciding thresholds, and the widest
    * composition test of the quality family:
    *
    *   row-local signals on a single corpus scan (token count,
    *   dup-word/dup-bigram fractions, PII counts — all codegen'd)
    *   → duplicate-span contamination (span df aggregate + dup-set
    *     join-back, [[TextOps.spanFlags]])
    *   → corpus-frequency score (unigram model aggregate + score
    *     join, [[TextOps.freqFlags]])
    *   → one conjunction: keep = repetition gate ∧ no PII ∧
    *     span gate ∧ rare-token gate.
    *
    * Scale shape: the row-local frame never shuffles; the two scorers
    * contribute their own 8-byte-keyed aggregates; the final assembly
    * is two doc_id-keyed joins. Every stage's parity with DuckDB is
    * pinned by its standalone query, so the composed oracle checks
    * COMPOSITION (flag flow, gate conjunction), not re-derivations.
    */
  def qPipelineQuality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val w = split(col("text"), " ")
    val rowLocal = docs.select(col("doc_id"),
      size(w).as("n_tok"),
      Curation.dupWordFracCol(w).as("dup_word_frac"),
      Curation.dupBigramFracCol(w).as("dup_bigram_frac"),
      (size(regexp_extract_all(col("text"),
          lit(Curation.emailPattern), lit(0))) +
        size(regexp_extract_all(col("text"),
          lit(Curation.ssnPattern), lit(0))) +
        size(regexp_extract_all(col("text"),
          lit(Curation.phonePattern), lit(0)))).as("n_pii"))
    val spans = TextOps.spanFlags(docs)
      .select(col("doc_id"), col("dup_span_frac"))
    val freq = TextOps.freqFlags(docs)
      .select(col("doc_id"), col("mean_freq"), col("rare_frac"))
    rowLocal
      .join(spans, "doc_id")
      .join(freq, "doc_id")
      .withColumn("keep",
        col("dup_word_frac") <= 0.7 && col("dup_bigram_frac") <= 0.2 &&
          col("n_pii") === 0 && col("dup_span_frac") <= 0.3 &&
          col("rare_frac") <= 0.5)
      .select(col("doc_id"), col("n_tok"), col("dup_word_frac"),
        col("dup_bigram_frac"), col("n_pii"), col("dup_span_frac"),
        col("mean_freq"), col("rare_frac"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** Publish the manifest as the durable training-run artifact:
    * parquet partitioned by (split_name, shard) and sorted by doc_id
    * within files — the same write-once/read-many posture as the
    * key-clustered silver layout. A training job reads ONE split
    * (directory-pruned at plan time, no data touched for val/test when
    * training), and an individual data-loader rank reads its own shard
    * subdirectory; the in-file doc_id sort means a pack's members are
    * contiguous. `maxRecordsPerFile` bounds each (split, shard)
    * partition's files (r8 verdict item 5): one partition = one writer
    * task here, and without the bound that task emits ONE arbitrarily
    * large file at corpus scale — the option rolls to a new file every
    * n records, preserving the in-file sort across the roll. */
  def writeManifest(manifest: DataFrame, path: String,
      maxRecordsPerFile: Long = 1L << 22): Unit =
    manifest
      .repartition(col("split_name"), col("shard"))
      .sortWithinPartitions(col("split_name"), col("shard"), col("doc_id"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("split_name", "shard")
      .parquet(path)

  /** One split of a published manifest — the equality predicate on the
    * partition column resolves to directory pruning at plan time. */
  def readManifestSplit(spark: SparkSession, path: String,
      split: String): DataFrame =
    graft.sources.Pq.read(spark, path).filter(col("split_name") === split)

  /** EP8 — the composed LONG-DOCUMENT SEQUENCE PREP: the other
    * sequence-shaping lane next to EP4's short-document packing —
    * quota the crawl, cut what survives into overlapping context
    * windows, pack the windows:
    *
    *   per-source cap ([[Curation.capHash]] window, anti-domination
    *     quota)
    *   → context-window chunking of the kept documents
    *     ([[Curation.chunkDocs]], 32-token window / 24-token stride)
    *   → each chunk becomes a packing unit under the synthetic key
    *     doc_id·256 + chunk_id (contract: chunk_id < 256, i.e.
    *     documents under ~6.1k tokens at this stride; longer corpora
    *     widen the factor — the key only has to be unique and
    *     order-preserving within a document)
    *   → token-budget packing of the chunk units
    *     ([[Curation.packAssign]], 512-token budget, hash-sharded).
    *
    * Scale shape: two window shuffles bracket a row-local expand — the
    * cap window on source, the chunk fanout local, the running-sum
    * pack window on the md5 shard; nothing else is corpus-scale. Every
    * stage is the SHARED expression/operator used by its standalone
    * declared query, so the composition cannot drift from the pieces
    * (the EP3—EP7 discipline).
    */
  /** EP9 — the composed CROSS-MODALITY audit: one row per document
    * joining what the TEXT side and the EMBEDDING side each know about
    * it (the corpus and its embedding table share the id space) — the
    * review a multimodal curation run reads before dropping anything:
    *
    *   text signals: token count + the Gopher-rule quality gate
    *     ([[Curation.curationFlags]], row-local codegen scan)
    *   → embedding near-dup flags: cluster label + keep decision over
    *     the LSH-verified ≥0.8-cosine pair graph (the
    *     [[Vectors.qDedupEmbedClusters]] machinery, unsorted flags)
    *   → int8 quantization range ([[Vectors.quantizeEmbed]] sans codes)
    *   → one conjunction: keep = text gate ∧ embedding-unique.
    *
    * Scale shape: two doc_id/vec_id-keyed joins assemble three frames
    * whose own plans are already audited by their standalone queries;
    * nothing new shuffles beyond the 8-byte-keyed assembly — the EP7
    * assembly discipline applied across modalities.
    */
  def qPipelineMultimodal(spark: SparkSession, dir: String): DataFrame = {
    val text = Curation.curationFlags(Tables.documents(spark, dir))
      .select(col("doc_id"), col("n_tok"), col("quality_keep"))
    val u = Vectors.unit(spark, dir)
    val labels = Components.labelComponents(
      Vectors.lshVerifiedPairs(u).select(col("id_a"), col("id_b")))
    val embed = Components.flagsUnsorted(u, "vec_id", labels)
      .select(col("vec_id").as("doc_id"),
        col("cluster_id").as("embed_cluster"),
        col("is_kept").as("embed_kept"))
    val quant = Vectors.quantCodes(Tables.embeddings(spark, dir))
      .select(col("vec_id").as("doc_id"), col("v_min"), col("v_max"))
    text.join(embed, "doc_id").join(quant, "doc_id")
      .select(col("doc_id"), col("n_tok"), col("quality_keep"),
        col("embed_cluster"), col("embed_kept"), col("v_min"),
        col("v_max"),
        (col("quality_keep") && col("embed_kept")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** EP10 — composed ENGAGEMENT-ANALYTICS pipeline: one row per user
    * carrying every event-analytics signal in ONE dataflow — first-touch
    * cohort date, ordered funnel stage ([[Events.funnelStages]], the
    * q_funnel core), lag-gap session count (the q_session_gap
    * new-session flag summed per user), event count and distinct active
    * days.
    *
    * Scale shape: each branch shuffles by user_id exactly once and only
    * what it needs — Catalyst pushes the funnel branch's event-type
    * filter THROUGH the shared repartition down to the scan, so that
    * branch's exchange carries only view/click/purchase rows while the
    * session branch's carries the full event set it genuinely needs
    * (two minimal shuffles beat one full-width reused one here: 1.6×
    * the rows of a shared exchange would be saved, but the funnel
    * would then window over 5/3× its rows). Every aggregate rides its
    * branch's hash(user_id) partitioning (subset rule — the
    * countDistinct expands through extra HashAggregate levels, never
    * an exchange), and the funnel frame is user-dimension sized, so
    * assembly is a broadcast join: no third shuffle exists. Users with
    * no funnel event coalesce to stage 0. Reducer bound everywhere is
    * the busiest single user — the sessionization posture.
    */
  def qPipelineEngagement(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"))
      .repartition(col("user_id"))
    val lagW = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapUs = 30L * 60 * 1000000
    val perUser = byUser
      .withColumn("prev_ts", lag(col("ts"), 1).over(lagW))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapUs, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("cohort"),
        count(lit(1)).as("n_events"),
        countDistinct(to_date(col("ts"))).as("active_days"),
        sum(col("new_session")).as("n_sessions"))
    val stages = Events.funnelStages(byUser)
      .select(col("user_id"), col("stage"))
    perUser.join(stages, Seq("user_id"), "left")
      .select(col("user_id"), col("cohort"),
        coalesce(col("stage"), lit(0)).as("stage"),
        col("n_sessions"), col("n_events"), col("active_days"))
      .orderBy(col("user_id"))
  }

  def qPipelineSequence(spark: SparkSession, dir: String): DataFrame = {
    val kept = Tables.documents(spark, dir)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(Curation.capHash(col("doc_id")), col("doc_id"))))
      .filter(col("rk") <= 10)
      .select(col("doc_id"), col("text"))
    val units = Curation.chunkDocs(kept)
      .select((col("doc_id") * 256 + col("chunk_id")).as("doc_id"),
        col("chunk_text").as("text"))
    Curation.packAssign(units, budget = 512)
      .select((col("doc_id") / 256).cast("long").as("doc_id"),
        (col("doc_id") % 256).cast("int").as("chunk_id"),
        col("shard"), col("n_tok"), col("pack_id"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** EP11 — the LANDING GATE: the accept/reject report a nightly load
    * runs before publishing a landed drop, composing the three
    * data-quality surfaces into ONE uniform checklist relation
    * (check, metric, threshold, pass):
    *
    *   - `nulls:<column>` — per-column null counts from the profiling
    *     report ([[Relational.qProfile]]), threshold 0;
    *   - `orphans:<fk relation>` — orphan-row counts from the
    *     referential-integrity audit ([[Joins.qRiAudit]]), threshold 0;
    *   - `outlier_rate:<event type>` — the fraction of robust
    *     modified-z outliers per event type ([[Events.qOutliers]]),
    *     threshold 5%.
    *
    * This is the reference's validate-before-post discipline
    * (/root/reference/src/coding_task_5.py:147-163) promoted to the
    * whole-drop level. Every branch reduces to a handful of rows
    * before the union — the report is driver-trivial no matter the
    * input scale; rates divide two exact integer counts (one IEEE
    * division, never an FP sum), so the gate is bit-reproducible.
    */
  def qPipelineLanding(spark: SparkSession, dir: String): DataFrame = {
    // null counts via the null-only aggregate, NOT qProfile: the gate
    // never reads the distincts, and the exact-distinct Expand was the
    // dominant branch cost (r11 plan trim; values parity-pinned equal
    // to qProfile's n_nulls in PipelinesSpec)
    val nulls = Relational.orderNullCounts(spark, dir)
      .select(concat(lit("nulls:"), col("column")).as("check"),
        col("n_nulls").cast("double").as("metric"),
        lit(0.0).as("threshold"))
    val orphans = Joins.qRiAudit(spark, dir)
      .select(concat(lit("orphans:"), col("relation")).as("check"),
        col("n_orphans").cast("double").as("metric"),
        lit(0.0).as("threshold"))
    val outlierRate = Events.qOutliers(spark, dir)
      .groupBy(col("event_type"))
      .agg((count(when(col("is_outlier"), lit(1))).cast("double") /
        count(lit(1))).as("metric"))
      .select(concat(lit("outlier_rate:"), col("event_type")).as("check"),
        col("metric"), lit(0.05).as("threshold"))
    nulls.unionByName(orphans).unionByName(outlierRate)
      .withColumn("pass", col("metric") <= col("threshold"))
      .orderBy(col("check"))
  }

  // ------------------------------------------------------- gated publish

  /** [[landThenPublish]]'s shard digests outlived their bound; the
    * publish was abandoned before any version byte landed. */
  final class DigestTimeoutException(msg: String)
    extends java.util.concurrent.TimeoutException(msg)
  private[graft] val shardSourcesMarker = "_graft_shard_sources"
  private[graft] val shardDigestsMarker = "_graft_shard_digests"

  private def parseShardMap(s: String): Map[Int, String] =
    s.split("\n").filter(_.nonEmpty).map { l =>
      val i = l.indexOf('='); l.take(i).toInt -> l.drop(i + 1)
    }.toMap

  private def formatShardMap(m: Map[Int, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("\n")

  /** A column made hash-eligible for [[shardDigests]] (r17, ADVICE
    * r16): `xxhash64` rejects MapType — map entry order is not part
    * of map equality, so a raw hash would be ambiguous. A TOP-LEVEL
    * map canonicalizes to JSON over key-sorted entries (order-free,
    * so a parquet round-trip that reorders entries cannot fake a
    * changed shard); a nested map (inside a struct/array) falls back
    * to plain `to_json`, which is order-faithful rather than
    * canonical — conservative for copy-on-write: the worst case is a
    * spurious rewrite of an unchanged shard, never a missed one. */
  private def digestible(c: Column, t: org.apache.spark.sql.types
      .DataType): Column = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType,
      StructType}
    def hasMap(dt: DataType): Boolean = dt match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    t match {
      case _: MapType =>
        to_json(map_from_entries(array_sort(map_entries(c))))
      case dt if hasMap(dt) => to_json(c)
      case _ => c
    }
  }

  /** Order-free per-shard content digest of a landed drop: row count
    * plus the EXACT decimal sums of per-row xxhash64 over every column
    * under TWO domain-separated hash streams — multiset digests,
    * invariant under partitioning and row order (the determinism house
    * rule: long/decimal accumulators, never an FP fold). One linear
    * sum admits engineered cancellations slightly beyond the 2⁻⁶⁴
    * per-comparison bound (ADVICE r16); requiring BOTH independent
    * sums plus the count to match pushes a forged unchanged-shard
    * verdict to simultaneous collisions in two unrelated hash planes
    * (~2⁻¹²⁸ — the same class of risk every digest-based diff in this
    * engine prices, [[graft.operators.Curation.snapshotDiff]]'s md5
    * included). Map-typed columns are canonicalized first
    * ([[digestible]] — raw xxhash64 throws on MapType). ONE aggregate
    * exchange of `shards` rows decides the whole copy-on-write plan. */
  private[graft] def shardDigests(landed: DataFrame, key: String,
      shards: Int): Map[Int, String] = {
    val cols = landed.schema.fields.map(f =>
      digestible(col(f.name), f.dataType)).toSeq
    landed.groupBy(pmod(xxhash64(col(key)), lit(shards.toLong))
        .cast("int").as("key_shard"))
      .agg(count(lit(1)).as("n"),
        sum(xxhash64(cols: _*).cast("decimal(38,0)")).as("h"),
        sum(xxhash64((lit("graft_digest_2") +: cols): _*)
          .cast("decimal(38,0)")).as("h2"))
      .collect()
      .map(r => r.getInt(0) ->
        s"${r.getLong(1)}:${r.getDecimal(2).toBigInteger}:${
          r.getDecimal(3).toBigInteger}").toMap
  }

  /** EP11's gate threaded into an actual WRITE PATH (r10 verdict item
    * 7): publish the landed drop to the silver point layout ONLY when
    * every gate check passes; otherwise quarantine the drop together
    * with its failing checklist and publish NOTHING. This completes
    * the reference's validate-then-post loop
    * (/root/reference/src/validation.py:17-21 gates the POST in
    * /root/reference/src/coding_task_1.py:222-228) at whole-table
    * granularity.
    *
    * No-partial-publish guarantee, two layers:
    *   - the gate DECIDES before a single publish byte is written (the
    *     checklist is cell-sized by [[qPipelineLanding]]'s contract, so
    *     the driver-side decision collect is bounded);
    *   - publication is versioned-then-flip
    *     ([[graft.sources.Versions.publish]]): the layout lands under
    *     `root/<version>` and only a successful complete write flips
    *     the current marker — a crash mid-write, like a failing gate,
    *     leaves the previous version current and readers never observe
    *     a half-published table.
    * The quarantined drop keeps full fidelity (the re-land after the
    * upstream fix re-reads it), and the checklist records exactly which
    * checks sank it.
    *
    * COPY-ON-WRITE (r16): publication rewrites only the shards whose
    * [[shardDigests]] digest moved against the current version;
    * unchanged shards carry forward by physical path in the new
    * version's `_graft_shard_sources` manifest, so a mostly-unchanged
    * nightly drop publishes delta-sized bytes instead of re-encoding
    * the full layout (110.7 MB → digest-agg-only at sf1 on an
    * unchanged orders drop). Readers ([[currentSilver]],
    * [[Relational.pointLookupClustered]]) resolve the manifest;
    * pre-manifest versions read exactly as before.
    *
    * `retainVersions` bounds storage across nightly drops through the
    * shared retention rule (0 = keep everything): a version publishes
    * the versions its carried shards live in as its refs, so a
    * SURVIVING manifest's shards are never deleted, and quarantine is
    * never touched. Retention runs strictly AFTER the flip, so a
    * reader that resolved the marker before the publish always sees a
    * complete (possibly previous) version, never a half-deleted one.
    *
    * @return true iff the drop was published. */
  def landThenPublish(spark: SparkSession, landed: DataFrame,
      gate: DataFrame, root: String, version: String, key: String,
      shards: Int = 8, retainVersions: Int = 0,
      digestTimeout: FiniteDuration = FiniteDuration(30, "min"))
      : Boolean = {
    // r19 (guide §2.6 — overlap independent jobs): the shard digests
    // depend only on the landed drop, not on the gate verdict, and
    // computing them writes nothing — so they run CONCURRENTLY with
    // the gate's checks instead of serially after them, in their own
    // job group. The publish decision still strictly precedes the
    // first published byte; a failing gate cancels the in-flight
    // read-only aggregate, and a digest that outlives `digestTimeout`
    // is cancelled and fails the publish loudly.
    val digestGroup = s"graft-digest-${java.util.UUID.randomUUID()}"
    val sc = spark.sparkContext
    val digestsF = Future {
      sc.setJobGroup(digestGroup, s"shard digests of $root/$version",
        interruptOnCancel = true)
      try shardDigests(landed, key, shards) finally sc.clearJobGroup()
    }(ExecutionContext.global)
    val checks = gate.collect()
    val failing = checks.filter(r => !r.getAs[Boolean]("pass"))
    if (failing.isEmpty) {
      // COPY-ON-WRITE publish (r16, r15 verdict item 5): a nightly
      // drop at 100 TB is mostly unchanged, and rewriting the full
      // silver layout per publish made q_pipeline_publish the #2
      // byte mover at sf1 (110.7 MB, linear in corpus). The
      // [[shardDigests]] multiset digest of the landed drop is
      // compared shard-by-shard against the CURRENT version's
      // published digests; only changed shards repartition + sort +
      // encode under the new version directory, and every unchanged
      // shard's files carry forward by PHYSICAL PATH in the new
      // version's `_graft_shard_sources` manifest (paths are
      // terminal — a carried entry copies the previous manifest's
      // path verbatim, so chains collapse and no reader ever walks
      // version history). The crash discipline is unchanged: data,
      // digests, then manifest land under `root/<version>`, and only
      // the final marker flip makes any of it current.
      val versionDir = s"$root/$version"
      val prevDir = Versions.currentVersion(spark, root).map(v => s"$root/$v")
      // carry-forward is legal only against a same-shard-count layout
      val prevComparable = prevDir.filter(d =>
        graft.sources.Markers.readOption(spark, d, "_graft_shards")
          .contains(shards.toString))
      val prevDigests = prevComparable.flatMap(d =>
        graft.sources.Markers.readOption(spark, d, shardDigestsMarker))
        .map(parseShardMap).getOrElse(Map.empty)
      // a pre-manifest version physically holds every shard it knows
      val prevSources = prevComparable.map { d =>
        graft.sources.Markers.readOption(spark, d, shardSourcesMarker)
          .map(parseShardMap)
          .getOrElse(prevDigests.keys.map(k =>
            k -> s"$d/key_shard=$k").toMap)
      }.getOrElse(Map.empty)
      val digests = try Await.result(digestsF, digestTimeout) catch {
        case _: java.util.concurrent.TimeoutException =>
          sc.cancelJobGroup(digestGroup)
          throw new DigestTimeoutException(s"landThenPublish($root, " +
            s"$version): shard digests did not finish within " +
            s"$digestTimeout; nothing was published")
      }
      // r17 (ADVICE r16): a zero-row drop would publish a markers-only
      // version with an EMPTY shard manifest, which currentSilver's
      // nonEmpty guard then misreads as a pre-manifest version — a
      // data-less plain read that fails schema inference AFTER the
      // flip, i.e. the served table breaks. An empty landed drop is an
      // upstream failure, never a publishable state: refuse loudly
      // BEFORE any version byte lands, leaving the previous version
      // current (the same no-partial-publish posture as the gate).
      require(digests.nonEmpty,
        s"landThenPublish($root, $version): landed drop has zero rows;" +
          " refusing to publish a data-less version")
      val changed = digests.keySet.filter(k =>
        !prevDigests.get(k).contains(digests(k)) ||
          !prevSources.contains(k))
      val sources = digests.keys.map { k =>
        k -> (if (changed(k)) s"$versionDir/key_shard=$k"
              else prevSources(k))
      }.toMap
      Versions.publish(spark, root, version, retainVersions,
          sources.values.map(_.stripPrefix(s"$root/").split("/").head)) { d =>
        if (changed.nonEmpty)
          Relational.writePointLayout(landed, key, d, shards,
            onlyShards = Some(changed))
        graft.sources.Markers.write(spark, d, "_graft_shards",
          shards.toString)
        graft.sources.Markers.write(spark, d, shardDigestsMarker,
          formatShardMap(digests))
        graft.sources.Markers.write(spark, d, shardSourcesMarker,
          formatShardMap(sources))
      }
      true
    } else {
      if (!digestsF.isCompleted) sc.cancelJobGroup(digestGroup)
      import scala.jdk.CollectionConverters._
      landed.write.mode("overwrite")
        .parquet(s"$root/quarantine/$version/drop")
      spark.createDataFrame(failing.toSeq.asJava, gate.schema)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$root/quarantine/$version/checklist")
      false
    }
  }

  /** The currently-published silver version of a [[landThenPublish]]
    * root — what every downstream reader (and
    * [[Relational.pointLookupClustered]]) serves from. */
  def currentSilver(spark: SparkSession, root: String): DataFrame = {
    val dir = Versions.current(spark, root)
    graft.sources.Markers.readOption(spark, dir, shardSourcesMarker)
      .map(parseShardMap) match {
      case Some(srcs) if srcs.nonEmpty =>
        // copy-on-write version: assemble the table from the shards'
        // PHYSICAL directories, grouped by owning version so each
        // source version is ONE partitioned parquet read (basePath =
        // the version dir restores the key_shard partition column,
        // so the schema is identical to a plain read and key_shard
        // filters still prune partitions) — a per-shard union would
        // pay 8 separate relations of planning and listing per read
        val byVersion = srcs.values.toSeq.distinct
          .groupBy(p => p.substring(0, p.lastIndexOf('/')))
        byVersion.toSeq.sortBy(_._1).map { case (versionDir, paths) =>
          spark.read.option("basePath", versionDir)
            .parquet(paths.sorted: _*)
        }.reduce(_ unionByName _)
      case _ => graft.sources.Pq.read(spark, dir)
    }
  }

  /** One publish root per (JVM, sf dir); every invocation publishes a
    * fresh version and flips the marker — the nightly-drop lifecycle. */
  private val publishRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val publishSeq =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** EP12 — the gated-publish loop as a declared query: land the
    * orders drop, run the EP11 gate over the SAME sf directory, publish
    * through [[landThenPublish]], and return the read-back of the
    * currently-published silver table. The oracle compares the
    * read-back against the source table directly, so the green row
    * certifies the whole land → validate → publish → serve loop: a
    * wrongly-quarantined drop surfaces as a missing table (zero rows),
    * a partial publish as a hash mismatch. (The failing-gate branch is
    * deterministic fixture territory — SinkSpec plants a violating drop
    * and proves nothing gets published.) */
  def qPipelinePublish(spark: SparkSession, dir: String): DataFrame = {
    val root = publishRoots.computeIfAbsent(dir, _ =>
      graft.sources.TempDirs.scratchDir("graft_publish").toString)
    val landed = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
    val gate = qPipelineLanding(spark, dir)
    landThenPublish(spark, landed, gate, root,
      version = s"v${publishSeq.incrementAndGet()}", key = "o_orderkey",
      retainVersions = 2)
    currentSilver(spark, root).drop("key_shard")
      .orderBy(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
  }
}
