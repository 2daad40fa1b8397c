package graft.operators

import scala.concurrent.duration.FiniteDuration

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Pq, Tables, Versions}

/** The near-duplicate lifecycle, written once for the four families
  * (MinHash, SimHash, PassJoin edit distance, embedding LSH). A family
  * is one [[Family]] value that names only what differs — its id
  * column, index directory, corpus, stale revision, `seed*` function,
  * wave, index sidecar and increment probe — and one generic driver
  * runs every family on it:
  *   - two seeded roots per (JVM, corpus dir): the base root, seeded
  *     over the corpus minus the increment split ([[isIncrement]]),
  *     with labels; and the compaction root, seeded over the corpus
  *     with the family's stale revision of the re-crawl split
  *     ([[isRecrawl]]), without labels;
  *   - the declared compaction query ([[compact]]): ONE wave of the
  *     re-crawl split on the compaction root, labelled instead of
  *     published;
  *   - the declared incremental query ([[incremental]]): the increment
  *     probes the base root's served index and extends its label map
  *     through star edges ([[extend]]);
  *   - the publication of a wave ([[publishWaveState]]), which every
  *     streaming compaction sink and every `seed*` function runs.
  * So a batch compaction query IS one wave of its family's sink, and
  * every query's ORACLE is the full recompute over the true corpus. */
object Lifecycle {

  /** One compaction wave: the index rows it adds (the new index is the
    * served one minus the wave's ids, plus these), its repaired pair
    * set, and — SimHash only, whose pairs are signature-level — the
    * id-level edges its labels come from. The one labelling rule:
    * labels are the components of `labelEdges.getOrElse(pairs)`. */
  final case class Wave(added: DataFrame, pairs: DataFrame,
      labelEdges: Option[DataFrame] = None)

  /** What one family's lifecycle does differently: its `name`, its `id`
    * column, its index directory `indexName`, its raw corpus table
    * (whose ids the flags cover), the stale revision its
    * compaction root is seeded over, its `seed(spark, corpus, root,
    * labels)`, its `wave(spark, root, batch)`, the sidecar its index
    * versions carry (`sidecar(spark, indexPath)`), and its increment
    * probe `probe(spark, root, servedDir, increment)`, which returns the
    * increment's (id_a, id_b) edges against the served index. */
  final case class Family(name: String, id: String, indexName: String,
      corpus: (SparkSession, String) => DataFrame,
      stale: DataFrame => DataFrame,
      seed: (SparkSession, DataFrame, String, Boolean) => Unit,
      wave: (SparkSession, String, DataFrame) => Wave,
      sidecar: (SparkSession, String) => Unit,
      probe: (SparkSession, String, String, DataFrame) => DataFrame) {

    /** The incremental base root per (JVM, corpus dir): yesterday's
      * nightly output over the base split, labels included. */
    lazy val baseRoots: FitCache[String] =
      FitCache.seededRoots(s"graft_${name}_base") { (s, d, root) =>
        seed(s, corpus(s, d).filter(!isIncrement(id)), root, true)
      }

    /** The compaction root per (JVM, corpus dir): yesterday's index and
      * pairs over the corpus WITH the stale revision of the re-crawl
      * split — the revision the crawler supersedes tonight. */
    lazy val compactRoots: FitCache[String] =
      FitCache.seededRoots(s"graft_${name}_compact") { (s, d, root) =>
        seed(s, stale(corpus(s, d)), root, false)
      }
  }

  /** The deterministic split the incremental queries simulate a
    * nightly increment with: ~20% of ids (by id hash — stable across
    * partitionings) arrive as tonight's crawl, the rest are the
    * already-indexed base. */
  private[graft] def isIncrement(id: String): Column =
    pmod(xxhash64(col(id)), lit(5)) === 0

  /** The deterministic re-crawl subset the compaction queries simulate
    * (~14% of ids by id hash): ids that already exist in the base with
    * superseded content — exactly what the incremental queries'
    * new-ids-only contract excludes. */
  private[graft] def isRecrawl(id: String): Column =
    pmod(xxhash64(col(id)), lit(7)) === 0

  val minhash: Family = Family("minhash", "doc_id", "staged",
    Tables.documents,
    TextOps.staleRecrawlText, TextOps.seedDedupState,
    TextOps.compactWaveState,
    BandedJoins.writeHotSet(_, _, TextOps.minhashFamily),
    TextOps.minhashIncrementPairs)

  val simhash: Family = Family("simhash", "doc_id", "sigs",
    Tables.documents,
    TextOps.staleRecrawlText, TextOps.seedSimhashRoot,
    TextOps.simhashWaveState, (_, _) => (), TextOps.simhashIncrementPairs)

  val edit: Family = Family("edit", "doc_id", "index",
    Tables.documents,
    TextOps.editStaleRecrawl,
    (s, docs, root, labels) => TextOps.seedEditRoot(s, docs, root,
      labels = labels), TextOps.editWaveState(_, _, _),
    TextOps.writeEditIndexStats(_, _), TextOps.editIncrementPairs(_, _, _, _))

  val embedding: Family = Family("embedding", "vec_id", "staged",
    Tables.embeddings, Vectors.staleRecrawlVecs,
    Vectors.seedEmbedRoot, Vectors.embedWaveState,
    BandedJoins.writeHotSet(_, _, Vectors.lshFamily),
    Vectors.embedIncrementPairs)

  /** Declared compaction query of family `f`: the compaction root holds
    * the stale revision of the re-crawl split; tonight those ids arrive
    * with their TRUE content as ONE wave — the streaming sink's wave,
    * labelled instead of published. After retirement, re-pairing and
    * relabelling the flags must equal a FULL RECOMPUTE over the true
    * corpus, so the family's full-corpus reachability SQL is the
    * oracle: a stale pair that survives retirement, a missed re-pair or
    * an unsplit bridged component fails the hash compare loudly. */
  def compact(f: Family)(spark: SparkSession, dir: String): DataFrame = {
    val corpus = f.corpus(spark, dir)
    val w = f.wave(spark, f.compactRoots.get(spark, dir),
      corpus.filter(isRecrawl(f.id)))
    Components.flagCorpus(corpus, f.id,
      Components.labelComponents(w.labelEdges.getOrElse(w.pairs)))
  }

  /** Declared incremental query of family `f`: the increment split is
    * staged fresh (it IS the new data) and probed against the base
    * root's served index; the base is never re-staged and old-vs-old
    * pairs are never recomputed (spec-pinned on the base root's
    * [[FitCache.buildCount]]). ORACLE: increment ∪ base must equal a
    * full recompute, so the family's full-corpus reachability SQL
    * checks it. */
  def incremental(f: Family)(spark: SparkSession, dir: String): DataFrame = {
    val corpus = f.corpus(spark, dir)
    extend(f, spark, f.baseRoots.get(spark, dir), corpus,
      corpus.filter(isIncrement(f.id)))
  }

  /** The flags of `corpus`'s ids after `increment` (new ids only) probes
    * the served version of `root` and its label map extends through
    * star edges ([[Components.extendLabels]]). */
  def extend(f: Family, spark: SparkSession, root: String,
      corpus: DataFrame, increment: DataFrame): DataFrame = {
    val cur = Versions.current(spark, root)
    Components.flagCorpus(corpus, f.id, Components.extendLabels(
      Pq.read(spark, s"$cur/labels"), f.probe(spark, root, cur, increment)))
  }

  /** How long [[publishWaveState]] waits for its index branch. A
    * benchmark-scale wave finishes it in well under a second; the
    * bound turns a wedged write into a loud micro-batch failure
    * instead of a hung stream. */
  private[graft] val waveBranchTimeout: FiniteDuration =
    FiniteDuration(30, "min")

  /** Daemon threads for [[publishWaveState]]'s index branch, made on
    * demand (one per concurrently publishing wave) and reclaimed when
    * idle. */
  private lazy val waveBranchPool =
    java.util.concurrent.Executors.newCachedThreadPool { r =>
      val t = new Thread(r, "graft-wave-index-branch")
      t.setDaemon(true)
      t
    }

  /** Transactional one-flip publication shared by every near-dup
    * lifecycle root (MinHash, SimHash, edit distance, embedding) — the
    * streaming compaction sinks' waves and every `seed*` function, so
    * the roots the batch incremental and compaction queries read are
    * published by this same call: the index layer under `indexName`
    * ([[IndexLayers.write]]: the wave's added rows as one
    * delta, listed with its `retired` key set in a manifest that
    * extends the served version's, a fold into a new base, or —
    * `retired` None, a seed — a base), its `sidecar` (a hot set or
    * edit stats, recomputed over the EFFECTIVE index so the next
    * wave's probe set is exact, not the seed's drifting superset), the
    * verified pair set, and the label map land under ONE version
    * directory and ONE marker flip ([[graft.sources.Versions.publish]],
    * whose refs are the versions the manifest lists); the marker names
    * the version whose manifest is served, so the manifest flip IS the
    * marker flip. Two flips would leave a crash window where the pair
    * set reflects the wave but the index does not, and the NEXT
    * wave's retirement would then anti-join against rows that were
    * never republished. `labels = false` skips the label map for roots
    * whose readers relabel the wave's pairs themselves.
    *
    * Cost posture: the artifacts form two independent chains, and
    * they run CONCURRENTLY — index → sidecar on a branch thread, pairs
    * → labels on the caller's — so a wave pays the longer chain, not
    * the sum, on an otherwise idle executor pool. The marker flips
    * once, after both chains finish. The wave's pair plan executes
    * ONCE — its write — and the labels are
    * [[Components.labelComponents]] over the PUBLISHED
    * `<version>/pairs` (the same function over the same edge set, so
    * the same map), never a second run of the bloom-pruned probe.
    * Every artifact goes through [[graft.sources.Pq.write]], so no
    * read-back pays a schema-inference job. What a wave writes is
    * wave-sized: its index delta, the dup-set-sized pairs and labels,
    * and the sidecar. What still reads in full per wave is the
    * sidecar's pass over the effective index, and a fold — when the
    * deltas since the base reach the base's bytes — rewrites it once.
    * The labels follow the one labelling rule of a [[Wave]]: its
    * `labelEdges` where it has them (SimHash, whose pairs are
    * signature-level), else its published pairs. The wave's pairs must
    * not read the index or sidecar this call writes: the two chains
    * race.
    *
    * The branch runs with the caller's local properties (job group,
    * streaming query and batch ids — its jobs count in the
    * micro-batch, and a query stop cancels them with the caller's)
    * under a job tag of its own, and it is JOINED before this call
    * returns or throws, so no write lands in `<version>/` after an
    * exception and a replay never races a straggler: a failing pairs
    * chain abandons the branch — it starts no further step — and waits
    * for its running step to end; an interrupted caller, or a branch
    * that outlives `branchTimeout`, has its jobs cancelled by tag and
    * is waited for the same way (the timeout fails the call with a
    * `TimeoutException`). Every wait re-cancels a cancelled branch's
    * tag, so a job it started after the first cancel is killed too;
    * once the branch has ended, the abandoned version's directory is
    * deleted by the publish (an aborted write's cleanup could
    * otherwise still change it after the call threw). */
  private[graft] def publishWaveState(spark: SparkSession, root: String,
    version: String, indexName: String, wave: Wave,
    retired: Option[DataFrame], retainVersions: Int,
    sidecar: String => Unit = _ => (), labels: Boolean = true,
    branchTimeout: FiniteDuration = waveBranchTimeout): Unit = {
    import java.util.concurrent.{CancellationException, ExecutionException,
      TimeUnit, TimeoutException}
    val sc = spark.sparkContext
    val tag = s"graft-wave-index-${java.util.UUID.randomUUID()}"
    val deadline = System.nanoTime() + branchTimeout.toNanos
    // an abandoned branch starts no further step; a cancelled one also
    // has its running jobs killed
    val abandoned = new java.util.concurrent.atomic.AtomicBoolean(false)
    val cancelled = new java.util.concurrent.atomic.AtomicBoolean(false)
    var layers: Seq[String] = Nil
    Versions.publish(spark, root, version, retainVersions,
        layers) { dir =>
      val indexChain = org.apache.spark.sql.graft.SessionBridge
        .withThreadLocalCaptured(spark, waveBranchPool) {
          sc.addJobTag(tag)
          try Seq[String => Unit](_ => layers = IndexLayers.write(spark,
              root, version, indexName, wave.added, retired,
              s"${Versions.current(spark, root)}/$indexName"),
              sidecar)
            .foreach { step =>
              if (abandoned.get) throw new CancellationException(
                s"publishWaveState($root, $version): index branch abandoned")
              step(s"$dir/$indexName")
            }
          finally sc.removeJobTag(tag)
        }
      // waits up to `nanos` for the branch to end, however it ends,
      // re-cancelling a cancelled branch's tag every 50 ms; an interrupt
      // (a stopping query) cancels the branch and keeps waiting for it,
      // then re-asserts the flag. True iff the branch ended.
      def settle(nanos: Long): Boolean = {
        val end = System.nanoTime() + nanos
        var interrupted = false
        while (!indexChain.isDone && System.nanoTime() < end) {
          if (cancelled.get) sc.cancelJobsWithTag(tag)
          try indexChain.get(math.min(end - System.nanoTime(), 50000000L),
            TimeUnit.NANOSECONDS)
          catch {
            case _: InterruptedException =>
              interrupted = true
              abandoned.set(true)
              cancelled.set(true)
            case _: Exception => ()
          }
        }
        if (interrupted) Thread.currentThread().interrupt()
        indexChain.isDone
      }
      // no manifest lists an abandoned version and the marker never
      // names it: the publish deletes its directory once this returns
      def abandon(): Boolean = {
        abandoned.set(true)
        cancelled.set(true)
        settle(branchTimeout.toNanos)
      }
      val stillRunning = "the index branch is still running after its " +
        "jobs were cancelled"
      try {
        Pq.write(wave.pairs, s"$dir/pairs")
        if (labels)
          Pq.write(Components.labelComponents(wave.labelEdges.getOrElse(
              Pq.read(spark, s"$dir/pairs")),
            rereadable = wave.labelEdges.isEmpty), s"$dir/labels")
      } catch {
        case t: Throwable =>
          // a failed pairs chain lets the branch finish its running step
          // before the deadline instead of killing it: a killed task can
          // still write under `<version>/` after its job reported failure
          abandoned.set(true)
          if (!settle(deadline - System.nanoTime()) && !abandon())
            t.addSuppressed(new TimeoutException(stillRunning))
          throw t
      }
      if (!settle(deadline - System.nanoTime())) {
        val ended = abandon()
        throw new TimeoutException(s"publishWaveState($root, " +
          s"$version): the index branch did not finish within " +
          s"$branchTimeout; its jobs were cancelled and the marker was " +
          "not flipped" + (if (ended) "" else s"; $stillRunning"))
      }
      try indexChain.get()
      catch { case e: ExecutionException => throw e.getCause }
    }
  }
}
