package graft.operators

import org.apache.spark.sql.SparkSession

/** One fitted artifact per (JVM, key) — the shared fit-once cache
  * behind the silver point layout, the published models, the MinHash
  * index, and every near-dup lifecycle root (round-8 review: three
  * verbatim copies of this machinery had accumulated, and every copy
  * repeats the subtle parts). A lifecycle root is the SAME artifact
  * the streaming compaction sinks serve: [[FitCache.seededRoots]]
  * seeds it with the family's `seed*` function (each
  * [[Lifecycle.Family]] holds two such caches), and the batch
  * incremental and compaction queries read it or run one wave on it.
  *
  * The subtle parts, once:
  *   - the map holds a LAZY holder, not the build itself —
  *     `computeIfAbsent` mapping functions run under the bin lock, and
  *     a multi-second fit there would block unrelated map access; the
  *     `lazy val` still guarantees exactly-one build per key,
  *     serialized on the holder, outside the map lock;
  *   - the holder RELEASES its captured session once the build
  *     completes (ADVICE r5): the holder lives for the JVM, the
  *     session need not;
  *   - a FAILED build is removed from the cache so it cannot poison it
  *     with a dead captured session — the next caller retries with its
  *     own live session.
  *
  * CONTRACT (ADVICE r5): the source data behind `key` is immutable for
  * the JVM's lifetime — an in-process rewrite would keep serving the
  * stale artifact. That matches the testdata dirs (driver-written,
  * read-only) and the production posture (artifacts are rebuilt by the
  * job that rewrites the source, not by readers).
  *
  * The cache counts the builds it starts ([[buildCount]]), so a spec
  * pins the warm-no-refit property of any fitted family on the cache
  * itself instead of a per-family counter.
  */
private[graft] final class FitCache[T](build: (SparkSession, String) => T) {

  private val builds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Builds started so far, failed ones included; a warm [[get]]
    * leaves it unchanged. */
  def buildCount: Int = builds.get()

  private final class Holder(spark0: SparkSession, key: String) {
    private var spark: SparkSession = spark0
    lazy val value: T = {
      val s = spark
      builds.incrementAndGet()
      val v = build(s, key)
      spark = null
      v
    }
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Holder]()

  def get(spark: SparkSession, key: String): T = {
    val holder = cache.computeIfAbsent(key, k => new Holder(spark, k))
    try holder.value
    catch { case e: Throwable => cache.remove(key, holder); throw e }
  }
}

private[graft] object FitCache {

  /** One near-dup lifecycle root per (JVM, corpus dir): each build
    * makes a scratch directory (removed on JVM exit) and calls
    * `seed(spark, dir, root)`, which publishes version `seed` there
    * with the family's `seed*` function; `get` returns the root. */
  def seededRoots(prefix: String)(
      seed: (SparkSession, String, String) => Unit): FitCache[String] =
    new FitCache[String]((s, d) => {
      val root = graft.sources.TempDirs.scratchDir(prefix).toString
      seed(s, d, root)
      root
    })
}
