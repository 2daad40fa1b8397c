package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Versioned roots: the one commit protocol of every artifact this
  * engine republishes (label maps, CDC snapshots, snapshot+MV epochs,
  * BPE word tables, the gated silver layout, near-dup lifecycle
  * roots). A version's artifacts land under `<root>/<version>`; one
  * marker at the root, a plain-text file holding the version name,
  * flips to it LAST, so a crash mid-write leaves the previous version
  * served and readers never see a half-written one; old versions are
  * retired after the flip. Readers resolve the served directory
  * through [[current]], and a streaming sink asks [[isCurrent]] whether
  * a replayed batch already published its version.
  *
  * Retention is one rule: keep the current version, the newest
  * `retain` other published versions (a reader that resolved the
  * marker just before a flip may still be scanning them) and every
  * version a kept version listed in `refs` when it was published (an
  * index layer or a carried shard it reads in place). References are
  * terminal, so the closure needs no transitive walk. Only directories
  * holding the refs marker were published here; every other directory
  * under the root (a `quarantine/`, a version whose write crashed) is
  * never deleted by retention. */
object Versions {

  /** Marker at the root naming the served version. */
  val currentMarker = "_graft_current"
  /** Marker inside a published version: the other versions it reads,
    * one a line. */
  private val refsMarker = "_graft_refs"

  /** Publish `version` of `root`: run `write` on `<root>/<version>`,
    * record `refs` (evaluated after `write`), flip the marker, then
    * retire old versions (`retain` = 0 keeps every version). If `write`,
    * the refs marker or the flip throws, `<root>/<version>` is deleted
    * unless the marker names it — so a version that was never served
    * holds no retention slot — and the error is rethrown. A marker that
    * cannot be read (on the local file system a rename caught half-way
    * can leave it so) may name the version: its directory stays. */
  def publish(spark: SparkSession, root: String, version: String,
      retain: Int = 0, refs: => Iterable[String] = Nil)(
      write: String => Unit): Unit = {
    val dir = s"$root/$version"
    try {
      write(dir)
      Markers.write(spark, dir, refsMarker,
        refs.filter(_ != version).toSeq.distinct.mkString("\n"))
      Markers.replace(spark, root, currentMarker, version)
    } catch {
      case t: Throwable =>
        val served = try isCurrent(spark, root, version) catch {
          case e: Throwable => t.addSuppressed(e); true
        }
        if (!served) {
          val p = new Path(dir)
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
        }
        throw t
    }
    if (retain > 0) retire(spark, root, version, retain)
  }

  /** The served version's directory, `<root>/<version>`. An empty
    * marker names no version and fails loudly instead of resolving to
    * the root itself. */
  def current(spark: SparkSession, root: String): String = {
    val version = Markers.read(spark, root, currentMarker)
    require(version.nonEmpty,
      s"$root/$currentMarker is empty: the root names no served version")
    s"$root/$version"
  }

  /** The served version's name, None before the first publish. */
  def currentVersion(spark: SparkSession, root: String): Option[String] =
    Markers.readOption(spark, root, currentMarker)

  /** Whether `version` is the served one: the replay check of a
    * streaming sink whose predecessor may have died after its flip. */
  def isCurrent(spark: SparkSession, root: String, version: String): Boolean =
    currentVersion(spark, root).contains(version)

  private def retire(spark: SparkSession, root: String, current: String,
      retain: Int): Unit = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val (kept, old) = fs.listStatus(rootPath)
      .filter(s => s.isDirectory && s.getPath.getName != current &&
        fs.exists(new Path(s.getPath, refsMarker)))
      .sortBy(-_.getModificationTime)
      .map(_.getPath.getName)
      .splitAt(retain)
    val referenced = (current +: kept).flatMap { v =>
      Markers.read(spark, s"$root/$v", refsMarker).split("\n")
    }.toSet
    old.filterNot(referenced).foreach(n => fs.delete(new Path(rootPath, n), true))
  }
}
