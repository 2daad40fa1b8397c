package graft.sources

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** Tiny metadata markers written INSIDE a parquet artifact directory
  * (`_graft_shards`, `_graft_layout`, …) — one implementation of the
  * write/read idiom instead of a hand-rolled copy per artifact
  * (round-8 review). Uses the Hadoop FileSystem API, not java.nio, so
  * hdfs:// and s3a:// artifact paths work exactly like local ones —
  * the cluster-scale story depends on it; parquet readers skip
  * underscore-prefixed files, so the marker never pollutes the scan.
  */
object Markers {

  def write(spark: SparkSession, dir: String, name: String,
    value: String): Unit = {
    val marker = new Path(dir, name)
    put(marker.getFileSystem(spark.sessionState.newHadoopConf()), marker,
      value)
  }

  /** [[write]] for a marker that readers may be reading while it is
    * replaced (a versioned root's current marker): the bytes land in a
    * fresh temporary file beside the marker (underscore-named, so a
    * parquet listing skips it), which then replaces the marker through
    * `FileContext.rename(OVERWRITE)` — `FileSystem.rename` refuses an
    * existing target on HDFS. Where that rename is atomic (HDFS), a
    * reader sees the old value or the new one, and a writer that dies
    * before the rename leaves the old marker; the marker is never an
    * empty, truncated file. On the local file system the rename costs
    * about 20 ms (Hadoop forks `stat` for each link-status lookup), so
    * markers written once, before anything reads them, use [[write]]. */
  def replace(spark: SparkSession, dir: String, name: String,
    value: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(dir).getFileSystem(conf)
    val marker = fs.makeQualified(new Path(dir, name))
    val tmp = new Path(marker.getParent,
      s"_$name.${java.util.UUID.randomUUID()}.tmp")
    try {
      put(fs, tmp, value)
      FileContext.getFileContext(marker.toUri, conf)
        .rename(tmp, marker, Options.Rename.OVERWRITE)
    } catch {
      case t: Throwable =>
        fs.delete(tmp, false)
        throw t
    }
  }

  private def put(fs: FileSystem, path: Path, value: String): Unit = {
    val out = fs.create(path, true)
    try out.write(value.getBytes("UTF-8")) finally out.close()
  }

  def read(spark: SparkSession, dir: String, name: String): String = {
    val marker = new Path(dir, name)
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(marker)
    try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
  }

  /** [[read]] that treats an absent marker as None instead of an IO
    * error — the probe the streaming sinks use to ask "did a crashed
    * predecessor already publish this version?" without requiring the
    * root to be initialized first. */
  def readOption(spark: SparkSession, dir: String,
    name: String): Option[String] = {
    val marker = new Path(dir, name)
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(marker)) None else Some(read(spark, dir, name))
  }
}
