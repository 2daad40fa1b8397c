package graft

import java.io.{IOException, OutputStream}
import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataOutputStream,
  FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import graft.sources.{Markers, Versions}

/** The local file system under the private `failflip` scheme; while
  * [[FailingFlipFs.failing]] is set, every output stream it opens for
  * a file named after the current marker throws on its first write —
  * a writer that dies while flipping the marker. */
class FailingFlipFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${FailingFlipFs.scheme}:///")
}) {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val out = super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
    if (!FailingFlipFs.failing ||
        !f.getName.contains(Versions.currentMarker)) out
    else new FSDataOutputStream(new OutputStream {
      def write(b: Int): Unit = throw new IOException(s"flip of $f failed")
      override def close(): Unit = out.close()
    }, null)
  }
}

object FailingFlipFs {
  val scheme = "failflip"
  @volatile var failing = false
}

/** [[FailingFlipFs]] for `FileContext`, which resolves a scheme to an
  * `AbstractFileSystem`. */
class FailingFlipAfs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new FailingFlipFs, conf,
    FailingFlipFs.scheme, false)

/** The current-marker flip of a versioned root is one rename: a writer
  * that dies while writing the new name leaves the old version served,
  * and an empty marker fails loudly instead of resolving to the root. */
class MarkerFlipSpec extends SparkTestBase {

  test("a marker flip that dies mid-write leaves the previous version " +
      "current") {
    val hadoop = spark.sparkContext.hadoopConfiguration
    val s = FailingFlipFs.scheme
    hadoop.set(s"fs.$s.impl", classOf[FailingFlipFs].getName)
    hadoop.set(s"fs.AbstractFileSystem.$s.impl",
      classOf[FailingFlipAfs].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft_flip").toString
    val root = s"$s://$dir/root"
    def publish(v: String): Unit =
      Versions.publish(spark, root, v)(Markers.write(spark, _, "_value", v))
    try {
      publish("v1")
      FailingFlipFs.failing = true
      val err = intercept[IOException](publish("v2"))
      assert(err.getMessage.contains("flip of"))
      FailingFlipFs.failing = false
      // the version whose flip failed is deleted, so retention never
      // counts it as published
      assert(!new java.io.File(s"$dir/root/v2").exists(),
        "v2/ outlived its failed flip")
      assert(Versions.currentVersion(spark, root).contains("v1"))
      assert(Versions.current(spark, root) == s"$root/v1")
      assert(Markers.read(spark, Versions.current(spark, root), "_value") ==
        "v1")
      // the next flip lands
      publish("v3")
      assert(Versions.current(spark, root) == s"$root/v3")
      // an empty marker names no version: resolving it fails, naming
      // the root
      val marker = new Path(root, Versions.currentMarker)
      marker.getFileSystem(hadoop).create(marker, true).close()
      val empty = intercept[IllegalArgumentException](
        Versions.current(spark, root))
      assert(empty.getMessage.contains(root))
    } finally {
      FailingFlipFs.failing = false
      hadoop.unset(s"fs.$s.impl")
      hadoop.unset(s"fs.AbstractFileSystem.$s.impl")
    }
  }
}
