package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A published near-dup index as a MANIFEST: one base layer plus
  * ordered delta layers. Every layer is the directory
  * `<root>/<version>/<name>` of the version that wrote it. A base holds
  * index rows; a delta holds the rows one compaction wave ADDED, and
  * the manifest lists the keys that wave RETIRED. The effective index
  * of a version is every row of layer i whose key no later layer
  * retires, so a wave publishes its own rows, not `retained ∪ added`
  * again.
  *
  * The manifest is a marker inside the version's own layer directory:
  * a `key <column>` line, then one `<layer path relative to root>
  * <data bytes>` line per layer, base first, each delta's line ending
  * in its retired keys. A layer directory without one (a seed or a fit
  * output) is a base on its own, so every published path reads through
  * [[read]], whatever wrote it.
  *
  * The retired (key, layer) set lives on the driver, so a read is ONE
  * scan over every layer's files and one hash-lookup filter against
  * that set: no second scan and no broadcast job, and the plan does not
  * grow with the delta count. Like a broadcast relation, the set ships
  * with every task, so it is bounded by
  * `spark.sql.autoBroadcastJoinThreshold` (the pull is bounded before it
  * allocates).
  *
  * Folds: a wave writes the effective index as a new base when the
  * delta bytes since the base reach the base's own bytes (an LSM size
  * ratio of 1, taken from the published base), when one more layer
  * would pass `spark.sql.sources.parallelPartitionDiscovery.threshold`
  * (a read lists its layer directories on the driver below it, so no
  * read starts a listing job), or when the retired set would pass its
  * bound. [[write]] returns the versions its manifest lists, which the
  * version publishes as its refs ([[graft.sources.Versions]]), so
  * retirement keeps every layer a retained manifest lists. */
private[graft] object IndexLayers {

  val manifestMarker = "_graft_manifest"
  /** A delta row's layer ordinal (base rows have none: ordinal 0). */
  private val layerCol = "_graft_layer"
  /** Serialized bytes per retired entry (a long key, an int layer). */
  private val retiredEntryBytes = 12L

  private final case class Layer(path: String, bytes: Long,
      retired: Seq[Long] = Nil)
  private final case class Manifest(key: String, layers: Seq[Layer]) {
    def deltaBytes: Long = layers.tail.map(_.bytes).sum
    def retiredCount: Long = layers.map(_.retired.size.toLong).sum
  }

  /** `<root>/<version>/<name>` → `<root>`. */
  private def rootOf(indexPath: String): Path =
    new Path(indexPath).getParent.getParent

  private def relative(indexPath: String): String = {
    val p = new Path(indexPath)
    s"${p.getParent.getName}/${p.getName}"
  }

  /** Bytes of a layer's data files (markers and sidecars excluded). */
  private def dataBytes(spark: SparkSession, indexPath: String): Long = {
    val p = new Path(indexPath)
    p.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(p)
      .filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.map(_.getLen).sum
  }

  private def manifest(spark: SparkSession, indexPath: String): Manifest =
    graft.sources.Markers.readOption(spark, indexPath, manifestMarker)
      .map { text =>
        val lines = text.split("\n").toSeq
        require(lines.head.startsWith("key "),
          s"$indexPath/$manifestMarker does not start with a key line")
        Manifest(lines.head.stripPrefix("key "), lines.tail.map { l =>
          l.split(" ") match {
            case Array(path, bytes) => Layer(path, bytes.toLong)
            case Array(path, bytes, keys) =>
              Layer(path, bytes.toLong, keys.split(",").map(_.toLong).toSeq)
          }
        })
      }
      .getOrElse(Manifest("", Seq(Layer(relative(indexPath),
        dataBytes(spark, indexPath)))))

  /** How many retired keys a manifest may hold: the broadcast threshold
    * over the bytes one entry ships with each task. */
  private def retiredBound(spark: SparkSession): Long =
    math.max(0L, spark.sessionState.conf.autoBroadcastJoinThreshold) /
      retiredEntryBytes

  /** The layer directories `indexPath`'s manifest lists, base first. */
  def layerPaths(spark: SparkSession, indexPath: String): Seq[String] =
    manifest(spark, indexPath).layers
      .map(l => new Path(rootOf(indexPath), l.path).toString)

  /** The effective index of the version whose layer directory is
    * `indexPath`: ONE scan over every layer's files, filtered by the
    * manifest's retired (key, layer) set, whatever the delta count. A
    * base alone reads as the plain parquet scan. */
  def read(spark: SparkSession, indexPath: String): DataFrame = {
    val m = manifest(spark, indexPath)
    if (m.layers.size == 1) graft.sources.Pq.read(spark, indexPath)
    else {
      val paths = m.layers.map(l => new Path(rootOf(indexPath), l.path).toString)
      // each key's newest retiring layer, sorted by key for the lookup
      val newest = m.layers.zipWithIndex
        .flatMap { case (l, i) => l.retired.map(_ -> i) }
        .groupMapReduce(_._1)(_._2)(math.max).toArray.sortBy(_._1)
      val keys = newest.map(_._1)
      val layers = newest.map(_._2)
      val retiredLater = udf { (k: java.lang.Long, layer: Int) =>
        k != null && {
          val i = java.util.Arrays.binarySearch(keys, k.longValue)
          i >= 0 && layers(i) > layer
        }
      }
      // every delta shares this schema; a base file lacks the layer
      // column and reads it as null
      spark.read.schema(graft.sources.Pq.schema(spark, paths.last))
        .parquet(paths: _*)
        .filter(!retiredLater(col(m.key), coalesce(col(layerCol), lit(0))))
        .drop(layerCol)
    }
  }

  /** Publish one version's index layer under `<root>/<version>/<name>`
    * with its manifest. `retired` is the wave's key set (one long
    * column, named like the index key); None publishes `added` as a
    * base (a seed). Otherwise the layer extends the manifest of
    * `previous`, the served version's layer directory: a delta of
    * `added` listing `retired`'s keys, or, when a fold rule fires, the
    * whole effective index after the wave as a new base. Returns the
    * versions whose layers the manifest lists. */
  def write(spark: SparkSession, root: String, version: String,
      name: String, added: DataFrame, retired: Option[DataFrame],
      previous: => String): Seq[String] = {
    val dir = s"$root/$version/$name"
    val key = retired.fold("")(_.columns.head)
    val (layers, wave) = retired match {
      case None =>
        graft.sources.Pq.write(added, dir)
        (Nil, Nil)
      case Some(keys) =>
        val prev = manifest(spark, previous)
        // the index columns, off the newest layer's cached schema
        val fields = graft.sources.Pq.schema(spark,
          new Path(rootOf(previous), prev.layers.last.path).toString)
          .fieldNames.filterNot(_ == layerCol)
        val aligned = added.select(fields.map(col): _*)
        val room = retiredBound(spark) - prev.retiredCount
        // the wave's keys, unless a fold rule fires first
        val pulled =
          if (prev.deltaBytes >= prev.layers.head.bytes || prev.layers.size +
              1 > spark.sessionState.conf.parallelPartitionDiscoveryThreshold ||
              room <= 0) None
          else Some(keys.select(col(key)).limit(math.min(room + 1,
              Int.MaxValue).toInt).collect().map(_.getLong(0)).toSeq)
            .filter(_.size <= room)
        pulled match {
          case Some(wave) =>
            graft.sources.Pq.write(
              aligned.withColumn(layerCol, lit(prev.layers.size)), dir)
            (prev.layers, wave.distinct)
          case None =>
            graft.sources.Pq.write(read(spark, previous)
              .join(broadcast(keys), Seq(key), "left_anti")
              .unionByName(aligned), dir)
            (Nil, Nil)
        }
    }
    val all = layers :+ Layer(relative(dir), dataBytes(spark, dir), wave)
    graft.sources.Markers.write(spark, dir, manifestMarker,
      (s"key $key" +: all.map { l =>
        (Seq(l.path, l.bytes.toString) ++
          Some(l.retired).filter(_.nonEmpty).map(_.mkString(","))).mkString(" ")
      }).mkString("\n"))
    all.map(_.path.split("/").head)
  }
}
