package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Schema-cached parquet reads for published artifacts (r19
  * optimization round — the [[Tables]] cache generalized): every bare
  * `spark.read.parquet` runs a driver-side footer-inference job at
  * DataFrame construction (~20–45 ms), and the warm lifecycle queries
  * (compact / incremental / nightly, model probes, silver readers) pay
  * it for each published index / pairs / model path they open — up to
  * 8 such jobs per invocation. The first read's inferred schema is
  * handed to every later read of the same path. Metadata caching only —
  * the planned scan, pruning and DPP are byte-identical to the
  * inferred-schema read; never data or results.
  *
  * Staleness: a path a publisher OVERWRITES must be written through
  * [[write]], which replaces the cached entry with the schema it just
  * wrote — so a republished root with a changed schema reads its new
  * columns, and a read right after a publish skips the inference job
  * altogether. Versioned directories are written once, so their entry
  * never moves.
  */
object Pq {
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, StructType]()

  def read(spark: SparkSession, path: String): DataFrame = {
    val known = schemaCache.get(path)
    if (known != null) spark.read.schema(known).parquet(path)
    else {
      val df = spark.read.parquet(path)
      schemaCache.put(path, df.schema)
      df
    }
  }

  /** The schema [[read]] would give `path`, without building a scan. */
  def schema(spark: SparkSession, path: String): StructType =
    Option(schemaCache.get(path)).getOrElse(read(spark, path).schema)

  /** Overwrite `path` with `df` and record the written schema as a
    * parquet read returns it: every field nullable, recursively (a
    * file source never trusts the writer's non-null claims).
    *
    * A driver-built frame (one whose optimized plan is a
    * `LocalRelation`, e.g. a driver-solved label map) is written as
    * ONE slice: Spark's local scan splits it into min(rows,
    * defaultParallelism) slices, so a ~100-row map landed as one task
    * and one file per core, most of them footer-only. Anything that
    * scans data keeps its partitioning. The leaf check runs first, so
    * a scan-backed plan pays no extra optimizer pass. */
  def write(df: DataFrame, path: String): Unit = {
    val driverBuilt =
      df.queryExecution.analyzed.collectLeaves().forall(
        _.isInstanceOf[LocalRelation]) &&
        df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
    (if (driverBuilt) df.coalesce(1) else df)
      .write.mode("overwrite").parquet(path)
    schemaCache.put(path, nullable(df.schema).asInstanceOf[StructType])
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), true)
    case m: MapType =>
      MapType(nullable(m.keyType), nullable(m.valueType), true)
    case other => other
  }
}
