package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.sources.Pq

/** The schema-cached artifact reader and its writer: a root republished
  * through [[Pq.write]] never serves a stale schema, and the schema the
  * writer records is exactly what an uncached parquet read infers. */
class PqSpec extends SparkTestBase {

  private def tmp(tag: String): String =
    Files.createTempDirectory(tag).toString + "/artifact"

  /** Jobs the body ran, counted through a job group. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"pq-spec-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "pq spec")
    try body finally sc.clearJobGroup()
    org.apache.spark.GraftTestBridge.drainListeners(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("a root republished with a changed schema reads its new columns") {
    import spark.implicits._
    val p = tmp("graft_pq_republish")
    Pq.write(Seq((1L, "a")).toDF("id", "old_col"), p)
    assert(Pq.read(spark, p).columns.toSeq == Seq("id", "old_col"))
    Pq.write(Seq((2L, 3.5, true)).toDF("id", "score", "kept"), p)
    val back = Pq.read(spark, p)
    assert(back.columns.toSeq == Seq("id", "score", "kept"))
    assert(back.collect().toSeq == Seq(Row(2L, 3.5, true)))
  }

  test("a read right after a write has the uncached read's schema, " +
      "nullability included, and runs no inference job") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("sigs", ArrayType(LongType, containsNull = false),
        nullable = false),
      StructField("attrs", MapType(StringType,
        ArrayType(IntegerType, containsNull = false),
        valueContainsNull = false)),
      StructField("s", StructType(Seq(
        StructField("x", DoubleType, nullable = false),
        StructField("ys", ArrayType(StructType(Seq(
          StructField("k", StringType, nullable = false))),
          containsNull = false), nullable = false))), nullable = false)))
    val df = spark.createDataFrame(
      java.util.List.of(Row(1L, Seq(7L, 8L), Map("m" -> Seq(1, 2)),
        Row(0.5, Seq(Row("k1"))))), schema)
    val p = tmp("graft_pq_nullable")
    Pq.write(df, p)
    var cached: StructType = null
    assert(jobsOf { cached = Pq.read(spark, p).schema } == 0)
    assert(jobsOf { spark.read.parquet(p).schema } > 0)
    assert(cached == spark.read.parquet(p).schema)
    assert(Pq.read(spark, p).collect().toSeq == df.collect().toSeq)
  }

  private def parquetFiles(p: String): Int =
    Files.list(java.nio.file.Paths.get(p)).toArray
      .count(_.toString.endsWith(".parquet"))

  test("a driver-built frame lands as one file; a scan-backed frame " +
      "keeps its partitioning") {
    import spark.implicits._
    val local = (1L to 100L).map(i => (i, i % 7)).toDF("node_id", "cluster_id")
    assert(spark.sparkContext.defaultParallelism > 1)
    val lp = tmp("graft_pq_local")
    Pq.write(local, lp)
    assert(parquetFiles(lp) == 1)
    assert(Pq.read(spark, lp).orderBy("node_id").collect().toSeq ==
      local.collect().toSeq)
    // a frame read from parquet keeps the scan's three files, and a
    // local relation joined to it is not driver-built
    val src = tmp("graft_pq_src")
    spark.range(0, 300, 1, 3).write.parquet(src)
    val sp = tmp("graft_pq_scan")
    Pq.write(spark.read.parquet(src), sp)
    assert(parquetFiles(sp) == 3)
    val jp = tmp("graft_pq_joined")
    Pq.write(spark.read.parquet(src).join(local.withColumnRenamed("node_id", "id"), "id")
      .repartition(2), jp)
    assert(parquetFiles(jp) == 2)
  }
}
