package graft.operators

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain,
  Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.util.sketch.BloomFilter

/** Pre-shuffle bloom pruning for asymmetric probes (the manual analog
  * of Spark's runtime row-level bloom join filter, which the optimizer
  * cannot inject here because both join keys are DERIVED — posexploded
  * band rows, not scan attributes).
  *
  * The incremental-dedup probes join a corpus-sized published index
  * against an increment ~0.1% its size. The increment already rides the
  * SHUFFLE_HASH build side, so per-partition memory is increment-shaped
  * — but the INDEX still pays a full shuffle write+read of every banded
  * row, almost none of which have a partner: at 100 TB the probe's cost
  * is the index exchange, not the join. A bloom over the increment's
  * join-key hashes, planted as a scan-side filter on the index branch,
  * discards partnerless index rows BEFORE the exchange — shuffled index
  * bytes drop from corpus-banded-sized to ~(hits + fpp·corpus), while
  * correctness is untouched: bloom false positives are just surplus
  * candidates for the exact verify stage, and false negatives cannot
  * exist (every true partner's key was inserted).
  *
  * Build cost is ONE increment-side job while the increment is
  * small: a bounded pull of the probe's key hashes to the driver
  * ([[pullKeys]]: at most [[maxPullRows]] + 1 rows, checked by the
  * pull itself before the driver holds more) and a driver-built
  * sketch of ~1.2 bytes/key at the default fpp — the same
  * bounded-model-pull contract as the IVF centroid fit. A caller that
  * needs more of the increment than its hashes (the banded probes
  * count the increment's own hot buckets) carries the key columns in
  * the same pull. An increment past the pull bound builds its sketch
  * on the executors instead (a count, then the filter aggregation),
  * so only the sketch reaches the driver. When the increment
  * outgrows `maxKeys` (a driver bloom would stop being
  * broadcast-small), the prune SKIPS and returns the index branch
  * unchanged — the exact posture of Spark's own
  * `runtimeFilter.creationSideThreshold`.
  */
private[graft] object ProbeFilters {

  /** 8M keys ≈ 9.2 MiB sketch at fpp 0.01 — the broadcast-small bound;
    * above it the prune skips rather than ship a fat literal into
    * every task. */
  val defaultMaxKeys: Long = 8L * 1000 * 1000

  /** Row bound of the driver pull ([[pullKeys]]). A pulled
    * (hash, band, key) row is a boxed `GenericRow` of ~108 bytes of
    * driver heap (measured with Spark's `SizeEstimator` and with heap
    * deltas over a 400k-row pull; pinned in ProbeFilterSpec), so the
    * bound holds a pull to ~54 MB — well inside the driver's default
    * 1 GiB `maxResultSize`. A 20-document wave pulls 320 rows. */
  val maxPullRows: Int = 500 * 1000

  /** Shared key shape for build and probe sides: xxhash64 of the join
    * key columns. `BloomFilterMightContain` consumes a LONG value, and
    * putLong/mightContainLong on the sketch are the matching pair —
    * hash parity between the two paths is pinned in ProbeFilterSpec. */
  private def keyHash(keyCols: Seq[String]): Column =
    xxhash64(keyCols.map(col): _*)

  /** `might_contain(bloom, value)` as a codegen'd Column over a
    * driver-built sketch (the serialized filter folds into the plan as
    * a binary literal, deserialized once per task). */
  private[graft] def mightContain(bf: BloomFilter, value: Column): Column = {
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    ColumnBridge.column(BloomFilterMightContain(
      Literal(bos.toByteArray), ColumnBridge.expression(value)))
  }

  /** `probe`'s rows as (xxhash64 of `keyCols`, then the `carry`
    * columns), pulled to the driver in one job — or None when the
    * probe holds more than `maxRows` rows (the pull stops at
    * `maxRows + 1`, so the driver never holds more than the bound
    * plus one row). Column 0 is the sketch key ([[sketch]]). */
  def pullKeys(probe: DataFrame, keyCols: Seq[String],
    carry: Seq[String] = Nil,
    maxRows: Int = maxPullRows): Option[Array[Row]] = {
    val rows = probe.select(keyHash(keyCols).as("kh") +: carry.map(col): _*)
      .limit(maxRows + 1).collect()
    if (rows.length > maxRows) None else Some(rows)
  }

  /** The bloom sketch of pulled key rows ([[pullKeys]]): `putLong` of
    * each row's xxhash64, the pair of the probe side's
    * `might_contain(bloom, xxhash64(…))` — parity pinned in
    * ProbeFilterSpec. Sized by the row count, an upper bound on
    * distinct keys. */
  def sketch(rows: Array[Row], fpp: Double = 0.01): BloomFilter = {
    val bf = BloomFilter.create(math.max(rows.length, 1L), fpp)
    rows.foreach(r => bf.putLong(r.getLong(0)))
    bf
  }

  /** `big` restricted to rows whose (keyCols) join key MIGHT appear in
    * `probe` — a map-side semi-join sketch, no shuffle on either side.
    * `pulled` is `probe`'s [[pullKeys]] pull: its rows build the
    * sketch on the driver; None (the probe is past the pull bound)
    * builds it on the executors — a count to size and guard it (sized
    * by the raw row count, an upper bound on distinct keys, so no
    * distinct shuffle), then the filter aggregation. Returns `big`
    * unchanged when the probe is empty (nothing can join — but the
    * zero-row case only arises in degenerate fixtures; keeping the
    * plan shape uniform costs nothing there) or exceeds `maxKeys`
    * (skip-guard). */
  def pruneBy(big: DataFrame, probe: DataFrame, keyCols: Seq[String],
    pulled: Option[Array[Row]], fpp: Double = 0.01,
    maxKeys: Long = defaultMaxKeys): DataFrame = {
    val kh = keyHash(keyCols)
    val bf = pulled match {
      case Some(rows) =>
        if (rows.isEmpty || rows.length > maxKeys) None
        else Some(sketch(rows, fpp))
      case None =>
        val n = probe.count()
        if (n == 0 || n > maxKeys) None
        else Some(probe.select(kh.as("kh")).stat.bloomFilter("kh", n, fpp))
    }
    bf.fold(big)(f => big.filter(mightContain(f, kh)))
  }

  /** [[pruneBy]] over a fresh pull of `probe`'s keys: the bloom prune
    * for callers that need nothing else from the probe side. */
  def bloomSemi(big: DataFrame, probe: DataFrame, keyCols: Seq[String],
    fpp: Double = 0.01, maxKeys: Long = defaultMaxKeys): DataFrame =
    pruneBy(big, probe, keyCols, pullKeys(probe, keyCols), fpp, maxKeys)
}
