package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** k16_zorder_layout — MULTI-dimensional clustering for the landed
  * event store: the Delta/Iceberg `OPTIMIZE ZORDER BY` pattern,
  * complementing k08's single-column sort. A single-dim sort gives
  * perfect file pruning on ONE predicate axis and none on any other:
  * a time-sorted event tree answers "window [a, b]" in O(window) but
  * scans EVERY file for "user u's history", because each file spans
  * the whole user range. At 100 TB both access paths exist (the
  * dashboard slices time, the abuse/debug path slices users), and
  * you don't get to land the corpus twice.
  *
  * Z-ordering interleaves the bits of the two quantized dimensions
  * (Morton curve) and range-clusters files along the interleaved
  * value, so a CONTIGUOUS z-run is (unions of) small rectangles in
  * (user, time) space: every file's parquet footer then carries a
  * NARROW min/max on BOTH `user_id` and `bin_id`, and either
  * predicate alone — or a rectangle of both — skips most files on
  * stats, no secondary index needed. The cost is a bounded loss of
  * locality per dim vs the dedicated sort (the curve's rectangles,
  * ~sqrt(files) per axis, vs the sort's perfect 1/files slivers) —
  * the classic trade: one layout, every axis prunable.
  *
  * Quantization is pure integer arithmetic off the dims' global
  * min/max ((x − min)·2^bits div span, one metadata-scale agg), so
  * the whole layout — and the registered rectangle read-back the
  * oracle replays — is engine-independent. The curve needs no
  * decode path: z exists only at write time to ORDER rows; readers
  * filter on the natural columns and parquet stats do the rest.
  *
  * Reference analog: the sorted+indexed artifact family
  * (`samtools sort` + `index`, tools.py:499-530) — generalized to
  * the second predicate axis those tools answer with a second copy.
  */
object ZOrderLayout {

  /** Bits per dimension: 2^8 quantization levels, 16-bit z. */
  private[graft] val Bits = 8

  /** The landed tree's schema — one definition shared by the layout,
    * the zone-map index, and the streaming twin (the k17 shared-
    * constant discipline).
    */
  private[graft] val TreeSchema =
    "event_id BIGINT, user_id BIGINT, bin_id BIGINT, " +
      "event_type STRING, value DOUBLE"

  private[graft] val BinUs = 3600L * 1000000L // q10's hour bins

  /** Morton interleave of two pre-quantized [0, 2^Bits) longs:
    * dim a takes the even bit positions, dim b the odd.
    */
  private[graft] def zInterleave(a: Column, b: Column): Column =
    (0 until Bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  /** (x − lo)·2^Bits div (hi − lo + 1): monotone, integer-exact,
    * range [0, 2^Bits) — safe while span·2^Bits < 2^63. Integral
    * div via the subtract-remainder-then-decimal idiom (t17's idiv):
    * no double mantissa limit at any id magnitude.
    */
  private[graft] def quantize(x: Column, lo: Long, hi: Long): Column = {
    val scaled = (x - lit(lo)) * lit(1L << Bits)
    val span = lit(hi - lo + 1L)
    val r = scaled - pmod(scaled, span)
    (r.cast("decimal(38,0)") / span.cast("decimal(38,0)")).cast("long")
  }

  private def binId(ts: Column): Column =
    floor(graft.Tables.epochUs(ts) / BinUs).cast("long")

  /** The four dial posts of the grid — one metadata-scale agg over
    * the clusterable rows (both dims non-null, like every
    * stats-prunable store). Degenerate (0,0,0,0) when NO row is
    * clusterable (CoverageTrack's empty-input guard: the min/max row
    * comes back all-NULL and a bare getLong would NPE) — the write
    * then lands an empty tree and the read-back is empty, matching
    * the oracle, instead of crashing.
    */
  private[graft] def bounds(events: DataFrame): (Long, Long, Long, Long) = {
    val r = events
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .agg(min(col("user_id")), max(col("user_id")),
        min(binId(col("ts"))), max(binId(col("ts")))).head
    if (r.isNullAt(0)) (0L, 0L, 0L, 0L)
    else (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** (tree dir, grid bounds), staged together: bounds are immutable
    * properties of the tree, so the read-back must not pay a second
    * raw-events scan to rediscover what the write already computed.
    */
  private def stagedTree(events: DataFrame,
      writers: Int, cacheKey: String): (String, (Long, Long, Long, Long)) =
    graft.Staging.memo("k16", cacheKey) {
      val b @ (uLo, uHi, bLo, bHi) = bounds(events)
      val dir = graft.Staging.dir("graft_k16_") + "/zorder"
      events
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .select(col("event_id"), col("user_id"),
          binId(col("ts")).as("bin_id"), col("event_type"), col("value"))
        .withColumn("z", zInterleave(
          quantize(col("user_id"), uLo, uHi),
          quantize(col("bin_id"), bLo, bHi)))
        .repartitionByRange(writers, col("z"))
        .sortWithinPartitions(col("z"))
        .drop("z")
        .write.mode(SaveMode.Overwrite).parquet(dir)
      (dir, b)
    }

  /** Land events z-clustered by (user_id, time bin). The written
    * schema carries the natural predicate columns (`user_id`,
    * `bin_id`) — z orders the write and is dropped.
    */
  def stageZOrder(events: DataFrame, writers: Int = 16,
      cacheKey: String = ""): String =
    stagedTree(events, writers, cacheKey)._1

  /** The staged tree WITH its memoized grid bounds — k19's zone-map
    * build rides the same landed artifact and must not pay a second
    * raw-events scan to rediscover them (the k16 review-fix
    * discipline, extended to the index that shares the tree).
    */
  private[graft] def stagedWithBounds(events: DataFrame,
      cacheKey: String = ""): (String, (Long, Long, Long, Long)) =
    stagedTree(events, writers = 16, cacheKey = cacheKey)

  /** Comparison foil for the spec: the SAME rows time-sorted only
    * (k08's single-dim layout) — perfect on bin_id, blind on
    * user_id.
    */
  private[graft] def stageTimeSorted(events: DataFrame,
      writers: Int = 16): String = {
    val dir = graft.Staging.dir("graft_k16_foil_") + "/timesorted"
    events
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("event_id"), col("user_id"),
        binId(col("ts")).as("bin_id"), col("event_type"), col("value"))
      .repartitionByRange(writers, col("bin_id"))
      .sortWithinPartitions(col("bin_id"))
      .write.mode(SaveMode.Overwrite).parquet(dir)
    dir
  }

  private[graft] def readZOrder(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(TreeSchema).parquet(dir)

  /** The registered query: fetch the middle rectangle — users in
    * [lo + span/4, lo + span/2], bins likewise — from the LANDED
    * tree (both predicates reach the scan; file stats skip on both
    * axes) and summarize per event_type. Bounds derive from the
    * dims' own min/max by integer arithmetic, so the oracle replays
    * them from raw events.
    */
  def rectangleWindow(events: DataFrame,
      cacheKey: String = ""): DataFrame = {
    val spark = events.sparkSession
    val (dir, (uLo, uHi, bLo, bHi)) =
      stagedTree(events, writers = 16, cacheKey = cacheKey)
    val uSpan = uHi - uLo + 1L
    val bSpan = bHi - bLo + 1L
    readZOrder(spark, dir)
      .filter(col("user_id").between(uLo + uSpan / 4, uLo + uSpan / 2) &&
        col("bin_id").between(bLo + bSpan / 4, bLo + bSpan / 2))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("user_id")).cast("long").as("user_checksum"),
        sum(col("bin_id")).cast("long").as("bin_checksum"),
        round(sum(col("value")), 4).as("sum_value"))
  }
}
