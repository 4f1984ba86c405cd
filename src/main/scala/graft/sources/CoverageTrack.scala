package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** k15_coverage_track — the binned-coverage TRACK export: q10's bins
  * landed as a pruned, sorted, manifest-carrying tree a range query
  * can read without touching the rest — the igvtools `.tdf` / `.bai`
  * artifact (reference tools.py:499-530 runs `igvtools count -w` and
  * `samtools index` exactly so a browser can fetch "window [a, b] of
  * one track" in O(window), not O(file)). q10 computes the bins,
  * k08 sorts a corpus, k09 ships a manifest; this operator is their
  * COMPOSITION for the coverage artifact:
  *
  *  - partition by event_type (one directory per track — the scan
  *    prunes non-requested tracks at the file index),
  *  - range-cluster by bin_id within each track
  *    (`repartitionByRange` + `sortWithinPartitions`, k08's layout
  *    move): every file carries a narrow disjoint [min_bin, max_bin]
  *    footer, so a window predicate skips whole row groups — the
  *    .bai role, played by parquet's own statistics,
  *  - a per-file manifest off `_metadata` (k09's shape) that doubles
  *    as the track's queryable index and completeness proof.
  *
  * The registered query is the consumer's read: fetch a fixed bin
  * window of every track from the LANDED tree (partition-pruned,
  * row-group-skipped) and summarize per track; the oracle recomputes
  * the same window straight from raw events, so equality proves the
  * track artifact preserved the bins exactly. The window's bounds
  * derive from the track's own min bin (both engines replay the same
  * arithmetic), and bin mass compares as round(sum_value·10⁴) longs
  * — per-bin sum_value is already the 4-dp rounded q10 value, so the
  * scaling is exact in both engines (integer-cents discipline).
  *
  * Scale shape: the track tree is #bins × #types rows — METADATA
  * scale relative to events (q10's aggregate bound) — so staging
  * cost is the q10 aggregate plus a bounded-cardinality write; the
  * read-back costs one pruned scan of the requested window. At
  * 100 TB of events the track is still millions of rows, and the
  * range-clustered layout is what keeps every dashboard fetch from
  * rescanning it.
  */
object CoverageTrack {

  private[graft] val trackSchema =
    "bin_id BIGINT, n_events BIGINT, sum_value DOUBLE, event_type STRING"

  /** Window the registered consumer fetches, relative to the track's
    * first bin (oracle-replayable arithmetic).
    */
  private[graft] val WindowLoOffset = 24L
  private[graft] val WindowHiOffset = 72L

  /** Land q10's bins as the sorted, partitioned track tree. */
  def stageTrack(events: DataFrame, writers: Int = 8,
      cacheKey: String = ""): String =
    graft.Staging.memo("k15", cacheKey) {
      val dir = graft.Staging.dir("graft_k15_") + "/track"
      graft.operators.Pipeline.binCoverage(events)
        .repartitionByRange(writers, col("event_type"), col("bin_id"))
        .sortWithinPartitions(col("event_type"), col("bin_id"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("event_type")
        .parquet(dir)
      dir
    }

  private[graft] def readTrack(spark: SparkSession,
      dir: String): DataFrame =
    spark.read.schema(trackSchema).parquet(dir)

  /** Per-file manifest of the track (k09's `_metadata` shape): one
    * row per physical file with row count, bin range, and checksums
    * — the spec pins full disk coverage and row conservation.
    */
  def trackManifest(events: DataFrame,
      cacheKey: String = ""): DataFrame = {
    val dir = stageTrack(events, cacheKey = cacheKey)
    readTrack(events.sparkSession, dir)
      .select(col("event_type"), col("bin_id"), col("n_events"),
        col("_metadata.file_name").as("file_name"),
        col("_metadata.file_size").as("file_size"))
      .groupBy(col("event_type"), col("file_name"))
      .agg(count(lit(1)).as("n_bins"),
        sum(col("n_events")).cast("long").as("n_events"),
        min(col("bin_id")).as("min_bin"),
        max(col("bin_id")).as("max_bin"),
        first(col("file_size")).as("file_size"))
  }

  /** The registered query: fetch bins [min+24, min+72] of every
    * track from the landed tree and summarize per track. The scan is
    * partition-pruned to the requested tracks (all of them here) and
    * row-group-skipped by the bin_id bounds against the sorted
    * files' footers.
    */
  def coverageWindow(events: DataFrame,
      cacheKey: String = ""): DataFrame = {
    val spark = events.sparkSession
    val dir = stageTrack(events, cacheKey = cacheKey)
    val track = readTrack(spark, dir)
    val mbRow = track.agg(min(col("bin_id"))).head
    val windowed =
      if (mbRow.isNullAt(0)) track.filter(lit(false))
      else {
        val mb = mbRow.getLong(0)
        track.filter(col("bin_id").between(
          mb + WindowLoOffset, mb + WindowHiOffset))
      }
    windowed
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_bins"),
        sum(col("n_events")).cast("long").as("n_events"),
        sum(col("bin_id")).cast("long").as("bin_checksum"),
        sum(round(col("sum_value") * 10000d).cast("long"))
          .cast("long").as("mass_e4"))
  }
}
