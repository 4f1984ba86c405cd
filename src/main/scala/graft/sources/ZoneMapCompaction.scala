package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** k20_compact_reindex — OPTIMIZE-style compaction of a fragmented
  * zone-mapped tree with an ATOMIC index rewrite: the lifecycle step
  * st17 makes inevitable. An append-only stream lands one small
  * z-clustered directory per micro-batch; each batch's files are
  * narrow on the shared grid, but the BATCHES overlap each other —
  * a year of micro-batches is a million small files whose zone
  * rectangles all cover the same hot region, so a rectangle fetch
  * reads a candidate file per batch (the classic small-files decay:
  * skipping still has no false negatives, it just stops SKIPPING).
  * Delta/Iceberg answer with OPTIMIZE/rewrite_data_files: rewrite
  * the fragments as few, globally re-clustered files, and publish
  * the metadata that reflects the rewrite in the same commit — the
  * index must never lag the rewrite, and readers of the old version
  * must never be yanked (k14's immutable-version contract).
  *
  * Layout: fragments live under `frag/b{N}` (st17's shape), the
  * compacted generation under `c1` — a NEW immutable commit
  * directory, never an in-place rewrite — and manifest versions
  * under `_zonemap/v{K}`: v1 covers exactly the fragment files, v2
  * exactly c1's files. Readers resolve files THROUGH a manifest
  * version (k19's fetch), so v1 keeps reading the untouched
  * fragments byte-identically while v2 serves the compacted tree;
  * reclaiming the fragments afterwards is k14's expire/vacuum
  * pattern, deliberately a separate step.
  *
  * Compaction cost is one scan + one clustered write of the DATA
  * (unavoidable — it IS the rewrite) plus a metadata-scale stats
  * fold; at 100 TB it runs per-partition/per-region, exactly like
  * the engines it mirrors. The payoff is spec-pinned, not assumed:
  * the SAME narrow rectangle reads strictly fewer files through v2
  * than through v1, and the fetched rows are identical through
  * both — compaction changes layout, never semantics.
  *
  * Reference analog: the sort+index re-run that follows accumulation
  * (`samtools sort` + `index` after merges, tools.py:499-530) — the
  * artifact is rewritten AND its index refreshed as one step.
  */
object ZoneMapCompaction {

  /** Number of fragment directories the demo lands (st17's per-batch
    * shape, driven batch-side so the oracle stays relational).
    */
  private[graft] val Fragments = 6

  /** Stage the fragmented tree + v1, compact into c1 + v2
    * (`Staging.memo`). Returns (root, bounds).
    */
  private[graft] def stageCompacted(events: DataFrame,
      cacheKey: String = ""): (String, (Long, Long, Long, Long)) =
    graft.Staging.memo("k20", cacheKey) {
      val spark = events.sparkSession
      val bounds = ZOrderLayout.bounds(events)
      val root = graft.Staging.dir("graft_k20_") + "/store"
      // fragments: st17's per-batch landing, sliced deterministically
      // (pmod over event_id stands in for arrival order); each slice
      // z-clusters WITHIN itself on the shared grid, so fragments
      // overlap each other — the decay k20 exists to repair
      (0 until Fragments).foreach { i =>
        ZoneMapIndex.appendFragment(spark, s"$root/frag",
          events.filter(pmod(col("event_id"), lit(Fragments.toLong))
            === i.toLong),
          i.toLong, bounds)
      }
      ZoneMapIndex.statsRowsFor(
        ZoneMapIndex.readStreamedTree(spark, s"$root/frag"))
        .write.mode(SaveMode.Overwrite).parquet(s"$root/_zonemap/v1")
      compactInto(spark, root, bounds)
      (root, bounds)
    }

  /** The rewrite: read the fragments THROUGH v1 (never a raw crawl —
    * the manifest is the source of truth for what a generation
    * holds), re-cluster globally on the same grid, land as the new
    * immutable `c1` generation, and publish v2 from c1's actual
    * files. The fragments are not touched — v1 readers keep their
    * bytes; reclaim is k14's expire pattern, a separate step.
    */
  private[graft] def compactInto(spark: SparkSession, root: String,
      bounds: (Long, Long, Long, Long), writers: Int = 8): Unit = {
    val (uLo, uHi, bLo, bHi) = bounds
    val v1Files = ZoneMapIndex
      .readManifest(spark, s"$root/_zonemap/v1")
      .select(col("file")).collect().map(_.getString(0)).toSeq
    spark.read.option("basePath", s"$root/frag")
      .schema(ZOrderLayout.TreeSchema)
      .parquet(v1Files: _*)
      .withColumn("z", ZOrderLayout.zInterleave(
        ZOrderLayout.quantize(col("user_id"), uLo, uHi),
        ZOrderLayout.quantize(col("bin_id"), bLo, bHi)))
      .repartitionByRange(writers, col("z"))
      .sortWithinPartitions(col("z"))
      .drop("z")
      .write.mode(SaveMode.Overwrite).parquet(s"$root/c1")
    ZoneMapIndex.statsRowsFor(
      spark.read.schema(ZOrderLayout.TreeSchema).parquet(s"$root/c1"))
      .write.mode(SaveMode.Overwrite).parquet(s"$root/_zonemap/v2")
  }

  /** Rectangle fetch through a manifest VERSION of this store —
    * k19's probe-and-read against the generation that version pins.
    */
  private[graft] def fetchAt(spark: SparkSession, root: String,
      version: Int, uLo: Long, uHi: Long, bLo: Long,
      bHi: Long): DataFrame =
    ZoneMapIndex.fetchRectangle(spark, root,
      s"$root/_zonemap/v$version", uLo, uHi, bLo, bHi,
      recursiveTree = true)

  /** The registered query: the FIRST quarter of each axis — a third
    * slice of the shared layout family (k16 pins the second quarter,
    * k19/st17 the third) — resolved through the POST-compaction v2
    * manifest. The oracle replays the rectangle off raw events:
    * compaction must be semantically invisible, exactly as the
    * manifest itself is.
    */
  def compactedRectangle(events: DataFrame,
      cacheKey: String = ""): DataFrame = {
    val spark = events.sparkSession
    val (root, (uLo, uHi, bLo, bHi)) = stageCompacted(events, cacheKey)
    val uSpan = uHi - uLo + 1L
    val bSpan = bHi - bLo + 1L
    fetchAt(spark, root, version = 2,
      uLo, uLo + uSpan / 4,
      bLo, bLo + bSpan / 4)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("user_id")).cast("long").as("user_checksum"),
        sum(col("bin_id")).cast("long").as("bin_checksum"),
        round(sum(col("value")), 4).as("sum_value"))
  }
}
