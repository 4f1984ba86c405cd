package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** k19_zonemap_skipping — PLANNING-time file skipping from a
  * file-stats manifest: the Delta/Iceberg data-skipping log beside
  * k16's z-ordered tree. k16's rectangle read-back already prunes,
  * but at READ time: Spark lists every file, opens every parquet
  * FOOTER, and drops row groups whose stats miss the predicate. At
  * 100 TB that is ~10^6 footer opens per query — each a round-trip
  * to the object store — before a single matching byte is read.
  * Delta and Iceberg both solve this the same way: per-file min/max
  * stats live in the TRANSACTION LOG / manifest, so the planner
  * prunes the file list from metadata and the scan is constructed
  * over only the survivors. This operator is that half of the
  * pattern, and the complement of k17: blooms answer POINT
  * membership on a scattered high-cardinality key; zone maps answer
  * RANGE overlap on the clustered axes. One tree, both index shapes.
  *
  * Build: one column-pruned scan of the tree — `(user_id, bin_id,
  * _metadata.file_path)`, nothing else leaves the scan — folding
  * min/max per file; the manifest is #files rows of five columns
  * (metadata-scale, like k17's bit words). Because k16's layout made
  * every file narrow on BOTH axes (the spec pins median span ≤ half
  * the global span per dim), the manifest's rectangles are small and
  * a query rectangle overlaps ~the answer's files, not the tree's.
  *
  * Fetch: the rectangle filters the MANIFEST for interval overlap
  * (qLo ≤ fHi && qHi ≥ fLo on each axis — exact bounds, so a file
  * that could hold a matching row is NEVER dropped: no false
  * negatives by construction), the surviving paths come back in a
  * bounded collect (answer-scale, not corpus-scale), and the scan
  * reads exactly those files with the predicate pushed as a
  * row-group post-filter. Exactness is the k17 contract: skipping
  * only ever removes files that cannot match; rows are filtered
  * exactly on the natural columns.
  *
  * The registered rectangle is the THIRD quarter of each axis —
  * interior-disjoint from k16's second-quarter rectangle (the two
  * inclusive ranges share only the span/2 boundary line) so the two
  * queries pin different slices of the same layout — and the oracle
  * replays the same integer arithmetic on raw events (the manifest
  * is invisible to semantics, as an index must be).
  *
  * Reference analog: the .bai/.tdf index artifacts consulted before
  * any region fetch (tools.py:499-530) — the metadata you read so
  * you don't read the data.
  */
object ZoneMapIndex {

  private val staged = scala.collection.concurrent.TrieMap
    .empty[String, (String, String, (Long, Long, Long, Long))]

  private[graft] val ManifestSchema =
    "file STRING, u_lo BIGINT, u_hi BIGINT, b_lo BIGINT, b_hi BIGINT"

  /** Per-file min/max of the two clustered axes. One definition for
    * build and spec-recompute, k17's shared-fold discipline.
    * `coalesced=false` skips the single-file repartition for callers
    * that fold the stats into a larger frame and coalesce ONCE there
    * (refoldVersionTo — r19: the embedded repartition(1) stacked a
    * second exchange under the refold's own, one wasted stage per
    * micro-batch).
    */
  private[graft] def statsRowsFor(tree: DataFrame,
      coalesced: Boolean = true): DataFrame = {
    val stats = tree
      .select(col("user_id"), col("bin_id"),
        col("_metadata.file_path").as("file"))
      .groupBy(col("file"))
      .agg(min(col("user_id")).as("u_lo"), max(col("user_id")).as("u_hi"),
        min(col("bin_id")).as("b_lo"), max(col("bin_id")).as("b_hi"))
    if (coalesced) stats.repartition(1) else stats
  }

  private[graft] def readManifest(spark: SparkSession,
      manifestDir: String): DataFrame =
    spark.read.schema(ManifestSchema).parquet(manifestDir)

  /** Stage k16's z-ordered tree (shared staging — the layout IS
    * k16's; two operators, one landed artifact) and build the stats
    * manifest beside it under an underscore dir (invisible to data
    * reads, the `_bloom` convention).
    */
  private[graft] def stageWithManifest(events: DataFrame,
      cacheKey: String = ""): (String, String, (Long, Long, Long, Long)) = {
    def fresh(): (String, String, (Long, Long, Long, Long)) = {
      val spark = events.sparkSession
      val (dir, bounds) =
        ZOrderLayout.stagedWithBounds(events, cacheKey = cacheKey)
      val manifest = s"$dir/_zonemap"
      statsRowsFor(ZOrderLayout.readZOrder(spark, dir))
        .write.mode(SaveMode.Overwrite).parquet(manifest)
      (dir, manifest, bounds)
    }
    if (cacheKey.isEmpty) fresh()
    else staged.getOrElseUpdate(cacheKey, fresh())
  }

  /** Files whose stats rectangle OVERLAPS the query rectangle —
    * interval overlap per axis, exact bounds, no false negatives.
    * Bounded collect: the overlap set is answer-scale on a clustered
    * tree (and never exceeds #files = manifest rows, metadata-scale
    * by construction).
    */
  private[graft] def overlappingFiles(spark: SparkSession,
      manifestDir: String, uLo: Long, uHi: Long, bLo: Long,
      bHi: Long): Seq[String] =
    readManifest(spark, manifestDir)
      .filter(col("u_lo") <= uHi && col("u_hi") >= uLo &&
        col("b_lo") <= bHi && col("b_hi") >= bLo)
      .select(col("file"))
      .collect().map(_.getString(0)).toSeq

  /** Probe-and-read: resolve the rectangle through the manifest,
    * construct the scan over ONLY the surviving files, post-filter
    * exactly. Degrades to a typed empty frame when no file's stats
    * overlap (k17's fetchCandidates convention).
    */
  private[graft] def fetchRectangle(spark: SparkSession, treeDir: String,
      manifestDir: String, uLo: Long, uHi: Long, bLo: Long,
      bHi: Long, recursiveTree: Boolean = false): DataFrame = {
    val files = overlappingFiles(spark, manifestDir, uLo, uHi, bLo, bHi)
    val slice =
      if (files.isEmpty) {
        // typed empty frame off the tree's own (possibly nested)
        // listing — never an error on an overlap-free rectangle
        val r = spark.read.schema(ZOrderLayout.TreeSchema)
        (if (recursiveTree) r.option("recursiveFileLookup", "true") else r)
          .parquet(treeDir).filter(lit(false))
      } else
        spark.read.option("basePath", treeDir)
          .schema(ZOrderLayout.TreeSchema)
          .parquet(files: _*)
    slice.filter(col("user_id").between(uLo, uHi) &&
      col("bin_id").between(bLo, bHi))
  }

  // ---- streaming maintenance (st17's per-batch primitives) --------

  /** The drained streamed tree: batch directories `b{N}` under one
    * root, read recursively (underscore dirs — `_zonemap` — are
    * hidden from data listings by Spark's own path filter).
    */
  private[graft] def readStreamedTree(spark: SparkSession,
      tree: String): DataFrame =
    spark.read.schema(ZOrderLayout.TreeSchema)
      .option("recursiveFileLookup", "true").parquet(tree)

  /** Bootstrap manifest version: zero rows (the tree starts empty) —
    * the st16 convention's v1, so batch N publishes v(N+2) and an
    * in-flight reader on v(N+1) is never yanked.
    */
  private[graft] def writeEmptyManifest(spark: SparkSession,
      path: String): Unit =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(ManifestSchema))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)

  /** Publish manifest version `toV` = v(toV−1) ∪ stats of batch
    * `batchId`'s landed directory. The delta's stats are recomputed
    * from the files ON DISK (never carried in memory across a retry),
    * and the fold chains from the predecessor version — so a REPLAYED
    * batch overwrites its own landing dir, re-derives the same stats,
    * and reproduces `toV` bit-identically instead of duplicating rows
    * (st16's batchId-derived version discipline).
    */
  private[graft] def refoldVersionTo(spark: SparkSession, tree: String,
      batchId: Long, fromV: Long, toV: Long): Unit = {
    // coalesced=false: the fold's own repartition(1) below is the
    // single coalesce point (r19 — one exchange per refold, not two)
    val delta = statsRowsFor(
      spark.read.schema(ZOrderLayout.TreeSchema).parquet(s"$tree/b$batchId"),
      coalesced = false)
    readManifest(spark, s"$tree/_zonemap/v$fromV")
      .unionByName(delta)
      .repartition(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$tree/_zonemap/v$toV")
  }

  /** Land one micro-batch as its own z-clustered immutable directory
    * (idempotent overwrite of `b{batchId}` — the streaming family's
    * replay convention) and publish the next manifest version covering
    * exactly the files landed so far. Per-batch cost ∝ the BATCH, never
    * the tree: the delta's stats come from scanning only `b{batchId}`,
    * and the fold against v(toV−1) is metadata-cardinality. Batches
    * z-cluster within themselves on the FIXED grid (`bounds` is the
    * landing spec, set before the stream starts, exactly as production
    * fixes quantization in the table spec) — clustering quality is
    * per-batch rather than global, but manifest EXACTNESS (min/max per
    * file → no false negatives) never depends on clustering at all.
    */
  /** The landing write shared by st17's micro-batches and k20's demo
    * fragments: normalize, z-cluster WITHIN the slice on the fixed
    * grid, land as an immutable directory (idempotent overwrite).
    */
  /** Target bytes per landed file when the width is size-adaptive —
    * st17's micro-batches; see landClustered.
    */
  private[graft] val LandTargetBytes: Long = 8L << 20

  private def landClustered(slice: DataFrame, target: String,
      bounds: (Long, Long, Long, Long),
      adaptiveWidth: Boolean = false): Unit = {
    val (uLo, uHi, bLo, bHi) = bounds
    val projected = slice
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("event_id"), col("user_id"),
        floor(graft.Tables.epochUs(col("ts")) / ZOrderLayout.BinUs)
          .cast("long").as("bin_id"),
        col("event_type"), col("value"))
      .withColumn("z", ZOrderLayout.zInterleave(
        ZOrderLayout.quantize(col("user_id"), uLo, uHi),
        ZOrderLayout.quantize(col("bin_id"), bLo, bHi)))
    // Width sizing (r19 optimization round, guide §2 "derive from
    // input size" + §6 file sizing): the fixed 4-way range partition
    // paid, per micro-batch, a range-boundary SAMPLING job (an extra
    // full pass over the batch — RangePartitioner executes the child
    // once for bounds and once for the shuffle) plus 4 tiny files. A
    // batch under LandTargetBytes now lands as ONE file via
    // coalesce(1) + full sort — no sampling pass, no exchange, and
    // the single file is perfectly z-clustered (narrowest possible
    // stats). Larger batches keep the sampled range partition: the
    // sampling pass buys balanced file sizes under z-skew, which is
    // layout quality the manifest's consumers depend on (the spec's
    // narrow-span pins). Unknown stats fall back to the fixed width.
    // k20's fragment demo keeps the fixed fan-out (adaptiveWidth
    // false) — many small fragments are that operator's POINT (its
    // spec proves compaction shrinks the file count).
    val width =
      if (!adaptiveWidth) 4
      else {
        val bytes = projected.queryExecution.optimizedPlan.stats.sizeInBytes
        if (!bytes.isValidLong || bytes.toLong <= 0L) 4
        else math.min(4L, math.max(1L,
          (bytes.toLong + LandTargetBytes - 1L) / LandTargetBytes)).toInt
      }
    val placed =
      if (width == 1) projected.coalesce(1)
      else projected.repartitionByRange(width, col("z"))
    placed
      .sortWithinPartitions(col("z"))
      .drop("z")
      .write.mode(SaveMode.Overwrite).parquet(target)
  }

  private[graft] def appendBatch(spark: SparkSession, tree: String,
      batch: DataFrame, batchId: Long,
      bounds: (Long, Long, Long, Long), toV: Long): Unit = {
    landClustered(batch, s"$tree/b$batchId", bounds, adaptiveWidth = true)
    refoldVersionTo(spark, tree, batchId, fromV = toV - 1L, toV = toV)
  }

  /** One of k20's demo fragments: a landed slice with NO manifest
    * fold (k20 builds v1 once over the whole fragmented tree).
    */
  private[graft] def appendFragment(spark: SparkSession, fragRoot: String,
      slice: DataFrame, id: Long,
      bounds: (Long, Long, Long, Long)): Unit =
    landClustered(slice, s"$fragRoot/b$id", bounds)

  /** The registered query: the THIRD quarter of each axis —
    * [lo + span/2, lo + 3·span/4] by the same integer arithmetic as
    * k16's bounds — resolved through the manifest, per-event_type
    * summary. The oracle replays the rectangle off raw events; the
    * manifest must be semantically invisible.
    */
  def rectangleSkipping(events: DataFrame,
      cacheKey: String = ""): DataFrame = {
    val spark = events.sparkSession
    val (dir, manifest, (uLo, uHi, bLo, bHi)) =
      stageWithManifest(events, cacheKey)
    val uSpan = uHi - uLo + 1L
    val bSpan = bHi - bLo + 1L
    fetchRectangle(spark, dir, manifest,
      uLo + uSpan / 2, uLo + 3L * uSpan / 4,
      bLo + bSpan / 2, bLo + 3L * bSpan / 4)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("user_id")).cast("long").as("user_checksum"),
        sum(col("bin_id")).cast("long").as("bin_checksum"),
        round(sum(col("value")), 4).as("sum_value"))
  }
}
