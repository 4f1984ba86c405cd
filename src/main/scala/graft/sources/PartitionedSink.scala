package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Partitioned durable-store sink — the Spark-native analog of the
  * reference's cleanup/move step (/root/reference/tools.py:677-736:
  * rsync results into a durable tree laid out by sample). Instead of
  * copying files, the engine WRITES the dataset partitioned by the
  * grouping key, so downstream readers get partition pruning for
  * free (`WHERE part = x` never touches other directories).
  *
  * Scale posture: the pre-write shuffle key is (partitionCol, salt)
  * where salt = hash(checksumCol) mod writersPerPartition — f writer
  * tasks per partition VALUE. A bare `repartition(partitionCol)`
  * collapses to one task per value (5 priorities → 5 tasks writing
  * everything; at 100 TB that is 20 TB per writer), while no
  * repartition at all gives task-count × partition-count small files.
  * The salt keeps the one-directory-per-value layout and bounds the
  * file count at f × values. `maxRecordsPerFile` additionally caps
  * file size so a skewed value splits into more files, not one giant
  * one.
  */
object PartitionedSink {

  /** Write `df` partitioned by `partitionCol`, then read the tree
    * back and return a per-partition summary (row count + key
    * checksum) — the round trip IS the verification that the sink
    * preserved every row. `df` is evaluated exactly once (the write):
    * the summary is computed once and materialized, and the
    * completion manifest (see below) is written from ITS partition
    * values — a static overwrite replaces the whole tree, so the
    * tree's values are exactly `df`'s, and taking them from `df`
    * instead would recompute its whole lineage. A later
    * `resumeSummarize` can then trust these partitions as landed.
    */
  def writeAndSummarize(df: DataFrame, partitionCol: String,
      checksumCol: String, outDir: String,
      maxRecordsPerFile: Long = 5000000L,
      writersPerPartition: Int = 4): DataFrame = {
    write(df, partitionCol, checksumCol, outDir, maxRecordsPerFile,
      writersPerPartition, SaveMode.Overwrite)
    val spark = df.sparkSession
    // read with `df`'s schema: the partition values come back with
    // `df`'s types, never re-inferred from the directory names
    val tree = summarize(spark.read.schema(df.schema).parquet(outDir),
      partitionCol, checksumCol)
    // one row per partition value: small enough to collect
    val summary = spark.createDataFrame(
      java.util.Arrays.asList(tree.collect(): _*), tree.schema)
    commitManifest(summary, partitionCol, outDir)
    summary
  }

  /** Completion manifest: one row per partition VALUE whose data has
    * fully committed, appended strictly AFTER the value's files — the
    * Spark-native form of the reference's progress log writing an
    * explicit status row per completed step
    * (/root/reference/tools.py:28-56). Directory PRESENCE is not
    * completion: a run killed mid-write leaves a partial partition
    * directory, and a resume that trusted it would silently lose the
    * missing rows forever. The manifest lives under the tree at
    * `_graft_manifest` — the underscore prefix makes it invisible to
    * readers of the data tree (Spark's file index skips `_`/`.`
    * paths, same convention as `_SUCCESS`).
    */
  private def manifestDir(outDir: String): String =
    s"$outDir/_graft_manifest"

  private def commitManifest(df: DataFrame, partitionCol: String,
      outDir: String): Unit =
    df.select(col(partitionCol)).distinct()
      .coalesce(1) // a handful of values: one small file per commit
      .write.mode(SaveMode.Append).parquet(manifestDir(outDir))

  /** Values with a completion record; schema borrowed from `pending`
    * so the anti-join types line up even before any manifest exists.
    */
  private def landedValues(pending: DataFrame, partitionCol: String,
      outDir: String): DataFrame = {
    val spark = pending.sparkSession
    val mPath = new org.apache.hadoop.fs.Path(manifestDir(outDir))
    val fs = mPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(mPath))
      spark.read.parquet(manifestDir(outDir)).select(col(partitionCol))
        .distinct()
    else pending.select(col(partitionCol)).limit(0)
  }

  private def summarize(tree: DataFrame, partitionCol: String,
      checksumCol: String): DataFrame =
    tree.groupBy(col(partitionCol))
      .agg(count(lit(1)).as("n_rows"),
        sum(col(checksumCol)).cast("long").as("key_checksum"))

  // AQE interaction: the salted repartition has no explicit partition
  // count, so AQE's partition coalescing may merge salt groups while
  // the data is small (one writer is CORRECT for a 10 MB partition
  // value) — but at scale each (value, salt) group exceeds the
  // advisory partition size and the f-way write parallelism holds.
  // The spec pins coalescing off to assert the mechanism.
  /** `dynamic = true` switches SaveMode.Overwrite from clear-the-tree
    * to replace-exactly-the-partitions-present-in-`df`: landed
    * partitions are untouched, while a PARTIAL directory left by a
    * crashed writer is wholly replaced when its value is recomputed —
    * an append there would double the surviving rows.
    */
  private def write(df: DataFrame, partitionCol: String,
      checksumCol: String, outDir: String, maxRecordsPerFile: Long,
      writersPerPartition: Int, mode: SaveMode,
      dynamic: Boolean = false): Unit =
    df.repartition(col(partitionCol),
        pmod(xxhash64(col(checksumCol)), lit(writersPerPartition)))
      .write
      .mode(mode)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .option("partitionOverwriteMode", if (dynamic) "dynamic" else "static")
      .partitionBy(partitionCol)
      .parquet(outDir)

  /** q22_incremental — resume/skip orchestration, the Spark-native
    * analog of the reference's sqlite progress log
    * (/root/reference/tools.py:8-56, mainScript.py:340-363: completed
    * steps are skipped on rerun). Landed = a COMPLETION RECORD in the
    * manifest, never mere directory presence: values whose manifest
    * row exists are skipped, everything else — including a partial
    * directory from a crashed prior writer — is recomputed and
    * dynamically overwritten, and its manifest row lands only after
    * the data commits. The returned summary covers the whole tree —
    * bit-identical to a full recompute, which is what the oracle
    * checks.
    *
    * Crash windows: die before the data commits → no manifest row →
    * full recompute of the value, partial dir replaced. Die AFTER the
    * data but before the manifest row → the value is recomputed and
    * identically rewritten (dynamic overwrite keeps it exact-once in
    * the tree). Either way no row is ever lost or doubled — the same
    * write-ahead discipline as the reference's log, with the order
    * inverted because here the DATA is the thing being made durable.
    */
  def resumeSummarize(pending: DataFrame, partitionCol: String,
      checksumCol: String, outDir: String,
      writersPerPartition: Int = 4): DataFrame = {
    val spark = pending.sparkSession
    val landed = landedValues(pending, partitionCol, outDir)
    val delta = pending.join(landed, Seq(partitionCol), "left_anti")
    write(delta, partitionCol, checksumCol, outDir, 5000000L,
      writersPerPartition, SaveMode.Overwrite, dynamic = true)
    // completion comes from the delta, never from the tree: a dynamic
    // overwrite leaves directories it did not write in place, so a
    // stale partial directory whose value is not pending would read
    // as landed
    commitManifest(delta, partitionCol, outDir)
    summarize(spark.read.parquet(outDir), partitionCol, checksumCol)
  }

  /** One durable tree per JVM (overwritten per run): repeated bench
    * reps reuse the directory instead of leaking a fresh temp dir
    * each invocation.
    */
  private lazy val sinkDir: String =
    graft.Staging.dir("graft_sink_")

  /** k01 driver entry: orders partitioned by priority into a temp
    * durable tree; summary compares against the source table.
    */
  def ordersByPriority(orders: DataFrame): DataFrame =
    writeAndSummarize(orders, "o_orderpriority", "o_orderkey", sinkDir)

  /** q22 driver entry: a prior partial run landed the first two
    * priority classes; the resume pass skips them, processes only the
    * remaining delta, and the summary over the tree must equal the
    * full-recompute summary (k01's oracle).
    */
  def ordersResume(orders: DataFrame,
      cacheKey: String = ""): DataFrame = {
    val prior = orders.filter(col("o_orderpriority") < "3")
    // The prior run's DATA is harness staging (a real deployment
    // inherits the tree from the actual previous run), so it goes
    // through `Staging.memo`. The MANIFEST is
    // reset to exactly the prior completions on every call: each
    // invocation then exercises the full resume decision — landed
    // {1,2} skipped, delta {3,4,5} recomputed and dynamically
    // overwritten — rather than degenerating into an all-landed
    // no-op on repeat runs.
    val dir = graft.Staging.memo("q22", cacheKey) {
      val dir = graft.Staging.dir("graft_resume_")
      write(prior, "o_orderpriority", "o_orderkey", dir, 5000000L,
        4, SaveMode.Overwrite)
      dir
    }
    val mPath = new org.apache.hadoop.fs.Path(manifestDir(dir))
    val fs = mPath.getFileSystem(
      orders.sparkSession.sessionState.newHadoopConf())
    if (fs.exists(mPath)) fs.delete(mPath, true)
    commitManifest(prior, "o_orderpriority", dir)
    resumeSummarize(orders, "o_orderpriority", "o_orderkey", dir)
  }
}
