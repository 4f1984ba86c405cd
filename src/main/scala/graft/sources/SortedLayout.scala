package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** k08_sorted_layout — sort-based file layout: the scan-cost lever
  * BEYOND partition pruning. k01/k05 prove directory-level pruning on
  * the partition column; this operator demonstrates the other half:
  * cluster each partition's files by a scan key so parquet's
  * column-chunk min/max statistics turn point/range predicates into
  * ROW-GROUP SKIPS. At 100 TB the difference is a scan that reads the
  * handful of files covering the predicate's key range versus every
  * file of the partition — the same data, the same predicate, an
  * order of magnitude less IO, bought entirely at write time.
  *
  * Layout recipe:
  *  - `repartitionByRange(writers, lang, doc_id)` — a RANGE exchange,
  *    not k01's hash salt: each writer task receives a CONTIGUOUS
  *    (lang, doc_id) slice, so each output file's doc_id min/max is
  *    narrow and files are pairwise (near-)disjoint. A hash salt
  *    would give every file the full key range — perfect writer
  *    balance, zero skippability (the spec stages that layout as the
  *    control and proves the difference from the footer stats). Range
  *    partitioning keeps the salted-writer guarantee that matters —
  *    writers per lang proportional to the lang's row share (the
  *    partitioner samples), no one-task-per-value funnel — while
  *    adding the clustering.
  *  - `sortWithinPartitions(lang, doc_id)` — orders rows inside each
  *    task, so every row group WITHIN a multi-group file also gets
  *    narrow stats (and the partitionBy writer sees each lang as one
  *    run, one open file per lang per task).
  *  - `maxRecordsPerFile` bounds file size; the tree stays
  *    `partitionBy(lang)` so directory pruning composes with the
  *    row-group skips (the registered query exercises BOTH).
  */
object SortedLayout {

  /** Stage the range-clustered, sorted tree (`Staging.memo`). */
  def stageSorted(documents: DataFrame, writers: Int = 8,
      maxRecords: Long = 5000000L, cacheKey: String = ""): String =
    graft.Staging.memo("k08", cacheKey, writers, maxRecords) {
      val dir = graft.Staging.dir("graft_k08_sorted_") + "/tree"
      documents
        .repartitionByRange(writers, col("lang"), col("doc_id"))
        .sortWithinPartitions(col("lang"), col("doc_id"))
        .write.mode(SaveMode.Overwrite)
        .option("maxRecordsPerFile", maxRecords)
        .partitionBy("lang")
        .parquet(dir)
      dir
    }

  /** Multi-dimensional clustering (VERDICT r11 item 5): interleave
    * the bits of TWO scan keys so one physical order serves range
    * predicates on EITHER dimension. k08's single-key sort gives
    * perfectly disjoint doc_id file ranges — and every file the FULL
    * n_chars range: a 100 TB tree queried by both a doc-id/time range
    * and a size/score band prunes one dimension and scans the other.
    * Z-ordering trades a little doc_id disjointness for locality in
    * both: a file covering a contiguous Z range covers ~a quadrant in
    * (doc_id, n_chars) space, so each dimension's per-file span is
    * ~√(files) narrower than the full range and BOTH predicates skip
    * (the Delta/Iceberg OPTIMIZE ZORDER recipe, as a layout option).
    *
    * Each key is min-max normalized to `zBits` buckets with pure
    * integer arithmetic (one metadata-scale min/max agg, folded in as
    * literals — rank-normalization would cost a per-dim window sort
    * at write time), then the buckets' bits interleave into one long
    * the existing range/sort machinery clusters by. Layout only:
    * answers never change, which is what makes the option deployable
    * (flip it per tree, re-point the reader, nothing else moves).
    */
  def stageZordered(documents: DataFrame, writers: Int = 8,
      maxRecords: Long = 5000000L, zBits: Int = 16,
      cacheKey: String = ""): String =
    graft.Staging.memo("k08_z", cacheKey, writers, maxRecords, zBits) {
      val dir = graft.Staging.dir("graft_k08_zorder_") + "/tree"
      val b = documents
        .agg(min(col("doc_id")), max(col("doc_id")),
          min(col("n_chars")), max(col("n_chars"))).head()
      val z = zValue(col("doc_id"), b.getLong(0), b.getLong(1),
        col("n_chars"), b.getLong(2), b.getLong(3), zBits)
      documents
        .withColumn("_z", z)
        .repartitionByRange(writers, col("lang"), col("_z"))
        .sortWithinPartitions(col("lang"), col("_z"))
        .drop("_z")
        .write.mode(SaveMode.Overwrite)
        .option("maxRecordsPerFile", maxRecords)
        .partitionBy("lang")
        .parquet(dir)
      dir
    }

  /** Bit-interleaved Z value of two min-max-normalized keys: bucket
    * each key into [0, 2^zBits) with integer arithmetic, then weave
    * x's bit i to position 2i+1 and y's to 2i. Codegen'd
    * shift/and/or column ops — map-side, no shuffle of its own.
    */
  def zValue(x: Column, xLo: Long, xHi: Long,
      y: Column, yLo: Long, yHi: Long, zBits: Int): Column = {
    require(zBits > 0 && zBits <= 31, "0 < zBits <= 31")
    val buckets = 1L << zBits
    // Both dims MUST normalize to the same zBits width — a narrower
    // raw range would otherwise leave its high interleave positions
    // zero and the wider dim's high bits would dominate the order,
    // collapsing Z back to a single-key sort. floor over double is
    // exact while (c-lo)·2^zBits < 2^53 (key ranges to ~1.4e11 at 16
    // bits — past any per-partition id space; shrink zBits for
    // wider). NOTE Spark's `/` on longs returns DOUBLE by design —
    // the floor().cast("long") here is load-bearing, not decorative.
    def normed(c: Column, lo: Long, hi: Long): Column =
      if (hi <= lo) lit(0L)
      else floor((c.cast("long") - lit(lo)) * lit(buckets.toDouble) /
        lit((hi - lo + 1L).toDouble)).cast("long")
    val nx = normed(x, xLo, xHi)
    val ny = normed(y, yLo, yHi)
    (0 until zBits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(nx, i).bitwiseAND(lit(1L)),
          2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(ny, i).bitwiseAND(lit(1L)),
          2 * i))
    }
  }

  /** The spec's CONTROL layout: k01's hash-salted writers, same file
    * count discipline, no clustering — every file spans the full
    * doc_id range, so row-group stats can skip nothing.
    */
  def stageUnsorted(documents: DataFrame, writers: Int = 8,
      maxRecords: Long = 5000000L): String = {
    val dir = graft.Staging.dir("graft_k08_unsorted_") + "/tree"
    documents
      .repartition(col("lang"), pmod(xxhash64(col("doc_id")), lit(writers)))
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecords)
      .partitionBy("lang")
      .parquet(dir)
    dir
  }

  /** The registered query: read the sorted tree back through a
    * partition-pruned AND key-range-skipped scan (`lang IN` prunes
    * directories, `doc_id` bounds skip row groups), summarize per
    * (lang, source) with checksums. The oracle runs the identical
    * predicate on the parquet ORIGINAL, so equality proves the
    * layout hop lost/duplicated/corrupted nothing — the skipping is
    * an IO optimization, never a semantics change (that contract is
    * exactly what makes sorted layout deployable: flip the layout,
    * every query's answer is unchanged).
    */
  def sortedRoundtrip(documents: DataFrame,
      cacheKey: String = ""): DataFrame = {
    val spark = documents.sparkSession
    val dir = stageSorted(documents, cacheKey = cacheKey)
    spark.read.schema(documents.schema).parquet(dir)
      .filter(col("lang").isin("en", "de") &&
        col("doc_id") >= 100L && col("doc_id") < 400L)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("chars_checksum"),
        sum(col("doc_id")).cast("long").as("key_checksum"))
  }

  /** k09_export_manifest — the per-file delivery manifest every
    * large data drop ships with: one row per physical file carrying
    * row count, key/content checksums, the file's key range, and its
    * byte size — what a consumer validates COMPLETENESS against
    * without scanning the data (files missing? rows lost? ranges
    * gapped?). Built over k08's sorted tree, where the per-file
    * [min_id, max_id] is also exactly the pruning metadata the scan's
    * row-group skip consults — the manifest doubles as a queryable
    * layout index (the spec pins manifest ranges ≡ footer
    * statistics).
    *
    * Implementation: one read-back scan projecting keys plus the
    * `_metadata` hidden column (Spark's file-source introspection —
    * no driver-side file walking, no second pass over payload
    * columns; text is never read because nothing references it,
    * which the columnar format makes free). Aggregation cardinality
    * is file count — bounded by writers × partition values, metadata
    * scale, not corpus scale.
    */
  def exportManifest(documents: DataFrame,
      cacheKey: String = ""): DataFrame = {
    val spark = documents.sparkSession
    val dir = stageSorted(documents, cacheKey = cacheKey)
    spark.read.schema(documents.schema).parquet(dir)
      .select(col("doc_id"), col("n_chars"), col("lang"),
        col("_metadata.file_name").as("file_name"),
        col("_metadata.file_size").as("file_size"))
      .groupBy(col("lang"), col("file_name"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("doc_id")).cast("long").as("key_checksum"),
        sum(col("n_chars")).cast("long").as("chars_checksum"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        first(col("file_size")).as("file_size"))
  }

  /** The oracle-facing k09 surface: the manifest rolled up per lang.
    * FILE membership is writer-dependent (range boundaries come from
    * the partitioner's sampling) so per-file rows aren't
    * SQL-replayable — but their per-lang rollup must equal the same
    * aggregate computed directly on the original table, which is
    * precisely the completeness check a manifest consumer runs. The
    * file-level properties (one row per physical file, sizes match
    * the filesystem, ranges match the footers) are spec-asserted.
    */
  def manifestSummary(documents: DataFrame,
      cacheKey: String = ""): DataFrame =
    exportManifest(documents, cacheKey)
      .groupBy(col("lang"))
      .agg(sum(col("n_rows")).cast("long").as("n_docs"),
        sum(col("key_checksum")).cast("long").as("key_checksum"),
        sum(col("chars_checksum")).cast("long").as("chars_checksum"),
        min(col("min_id")).as("min_id"),
        max(col("max_id")).as("max_id"))

  /** Per-file [min, max] of doc_id read from the parquet footers'
    * column-chunk statistics — the exact metadata the scan's
    * row-group skip consults. Driver-side file listing: this is the
    * spec/audit surface (file count = writers × langs, bounded), not
    * an operator path.
    */
  def docIdRanges(spark: SparkSession, dir: String)
      : Seq[(String, Long, Long)] =
    columnRanges(spark, dir, "doc_id")

  /** Per-file [min, max] of any long column from the parquet footers
    * — the generalized form the Z-order spec reads for BOTH
    * clustering dimensions.
    */
  def columnRanges(spark: SparkSession, dir: String, column: String)
      : Seq[(String, Long, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    val it = fs.listFiles(root, true)
    val files = scala.collection.mutable.ListBuffer.empty[org.apache.hadoop.fs.Path]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) files += f.getPath
    }
    files.toSeq.map { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val stats = reader.getFooter.getBlocks.asScala.flatMap { b =>
          b.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .map(_.getStatistics)
        }
        val mins = stats.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue())
        val maxs = stats.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue())
        (p.toString, mins.min, maxs.max)
      } finally reader.close()
    }
  }
}
