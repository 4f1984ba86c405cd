package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** k29_column_stats — incremental ANALYZE over the versioned catalog
  * (k14): exact per-partition column statistics (row count, doc_id
  * NDV/min/max, text char sum and null count) stored as a
  * metadata-scale artifact `dir/meta/stats_v{N}`, computed
  * O(delta): a partition whose serving TREE is unchanged between
  * versions (same (root, commit) — k28's manifest-diff identity)
  * REUSES its prior stats row verbatim, so analyzing version N+1
  * rescans only the partitions commit N+1 actually rewrote.
  *
  * This is the ANALYZE TABLE / Delta data-skipping-stats /
  * Iceberg partition-stats pattern: the optimizer-facing numbers
  * (cardinality, NDV, min/max for range pruning, null counts) live
  * with the commit log and stay exact, and maintaining them costs
  * the delta, never the table. At 100 TB the difference is an
  * ANALYZE that finishes with the commit versus a nightly full-table
  * crawl. Stats rows carry their tree identity ((root, commit)), so
  * reuse is a pure metadata decision — no file is opened to decide,
  * and the read-back query touches only `meta/` (spec-pinned via
  * inputFiles).
  *
  * Exactness makes the stats themselves oracle-checkable: the
  * registered query reads both versions' stats artifacts back and
  * the DuckDB oracle replays the same aggregates over the
  * relationally rebuilt v1/v2 states (k12Ctes) — a stats pipeline
  * whose numbers are WRONG fails the hash compare, not just a spec.
  *
  * Reference analog: the per-sample progress/QC ledger the reference
  * accumulates as it lands outputs (tools.py:8-56) — consumed here
  * as table-level statistics that update with the log instead of by
  * rescanning outputs.
  */
object ColumnStats {

  private def statsPath(dir: String, version: Int): String =
    s"$dir/meta/stats_v$version"

  private val statsSchema = StructType(Seq(
    StructField("lang", StringType),
    StructField("root", StringType),
    StructField("commit", StringType),
    StructField("n_rows", LongType),
    StructField("ndv_doc_id", LongType),
    StructField("min_doc_id", LongType),
    StructField("max_doc_id", LongType),
    StructField("chars_sum", LongType),
    StructField("n_text_null", LongType)))

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Compute exact stats for the partitions `rows` reference — one
    * pruned scan over ONLY those trees (readManifestRows' explicit-
    * path discipline), one metadata-sized aggregate (each lang maps
    * to exactly one tree per manifest, so grouping by lang is
    * grouping by partition).
    */
  private def computeStats(spark: SparkSession, dir: String,
      rows: Seq[TimeTravel.ManifestRow], ddl: String): Seq[Row] = {
    if (rows.isEmpty) return Seq.empty
    val treeOf = rows.map(r =>
      Option(r.lang) -> (Option(r.base).getOrElse(dir), r.commit)).toMap
    TimeTravel.readManifestRows(spark, dir, rows, ddl)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_rows"),
        count_distinct(col("doc_id")).as("ndv_doc_id"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        coalesce(sum(length(col("text"))).cast("long"), lit(0L))
          .as("chars_sum"),
        sum(when(col("text").isNull, 1L).otherwise(0L)).as("n_text_null"))
      .collect().toSeq
      .map { r =>
        val lang = if (r.isNullAt(0)) None else Some(r.getString(0))
        val (root, commit) = treeOf(lang)
        // min/max over an all-NULL doc_id partition are NULL —
        // record them as such (the stats columns are nullable)
        // instead of NPE-ing on getLong
        def longOrNull(i: Int): Any =
          if (r.isNullAt(i)) null else r.getLong(i)
        Row(lang.orNull, root, commit, r.getLong(1), r.getLong(2),
          longOrNull(3), longOrNull(4), r.getLong(5), r.getLong(6))
      }
  }

  /** ANALYZE `version`: write its stats artifact, reusing the most
    * recent prior version's rows for every partition whose serving
    * tree is unchanged. Returns the langs actually rescanned (the
    * spec pins this to exactly the commit's rewritten partitions).
    */
  def analyze(spark: SparkSession, dir: String,
      version: Int): Seq[String] = {
    val manifest = TimeTravel.readManifest(spark, dir, version)
    val ddl = TimeTravel.schemaAt(spark, dir, version)
    // most recent prior stats artifact — reuse source
    val prior = (version - 1 to 1 by -1)
      .find(v => exists(spark, statsPath(dir, v) + "/_SUCCESS"))
      .map(v => spark.read.parquet(statsPath(dir, v)).collect().toSeq)
      .getOrElse(Seq.empty)
    val priorByTree = prior.map(r =>
      (Option(r.getString(0)), r.getString(1), r.getString(2)) -> r).toMap
    val (reused, rescan) = manifest.partition { r =>
      priorByTree.contains(
        (Option(r.lang), Option(r.base).getOrElse(dir), r.commit))
    }
    val keptRows = reused.map(r => priorByTree(
      (Option(r.lang), Option(r.base).getOrElse(dir), r.commit)))
    val freshRows = computeStats(spark, dir, rescan, ddl)
    spark.createDataFrame(
        spark.sparkContext.parallelize((keptRows ++ freshRows), 1),
        statsSchema)
      .write.mode("overwrite").parquet(statsPath(dir, version))
    rescan.map(_.lang)
  }

  /** Registered k29 query: both versions' stats artifacts read back
    * (metadata-only — the scan lists nothing outside `meta/`). The
    * analyze pass itself runs once per corpus cut (`Staging.memo`),
    * v1 full, v2 incremental.
    */
  def columnStats(documents: DataFrame,
      cacheKey: String = ""): DataFrame = {
    val spark = documents.sparkSession
    val dir = TimeTravel.stageVersions(documents, cacheKey)
    graft.Staging.memo("k29", cacheKey) {
      analyze(spark, dir, 1)
      analyze(spark, dir, 2)
    }
    Seq(1, 2).map { v =>
      spark.read.parquet(statsPath(dir, v))
        .withColumn("version", lit(v.toLong))
    }.reduce(_.unionByName(_))
      .select(col("version"), col("lang"), col("n_rows"),
        col("ndv_doc_id"), col("min_doc_id"), col("max_doc_id"),
        col("chars_sum"), col("n_text_null"))
  }
}
