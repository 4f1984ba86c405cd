package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** k26_partition_evolution — PARTITION-SPEC EVOLUTION: the table's
  * physical layout changes over its life without rewriting history —
  * Iceberg's spec-evolution contract, the layout counterpart of
  * k24's schema-as-log-state. The scenario is universal: a table
  * starts partitioned by `lang` (right for a small corpus), the
  * corpus grows until hot languages are terabyte partitions, and the
  * fix — partition new data by `(lang, source)` — must NOT cost a
  * 100 TB rewrite of everything already landed. Hive-style tables
  * cannot do this (one spec per table, forever); the lakehouse
  * answer is per-GENERATION specs: files keep the layout they were
  * born with, the spec log records which generation carries which
  * layout, and the reader prunes each generation AS DEEPLY AS ITS
  * OWN SPEC ALLOWS.
  *
  * Layout: `g1/lang=.../part-*` (spec v1), `g2/lang=.../source=.../
  * part-*` (spec v2), `meta/spec_v{N}` rows (version, columns) —
  * the spec log is data, not convention, so a reader enumerates
  * generations from metadata (k14's discipline). The demo stages
  * two-thirds of the corpus under v1, EVOLVES, and lands the rest
  * under v2 — g1's bytes are untouched by the evolution
  * (spec-pinned listing bracket).
  *
  * Read = unionByName of per-generation scans. Pruning is
  * per-generation and SPEC-SHAPED (the point of the operator, and
  * the spec pins it on actual input files): a `lang` predicate
  * prunes DIRECTORIES in both generations; a `(lang, source)`
  * predicate prunes g2 to the exact leaf dirs while g1 degrades
  * gracefully — lang-dir pruning plus an ordinary row filter on the
  * `source` DATA column (in g1 files, `source` is data; in g2 it is
  * layout — same column, two physical roles, one logical answer).
  * A NULL partition value round-trips through the hive default dir
  * in either spec (k12's contract).
  *
  * Reference analog: the reference hard-codes its results layout per
  * pipeline (`tools.py:677` clean's fixed tree); re-partitioning it
  * means re-running it — exactly the rewrite this operator avoids.
  */
object PartitionEvolution {

  private[graft] val DataSchema =
    "doc_id BIGINT, n_chars BIGINT, lang STRING, source STRING"

  /** Stage the evolved store: g1 (spec v1: lang) holds doc_id % 3 ∈
    * {1, 2}, the evolution is logged, g2 (spec v2: lang, source)
    * holds doc_id % 3 = 0.
    */
  def stage(documents: DataFrame, cacheKey: String = ""): String =
    graft.Staging.memo("k26", cacheKey) {
      val spark = documents.sparkSession
      val root = graft.Staging.dir("graft_k26_") + "/store"
      val rows = documents
        .select(col("doc_id"), col("n_chars"), col("lang"), col("source"))
      // NULL doc_id must land in exactly one generation: a bare
      // pmod(null) =!= 0 / === 0 pair satisfies NEITHER predicate and
      // silently drops the row from the store (k12's null-key lesson
      // at routing time) — coalesce pins null keys to g2.
      val gen = coalesce(pmod(col("doc_id"), lit(3L)), lit(0L))
      rows.filter(gen =!= 0L)
        .write.mode(SaveMode.Overwrite)
        .partitionBy("lang")
        .parquet(s"$root/g1")
      writeSpec(spark, root, 1, Seq("lang"))
      // ---- evolution: zero data files touched ----
      rows.filter(gen === 0L)
        .write.mode(SaveMode.Overwrite)
        .partitionBy("lang", "source")
        .parquet(s"$root/g2")
      writeSpec(spark, root, 2, Seq("lang", "source"))
      root
    }

  private def writeSpec(spark: SparkSession, root: String, version: Int,
      cols: Seq[String]): Unit = {
    import spark.implicits._
    Seq((version, cols.mkString(",")))
      .toDF("version", "partition_columns")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/meta/spec_v$version")
  }

  /** The spec log: (version, partition columns) per generation —
    * metadata-cardinality, read through the FS API (k14's rule).
    */
  private[graft] def specs(spark: SparkSession,
      root: String): Seq[(Int, Seq[String])] = {
    val meta = new org.apache.hadoop.fs.Path(s"$root/meta")
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(meta), s"no spec log under $root")
    fs.listStatus(meta).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("spec_v"))
      .map { name =>
        val row = spark.read
          .schema("version INT, partition_columns STRING")
          .parquet(s"$root/meta/$name")
          .collect()(0)
        (row.getInt(0), row.getString(1).split(",").toSeq)
      }
      .sortBy(_._1)
  }

  /** One scan per generation, each pruned under ITS OWN spec, united
    * by name (partition columns land in different positions per
    * layout; the logical row is the same).
    */
  def read(spark: SparkSession, root: String): DataFrame =
    specs(spark, root).map { case (v, _) =>
      spark.read.schema(DataSchema).parquet(s"$root/g$v")
        .select(col("doc_id"), col("n_chars"), col("lang"), col("source"))
    }.reduce(_.unionByName(_))

  /** Registered query: the evolved store serving a pruned fetch —
    * rows for one language, answered from BOTH layouts (directory
    * pruning in each; the spec additionally pins the deeper
    * (lang, source) pruning g2's spec unlocks).
    */
  def langFetch(documents: DataFrame, lang: String = "en",
      cacheKey: String = ""): DataFrame = {
    val root = stage(documents, cacheKey = cacheKey)
    read(documents.sparkSession, root).filter(col("lang") === lang)
  }
}
