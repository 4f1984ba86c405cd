package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction — the maintenance operator every durable
  * tree needs: a streaming/incremental writer (st*, q22) lands files
  * sized by ARRIVAL (one per micro-batch per writer), and a year of
  * that turns a partition into thousands of kilobyte files whose
  * per-file open/footer cost dominates any later scan. Compaction
  * rewrites each partition's many small files into few target-sized
  * ones — same rows, same layout, different file geometry. The
  * reference's cleanup step does the file-level analog (consolidate
  * outputs into the durable tree, /root/reference/tools.py:677-736).
  *
  * Scale shape: the rewrite plans as scan → hash repartition on the
  * partition value → write; each partition VALUE's rows converge to
  * one writer task (bounded below by `maxRecordsPerFile`, which
  * splits an oversized value into multiple capped files rather than
  * one giant one). Reading N small files is the parallel part
  * (Spark's file index packs them into `maxPartitionBytes` splits);
  * no row-level work happens at all — the plan has zero joins/aggs.
  * At 100 TB you compact PER PARTITION SUBTREE (the `WHERE part=x`
  * pruned slice), never the whole tree in one job; `compact` takes
  * the subtree root, so that is the natural call shape.
  */
object Compaction {

  /** Rewrite the parquet tree at `inDir` (partitioned by
    * `partitionCol`) into `outDir` with at most `writersPerPartition`
    * files per partition value per `maxRecordsPerFile` rows. Returns
    * the compacted tree as a DataFrame.
    *
    * `writersPerPartition` is k01's salted-writer discipline: a bare
    * `repartition(partitionCol)` funnels each VALUE through one task
    * — at 100 TB a 20 TB partition value would be rewritten by a
    * single writer. The salt (hash of the whole row's stable id
    * column set is unnecessary — any per-row column works; we hash
    * the input_file_name so rows co-located in a small file stay
    * together) bounds the file count at writers × ceil(rows/cap)
    * while keeping the rewrite parallel. writers = 1 gives the
    * one-file-per-value layout for metadata-sized partitions.
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      partitionCol: String, maxRecordsPerFile: Long = 5000000L,
      writersPerPartition: Int = 1): DataFrame = {
    val tree = spark.read.parquet(inDir)
    val salted =
      if (writersPerPartition <= 1) tree.repartition(col(partitionCol))
      else tree.repartition(col(partitionCol),
        pmod(xxhash64(input_file_name()), lit(writersPerPartition)))
    salted
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCol)
      .parquet(outDir)
    spark.read.parquet(outDir)
  }

  /** Parquet part-file count per partition-value directory, `_`/`.`
    * metadata (manifest, _SUCCESS) excluded — the before/after
    * evidence a compaction spec asserts on.
    */
  def fileCounts(spark: SparkSession, dir: String): Map[String, Int] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map { d =>
        d.getPath.getName ->
          fs.listStatus(d.getPath)
            .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      }.toMap
  }

  /** k03_compaction — fragment the documents table the way an
    * incremental writer would (16 arrival-sized writers per lang
    * partition), compact it, and return the per-lang summary READ
    * FROM THE COMPACTED TREE — the round trip proves compaction
    * preserved every row and byte, which is what the oracle checks
    * (the file-geometry claim — few files after, many before — is
    * spec-asserted via `fileCounts`; SQL cannot see files).
    *
    * The fragmented stage goes through `Staging.memo`; the
    * compaction itself RUNS on every call — it IS the operator under
    * test.
    */
  def documentsCompaction(documents: DataFrame,
      cacheKey: String = ""): DataFrame = {
    val spark = documents.sparkSession
    val base = graft.Staging.memo("k03", cacheKey) {
      val dir = graft.Staging.dir("graft_k03_frag_")
      // 16 hash writers per lang directory = the arrival-fragmented
      // layout (each writer task emits one file per lang it holds).
      documents.repartition(16, col("doc_id"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("lang")
        .parquet(s"$dir/frag")
      dir
    }
    // one output tree per staged input, OVERWRITTEN per call — the
    // production shape (compaction rewrites in place-ish), and no
    // temp-dir leak across bench repetitions. Both trees live under
    // the ONE registered staging root so the exit hook removes them
    // together (a `-compacted` sibling of the root would escape it).
    val fragDir = s"$base/frag"
    val outDir = s"$base/compacted"
    compact(spark, fragDir, outDir, "lang")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("chars_checksum"),
        sum(col("doc_id")).cast("long").as("key_checksum"))
  }
}
