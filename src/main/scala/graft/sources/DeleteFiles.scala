package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** k25_delete_files — MERGE-ON-READ row deletes: the Iceberg-v2
  * equality-delete-file / Delta deletion-vector pattern the catalog
  * family was still missing. k12's upsert REWRITES the affected
  * partitions per change batch — the right shape when changes are
  * updates clustered by partition, and exactly the wrong one when
  * the change is "remove these N doc_ids, scattered anywhere" (a
  * takedown list, a d06 contamination verdict, a user-data erasure
  * request): rewriting terabytes to drop kilobytes is how small
  * deletes become the most expensive operation in the store.
  *
  * Merge-on-read inverts the cost: a delete COMMIT lands only the
  * keys, as a small parquet file under `_deletes/d{N}` (underscore
  * dirs are invisible to data reads — k17's convention), and the
  * READ subtracts them: base scan LEFT ANTI JOIN the union of
  * delete files. Delete files are key-cardinality (metadata scale),
  * so the anti-join's build side broadcasts and the scan stays one
  * pass with a hash probe per row — delete cost O(|keys|) at commit
  * and O(1) per row at read, never a base rewrite. The debt is
  * compacted away on maintenance cadence by `purge`: apply the
  * accumulated deletes once, land the survivors as a NEW immutable
  * generation `c1` (k20's convention — never an in-place rewrite)
  * with an empty delete set, after which reads pay nothing again.
  * purge(read) ≡ read is spec-pinned, and the registered query's
  * oracle checks the merge-on-read answer itself.
  *
  * Anti-join semantics ARE the null contract: a NULL doc_id base
  * row matches no delete key and survives every delete — the same
  * `IS NULL OR NOT IN` shape the oracle spells out (the k12 lesson,
  * applied at design time instead of patched in later).
  *
  * Reference analog: the reference's `clean` step (tools.py:677-736)
  * deletes by REWRITING the sample tree wholesale; this operator is
  * what that becomes when the tree is 100 TB and the delete is 40
  * rows.
  */
object DeleteFiles {

  private[graft] val StoreSchema =
    "doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT"

  /** The demo delete commits: two arithmetic key sets (oracle
    * replays them), scattered uniformly across the hashed tree —
    * the hostile case for partition-level deletion, the natural one
    * for merge-on-read.
    */
  private[graft] val DelMod1 = 97L
  private[graft] val DelRes1 = 11L
  private[graft] val DelMod2 = 101L
  private[graft] val DelRes2 = 13L

  /** The base tree alone — shared by the batch stage and st20's
    * streaming twin (whose delete commits arrive as a stream).
    */
  private[graft] def stageStoreOnly(documents: DataFrame, root: String,
      writers: Int = 32): Unit =
    documents
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .repartition(writers, col("doc_id"))
      .write.mode(SaveMode.Overwrite).parquet(root)

  /** The two demo delete-key sets, derived from the landed store —
    * ONE definition serving k25's commits and st20's arrival stream,
    * so the twins cannot drift.
    */
  private[graft] def demoDeleteSets(spark: SparkSession,
      root: String): Seq[DataFrame] = {
    val base = readBase(spark, root)
    Seq(
      base.filter(pmod(col("doc_id"), lit(DelMod1)) === DelRes1),
      base.filter(pmod(col("doc_id"), lit(DelMod2)) === DelRes2))
  }

  /** Land the hashed store tree and two delete commits beside it.
    * The delete keys are derived FROM THE LANDED STORE (a delete
    * names keys that exist), each commit its own `_deletes/d{N}`
    * file — commits accumulate, they are never merged in place.
    */
  def stage(documents: DataFrame, writers: Int = 32,
      cacheKey: String = ""): String =
    graft.Staging.memo("k25", cacheKey) {
      val root = graft.Staging.dir("graft_k25_") + "/store"
      stageStoreOnly(documents, root, writers)
      val spark = documents.sparkSession
      demoDeleteSets(spark, root).zipWithIndex.foreach { case (keys, i) =>
        commitDelete(keys, s"$root/_deletes/d${i + 1}")
      }
      root
    }

  /** One delete commit: keys only, one small file. */
  private[graft] def commitDelete(keys: DataFrame, dir: String): Unit =
    keys.select(col("doc_id")).distinct()
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(dir)

  /** The base tree WITHOUT delete subtraction (underscore dirs are
    * already invisible to the read).
    */
  private[graft] def readBase(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(StoreSchema).parquet(root)

  /** All accumulated delete keys. The glob tolerates ZERO commits
    * (a freshly purged generation): Hadoop globbing an empty
    * `_deletes` yields no files, which must read as "no deletes",
    * not an error.
    */
  private[graft] def readDeletes(spark: SparkSession,
      root: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dels = new org.apache.hadoop.fs.Path(s"$root/_deletes")
    val commits =
      if (fs.exists(dels))
        fs.listStatus(dels).filter(_.isDirectory).map(_.getPath.toString)
      else Array.empty[String]
    if (commits.isEmpty)
      spark.read.schema("doc_id BIGINT").parquet(root).filter(lit(false))
        .select(col("doc_id"))
    else
      spark.read.schema("doc_id BIGINT").parquet(commits.toIndexedSeq: _*)
  }

  /** The MERGE-ON-READ scan: base minus accumulated deletes. The
    * delete side is metadata-scale by contract, so it broadcasts —
    * one base pass, no base-side shuffle (spec-pinned shape).
    */
  def mergeOnRead(spark: SparkSession, root: String): DataFrame =
    readBase(spark, root)
      .join(broadcast(readDeletes(spark, root)), Seq("doc_id"), "left_anti")

  /** Registered query: stage + merge-on-read scan. */
  def mergedScan(documents: DataFrame, cacheKey: String = ""): DataFrame = {
    val root = stage(documents, cacheKey = cacheKey)
    mergeOnRead(documents.sparkSession, root)
  }

  /** Compaction: apply the accumulated deletes ONCE and land the
    * survivors as the next immutable generation (`c1` beside the
    * base — k20's convention; the old generation keeps serving
    * in-flight readers, reclaim is k14's expire pattern). The new
    * generation starts with an EMPTY delete set: `mergeOnRead(c1)`
    * ≡ `mergeOnRead(base)` with zero anti-join work — spec-pinned
    * byte-equality.
    */
  def purge(spark: SparkSession, root: String, writers: Int = 8): String = {
    val gen = s"${root}_c1"
    mergeOnRead(spark, root)
      .repartition(writers, col("doc_id"))
      .write.mode(SaveMode.Overwrite).parquet(gen)
    gen
  }
}
