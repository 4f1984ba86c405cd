package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** k11_ingest_manifest — ingest reconciliation: prove a multi-source
  * data drop landed COMPLETE, per source, without trusting the
  * fetcher. The reference's `download_GEO`
  * (/root/reference/parserTools.py:247) pulls one SRA archive per
  * sample and its only landing evidence is the file's presence on
  * disk — a killed transfer leaves a partial file that looks exactly
  * like a finished one until alignment fails hours later. The engine
  * version makes landing a first-class relational fact: an EXPECTED
  * manifest derived from the upstream catalog (what should have
  * arrived: rows, payload bytes, key checksum per source) is
  * reconciled against the DELIVERED manifest computed from the landed
  * tree itself, and every source gets an explicit
  * complete/partial/missing verdict. Consumers gate on
  * `status = 'complete'`; re-fetch workers read the partial/missing
  * rows as their queue (the q22 resume contract, one level up —
  * q22 trusts a partition's manifest row, k11 is how that row is
  * EARNED).
  *
  * The staged drop simulates the failure modes a fleet of fetchers
  * produces — two sources never arrived (missing), two lost a
  * deterministic slice of rows mid-transfer (partial) — so the
  * reconciliation exercises every status branch. The drop predicates
  * are pure arithmetic on (source, doc_id), which keeps the whole
  * operator DuckDB-replayable: the oracle recomputes both manifests
  * from the original table, and equality proves the staged tree's
  * read-back delivered exactly the simulated subset (rows, bytes,
  * and checksums — not just counts).
  *
  * Scale posture: both manifest sides are one-pass aggregations that
  * partial-aggregate map-side and shuffle only source-cardinality
  * rows; the reconciling join is manifest × manifest (thousands of
  * sources at most — broadcast territory, and Spark picks that). The
  * staged write uses salted writers (k01's discipline: f tasks per
  * source value, so a hot source splits across writers instead of
  * serializing through one task). Payload text never shuffles
  * anywhere — checksums ride the aggregation.
  */
object IngestManifest {

  /** Sources whose fetch never started — the whole unit is absent. */
  val missingSources: Seq[String] = Seq("src7", "src13")

  /** The delivered slice: everything except the simulated failures.
    * Partial sources lose a deterministic doc_id residue class —
    * arithmetic both engines share, so the oracle replays it exactly.
    * The moduli must be coprime to the generator's source period
    * (source = doc_id mod 20), or the residue is constant within a
    * source and the predicate drops everything or nothing: 7 and 3
    * both cycle; 5 would freeze (src17's ids are all ≡ 2 mod 5).
    */
  private[graft] def deliveredSlice(documents: DataFrame): DataFrame =
    documents
      .filter(!col("source").isin(missingSources: _*))
      .filter(!(col("source") === "src3" && col("doc_id") % 7 === 3))
      .filter(!(col("source") === "src17" && col("doc_id") % 3 === 2))

  /** Stage the simulated drop tree, partitioned by source (the unit
    * of fetch = the unit of pruning for re-fetch scans).
    */
  def stageDrop(documents: DataFrame, writers: Int = 4,
      cacheKey: String = ""): String =
    graft.Staging.memo("k11", cacheKey, writers) {
      val dir = graft.Staging.dir("graft_k11_drop_") + "/tree"
      deliveredSlice(documents)
        .repartition(col("source"),
          pmod(xxhash64(col("doc_id")), lit(writers)))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("source")
        .parquet(dir)
      dir
    }

  /** Per-(source, file) fetch detail off the `_metadata` hidden
    * column (k09's technique: no driver file-walk, payload text never
    * read). Spec surface — file membership is writer-dependent, so
    * these rows aren't SQL-replayable, but they must roll up to
    * `reconcile`'s delivered side exactly (spec-pinned).
    */
  def fetchManifest(documents: DataFrame,
      cacheKey: String = ""): DataFrame = {
    val spark = documents.sparkSession
    val dir = stageDrop(documents, cacheKey = cacheKey)
    spark.read.schema(documents.schema).parquet(dir)
      .select(col("source"), col("doc_id"), col("n_chars"),
        col("_metadata.file_name").as("file_name"),
        col("_metadata.file_size").as("file_size"))
      .groupBy(col("source"), col("file_name"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("doc_id")).cast("long").as("key_checksum"),
        sum(col("n_chars")).cast("long").as("bytes_payload"),
        first(col("file_size")).as("file_size"))
  }

  /** The registered query: expected-vs-delivered reconciliation, one
    * row per catalog source with an explicit status verdict.
    * `complete` requires rows AND bytes AND key checksum to match —
    * count-only reconciliation passes a tree where a retry duplicated
    * one row and dropped another; the checksums close that hole.
    */
  def reconcile(documents: DataFrame,
      cacheKey: String = ""): DataFrame = {
    val spark = documents.sparkSession
    val dir = stageDrop(documents, cacheKey = cacheKey)
    val delivered = spark.read.schema(documents.schema).parquet(dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_delivered"),
        sum(col("doc_id")).cast("long").as("key_delivered"),
        sum(col("n_chars")).cast("long").as("bytes_delivered"))
    reconcileAgainst(documents, delivered)
  }

  /** The reconciliation join/classify against an already-computed
    * delivered manifest — shared by the batch read-back path above
    * and st11's incremental fold of per-micro-batch partials (the
    * two paths must classify identically, so the logic lives once).
    * `delivered`: one row per source that landed ANY rows, columns
    * (source, n_delivered, key_delivered, bytes_delivered).
    */
  private[graft] def reconcileAgainst(documents: DataFrame,
      delivered: DataFrame): DataFrame = {
    val expected = documents
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_expected"),
        sum(col("doc_id")).cast("long").as("key_expected"),
        sum(col("n_chars")).cast("long").as("bytes_expected"))
    expected.join(delivered, Seq("source"), "left")
      .select(col("source"),
        concat(lit("ingest://drop/"), col("source")).as("uri"),
        col("n_expected"),
        coalesce(col("n_delivered"), lit(0L)).as("n_delivered"),
        col("bytes_expected"),
        coalesce(col("bytes_delivered"), lit(0L)).as("bytes_delivered"),
        col("key_expected"),
        coalesce(col("key_delivered"), lit(0L)).as("key_delivered"),
        when(col("n_delivered").isNull, lit("missing"))
          .when(col("n_delivered") === col("n_expected") &&
            col("key_delivered") === col("key_expected") &&
            col("bytes_delivered") === col("bytes_expected"),
            lit("complete"))
          .otherwise(lit("partial")).as("status"))
  }
}
