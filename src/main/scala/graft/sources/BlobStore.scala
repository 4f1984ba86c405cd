package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** m08_blob_store — CONTENT-ADDRESSED storage for multimodal blobs:
  * the layout a 100 TB media corpus actually lands in. The row-table
  * operators (m05/m06/m07) tell you HOW duplicated the media column
  * is; this operator is what a store does about it — the git-object /
  * CAS pattern: every blob lives under its digest, EXACTLY ONCE, and
  * documents hold 16-byte references. A crawl's media set is mostly
  * re-posts (m05's finding), so the physical tree is the DISTINCT
  * content, ingest of already-seen bytes costs a metadata row, and
  * "which docs share this blob" is a manifest lookup, not a scan.
  *
  * Layout: `blobs/` holds (digest, payload), landed once per digest;
  * `refs/` holds (doc_id, source, digest, n_bytes) — doc-grain
  * metadata, NO bytes. Ingest is the CAS admission: digest map-side,
  * dropDuplicates within the slice, LEFT ANTI against the digests
  * already stored (the blob side of the anti-join reads the DIGEST
  * COLUMN only — parquet prunes the payload bytes out of the probe),
  * append only the novel blobs. Re-ingesting a corpus is therefore a
  * natural no-op (spec-pinned: zero new blobs), the idempotence that
  * makes at-least-once delivery safe — the same property st12 gets
  * from convergent merge, achieved here by content addressing.
  *
  * Scale: the only payload-carrying exchange is the novel-blob
  * repartition, sized by NEW content, never by the corpus or the
  * reference count; accounting (the registered query) touches
  * `refs/` alone — storage questions answer at metadata scale
  * (spec-pinned: the plan's scan reads no blob file). Reconstruction
  * (serving a doc's bytes) is refs ⋈ blobs on the 16-byte digest —
  * an equi-join that prunes to the referenced digests.
  *
  * Reference analog: the reference stores every sample's FASTQ under
  * its own sample dir and re-downloads shared inputs per run
  * (`parserTools.py:247` download_GEO); content addressing is what
  * that becomes when the same archive backs a thousand samples.
  */
object BlobStore {

  private[graft] val RefSchema =
    "doc_id BIGINT, source STRING, digest STRING, n_bytes BIGINT"

  private[graft] val BlobSchema = "digest STRING, payload BINARY"

  /** Digested payload rows: md5 is computed MAP-SIDE in one pass
    * over the bytes (a real digest both engines implement
    * bit-identically — m05's argument); null blobs have no bytes to
    * store.
    */
  private def payloadRows(documents: DataFrame): DataFrame =
    documents
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        col("text").cast("binary").as("payload"))
      .withColumn("digest", md5(col("payload")))
      .withColumn("n_bytes", length(col("payload")).cast("long"))

  /** Land the demo store: the corpus ingested as two deterministic
    * slices (pmod over doc_id stands in for two arrival batches), so
    * the staged artifact itself proves incremental admission — the
    * second slice stores only digests the first did not.
    */
  def stage(documents: DataFrame, cacheKey: String = ""): String =
    graft.Staging.memo("m08", cacheKey) {
      val root = graft.Staging.dir("graft_m08_") + "/cas"
      val rows = payloadRows(documents)
      // coalesce: a keyless (NULL doc_id) payload must arrive in
      // exactly ONE slice, not vanish from both (content addressing
      // never needed the doc key — the k26 null-routing discipline)
      val slice = coalesce(pmod(col("doc_id"), lit(2L)), lit(0L))
      ingest(documents.sparkSession, root, rows.filter(slice === 0L))
      ingest(documents.sparkSession, root, rows.filter(slice === 1L))
      root
    }

  /** CAS admission for one arrival slice (digested rows). Returns
    * the number of NOVEL blobs landed. References always append
    * (doc-grain metadata); payload bytes land only for digests the
    * store has never seen.
    */
  private[graft] def ingest(spark: SparkSession, root: String,
      rows: DataFrame, writers: Int = 8): Long = {
    rows.select(col("doc_id"), col("source"), col("digest"),
        col("n_bytes"))
      .write.mode(SaveMode.Append).parquet(s"$root/refs")
    val novel = rows
      .select(col("digest"), col("payload"))
      .dropDuplicates("digest")
      .join(storedDigests(spark, root), Seq("digest"), "left_anti")
      .repartition(writers, col("digest"))
      .cache()
    val n = novel.count()
    if (n > 0)
      novel.write.mode(SaveMode.Append).parquet(s"$root/blobs")
    novel.unpersist()
    n
  }

  /** Digests already in the store — a DIGEST-column-only read of the
    * blob tree (parquet prunes the payload out of the probe); typed
    * empty before the first landing.
    *
    * `excludeChild` drops one child of `blobs/` from the probe: a
    * REPLAYED streaming batch (st22) must compute its novel set
    * against the OTHER batches' landings, not against its own
    * possibly-partial prior attempt — probing its own dir would
    * shrink the rewrite and strand the partial landing's missing
    * blobs.
    */
  private[graft] def storedDigests(spark: SparkSession,
      root: String, excludeChild: String = ""): DataFrame = {
    val blobs = new org.apache.hadoop.fs.Path(s"$root/blobs")
    val fs = blobs.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val empty =
      spark.emptyDataFrame.select(lit("").as("digest")).filter(lit(false))
    if (!fs.exists(blobs)) empty
    else {
      val children = fs.listStatus(blobs).toIndexedSeq
        .filterNot(s => excludeChild.nonEmpty &&
          s.getPath.getName == excludeChild)
        .map(_.getPath.toString)
      if (children.isEmpty) empty
      else spark.read.schema(BlobSchema)
        .option("recursiveFileLookup", "true")
        .parquet(children: _*)
        .select(col("digest"))
    }
  }

  // recursiveFileLookup serves both layouts: m08's flat landing and
  // st22's per-batch b<id> subdirectories
  private[graft] def readRefs(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(RefSchema)
      .option("recursiveFileLookup", "true")
      .parquet(s"$root/refs")

  private[graft] def readBlobs(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(BlobSchema)
      .option("recursiveFileLookup", "true")
      .parquet(s"$root/blobs")

  /** One micro-batch's CAS admission (st22): refs land under the
    * batch's own `refs/b<id>`, novel blobs — computed against every
    * OTHER batch's landings — under `blobs/b<id>`; both idempotent
    * overwrites, so a replayed batch rewrites exactly its own two
    * dirs and the cross-batch CAS invariant (one landing per digest)
    * holds under any replay.
    */
  private[graft] def ingestBatch(batch: DataFrame, root: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    val rows = payloadRows(batch)
    rows.select(col("doc_id"), col("source"), col("digest"),
        col("n_bytes"))
      .write.mode(SaveMode.Overwrite).parquet(s"$root/refs/b$batchId")
    rows.select(col("digest"), col("payload"))
      .dropDuplicates("digest")
      .join(storedDigests(spark, root, excludeChild = s"b$batchId"),
        Seq("digest"), "left_anti")
      .write.mode(SaveMode.Overwrite).parquet(s"$root/blobs/b$batchId")
  }

  /** Reconstruct payload bytes for the given doc_ids: refs ⋈ blobs
    * on the digest — the serving path.
    */
  private[graft] def fetch(spark: SparkSession, root: String,
      ids: DataFrame): DataFrame =
    readRefs(spark, root)
      .join(ids, Seq("doc_id"), "left_semi")
      .join(readBlobs(spark, root), Seq("digest"))
      .select(col("doc_id"), col("payload"))

  /** Registered query: per-source storage accounting OFF THE REFS
    * ALONE — logical bytes (what the corpus claims to hold) vs
    * physical bytes (what the CAS tree actually stores: each
    * digest's bytes once per source), no blob file opened
    * (spec-pinned on the plan's input files). n_bytes is carried on
    * the ref row precisely so accounting never needs the payload.
    */
  def accounting(documents: DataFrame, cacheKey: String = ""): DataFrame = {
    val root = stage(documents, cacheKey = cacheKey)
    accountingFor(documents.sparkSession, root)
  }

  /** One aggregation CHAIN, no self-join: group to (source, digest)
    * grain first, then fold to source grain — a NULL source is an
    * ordinary group in both stages (a null-unsafe logical⋈physical
    * self-join would silently drop it — the k12 lesson), and the
    * second stage's input is blob-cardinality metadata.
    */
  private[graft] def accountingFor(spark: SparkSession,
      root: String): DataFrame =
    readRefs(spark, root)
      .groupBy(col("source"), col("digest"))
      .agg(count(lit(1)).as("d_refs"), min(col("n_bytes")).as("n_bytes"))
      .groupBy(col("source"))
      .agg(sum(col("d_refs")).as("n_refs"),
        count(lit(1)).as("n_blobs"),
        sum(col("d_refs") * col("n_bytes")).as("logical_bytes"),
        sum(col("n_bytes")).as("physical_bytes"))
      .select(col("source"), col("n_refs"), col("n_blobs"),
        col("logical_bytes"), col("physical_bytes"))
}
