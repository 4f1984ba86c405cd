package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** k31_ann_index — the ANN index as a DURABLE CATALOG CITIZEN: the
  * one operator family whose artifacts were session memos until
  * round 15. At 100 TB the embedding index (IVF centroids, PQ
  * codebook, per-vector codes) is a versioned on-disk asset
  * maintained incrementally as batches land — retraining the
  * quantizer per session is as absurd as re-ANALYZE-ing a table per
  * query. This applies k14/k18's commit discipline to s02/s05's
  * artifacts:
  *
  *  - v1 (build): train the coarse quantizer + residual codebook on
  *    the base corpus slice, encode it, land three parquet artifacts
  *    under content-immutable trees `_ann/c1/{centroids, codebook,
  *    codes}` + a manifest `_ann/v1` mapping artifact → tree.
  *  - v2 (incremental append): a NEW batch of vectors assigns to the
  *    EXISTING centroids and encodes under the EXISTING codebook —
  *    O(batch) work (one assign + encode pass over the arrivals,
  *    spec-pinned: no v1 file is rewritten or even read beyond the
  *    two broadcast-sized artifacts) — landing ONLY a delta codes
  *    tree `_ann/c2/codes`; the v2 manifest points centroids/codebook
  *    at c1 and codes at [c1, c2]. This is exactly how a live
  *    embedding store absorbs a day's crawl: assignment quality
  *    degrades gradually as the distribution drifts, and retraining
  *    is a k20-style compaction (new c-tree, new manifest), never an
  *    in-place mutation.
  *
  * The FETCH path reads the manifest's explicit tree list and runs
  * Similarity.ivfPqScan — the SAME query code s05/s06 run over their
  * memos, so landed ≡ memoized is a storage statement (spec pins it
  * row-for-row at s05's registered dials on a single-commit index).
  * The registered query fetches through the two-version incremental
  * index at the LOSSLESS dials (probe all clusters, rerank
  * everything): s06's anchor trick — the result must equal exact
  * brute force over the whole corpus (base + arrivals), which DuckDB
  * replays, so the full landed-index read path (manifest → artifact
  * trees → probe → ADC → rerank) is a hash-checked oracle row even
  * though the index itself is learned. Zero-norm vectors are never
  * assigned (cosine undefined — s06's definedness contract), so the
  * oracle restricts queries to positive norm, exactly annExactSql's
  * s06 form.
  *
  * Reference analog: the reference builds its alignment index once
  * (`tools.py:336`: STAR --runMode genomeGenerate) and every later
  * sample run READS the landed index from disk — build-once,
  * fetch-many, rebuild only when the genome (here: the vector
  * distribution) changes.
  */
object AnnIndexStore {

  // the s05 registered dials — the landed index stores artifacts
  // built at these; fetch-time dials (nprobe, rerankDepth) stay free
  private[graft] val KClusters = 10
  private val LloydIters = 3
  private val Subspaces = 8
  private val SubDim = 8
  private val Ks = 16
  private val PqIters = 2

  private def manifestPath(dir: String, v: Int) = s"$dir/_ann/v$v"

  private def write(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("error").parquet(path)

  /** The codes tree is the one O(corpus) artifact — a 1e9-vector
    * build or retrain must not serialize tens of GB through a single
    * writer task. It keeps the upstream vec_id hash partitioning
    * (the encode already runs post-`repartition(vec_id)`), so the
    * write stage is corpus-partitioned; `fetch` reads trees via the
    * manifest and is layout-agnostic (AnnIndexStoreSpec pins a
    * multi-file codes tree reading identically). Centroids/codebook/
    * manifest stay `coalesce(1)` — broadcast-sized by construction —
    * as do per-batch append deltas (O(batch)).
    */
  private def writeCodes(df: DataFrame, path: String): Unit =
    df.write.mode("error").parquet(path)

  /** Land v1 (trained on `base`) and the v2 incremental append of
    * `arrivals` — arrivals touch ONLY the landed centroids/codebook
    * (broadcast-sized reads) plus their own rows.
    */
  private[graft] def buildAndAppend(base: DataFrame,
      arrivals: DataFrame, dir: String): Unit = {
    buildBase(base, dir)
    // v2: the O(batch) append primitive below
    appendBatch(arrivals, dir, "c2", version = 2)
  }

  /** Land v1: train the quantizer + residual codebook on `base`,
    * encode it, write the three c1 artifacts + the v1 manifest.
    */
  private[graft] def buildBase(base: DataFrame, dir: String): Unit = {
    val spark = base.sparkSession
    val eb = Similarity.normed(base).repartition(col("vec_id"))
    val cent = Similarity.kmeansCentroids(eb, KClusters, LloydIters)
    val resid = Similarity.residualsOf(eb, cent)
    val cb = Similarity.pqCodebook(resid, Subspaces, SubDim, Ks, PqIters)
    write(cent, s"$dir/_ann/c1/centroids")
    write(cb, s"$dir/_ann/c1/codebook")
    writeCodes(Similarity.encodeResiduals(resid, cb, Subspaces, SubDim),
      s"$dir/_ann/c1/codes")
    import spark.implicits._
    Seq(("centroids", "c1"), ("codebook", "c1"), ("codes", "c1"))
      .toDF("artifact", "commit")
      .coalesce(1).write.mode("error").parquet(manifestPath(dir, 1))
  }

  /** The O(batch) APPEND primitive shared by the k31 demo's v2 and
    * st27's per-micro-batch ingest: assign + encode `arrivals` under
    * the LANDED v1 quantizer artifacts (read back, not in-session
    * tables — the path a fresh session/batch runs), land ONLY the
    * batch's own codes tree `_ann/<commit>/codes`, and write manifest
    * `version` = the prior manifest's rows + the new codes row. Both
    * writes are overwrite-idempotent on the batch's OWN paths (st09's
    * retry recipe: a replayed batch rewrites its artifacts, touches
    * nothing else).
    */
  private[graft] def appendBatch(arrivals: DataFrame, dir: String,
      commit: String, version: Int): Unit = {
    val spark = arrivals.sparkSession
    val centL = spark.read.parquet(s"$dir/_ann/c1/centroids")
    val cbL = spark.read.parquet(s"$dir/_ann/c1/codebook")
    val ea = Similarity.normed(arrivals).repartition(col("vec_id"))
    Similarity.encodeResiduals(
        Similarity.residualsOf(ea, centL), cbL, Subspaces, SubDim)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/_ann/$commit/codes")
    import spark.implicits._
    spark.read.parquet(manifestPath(dir, version - 1))
      .unionByName(Seq(("codes", commit)).toDF("artifact", "commit"))
      .coalesce(1).write.mode("overwrite")
      .parquet(manifestPath(dir, version))
  }

  /** RETRAIN — k20's compaction analog for the learned index: after
    * enough appends the base-trained quantizer drifts from the
    * corpus it now serves, so a retrain lands a FRESH generation
    * (new centroids + codebook + full re-encode under `commit`) and
    * a new manifest pointing every artifact at it. Prior
    * generations' files are never touched — a reader holding the v2
    * manifest keeps a consistent index (k14's immutability), and
    * retention can reclaim old generations later. Cost is one full
    * train+encode — scheduled, like OPTIMIZE, not per-batch.
    */
  private[graft] def retrain(corpus: DataFrame, dir: String,
      version: Int, commit: String): Unit = {
    val spark = corpus.sparkSession
    val e = Similarity.normed(corpus).repartition(col("vec_id"))
    val cent = Similarity.kmeansCentroids(e, KClusters, LloydIters)
    val resid = Similarity.residualsOf(e, cent)
    val cb = Similarity.pqCodebook(resid, Subspaces, SubDim, Ks, PqIters)
    write(cent, s"$dir/_ann/$commit/centroids")
    write(cb, s"$dir/_ann/$commit/codebook")
    writeCodes(Similarity.encodeResiduals(resid, cb, Subspaces, SubDim),
      s"$dir/_ann/$commit/codes")
    import spark.implicits._
    Seq(("centroids", commit), ("codebook", commit), ("codes", commit))
      .toDF("artifact", "commit")
      .coalesce(1).write.mode("error").parquet(manifestPath(dir, version))
  }

  /** Query version `v` of the landed index: manifest → explicit
    * artifact trees → the shared ivfPqScan. `embeddings` is the
    * corpus table (query source + exact-rerank floats); the INDEX
    * side of the plan reads only the manifest's trees.
    */
  def fetch(spark: SparkSession, embeddings: DataFrame, dir: String,
      version: Int, k: Int = 5, queryStride: Int = 50,
      nprobe: Int = 5, rerankDepth: Int = 64,
      maxQueries: Int = Similarity.AnnMaxQueries): DataFrame = {
    val m = spark.read.parquet(manifestPath(dir, version)).collect()
      .map(r => r.getString(0) -> r.getString(1))
    def trees(artifact: String): Seq[String] =
      m.collect { case (a, c) if a == artifact =>
        s"$dir/_ann/$c/$artifact" }.toSeq
    val cent = spark.read.parquet(trees("centroids"): _*)
    val cb = spark.read.parquet(trees("codebook"): _*)
    val codes = spark.read.parquet(trees("codes"): _*)
    val e = Similarity.normed(embeddings).repartition(col("vec_id"))
    Similarity.ivfPqScan(e, cent, cb, codes, k, queryStride, nprobe,
      Subspaces, SubDim, Ks, rerankDepth, maxQueries)
  }

  /** Stage the two-version demo index for `embeddings`: v1 trains on
    * the base slice (vec_id % 4 != 3), v2 appends the rest — the
    * continuous-ingest split.
    */
  private[graft] def stageIndex(embeddings: DataFrame,
      cacheKey: String): String =
    graft.Staging.memo("k31", cacheKey) {
      val dir = graft.Staging.dir("graft_k31_")
      buildAndAppend(
        embeddings.filter(pmod(col("vec_id"), lit(4L)) =!= 3L),
        embeddings.filter(pmod(col("vec_id"), lit(4L)) === 3L), dir)
      dir
    }

  /** Registered k31 query: the LOSSLESS-dial fetch through the
    * incrementally-maintained v2 index — probe all clusters, rerank
    * everything — which must equal exact brute force over the full
    * corpus (s06's anchor trick, same oracle).
    */
  def annIndexQuery(embeddings: DataFrame,
      cacheKey: String = ""): DataFrame = {
    val dir = stageIndex(embeddings, cacheKey)
    fetch(embeddings.sparkSession, embeddings, dir, 2,
      nprobe = KClusters, rerankDepth = Int.MaxValue)
  }
}
