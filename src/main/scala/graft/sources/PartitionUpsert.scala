package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** k12_partition_upsert — MERGE INTO for a plain parquet tree:
  * apply a keyed changelog (latest-wins upserts + deletes, q28's
  * semantics) to a partitioned durable store by REWRITING ONLY THE
  * PARTITIONS THE CHANGELOG TOUCHES. q28 computes the merged STATE
  * as a query; this is the SINK half — the nightly "apply the CDC
  * feed to the lake" job, where the thing that matters at 100 TB is
  * what does NOT happen: a changelog touching 2 of 40 languages
  * must leave the other 38 directories byte-identical (the spec
  * asserts exactly that on file listings), because rewriting the
  * full tree for a 0.1% delta is the difference between a
  * minutes-job and a day-job. The reference's durable tree
  * (tools.py:677 rsync) has no update story at all — a changed
  * sample re-syncs wholesale.
  *
  * Mechanics: dynamic partition overwrite
  * (`partitionOverwriteMode=dynamic`) — the writer replaces exactly
  * the partition directories present in the merged output, which is
  * the changelog's affected-partition set by construction, because
  * the merge input is the base tree PRUNED to those partitions
  * (PartitionFilters on the read side: untouched partitions are
  * never even scanned). The merge itself is q28's
  * full_outer + latest-wins on (doc_id, lang); the rewritten
  * partitions use k01's salted writers. Affected-partition
  * discovery is a distinct() on the changelog's partition column —
  * metadata-scale.
  *
  * The staged demo changelog confines changes to two languages PLUS
  * THE NULL PARTITION (upsert doc_id ≡ 0 mod 3, text + " v2", seq 1;
  * delete doc_id ≡ 4 mod 11, seq 2 — keys hit by both prove
  * latest-wins), all in oracle-replayable arithmetic; the registered
  * summary is the read-back of the post-apply tree, which the oracle
  * rebuilds relationally from the original table. NULL is a legal
  * partition value (`lang=__HIVE_DEFAULT_PARTITION__` on disk) and
  * the demo exercises it deliberately: a plain `isin` prune drops
  * NULL under SQL three-valued logic and a null-unsafe join key
  * never matches it, while dynamic overwrite still rewrites the NULL
  * partition from the changelog side alone — the one path to SILENT
  * data loss in this sink. Hence `langIn` (null-safe membership) at
  * every prune site and `<=>` on the lang join key in both merges.
  */
object PartitionUpsert {

  val ChangedLangs: Seq[String] = Seq("en", "de")

  private[graft] val HiveNull = "__HIVE_DEFAULT_PARTITION__"

  /** Partition directories the demo changelog touches: the two
    * changed langs plus the NULL partition's on-disk name.
    */
  private[graft] val ChangedPartitionDirs: Set[String] =
    ChangedLangs.map("lang=" + _).toSet + ("lang=" + HiveNull)

  /** Key offset for the demo's NULL-lang shadow rows — keeps their
    * doc_ids disjoint from the corpus keys.
    */
  private[graft] val NullShadowOffset = 10000000L

  private[graft] val treeSchema =
    "doc_id BIGINT, source STRING, text STRING, lang STRING"

  /** Demo base tree: the corpus plus deterministic NULL-lang shadow
    * rows (doc_id ≡ 7 mod 13, re-keyed +NullShadowOffset). The
    * driver corpus has no NULL langs, so the demo plants some — the
    * merge path must treat the hive default partition as just
    * another partition, and the registered k12/st12/k14 queries
    * exercise that on every run (oracle replays the same arithmetic).
    */
  private[graft] def demoBase(documents: DataFrame): DataFrame = {
    val std = documents
      .select(col("doc_id"), col("source"), col("text"), col("lang"))
    val shadows = documents
      .filter(pmod(col("doc_id"), lit(13L)) === 7L)
      .select((col("doc_id") + NullShadowOffset).as("doc_id"),
        col("source"), col("text"),
        lit(null).cast("string").as("lang"))
    std.unionByName(shadows)
  }

  /** NULL-safe partition membership: NULL ∉ `isin(...)` under SQL
    * three-valued logic, so pruning with a plain isin silently drops
    * the hive default partition — membership of the NULL value needs
    * an explicit isNull disjunct.
    */
  private[graft] def langIn(values: Seq[String]): org.apache.spark.sql.Column = {
    val nonNull = values.filterNot(_ == null)
    val in =
      if (nonNull.isEmpty) lit(false)
      else col("lang").isin(nonNull.map(x => x: Any): _*)
    if (values.contains(null)) in || col("lang").isNull else in
  }

  /** Deterministic demo changelog over a base tree (use `demoBase`),
    * confined to `ChangedLangs` plus the NULL partition.
    */
  private[graft] def changelog(base: DataFrame): DataFrame = {
    val changed = base.filter(langIn(ChangedLangs :+ null))
    val upserts = changed.filter(pmod(col("doc_id"), lit(3L)) === 0L)
      .select(col("doc_id"), col("lang"), lit(1L).as("seq"),
        lit("upsert").as("op"),
        concat(col("text"), lit(" v2")).as("new_text"))
    val deletes = changed.filter(pmod(col("doc_id"), lit(11L)) === 4L)
      .select(col("doc_id"), col("lang"), lit(2L).as("seq"),
        lit("delete").as("op"), lit(null).cast("string").as("new_text"))
    upserts.unionByName(deletes)
  }

  private[graft] def writeTree(df: DataFrame, dir: String,
      writers: Int = 4,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.repartition(col("lang"),
        pmod(xxhash64(col("doc_id")), lit(writers)))
      .write.mode(mode)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("lang")
      .parquet(dir)

  /** Latest-wins collapse of a (doc_id, lang, seq, op, new_text)
    * changelog — ONE definition shared by k12's in-place apply and
    * k14's versioned commit, so their semantics cannot drift.
    */
  private[graft] def latestOps(changes: DataFrame): DataFrame =
    changes
      .groupBy(col("doc_id"), col("lang"))
      .agg(max_by(struct(col("op"), col("new_text")), col("seq")).as("c"))
      .select(col("doc_id"), col("lang"), col("c.op").as("op"),
        col("c.new_text").as("nt"))

  /** k12's latest-wins merge of a base slice with a collapsed
    * changelog (upsert replaces text, delete drops the row) — shared
    * with k14 (see latestOps). The lang key joins NULL-SAFELY
    * (`<=>`): a null-unsafe key can never match a NULL-partition base
    * row against its own change, which would duplicate the key (base
    * copy survives untouched + changelog copy lands as an insert).
    *
    * Join strategy (r19 optimization round, guide §3.1 "pick the
    * strategy deliberately"): a full_outer join cannot broadcast, so
    * the planner's sort-merge default SORTED both the affected base
    * slice and the delta on every apply — at 100 TB that is two
    * corpus-slice sorts per nightly CDC batch for a merge that needs
    * no order. Full-outer SHUFFLED HASH join (SPARK-32399) builds the
    * hash table from the DELTA side — bounded by the changelog batch,
    * never the tree, so the per-partition build fits by construction
    * — and streams the base slice through it: same exchanges, zero
    * sorts. (A union+max_by aggregation shape was measured and
    * rejected: text-typed aggregation buffers are not hash-aggregable
    * in Spark, so it silently SortAggregates — sorting the base arm
    * twice, worse than the join it replaced.)
    */
  private[graft] def mergeLatest(base: DataFrame,
      latest: DataFrame): DataFrame = {
    val b = base.select(col("doc_id").as("b_id"),
      col("lang").as("b_lang"), col("source"), col("text"))
    val l = latest.select(col("doc_id").as("l_id"),
      col("lang").as("l_lang"), col("op"), col("nt"))
    b.join(l.hint("shuffle_hash"),
        col("b_id") === col("l_id") && (col("b_lang") <=> col("l_lang")),
        "full_outer")
      .filter(coalesce(col("op"), lit("keep")) =!= "delete")
      .select(coalesce(col("b_id"), col("l_id")).as("doc_id"),
        col("source"),
        when(col("op") === "upsert", col("nt")).otherwise(col("text"))
          .as("text"),
        coalesce(col("b_lang"), col("l_lang")).as("lang"))
  }

  /** Materialize a collapsed changelog ONCE and discover its affected
    * partition values on the same pass (r19 optimization round, guide
    * §1/§5): the pre-r19 shape computed the collapse TWICE per apply —
    * once under a distinct+collect for the affected-partition prune,
    * once again inside the merge join — i.e. two full passes + two
    * aggregations over every changelog batch at every scale. Now the
    * collapse runs exactly once: the affected langs ride the
    * localCheckpoint materialization job as observe() side metrics
    * (collect_set drops NULL, so the hive-default partition's
    * membership travels as its own max(isNull) flag — the one value
    * this sink must never lose), and the merge consumes the
    * checkpointed delta (delta-key cardinality — bounded by the
    * batch, never the tree). One job yields both; the distinct
    * exchange disappears.
    */
  private def materializeWithAffected(latest: DataFrame,
      langCol: String): (DataFrame, Seq[String]) = {
    val obs = new org.apache.spark.sql.Observation()
    val pinned = latest
      .observe(obs, collect_set(col(langCol)).as("langs"),
        max(col(langCol).isNull).as("has_null"))
      .localCheckpoint(true)
    val langs = Option(obs.get("langs"))
      .map(_.asInstanceOf[Seq[String]]).getOrElse(Seq.empty)
    val hasNull = Option(obs.get("has_null"))
      .exists(_.asInstanceOf[Boolean])
    (pinned, if (hasNull) langs :+ null else langs)
  }

  /** Apply `changes` to the tree at `dir`: read ONLY the affected
    * partitions (pruned scan), merge latest-wins, dynamically
    * overwrite exactly those partition directories. Idempotent: the
    * merge of an already-applied changelog reproduces the same
    * partition contents (spec-pinned).
    */
  private[graft] def applyChanges(spark: SparkSession, dir: String,
      changes: DataFrame): Unit = {
    // metadata-scale affected set: one partition value per affected
    // directory (NULL is a legal value — langIn keeps it in the
    // prune); rides the delta materialization, see above
    val (latest, affected) =
      materializeWithAffected(latestOps(changes), "lang")
    val base = spark.read.schema(treeSchema).parquet(dir)
      .filter(langIn(affected))
    writeTree(mergeLatest(base, latest), dir)
  }

  /** Stage the demo base tree (corpus + NULL-lang shadows), apply the
    * demo changelog.
    */
  def stageApplied(documents: DataFrame,
      cacheKey: String = ""): String =
    graft.Staging.memo("k12", cacheKey) {
      val dir = graft.Staging.dir("graft_k12_") + "/tree"
      val base = demoBase(documents)
      writeTree(base, dir)
      applyChanges(documents.sparkSession, dir, changelog(base))
      dir
    }

  /** The registered query: post-apply tree read back, summarized per
    * lang — counts, key/char checksums, and the upserted-row count
    * (the SAME text-suffix predicate both engines evaluate, so the
    * check is consistent even if original text happens to match).
    */
  def upsertSummary(documents: DataFrame,
      cacheKey: String = ""): DataFrame = {
    val spark = documents.sparkSession
    val dir = stageApplied(documents, cacheKey)
    summarize(spark.read.schema(treeSchema).parquet(dir))
  }

  private[graft] def summarize(tree: DataFrame): DataFrame =
    tree
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("long").as("key_checksum"),
        sum(length(col("text"))).cast("long").as("chars_checksum"),
        sum(when(col("text").like("% v2"), 1L).otherwise(0L))
          .cast("long").as("n_upserted"))

  // ---- st12: the CONVERGENT (order-independent) variant ----------

  /** st12's tree schema: every row carries the seq that produced it
    * and deletes persist as TOMBSTONES — the two additions that make
    * incremental application ORDER-INDEPENDENT. k12's sequential
    * apply is correct when batches arrive in seq order; a streaming
    * CDC feed does not promise that (a retried/partitioned feed can
    * deliver seq 2 before seq 1), and without the stored seq a late
    * low-seq upsert would overwrite a newer row — and without the
    * tombstone it would RESURRECT a deleted key. With both, each
    * merge keeps the max-seq version per key, so the final state is
    * argmax(seq) over base ∪ all changelog entries regardless of
    * how the feed was batched (spec applies the batches REVERSED
    * and gets the identical tree).
    */
  private[graft] val convergentSchema =
    "doc_id BIGINT, source STRING, text STRING, seq BIGINT, " +
      "deleted BOOLEAN, lang STRING"

  private[graft] def stageConvergentBase(documents: DataFrame,
      dir: String): Unit =
    writeTree(documents
      .select(col("doc_id"), col("source"), col("text"),
        lit(0L).as("seq"), lit(false).as("deleted"), col("lang")),
      dir)

  /** Merge one changelog batch into the convergent tree: max-seq
    * wins per (doc_id, lang), tombstones persist. Affected-partition
    * pruning + dynamic overwrite exactly as k12, with the same
    * null-safe prune (`langIn`) and `<=>` lang key — see mergeLatest.
    * Returns the affected partition VALUES it pruned and rewrote —
    * the single source of truth a downstream index refresh (st16)
    * must stay in lockstep with (a second derivation could drift
    * and strand stale index rows as false negatives).
    */
  private[graft] def applyConvergent(spark: SparkSession, dir: String,
      batch: DataFrame): Seq[String] = {
    // one pass over the batch: the collapsed delta materializes once
    // and the affected langs ride the same job (see
    // materializeWithAffected) — the pre-r19 shape re-aggregated the
    // whole micro-batch a second time inside the merge join
    val (incoming, affected) = materializeWithAffected(
      batch
        .groupBy(col("doc_id"), col("lang"))
        .agg(max_by(struct(col("op"), col("new_text"), col("seq")),
          col("seq")).as("c"))
        .select(col("doc_id").as("in_id"), col("lang").as("in_lang"),
          lit(null).cast("string").as("in_source"),
          col("c.new_text").as("in_text"), col("c.seq").as("in_seq"),
          (col("c.op") === "delete").as("in_deleted")),
      "in_lang")
    val base = spark.read.schema(convergentSchema).parquet(dir)
      .filter(langIn(affected))
    writeTree(convergentMerge(base, incoming), dir)
    affected
  }

  /** The convergent merge PLAN. Max-seq wins per
    * (doc_id, lang), tombstones persist, `<=>` on the lang key
    * (mergeLatest's null-safety note). Strategy: full-outer SHUFFLED
    * HASH join built from the delta side (r19, guide §3.1 — see
    * mergeLatest: full_outer cannot broadcast and the sort-merge
    * default sorted both sides per micro-batch; the delta build side
    * is bounded by the batch, never the tree, so the per-partition
    * hash table fits by construction and the base slice streams
    * through unsorted).
    */
  private def convergentMerge(base: DataFrame,
      incoming: DataFrame): DataFrame =
    base.join(incoming.hint("shuffle_hash"),
        col("doc_id") === col("in_id") &&
          (col("lang") <=> col("in_lang")),
        "full_outer")
      .select(coalesce(col("doc_id"), col("in_id")).as("k_id"),
        // keep the stored row unless the incoming seq is newer
        when(col("in_seq").isNotNull &&
          (col("seq").isNull || col("in_seq") > col("seq")),
          struct(coalesce(col("source"), col("in_source")).as("source"),
            col("in_text").as("text"), col("in_seq").as("seq"),
            col("in_deleted").as("deleted")))
          .otherwise(struct(col("source"), col("text"), col("seq"),
            col("deleted"))).as("r"),
        coalesce(col("lang"), col("in_lang")).as("k_lang"))
      .select(col("k_id").as("doc_id"), col("r.source").as("source"),
        col("r.text").as("text"), col("r.seq").as("seq"),
        col("r.deleted").as("deleted"), col("k_lang").as("lang"))

  /** Live (non-tombstone) rows of a convergent tree. */
  private[graft] def convergentState(spark: SparkSession,
      dir: String): DataFrame =
    spark.read.schema(convergentSchema).parquet(dir)
      .filter(!col("deleted"))
      .select(col("doc_id"), col("source"), col("text"), col("lang"))
}
