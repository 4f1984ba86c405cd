package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.TimeTravel.ManifestRow

/** k23_concurrent_commit — OPTIMISTIC CONCURRENCY CONTROL for the
  * k14 versioned catalog: two independent writers commit to the same
  * table at the same time, and the catalog serializes them without a
  * global lock (the Delta/Iceberg commit-protocol pattern). A single
  * sequential writer is a toy assumption at 100 TB — a real lake has
  * the nightly CDC apply, a backfill, and a GDPR delete all landing
  * on the same table, and "last writer wins by clobbering the
  * manifest" is silent lost-update corruption.
  *
  * Protocol (per writer):
  *   1. SNAPSHOT: read the latest version V; merge the changelog
  *      into V's affected partitions (the shared
  *      latestOps/mergeLatest path — semantics identical to k12/k14)
  *      and land the result as this writer's OWN immutable tree
  *      (`w{id}a{attempt}` — tree names are writer-scoped, so
  *      preparation never contends).
  *   2. CLAIM: try to win version V+1 with an atomic
  *      create-if-absent of `meta/_claim_v{V+1}` — the CAS
  *      primitive. Exactly one writer can create it; the winner
  *      publishes its manifest as v{V+1} (readers only trust a
  *      manifest once its _SUCCESS lands, so a mid-publish version
  *      is never visible — TimeTravel.versions enforces it).
  *   3. LOSE → REBASE or RETRY: the loser reads the winner's
  *      manifest and diffs it against its snapshot's. Disjoint
  *      partitions (the common case: different writers own different
  *      slices) → REBASE: the loser's prepared tree is still valid —
  *      the winner didn't touch those partitions — so it re-targets
  *      V+2 with a manifest built on the winner's, zero data
  *      recomputation. Overlap → CONFLICT: the loser's merge read a
  *      stale pre-image; it discards the tree and retries from the
  *      new head (serializable, latest-wins semantics preserved).
  *
  * The CAS primitive is pluggable by deployment: HDFS create(
  * overwrite=false) is atomic at the NameNode; object stores use a
  * conditional PUT (If-None-Match) or an external coordinator — the
  * public Delta LogStore pattern. On the local filesystem Hadoop's
  * create() is exists-then-create (a TOCTOU window), so the local
  * path goes through POSIX O_EXCL (`java.nio.Files.createFile`),
  * which IS atomic — the spec genuinely races two writers through it.
  *
  * Scale shape: each writer's cost is its OWN delta (pruned read +
  * affected-partition rewrite, k12's bound); contention costs one
  * manifest read + one metadata write per lost claim (rebase), and a
  * data re-merge only on true partition overlap. Reference analog:
  * the sqlite progress ledger gating concurrent sample workers
  * (tools.py:8-56) — a global lock, where this is lock-free.
  */
object OptimisticCommit {

  // ---- CAS primitive ----------------------------------------------

  /** Atomically create `p` iff absent; true = this caller won. */
  private[graft] def tryClaim(fs: FileSystem, p: Path): Boolean =
    fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem |
           _: org.apache.hadoop.fs.RawLocalFileSystem =>
        // Hadoop's local create() is exists-then-create (TOCTOU);
        // POSIX O_EXCL is the real local CAS.
        try {
          java.nio.file.Files.createFile(
            java.nio.file.Paths.get(p.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      case _ =>
        // HDFS: atomic at the NameNode. Object stores: swap in a
        // conditional-PUT LogStore here.
        try { fs.create(p, false).close(); true }
        catch { case _: java.io.IOException => false }
    }

  /** Wait for version `v`'s manifest to finish publishing (claim
    * holders write it immediately after winning; _SUCCESS is the
    * completion marker).
    */
  private def awaitManifest(spark: SparkSession, fs: FileSystem,
      dir: String, v: Int): Seq[ManifestRow] = {
    val marker = new Path(s"$dir/meta/v$v/_SUCCESS")
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (!fs.exists(marker)) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(
          s"claim for v$v exists but its manifest never landed")
      Thread.sleep(20)
    }
    TimeTravel.readManifest(spark, dir, v)
  }

  /** Partitions whose serving tree changed between two manifests
    * (modified or dropped rows — a dropped partition is a change).
    */
  private[graft] def changedLangs(prev: Seq[ManifestRow],
      next: Seq[ManifestRow]): Set[String] = {
    def key(r: ManifestRow) = (r.commit, Option(r.base))
    val pm = prev.map(r => r.lang -> key(r)).toMap
    val nm = next.map(r => r.lang -> key(r)).toMap
    (pm.keySet ++ nm.keySet).filter(l => pm.get(l) != nm.get(l))
  }

  // ---- the writer --------------------------------------------------

  /** Commit `changes` with OCC; returns the version it published.
    * Safe to call from concurrent threads/processes sharing `dir`.
    */
  def commitOptimistic(spark: SparkSession, dir: String,
      changes: DataFrame, writerId: Int,
      maxAttempts: Int = 10): Int = {
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val latest = PartitionUpsert.latestOps(changes)
      .localCheckpoint(true)
    val affected = latest.select(col("lang")).distinct()
      .collect().map(_.getString(0)).toSet
    var attempt = 0
    while (attempt < maxAttempts) {
      // SNAPSHOT + PREPARE: merge against the current head, land as
      // this writer's own tree (never contended).
      val snapV = TimeTravel.versions(spark, dir).max
      val name = s"w${writerId}a$attempt"
      val pruned = TimeTravel.readAt(spark, dir, snapV)
        .filter(PartitionUpsert.langIn(affected.toSeq))
      PartitionUpsert.writeTree(
        PartitionUpsert.mergeLatest(pruned, latest), s"$dir/$name")
      val written = TimeTravel.commitLangs(spark, s"$dir/$name")
      // CLAIM/REBASE loop: metadata-only until a conflict forces a
      // re-merge.
      var prior = TimeTravel.readManifest(spark, dir, snapV)
      var target = snapV + 1
      var conflicted = false
      while (!conflicted) {
        val mine = written.map(ManifestRow(_, name, null)) ++
          prior.filterNot(r => affected.contains(r.lang))
        if (tryClaim(fs, new Path(s"$dir/meta/_claim_v$target"))) {
          TimeTravel.writeManifest(spark, dir, target, mine)
          return target
        }
        val winner = awaitManifest(spark, fs, dir, target)
        if (changedLangs(prior, winner).exists(affected.contains)) {
          // true overlap: the prepared tree merged a stale pre-image
          conflicted = true
        } else {
          // disjoint: rebase onto the winner, data tree still valid
          prior = winner
          target += 1
        }
      }
      attempt += 1
    }
    throw new IllegalStateException(
      s"writer $writerId: $maxAttempts consecutive conflicts on $dir")
  }

  // ---- the registered demo -----------------------------------------

  /** Writer A's changelog: en + the NULL partition — upsert
    * text+" vA" for doc_id ≡ 0 (mod 3) at seq 1, delete
    * doc_id ≡ 4 (mod 11) at seq 2.
    */
  private[graft] def changelogA(base: DataFrame): DataFrame =
    writerChangelog(base, Seq("en", null), 3L, 0L, " vA", 11L, 4L)

  /** Writer B's changelog: de — upsert text+" vB" for
    * doc_id ≡ 1 (mod 4) at seq 1, delete doc_id ≡ 2 (mod 9) at
    * seq 2. Disjoint partitions from A by construction, so the
    * registered result is deterministic whichever writer wins the
    * first claim.
    */
  private[graft] def changelogB(base: DataFrame): DataFrame =
    writerChangelog(base, Seq("de"), 4L, 1L, " vB", 9L, 2L)

  private def writerChangelog(base: DataFrame, langs: Seq[String],
      upMod: Long, upRem: Long, suffix: String,
      delMod: Long, delRem: Long): DataFrame = {
    val changed = base.filter(PartitionUpsert.langIn(langs))
    val upserts = changed
      .filter(pmod(col("doc_id"), lit(upMod)) === upRem)
      .select(col("doc_id"), col("lang"), lit(1L).as("seq"),
        lit("upsert").as("op"),
        concat(col("text"), lit(suffix)).as("new_text"))
    val deletes = changed
      .filter(pmod(col("doc_id"), lit(delMod)) === delRem)
      .select(col("doc_id"), col("lang"), lit(2L).as("seq"),
        lit("delete").as("op"),
        lit(null).cast("string").as("new_text"))
    upserts.unionByName(deletes)
  }

  /** Stage the concurrent demo: the k14 base catalog, then writers A
    * and B committing GENUINELY concurrently (two threads, one
    * barrier) through the OCC protocol. Ends at v3 with both
    * changelogs applied regardless of claim order.
    */
  private[graft] def stageConcurrent(documents: DataFrame,
      cacheKey: String = ""): String = {
    val spark = documents.sparkSession
    graft.Staging.memo("k23", cacheKey) {
      val dir = graft.Staging.dir("graft_k23_")
      TimeTravel.stageBase(documents, dir)
      val base = PartitionUpsert.demoBase(documents)
        .localCheckpoint(true)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val fa = scala.concurrent.Future(
        commitOptimistic(spark, dir, changelogA(base), writerId = 1))
      val fb = scala.concurrent.Future(
        commitOptimistic(spark, dir, changelogB(base), writerId = 2))
      import scala.concurrent.duration._
      val got = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(Seq(fa, fb)), 10.minutes)
      pool.shutdown()
      require(got.toSet == Set(2, 3),
        s"concurrent writers must land v2 and v3, got $got")
      dir
    }
  }

  /** Registered k23 query: the serialized head (v3) summarized per
    * lang with per-writer suffix counts — deterministic because the
    * writers' partitions are disjoint, whichever one won v2; the
    * oracle replays both changelogs over the base relationally.
    */
  def concurrentSummary(documents: DataFrame,
      cacheKey: String = ""): DataFrame = {
    val spark = documents.sparkSession
    val dir = stageConcurrent(documents, cacheKey)
    TimeTravel.readAt(spark, dir, 3)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("long").as("key_checksum"),
        sum(length(col("text"))).cast("long").as("chars_checksum"),
        sum(when(col("text").like("% vA"), 1L).otherwise(0L))
          .cast("long").as("n_a"),
        sum(when(col("text").like("% vB"), 1L).otherwise(0L))
          .cast("long").as("n_b"))
      .select(col("lang"), col("n_docs"), col("key_checksum"),
        col("chars_checksum"), col("n_a"), col("n_b"))
  }
}
