package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** k14_time_travel — a VERSIONED snapshot catalog over immutable
  * data files: every commit writes only its delta and a new manifest;
  * no commit ever rewrites or deletes a prior commit's files, so any
  * historical version stays readable byte-identical (the
  * Iceberg/Delta snapshot-isolation pattern). k12 answers "apply the
  * CDC feed to the lake" by dynamically OVERWRITING the affected
  * partition directories — correct and minimal for a single-version
  * store, but the pre-image is gone: yesterday's training snapshot
  * cannot be re-read for a repro run, an audit, or a d11-style
  * version diff. This operator is the sink that keeps it.
  *
  * Layout: `dir/c{N}/lang=.../part-*.parquet` — each commit's delta
  * as its own immutable partition tree — plus `dir/meta/v{N}`
  * manifests of (lang, commit) rows: which commit's tree serves each
  * partition at that version. Commit v2 merges the changelog into the
  * AFFECTED partitions only (k12's latestOps/mergeLatest — the SAME
  * shared code path, so the semantics cannot drift), writes the
  * merged result as the NEW commit's tree, and the v2 manifest points
  * affected langs at c2 while inheriting every other (lang -> c1)
  * row from v1's manifest verbatim.
  *
  * Scale shape: a commit costs the delta's partitions, never the
  * table (k12's bound) — plus a metadata-cardinality manifest write
  * (≤ #partitions rows). Reading AT a version enumerates the
  * manifest, not the directory tree: the manifest's (lang, commit)
  * rows become EXPLICIT partition-directory paths, so Spark's file
  * index lists only those directories — at 100 TB (millions of
  * files) the difference between a metadata read and an object-store
  * crawl. Old-version reads cost the same as they did when that
  * version was current. The spec brackets the v2 commit directly:
  * c1's file listing (paths + content digests) taken BEFORE the v2
  * commit equals the listing after it.
  *
  * Reference analog: the durable results tree (tools.py:677 rsync)
  * plus the sqlite progress log's implicit history (tools.py:8-56)
  * — the reference can say WHEN a sample was processed but cannot
  * reproduce WHAT the tree held then; this sink can.
  */
object TimeTravel {

  private val HiveNull = PartitionUpsert.HiveNull

  /** One manifest entry: which commit TREE serves partition `lang`
    * at a version. `commit` is the tree's directory NAME under its
    * owning catalog root; `base` is that root when it is NOT this
    * catalog (a k22 shallow clone referencing the source's immutable
    * trees), null for the catalog's own commits. Keying trees by
    * (base, commit) keeps a clone's local names disjoint from the
    * source's without any global registry.
    */
  private[graft] case class ManifestRow(lang: String, commit: String,
      base: String)

  private def langDir(lang: String): String =
    "lang=" + (if (lang == null) HiveNull else lang)

  private def fsOf(spark: SparkSession,
      dir: String): (org.apache.hadoop.fs.FileSystem,
        org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Child directory names of `dir` matching `prefix`, via the Hadoop
    * FileSystem API — the catalog's own metadata walk must resolve
    * through the SAME filesystem the writers used (a java.io listing
    * silently returns empty on any non-local default FS, turning a
    * populated tree into an empty manifest instead of an error).
    */
  private def listDirs(spark: SparkSession, dir: String,
      prefix: String): Seq[String] = {
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(_.getPath.getName)
  }

  /** Partition values of a committed tree, from the DIRECTORY
    * listing partitionBy materialized — metadata cost, no data scan.
    */
  private[graft] def commitLangs(spark: SparkSession, dir: String): Seq[String] =
    listDirs(spark, dir, "lang=")
      .map(_.stripPrefix("lang="))
      .map(v => if (v == HiveNull) null else v)

  /** Manifest rows for one version. NULL lang is a legitimate
    * partition value (hive default partition on disk) and survives
    * the round trip; NULL base means "this catalog's own tree".
    */
  private[graft] def writeManifest(spark: SparkSession, dir: String,
      version: Int, rows: Seq[ManifestRow]): Unit = {
    import spark.implicits._
    rows.toDF("lang", "commit", "base").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/meta/v$version")
  }

  private[graft] def readManifest(spark: SparkSession, dir: String,
      version: Int): Seq[ManifestRow] =
    spark.read.parquet(s"$dir/meta/v$version")
      .select(col("lang"), col("commit"), col("base"))
      .collect()
      .map(r => ManifestRow(r.getString(0), r.getString(1),
        r.getString(2))).toSeq

  // ---- k24: per-version schema (evolution half of the log) --------

  /** The DDL a version reads with. Schema is COMMIT-LOG state, not
    * file state (the Delta/Iceberg rule): an evolved commit writes
    * `meta/schema_v{N}`; versions without one read the catalog's
    * founding schema. A reader must never infer schema by crawling
    * parquet footers — at 100 TB that is a full metadata pass, and
    * worse, it is WRONG: partitions inherited from pre-evolution
    * commits lack the new column on disk and must surface it as NULL
    * under the version's schema, not drop it.
    */
  private[graft] def schemaAt(spark: SparkSession, dir: String,
      version: Int): String = {
    val (fs, _) = fsOf(spark, dir)
    val p = new org.apache.hadoop.fs.Path(s"$dir/meta/schema_v$version")
    if (!fs.exists(p)) PartitionUpsert.treeSchema
    else {
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try in.readFully(buf) finally in.close()
      new String(buf, java.nio.charset.StandardCharsets.UTF_8)
    }
  }

  private[graft] def writeSchemaFile(spark: SparkSession, dir: String,
      version: Int, ddl: String): Unit = {
    val (fs, _) = fsOf(spark, dir)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$dir/meta/schema_v$version"), true)
    try out.write(ddl.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Copy `fromVersion`'s schema pointer to `toVersion` (restore and
    * clone must carry the schema with the manifest — a restore of an
    * evolved version that fell back to the founding schema would
    * silently drop the evolved column).
    */
  private def carrySchema(spark: SparkSession, srcDir: String,
      fromVersion: Int, dstDir: String, toVersion: Int): Unit = {
    val (fs, _) = fsOf(spark, srcDir)
    val p = new org.apache.hadoop.fs.Path(
      s"$srcDir/meta/schema_v$fromVersion")
    if (fs.exists(p))
      writeSchemaFile(spark, dstDir, toVersion,
        schemaAt(spark, srcDir, fromVersion))
  }

  /** Read the table AS OF `version`: the manifest's (lang, commit)
    * rows become explicit partition-directory paths (one pruned scan
    * per referenced commit, `basePath` recovers the lang column), so
    * the file index lists EXACTLY the manifest's directories — a
    * tree-wide read with partition filters would still crawl every
    * leaf of the commit to build its file index first. The scan
    * reads under the VERSION'S schema (schemaAt): trees older than
    * an evolved column surface it as NULL.
    */
  def readAt(spark: SparkSession, dir: String,
      version: Int): DataFrame =
    readManifestRows(spark, dir, readManifest(spark, dir, version),
      schemaAt(spark, dir, version))

  /** Scan exactly the partition trees `rows` reference, under `ddl`
    * — readAt's body, factored so the change feed can scan a
    * manifest SUBSET (the changed partitions) with the same
    * explicit-path discipline: the file index lists only the listed
    * directories, nothing else is even stat'ed.
    */
  private[graft] def readManifestRows(spark: SparkSession, dir: String,
      rows: Seq[ManifestRow], ddl: String): DataFrame =
    rows.groupBy(r => (Option(r.base).getOrElse(dir), r.commit))
      .toSeq.sortBy(_._1).map { case ((root, commit), rs) =>
      val paths = rs.map(r => s"$root/$commit/${langDir(r.lang)}")
      spark.read
        .option("basePath", s"$root/$commit")
        .schema(ddl)
        .parquet(paths: _*)
    }.reduceOption(_.unionByName(_))
      // schema-correct empty frame so downstream summaries stay total
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(ddl)))

  /** Commit 1: the demo base tree (corpus + NULL-lang shadows, see
    * PartitionUpsert.demoBase) + its manifest.
    */
  private[graft] def stageBase(documents: DataFrame,
      dir: String): Unit = {
    val spark = documents.sparkSession
    val base = PartitionUpsert.demoBase(documents)
    PartitionUpsert.writeTree(base, s"$dir/c1")
    val langs = commitLangs(spark, s"$dir/c1")
    // a populated write that lists empty means the listing resolved
    // through the wrong filesystem — fail loudly, never an empty v1
    // (the isEmpty probe runs only on the empty-listing path)
    require(langs.nonEmpty || base.isEmpty,
      s"c1 wrote a non-empty tree but the listing of $dir/c1 is empty")
    writeManifest(spark, dir, 1, langs.map(ManifestRow(_, "c1", null)))
  }

  /** The general commit: merge a keyed changelog into ONLY the
    * affected partitions of the LATEST version (shared
    * latestOps/mergeLatest code path, null-safe prune + <=> keys),
    * landed as a NEW tree `dir/name` + a new manifest — no prior
    * commit's files are ever touched. The new manifest's rows for
    * the fresh tree come from the partitions it ACTUALLY
    * materialized, not the affected list: an affected partition
    * whose merge deleted every row writes no directory and must
    * simply be absent at the new version (inheriting the prior row
    * would resurrect the deleted rows). Unaffected partitions
    * inherit their prior manifest rows verbatim — including rows a
    * k22 clone points at its SOURCE catalog, which is what lets a
    * clone evolve without ever copying or touching source files.
    */
  private[graft] def commitVersion(spark: SparkSession, dir: String,
      changes: DataFrame, name: String): Int = {
    val v = versions(spark, dir).max
    // mergeLatest carries exactly the founding column set; a commit
    // to an evolved catalog must go through commitEvolved or it
    // would silently drop the evolved columns from rewritten
    // partitions
    require(schemaAt(spark, dir, v) == PartitionUpsert.treeSchema,
      s"commitVersion on an evolved catalog ($dir v$v) — use commitEvolved")
    val latest = PartitionUpsert.latestOps(changes)
    val affected = latest.select(col("lang")).distinct()
      .collect().map(_.getString(0)).toSeq
    val pruned = readAt(spark, dir, v)
      .filter(PartitionUpsert.langIn(affected))
    PartitionUpsert.writeTree(
      PartitionUpsert.mergeLatest(pruned, latest), s"$dir/$name")
    val written = commitLangs(spark, s"$dir/$name")
    val prior = readManifest(spark, dir, v)
    writeManifest(spark, dir, v + 1,
      written.map(ManifestRow(_, name, null)) ++
        prior.filterNot(r => affected.contains(r.lang)))
    v + 1
  }

  /** Commit 2 of the demo: k12's demo changelog through the general
    * commit path.
    */
  private[graft] def commitChanges(documents: DataFrame,
      dir: String): Unit = {
    commitVersion(documents.sparkSession, dir,
      PartitionUpsert.changelog(PartitionUpsert.demoBase(documents)),
      "c2")
    ()
  }

  /** Stage the two-commit demo. */
  def stageVersions(documents: DataFrame,
      cacheKey: String = ""): String =
    graft.Staging.memo("k14", cacheKey) {
      val dir = graft.Staging.dir("graft_k14_")
      stageBase(documents, dir)
      commitChanges(documents, dir)
      dir
    }

  /** Registered query: BOTH versions read back through their
    * manifests and summarized per (version, lang) — proving v1 is
    * still exactly the pre-image after v2 landed. Shares k12's
    * summary columns; the oracle rebuilds both states relationally.
    */
  def timeTravelSummary(documents: DataFrame,
      cacheKey: String = ""): DataFrame = {
    val spark = documents.sparkSession
    val dir = stageVersions(documents, cacheKey)
    Seq(1, 2).map { v =>
      PartitionUpsert.summarize(readAt(spark, dir, v))
        .withColumn("version", lit(v.toLong))
    }.reduce(_.unionByName(_))
      .select(col("version"), col("lang"), col("n_docs"),
        col("key_checksum"), col("chars_checksum"), col("n_upserted"))
  }

  // ---- retention: snapshot expiry + orphan vacuum -----------------

  /** Versions with a COMPLETE manifest in the catalog — a manifest
    * directory only counts once its _SUCCESS marker landed, so a
    * concurrent writer mid-publish (k23) is never read as a version.
    */
  private[graft] def versions(spark: SparkSession,
      dir: String): Seq[Int] = {
    val (fs, _) = fsOf(spark, dir)
    listDirs(spark, s"$dir/meta", "v")
      .filter(v => fs.exists(
        new org.apache.hadoop.fs.Path(s"$dir/meta/$v/_SUCCESS")))
      .map(_.stripPrefix("v").toInt).sorted
  }

  /** Expire every version `< retainFrom`: delete their manifests,
    * then VACUUM every commit partition directory no RETAINED
    * manifest references — the lifecycle half of the snapshot
    * pattern (a catalog that keeps every commit forever is a
    * disk-leak, not a table). Immutability is preserved for what
    * survives: a (commit, lang) directory referenced by ANY retained
    * manifest is untouched, so every retained version still reads
    * byte-identical (spec brackets this with content digests). The
    * walk is metadata-cardinality: #manifest rows + one listing per
    * commit tree, through the Hadoop FS API. Reference analog: the
    * `clean` step (tools.py:677-736) that deletes intermediates once
    * the durable result is landed.
    */
  def expire(spark: SparkSession, dir: String,
      retainFrom: Int): Unit = {
    val all = versions(spark, dir)
    val (dead, live) = all.partition(_ < retainFrom)
    require(live.nonEmpty,
      s"expire(retainFrom=$retainFrom) would retain no version of $dir")
    if (dead.isEmpty) return
    // Only LOCAL trees are vacuum candidates: a clone's manifest rows
    // that point at its SOURCE catalog (base != null) are someone
    // else's files — a clone expiring its history must never reach
    // into the source (the source's own expire owns those bytes).
    val liveRefs: Set[(String, String)] = live.flatMap { v =>
      readManifest(spark, dir, v)
        .filter(r => r.base == null || r.base == dir)
        .map(r => (r.commit, langDir(r.lang)))
    }.toSet
    val (fs, _) = fsOf(spark, dir)
    listDirs(spark, dir, "").filterNot(_ == "meta").foreach { cName =>
      listDirs(spark, s"$dir/$cName", "lang=").foreach { ld =>
        if (!liveRefs.contains((cName, ld)))
          fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$cName/$ld"),
            true)
      }
      // drop a commit tree no retained manifest references at all
      if (!liveRefs.exists(_._1 == cName))
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$cName"), true)
    }
    dead.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/meta/v$v"), true)
    }
  }

  // ---- k21: restore (rollback-as-new-version) ---------------------

  /** k21_restore — roll the table back to `toVersion` by publishing
    * a NEW version whose manifest is a verbatim copy of the old one:
    * the Delta RESTORE / Iceberg rollback pattern. Pure metadata —
    * zero data files are written, read, or deleted (spec asserts the
    * commit trees are byte-identical across the call), because every
    * version is just a set of pointers into immutable trees. History
    * is preserved, not rewritten: the bad version stays readable for
    * a post-mortem until `expire` reclaims it, and the restored
    * version composes with expire exactly like any other retained
    * manifest (retain only the restore and the bad commit's files
    * are vacuumed while the restored read stays byte-identical —
    * spec-pinned). At 100 TB this is the difference between an
    * operational UNDO (one manifest write) and a day-long re-copy of
    * yesterday's tree. Reference analog: re-running from the durable
    * pre-image (tools.py:677's rsync tree) — which the reference can
    * only do by recomputing, having kept no versioned pointer.
    */
  def restore(spark: SparkSession, dir: String, toVersion: Int): Int = {
    val vs = versions(spark, dir)
    require(vs.contains(toVersion),
      s"restore: version $toVersion does not exist in $dir (have $vs)")
    val v = vs.max + 1
    // schema travels with the manifest: restoring an evolved version
    // must keep its column set (k24)
    carrySchema(spark, dir, toVersion, dir, v)
    writeManifest(spark, dir, v, readManifest(spark, dir, toVersion))
    v
  }

  /** k21's staged demo: the k14 two-version catalog (v1 base, v2 =
    * the "bad" changelog apply), then restore(v1) publishing v3.
    * Staged in its OWN directory — the shared k14 staging must keep
    * exactly two versions.
    */
  private[graft] def stageRestored(documents: DataFrame,
      cacheKey: String = ""): String =
    graft.Staging.memo("k21", cacheKey) {
      val dir = graft.Staging.dir("graft_k21_")
      stageBase(documents, dir)
      commitChanges(documents, dir)
      restore(documents.sparkSession, dir, 1)
      dir
    }

  /** Registered k21 query: all three versions read back through
    * their manifests — v1 the pre-image, v2 the bad commit, v3 the
    * restore, which must summarize IDENTICALLY to v1 (the oracle
    * replays v3 as the base state verbatim).
    */
  def restoreSummary(documents: DataFrame,
      cacheKey: String = ""): DataFrame = {
    val spark = documents.sparkSession
    val dir = stageRestored(documents, cacheKey)
    Seq(1, 2, 3).map { v =>
      PartitionUpsert.summarize(readAt(spark, dir, v))
        .withColumn("version", lit(v.toLong))
    }.reduce(_.unionByName(_))
      .select(col("version"), col("lang"), col("n_docs"),
        col("key_checksum"), col("chars_checksum"), col("n_upserted"))
  }

  // ---- k22: shallow clone (zero-copy fork + divergence) -----------

  /** k22_shallow_clone — fork a catalog WITHOUT copying a byte of
    * data: the clone's v1 manifest holds the source's rows with
    * `base` resolved to the tree's true OWNER (a clone of a clone
    * still points at the original files — pointer chains never
    * nest), so the clone reads the source's immutable trees in
    * place; its own commits then land under its OWN root and the
    * manifest mixes local and source-owned rows per partition (the
    * Delta SHALLOW CLONE / Iceberg snapshot-ref pattern). The source
    * is never touched — not by the clone's commits (spec pins source
    * bytes across a divergent commit) and not by the clone's expire
    * (only local trees are vacuum candidates). At 100 TB this is
    * what makes a dev/test fork or a what-if reprocessing run FREE:
    * metadata-cardinality to create, delta-proportional to evolve.
    */
  def cloneAt(spark: SparkSession, srcDir: String, dstDir: String,
      atVersion: Int): Unit = {
    val rows = readManifest(spark, srcDir, atVersion)
      .map(r => r.copy(base = Option(r.base).getOrElse(srcDir)))
    // the clone reads under the source version's schema (k24)
    carrySchema(spark, srcDir, atVersion, dstDir, 1)
    writeManifest(spark, dstDir, 1, rows)
  }

  /** The clone's divergent demo changelog, defined over the CURRENT
    * state it reads through its manifest (oracle replays the same
    * arithmetic over the merged CTE): upsert text+" v3" for
    * doc_id ≡ 2 (mod 7) at seq 1, delete doc_id ≡ 1 (mod 13) at
    * seq 2 — confined to en/fr plus the NULL partition, so the
    * clone's 'en' genuinely diverges from a partition the SOURCE
    * also changed.
    */
  private[graft] val CloneLangs: Seq[String] = Seq("en", "fr")

  private[graft] def cloneChangelog(state: DataFrame): DataFrame = {
    val changed = state.filter(PartitionUpsert.langIn(CloneLangs :+ null))
    val upserts = changed
      .filter(pmod(col("doc_id"), lit(7L)) === 2L)
      .select(col("doc_id"), col("lang"), lit(1L).as("seq"),
        lit("upsert").as("op"),
        concat(col("text"), lit(" v3")).as("new_text"))
    val deletes = changed
      .filter(pmod(col("doc_id"), lit(13L)) === 1L)
      .select(col("doc_id"), col("lang"), lit(2L).as("seq"),
        lit("delete").as("op"),
        lit(null).cast("string").as("new_text"))
    upserts.unionByName(deletes)
  }

  /** Stage the clone demo: shallow-clone the SHARED k14 catalog at
    * its v2 (metadata-only), then commit the divergent changelog to
    * the clone — its v2 mixes a local tree (changed partitions) with
    * source-owned rows (the rest).
    */
  private[graft] def stageClone(documents: DataFrame,
      cacheKey: String = ""): (String, String) = {
    val spark = documents.sparkSession
    val srcDir = stageVersions(documents, cacheKey)
    val dstDir = graft.Staging.memo("k22", cacheKey) {
      val dir = graft.Staging.dir("graft_k22_")
      cloneAt(spark, srcDir, dir, 2)
      commitVersion(spark, dir,
        cloneChangelog(readAt(spark, dir, 1)), "c1")
      dir
    }
    (srcDir, dstDir)
  }

  /** k30_retention — the snapshot lifecycle's RECLAIM half exercised
    * through the driver's hash gate: stage the two-commit catalog in
    * its OWN directory, EXPIRE v1 (manifest delete + orphan vacuum of
    * every tree no retained manifest references), then read the
    * retained head back. Registering the post-expire read makes
    * vacuum correctness a CORRECTNESS row, not only a spec: a vacuum
    * that deletes one live file (or a manifest walk that misses a
    * reference and keeps the head pointing at deleted bytes) fails
    * the hash compare against k12's merged-state oracle. The expire
    * itself runs once with the staging (memoized); the registered
    * read prices exactly what a post-retention reader pays. Specs
    * additionally bracket the file-level effects (v1's exclusive
    * trees gone, shared trees byte-identical).
    *
    * Reference analog: the `clean` step (tools.py:677-736) deleting
    * intermediates once the durable result landed — here with a
    * manifest to prove what must survive.
    */
  def retentionSummary(documents: DataFrame,
      cacheKey: String = ""): DataFrame = {
    val spark = documents.sparkSession
    val dir = graft.Staging.memo("k30", cacheKey) {
      val dir = graft.Staging.dir("graft_k30_")
      stageBase(documents, dir)
      commitChanges(documents, dir)
      expire(spark, dir, retainFrom = 2)
      dir
    }
    require(versions(spark, dir) == Seq(2),
      s"expire must leave exactly v2 in $dir")
    PartitionUpsert.summarize(readAt(spark, dir, 2))
      .select(col("lang"), col("n_docs"), col("key_checksum"),
        col("chars_checksum"), col("n_upserted"))
  }

  /** Registered k22 query: source head and clone head side by side —
    * the source must still read EXACTLY k12's post-apply state (no
    * ' v3' anywhere) while the clone reads the divergent merge; the
    * per-suffix counts are the same LIKE predicates both engines
    * evaluate.
    */
  def cloneSummary(documents: DataFrame,
      cacheKey: String = ""): DataFrame = {
    val spark = documents.sparkSession
    val (srcDir, dstDir) = stageClone(documents, cacheKey)
    def side(name: String, df: DataFrame): DataFrame =
      df.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("key_checksum"),
          sum(length(col("text"))).cast("long").as("chars_checksum"),
          sum(when(col("text").like("% v2"), 1L).otherwise(0L))
            .cast("long").as("n_v2"),
          sum(when(col("text").like("% v3"), 1L).otherwise(0L))
            .cast("long").as("n_v3"))
        .withColumn("side", lit(name))
    side("src", readAt(spark, srcDir, 2))
      .unionByName(side("clone", readAt(spark, dstDir, 2)))
      .select(col("side"), col("lang"), col("n_docs"),
        col("key_checksum"), col("chars_checksum"),
        col("n_v2"), col("n_v3"))
  }

  // ---- k24: schema evolution in the commit log --------------------

  /** k24's demo evolution: ALTER TABLE ADD COLUMN quality DOUBLE,
    * landed WITH a normal changelog commit confined to es/zh
    * (disjoint from the v2 changelog's en/de/NULL, so the two
    * commits' effects separate cleanly in the oracle): upsert
    * text+" v4" for doc_id ≡ 5 (mod 6) at seq 1, delete
    * doc_id ≡ 3 (mod 17) at seq 2.
    */
  private[graft] val EvolveLangs: Seq[String] = Seq("es", "zh")

  private[graft] val EvolvedSchema: String =
    PartitionUpsert.treeSchema + ", quality DOUBLE"

  private[graft] def evolveChangelog(state: DataFrame): DataFrame = {
    val changed = state.filter(PartitionUpsert.langIn(EvolveLangs))
    val upserts = changed
      .filter(pmod(col("doc_id"), lit(6L)) === 5L)
      .select(col("doc_id"), col("lang"), lit(1L).as("seq"),
        lit("upsert").as("op"),
        concat(col("text"), lit(" v4")).as("new_text"))
    val deletes = changed
      .filter(pmod(col("doc_id"), lit(17L)) === 3L)
      .select(col("doc_id"), col("lang"), lit(2L).as("seq"),
        lit("delete").as("op"),
        lit(null).cast("string").as("new_text"))
    upserts.unionByName(deletes)
  }

  /** k24_schema_evolution — commit a changelog AND widen the schema
    * in the same version: the merged rows of the affected partitions
    * land WITH the new columns computed, `meta/schema_v{N}` records
    * the widened DDL, and every UNAFFECTED partition keeps serving
    * its old-schema files — readAt(N) surfaces their missing columns
    * as NULL under the version's schema, while readAt(<N) still
    * reads the exact old column set (spec-pinned both ways). This is
    * the Delta/Iceberg rule that schema is COMMIT-LOG state: no
    * backfill rewrite of a 100 TB table just to add a column, no
    * footer-crawl schema inference, and old readers are never
    * broken because old versions' schemas are immutable. Reference
    * analog: none — the reference pipeline re-derives its column
    * layout per tool invocation (tools.py's per-step TSVs), which is
    * exactly the drift this removes.
    */
  private[graft] def commitEvolved(spark: SparkSession, dir: String,
      changes: DataFrame, name: String, ddl: String,
      extra: Seq[(String, org.apache.spark.sql.Column)]): Int = {
    val v = versions(spark, dir).max
    require(schemaAt(spark, dir, v) == PartitionUpsert.treeSchema,
      s"commitEvolved widens the founding column set once; $dir v$v " +
        "is already evolved")
    val latest = PartitionUpsert.latestOps(changes)
    val affected = latest.select(col("lang")).distinct()
      .collect().map(_.getString(0)).toSeq
    val pruned = readAt(spark, dir, v)
      .filter(PartitionUpsert.langIn(affected))
    val widened = extra.foldLeft(
        PartitionUpsert.mergeLatest(pruned, latest)) {
      case (df, (n, c)) => df.withColumn(n, c)
    }
    PartitionUpsert.writeTree(widened, s"$dir/$name")
    val written = commitLangs(spark, s"$dir/$name")
    val prior = readManifest(spark, dir, v)
    writeSchemaFile(spark, dir, v + 1, ddl)
    writeManifest(spark, dir, v + 1,
      written.map(ManifestRow(_, name, null)) ++
        prior.filterNot(r => affected.contains(r.lang)))
    v + 1
  }

  /** Stage the k24 demo: the two-version base catalog, then the
    * evolved v3 (es/zh changelog + quality = round(len/100, 4)
    * computed on the post-merge rows).
    */
  private[graft] def stageEvolved(documents: DataFrame,
      cacheKey: String = ""): String =
    graft.Staging.memo("k24", cacheKey) {
      val spark = documents.sparkSession
      val dir = graft.Staging.dir("graft_k24_")
      stageBase(documents, dir)
      commitChanges(documents, dir)
      commitEvolved(spark, dir,
        evolveChangelog(readAt(spark, dir, 2)), "c3", EvolvedSchema,
        Seq("quality" -> round(length(col("text")) / 100.0, 4)))
      dir
    }

  // ---- k28: change-data-feed (O(delta) version-to-version read) ---

  /** The change feed's output DDL: one row per key whose state
    * differs between the two versions. chars_before/chars_after are
    * the pre-/post-image text lengths with −1 standing for "no row
    * on this side" (a genuine NULL would drift the oracle compare's
    * integer dtype to float) — insert = (−1, len), delete =
    * (len, −1), update = (len, len').
    */
  private[graft] val ChangeFeedSchema =
    "op STRING, doc_id BIGINT, lang STRING, " +
      "chars_before BIGINT, chars_after BIGINT"

  /** k28_change_feed — "what changed between v_from and v_to" as an
    * O(delta) MANIFEST-DRIVEN read: the Delta CDF / Iceberg
    * incremental-read surface. d11 answers the same question by
    * scanning BOTH full snapshots; but the k14 catalog already KNOWS
    * which partitions differ — a version is a set of (lang → tree)
    * pointers, and a partition whose pointer is identical at both
    * versions cannot have changed (trees are immutable), so the diff
    * never opens it. The feed's cost is the CHANGED partitions' two
    * tree scans plus a manifest read — at 100 TB, a 2-of-40-language
    * commit diffs in minutes-of-delta, not hours-of-table (the spec
    * pins the scan set on actual input files: no unchanged
    * partition's file ever enters either side).
    *
    * Mechanics: diff the two manifests by partition value — a lang
    * present on one side only is a whole-partition insert/delete; a
    * lang whose (owner, commit) tree identity changed is scanned on
    * both sides (each under its OWN version's schema — k24) and
    * full-outer joined on the key with the `<=>` lang discipline
    * (k12's NULL-partition lesson). Rows equal on both sides are
    * filtered BEFORE materialization (null-safe text compare), so
    * the feed emits exactly the insert/update/delete set. Row
    * identity is (doc_id, lang); change is detected on the text
    * payload (the catalog's mutable column — latest-wins merges
    * never rewrite `source`).
    *
    * Composition (spec-pinned): a k22 clone's feed scans only the
    * diverged partitions (the pre-image side reads the source's
    * immutable trees IN PLACE — never an unchanged source
    * partition); a k21 restore's feed is the bad commit's feed with
    * insert↔delete swapped and the images transposed — the rollback
    * as one logical delta.
    *
    * Reference analog: the redo-vs-skip state compare
    * (tools.py:28-56) — consume the log to learn what moved, don't
    * rescan outputs.
    */
  def changesBetween(spark: SparkSession, dir: String, vFrom: Int,
      vTo: Int): DataFrame = {
    val vs = versions(spark, dir)
    require(vs.contains(vFrom) && vs.contains(vTo),
      s"changesBetween($vFrom, $vTo): $dir has versions $vs")
    // tree identity = (owning root, commit name): a clone manifest
    // row pointing at its source's tree is the SAME tree as the
    // source's own row for it (k22's no-nesting rule makes this a
    // flat compare, no chain walk)
    def treeId(r: ManifestRow): (String, String) =
      (Option(r.base).getOrElse(dir), r.commit)
    val from = readManifest(spark, dir, vFrom)
    val to = readManifest(spark, dir, vTo)
    val fromBy = from.map(r => Option(r.lang) -> r).toMap
    val toBy = to.map(r => Option(r.lang) -> r).toMap
    // the manifest diff: partitions whose serving tree differs —
    // metadata-cardinality, decided without opening a single file
    val changed = (fromBy.keySet ++ toBy.keySet).filter { k =>
      (fromBy.get(k), toBy.get(k)) match {
        case (Some(a), Some(b)) => treeId(a) != treeId(b)
        case _ => true // present on one side only
      }
    }
    // presence MARKERS, not key-nullness: a row whose KEY is null is
    // still PRESENT on its side — classifying by b_id/t_id nullness
    // would read both images of a keyless row as 'insert' (the
    // hostile NULL-key row caught exactly that; a keyless row cannot
    // be identity-tracked, so its rewrite legitimately feeds as one
    // delete + one insert, which downstream additive consumers
    // net to zero — st25's contract)
    val pre = readManifestRows(spark, dir,
      from.filter(r => changed.contains(Option(r.lang))),
      schemaAt(spark, dir, vFrom))
      .select(col("doc_id").as("b_id"), col("lang").as("b_lang"),
        col("text").as("b_text"), lit(1).as("b_here"))
    val post = readManifestRows(spark, dir,
      to.filter(r => changed.contains(Option(r.lang))),
      schemaAt(spark, dir, vTo))
      .select(col("doc_id").as("t_id"), col("lang").as("t_lang"),
        col("text").as("t_text"), lit(1).as("t_here"))
    pre.join(post,
        col("b_id") === col("t_id") && (col("b_lang") <=> col("t_lang")),
        "full_outer")
      // unchanged rows inside a rewritten partition drop here, before
      // anything materializes — the feed is the true delta, not the
      // rewritten-partition contents
      .filter(col("b_here").isNull || col("t_here").isNull ||
        !(col("b_text") <=> col("t_text")))
      .select(
        when(col("b_here").isNull, lit("insert"))
          .when(col("t_here").isNull, lit("delete"))
          .otherwise(lit("update")).as("op"),
        coalesce(col("b_id"), col("t_id")).as("doc_id"),
        coalesce(col("b_lang"), col("t_lang")).as("lang"),
        when(col("b_here").isNull, lit(-1L))
          .otherwise(coalesce(length(col("b_text")).cast("long"),
            lit(-1L))).as("chars_before"),
        when(col("t_here").isNull, lit(-1L))
          .otherwise(coalesce(length(col("t_text")).cast("long"),
            lit(-1L))).as("chars_after"))
  }

  /** Registered k28 query: the v1→v2 feed of the SHARED k14 catalog
    * — exactly the demo changelog's effect (updates carry the ' v2'
    * post-image, deletes the pre-image only), derived from the
    * manifests + the two changed trees, never a full-table scan. The
    * oracle replays the same delta relationally as the base⋈merged
    * outer-join diff.
    */
  def changeFeed(documents: DataFrame,
      cacheKey: String = ""): DataFrame = {
    val spark = documents.sparkSession
    val dir = stageVersions(documents, cacheKey)
    changesBetween(spark, dir, 1, 2)
  }

  /** Registered k24 query: all three versions under their OWN
    * schemas — v1/v2 genuinely lack the quality column (summarized
    * as typed NULL), v3 carries it exactly on the rewritten es/zh
    * partitions and NULL on every inherited one. The quality
    * checksum is integer (len-valued once de-scaled) so the compare
    * is exact.
    */
  def evolutionSummary(documents: DataFrame,
      cacheKey: String = ""): DataFrame = {
    val spark = documents.sparkSession
    val dir = stageEvolved(documents, cacheKey)
    Seq(1, 2, 3).map { v =>
      val df = readAt(spark, dir, v)
      val q = if (df.columns.contains("quality")) col("quality")
        else lit(null).cast("double")
      df.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("key_checksum"),
          sum(length(col("text"))).cast("long").as("chars_checksum"),
          count(q).as("n_quality"),
          // coalesce: an all-NULL sum must land as 0, not a NULL
          // whose pandas dtype drifts to float on the compare
          coalesce(sum(round(q * 100).cast("long")), lit(0L))
            .cast("long").as("quality_checksum"))
        .withColumn("version", lit(v.toLong))
    }.reduce(_.unionByName(_))
      .select(col("version"), col("lang"), col("n_docs"),
        col("key_checksum"), col("chars_checksum"),
        col("n_quality"), col("quality_checksum"))
  }
}
