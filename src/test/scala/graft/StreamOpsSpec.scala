package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

class StreamOpsSpec extends AnyFunSuite {
  import TestSpark._

  private def sortedRows(rows: Array[Row]): Seq[Seq[Any]] =
    rows.map(_.toSeq.map(String.valueOf)).map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("st01: streaming windowed agg equals the batch aggregation") {
    val stream = StreamOps.streamWindow(spark, sf).collect()
    val batch = Tables.events(spark, sf)
      .groupBy(
        expr("unix_micros(ts) DIV 21600000000").as("bin_id"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .collect()
    assert(stream.nonEmpty)
    assert(sortedRows(stream) === sortedRows(batch))
  }

  test("st02: stateful streaming sessions equal batch q16 exactly") {
    val stream = SparkEntry.queries("st02_stream_session")(spark, sf).collect()
    val batch = SparkEntry.queries("q16_sessionize")(spark, sf).collect()
    assert(stream.nonEmpty)
    assert(sortedRows(stream) === sortedRows(batch))
  }

  test("st03: streaming dedup counts equal batch count-distinct") {
    val stream = StreamOps.streamDedup(spark, sf).collect()
    val batch = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .collect()
    assert(stream.nonEmpty)
    assert(sortedRows(stream) === sortedRows(batch))
  }

  test("st03: dropDuplicatesWithinWatermark bounds state and re-admits post-expiry keys") {
    // The PRODUCTION bounded-state path streamDedup documents: a
    // duplicate arriving while its key is inside the watermark window
    // is dropped, but once the watermark passes the key's expiry
    // (state EVICTED — this is what bounds it) the same key is
    // re-admitted — unlike plain dropDuplicates, whose state and
    // suppression are forever. Three ordered micro-batches:
    //   A: (u1, click) at 10:00:00 + an in-window dup at 10:00:01
    //   B: (u2, click) at 10:30 — advances the watermark past u1's
    //      expiry (10:00:11 under a 10 s delay)
    //   B2: (u3, click) at 10:31 — eviction runs at END of a batch
    //      with the advanced watermark, so this spacer batch is where
    //      u1's state is actually dropped
    //   C: (u1, click) at 11:00 — re-admitted, state was gone
    import java.nio.file.{Files => NF, Paths}
    import java.nio.file.attribute.FileTime
    import spark.implicits._
    val dir = graft.Staging.dir("graft_st03_wm_")
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-03-01 10:00:01")
    val tMid = java.sql.Timestamp.valueOf("2024-03-01 10:30:00")
    val tMid2 = java.sql.Timestamp.valueOf("2024-03-01 10:31:00")
    val t2 = java.sql.Timestamp.valueOf("2024-03-01 11:00:00")
    Seq((1L, "click", t0), (1L, "click", t1))
      .toDF("user_id", "event_type", "ts")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/a")
    Seq((2L, "click", tMid))
      .toDF("user_id", "event_type", "ts")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/b")
    Seq((3L, "click", tMid2))
      .toDF("user_id", "event_type", "ts")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/b2")
    Seq((1L, "click", t2))
      .toDF("user_id", "event_type", "ts")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/c")
    // one staged dir; file mod times force A → B → C batch order
    val stage = graft.Staging.dir("graft_st03_stage_")
    def moveParts(sub: String, age: Long): Unit =
      new java.io.File(s"$dir/$sub").listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          val dest = Paths.get(stage, s"${sub}_${f.getName}")
          NF.copy(f.toPath, dest)
          NF.setLastModifiedTime(dest,
            FileTime.fromMillis(System.currentTimeMillis() - age))
        }
    moveParts("a", 180000L)
    moveParts("b", 120000L)
    moveParts("b2", 60000L)
    moveParts("c", 0L)
    val schema = spark.read.parquet(s"$dir/a").schema
    val deduped = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    val sink = s"st03_wm_${System.nanoTime()}"
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName(sink)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table(sink).collect()
      .map(r => (r.getLong(0), r.getTimestamp(2))).sortBy(_._2.getTime)
    // in-window dup dropped; post-eviction observation re-admitted
    assert(out.toSeq === Seq((1L, t0), (2L, tMid), (3L, tMid2), (1L, t2)))
  }

  test("st04: stream-static enrichment equals the batch join+agg") {
    val stream = StreamOps.streamEnrich(spark, sf).collect()
    val batch = Tables.events(spark, sf)
      .join(Tables.customer(spark, sf).select(col("c_custkey"),
        col("c_mktsegment")), col("user_id") === col("c_custkey"))
      .groupBy(
        expr("unix_micros(ts) DIV 21600000000").as("bin_id"),
        col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * 100, 0).cast("long")) / 100.0)
          .as("sum_value"))
      .collect()
    assert(stream.nonEmpty)
    assert(sortedRows(stream) === sortedRows(batch))
  }

  test("st05: streaming as-of attribution equals batch q25 exactly") {
    val stream = StreamOps.streamAsof(spark, sf).collect()
    val batch = SparkEntry.queries("q25_asof_anchor")(spark, sf).collect()
    assert(stream.nonEmpty)
    assert(sortedRows(stream) === sortedRows(batch))
  }

  test("st07: streaming funnel equals batch q29 exactly") {
    val stream = StreamOps.streamFunnel(spark, sf).collect()
    val batch = SparkEntry.queries("q29_funnel")(spark, sf).collect()
    assert(stream.nonEmpty)
    assert(sortedRows(stream) === sortedRows(batch))
  }

  test("st05: anchor state carries within a user and never leaks across") {
    val out = StreamOps.streamAsof(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("ts_us"),
        Option(r.getAs[java.lang.Long]("anchor_ts_us")).map(_.longValue)))
    // per user: anchor_ts is monotonically non-decreasing in event
    // time, and never exceeds the fact's own timestamp
    out.groupBy(_._1).foreach { case (u, rows) =>
      val inOrder = rows.sortBy(_._2)
      var last = Option.empty[Long]
      inOrder.foreach { case (_, ts, a) =>
        a.foreach { at =>
          assert(at <= ts, s"user $u: anchor from the future")
          assert(last.forall(_ <= at), s"user $u: anchor regressed")
        }
        last = a.orElse(last)
      }
    }
  }

  test("st06: streaming sink round trip equals batch; rerun writes nothing") {
    val key = s"st06spec_${System.nanoTime()}"
    val first = StreamOps.streamSink(spark, sf, cacheKey = key).collect()
    val batch = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("event_id")).cast("long").as("id_checksum"),
        (sum(round(col("value") * 100, 0).cast("long")) / 100.0)
          .as("sum_value"))
      .collect()
    assert(sortedRows(first) === sortedRows(batch))
    // exactly-once resume: same checkpoint, no new input — the rerun
    // must add ZERO files to the tree and return the same summary
    val (out, _) = StreamOps.sinkDirs(key).get
    def parquetFiles(): Seq[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(out))
        .map(_.getPath).filter(_.endsWith(".parquet")).sorted
    }
    val before = parquetFiles()
    val second = StreamOps.streamSink(spark, sf, cacheKey = key).collect()
    assert(sortedRows(second) === sortedRows(first),
      "rerun with the same checkpoint must be a no-op")
    assert(parquetFiles() === before,
      "exactly-once: the rerun must not write or rewrite any file")
  }

  test("st08: streaming online outliers equal batch q32 exactly") {
    val batch = SparkEntry.queries("q32_online_outlier")(spark, sf)
      .collect().map(_.toSeq).toSet
    val stream = SparkEntry.queries("st08_stream_outlier")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(stream === batch)
    assert(batch.nonEmpty, "the corpus must exercise the non-empty path")
  }

  test("q32/st08: prior-moments contract — planted spike flags online only after warm-up") {
    import spark.implicits._
    // 15 quiet events then a spike, then more quiet ones: the spike
    // is flagged (prior n=15 ≥ 10, prior variance tiny); the quiet
    // events after it are NOT (sigma now inflated); the quiet events
    // before it are NOT (zero deviation); nothing before index 10
    // can flag (warm-up).
    val ev = ((1 to 15).map(i => (3L, i.toLong, 1000L + i, 10.0 + (i % 2))) ++
      Seq((3L, 99L, 1100L, 500.0)) ++
      (1 to 5).map(i => (3L, 200L + i, 1200L + i, 10.0)))
      .toDF("user_id", "event_id", "ts_us", "value")
      .select(col("user_id"), col("event_id"),
        expr("timestamp_micros(ts_us)").as("ts"), col("value"))
    val got = graft.operators.Pipeline.onlineOutliers(ev).collect()
      .map(r => (r.getLong(1), r.getLong(3)))
    assert(got.toSeq === Seq((99L, 15L)),
      s"only the spike flags, against 15 priors; got ${got.toSeq}")
  }

  test("st10: streaming hopping windows equal batch q38 exactly") {
    val stream = SparkEntry.queries("st10_stream_sliding")(spark, sf).collect()
    val batch = SparkEntry.queries("q38_sliding_window")(spark, sf).collect()
    assert(stream.nonEmpty)
    assert(sortedRows(stream) === sortedRows(batch))
  }

  test("st09: streaming near-dup equals batch d10 exactly, across micro-batches") {
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = pairs(SparkEntry.queries("d10_dedup_incremental")(spark, sf))
    val stream = pairs(SparkEntry.queries("st09_stream_neardup")(spark, sf))
    assert(stream === batch,
      s"per-micro-batch probes must union to the batch probe: " +
        s"stream ${stream.size} vs batch ${batch.size}")
    assert(batch.nonEmpty, "harness corpus must contain cross-slice dups")
  }

  test("st09: the run is genuinely multi-batch (batching-invariance is exercised)") {
    // The staged arrival slice is written as 4 files and the stream
    // triggers one file per micro-batch — the parquet sink then
    // accumulates one append per non-empty batch. More than one
    // commit proves the equality above spanned real batch boundaries.
    val out = graft.streaming.StreamOps.streamNearDup(spark, sf)
    // each micro-batch owns its b<id> subdirectory — more than one
    // pair-bearing subdir proves the equality above spanned real
    // batch boundaries.
    val root = out.inputFiles.map(f =>
      new java.io.File(new java.net.URI(f)).getParentFile.getParentFile).head
    val batchDirs = root.listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("b"))
      .filter(_.listFiles().exists(_.getName.startsWith("part-")))
    assert(batchDirs.length > 1,
      s"expected pairs from more than one micro-batch: ${batchDirs.toSeq}")
  }

  test("st09: a replayed micro-batch rewrites its directory, never duplicates") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val idx = graft.operators.Dedup.incrementalIndex(
      docs, 250L, 3, 128, 16, cacheKey = "")
    val batch = docs.filter(col("doc_id") >= 250L)
      .select(col("doc_id"), col("text"))
    val out = graft.Staging.dir("graft_st09_retry_")
    graft.streaming.StreamOps.writeBatchPairs(batch, 0L, out, idx, 3, 0.6)
    val first = graft.streaming.StreamOps.readPairs(spark, out).count()
    assert(first > 0, "batch must emit pairs for the retry to be observable")
    // Structured Streaming's failure model: the SAME batch id runs
    // again after a crash mid-write
    graft.streaming.StreamOps.writeBatchPairs(batch, 0L, out, idx, 3, 0.6)
    val second = graft.streaming.StreamOps.readPairs(spark, out).count()
    assert(second === first,
      s"replay must be idempotent: $first rows became $second")
  }

  test("st11: incremental landing manifest equals batch k11 exactly") {
    val batch = SparkEntry.queries("k11_ingest_manifest")(spark, sf)
      .collect().map(_.toSeq).toSet
    val stream = SparkEntry.queries("st11_stream_ingest")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(stream === batch,
      s"partial-fold must classify like the read-back reconcile")
    assert(batch.nonEmpty)
  }

  test("st11: the run is genuinely multi-batch") {
    // The staged chunk slice is 4 files, 2 per trigger: more
    // than one b<id> partial dir proves the fold spanned real batch
    // boundaries.
    val docs = Tables.documents(spark, sf)
    val out = graft.Staging.dir("graft_st11_mb_")
    val src = graft.sources.IngestManifest.deliveredSlice(docs)
      .select(col("doc_id"), col("source"), col("n_chars"))
    // simulate two micro-batches by hand through the same writer the
    // stream uses, then check the fold sums across both
    graft.streaming.StreamOps.writeIngestPartial(
      src.filter(col("doc_id") % 2 === 0), 0L, out)
    graft.streaming.StreamOps.writeIngestPartial(
      src.filter(col("doc_id") % 2 === 1), 1L, out)
    val folded = graft.streaming.StreamOps
      .foldIngestPartials(spark, out)
      .collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_delivered"))
      .toMap
    val direct = src.groupBy("source").count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count"))
      .toMap
    assert(folded === direct,
      "fold across batch dirs must equal the one-shot aggregate")
  }

  test("st11: a replayed micro-batch rewrites its partial, never duplicates") {
    val docs = Tables.documents(spark, sf)
    val src = graft.sources.IngestManifest.deliveredSlice(docs)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val out = graft.Staging.dir("graft_st11_retry_")
    graft.streaming.StreamOps.writeIngestPartial(src, 0L, out)
    val first = graft.streaming.StreamOps.foldIngestPartials(spark, out)
      .agg(sum(col("n_delivered"))).collect()(0).getLong(0)
    graft.streaming.StreamOps.writeIngestPartial(src, 0L, out)
    val second = graft.streaming.StreamOps.foldIngestPartials(spark, out)
      .agg(sum(col("n_delivered"))).collect()(0).getLong(0)
    assert(second === first,
      s"replay must be idempotent: $first rows became $second")
  }

  test("st13: streaming MG fold + exact close equals batch q43 exactly") {
    val batch = SparkEntry.queries("q43_heavy_hitters")(spark, sf)
      .select(col("lang"), col("token"), col("n_occ"))
    val stream = SparkEntry.queries("st13_stream_heavy")(spark, sf)
      .select(col("lang"), col("token"), col("n_occ"))
    assert(stream.count() > 0)
    assert(stream.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(stream).count() === 0)
  }

  test("st13: per-lang state stays bounded at k entries per snapshot") {
    // The state class invariant via its own update path: folding any
    // token stream through the per-batch update keeps <= k entries
    // (MG trims in-place) — a year of stream costs a minute's state.
    val buf = scala.collection.mutable.HashMap.empty[String, Long]
    (0 until 10000).foreach { i =>
      graft.functions.MisraGriesOps.update(buf, s"tok${i % 997}", 64)
      assert(buf.size <= 64)
    }
  }

  test("st15: streamed selection equals the batch scorer's keep set") {
    val docs = Tables.documents(spark, sf)
    val weights = graft.operators.Corpus.importanceWeightRows(docs)
    val batch = graft.operators.Corpus.importanceScore(docs, weights)
      .filter(col("score") > 0).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val stream = SparkEntry.queries("st15_stream_select")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(stream.nonEmpty)
    assert(stream === batch)
  }

  test("st15: a replayed micro-batch rewrites its partial, never dups") {
    import spark.implicits._
    val weights = graft.operators.Corpus
      .importanceWeightRows(Tables.documents(spark, sf))
    val b = Seq((900L, "src0", "alpha beta gamma"))
      .toDF("doc_id", "source", "text")
    val out = graft.Staging.dir("graft_st15_retry_")
    graft.streaming.StreamOps.writeSelectPartial(b, 3L, out, weights)
    graft.streaming.StreamOps.writeSelectPartial(b, 3L, out, weights)
    val folded = spark.read
      .schema("doc_id BIGINT, source STRING, n_toks BIGINT, score BIGINT")
      .option("recursiveFileLookup", "true").parquet(out)
    assert(folded.count() === 1)
  }

  test("st02: session state is bounded to one open session per user") {
    // Structural invariant of the state class: session indices per
    // user are dense 1..n (an unbounded-state bug would skip or dup).
    val rows = SparkEntry.queries("st02_stream_session")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    rows.groupBy(_._1).foreach { case (_, ss) =>
      val idx = ss.map(_._2).sorted.toSeq
      assert(idx === (1L to idx.length).toSeq)
    }
  }

  test("st18: stream-stream join equals the batch interval self-join") {
    val stream = StreamOps.streamStreamJoin(spark, sf).collect()
    val ev = Tables.events(spark, sf)
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id"), Tables.epochUs(col("ts")).as("c_us"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id"), Tables.epochUs(col("ts")).as("p_us"))
    val batch = c.join(p, Seq("user_id"))
      .filter(col("p_us") >= col("c_us") &&
        col("p_us") <= col("c_us") + lit(24L * 3600 * 1000000L))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        (col("p_us") - col("c_us")).as("gap_us"))
      .collect()
    assert(stream.nonEmpty)
    assert(sortedRows(stream) === sortedRows(batch))
  }

  test("st20: streamed delete feed converges to batch k25 exactly") {
    val stream = SparkEntry.queries("st20_stream_deletes")(spark, sf)
      .collect()
    val batch = SparkEntry.queries("k25_delete_files")(spark, sf)
      .collect()
    assert(stream.nonEmpty)
    assert(sortedRows(stream) === sortedRows(batch))
  }

  test("st20: a replayed delete batch rewrites its commit, never doubles") {
    // merge-on-read unions delete commits and deletes are idempotent
    // by semantics; the b<id> overwrite makes the FILES idempotent
    // too — replay the writer by hand (st09's recipe) and assert the
    // read is unchanged
    import graft.sources.DeleteFiles
    val root = graft.Staging.dir("graft_st20_replay_")
    val store = s"$root/store"
    DeleteFiles.stageStoreOnly(Tables.documents(spark, sf), store)
    val keys = DeleteFiles.demoDeleteSets(spark, store).head
      .select(col("doc_id"))
    def writeBatch(): Unit = keys.distinct().coalesce(1)
      .write.mode("overwrite").parquet(s"$store/_deletes/b0")
    writeBatch()
    val once = DeleteFiles.mergeOnRead(spark, store).count()
    writeBatch() // the retry
    assert(DeleteFiles.mergeOnRead(spark, store).count() === once)
    val commits = new java.io.File(s"$store/_deletes")
      .listFiles().count(_.isDirectory)
    assert(commits === 1, "a replayed batch must own ONE commit dir")
  }

  test("st23: timer-driven session ends equal batch q16's boundaries") {
    val stream = StreamOps.streamSessionTimers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val batch = SparkEntry.queries("q16_sessionize")(spark, sf)
      .select(col("user_id"), col("session_end_us")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(stream.nonEmpty)
    assert(stream.toSeq === batch.toSeq,
      "inline + timer emissions must union to exactly the batch ends")
    // both emission edges fired: every user has a final (timer-only)
    // session, and mid-stream gaps exist in this corpus, so the end
    // count must exceed the user count
    val users = stream.map(_._1).distinct.length
    assert(stream.length > users,
      "expected inline (mid-stream) ends beyond the per-user timer end")
  }

  test("st21: streamed constraint gate equals batch k27 exactly") {
    val stream = SparkEntry.queries("st21_stream_constraints")(spark, sf)
      .collect()
    val batch = SparkEntry.queries("k27_write_constraints")(spark, sf)
      .collect()
    assert(stream.nonEmpty)
    assert(sortedRows(stream) === sortedRows(batch))
  }

  test("st22: streamed CAS ingest equals batch m08; blobs stay unique") {
    val stream = SparkEntry.queries("st22_stream_blob_ingest")(spark, sf)
      .collect()
    val batch = SparkEntry.queries("m08_blob_store")(spark, sf)
      .collect()
    assert(stream.nonEmpty)
    assert(sortedRows(stream) === sortedRows(batch))
  }

  test("st22: a replayed ingest batch rewrites; cross-batch CAS holds") {
    import graft.sources.BlobStore
    import spark.implicits._
    val root = graft.Staging.dir("graft_st22_replay_") + "/cas"
    val b0 = Seq((1L, "web", "shared"), (2L, "web", "only-b0"))
      .toDF("doc_id", "source", "text")
    val b1 = Seq((3L, "forum", "shared"), (4L, "forum", "only-b1"))
      .toDF("doc_id", "source", "text")
    BlobStore.ingestBatch(b0, root, 0L)
    BlobStore.ingestBatch(b1, root, 1L)
    val blobs = BlobStore.readBlobs(spark, root)
    // cross-batch CAS: "shared" landed once (in b0), never in b1
    assert(blobs.count() === 3L)
    assert(blobs.count() === blobs.select("digest").distinct().count())
    // replay batch 1: rewrites its own dirs, store unchanged
    BlobStore.ingestBatch(b1, root, 1L)
    val after = BlobStore.readBlobs(spark, root)
    assert(after.count() === 3L)
    assert(after.select("digest").distinct().count() === 3L)
    // and every doc still reconstructs
    val got = BlobStore.fetch(spark, root, Seq(1L, 2L, 3L, 4L).toDF("doc_id"))
      .collect().map(r => (r.getLong(0),
        new String(r.getAs[Array[Byte]](1), "UTF-8"))).sortBy(_._1)
    assert(got.toSeq === Seq((1L, "shared"), (2L, "only-b0"),
      (3L, "shared"), (4L, "only-b1")))
  }

  test("st19: outer stream-stream join equals the batch LEFT JOIN") {
    val stream = StreamOps.streamStreamOuterJoin(spark, sf).collect()
    val ev = Tables.events(spark, sf)
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id"), Tables.epochUs(col("ts")).as("c_us"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), Tables.epochUs(col("ts")).as("p_us"))
    val batch = c.join(p,
        col("user_id") === col("p_user") &&
          col("p_us") >= col("c_us") &&
          col("p_us") <= col("c_us") + lit(24L * 3600 * 1000000L),
        "left_outer")
      .select(col("click_id"), col("user_id"), col("purchase_id"),
        (col("p_us") - col("c_us")).as("gap_us"))
      .collect()
    assert(stream.nonEmpty)
    assert(sortedRows(stream) === sortedRows(batch))
    // the null rows are the operator's whole point: some clicks
    // must NOT have converted, or the outer mode wasn't exercised
    assert(stream.exists(_.isNullAt(2)),
      "expected at least one unconverted click (null purchase_id)")
  }

  test("st19: matched subset is exactly st18's pairs") {
    val outer = StreamOps.streamStreamOuterJoin(spark, sf).collect()
      .filter(!_.isNullAt(2))
      .map(r => (r.getLong(2), r.getLong(0), r.getLong(1), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    val inner = StreamOps.streamStreamJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    assert(outer.toSeq === inner.toSeq,
      "outer's matched rows must be bit-equal to the inner join")
  }

  test("st18: matches span micro-batch boundaries — join state carries") {
    // arrivals are staged as 4 event-time slices consumed 2 per
    // trigger, so the second trigger's purchases must still match
    // clicks that arrived (and were put in join state) a trigger
    // earlier: at least one emitted pair must straddle the midpoint
    // slice boundary, or the join forgot its state
    val ev = Tables.events(spark, sf)
    val Array(lo, hi) = ev
      .agg(min(Tables.epochUs(col("ts"))), max(Tables.epochUs(col("ts"))))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = lo + (hi - lo + 1) / 2
    val ts = ev.select(col("event_id"), Tables.epochUs(col("ts")).as("us"))
    val pairs = StreamOps.streamStreamJoin(spark, sf)
      .join(ts.withColumnRenamed("us", "c_us")
        .withColumnRenamed("event_id", "click_id"), Seq("click_id"))
      .join(ts.withColumnRenamed("us", "p_us")
        .withColumnRenamed("event_id", "purchase_id"), Seq("purchase_id"))
    val straddling = pairs
      .filter(col("c_us") < mid && col("p_us") >= mid).count()
    assert(straddling > 0,
      "no pair straddles the half-way arrival boundary — " +
        "cross-micro-batch join state was not exercised")
  }

  /** Numbered state partition dirs under each of `root`'s stateful
    * query checkpoints whose name starts with `prefix`.
    */
  private def statePartitionDirs(root: String, prefix: String): Seq[Int] =
    new java.io.File(root).listFiles().toSeq
      .filter(_.getName.startsWith(prefix))
      .map(q => new java.io.File(q, "state/0").listFiles()
        .count(p => p.isDirectory && p.getName.forall(_.isDigit)))

  test("st02/st18: a default run commits min(8, cores) state partitions") {
    // Every micro-batch commits every state store, so an unset count
    // resolves to the session's cores capped at 8; the session-wide
    // checkpoint location makes each query's state dirs countable.
    val key = "spark.sql.streaming.checkpointLocation"
    val root = graft.Staging.dir("graft_statepart_")
    spark.conf.set(key, root)
    try {
      assert(StreamOps.streamSessions(spark, sf).count() > 0)
      assert(StreamOps.streamStreamJoin(spark, sf).count() > 0)
    } finally spark.conf.unset(key)
    val want = math.min(8, spark.sparkContext.defaultParallelism)
    assert(statePartitionDirs(root, "st02_mem_") === Seq(want))
    assert(statePartitionDirs(root, "st18_mem_") === Seq(want))
  }

  test("st02/st18: rows do not depend on the state partition count") {
    val counts = Seq(Some(1), None, Some(8))
    def rowsAt(run: Option[Int] => Array[Row]): Seq[Seq[Seq[Any]]] =
      counts.map(n => sortedRows(run(n)))
    val st02 = rowsAt(n =>
      StreamOps.streamSessions(spark, sf, statePartitions = n).collect())
    val st18 = rowsAt(n =>
      StreamOps.streamStreamJoin(spark, sf, statePartitions = n).collect())
    for ((name, rows) <- Seq("st02" -> st02, "st18" -> st18)) {
      assert(rows.head.nonEmpty, name)
      counts.zip(rows).tail.foreach { case (n, r) =>
        assert(r === rows.head, s"$name at statePartitions = $n")
      }
    }
  }
}
