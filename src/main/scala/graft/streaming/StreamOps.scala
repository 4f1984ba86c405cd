package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming operators st01–st02 over the `events` table.
  *
  * The reference pipeline is incremental: samples land and are
  * processed as they arrive (/root/reference/mainScript.py:345-363
  * fans out work per arriving sample). The Spark-native replacement
  * is a file-source stream: new parquet files under a directory are
  * discovered per micro-batch and flow through the same declarative
  * aggregations as the batch operators — st01 must equal q10-shaped
  * batch output, st02 must equal q16 exactly, which is what the
  * driver's oracle checks.
  *
  * Harness note: to make a FINITE stream comparable to batch, st01
  * runs `Trigger.AvailableNow` in complete mode (every window emitted
  * at end-of-stream; watermark-based state eviction is what a
  * production 24/7 job would enable in append mode), and st02 appends
  * a far-future SENTINEL event so the watermark passes every real
  * session and the no-data final micro-batch flushes all session
  * state through the event-time timeout.
  */
object StreamOps {

  /** Finite-harness trigger sizing: arrivals are staged as 4 files
    * and consumed 2 per trigger — still a MULTI-batch run (the
    * batching-invariance specs need >1 micro-batch doing work, and
    * they get 2), but half the AvailableNow floor: each micro-batch
    * pays fixed offset-log + job-scheduling + state-commit cost
    * regardless of its size, and at the bench SF that fixed cost WAS
    * most of the streaming family's runtime (the round-12 close
    * bench read ~38 s of 121 in st queries). Per-batch work is
    * spread() to session parallelism either way, so batch size does
    * not serialize; a production deployment sizes triggers by the
    * same logic — fewer, fuller micro-batches amortize the engine's
    * per-batch floor.
    *
    * Measured at sf0.1 (r15, BASELINE.md "Streaming harness FLOOR"):
    * st18/st19 at 1 / 2 / 8 files per trigger read 16.10 / 3.85 /
    * 3.60 s and 7.25 / 4.83 / 2.84 s, so the 2-file harness pays
    * +0.25 s / +2.0 s of per-trigger cost to stay multi-batch.
    */
  private val HarnessFilesPerTrigger = 2

  /** Read only by perfbench's Main, which refuses to run when set. */
  val HarnessFilesPerTriggerOverridden: Boolean =
    sys.env.contains("GRAFT_HARNESS_FILES_PER_TRIGGER")

  /** Event after timestamp normalization (epoch micros). */
  final case class Ev(user_id: Long, event_id: Long, ts_us: Long, value: Double)

  /** Per-user session state: next session ordinal + the open session's
    * running aggregate. Bounded: one open session per key, ever.
    */
  final case class OpenSession(nextIdx: Long, startUs: Long, endUs: Long,
      n: Long, sum: Double)

  final case class SessionOut(user_id: Long, session_idx: Long,
      n_events: Long, session_start_us: Long, session_end_us: Long,
      sum_value: Double)

  /** Typed event for the streaming as-of join (st05). */
  final case class EvA(user_id: Long, event_id: Long, ts_us: Long,
      event_type: String)

  final case class AsofRow(event_id: Long, user_id: Long,
      event_type: String, ts_us: Long, anchor_ts_us: Option[Long],
      gap_us: Option[Long])

  /** Typed event + per-user depth row for the streaming funnel
    * (st07).
    */
  final case class EvF(user_id: Long, ts_us: Long, event_type: String)

  final case class FunnelDepth(user_id: Long, step_reached: Long)

  /** Stage `$dir/events.parquet` (a single file) into a temp DIRECTORY
    * and open it as a file-source stream — Spark's FileStreamSource
    * monitors directories, not files. Staging goes through
    * `Tables.events`, so `ts` is already normalized to TimestampType
    * micros (the raw files carry TIMESTAMP(NANOS)). In production the
    * source is simply the landing directory new files arrive in and no
    * staging exists — so the stage is memoized per input dir and a
    * repeat run (bench warmup vs timed pass) reads the existing copy
    * instead of re-writing it.
    */
  private val stagedEvents =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private val stagedSessions =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def eventStream(spark: SparkSession, dir: String): DataFrame = {
    val batch = graft.Tables.events(spark, dir)
    val stage = stagedEvents.getOrElseUpdate(dir, {
      val s = graft.Staging.dir("graft_st01_")
      batch.write.mode("overwrite").parquet(s)
      s
    })
    spark.readStream.schema(batch.schema).parquet(stage)
  }

  /** st01_stream_window — tumbling-window count/sum per event type,
    * streaming edition of q10's binned coverage. File source →
    * event-time window agg → AvailableNow. The aggregation state is
    * bounded by (#windows × #types); in a 24/7 deployment the same
    * plan runs in append mode and the watermark evicts closed windows.
    */
  def streamWindow(spark: SparkSession, dir: String,
      windowSeconds: Long = 21600L, statePartitions: Int = 8): DataFrame = {
    runSizedStream(spark, s => eventStream(s, dir)
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), s"$windowSeconds seconds"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value")),
      "st01_mem", OutputMode.Complete(), statePartitions).select(
      expr(s"unix_micros(window.start) DIV ${windowSeconds * 1000000L}")
        .as("bin_id"),
      col("event_type"), col("n_events"), col("sum_value"))
  }

  /** st10_stream_sliding — q38's HOPPING windows as a stream: the
    * live deployment of the monitoring shape (a 2 h average advancing
    * every 30 min, updated as events arrive). Identical semantics to
    * the batch operator — Spark's `window(ts, w, s)` places each
    * event in k = w/s windows on the stream exactly as in batch, so
    * the finite-harness run must equal q38 row for row (spec-pinned;
    * shares q38's oracle).
    *
    * State: (#open windows × #types) rows — k× the tumbling st01
    * state, still bounded by the time range, and in a 24/7 append
    * deployment the watermark closes a hopping window exactly like a
    * tumbling one (the k overlapping windows close staggered, each
    * when the watermark passes ITS end). Integer-cents sums, q38's
    * determinism argument.
    */
  def streamSliding(spark: SparkSession, dir: String,
      windowSeconds: Long = graft.operators.Pipeline.SlidingWindowSeconds,
      slideSeconds: Long = graft.operators.Pipeline.SlidingSlideSeconds,
      statePartitions: Int = 8): DataFrame = {
    runSizedStream(spark, s => eventStream(s, dir)
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), s"$windowSeconds seconds",
        s"$slideSeconds seconds").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100, 0).cast("long")).as("value_cents")),
      "st10_mem", OutputMode.Complete(), statePartitions).select(
      unix_micros(col("w.start")).as("ws_us"),
      col("event_type"), col("n_events"), col("value_cents"))
  }

  /** st04_stream_enrich — stream-static enrichment: the event stream
    * joined to a STATIC dimension (customer market segment) before a
    * windowed aggregation — the reference's per-sample metadata
    * lookup (every arriving sample is processed with its registered
    * sample-sheet row, /root/reference/mainScript.py:345-363) in
    * streaming form.
    *
    * The dimension is a batch DataFrame inside a streaming plan:
    * Spark plans a stream-static join where the static side is
    * broadcast and probed per micro-batch — NO streaming state for
    * the join at all (state exists only in the downstream window
    * agg), and no shuffle of the stream on the join key. That is the
    * 100 TB/day shape: a billion-event stream enriched against a
    * dimension table costs one broadcast per batch, never a
    * stream-stream state store. Sums are exact integer cents
    * (values are 2-decimal), so the oracle is hash-exact.
    */
  def streamEnrich(spark: SparkSession, dir: String,
      windowSeconds: Long = 21600L, statePartitions: Int = 8): DataFrame = {
    runSizedStream(spark, { s =>
      val dim = broadcast(graft.Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment")))
      eventStream(s, dir)
        .join(dim, col("user_id") === col("c_custkey"))
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), s"$windowSeconds seconds"),
          col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          (sum(round(col("value") * 100, 0).cast("long")) / 100.0)
            .as("sum_value"))
    }, "st04_mem", OutputMode.Complete(), statePartitions).select(
      expr(s"unix_micros(window.start) DIV ${windowSeconds * 1000000L}")
        .as("bin_id"),
      col("c_mktsegment"), col("n_events"), col("sum_value"))
  }

  /** st05_stream_asof — the as-of join (q25) as a STREAMING stateful
    * operator: per user, carry the most recent anchor-event timestamp
    * in `GroupState` and attribute every arriving fact event to it —
    * attribution-at-ingest, so downstream consumers never re-join.
    * State is ONE long per user ever seen (the last anchor ts) —
    * bounded by |users|, not |events|; in a 24/7 deployment an idle
    * user's state would be aged out with a processing-time timeout.
    *
    * Within a micro-batch, events sort by (ts, anchor-first,
    * event_id) — the same inclusive tie rule as batch q25 (an anchor
    * at t covers a fact at t). Across batches the carried state IS
    * the as-of contract for in-order arrival; a LATE anchor (arriving
    * after facts it should have covered) cannot retroactively re-emit
    * those facts — the documented streaming-vs-batch divergence every
    * attribution system has, eliminated here by the AvailableNow
    * single-batch harness, which makes st05 ≡ q25 bit-for-bit (they
    * share the oracle).
    */
  def streamAsof(spark: SparkSession, dir: String,
      anchorType: String = "signup", statePartitions: Int = 8): DataFrame = {
    import spark.implicits._
    runSizedStream(spark, { s =>
    val src = eventStream(s, dir)
      .select(col("user_id"), col("event_id"),
        graft.Tables.epochUs(col("ts")).as("ts_us"), col("event_type"))
      .as[EvA]
    val attributed = src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, events: Iterator[EvA], state: GroupState[Long]) =>
          // SQL three-valued logic parity: a NULL event_type is
          // neither the anchor type nor `<> anchorType` — batch q25
          // and the oracle both drop such rows, so the streaming
          // attributor must too (Scala's null != "x" would otherwise
          // smuggle them in as facts — caught by the hostile gate).
          val sorted = events.toVector.filter(_.event_type != null).sortBy(e =>
            (e.ts_us, if (e.event_type == anchorType) 0 else 1, e.event_id))
          var anchor: Option[Long] = state.getOption
          val out = Vector.newBuilder[AsofRow]
          sorted.foreach { e =>
            if (e.event_type == anchorType) anchor = Some(e.ts_us)
            else out += AsofRow(e.event_id, uid, e.event_type, e.ts_us,
              anchor, anchor.map(a => e.ts_us - a))
          }
          anchor.foreach(state.update)
          out.result().iterator
      }
    attributed.toDF()
    }, "st05_mem", OutputMode.Append(), statePartitions)
  }

  /** st07_stream_funnel — q29's conversion funnel as a STATEFUL
    * stream: per-user `GroupState` carries one timestamp per step
    * (steps.length longs — bounded state, like st05's single
    * anchor). Each micro-batch processes its user's events in
    * event-time order and fills steps greedily: step k takes the
    * first step-k event strictly after t_{k-1} within the window of
    * t1 — on ts-sorted input the first qualifying event IS the
    * conditional min, so batch parity is exact. Depth is MONOTONE
    * non-decreasing, so Append mode with one depth row per (user,
    * batch) is safe: the summary takes each user's MAX emitted depth
    * before counting — bit-equal to q29 on the finite harness, and
    * the same late-data caveat as st05 (an event-time watermark
    * bounds out-of-order arrivals in production; the harness's
    * single AvailableNow batch sees everything in order).
    */
  def streamFunnel(spark: SparkSession, dir: String,
      steps: Seq[String] = Seq("signup", "view", "click", "purchase"),
      windowUs: Long = 7L * 24 * 3600 * 1000000L,
      statePartitions: Int = 8): DataFrame = {
    import spark.implicits._
    val UNSET = Long.MinValue
    val nSteps = steps.length
    val table = runSizedStream(spark, { s =>
    val src = eventStream(s, dir)
      .select(col("user_id"),
        graft.Tables.epochUs(col("ts")).as("ts_us"), col("event_type"))
      .as[EvF]
    src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, events: Iterator[EvF], state: GroupState[Array[Long]]) =>
          val ts = state.getOption.getOrElse(Array.fill(nSteps)(UNSET))
          events.toVector.filter(_.event_type != null)
            .sortBy(_.ts_us).foreach { e =>
              val k = steps.indexOf(e.event_type)
              if (k == 0) {
                if (ts(0) == UNSET) ts(0) = e.ts_us
              } else if (k > 0 && ts(k) == UNSET && ts(k - 1) != UNSET &&
                e.ts_us > ts(k - 1) && e.ts_us <= ts(0) + windowUs) {
                ts(k) = e.ts_us
              }
            }
          state.update(ts)
          val depth = ts.indexWhere(_ == UNSET) match {
            case -1 => nSteps
            case d => d
          }
          if (depth == 0) Iterator.empty
          else Iterator.single(FunnelDepth(uid, depth.toLong))
      }.toDF()
    }, "st07_mem", OutputMode.Append(), statePartitions)
    val names = steps.zipWithIndex.foldLeft(lit(steps.head)) {
      case (els, (s, i)) => when(col("step_reached") === i + 1, lit(s))
        .otherwise(els)
    }
    table
      .groupBy(col("user_id"))
      .agg(max(col("step_reached")).as("step_reached"))
      .groupBy(col("step_reached"))
      .agg(count(lit(1)).as("n_users"))
      .withColumn("step_name", names)
      .select(col("step_reached"), col("step_name"), col("n_users"))
  }

  /** Typed event + flagged-outlier row for st08. */
  final case class EvO(user_id: Long, event_id: Long, ts_us: Long,
      cents: Long)

  final case class OutlierFlag(user_id: Long, event_id: Long,
      cents: Long, n_prior: Long)

  /** st08_stream_outlier — ONLINE anomaly detection as a stateful
    * stream: per user the state is exactly three longs (count, sum,
    * sum of squares of cents); each arriving event is tested against
    * the state BEFORE being folded in — the same prior-moments
    * contract as q32, which shares its oracle. The z²>9 test is the
    * exact integer cross-product (BigInt here — the state longs are
    * exact, the products exceed int64 at scale), so stream and batch
    * agree bit-for-bit on the finite harness, and the state size is
    * O(users)·24 bytes — the smallest state of any stateful operator
    * here. Same late-data caveat as st05/st07: the harness's single
    * AvailableNow batch sees event order exactly; a 24/7 deployment
    * bounds reordering with a watermark.
    */
  def streamOutliers(spark: SparkSession, dir: String,
      minPrior: Long = 10L, statePartitions: Int = 8): DataFrame = {
    import spark.implicits._
    runSizedStream(spark, { s =>
    val src = eventStream(s, dir)
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("event_id"),
        graft.Tables.epochUs(col("ts")).as("ts_us"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .as[EvO]
    src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, events: Iterator[EvO],
            state: GroupState[(Long, Long, BigInt)]) =>
          // Q is BigInt in the state: plain Scala longs wrap SILENTLY
          // where the batch engines fail loud, and Σc² passes 2^63
          // near 10^9 events per user (q31's overflow note)
          var (n, s, q) = state.getOption.getOrElse((0L, 0L, BigInt(0)))
          val out = Vector.newBuilder[OutlierFlag]
          events.toVector.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            val c = e.cents
            if (n >= minPrior) {
              val d = BigInt(n) * c - s
              val lhs = d * d * (n - 1)
              val rhs = BigInt(9) * n * (BigInt(n) * q - BigInt(s) * s)
              if (lhs > rhs) out += OutlierFlag(uid, e.event_id, c, n)
            }
            n += 1L; s += c; q += BigInt(c) * c
          }
          state.update((n, s, q))
          out.result().iterator
      }.toDF()
    }, "st08_mem", OutputMode.Append(), statePartitions)
      .select(col("user_id"), col("event_id"), col("cents"),
        col("n_prior"))
  }

  /** st06_stream_sink — the streaming DURABLE sink: events stream →
    * partitioned parquet tree with a checkpoint, the landing-zone
    * writer a 24/7 ingest runs (the reference's per-sample durable
    * move, /root/reference/tools.py:677, as a continuous process).
    * Exactly-once comes from the file sink's transaction log
    * (`_spark_metadata`): a batch's files count only once it commits,
    * and a RESTART with the same checkpoint reprocesses nothing — the
    * memoized (output, checkpoint) pair means repeat calls re-open
    * the stream, discover zero new files, write nothing, and the
    * read-back still equals the batch aggregate (spec asserts the
    * file count is STABLE across reruns — the exactly-once proof,
    * q22's resume contract in streaming form).
    *
    * Returned summary reads the tree back through the sink's own
    * metadata log — what a downstream consumer would see.
    */
  private val stagedSink =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** Spec access: (outputDir, checkpointDir) for a memoized sink. */
  private[graft] def sinkDirs(cacheKey: String): Option[(String, String)] =
    stagedSink.get(cacheKey)

  def streamSink(spark: SparkSession, dir: String,
      cacheKey: String = ""): DataFrame = {
    def fresh(): (String, String) = {
      val base = graft.Staging.dir("graft_st06_")
      (s"$base/out", s"$base/chk")
    }
    val (out, chk) =
      if (cacheKey.isEmpty) fresh()
      else stagedSink.getOrElseUpdate(cacheKey, fresh())
    val q = eventStream(spark, dir)
      .select(col("event_id"), col("event_type"), col("user_id"),
        col("value"))
      .writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", chk)
      .partitionBy("event_type")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("event_id")).cast("long").as("id_checksum"),
        (sum(round(col("value") * 100, 0).cast("long")) / 100.0)
          .as("sum_value"))
  }

  /** st03_stream_dedup — streaming ingest deduplication, the
    * streaming edition of d01: drop repeat (user_id, event_type)
    * observations as they arrive, so downstream stages see each key
    * once. Uses `dropDuplicates` (keyed state, one entry per distinct
    * key); a 24/7 deployment bounds that state with
    * `dropDuplicatesWithinWatermark`, which this finite-stream
    * harness can't use — AvailableNow advances the watermark between
    * micro-batches, so late duplicates of an evicted key would
    * resurface and the result would depend on file order.
    *
    * WHICH representative row survives depends on arrival order, so
    * the deterministic (oracle-checked) output is the post-dedup
    * per-type key count — equal to batch count(DISTINCT user_id) —
    * not the representative rows themselves.
    */
  def streamDedup(spark: SparkSession, dir: String,
      statePartitions: Int = 8): DataFrame =
    runSizedStream(spark, s => eventStream(s, dir)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type"),
      "st03_mem", OutputMode.Append(), statePartitions)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"))

  /** Gap-session logic shared with the q16 batch oracle: fold the
    * user's events (sorted by ts_us, event_id) into gap-delimited
    * sessions, emitting every CLOSED session immediately and keeping
    * the single open tail in state with an event-time timeout at
    * (end + gap); the timeout fires once the watermark passes, which
    * is when a session can no longer be extended.
    */
  private def sessionFn(gapUs: Long)(
      userId: Long, events: Iterator[Ev],
      state: GroupState[OpenSession]): Iterator[SessionOut] = {
    // HALF_UP to match Spark's round() (q16) and the DuckDB oracle.
    def emit(s: OpenSession): SessionOut =
      SessionOut(userId, s.nextIdx, s.n, s.startUs, s.endUs,
        BigDecimal(s.sum).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
    if (state.hasTimedOut) {
      val out = state.getOption.map(emit).iterator
      state.remove()
      out
    } else {
      // Late-data contract: flatMapGroupsWithState does NOT drop rows
      // behind the watermark automatically — an out-of-order file
      // discovered in a later micro-batch could otherwise splice
      // events into (or before) an already-emitted session. Rows
      // STRICTLY behind the watermark are dropped here, matching
      // Spark's own late-data rule (aggregations keep rows with
      // event time == watermark): a multi-batch discovery where an
      // event ties the prior batch's max event time must not lose it,
      // or the bit-for-bit q16 equality breaks. GroupState reports
      // "watermark not yet set" as 0, and 0 also can't drop anything
      // under >=, so pre-epoch events pass through either way.
      // Within the allowed region, an event older than the open
      // session's end still extends it (endUs is a max, the count/sum
      // are order-independent).
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val sorted = events.toVector
        .filter(e => wmUs == 0L || e.ts_us >= wmUs)
        .sortBy(e => (e.ts_us, e.event_id))
      var open = state.getOption
      val closed = Vector.newBuilder[SessionOut]
      sorted.foreach { e =>
        open match {
          case Some(s) if e.ts_us - s.endUs <= gapUs =>
            open = Some(s.copy(endUs = math.max(s.endUs, e.ts_us),
              n = s.n + 1, sum = s.sum + e.value))
          case Some(s) =>
            closed += emit(s)
            open = Some(OpenSession(s.nextIdx + 1, e.ts_us, e.ts_us, 1, e.value))
          case None =>
            open = Some(OpenSession(1L, e.ts_us, e.ts_us, 1, e.value))
        }
      }
      open.foreach { s =>
        state.update(s)
        // never earlier than the current watermark (Spark rejects that)
        state.setTimeoutTimestamp(math.max(
          s.endUs / 1000L + gapUs / 1000L + 1L,
          state.getCurrentWatermarkMs() + 1L))
      }
      closed.result().iterator
    }
  }

  /** st02_stream_session — stateful gap sessionization with
    * flatMapGroupsWithState (event-time timeout), streaming edition
    * of q16 with identical output. The sentinel event (user −1, far
    * future) only exists to close the finite test stream: it pushes
    * the watermark past every real session so the final no-data
    * micro-batch fires all timeouts. State is one OpenSession per
    * active user — O(active users), not O(events).
    */
  def streamSessions(spark: SparkSession, dir: String,
      gapSeconds: Long = 1800L, statePartitions: Int = 8): DataFrame = {
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L

    // Stage the finite input: the real events plus one sentinel row
    // (memoized per input dir, like eventStream's stage).
    // coalesce(value): the typed Ev encoder can't carry a null Double,
    // and summing 0 for a null value matches batch q16 (whose sum()
    // skips nulls).
    val batch = graft.Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        graft.Tables.epochUs(col("ts")).as("ts_us"),
        coalesce(col("value"), lit(0.0d)).as("value"))
    val stage = stagedSessions.getOrElseUpdate(dir, {
      val s = graft.Staging.dir("graft_st02_")
      batch.write.mode("overwrite").parquet(s)
      // max() is null on an empty events table — a legitimately empty
      // shard then needs no sentinel (there is no state to flush).
      val horizonRow = batch.agg(max(col("ts_us"))).head
      if (!horizonRow.isNullAt(0)) {
        val horizon = horizonRow.getLong(0)
        Seq((-1L, -1L, horizon + 365L * 86400L * 1000000L, 0.0))
          .toDF("user_id", "event_id", "ts_us", "value")
          .write.mode("append").parquet(s)
      }
      s
    })

    runSizedStream(spark, s => s.readStream
      .schema(batch.schema)
      .parquet(stage)
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "0 seconds")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(sessionFn(gapUs))
      .toDF(),
      "st02_mem", OutputMode.Append(), statePartitions)
      .filter(col("user_id") >= 0) // drop the sentinel's own session
      .select(col("user_id"), col("session_idx"), col("n_events"),
        col("session_start_us"), col("session_end_us"), col("sum_value"))
  }

  private val stagedArrivals =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** st09_stream_neardup — streaming FUZZY dedup, the near-dup layer
    * st03's exact `dropDuplicates` misses: each micro-batch of
    * arriving documents probes d10's build-once bucketed shingle
    * index (via foreachBatch, the stream-side idiom for joins against
    * a maintained index artifact) and emits which existing corpus
    * document each arrival duplicates at Jaccard ≥ tau.
    *
    * Correctness rides d10's batching-invariance: an arrival's pairs
    * depend only on that document and the STATIC index, so splitting
    * arrivals across micro-batches cannot change the union of
    * results — st09 ≡ d10 row for row on the harness (spec-pinned,
    * and it shares d10's DuckDB oracle).
    *
    * Scale: the index is the memoized bucketed table — per
    * micro-batch cost is the batch's postings shuffled against an
    * index that joins IN PLACE (zero index-side exchange, d10's
    * spec), state held by the streaming engine is just file-source
    * progress (no keyed state at all — the index IS the state,
    * durable and shared). A 24/7 deployment compacts newly-accepted
    * arrivals into the index on whatever cadence the corpus grows;
    * the probe path is unchanged.
    *
    * Exactly-once: a plain append would DUPLICATE a micro-batch's
    * pairs if the engine retried it after a partial write (batch
    * replay is Structured Streaming's failure model) — so each batch
    * OVERWRITES its own deterministic subdirectory `b<batchId>`, the
    * standard foreachBatch idempotence recipe: a replayed batch
    * rewrites the same dir and the union over subdirs is exactly one
    * result per batch (retry spec-pinned; st06's transaction-log
    * contract, achieved here with batch-id directories because
    * foreachBatch writes outside the sink log).
    *
    * Harness: arrivals staged as multiple files, consumed
    * HarnessFilesPerTrigger per trigger — still a multi-batch run
    * (spec asserts > 1 micro-batch did work); results read back with
    * an explicit schema (an all-unique stream legitimately emits no
    * pairs).
    */
  def streamNearDup(spark: SparkSession, dir: String,
      splitId: Long = 250L, n: Int = 3, tau: Double = 0.6): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val idx = graft.operators.Dedup.incrementalIndex(
      docs, splitId, n, maxDf = 128, buckets = 16, cacheKey = dir)
    val stage = stagedArrivals.getOrElseUpdate(dir, {
      val s = graft.Staging.dir("graft_st09_")
      docs.filter(col("doc_id") >= splitId)
        .select(col("doc_id"), col("text"))
        .repartition(4)
        .write.mode("overwrite").parquet(s)
      s
    })
    val out = graft.Staging.dir("graft_st09_out_")
    val src = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", HarnessFilesPerTrigger)
      .parquet(stage)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        writeBatchPairs(batch, id, out, idx, n, tau)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    readPairs(spark, out)
  }

  /** st11_stream_ingest — k11's landing reconciliation as a LIVE
    * view: fetch chunks stream in as they land (the reference's
    * `download_GEO` drops arriving one archive at a time,
    * /root/reference/parserTools.py:247) and the delivered manifest
    * is maintained incrementally, so "which sources are complete?"
    * is answerable DURING the drop, not after a full-tree rescan.
    *
    * Per micro-batch: one map-side partial aggregation of the
    * batch's rows to (source, n, key, bytes) — source-cardinality
    * output, written idempotently to the batch's own `b<batchId>`
    * dir (st09's overwrite recipe: a replayed batch rewrites, never
    * duplicates — retry spec-pinned). The landed partials ARE the
    * state: no keyed streaming state at all, and the final manifest
    * is a second-stage fold over batches × sources rows — metadata
    * scale. Batching invariance is arithmetic: sums are associative,
    * so ANY split of the arrivals across micro-batches folds to the
    * same totals, and st11 ≡ k11 row for row (spec-pinned; shares
    * k11's DuckDB oracle).
    */
  private val stagedDropChunks =
    scala.collection.concurrent.TrieMap.empty[String, String]

  def streamIngest(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val stage = stagedDropChunks.getOrElseUpdate(dir, {
      val s = graft.Staging.dir("graft_st11_")
      graft.sources.IngestManifest.deliveredSlice(docs)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .repartition(4)
        .write.mode("overwrite").parquet(s)
      s
    })
    val out = graft.Staging.dir("graft_st11_out_")
    val src = spark.readStream
      .schema("doc_id BIGINT, source STRING, n_chars BIGINT")
      .option("maxFilesPerTrigger", HarnessFilesPerTrigger)
      .parquet(stage)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        writeIngestPartial(batch, id, out)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.sources.IngestManifest
      .reconcileAgainst(docs, foldIngestPartials(spark, out))
  }

  /** One micro-batch's partial manifest, written idempotently to the
    * batch's own directory (see streamNearDup's recipe).
    */
  private[graft] def writeIngestPartial(batch: DataFrame,
      batchId: Long, out: String): Unit =
    batch.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("doc_id")).cast("long").as("k"),
        sum(col("n_chars")).cast("long").as("b"))
      .write.mode("overwrite").parquet(s"$out/b$batchId")

  /** Fold the per-batch partials to the delivered manifest. */
  private[graft] def foldIngestPartials(spark: SparkSession,
      out: String): DataFrame =
    spark.read
      .schema("source STRING, n BIGINT, k BIGINT, b BIGINT")
      .option("recursiveFileLookup", "true")
      .parquet(out)
      .groupBy(col("source"))
      .agg(sum(col("n")).cast("long").as("n_delivered"),
        sum(col("k")).cast("long").as("key_delivered"),
        sum(col("b")).cast("long").as("bytes_delivered"))

  /** st14_stream_ledger — k13's durable sketch ledger maintained
    * INCREMENTALLY as events land: each micro-batch folds its slice
    * into per-(day, event_type) HLL sketch partials written
    * idempotently to the batch's own `b<id>` dir (st11's
    * landed-partials pattern — no keyed streaming state; the landed
    * files ARE the state, and a replayed batch rewrites instead of
    * duplicating). The final ledger is `hll_union_agg` over the
    * partials — DataSketches MERGEABILITY is the entire trick: a
    * sketch built from any partition of the stream unions to the
    * same answer, so the incrementally-landed ledger feeds k13's
    * readout unchanged (`rollingFromLedger`) and the spec pins
    * st14 ≡ k13 on the finite harness. Exact counters fold as
    * plain sums alongside the blobs.
    */
  private val stagedLedgerEvents =
    scala.collection.concurrent.TrieMap.empty[String, String]

  def streamSketchLedger(spark: SparkSession, dir: String,
      windowDays: Int = 7): DataFrame = {
    val events = graft.Tables.events(spark, dir)
    val stage = stagedLedgerEvents.getOrElseUpdate(dir, {
      val s = graft.Staging.dir("graft_st14_")
      events
        .select(to_date(col("ts")).as("day"), col("event_type"),
          col("user_id"))
        .repartition(4)
        .write.mode("overwrite").parquet(s)
      s
    })
    val out = graft.Staging.dir("graft_st14_out_")
    val src = spark.readStream
      .schema("day DATE, event_type STRING, user_id BIGINT")
      .option("maxFilesPerTrigger", HarnessFilesPerTrigger)
      .parquet(stage)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        writeLedgerPartial(batch, id, out)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.sources.SketchLedger
      .rollingFromLedger(foldLedgerPartials(spark, out), windowDays)
  }

  /** One micro-batch's sketch partial, written idempotently to the
    * batch's own directory (st09/st11's overwrite recipe).
    */
  private[graft] def writeLedgerPartial(batch: DataFrame,
      batchId: Long, out: String): Unit =
    spread(batch).groupBy(col("day"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
        count(lit(1)).as("n_events"))
      .write.mode("overwrite").parquet(s"$out/b$batchId")

  /** Union the landed partials into the ledger k13 reads: sketches
    * merge via hll_union_agg, exact counters via plain sums.
    */
  private[graft] def foldLedgerPartials(spark: SparkSession,
      out: String): DataFrame =
    spark.read
      .schema("day DATE, event_type STRING, sk BINARY, n_events BIGINT")
      .option("recursiveFileLookup", "true")
      .parquet(out)
      .groupBy(col("day"), col("event_type"))
      .agg(hll_union_agg(col("sk")).as("sk"),
        sum(col("n_events")).as("n_events"))

  /** st12_stream_upsert — continuous CDC apply: k12's MERGE INTO
    * run as the feed arrives, which is THE streaming-lakehouse
    * ingest shape (a CDC stream lands all day; consumers read a
    * tree that is always a consistent merge of everything applied
    * so far). The hard part is ORDER: k12's sequential latest-wins
    * is only correct if batches arrive in seq order, and a
    * partitioned/retried feed does not promise that. st12 therefore
    * applies through the CONVERGENT merge (PartitionUpsert
    * .applyConvergent): tree rows carry their seq, deletes persist
    * as tombstones, every batch keeps the max-seq version per key —
    * so the final state is argmax(seq) over base ∪ feed no matter
    * how the feed was batched OR ordered (spec applies the batches
    * reversed and diffs the trees), and a REPLAYED batch is a
    * natural no-op (equal seq never wins — no b<id> machinery
    * needed). Per batch: affected-partition pruning + dynamic
    * overwrite, k12's exact IO contract. Final summary filters
    * tombstones and equals batch k12 row-for-row (shared oracle).
    */
  private val stagedCdcChunks =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** The demo CDC feed as a 4-file arrival tree — shared by st12 and
    * st16 (identical changelog, staged once per corpus dir).
    */
  private def cdcChunks(dir: String,
      base: org.apache.spark.sql.DataFrame): String =
    stagedCdcChunks.getOrElseUpdate(dir, {
      val s = graft.Staging.dir("graft_st12_cdc_")
      graft.sources.PartitionUpsert.changelog(base)
        .repartition(4)
        .write.mode("overwrite").parquet(s)
      s
    })

  private val CdcChunkSchema =
    "doc_id BIGINT, lang STRING, seq BIGINT, op STRING, new_text STRING"

  def streamUpsert(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.PartitionUpsert
    val docs = graft.Tables.documents(spark, dir)
    // same demo base as batch k12: corpus + NULL-lang shadow rows, so
    // the streaming merge exercises the hive default partition too
    val base = PartitionUpsert.demoBase(docs)
    val chunks = cdcChunks(dir, base)
    val tree = graft.Staging.dir("graft_st12_tree_") + "/tree"
    PartitionUpsert.stageConvergentBase(base, tree)
    val src = spark.readStream
      .schema(CdcChunkSchema)
      .option("maxFilesPerTrigger", HarnessFilesPerTrigger)
      .parquet(chunks)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        PartitionUpsert.applyConvergent(spark, tree, batch)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    PartitionUpsert.summarize(
      PartitionUpsert.convergentState(spark, tree))
  }

  /** st16_stream_index — k18's incremental index maintenance kept
    * LIVE during streaming CDC ingest: st12 maintains the convergent
    * tree per micro-batch, but a point-lookup consumer (takedown
    * worker, audit probe) must not wait for a nightly index rebuild
    * to see the data the stream already landed. Each micro-batch
    * therefore applies the convergent merge AND refreshes the bloom
    * manifest for exactly the partitions that batch touched — k18's
    * kept-verbatim ∪ rebuilt-slice fold, versioned `_bloom/v{N}`
    * (v1 = bootstrap, one version per batch; an in-flight reader on
    * v(N-1) is never yanked, k14's convention). Index cost per batch
    * is proportional to the BATCH's partition set, never the tree —
    * the streaming twin of k18's delta-proportional contract.
    *
    * Blooms hash doc_id only, so tombstoned rows index like live
    * ones and the fetch's liveness post-filter keeps exactness; the
    * final fetched state is argmax(seq) over base ∪ feed = batch
    * k18's merged state, so st16 SHARES k18's oracle (the
    * batch/stream twin discipline).
    */
  def streamIndexMaintain(spark: SparkSession, dir: String): DataFrame =
    streamIndexMaintainWithTree(spark, dir)._1

  /** st16 with its artifacts exposed: (fetch, tree dir, final index
    * version) — the spec needs the tree to diff the streamed index
    * against a from-scratch rebuild and to count the version trail.
    */
  private[graft] def streamIndexMaintainWithTree(spark: SparkSession,
      dir: String): (DataFrame, String, Long) = {
    import graft.sources.{FileBloomIndex, IndexMaintenance, PartitionUpsert}
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, dir)
    val base = PartitionUpsert.demoBase(docs)
    val chunks = cdcChunks(dir, base)
    val tree = graft.Staging.dir("graft_st16_tree_") + "/tree"
    PartitionUpsert.stageConvergentBase(base, tree)
    IndexMaintenance.buildIndex(spark, tree, s"$tree/_bloom/v1",
      PartitionUpsert.convergentSchema)
    // the version trail derives from batchId (v1 bootstrap, batch N
    // refreshes v(N+1) → v(N+2)): foreachBatch is at-least-once, and
    // a REPLAYED batch must chain from the same complete predecessor
    // and overwrite the same target — an in-memory counter would
    // chain a retry off its own partial write and silently strand
    // unaffected files' rows (bloom false negatives)
    val lastV = new java.util.concurrent.atomic.AtomicLong(1L)
    val src = spark.readStream
      .schema(CdcChunkSchema)
      .option("maxFilesPerTrigger", HarnessFilesPerTrigger)
      .parquet(chunks)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the merge's OWN affected set drives the refresh — one
        // derivation, so the kept-filter drops exactly the dirs the
        // apply rewrote (a second derivation could drift)
        val affected = PartitionUpsert
          .applyConvergent(spark, tree, batch)
          .map(IndexMaintenance.langDir).toSet
        val toV = batchId + 2L
        IndexMaintenance.refreshIndex(spark, tree, affected,
          fromV = toV - 1L, toV = toV,
          schema = PartitionUpsert.convergentSchema)
        lastV.set(toV)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the consumer's fetch through the LATEST index version: probe,
    // read only candidate files, post-filter liveness + predicate
    val wanted = base
      .filter(pmod(col("doc_id"), lit(IndexMaintenance.LookupMod))
        === IndexMaintenance.LookupRes)
      .select(col("doc_id")).distinct()
    val fetch = FileBloomIndex.fetchCandidates(spark, tree,
      s"$tree/_bloom/v${lastV.get()}", PartitionUpsert.convergentSchema,
      wanted)
      .filter(!col("deleted") &&
        pmod(col("doc_id"), lit(IndexMaintenance.LookupMod))
          === IndexMaintenance.LookupRes)
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars"))
    (fetch, tree, lastV.get())
  }

  /** st17_stream_zonemap — k19's streaming twin: the zone-map
    * manifest kept LIVE during streaming event ingest. k19 builds the
    * stats manifest once over a static z-ordered tree; in deployment
    * the event store is APPEND-ONLY and grows per micro-batch — and a
    * rectangle consumer (dashboard slice, abuse probe) must not fall
    * back to full scans for data the stream already landed, nor may
    * the manifest ever lag the tree (a file the manifest misses is a
    * silently DROPPED file at fetch time — a false negative, the one
    * thing a zone map must never produce). Each micro-batch therefore
    * lands its rows as an immutable z-clustered directory `b{N}` and
    * publishes manifest version v(N+2) = previous ∪ the batch's own
    * files' stats — per-batch index cost ∝ the BATCH (its files are
    * scanned for min/max; the fold is metadata-cardinality), never
    * the tree. Versions under `_zonemap/v{K}` (v1 = empty bootstrap,
    * k14's in-flight-reader convention); version K covers EXACTLY the
    * files of batches < K−1, so a fetch through version K against
    * those batches is exact — the atomicity contract Delta/Iceberg
    * get from the transaction log.
    *
    * The grid (quantization bounds) is the LANDING SPEC, fixed before
    * the stream starts exactly as production fixes it in the table
    * spec — batches z-cluster within themselves on that shared grid;
    * manifest exactness never depends on clustering quality, only
    * file-skipping EFFICIENCY does (an OPTIMIZE-style re-cluster is
    * k03's compaction composed with a k19 rebuild).
    *
    * The registered fetch resolves k19's same third-quarter rectangle
    * through the FINAL version against the drained tree — the drained
    * store holds exactly the corpus, so st17 SHARES k19's raw-events
    * oracle (the batch/stream twin discipline).
    */
  def streamZoneMap(spark: SparkSession, dir: String): DataFrame =
    streamZoneMapWithTree(spark, dir)._1

  private val stagedZmArrivals =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** st17 with its artifacts exposed: (fetch, tree dir, final manifest
    * version) — the spec needs the tree to diff the streamed manifest
    * against a from-scratch recompute and to count the version trail.
    */
  private[graft] def streamZoneMapWithTree(spark: SparkSession,
      dir: String): (DataFrame, String, Long) = {
    import graft.sources.{ZOrderLayout, ZoneMapIndex}
    val events = graft.Tables.events(spark, dir)
    val bounds @ (uLo, uHi, bLo, bHi) = ZOrderLayout.bounds(events)
    val arrivals = stagedZmArrivals.getOrElseUpdate(dir, {
      val s = graft.Staging.dir("graft_st17_src_")
      events.repartition(4).write.mode("overwrite").parquet(s)
      s
    })
    val tree = graft.Staging.dir("graft_st17_tree_") + "/tree"
    ZoneMapIndex.writeEmptyManifest(spark, s"$tree/_zonemap/v1")
    // batchId-derived versions: a replayed batch re-lands its own
    // directory and refolds the same target from the same complete
    // predecessor (st16's at-least-once discipline)
    val lastV = new java.util.concurrent.atomic.AtomicLong(1L)
    val src = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", HarnessFilesPerTrigger)
      .parquet(arrivals)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val toV = batchId + 2L
        ZoneMapIndex.appendBatch(spark, tree, batch, batchId, bounds, toV)
        lastV.set(toV)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val uSpan = uHi - uLo + 1L
    val bSpan = bHi - bLo + 1L
    val fetch = ZoneMapIndex.fetchRectangle(spark, tree,
      s"$tree/_zonemap/v${lastV.get()}",
      uLo + uSpan / 2, uLo + 3L * uSpan / 4,
      bLo + bSpan / 2, bLo + 3L * bSpan / 4,
      recursiveTree = true)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("user_id")).cast("long").as("user_checksum"),
        sum(col("bin_id")).cast("long").as("bin_checksum"),
        round(sum(col("value")), 4).as("sum_value"))
    (fetch, tree, lastV.get())
  }

  /** One micro-batch's probe, written idempotently: overwrite of the
    * batch's OWN directory, so a Structured Streaming batch replay
    * rewrites instead of duplicating.
    */
  private[graft] def writeBatchPairs(batch: DataFrame, batchId: Long,
      out: String, idx: DataFrame, n: Int, tau: Double): Unit =
    graft.operators.Dedup
      .probeIndex(
        graft.operators.Dedup.incrementalPosting(spread(batch), n),
        idx, tau)
      .write.mode("overwrite").parquet(s"$out/b$batchId")

  private[graft] def readPairs(spark: SparkSession, out: String): DataFrame =
    spark.read
      .schema("doc_id BIGINT, dup_of BIGINT, jaccard DOUBLE")
      .option("recursiveFileLookup", "true")
      .parquet(out)

  /** Token row flowing into the streaming heavy-hitter state. */
  final case class TokRow(lang: String, token: String)

  /** Per-lang Misra–Gries state: exact stream length, a monotone
    * snapshot version, and the ≤ k counter entries. Bounded by
    * construction — k entries per key, EVER, no watermark needed.
    */
  final case class MgEntry(token: String, est: Long)
  final case class MgState(n_total: Long, version: Long,
      entries: List[MgEntry])
  final case class MgOut(lang: String, version: Long, n_total: Long,
      token: String, est: Long)

  private val stagedHhDocs =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** st13_stream_heavy — q43's frequent-items monitor as a LIVE
    * readout: documents stream in as they land and each micro-batch
    * UPDATES a per-lang Misra–Gries state (k counters + the exact
    * token total), emitting the refreshed candidate snapshot — the
    * "most frequent failure step" board (tools.py:28-56) that
    * repaints DURING the run instead of rescanning the log. The
    * sequential fold preserves MG's guarantee at every instant: any
    * token holding > n/(k+1) of the tokens seen SO FAR is on the
    * board (order-independent superset; the ScalaCheck kernel
    * properties cover exactly this update path).
    *
    * State is the operator's scale story: k entries + two longs per
    * lang — not per token, not per doc — so a year of stream costs
    * the same state as a minute. Snapshots version monotonically;
    * the memory sink keeps every repaint (Update mode), and the
    * final board per lang is the max-version slice.
    *
    * The registered query then CLOSES the stream the way q43's pass
    * 2 closes the sketch: the final candidates (a superset of the
    * true heavy hitters, with n_total the EXACT stream length) are
    * exact-recounted against the landed corpus batch-side, so
    * st13's output EQUALS q43's — one oracle covers both (st09/d10,
    * st12/k12 precedent).
    */
  def streamHeavyHitters(spark: SparkSession, dir: String,
      shareDenom: Int = graft.operators.TextAnalysis.HeavyShareDenom,
      k: Int = graft.operators.TextAnalysis.HeavyK,
      statePartitions: Int = 8): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, dir)
    val stage = stagedHhDocs.getOrElseUpdate(dir, {
      val s = graft.Staging.dir("graft_st13_")
      docs.select(col("doc_id"), col("lang"), col("text"))
        .repartition(4)
        .write.mode("overwrite").parquet(s)
      s
    })
    // Sized state partitioning (runSizedStream's rationale): the MG
    // fold is keyed by lang, so only ≤ #langs stores are ever
    // non-empty — the inherited 32 paid 32 state commits per batch
    // for ≤ 5 working stores. The heavy tokenize/explode runs BEFORE
    // the keyed shuffle at spread() width, so this dial does not
    // bound batch CPU.
    val child = childSession(spark)
    child.conf.set("spark.sql.shuffle.partitions", statePartitions)
    val src = child.readStream
      .schema("doc_id BIGINT, lang STRING, text STRING")
      .option("maxFilesPerTrigger", HarnessFilesPerTrigger)
      .parquet(stage)
    // spread the arriving file slice before the explode: one file per
    // trigger = one scan partition, and the MG fold's own shuffle is
    // ≤ #langs-way — without this the tokenize runs single-core
    val toks = spread(src)
      .filter(col("text").isNotNull && col("lang").isNotNull)
      .select(col("lang"),
        explode(graft.functions.TextOps.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .as[TokRow]
    val updates = toks
      .groupByKey(_.lang)
      .flatMapGroupsWithState[MgState, MgOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (lang, rows, state: GroupState[MgState]) =>
          val prior = state.getOption.getOrElse(MgState(0L, 0L, Nil))
          val buf = scala.collection.mutable.HashMap
            .from(prior.entries.map(e => e.token -> e.est))
          var n = prior.n_total
          rows.foreach { r =>
            graft.functions.MisraGriesOps.update(buf, r.token, k)
            n += 1
          }
          val snap = graft.functions.MisraGriesOps.sorted(buf)
            .map { case (t, e) => MgEntry(t, e) }.toList
          val v = prior.version + 1
          state.update(MgState(n, v, snap))
          snap.iterator.map(e => MgOut(lang, v, n, e.token, e.est))
      }
    val sink = s"st13_mem_${System.nanoTime()}"
    val q = updates.writeStream
      .outputMode(OutputMode.Update())
      .format("memory")
      .queryName(sink)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val snaps = child.table(sink)
    // final board per lang = the max-version snapshot (metadata-scale:
    // ≤ batches·k rows per lang ever landed in the sink; a window
    // instead of a groupBy self-join — the memory view resolves to
    // the same attribute ids on both sides of a join)
    val candView = snaps
      .withColumn("maxv", max(col("version"))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"))))
      .filter(col("version") === col("maxv"))
      .select(col("lang"), col("n_total"), col("token"))
    // Materialize the candidate board eagerly (≤ k rows per lang —
    // the MG state bound) so the Update-mode memory sink can be
    // dropped; without the drop every snapshot row of every
    // invocation stays in driver memory for the session's lifetime.
    val candidates = {
      import scala.jdk.CollectionConverters._
      val rows = candView.collect().toSeq
      child.catalog.dropTempView(sink)
      spark.createDataFrame(rows.asJava, candView.schema)
    }
    // q43's exact closing pass over the landed corpus
    docs
      .filter(col("text").isNotNull)
      .select(col("lang"),
        explode(graft.functions.TextOps.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .join(broadcast(candidates), Seq("lang", "token"))
      .groupBy(col("lang"), col("token"), col("n_total"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") * shareDenom > col("n_total"))
      .select(col("lang"), col("token"), col("n_occ"),
        round(col("n_occ") / col("n_total"), 6).as("share"))
  }

  /** st15_stream_select — p15's importance selector applied to a
    * LIVE document stream: "train the selector, then stream the data
    * through it". The B-row weight model is learned ONCE from the
    * landed corpus (p15's pass 1 — the bounded artifact collect) and
    * every arriving micro-batch is scored against it map-side; docs
    * whose fixed-point score is positive ("more target-like than
    * raw-like") are kept. Scoring is STATELESS per document — no
    * keyed streaming state, no watermark — so each batch's scores
    * land idempotently in the batch's own `b<id>` dir (st11's
    * landed-partials recipe: a replayed batch rewrites, never
    * duplicates) and ANY split of arrivals across micro-batches
    * yields the identical keep set. That makes st15 score-for-score
    * equal to the batch formulation without p15's top-N (the spec
    * pins it; the oracle is p15's score pipeline with a score > 0
    * gate instead of the LIMIT).
    */
  private val stagedSelectDocs =
    scala.collection.concurrent.TrieMap.empty[String, String]

  def streamSelect(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val weights = graft.operators.Corpus.importanceWeightRows(docs)
    val stage = stagedSelectDocs.getOrElseUpdate(dir, {
      val s = graft.Staging.dir("graft_st15_")
      docs.select(col("doc_id"), col("source"), col("text"))
        .repartition(4)
        .write.mode("overwrite").parquet(s)
      s
    })
    val out = graft.Staging.dir("graft_st15_out_")
    val src = spark.readStream
      .schema("doc_id BIGINT, source STRING, text STRING")
      .option("maxFilesPerTrigger", HarnessFilesPerTrigger)
      .parquet(stage)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        writeSelectPartial(batch, id, out, weights)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read
      .schema("doc_id BIGINT, source STRING, n_toks BIGINT, score BIGINT")
      .option("recursiveFileLookup", "true")
      .parquet(out)
      .filter(col("score") > 0)
  }

  /** Arrival-file layout must not dictate CPU parallelism: a micro-
    * batch often arrives as ONE file — one scan partition — which
    * runs a CPU-heavy per-batch pipeline (tokenize/shingle/score
    * explodes) on a single core while the rest of the cluster idles.
    * Measured at the sf10 probe: st15's 125k-doc batches took ~13 s
    * each single-core vs ~1 s spread. Repartitioning to the
    * session's default parallelism shuffles exactly the arrival
    * slice (bounded per trigger — this is NOT a corpus-scale text
    * exchange) and buys cluster-wide execution of everything after.
    *
    * r18 (optimization round, guide §2 "make partitioning
    * scale-adaptive"): the width is derived from the BATCH'S OWN
    * SIZE instead of unconditionally `defaultParallelism` — a few-KB
    * arrival slice was paying a 32-way round-robin exchange (plus an
    * AQE stage) whose only effect was re-splitting rows that one
    * task chews through faster than the shuffle costs (measured:
    * st14's per-batch body 0.574 s spread-to-32 vs 0.238 s unspread
    * at sf0.1). Width = ceil(stats.sizeInBytes / SpreadTargetBytes)
    * clamped to [1, defaultParallelism]: the sf10 single-file
    * pathology still widens to full parallelism (125k-doc batches
    * are tens of MB), while bench-scale slices skip the exchange
    * entirely. Unknown/absent statistics (sizeInBytes defaults to
    * Long.MaxValue-ish values) fall back to full widening — the
    * pre-r18 behavior.
    */
  private[graft] val SpreadTargetBytes: Long = 4L << 20

  private def spread(batch: DataFrame): DataFrame = {
    val par = batch.sparkSession.sparkContext.defaultParallelism
    // A streaming DF (st13's continuous path) can't inspect its
    // partitioning or stats, so it always takes the full widening.
    if (batch.isStreaming) return batch.repartition(par)
    val bytes = batch.queryExecution.optimizedPlan.stats.sizeInBytes
    val width =
      if (!bytes.isValidLong || bytes.toLong <= 0L) par
      else math.min(par.toLong, math.max(1L,
        (bytes.toLong + SpreadTargetBytes - 1L) / SpreadTargetBytes)).toInt
    // only widen: a batch that already arrived well-split (many
    // files) must not be squeezed down.
    if (batch.rdd.getNumPartitions >= width) batch
    else batch.repartition(width)
  }

  /** One micro-batch scored under the fixed weight model, written
    * idempotently to the batch's own directory (st09's overwrite
    * recipe).
    */
  private[graft] def writeSelectPartial(batch: DataFrame, batchId: Long,
      out: String, weights: Seq[(Long, Long)]): Unit =
    graft.operators.Corpus.importanceScore(spread(batch), weights)
      .write.mode("overwrite").parquet(s"$out/b$batchId")

  private val stagedOrderedEvents =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Stage the events as `OrderedSlices` event-TIME-ordered file
    * slices, landed sequentially so the file source's oldest-first
    * (mtime) consumption replays them in event-time order — the
    * arrival discipline a production landing zone actually has (a
    * collector ships closed time buckets in order). Slice boundaries
    * are arithmetic on the epoch range (two scalars off a min/max
    * agg), not a global sort: each slice is a map-side predicate
    * over the corpus, and the single-file coalesce is harness-only
    * (a real landing zone is already many files per bucket).
    */
  private val OrderedSlices = 4

  private def orderedEventStage(spark: SparkSession, dir: String): String =
    stagedOrderedEvents.getOrElseUpdate(dir, {
      val batch = graft.Tables.events(spark, dir)
      val s = graft.Staging.dir("graft_st18_")
      val Array(lo, hi) = batch
        .agg(min(graft.Tables.epochUs(col("ts"))),
          max(graft.Tables.epochUs(col("ts"))))
        .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
      val span = hi - lo + 1
      (0 until OrderedSlices).foreach { i =>
        val from = lo + span * i / OrderedSlices
        val until = lo + span * (i + 1) / OrderedSlices
        val us = graft.Tables.epochUs(col("ts"))
        batch.filter(us >= from && us < until)
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$s/f$i")
      }
      s
    })

  /** st18_stream_join — the watermarked STREAM-STREAM join: every
    * purchase attributed to the same user's clicks in the preceding
    * `horizonHours`, with BOTH sides arriving live. st04 joins a
    * stream against a broadcast dimension and st05 carries one
    * anchor per user in custom state; neither covers the case where
    * the two event feeds are both unbounded and the match is
    * many-to-many within a time bound — that is Spark's symmetric
    * join-state machinery, and this operator is its deployment
    * shape.
    *
    * Semantics are exactly the batch interval self-join (shared
    * DuckDB oracle): click c matches purchase p when users are equal
    * and p.ts ∈ [c.ts, c.ts + horizon]. Both sides carry an
    * event-time watermark and the join condition bounds each side's
    * event time by the other's, which is what lets the engine EVICT:
    * a click older than (watermark − horizon) can never match a
    * future purchase, so join state is O(events in the horizon
    * window), not O(stream) — the property that makes the join
    * runnable 24/7 at 100 TB. `delay` is the production
    * out-of-orderness allowance; the harness stages arrivals
    * time-ordered (orderedEventStage), so no row is droppably late
    * and the finite run is bit-equal to the batch join
    * (spec-pinned).
    *
    * Output rows are emitted as matches form (append mode — joins
    * have no "final" aggregate to wait for); gap_us is the
    * attribution latency, the thing a monitoring consumer windows
    * over next.
    */
  /** The two watermarked join sides over the shared time-ordered
    * arrival slices — ONE definition serving st18 (inner) and st19
    * (left outer), so the join modes cannot drift in staging,
    * filtering, or watermarking. `sentinel` appends the far-future
    * flush slice outer joins need (see streamStreamOuterJoin).
    */
  private def streamJoinSides(spark: SparkSession, dir: String,
      horizonHours: Long, delay: String, clickType: String,
      purchaseType: String, joinType: String,
      sentinel: Boolean = false): DataFrame = {
    val schema = graft.Tables.events(spark, dir).schema
    val stage =
      if (sentinel) sentinelEventStage(spark, dir, clickType, purchaseType)
      else orderedEventStage(spark, dir)
    def side(tp: String, pre: String): DataFrame =
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", HarnessFilesPerTrigger)
        .parquet(s"$stage/f*")
        .filter(col("event_type") === tp)
        .select(col("event_id").as(s"${pre}_id"),
          col("user_id").as(s"${pre}_user"), col("ts").as(s"${pre}_ts"))
        .withWatermark(s"${pre}_ts", delay)
    side(clickType, "c")
      .join(side(purchaseType, "p"),
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr(s"INTERVAL $horizonHours HOURS"),
        joinType)
  }

  /** Run a symmetric-join stream to a memory sink under a SIZED
    * stateful-operator partitioning. The symmetric join keeps FOUR
    * state stores per shuffle partition (keyToNumValues +
    * keyWithIndex, each side), and every micro-batch commits a delta
    * file per store — so the stateful operator's partition count is
    * a knob a deployment SIZES, not inherits: per-batch floor ∝
    * partitions × 4, and the partitioning is baked into the
    * checkpoint at first start (measured: the inherited 32 cost 3×
    * the sized 8 at sf0.1 — pure state-commit floor, not join work;
    * a 100 TB 24/7 job sizes it to its executor cores). The conf
    * flip happens on an isolated CHILD session (childSession), never
    * set-then-restored on the caller's — a query planned concurrently
    * on the shared session must not inherit the stream's sizing.
    */
  private def runJoinStream(spark: SparkSession,
      mkJoined: SparkSession => DataFrame,
      sinkPrefix: String, statePartitions: Int,
      noDataBatches: Boolean = true): DataFrame =
    runSizedStream(spark, mkJoined, sinkPrefix, OutputMode.Append(),
      statePartitions, noDataBatches)

  /** runJoinStream's recipe generalized to EVERY stateful memory-sink
    * stream (r18 optimization round): run the stream on a child
    * session whose shuffle partitioning — which for a stateful
    * operator is the STATE STORE COUNT, baked into the checkpoint at
    * first start — is a sized dial rather than the inherited session
    * default. The JobSpec sizing rule (JobSpec.scala statePartitions
    * note) applies: per-batch floor ∝ stores × batches, so size to
    * per-batch core need, not to the session's scan parallelism.
    * Measured in r18 at sf0.1 (OPTIMIZATION_r18.md, Batch 1): the
    * st01-shaped windowed aggregation reads 2.72 s at the inherited
    * 32 vs 1.71 s at 8 — pure state-commit floor, the same 3×
    * per-store effect r13 measured for the join twins. The dial stays
    * a parameter with the st18/st19 default (8); a 100 TB deployment
    * sizes it to its executor cores (the sf10 crossover in the same
    * record: 8→18.6 s, 16→11.1 s, 32→20.2 s — undersizing punishes
    * large scale, oversizing punishes the floor).
    */
  private def runSizedStream(spark: SparkSession,
      mk: SparkSession => DataFrame, sinkPrefix: String,
      mode: OutputMode, statePartitions: Int,
      noDataBatches: Boolean = true): DataFrame = {
    val sink = s"${sinkPrefix}_${System.nanoTime()}"
    val child = childSession(spark)
    child.conf.set("spark.sql.shuffle.partitions", statePartitions)
    // A stream whose output is entirely INPUT-driven (the inner
    // symmetric join: matches emit during data processing; watermark
    // eviction only garbage-collects state, producing no rows) may
    // skip no-data micro-batches — eager state GC is the only thing
    // lost, and with data flowing, GC rides the next data batch (in
    // the AvailableNow harness the checkpoint is discarded right
    // after). NOT safe for watermark-EMITTING operators (outer join
    // null rows, event-time timeouts, append-mode aggregates) — those
    // keep the default. Measured r18: one fewer full trigger (~1/3 of
    // st18's floor); row set proven identical (StreamOpsSpec's
    // stream ≡ batch join; OPTIMIZATION_r18.md, Batch 4).
    if (!noDataBatches)
      child.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
        "false")
    val q = mk(child).writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(sink)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    child.table(sink)
  }

  /** An isolated session for per-stream conf flips: shares the
    * SparkContext (and thus all staged files and the memory-sink
    * catalog reachability through the returned DataFrame), starts
    * from `newSession`'s SparkConf defaults, then copies the
    * parent's MODIFIABLE runtime confs so a spec's session-scoped
    * settings (timezone, broadcast threshold) carry over. The child
    * is where a stream sizes its state partitioning or swaps the
    * state-store provider — the shared session never sees either.
    */
  private def childSession(spark: SparkSession): SparkSession = {
    val child = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      if (child.conf.isModifiable(k)) child.conf.set(k, v)
    }
    child
  }

  def streamStreamJoin(spark: SparkSession, dir: String,
      horizonHours: Long = 24L, delay: String = "1 hour",
      clickType: String = "click", purchaseType: String = "purchase",
      statePartitions: Int = 8): DataFrame = {
    runJoinStream(spark,
      s => streamJoinSides(s, dir, horizonHours, delay,
        clickType, purchaseType, "inner"),
      "st18_mem", statePartitions, noDataBatches = false).select(
      col("p_id").as("purchase_id"),
      col("c_id").as("click_id"),
      col("p_user").as("user_id"),
      (graft.Tables.epochUs(col("p_ts")) - graft.Tables.epochUs(col("c_ts")))
        .as("gap_us"))
  }

  private val stagedSentinelEvents =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** The far-future flush: orderedEventStage's slices, with one
    * sentinel event per join side (user_id = −1, ts = corpus max +
    * 3650 days) folded INTO the last slice. An OUTER join emits its unmatched
    * rows only when their state EVICTS — i.e. when the watermark
    * passes row_ts + horizon — and a finite stream's watermark stops
    * at its last real event, which would hold the final horizon's
    * unmatched rows in state forever (the streaming-vs-batch
    * divergence st02 solved the same way). The sentinel advances
    * both sides' watermarks past every eviction boundary (any
    * horizon + delay below a decade — dial bound documented), the
    * engine's end-of-stream no-data batch flushes the remaining
    * state, and the harness result closes to exactly the batch LEFT
    * JOIN. user_id −1 rows are dropped from the output; in a 24/7
    * deployment no sentinel exists — unmatched rows simply emit
    * `horizon+delay` after their event time, continuously.
    */
  private def sentinelEventStage(spark: SparkSession, dir: String,
      clickType: String, purchaseType: String): String =
    // keyed on the full parameterization (dialKey's discipline): the
    // sentinel rows carry the event TYPES, so a stage memoized by dir
    // alone would hand a ('click','purchase') sentinel to a join over
    // different types — that side's watermark would stall at its last
    // real event and the final horizon's unmatched rows never emit
    stagedSentinelEvents.getOrElseUpdate(s"$dir|$clickType|$purchaseType", {
      val ordered = orderedEventStage(spark, dir)
      val s = graft.Staging.dir("graft_st19_")
      val fs = new org.apache.hadoop.fs.Path(s)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      (0 until OrderedSlices - 1).foreach { i =>
        org.apache.hadoop.fs.FileUtil.copy(
          fs, new org.apache.hadoop.fs.Path(s"$ordered/f$i"),
          fs, new org.apache.hadoop.fs.Path(s"$s/f$i"),
          false, spark.sparkContext.hadoopConfiguration)
      }
      val batch = graft.Tables.events(spark, dir)
      val hi = batch.agg(max(graft.Tables.epochUs(col("ts"))))
        .collect()(0).getLong(0)
      val flushUs = hi + 3650L * 24 * 3600 * 1000000L
      val template = batch.limit(0)
      val sentinels = template.sparkSession.createDataFrame(
        template.sparkSession.sparkContext.parallelize(Seq(clickType,
          purchaseType).map(tp => org.apache.spark.sql.Row.fromSeq(
          template.schema.fields.map(_.name match {
            case "event_id" => -1L
            case "user_id" => -1L
            case "ts" => new java.sql.Timestamp(flushUs / 1000L)
            case "event_type" => tp
            case _ => null
          }).toSeq)), 1), template.schema)
      // The sentinel rows ride IN the last real slice rather than as
      // a slice of their own (r18 optimization round): they are still
      // the event-time maximum of the whole stage, so the watermark
      // after the LAST data batch passes every eviction boundary and
      // the end-of-stream no-data batch flushes all remaining state —
      // one full trigger fewer than a dedicated sentinel file, same
      // emitted row set (the flush just happens one batch earlier;
      // spec-pinned ≡ the batch LEFT JOIN either way). Arrival
      // discipline holds: the sentinel is in the latest-landing file
      // and is that file's latest event time.
      spark.read.schema(batch.schema)
        .parquet(s"$ordered/f${OrderedSlices - 1}")
        .unionByName(sentinels)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$s/f${OrderedSlices - 1}")
      s
    })

  /** st19_stream_outer_join — the LEFT OUTER stream-stream join:
    * st18 emits the clicks that converted; the rows a funnel/alert
    * consumer actually wants are the ones that DIDN'T — "clicks with
    * no purchase within the horizon", emitted continuously as their
    * horizon closes. This is the watermark-DRIVEN half of the
    * symmetric join machinery (null rows are produced by state
    * EVICTION, not by matching), the one join behavior st18 cannot
    * show. Semantics ≡ the batch LEFT JOIN under the same condition
    * (shared-oracle discipline; sentinel-flushed on the finite
    * harness — see sentinelEventStage). Unmatched rows carry null
    * purchase_id/gap_us; matched rows are exactly st18's pairs
    * (spec-pinned both ways).
    */
  def streamStreamOuterJoin(spark: SparkSession, dir: String,
      horizonHours: Long = 24L, delay: String = "1 hour",
      clickType: String = "click", purchaseType: String = "purchase",
      statePartitions: Int = 8): DataFrame = {
    runJoinStream(spark,
      s => streamJoinSides(s, dir, horizonHours, delay,
        clickType, purchaseType, "left_outer", sentinel = true),
      "st19_mem", statePartitions)
      .filter(col("c_user") >= 0 &&
        (col("p_user").isNull || col("p_user") >= 0))
      .select(
        col("c_id").as("click_id"),
        col("c_user").as("user_id"),
        col("p_id").as("purchase_id"),
        (graft.Tables.epochUs(col("p_ts")) -
          graft.Tables.epochUs(col("c_ts"))).as("gap_us"))
  }

  private val stagedDeleteChunks =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** st20_stream_deletes — k25's merge-on-read deletes maintained
    * LIVE: takedown/erasure requests arrive as a FEED (a compliance
    * queue is exactly that), and the store must reflect each batch
    * without rewriting a byte of the base — the property k25's
    * commit already has, which is what makes this twin almost
    * state-free: each micro-batch lands its keys as the batch's own
    * delete commit `_deletes/b<id>` (idempotent overwrite — st09's
    * replay recipe; a retried batch rewrites the same commit, and
    * merge-on-read unions commits, so replay can never double-delete
    * — deletes are idempotent by SEMANTICS too), and the reader's
    * anti-join picks up each commit the moment it lands. No keyed
    * streaming state at all: the landed delete files ARE the state
    * (st11's pattern). Final state ≡ batch k25 under ANY batching of
    * the feed (spec-pinned; SHARES k25's oracle — the twin
    * discipline).
    */
  def streamDeletes(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeleteFiles
    val (store, chunks) = stagedDeleteChunks.getOrElseUpdate(dir, {
      val root = graft.Staging.dir("graft_st20_")
      val store = s"$root/store"
      DeleteFiles.stageStoreOnly(graft.Tables.documents(spark, dir), store)
      val chunks = s"$root/feed"
      // the two demo delete sets land as two arrival files —
      // sequential writes, consumed one per trigger
      DeleteFiles.demoDeleteSets(spark, store).zipWithIndex.foreach {
        case (keys, i) =>
          keys.select(col("doc_id")).coalesce(1)
            .write.mode("overwrite").parquet(s"$chunks/a$i")
      }
      (store, chunks)
    })
    val src = spark.readStream
      .schema("doc_id BIGINT")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$chunks/a*")
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.select(col("doc_id")).distinct()
          .coalesce(1)
          .write.mode("overwrite")
          .parquet(s"$store/_deletes/b$batchId")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    DeleteFiles.mergeOnRead(spark, store)
  }

  private val stagedDocChunks =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** The document corpus staged as 4 arrival chunks — shared by the
    * document-feed twins (st21 constraint gate, st22 CAS ingest).
    */
  private def docChunkStage(spark: SparkSession, dir: String): String =
    stagedDocChunks.getOrElseUpdate(dir, {
      val s = graft.Staging.dir("graft_stdocs_")
      graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .repartition(4)
        .write.mode("overwrite").parquet(s)
      s
    })

  private val DocChunkSchema =
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"

  /** st21_stream_constraints — k27's CHECK-constraint gate run AT
    * INGEST: the place a data-quality gate actually lives is the
    * landing stream, where a feed that starts shipping garbage is
    * caught on the batch that shipped it, not at the nightly batch
    * job. Each micro-batch splits under the table's rules through
    * the SAME shared projection k27 compiles (one code path — the
    * gate cannot drift between deployment modes); valid rows land in
    * the batch's own `data/b<id>`, evidence rows in
    * `_rejected/b<id>` (idempotent overwrites — st09's replay
    * recipe), and the per-batch tolerance gate refuses the BATCH,
    * which is the streaming failure unit. No keyed state: the landed
    * split IS the state (st11's pattern), and the split is
    * row-local, so any batching of the feed folds to the same table
    * ∪ quarantine — st21 ≡ k27 row for row (spec-pinned; SHARES
    * k27's oracle).
    */
  def streamConstraints(spark: SparkSession, dir: String,
      maxRejectPermille: Int = 200): DataFrame = {
    import graft.sources.WriteConstraints
    val chunks = docChunkStage(spark, dir)
    val root = graft.Staging.dir("graft_st21_") + "/table"
    val src = spark.readStream
      .schema(DocChunkSchema)
      .option("maxFilesPerTrigger", HarnessFilesPerTrigger)
      .parquet(chunks)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        WriteConstraints.landBatch(spread(batch), root, batchId,
          maxRejectPermille)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    WriteConstraints.reportFor(spark, root)
  }

  /** st22_stream_blob_ingest — m08's content-addressed admission as
    * the LIVE ingest it deploys as: media blobs arrive continuously
    * and the store must admit each batch's NOVEL content only,
    * without ever scanning payloads it already holds. Per
    * micro-batch: digest map-side, LEFT ANTI against the stored
    * digest column (metadata-scale probe), land the batch's novel
    * blobs under its own `blobs/b<id>` and its refs under
    * `refs/b<id>` — both idempotent overwrites, and the CAS
    * admission is idempotent by SEMANTICS too (a replayed batch's
    * digests are all stored by its own prior landing... and the
    * anti-join is computed against OTHER batches' dirs, so the
    * b<id> overwrite alone carries replay safety). Cross-batch
    * dedup is the content address itself: a re-post arriving ten
    * batches later probes the same digest column and lands nothing.
    * Final accounting ≡ batch m08 (spec-pinned; SHARES m08's
    * oracle), and the blob tree holds each digest exactly once
    * across every batch (spec-pinned).
    */
  def streamBlobIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.BlobStore
    val chunks = docChunkStage(spark, dir)
    val root = graft.Staging.dir("graft_st22_") + "/cas"
    val src = spark.readStream
      .schema(DocChunkSchema)
      .option("maxFilesPerTrigger", HarnessFilesPerTrigger)
      .parquet(chunks)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        BlobStore.ingestBatch(spread(batch), root, batchId)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    BlobStore.accountingFor(spark, root)
  }

  /** Typed input/output rows for st23 (the timestamp column stays a
    * Timestamp through the encoder — the watermark rides it).
    */
  final case class EvTs(user_id: Long, ts: java.sql.Timestamp)

  final case class SessionEndRow(user_id: Long, session_end_us: Long)

  /** The st23 processor: one `ValueState` long per user (the open
    * session's last event time) + ONE registered event-time timer
    * per user (re-registered as the session extends). Session ends
    * are emitted from BOTH edges of the same rule: inline, when an
    * arriving event observes a gap > gapUs against the carried last
    * (mid-stream ends), and from `handleExpiredTimer`, when the
    * WATERMARK passes last+gap (the session that ends because the
    * user went quiet — the edge no arriving row ever observes). A
    * fired timer validates itself against the current state
    * (expiry == last+gap) so a timer made stale by a session
    * extension or an inline end is ignored, never double-emitted.
    */
  private class SessionEndProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, EvTs, SessionEndRow] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var lastTs: ValueState[Long] = _
    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      lastTs = getHandle.getValueState[Long]("lastTs",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    // timers live in WATERMARK ms; session times in event us. Ceil
    // to the next ms so a timer can never fire before its session's
    // true expiry.
    private def expiryMs(tsUs: Long): Long = (tsUs + gapUs) / 1000L + 1L
    private def usOf(t: java.sql.Timestamp): Long = {
      val i = t.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    override def handleInputRows(user: Long, rows: Iterator[EvTs],
        tv: TimerValues): Iterator[SessionEndRow] = {
      val sorted = rows.map(e => usOf(e.ts)).toArray.sorted
      if (sorted.isEmpty) return Iterator.empty
      val prev = if (lastTs.exists()) Some(lastTs.get()) else None
      var last = prev.getOrElse(Long.MinValue)
      val out = Vector.newBuilder[SessionEndRow]
      sorted.foreach { ts =>
        if (last != Long.MinValue && ts - last > gapUs)
          out += SessionEndRow(user, last) // q16's strict-gap rule
        if (ts > last) last = ts
      }
      if (prev.forall(_ != last)) {
        prev.foreach(p => getHandle.deleteTimer(expiryMs(p)))
        getHandle.registerTimer(expiryMs(last))
        lastTs.update(last)
      }
      out.result().iterator
    }
    override def handleExpiredTimer(user: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessionEndRow] = {
      if (lastTs.exists() &&
        expiryMs(lastTs.get()) == info.getExpiryTimeInMs) {
        val endUs = lastTs.get()
        lastTs.clear()
        Iterator.single(SessionEndRow(user, endUs))
      } else Iterator.empty // stale: the session moved on
    }
  }

  /** st23_stream_session_timers — q16's session BOUNDARIES detected
    * live with Spark 4's `transformWithState`, the modern
    * arbitrary-state API (typed `ValueState` + REGISTERED EVENT-TIME
    * TIMERS, RocksDB-backed): the "user went quiet" alert that
    * st02's batch-flush sessionizer cannot emit mid-stream, because
    * no arriving row ever witnesses the last session's gap — only
    * the watermark does, and timers are how an operator asks the
    * watermark to call back. st02 keeps the full session aggregate;
    * st23 deliberately keeps ONE long per user and emits the
    * boundary the moment it is knowable: inline when a later event
    * reveals the gap, by timer when silence does. The union of both
    * edges is exactly q16's (user, session_end) set, so the oracle
    * is a projection of the shared sessionize CTE (spec pins the
    * equality; the far-future sentinel flushes the final timers on
    * the finite harness — st02's move, st19's staging).
    *
    * Scale: state is 8 bytes + one timer per ACTIVE user (RocksDB
    * keeps it off-heap); each batch touches only arriving users;
    * timers fire in bulk as the watermark sweeps — a 24/7 inactivity
    * monitor over any user cardinality a state store holds.
    */
  private val stagedOpenSessionCkpt =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Drain st23's TWS sessionizer WITHOUT the sentinel flush against
    * an EXPLICIT checkpoint and return that checkpoint's path. No
    * sentinel means the finite drain ends with the watermark at the
    * corpus's last event: every user whose session-expiry timer is
    * still ahead of that watermark keeps state — the live "open
    * session" population a 24/7 deployment holds at any instant,
    * frozen for inspection. Memoized per dial set (the checkpoint is
    * the artifact st24 reads).
    */
  private def openSessionCheckpoint(spark: SparkSession,
      dir: String, gapSeconds: Long, statePartitions: Int): String =
    stagedOpenSessionCkpt.getOrElseUpdate(
      s"$dir|$gapSeconds|$statePartitions",
      drainOpenSessions(spark,
        s"${orderedEventStage(spark, dir)}/f*",
        graft.Tables.events(spark, dir).schema,
        gapSeconds * 1000000L, statePartitions))

  /** The core st24 drain over an arbitrary staged file glob —
    * factored so the boundary-pinning specs can run it over PLANTED
    * slices. Returns the checkpoint path the statestore source
    * reads.
    */
  private[graft] def drainOpenSessions(spark: SparkSession,
      stageGlob: String, schema: org.apache.spark.sql.types.StructType,
      gapUs: Long, statePartitions: Int): String = {
    import org.apache.spark.sql.streaming.TimeMode
    val ckpt = graft.Staging.dir("graft_st24_ckpt_")
    val child = childSession(spark)
    child.conf.set("spark.sql.shuffle.partitions", statePartitions)
    child.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
    import child.implicits._
    val src = child.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", HarnessFilesPerTrigger)
      .parquet(stageGlob)
      .select(col("user_id"), col("ts"))
      .withWatermark("ts", "0 seconds")
      .as[EvTs]
    val ends = src
      .groupByKey(_.user_id)
      .transformWithState(
        new SessionEndProcessor(gapUs),
        TimeMode.EventTime(), OutputMode.Append())
    // the drain's OUTPUT is discarded (the checkpoint is the
    // artifact) — noop sink, not a memory sink that would collect
    // every session end into the driver (r16 verdict #3's cousin)
    val q = ends.toDF().writeStream
      .outputMode(OutputMode.Append())
      .format("noop")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ckpt
  }

  /** st24_state_census — CHECKPOINT STATE INTROSPECTION via Spark 4's
    * state data source (`spark.read.format("statestore")`): the ops
    * answer to "what is the stream holding and WHY is state
    * growing", read straight off the checkpoint a live query commits
    * — no code inside the stream, no debug rebuild, works on a
    * checkpoint whose job is down (the post-mortem case). Here it
    * reads the st23 sessionizer's `lastTs` ValueState: the OPEN
    * sessions — every user the deployment is still waiting on — with
    * the drain stopped at the corpus's natural end (no sentinel
    * flush), which is exactly the instant snapshot a 24/7 monitor
    * would show.
    *
    * The census is oracle-checkable because the held/fired split is
    * pure arithmetic (pinned by St24StateCensusSpec's planted
    * boundary users): the final watermark is
    * floor(max_event_us/1000) ms (0 s delay), a timer fires iff its
    * expiry ms ≤ that watermark, and the
    * processor registers expiry = (last_us+gap_us)/1000+1 — so a
    * user is HELD iff (last_us+gap_us)/1000+1 > max_us/1000, i.e.
    * the users whose session the corpus end leaves genuinely open.
    *
    * Scale: the read is partition-parallel over the state store's
    * own layout (one task per state partition), touches only the
    * last committed snapshot, and the result is open-session
    * cardinality — the 100 TB deployment's "state census" dashboard
    * query. Reference analog: inspecting the sqlite progress DB to
    * see which samples a crashed run was still mid-flight on
    * (tools.py:8-56) — here the progress store is the checkpoint
    * itself.
    */
  def stateCensus(spark: SparkSession, dir: String,
      gapSeconds: Long = 1800L, statePartitions: Int = 8): DataFrame = {
    val ckpt = openSessionCheckpoint(spark, dir, gapSeconds,
      statePartitions)
    spark.read.format("statestore")
      .option("stateVarName", "lastTs")
      .load(ckpt)
      .select(col("key.value").as("user_id"),
        col("value.value").as("open_last_us"))
  }

  private val stagedJoinCkpt =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Drain st18's symmetric join (inner, NO sentinel) against an
    * EXPLICIT checkpoint and return its path: the drain stops at the
    * corpus's last real event, so the four join state stores hold
    * exactly the live population a 24/7 attribution join carries at
    * any instant — frozen for st26's census. Memoized per dial set
    * (the checkpoint is the artifact, st24's discipline).
    */
  private def joinStateCheckpoint(spark: SparkSession,
      dir: String, horizonHours: Long = 24L, delay: String = "1 hour",
      clickType: String = "click", purchaseType: String = "purchase",
      statePartitions: Int = 8): String =
    stagedJoinCkpt.getOrElseUpdate(
      s"$dir|$horizonHours|$delay|$clickType|$purchaseType|$statePartitions", {
        val ckpt = graft.Staging.dir("graft_st26_ckpt_")
        val child = childSession(spark)
        child.conf.set("spark.sql.shuffle.partitions",
          statePartitions.toString)
        val sink = s"st26_mem_${System.nanoTime()}"
        val q = streamJoinSides(child, dir, horizonHours, delay,
            clickType, purchaseType, "inner")
          .writeStream
          .outputMode(OutputMode.Append())
          .format("memory")
          .queryName(sink)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        ckpt
      })

  /** st26_join_state_census — st24's checkpoint introspection over
    * the state the 100 TB deployment actually worries about: the
    * SYMMETRIC STREAM-STREAM JOIN's buffered rows (st18/st19 keep
    * four state stores per shuffle partition; their growth is what
    * pages an on-call). The state source reads each join side's
    * buffered rows straight off the committed checkpoint
    * (`joinSide` = left/right — no code inside the stream, works on
    * a down job), and the census aggregates them to the dashboard
    * row: per side, rows held, distinct users, and the held
    * event-time span.
    *
    * Oracle-checkable because the held set is pure watermark
    * arithmetic, checked on three corpora (sf0.001 by
    * St26JoinStateCensusSpec; sf0.01 — which gates on the OPPOSITE
    * side — and hostile by the oracle, CORRECTNESS_r18.json and
    * CORRECTNESS_hostile_r18.json): each
    * withWatermark node tracks ITS OWN max event time (ms-floored),
    * so the global watermark of the final eviction is
    * W = floor(min(max_click_us, max_purchase_us)/1000)·1000 −
    * delay_us — the LAGGING side gates, exactly the semantics a
    * 24/7 deployment lives with when one feed stalls (the census
    * then shows the other side's state ballooning, which is the
    * dashboard's whole point). The join condition
    * p_ts ∈ [c_ts, c_ts + horizon] bounds each side's usefulness: a
    * click cannot match any future purchase once W > c_ts + horizon,
    * a purchase once W > p_ts — so held(click) ⟺ c_ts + horizon ≥ W
    * and held(purchase) ⟺ p_ts ≥ W, which DuckDB replays over the
    * events table. NULL-ts rows never buffer (the watermark column
    * drops them); NULL-user rows never buffer either — the inner
    * join's inferred IsNotNull on the equi key filters them before
    * the state store (pinned by St26JoinStateCensusSpec's planted
    * rows) — so the oracle's held sets carry `user_id IS NOT NULL`
    * too.
    *
    * Scale: the read is partition-parallel over the stores' own
    * layout, touches the last committed snapshot only, and the
    * output is #sides rows. Reference analog: tools.py:8-56's
    * progress DB read on a crashed run — "what was still in flight".
    */
  def joinStateCensus(spark: SparkSession, dir: String,
      horizonHours: Long = 24L, delay: String = "1 hour",
      clickType: String = "click", purchaseType: String = "purchase",
      statePartitions: Int = 8): DataFrame = {
    val ckpt = joinStateCheckpoint(spark, dir, horizonHours, delay,
      clickType, purchaseType, statePartitions)
    def side(name: String, pre: String, label: String): DataFrame =
      spark.read.format("statestore")
        .option("joinSide", name)
        .load(ckpt)
        .select(lit(label).as("side"),
          col(s"value.${pre}_user").as("user_id"),
          graft.Tables.epochUs(col(s"value.${pre}_ts")).as("ts_us"))
    side("left", "c", clickType)
      .unionByName(side("right", "p", purchaseType))
      .groupBy(col("side"))
      .agg(count(lit(1)).as("n_held"),
        count_distinct(col("user_id")).as("n_users"),
        min(col("ts_us")).as("min_ts_us"),
        max(col("ts_us")).as("max_ts_us"))
  }

  def streamSessionTimers(spark: SparkSession, dir: String,
      gapSeconds: Long = 1800L, statePartitions: Int = 8): DataFrame = {
    import org.apache.spark.sql.streaming.TimeMode
    val schema = graft.Tables.events(spark, dir).schema
    val stage = sentinelEventStage(spark, dir, "click", "purchase")
    // transformWithState requires the RocksDB state store; the
    // partition sizing is st18's dial. Both confs live on an
    // isolated child session (childSession) so nothing planned
    // concurrently on the shared session inherits them.
    val child = childSession(spark)
    child.conf.set("spark.sql.shuffle.partitions", statePartitions)
    child.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
    // changelog checkpointing: each batch commits its state CHANGES;
    // full RocksDB snapshots amortize in the background instead of
    // being taken synchronously per store per batch. On the sf10
    // harness it measured NEUTRAL (32.2 vs 32.9 s — the r13 WATCH
    // item's cost is the per-batch timer sweep, NOT snapshotting;
    // the memory-sink collect that used to pollute that measurement
    // was replaced by the file sink below, r16 verdict #3), but it
    // is the production-correct durability mode at this state
    // cardinality, so it stays on.
    child.conf.set("spark.sql.streaming.stateStore.rocksdb." +
      "changelogCheckpointing.enabled", "true")
    import child.implicits._
    val src = child.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", HarnessFilesPerTrigger)
      .parquet(s"$stage/f*")
      .select(col("user_id"), col("ts"))
      .withWatermark("ts", "0 seconds")
      .as[EvTs]
    val ends = src
      .groupByKey(_.user_id)
      .transformWithState(new SessionEndProcessor(gapSeconds * 1000000L),
        TimeMode.EventTime(), OutputMode.Append())
    // FILE sink + batch read-back, NOT a memory sink (r16 verdict
    // #3): the memory sink collects every emitted session end into
    // the DRIVER — ~1M rows at sf10, a literal driver-side collect
    // sitting on the measured path, and exactly what a 24/7
    // deployment would never do. The parquet sink commits each
    // micro-batch's output where it was computed (executor-side,
    // exactly-once via _spark_metadata), which is the production
    // shape; the read-back is an ordinary distributed scan.
    val out = graft.Staging.dir("graft_st23_out_")
    val q = ends.toDF().writeStream
      .outputMode(OutputMode.Append())
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // explicit schema: a zero-row drain leaves no data files to infer
    // from, and inference would cost a footer pass besides
    child.read.schema("user_id BIGINT, session_end_us BIGINT")
      .parquet(s"$out/data")
      .filter(col("user_id") >= 0) // drop the sentinel's open session
      .select(col("user_id"), col("session_end_us"))
  }

  private val stagedAnnIngest =
    scala.collection.concurrent.TrieMap.empty[String, (String, Int)]

  /** st27_stream_ann_ingest — k31's durable ANN index maintained by
    * a LIVE vector feed: the streaming twin that closes the family
    * (st16 maintains the bloom index under CDC, st22 admits blobs,
    * this lands embedding batches). The base slice trains and lands
    * v1 once (build-once, k31's path); then the arrival slices
    * stream in one file per trigger and each micro-batch runs the
    * O(batch) append primitive — assign to the LANDED centroids,
    * encode under the LANDED codebook, land only the batch's own
    * codes tree `_ann/b<id>` + manifest v(2+id). Writes are
    * overwrite-idempotent on the batch's own paths (st09's retry
    * recipe); versions advance with batch ids, so every intermediate
    * manifest is a consistent queryable index — the continuous-
    * ingest contract a 100 TB embedding store actually runs
    * (per-batch cost ∝ the batch, never the index).
    *
    * Registered query: the LOSSLESS-dial fetch through the FINAL
    * streamed manifest ≡ exact brute force over the whole corpus —
    * s06/k31's anchor trick, same oracle (the twin discipline:
    * st11≡k11, k30≡k12). The spec additionally pins stream-built ≡
    * batch-built at the REGISTERED lossy dials row-for-row (same
    * landed quantizer ⇒ identical codes ⇒ identical ADC ordering,
    * regardless of how the arrivals were batched).
    */
  def streamAnnIngest(spark: SparkSession, dir: String,
      slices: Int = 4): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir)
    val (annDir, lastV) = stagedAnnIngest.getOrElseUpdate(s"$dir|$slices", {
      val annDir = graft.Staging.dir("graft_st27_")
      graft.sources.AnnIndexStore.buildBase(
        emb.filter(pmod(col("vec_id"), lit(4L)) =!= 3L), annDir)
      // arrival slices staged vec_id-ordered, one file per trigger
      val stage = graft.Staging.dir("graft_st27_stage_")
      val arrivals = emb.filter(pmod(col("vec_id"), lit(4L)) === 3L)
      (0 until slices).foreach { i =>
        arrivals.filter(pmod(expr("vec_id div 4"), lit(slices.toLong))
            === i.toLong)
          .coalesce(1).write.mode("overwrite").parquet(s"$stage/f$i")
      }
      val sink = s"st27_noop_${System.nanoTime()}"
      val q = spark.readStream
        .schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$stage/f*")
        .writeStream
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          graft.sources.AnnIndexStore.appendBatch(
            batch, annDir, s"b$bid", version = 2 + bid.toInt)
        }
        .queryName(sink)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      (annDir, 1 + slices)
    })
    graft.sources.AnnIndexStore.fetch(spark, emb, annDir, lastV,
      nprobe = graft.sources.AnnIndexStore.KClusters,
      rerankDepth = Int.MaxValue)
  }

  private val stagedCdf =
    scala.collection.concurrent.TrieMap.empty[String, (String, String, String)]

  /** st25_stream_change_feed — a STREAMING consumer of k28's change
    * feed maintaining a derived aggregate incrementally: the
    * materialized-view-over-CDF pattern (Delta CDF streaming read /
    * Flink changelog consumption). The consumer bootstraps from a
    * one-time v1 snapshot summary, then each micro-batch applies one
    * version's delta ARITHMETICALLY — insert: (+1, +doc_id, +chars),
    * delete: (−1, −doc_id, −chars), update: (0, 0, Δchars) — so
    * per-batch work is O(|delta| + #langs), never a table rescan.
    * After draining the feed the maintained state must equal a
    * direct aggregate of the LATEST version (spec-pinned; the oracle
    * replays the final head relationally — k22's merged2 state,
    * since commit 3 reuses the clone changelog's arithmetic).
    *
    * The delta arithmetic is ADDITIVE, hence commutative and
    * batching-independent: any re-chunking of the feed folds to the
    * same state — the delete-feed/constraint-gate determinism
    * argument (st20/st21), extended to a stateful consumer. Each
    * batch writes summary s_b as a pure function of s_{b−1} and its
    * delta (st09's replay recipe: a retried batch recomputes the
    * same artifact), and the feed's −1-coded missing images map to 0
    * via greatest(·,0), which also lands NULL-text chars as 0 on
    * both engines. At 100 TB this is the difference between a
    * dashboard that updates with each commit and one that rescans
    * the table: the consumer's cost tracks the CHANGE RATE, not the
    * table size.
    */
  def streamChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TimeTravel
    val (_, feed, boot) = stagedCdf.getOrElseUpdate(dir, {
      val root = graft.Staging.dir("graft_st25_")
      val cat = s"$root/catalog"
      val docs = graft.Tables.documents(spark, dir)
      TimeTravel.stageBase(docs, cat)
      TimeTravel.commitChanges(docs, cat)
      // commit 3 = the clone changelog's arithmetic applied to the
      // v2 head (k22's divergence recipe as a third linear commit)
      TimeTravel.commitVersion(spark, cat,
        TimeTravel.cloneChangelog(TimeTravel.readAt(spark, cat, 2)), "c3")
      val feed = s"$root/feed"
      Seq(2, 3).foreach { v =>
        TimeTravel.changesBetween(spark, cat, v - 1, v)
          .coalesce(1).write.mode("overwrite").parquet(s"$feed/a$v")
      }
      // one-time snapshot bootstrap — the standard CDF-consumer start
      val boot = s"$root/boot"
      TimeTravel.readAt(spark, cat, 1)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("key_checksum"),
          coalesce(sum(length(col("text"))).cast("long"), lit(0L))
            .as("chars_checksum"))
        .coalesce(1).write.mode("overwrite").parquet(boot)
      (cat, feed, boot)
    })
    val sumRun = graft.Staging.dir("graft_st25_sum_")
    val src = spark.readStream
      // the producer's own schema constant — a feed-schema change
      // cannot silently desynchronize this consumer
      .schema(graft.sources.TimeTravel.ChangeFeedSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$feed/a*")
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val ss = batch.sparkSession
        val prev = if (bid == 0L) boot else s"$sumRun/s${bid - 1}"
        val delta = batch.groupBy(col("lang")).agg(
          sum(when(col("op") === "insert", 1L)
            .when(col("op") === "delete", -1L).otherwise(0L))
            .cast("long").as("n_docs"),
          sum(when(col("op") === "insert", col("doc_id"))
            .when(col("op") === "delete", -col("doc_id"))
            .otherwise(lit(0L))).cast("long").as("key_checksum"),
          // −1-coded missing image → 0; NULL-text length −1 → 0 too,
          // matching sum(length(text))'s null-skipping on both sides
          sum(greatest(col("chars_after"), lit(0L)) -
            greatest(col("chars_before"), lit(0L)))
            .cast("long").as("chars_checksum"))
        ss.read.parquet(prev).unionByName(delta)
          .groupBy(col("lang"))
          .agg(sum(col("n_docs")).cast("long").as("n_docs"),
            sum(col("key_checksum")).cast("long").as("key_checksum"),
            sum(col("chars_checksum")).cast("long").as("chars_checksum"))
          .coalesce(1).write.mode("overwrite").parquet(s"$sumRun/s$bid")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val sumPath = new org.apache.hadoop.fs.Path(sumRun)
    val fs = sumPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val last = fs.listStatus(sumPath)
      .map(_.getPath.getName).filter(_.startsWith("s"))
      .map(_.stripPrefix("s").toInt).max
    spark.read.parquet(s"$sumRun/s$last")
      // a partition deleted down to zero rows leaves a zero counter —
      // absent from any relational head, so it must not be emitted
      .filter(col("n_docs") =!= 0L)
      .select(col("lang"), col("n_docs"), col("key_checksum"),
        col("chars_checksum"))
  }
}
