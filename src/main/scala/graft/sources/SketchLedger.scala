package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** k13_sketch_ledger — a DURABLE sketch ledger: per-(day, event_type)
  * DataSketches HLL sketch BYTES materialized once as a table, so
  * every distinct-count readout — daily, rolling 7-day, all-time —
  * folds STORED sketches (`hll_union_agg`) over metadata-scale rows
  * instead of rescanning raw events. This is the pattern that makes
  * "unique users, rolling 7 days, every day" affordable at 100 TB:
  * q19's `approx_count_distinct` answers ONE question per scan and
  * its sketch dies with the query; the ledger pays one scan per
  * ingest day and answers every window after that from
  * days × types rows. (Reference analog: the sqlite progress ledger
  * the reference folds run state into instead of rescanning outputs,
  * /root/reference/tools.py:8-56.)
  *
  * Scale/shape notes:
  *  - build: one groupBy (day, type) over the day's events — partial
  *    aggregation folds each map partition into a fixed-size HLL
  *    buffer (the q43 sketch discipline); the ledger row carries the
  *    sketch blob (~2-32 KB at lgK 12) + exact row count.
  *  - readout: the rolling window is an EQUI join — each ledger day
  *    explodes to the `windowDays` target days it contributes to
  *    (q38's replica discipline, fan-out = window length on METADATA
  *    rows), never a `between` range join (which would plan a BNLJ).
  *  - built once per (session, cacheKey) (`Staging.memo`): repeat
  *    readouts hit the parquet ledger.
  *
  * Rows-only by declaration (DataSketches estimates are not DuckDB-
  * replayable); the spec bounds every estimate against exact
  * count(DISTINCT) and pins build-once behavior.
  */
object SketchLedger {

  /** The materialized ledger: (day, event_type, sk, n_events). */
  private[graft] def ledger(events: DataFrame,
      cacheKey: String): DataFrame = {
    val spark = events.sparkSession
    val dir = graft.Staging.memo("k13", cacheKey, spark) {
      val d = graft.Staging.dir("graft_k13_")
      // Tables.events drops null-ts/null-user rows AT THE LOADER —
      // no re-filter here.
      events
        .select(to_date(col("ts")).as("day"), col("event_type"),
          col("user_id"))
        .groupBy(col("day"), col("event_type"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"),
          count(lit(1)).as("n_events"))
        .write.mode("overwrite").parquet(d)
      d
    }
    spark.read.parquet(dir)
  }

  /** The monitoring readout, computed ENTIRELY from the ledger:
    * per (event_type, day) — exact event count, estimated daily
    * uniques, and rolling `windowDays` estimated uniques + event
    * count. Sketch blobs never leave the executor: the union
    * aggregates fold them where they sit.
    */
  def rollingUniques(events: DataFrame, cacheKey: String,
      windowDays: Int = 7): DataFrame =
    rollingFromLedger(ledger(events, cacheKey), windowDays)

  /** The readout over ANY (day, event_type, sk, n_events) ledger —
    * the staged batch build above, or st14's fold of per-micro-batch
    * partial sketches (sketch mergeability is exactly what makes the
    * two ledgers interchangeable here).
    */
  private[graft] def rollingFromLedger(led: DataFrame,
      windowDays: Int): DataFrame = {
    // each source day contributes to target days d .. d+window-1
    val contrib = led.select(
      explode(sequence(lit(0), lit(windowDays - 1))).as("i"),
      col("day"), col("event_type"), col("sk"), col("n_events"))
      .select(date_add(col("day"), col("i")).as("day"),
        col("event_type"), col("sk"), col("n_events"))
    val windowed = contrib
      .groupBy(col("day"), col("event_type"))
      .agg(
        hll_sketch_estimate(hll_union_agg(col("sk")))
          .as("uniques_roll"),
        sum(col("n_events")).as("n_events_roll"))
    // keep only (day, type) pairs that actually observed events —
    // the explode manufactures post-horizon partial windows
    led
      .select(col("day"), col("event_type"),
        hll_sketch_estimate(col("sk")).as("uniques_day"),
        col("n_events"))
      .join(windowed, Seq("day", "event_type"))
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_events"), col("uniques_day"),
        col("n_events_roll"), col("uniques_roll"))
  }
}
