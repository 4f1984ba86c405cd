package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

class St26JoinStateCensusSpec extends AnyFunSuite {
  import TestSpark._

  private def censusMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap

  /** The batch derivation of the held sets: global
    * watermark = ms-floored min over sides of (side max − delay);
    * click held iff ts + horizon ≥ W, purchase held iff ts ≥ W.
    */
  private def derive(dir: String): Map[String, (Long, Long, Long, Long)] = {
    // raw parquet, not Tables.events: the census's stream reads raw
    // files, and the oracle's filters (ts/user not null) are the
    // buffering contract the planted test pins, not loader behavior
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("event_type"), col("user_id"),
        Tables.epochUs(col("ts")).as("ts_us"))
    def mx(tp: String): Long = ev.filter(col("event_type") === tp)
      .agg(max(col("ts_us"))).collect()(0).getLong(0)
    val w = (math.min(mx("click"), mx("purchase")) / 1000L) * 1000L -
      3600L * 1000000L
    val horizon = 24L * 3600 * 1000000L
    val held = ev.filter(col("event_type") === "click" &&
        col("ts_us") + horizon >= w)
      .select(lit("click").as("side"), col("user_id"), col("ts_us"))
      .unionByName(ev.filter(col("event_type") === "purchase" &&
          col("ts_us") >= w)
        .select(lit("purchase").as("side"), col("user_id"), col("ts_us")))
    censusMap(held.groupBy(col("side"))
      .agg(count(lit(1)).as("n_held"),
        count_distinct(col("user_id")).as("n_users"),
        min(col("ts_us")).as("min_ts_us"),
        max(col("ts_us")).as("max_ts_us")))
  }

  test("st26: checkpoint census equals the watermark-arithmetic " +
      "derivation on the real corpus") {
    val got = censusMap(StreamOps.joinStateCensus(spark, sf))
    assert(got === derive(sf))
    assert(got("click")._1 > 0 && got("purchase")._1 > 0,
      "the drain must leave live state on both sides")
  }

  test("st26: planted boundary rows — held at the eviction bound, " +
      "gone 1ms past it; null-ts and null-user never buffer") {
    import spark.implicits._
    val us = 1000000L
    val t0 = 1706650000000000L            // purchase max (ms-aligned)
    val maxClick = t0 + 5 * 3600 * us     // clicks lead → purchases gate
    val w = t0 - 3600 * us                // min side max − 1h delay
    val horizon = 24L * 3600 * us
    def ts(u: Long) = new java.sql.Timestamp(u / 1000L)
    val rows = Seq(
      // clicks
      (1L, Some(ts(w - horizon)), Some(10L), Some("click")),      // held: bound == W
      (2L, Some(ts(w - horizon - 1000L)), Some(11L), Some("click")), // evicted: 1ms past
      (3L, Some(ts(maxClick)), Some(12L), Some("click")),         // held (side max)
      (4L, Option.empty[java.sql.Timestamp], Some(13L), Some("click")), // null ts: never buffers
      // purchases
      (5L, Some(ts(w)), Some(20L), Some("purchase")),             // held: ts == W
      (6L, Some(ts(w - 1000L)), Some(21L), Some("purchase")),     // evicted
      (7L, Some(ts(t0)), Some(22L), Some("purchase")),            // held (side max)
      (8L, Some(ts(t0 - 1800 * us)), Option.empty[Long],
        Some("purchase"))                   // null user: never buffers
    ).toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", lit(1.0))
      .withColumn("props", lit(null).cast("string"))
    val dir = graft.Staging.dir("graft_st26spec_")
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = censusMap(StreamOps.joinStateCensus(spark, dir))
    assert(got("click") === ((2L, 2L, w - horizon, maxClick)),
      s"click census: ${got.get("click")}")
    assert(got("purchase") === ((2L, 2L, w, t0)),
      s"purchase census: ${got.get("purchase")}")
    // and the derivation reproduces the same census (oracle twin)
    assert(got === derive(dir))
  }
}
