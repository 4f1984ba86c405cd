package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

/** st24_state_census — the statestore-source read over the st23
  * sessionizer's checkpoint: the planted test pins the EXACT
  * timer-expiry boundary the oracle arithmetic encodes (floor-ms
  * watermark, fire iff expiry ≤ watermark, expiry = (last+gap)/1000+1
  * — frozen here), on a multi-batch drain;
  * the corpus test pins census ≡ the independent batch derivation.
  */
class St24StateCensusSpec extends AnyFunSuite {
  import TestSpark._

  test("st24: planted boundary users pin the held/fired inequality, multi-batch") {
    import spark.implicits._
    // gap 10 s; u9's last event (100_000_777 us) drives the final
    // watermark = floor(.../1000) = 100_000 ms.
    //   u2 expiry = 100_000 ms (== wm)  -> must FIRE (cleared)
    //   u3 expiry = 100_001 ms (wm + 1) -> must HOLD
    //   u4 expiry =  99_999 ms (wm - 1) -> must FIRE
    //   u9 expiry far past wm           -> must HOLD
    val early = Seq((2L, 89_999_500L), (4L, 88_998_500L),
      (9L, 50_000_000L))
    val late = Seq((3L, 90_000_500L), (9L, 100_000_777L))
    val stage = graft.Staging.dir("graft_st24spec_")
    // four slices -> two micro-batches at HarnessFilesPerTrigger = 2
    Seq(early.take(2), early.drop(2), late.take(1), late.drop(1))
      .zipWithIndex.foreach { case (rows, i) =>
        rows.toDF("user_id", "us")
          .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
          .coalesce(1).write.mode("overwrite").parquet(s"$stage/f$i")
      }
    val sch = org.apache.spark.sql.types.StructType.fromDDL(
      "user_id BIGINT, ts TIMESTAMP")
    val ckpt = StreamOps.drainOpenSessions(spark, s"$stage/f*", sch,
      10L * 1000000L, 2)
    val open = spark.read.format("statestore")
      .option("stateVarName", "lastTs").load(ckpt)
      .select(col("key.value"), col("value.value"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(open === Set((3L, 90_000_500L), (9L, 100_000_777L)),
      s"boundary semantics drifted: $open")
    // genuinely multi-batch: the checkpoint committed >= 2 batches
    val commits = new java.io.File(s"$ckpt/commits").list()
      .count(!_.endsWith(".tmp"))
    assert(commits >= 2, s"drain must span multiple micro-batches: $commits")
  }

  test("st24: corpus census equals the independent batch arithmetic") {
    val census = SparkEntry.queries("st24_state_census")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val us = graft.Tables.epochUs(col("ts"))
    val ev = graft.Tables.events(spark, sf)
    val wmMs = ev.agg((max(us) / 1000L).cast("long"))
      .collect()(0).getLong(0)
    val want = ev.groupBy(col("user_id")).agg(max(us).as("last_us"))
      .filter((col("last_us") + 1800L * 1000000L) / 1000L + 1L > wmMs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(census.nonEmpty && census === want)
    // every open user's state is its true LAST event time (the state
    // var carries the max, not the latest-arrived)
    val lastBy = ev.groupBy(col("user_id")).agg(max(us).as("l"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    census.foreach { case (u, l) => assert(lastBy(u) === l) }
  }
}
