package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.PartitionedSink

class PartitionedSinkSpec extends AnyFunSuite {
  import TestSpark._

  test("k01: round trip conserves rows and checksums per partition") {
    val orders = Tables.orders(spark, sf)
    val summary = PartitionedSink.ordersByPriority(orders).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val direct = orders.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("ck")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(summary === direct)
  }

  test("sink layout: one directory per key, partition pruning on read") {
    val out = graft.Staging.dir("graft_sink_spec_")
    val orders = Tables.orders(spark, sf)
    // AQE legitimately coalesces the salted writers at this toy scale
    // (everything fits one advisory-sized partition); pin coalescing
    // off so the f-writers-per-value mechanism itself is observable.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try PartitionedSink.writeAndSummarize(
      orders, "o_orderpriority", "o_orderkey", out).collect()
    finally {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
    // `_`-prefixed dirs (the completion manifest) are metadata, not
    // partitions — Spark's file index skips them on read, so the
    // layout assertions do too.
    val dirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName)
      .filterNot(_.startsWith("_")).toSet
    val nPriorities = orders.select("o_orderpriority").distinct.count()
    assert(dirs.size === nPriorities)
    assert(dirs.forall(_.startsWith("o_orderpriority=")))
    // a filter on the partition column must prune at planning time
    val pruned = spark.read.parquet(out)
      .filter(col("o_orderpriority") === "1-URGENT")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.contains("o_orderpriority"))
    assert(pruned.count() ===
      orders.filter(col("o_orderpriority") === "1-URGENT").count())
    // salted writers: each partition VALUE is written by >1 task
    // (multiple files per directory), not one 20-TB-at-scale writer —
    // while the file count stays bounded at f × values, not
    // tasks × values.
    val filesPerDir = new java.io.File(out).listFiles()
      .filter(d => d.isDirectory && !d.getName.startsWith("_"))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(filesPerDir.forall(_ >= 2),
      s"every partition value should get multiple writers: ${filesPerDir.toSeq}")
    assert(filesPerDir.forall(_ <= 4), "file count must stay capped at f")
  }

  test("q22: resume skips landed partitions and equals full recompute") {
    val orders = Tables.orders(spark, sf)
    val out = graft.Staging.dir("graft_resume_spec_")
    // prior run landed two priority classes
    PartitionedSink.writeAndSummarize(
      orders.filter(col("o_orderpriority") < "3"),
      "o_orderpriority", "o_orderkey", out).collect()
    val landedFiles = new java.io.File(out).listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles()).map(_.getName).toSet
    val resumed = PartitionedSink.resumeSummarize(
      orders, "o_orderpriority", "o_orderkey", out).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // landed partitions were SKIPPED: their files are untouched
    val afterFiles = new java.io.File(out).listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles()).map(_.getName).toSet
    assert(landedFiles.subsetOf(afterFiles))
    // and the tree summary equals a from-scratch recompute
    val direct = orders.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("ck")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(resumed === direct)
  }

  test("q22: a partial partition without a completion record is recomputed") {
    val orders = Tables.orders(spark, sf)
    val out = graft.Staging.dir("graft_resume_crash_")
    // A prior run COMPLETED priorities < "3" (manifest rows present)…
    PartitionedSink.writeAndSummarize(
      orders.filter(col("o_orderpriority") < "3"),
      "o_orderpriority", "o_orderkey", out).collect()
    // …and then CRASHED mid-write of 3-MEDIUM: a partial directory
    // (strict subset of the value's rows) exists, but no manifest row
    // ever landed for it. Directory presence must NOT count as done.
    orders.filter(col("o_orderpriority") === "3-MEDIUM")
      .limit(7).drop("o_orderpriority")
      .write.parquet(out + "/o_orderpriority=3-MEDIUM")
    val resumed = PartitionedSink.resumeSummarize(
      orders, "o_orderpriority", "o_orderkey", out).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val direct = orders.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("ck")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(resumed === direct,
      "the truncated partition must be recomputed whole — its partial " +
        "rows neither trusted (row loss) nor appended to (row doubling)")
  }

  test("k01: the input is evaluated once; the manifest holds the landed values") {
    val orders = Tables.orders(spark, sf)
    val out = graft.Staging.dir("graft_sink_once_")
    // every row the input produces passes through this UDF once per
    // evaluation of the input
    val rows = spark.sparkContext.longAccumulator("sink_input_rows")
    val tag = udf { (p: String) => rows.add(1L); p }.asNondeterministic()
    val summary = PartitionedSink.writeAndSummarize(
      orders.withColumn("o_orderpriority", tag(col("o_orderpriority"))),
      "o_orderpriority", "o_orderkey", out).collect()
    assert(rows.value === orders.count(),
      "writeAndSummarize must evaluate its input once (the write), " +
        "not again for the completion manifest")
    val landed = spark.read.parquet(out).select("o_orderpriority")
      .distinct().collect().map(_.getString(0)).toSeq.sorted
    val manifest = spark.read.parquet(out + "/_graft_manifest")
      .collect().map(_.getString(0)).toSeq.sorted
    assert(manifest === landed,
      "one completion record per landed partition value, no other")
    assert(summary.map(_.getString(0)).toSeq.sorted === landed)
  }

  test("q22: resume records no completion for a stale value it was not given") {
    val orders = Tables.orders(spark, sf)
    val out = graft.Staging.dir("graft_resume_stale_")
    PartitionedSink.writeAndSummarize(
      orders.filter(col("o_orderpriority") < "3"),
      "o_orderpriority", "o_orderkey", out).collect()
    // a crashed writer left a partial 3-MEDIUM directory, and this
    // resume is not asked for 3-MEDIUM at all: the directory is in the
    // tree, but nothing completed it
    orders.filter(col("o_orderpriority") === "3-MEDIUM")
      .limit(7).drop("o_orderpriority")
      .write.parquet(out + "/o_orderpriority=3-MEDIUM")
    val pending = orders.filter(col("o_orderpriority") =!= "3-MEDIUM")
    PartitionedSink.resumeSummarize(
      pending, "o_orderpriority", "o_orderkey", out).collect()
    val manifest = spark.read.parquet(out + "/_graft_manifest")
      .collect().map(_.getString(0)).toSet
    assert(!manifest.contains("3-MEDIUM"),
      "a partial directory must never gain a completion record")
    assert(manifest === pending.select("o_orderpriority").distinct()
      .collect().map(_.getString(0)).toSet)
  }
}
