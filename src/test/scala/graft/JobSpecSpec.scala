package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The parameterization contract: the SAME compiled binary runs an
  * operator at two different thresholds because the thresholds came
  * from a spec FILE — mirroring the reference's job form
  * (parserTools.py parseForm), where macs2's q lives in the form,
  * not the code.
  */
class JobSpecSpec extends AnyFunSuite {
  import TestSpark._

  private def writeSpec(lines: String*): String = {
    val p = Paths.get(graft.Staging.dir("graft_jobspec_"), "jobs.jsonl")
    Files.createDirectories(p.getParent)
    Files.writeString(p, lines.mkString("\n"))
    p.toString
  }

  test("one operator, two configs, zero recompiles (q24's qMax)") {
    val spec = writeSpec(
      """{"op": "q24_peak_fdr", "params": {"qMax": "0.01"}}""",
      """{"op": "q24_peak_fdr", "params": {"qMax": "1.0"}}""")
    val results = JobSpec.runAll(spark, sf, spec)
    assert(results.map(_._1) === Seq("q24_peak_fdr", "q24_peak_fdr"))
    val strict = results(0)._2.count()
    val loose = results(1)._2.count()
    // a maximally loose FDR ceiling admits every scored bin, so it
    // must find strictly more peaks than the strict default does on
    // the uniform demo stream (which yields none at q<=0.01)
    assert(loose > strict,
      s"qMax=1.0 found $loose peaks vs $strict at 0.01 — dial inert?")
  }

  test("no-params job equals the registered query (defaults mirror signatures)") {
    val spec = writeSpec("""{"op": "d04_ngram_jaccard"}""")
    val viaSpec = JobSpec.runAll(spark, sf, spec).head._2
      .collect().map(_.toSeq).toSet
    val registered = SparkEntry.queries("d04_ngram_jaccard")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(viaSpec === registered)
  }

  test("a different d04 tau changes the pair set monotonically") {
    val spec = writeSpec(
      """{"op": "d04_ngram_jaccard", "params": {"tau": "0.3"}}""",
      """{"op": "d04_ngram_jaccard", "params": {"tau": "0.9"}}""")
    val Seq(lo, hi) = JobSpec.runAll(spark, sf, spec).map(_._2.count())
    assert(lo >= hi, "lower tau must admit a superset of pairs")
    assert(lo > hi, "the demo corpus separates tau=0.3 from 0.9")
  }

  test("s02 nprobe dial reaches the IVF identity: all clusters ≡ brute force") {
    val spec = writeSpec(
      """{"op": "s02_ann_ivf", "params": {"nprobe": "10"}}""")
    // compare on the neighbor pairs (s02 carries an extra cluster
    // column the exact scan doesn't have)
    val viaSpec = JobSpec.runAll(spark, sf, spec).head._2
      .select("q_id", "n_id").collect().map(_.toSeq).toSet
    val exact = SparkEntry.queries("s01_ann_bruteforce")(spark, sf)
      .select("q_id", "n_id").collect().map(_.toSeq).toSet
    assert(viaSpec === exact,
      "nprobe = kClusters must reproduce the exact scan's neighbor set")
  }

  test("p04 per-source rates arrive as rate.<source> dials") {
    val spec = writeSpec(
      """{"op": "p04_mixture_sample", "params": {"rate.src0": "1000", "defaultPermille": "0"}}""",
      """{"op": "p04_mixture_sample", "params": {"rate.src0": "0", "defaultPermille": "0"}}""")
    val Seq(all0, none) = JobSpec.runAll(spark, sf, spec).map(_._2)
    val src0Total = Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("source") === "src0").count()
    assert(all0.count() === src0Total,
      "rate.src0=1000 with default 0 must keep exactly the src0 slice")
    assert(none.count() === 0L)
  }

  test("p08 split ratios are config dials") {
    val spec = writeSpec(
      """{"op": "p08_split", "params": {"testPermille": "0", "valPermille": "0"}}""")
    val out = JobSpec.runAll(spark, sf, spec).head._2
    val splits = out.select("split").distinct().collect().map(_.getString(0))
    assert(splits.toSeq === Seq("train"),
      "zeroed ratios must route every doc to train")
  }

  test("k17 bloom sizing dials: exactness holds at an undersized index") {
    // words=4 (256 bits/file) is far under the ~10 bits/key rule for
    // this corpus — false positives explode, candidate reads grow,
    // and the ANSWER must not move (no false negatives at any
    // sizing + exact post-filter)
    val spec = writeSpec(
      """{"op": "k17_bloom_point_lookup", "params": {"words": "4"}}""")
    val undersized = JobSpec.runAll(spark, sf, spec).head._2
      .collect().map(_.toSeq).toSet
    val registered = SparkEntry.queries("k17_bloom_point_lookup")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(undersized === registered)
    assert(undersized.nonEmpty)
    // degenerate sizing must fail LOUDLY, not return an empty fetch
    val bad = writeSpec(
      """{"op": "k17_bloom_point_lookup", "params": {"hashes": "0"}}""")
    intercept[IllegalArgumentException] {
      JobSpec.runAll(spark, sf, bad).head._2.count()
    }
  }

  test("an unset statePartitions takes the session rule; a set one is kept") {
    // st26 memoizes its explicit checkpoint under the RESOLVED count,
    // so the staged entry names the count each job ran at
    val spec = writeSpec(
      """{"op": "st26_join_state_census"}""",
      """{"op": "st26_join_state_census", "params": {"statePartitions": "3"}}""")
    val Seq(unset, set) = JobSpec.runAll(spark, sf, spec)
      .map(_._2.collect().map(_.toSeq).toSet)
    assert(unset.nonEmpty && unset === set,
      "the census must not depend on the state partition count")
    def partitions(n: Int): Int = {
      val ckpt = graft.Staging.staged[String]("st26", sf, 24L, "1 hour",
        "click", "purchase", n)
      assert(ckpt.isDefined, s"no st26 checkpoint staged at $n partitions")
      new java.io.File(s"${ckpt.get}/state/0").listFiles()
        .count(p => p.isDirectory && p.getName.forall(_.isDigit))
    }
    val rule = math.min(8, spark.sparkContext.defaultParallelism)
    assert(partitions(rule) === rule)
    assert(partitions(3) === 3)
  }

  test("every configurable op is a registered query (dispatch stays honest)") {
    val registered = SparkEntry.queries.keySet
    val orphans = JobSpec.configurable -- registered
    assert(orphans.isEmpty,
      s"config-dispatchable ops with no registered query: $orphans")
    assert(JobSpec.configurable.nonEmpty)
  }

  test("unknown op and unknown dial both fail loudly") {
    val bad1 = writeSpec("""{"op": "nope_op"}""")
    intercept[IllegalArgumentException] {
      JobSpec.runAll(spark, sf, bad1)
    }
    val bad2 = writeSpec(
      """{"op": "q24_peak_fdr", "params": {"qmax": "0.5"}}""")
    intercept[IllegalArgumentException] {
      JobSpec.runAll(spark, sf, bad2).head._2.count()
    }
    // a typo'd repeated-field prefix must not silently become a
    // default-rate run
    val bad3 = writeSpec(
      """{"op": "p04_mixture_sample", "params": {"rates.src0": "500"}}""")
    intercept[IllegalArgumentException] {
      JobSpec.runAll(spark, sf, bad3).head._2.count()
    }
  }
}
