package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Corpus

class CorpusSpec extends AnyFunSuite {
  import TestSpark._

  test("p01: slices conserve the deduped survivor count") {
    val docs = Tables.documents(spark, sf)
    val out = Corpus.corpusClean(docs).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val q = r.getAs[Double]("avg_quality")
      assert(q >= 0.0 && q <= 1.0)
      assert(r.getAs[Long]("n_docs") > 0)
    }
    // survivors across slices = distinct normalized texts among docs
    // passing the quality gate (recomputed independently)
    val kept = graft.operators.TextAnalysis
      .qualityScore(docs, passthrough = Seq("text"))
      .filter(col("quality_score") >= 0.5)
      .select(graft.functions.TextOps.normText(col("text")).as("k"))
      .distinct.count()
    assert(out.map(_.getAs[Long]("n_docs")).sum === kept)
  }

  test("p01: dedup is aggregation-based, no window sort") {
    val plan = Corpus.corpusClean(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "min_by, not row_number, at scale")
  }

  test("p02: sampling is deterministic, near-rate, and stratified") {
    val docs = Tables.documents(spark, sf)
    val a = Corpus.stratifiedSample(docs).collect()
      .map(_.getLong(0)).toSet
    val b = Corpus.stratifiedSample(docs.repartition(7)).collect()
      .map(_.getLong(0)).toSet
    assert(a === b, "sample must not depend on partitioning")
    val total = docs.count().toDouble
    assert(math.abs(a.size / total - 0.2) < 0.05)
    // every stratum is represented
    val langs = Corpus.stratifiedSample(docs).select("lang").distinct.count()
    assert(langs === docs.select("lang").distinct.count())
  }

  test("q19: sketch distinct within rsd envelope of exact") {
    val orders = Tables.orders(spark, sf)
    val approx = Corpus.approxMetrics(orders).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("approx_customers")).toMap
    val exact = orders.groupBy("o_orderstatus")
      .agg(countDistinct("o_custkey").as("n")).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (k, n) =>
      val err = math.abs(approx(k) - n).toDouble / n
      assert(err < 0.1, s"status $k: approx ${approx(k)} vs exact $n")
    }
  }

  test("q19: plan is a single partial+final aggregate, no expand") {
    val plan = Corpus.approxMetrics(Tables.orders(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      "HLL sketch must not use the exact-distinct expand+reshuffle")
  }

  test("q20: approx percentiles within rank-error bound of exact") {
    val docs = Tables.documents(spark, sf)
    val approx = Corpus.approxQuantiles(docs).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Number]("p50_chars").longValue(),
          r.getAs[Number]("p90_chars").longValue(),
          r.getAs[Number]("p99_chars").longValue())).toMap
    docs.select("lang").distinct.collect().map(_.getString(0)).foreach { l =>
      val vals = docs.filter(s"lang = '$l'")
        .select("n_chars").collect().map(_.getAs[Number](0).longValue())
        .sorted
      def exactP(p: Double): Long = vals(((vals.length - 1) * p).toInt)
      val (p50, p90, p99) = approx(l)
      // accuracy=10000 -> rank error <= N/10000 < 1 rank at test scale,
      // so the sketch must return a value between the adjacent exact
      // ranks; allow one rank of slack.
      def near(got: Long, p: Double): Boolean = {
        val lo = vals(math.max(0, ((vals.length - 1) * p).toInt - 1))
        val hi = vals(math.min(vals.length - 1,
          ((vals.length - 1) * p).toInt + 1))
        got >= lo && got <= hi
      }
      assert(near(p50, 0.5), s"$l p50 $p50 vs exact ${exactP(0.5)}")
      assert(near(p90, 0.9), s"$l p90 $p90 vs exact ${exactP(0.9)}")
      assert(near(p99, 0.99), s"$l p99 $p99 vs exact ${exactP(0.99)}")
    }
  }

  test("q20: sketch aggregates without a per-group sort") {
    val plan = Corpus.approxQuantiles(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Sort ") && !plan.contains("Window"),
      "percentile sketch must not sort per group")
  }

  test("p03: exact dups removed first, fuzzy chain keeps one representative") {
    import spark.implicits._
    // docs 1/2: byte-identical (exact layer keeps 1); 10~11~12: a
    // transitive shingle-overlap chain at the default tau=0.6 where
    // 10~12 is NOT a direct pair (J≈0.49) — the cluster exists only
    // through d07's closure; 50: unique.
    val x = (1 to 50).map(i => s"zzz$i").mkString(" ")
    val docs = Seq(
      (1L, x), (2L, x),
      (10L, (1 to 60).map(i => s"tok$i").mkString(" ")),
      (11L, (11 to 70).map(i => s"tok$i").mkString(" ")),
      (12L, (21 to 80).map(i => s"tok$i").mkString(" ")),
      (50L, (1 to 60).map(i => s"oth$i").mkString(" "))
    ).toDF("doc_id", "text")
    val kept = Corpus.dedupCorpus(docs).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(kept === Set((1L, None), (10L, Some(10L)), (50L, None)))
  }

  test("t07: concat-then-chunk layout — planted straddle and stratum isolation") {
    import spark.implicits._
    // source A: docs of 4/5/6 tokens, budget 8. Offsets 0,4,9:
    // doc 1 -> seq 0, doc 2 starts at 4 -> seq 0 (straddles into 8..),
    // doc 3 starts at 9 -> seq 1.
    val a = Seq(
      (1L, "A", "w w w w"), (2L, "A", "w w w w w"),
      (3L, "A", "w w w w w w"))
    val b = Seq((4L, "B", "w w w"))
    val out = Corpus.seqPack(
      (a ++ b).toDF("doc_id", "source", "text"), budgetTokens = 8L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("seq_tokens"),
          r.getAs[Long]("first_doc"), r.getAs[Long]("last_doc"))).toMap
    assert(out === Map(
      ("A", 0L) -> ((2L, 9L, 1L, 2L)),
      ("A", 1L) -> ((1L, 6L, 3L, 3L)),
      ("B", 0L) -> ((1L, 3L, 4L, 4L))))
    // stratum isolation: dropping source B must not re-chunk A
    val aOnly = Corpus.seqPack(a.toDF("doc_id", "source", "text"),
      budgetTokens = 8L).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        r.getAs[Long]("seq_tokens")).toMap
    assert(aOnly === out.collect { case (k @ ("A", _), v) => k -> v._2 })
  }

  test("t07: token conservation and window partitioned by stratum") {
    val df = SparkEntry.queries("t07_seq_packing")(spark, sf)
    val total = df.agg(sum("seq_tokens")).head.getLong(0)
    val expected = Tables.documents(spark, sf)
      .select(size(graft.functions.TextOps.tokens(col("text")))
        .cast("long").as("n")).agg(sum("n")).head.getLong(0)
    assert(total === expected, "every token lands in exactly one sequence")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), "running sum is a window")
    assert(!plan.contains("SinglePartition"),
      "packing must stay per-stratum — a global window serializes the corpus")
  }

  test("p04: deterministic mixture — per-source rates, independent of p02") {
    val docs = Tables.documents(spark, sf)
    val out = SparkEntry.queries("p04_mixture_sample")(spark, sf)
    val a = out.collect().map(_.getLong(0)).toSet
    val b = Corpus.mixtureSample(docs.repartition(7)).collect()
      .map(_.getLong(0)).toSet
    assert(a === b, "mixture must not depend on partitioning")
    // exact recompute of the salted-hash contract (double mod-p
    // reduction between the multiplies — see Corpus.saltedBucket)
    val expected = docs.select("doc_id", "source").collect().filter { r =>
      val h = (r.getLong(0) % 1000000007L + 137L) % 1000000007L * 2654435761L %
        1000000007L * 2654435761L % 1000L
      h < (r.getString(1) match {
        case "src0" => 800; case "src1" => 500; case "src2" => 250
        case _ => 100
      })
    }.map(_.getLong(0)).toSet
    assert(a === expected)
    // independence from p02's unsalted hash: overlap ≈ product of
    // rates, NOT nesting (nested would make overlap = min of the two;
    // a single salted multiply — a constant shift of p02's hash —
    // would rotate the kept residue window and push the overlap to a
    // source-dependent extreme)
    val p02 = Corpus.stratifiedSample(docs).collect()
      .map(_.getLong(0)).toSet
    val overlap = (a & p02).size.toDouble / docs.count()
    val product = (a.size.toDouble / docs.count()) * 0.2
    assert(math.abs(overlap - product) < 0.02,
      s"salted layers must compose independently: $overlap vs $product")
  }

  test("p11: epoch budget — exact copy counts, dense epochs, map-side plan") {
    val docs = Tables.documents(spark, sf)
    // the registered defaults, then a non-default dial set (other
    // weights, a full-copy default, another salt)
    val dials = Seq(
      (Corpus.EpochWeights, Corpus.EpochDefaultPermille, Corpus.EpochSalt,
        SparkEntry.queries("p11_epoch_mixture")(spark, sf)),
      (Map("src0" -> 700, "src2" -> 3250), 1600, 4111L,
        Corpus.epochMixture(docs, weights = Map("src0" -> 700,
          "src2" -> 3250), defaultPermille = 1600, salt = 4111L)))
    dials.foreach { case (weights, dflt, salt, out) =>
      val rows = out.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      // exact recompute: n_copies = ⌊w⌋ + [salted hash < w mod 1000]
      val expected = docs.select("doc_id", "source").collect().map { r =>
        val id = r.getLong(0); val src = r.getString(1)
        val w = weights.getOrElse(src, dflt)
        val h = (id % 1000000007L + salt) % 1000000007L *
          2654435761L % 1000000007L * 2654435761L % 1000L
        (id, src) -> (w / 1000 + (if (h < w % 1000) 1 else 0))
      }.toMap
      val byDoc = rows.groupBy(r => (r._1, r._2))
      byDoc.foreach { case (k, copies) =>
        assert(copies.length == expected(k), s"$k copy count ($salt)")
        // epochs are the dense 0-based copy index — what a loader
        // resumes/dedups against
        assert(copies.map(_._3).sorted.toSeq ===
          (0L until copies.length.toLong).toSeq, s"$k epochs ($salt)")
      }
      assert(rows.length ==
        expected.values.sum, "total fan-out = the mixture's epoch budget")
      assert(byDoc.keys.map(_._1).toSet ===
        expected.filter(_._2 > 0).keys.map(_._1).toSet)
      // the budget is a map-side projection: no exchange anywhere
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"p11 must not shuffle:\n$plan")
    }
  }

  test("p12: 1/cluster-size admission — exact, singleton-total, size-aware") {
    val out = SparkEntry.queries("p12_soft_dedup_sample")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // rep map from p10's registered surface (its own specs pin it);
    // the admission arithmetic is recomputed independently here
    val reps = SparkEntry.queries("p10_leak_safe_split")(spark, sf)
      .select("doc_id", "rep_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val size = reps.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val expected = reps.map { case (id, rep) =>
      val h = (id % 1000000007L + 5407L) % 1000000007L * 2654435761L %
        1000000007L * 2654435761L % 1000000L
      (id, rep, size(rep), h * size(rep) < 1000000L)
    }
    assert(out.map(r => (r._1, r._2, r._3)).toSet ===
      expected.filter(_._4).map(e => (e._1, e._2, e._3)).toSet)
    // singletons always pass: h < 10^6 by construction, so s = 1
    // means the un-duplicated corpus is untouched
    val singletons = expected.filter(_._3 == 1L).map(_._1).toSet
    val admitted = out.map(_._1).toSet
    assert(singletons.subsetOf(admitted))
    // dup mass shrinks: clusters of size >= 2 keep fewer than all
    val multi = expected.filter(_._3 >= 2L)
    assert(multi.nonEmpty, "harness corpus must contain clusters")
    assert(multi.count(_._4) < multi.length)
  }

  test("p05: hierarchical enumeration equals the flat global row_number") {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val out = Corpus.batchAssembly(docs, emb).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // naive contract: one global window (what the engine must equal)
    val flatW = Window.orderBy(col("h"), col("doc_id"))
    val naive = docs.select(col("doc_id"), col("source"))
      .join(emb.select(col("vec_id").as("doc_id")), Seq("doc_id"))
      .withColumn("h", pmod(pmod(
        pmod(pmod(col("doc_id"), lit(1000000007L)) + 911L, lit(1000000007L)) * 2654435761L,
        lit(1000000007L)) * 2654435761L, lit(1L << 20)))
      .withColumn("idx", row_number().over(flatW).cast("long") - 1)
      .withColumn("batch_id", expr("idx DIV 32"))
      .groupBy("batch_id")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("doc_id")).as("id_checksum"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out === naive, "range-bucket rank + offsets must equal flat enumeration")
    // layout contract: every batch full except at most the last
    val n = out.values.map(_._1).sum
    assert(out.size === ((n + 31) / 32).toInt)
    val partial = out.filter(_._2._1 != 32L)
    assert(partial.size <= 1 &&
      partial.keySet.forall(_ == out.keys.max))
  }

  test("p05: deterministic under re-partitioning; no global data window") {
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val a = Corpus.batchAssembly(docs, emb).collect()
      .map(_.toSeq).toSet
    val b = Corpus.batchAssembly(docs.repartition(7), emb.repartition(3))
      .collect().map(_.toSeq).toSet
    assert(a === b, "batch layout must not depend on physical partitioning")
  }

  test("p06: profile metrics match independently computed values") {
    val docs = Tables.documents(spark, sf)
    val out = Corpus.profile(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(out.size === 15)
    val n = docs.count().toDouble
    assert(out(("__table__", "n_rows")) === n)
    assert(out(("doc_id", "n_nulls")) === 0.0)
    assert(out(("text", "n_nulls")) === 0.0)
    val lens = docs.select(length(col("text"))).collect().map(_.getInt(0))
    assert(out(("text", "max_len")) === lens.max.toDouble)
    assert(math.abs(out(("text", "avg_len")) -
      lens.map(_.toLong).sum.toDouble / lens.length) < 1e-3)
    val nc = docs.select(col("n_chars")).collect().map(_.getLong(0))
    assert(out(("n_chars", "min")) === nc.min.toDouble)
    assert(out(("n_chars", "max")) === nc.max.toDouble)
  }

  test("p06: one scan, one hash aggregate — no window, no expand") {
    val plan = Corpus.profile(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "profile must be pure aggregation")
    assert(!plan.contains("Expand"),
      "no exact count(DISTINCT) — cardinality is q19's sketch path")
    assert(!plan.contains("SortAggregate"), "all metrics hash-aggregable")
  }

  test("p07: two-phase cap equals the naive per-source window, bounded") {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sf)
    val out = Corpus.sourceCap(docs, cap = 7, saltBuckets = 8)
    val got = out.collect().map(_.toSeq).toSet
    // naive single-window reference over the same priority hash
    val w = Window.partitionBy(col("source"))
      .orderBy(col("priority"), col("doc_id"))
    val naive = docs.select(col("doc_id"), col("source"))
      .withColumn("priority", pmod(pmod(
        pmod(pmod(col("doc_id"), lit(1000000007L)) + lit(271L), lit(1000000007L)) *
          lit(2654435761L), lit(1000000007L)) * lit(2654435761L),
        lit(1000000L)))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 7)
      .collect().map(_.toSeq).toSet
    assert(got === naive, "salted two-phase prune must be lossless")
    // cap respected per source
    out.collect().groupBy(_.getAs[String]("source")).foreach {
      case (src, rows) => assert(rows.length <= 7, s"source $src over cap")
    }
    // deterministic under re-partitioning
    val again = Corpus.sourceCap(docs.repartition(5), cap = 7,
      saltBuckets = 8).collect().map(_.toSeq).toSet
    assert(again === got)
  }

  test("p08: split is exhaustive, disjoint, hash-exact, repartition-stable") {
    val docs = Tables.documents(spark, sf)
    val out = Corpus.split(docs).collect()
    assert(out.length.toLong === docs.count(),
      "every document gets exactly one split row")
    // assignment matches the driver-side hash, so splits are disjoint
    // by construction and the boundaries are exactly 10/50 permille
    val got = out.map(r => r.getAs[Long]("doc_id") ->
      r.getAs[String]("split")).toMap
    got.foreach { case (id, s) =>
      val h = (id % 1000000007L + 9176L) % 1000000007L * 2654435761L %
        1000000007L * 2654435761L % 1000L
      val want = if (h < 10) "test" else if (h < 60) "val" else "train"
      assert(s === want, s"doc $id: got $s want $want (h=$h)")
    }
    // all three splits are non-empty at this sf and sum to the corpus
    val sizes = out.groupBy(_.getAs[String]("split")).view
      .mapValues(_.length).toMap
    assert(Set("train", "val", "test").subsetOf(sizes.keySet))
    assert(sizes.values.sum === out.length)
    // stable under re-partitioning (no RNG, no partition dependence)
    val again = Corpus.split(docs.repartition(7)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(again === got)
    // held-out membership is independent of the p02 sampling layer:
    // the test+val fraction WITHIN p02's sample tracks the global
    // 6% (same salt would nest them — all of p02's low-hash rows
    // would also be low-hash here)
    val sampled = Corpus.stratifiedSample(docs).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val heldInSample = sampled.count(id => got(id) != "train").toDouble /
      sampled.size
    assert(heldInSample > 0.02 && heldInSample < 0.12,
      s"held-out rate inside p02 sample drifted: $heldInSample")
    // pure map-side: no exchange anywhere in the plan
    val plan = Corpus.split(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "split must not shuffle")
  }

  test("p09: tiered keep rates replay exactly; unscorable text is excluded") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val got = Corpus.qualitySample(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    // driver-side replay off the (already spec-verified) t02 scores
    val scores = graft.operators.TextAnalysis.qualityScore(docs).collect()
      .map(r => r.getLong(0) ->
        Option(r.getAs[java.lang.Double]("quality_score"))).toMap
    def bucket(id: Long): Long =
      ((id % 1000000007L + 577L) % 1000000007L) * 2654435761L %
        1000000007L * 2654435761L % 1000L
    val want = scores.collect { case (id, Some(q))
      if bucket(id) < 100L + math.min(math.floor(q * 10), 9.0).toLong * 100L =>
      id -> math.min(math.floor(q * 10), 9.0).toLong
    }
    assert(got === want)
    assert(got.nonEmpty)
    // a higher tier must never have a LOWER configured keep rate —
    // and unscorable (null-score) docs never appear
    val unscorable = Seq((900L, "   "), (901L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("sx"))
    assert(Corpus.qualitySample(unscorable).collect().isEmpty)
    // deterministic under re-partitioning
    val again = Corpus.qualitySample(docs.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(again === got)
  }

  /** p08's hash arithmetic replayed exactly (saltedBucket, salt 9176,
    * mod 1000 → permille thresholds 10/60).
    */
  private def p08Split(id: Long): String = {
    val P = 1000000007L; val K = 2654435761L
    def pm(a: Long, m: Long) = ((a % m) + m) % m
    val h = pm(pm(pm(pm(id, P) + 9176L, P) * K, P) * K, 1000L)
    if (h < 10) "test" else if (h < 60) "val" else "train"
  }

  test("p10: a planted near-dup pair p08 would straddle lands in ONE split") {
    import spark.implicits._
    // Deterministically find an id pair whose p08 splits differ —
    // that pair, given identical text, is exactly the leak p08
    // permits and p10 must close.
    val (a, b) = (0L until 4000L by 2L).map(i => (i, i + 1L))
      .find { case (x, y) => p08Split(x) != p08Split(y) }.get
    val shared = "the quick brown fox jumps over the lazy dog again and again"
    val docs = (Seq((a, shared), (b, shared)) ++
      (10000L until 10030L).map(i =>
        (i, s"unique filler text number $i with slightly distinctive words $i")))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s0"))
    val p08 = Corpus.split(docs).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(p08(a) != p08(b), "the planted pair must straddle under p08")
    val p10 = Corpus.leakSafeSplit(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(4))).toMap
    assert(p10(a)._2 === p10(b)._2, "cluster members share one split")
    assert(p10(a)._1 === a && p10(b)._1 === a,
      "both members hash through the min-id representative")
    assert(p10(a)._2 === p08Split(a), "the cluster takes its rep's p08 split")
  }

  test("p10: singletons keep p08's split; no d04 pair crosses splits") {
    val docs = Tables.documents(spark, sf)
    val p10 = Corpus.leakSafeSplit(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(4))).toMap
    val p08 = Corpus.split(docs).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(p10.keySet === p08.keySet, "split stays exhaustive")
    // adopting leak-safety re-assigns ONLY the clustered sliver
    p10.foreach { case (id, (rep, s)) =>
      if (rep == id) assert(s === p08(id), s"singleton $id must keep p08")
    }
    // the contract itself: zero near-dup pairs across split boundaries
    val pairs = graft.operators.Dedup.ngramJaccard(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "harness corpus must contain near-dups")
    pairs.foreach { case (x, y) =>
      assert(p10(x)._2 === p10(y)._2, s"pair ($x,$y) must not straddle")
    }
  }

  test("p13: derived token-budget rates + admission equal an exact replay") {
    val docs = Tables.documents(spark, sf)
    val rows = docs
      .select("doc_id", "source", "text").collect()
      .map { r =>
        val t = Option(r.getString(2)).map(_.trim.toLowerCase)
        // split with limit -1: Spark's split keeps trailing empties
        (r.getLong(0), r.getString(1),
          t.map(_.split("\\s+", -1).length.toLong))
      }
    val P = 1000000007L; val K = 2654435761L
    def bucket(id: Long, salt: Long): Long =
      ((id % P + salt) % P) * K % P * K % 1000L
    val tokBySrc = rows.groupBy(_._2)
      .map { case (s, rs) => s -> rs.flatMap(_._3).sum }
    val tCorpus = tokBySrc.values.sum
    // the registered defaults, then a non-default dial set (other
    // targets and default share, another budget and salt)
    val dials = Seq(
      (Corpus.BudgetTargets, Corpus.BudgetDefaultTargetPermille,
        Corpus.BudgetBetaPermille, Corpus.BudgetSalt,
        SparkEntry.queries("p13_token_mixture")(spark, sf)),
      (Map("src1" -> 450, "src2" -> 40), 150, 700, 3331L,
        Corpus.tokenBudgetMixture(docs, targets = Map("src1" -> 450,
          "src2" -> 40), defaultTargetPermille = 150, betaPermille = 700,
          salt = 3331L)))
    dials.foreach { case (targets, dflt, beta, salt, out) =>
      val expected = rows.flatMap { case (id, src, _) =>
        val toks = tokBySrc(src)
        val wS = targets.getOrElse(src, dflt).toLong
        val tr = math.min(tCorpus * 1000L / toks, Corpus.BudgetTCap)
        val r = math.min(beta * wS * tr / 1000000L,
          Corpus.BudgetMaxRatePermille)
        val copies = r / 1000L +
          (if (bucket(id, salt) < r % 1000L) 1L else 0L)
        (0L until copies).map(e => (id, src, e))
      }.toSet
      val got = out
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(got === expected, s"dials $targets/$dflt/$beta/$salt")
      assert(got.nonEmpty)
      // directional sanity: the token-light named source repeats, the
      // corpus-dominant tail downsamples (rates differ across sources)
      val perSrcEpochs = got.groupBy(_._2).map { case (s, g) =>
        s -> g.map(_._1).toSet.size
      }
      assert(perSrcEpochs.size > 1)
    }
  }

  test("p14: manifest conserves the cleaned+deduped corpus across splits") {
    val docs = Tables.documents(spark, sf)
    val out = Corpus.trainingBuild(docs).collect()
    // independent expectation: quality gate → dedupCorpus (exact +
    // fuzzy keep-one) on the same slice
    val cleaned = graft.operators.TextAnalysis
      .qualityScore(docs,
        passthrough = Seq("lang", "source", "text", "n_chars"))
      .filter(col("quality_score") >= 0.5)
      .select(docs.columns.map(col): _*)
    val keptIds = Corpus.dedupCorpus(cleaned).collect()
      .map(_.getLong(0)).toSet
    // p08's split arithmetic on the kept ids (post-dedup, every doc
    // is its own representative, so doc_id IS rep_id)
    val P = 1000000007L; val K = 2654435761L
    def bucket(id: Long, salt: Long): Long =
      ((id % P + salt) % P) * K % P * K % 1000L
    def splitOf(id: Long): String = {
      val h = bucket(id, Corpus.SplitSalt)
      if (h < Corpus.SplitTestPermille) "test"
      else if (h < Corpus.SplitTestPermille + Corpus.SplitValPermille) "val"
      else "train"
    }
    val expBySplit = keptIds.groupBy(splitOf).view.mapValues(_.size.toLong)
    // held-out slices conserve the kept corpus exactly (no mixture);
    // train's mixture may drop docs (rate < 1 epoch), never invent
    def docsOf(split: String): Long = out
      .filter(_.getAs[String]("split") == split)
      .map(_.getAs[Long]("n_docs")).sum
    assert(docsOf("test") === expBySplit.getOrElse("test", 0L))
    assert(docsOf("val") === expBySplit.getOrElse("val", 0L))
    assert(docsOf("train") > 0L &&
      docsOf("train") <= expBySplit.getOrElse("train", 0L),
      s"train admits a subset: ${docsOf("train")} of " +
        s"${expBySplit.getOrElse("train", 0L)}")
    // held-out slices are never replicated; train replication admits
    // at least the floor epochs
    out.filter(r => r.getAs[String]("split") != "train").foreach { r =>
      assert(r.getAs[Long]("n_copies") === r.getAs[Long]("n_docs"))
    }
    val train = out.filter(_.getAs[String]("split") == "train")
    assert(train.nonEmpty &&
      train.map(_.getAs[Long]("n_copies")).sum >=
        train.map(_.getAs[Long]("n_docs")).sum)
    // every (split, source) packs into at least one sequence and
    // sequence budget bounds hold on average (a sequence holds at
    // most budget tokens of STARTS; totals conserve exactly)
    out.foreach { r =>
      assert(r.getAs[Long]("n_seqs") >= 1L)
      assert(r.getAs[Long]("sum_tokens") > 0L)
    }
  }

  test("stratifiedPrefixSum ≡ the flat per-stratum running sum " +
      "(null keys, null values, null strata, loose raw bounds)") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // unique non-null order keys (ties would make BOTH encodings
    // nondeterministic); exactly one NULL-key row per stratum (the
    // hostile corpus's shape); scattered NULL values; a NULL stratum
    val ids = rnd.shuffle((1L to 600L).toVector)
    val rows: Seq[(java.lang.Long, String, java.lang.Long)] =
      ids.zipWithIndex.map { case (id, i) =>
        val src = if (i % 6 == 5) null else s"s${i % 5}"
        val v: java.lang.Long =
          if (i % 13 == 0) null else java.lang.Long.valueOf(rnd.nextInt(50))
        (java.lang.Long.valueOf(id * 7919L % 1000003L), src, v)
      } ++ Seq(
        (null, "s0", java.lang.Long.valueOf(9L)),
        (null, "s1", null),
        (null, null, java.lang.Long.valueOf(3L)))
    val df = rows.toDF("doc_id", "source", "n_tok")
    def canon(d: org.apache.spark.sql.DataFrame): Set[String] =
      d.select("doc_id", "source", "n_tok", "start").collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted.toSet
    val flatW = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flat = df.withColumn("start",
      sum(col("n_tok")).over(flatW) - col("n_tok"))
    val hier = Corpus.stratifiedPrefixSum(df, Seq("source"), "doc_id",
      "n_tok", "start", buckets = 8)
    assert(canon(hier) === canon(flat),
      "bucket-offset encoding must equal the flat window exactly")
    assert(hier.count() === df.count(),
      "null-safe joins: no row may vanish (null source/key rows)")
    // loose bounds from a RAW superset (extra rows, wider key range,
    // coarser than the stratum): monotone bucketing only — the
    // result must not move
    val raw = df.select(col("source"), col("doc_id"))
      .unionByName(Seq((java.lang.Long.valueOf(0L), "s0"),
        (java.lang.Long.valueOf(2000003L), "s1"))
        .toDF("doc_id", "source").select(col("source"), col("doc_id")))
    val loose = Corpus.stratifiedPrefixSum(df, Seq("source"), "doc_id",
      "n_tok", "start", buckets = 8, boundsSrc = Some((raw, Seq("source"))))
    assert(canon(loose) === canon(flat),
      "loose superset bounds must not change the prefix sums")
  }

  test("packedSeqCount ≡ max(flat exclusive prefix DIV budget) + 1 " +
      "per stratum (NULL last rows, all-NULL, zero tokens, singletons, " +
      "exact budget multiples)") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val rnd = new scala.util.Random(14)
    val b = 64L
    def n(v: Long): java.lang.Long = java.lang.Long.valueOf(v)
    // seeded random strata: 1..40 docs, 0..150 tokens, ~1 in 12 NULL
    val random = (0 until 60).map { k =>
      s"r$k" -> Seq.fill(1 + rnd.nextInt(40)) {
        if (rnd.nextInt(12) == 0) null else n(rnd.nextInt(151).toLong)
      }
    }
    val planted = Seq(
      "null_last" -> Seq(n(50), n(40), n(30), null),
      "null_tail" -> Seq(n(b), null, null),
      "all_null" -> Seq[java.lang.Long](null, null, null),
      "zeros" -> Seq(n(0), n(0), n(0)),
      "zero_last" -> Seq(n(b), n(b), n(0)),
      "single" -> Seq(n(3 * b + 5)),
      "single_zero" -> Seq(n(0)),
      "single_null" -> Seq[java.lang.Long](null),
      "exact_multiples" -> Seq(n(b), n(b), n(b / 2), n(b / 2), n(7)),
      "last_on_multiple" -> Seq(n(b / 2), n(b / 2), n(b)))
    // unique doc_ids, ascending in list order within a stratum, drawn
    // at random across strata; rows are shuffled, so row order says
    // nothing of key order
    val ids = rnd.shuffle((1L to 10000L).toVector).iterator
    val rows = (random ++ planted).flatMap { case (s, toks) =>
      toks.zip(Seq.fill(toks.size)(ids.next()).sorted)
        .map { case (t, id) => (s, java.lang.Long.valueOf(id), t) }
    }
    val df = rnd.shuffle(rows).toDF("s", "doc_id", "n_tok").repartition(4)
    val flatW = Window.partitionBy(col("s")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def collectMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val window = collectMap(df
      .withColumn("start", sum(col("n_tok")).over(flatW) - col("n_tok"))
      .groupBy(col("s"))
      .agg((max(expr(s"start DIV $b")) + 1).as("n_seq")))
    val closed = collectMap(df.groupBy(col("s"))
      .agg(Corpus.packedSeqCount("n_tok", "doc_id", b).as("n_seq")))
    assert(closed === window)
    assert(closed.size === random.size + planted.size)
    // the planted cases, by hand from the packing definition
    assert(closed("null_last") === Some((50L + 40L) / b + 1))
    assert(closed("null_tail") === Some(1L))
    assert(closed("all_null") === None && window("all_null") === None)
    assert(closed("single_null") === None)
    assert(closed("zeros") === Some(1L) && closed("single_zero") === Some(1L))
    assert(closed("zero_last") === Some(3L))
    assert(closed("single") === Some(1L))
    assert(closed("exact_multiples") === Some(4L))
    assert(closed("last_on_multiple") === Some(2L))
    // the random strata pack into many sequences, not only one
    assert(random.count { case (k, _) => closed(k).exists(_ > 2L) } > 20)
  }

  /** The p14 one-scan claim, checked over one trainingBuild and its
    * landing under the session's current checkpoint posture.
    */
  private def assertOneTextScan(): Unit = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.util.QueryExecutionListener
    object Walk extends AdaptiveSparkPlanHelper {
      // every node, including the plans behind cached relations
      def nodes(p: SparkPlan): Seq[SparkPlan] =
        collectWithSubqueries(p) { case n => n }.flatMap {
          case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
          case n => Seq(n)
        }
    }
    def isDocs(s: FileSourceScanExec): Boolean =
      s.relation.location.rootPaths.exists(_.toString.contains("documents"))
    def readsText(s: FileSourceScanExec): Boolean =
      s.requiredSchema.fieldNames.contains("text")
    def docScans(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      plan.linesIterator
        .filter(l => l.contains("Scan parquet") && l.contains("documents"))
        .toSeq
    }
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = queries.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = queries.add(qe)
    }
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      // the EXPENSIVE claim, at execution level: over every query the
      // build and its landing run (the dedup sets' consumers, the label
      // loop, the split table's checkpoint, the write, the summary, the
      // manifest), exactly one documents scan reads text — quality,
      // hash, shingles and token count all hang off that one scan. A
      // scan inside a cached relation is one node however many queries
      // read the cache, so it counts once; a scan only planned, never
      // run, reads no rows and does not count.
      val df = Corpus.trainingBuild(Tables.documents(spark, sf))
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      val buildQueries = queries.size
      graft.sources.PartitionedSink.writeAndSummarize(df, "split",
        "n_copies", graft.Staging.dir("graft_p14_scan_spec_")).collect()
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
      val all = scala.jdk.CollectionConverters.IterableHasAsScala(queries)
        .asScala.toSeq
      // the landing packs in closed form: no query it runs windows
      val windows = all.drop(buildQueries)
        .flatMap(qe => Walk.nodes(qe.executedPlan))
        .collect { case w: WindowExec => w }
      assert(windows.isEmpty,
        s"p14: the landing must run no window (packing is closed-form):\n" +
          windows.mkString("\n"))
      val ran = all
        .flatMap(qe => Walk.nodes(qe.executedPlan))
        .collect { case s: FileSourceScanExec if isDocs(s) && readsText(s) => s }
        .filter(_.metrics.get("numOutputRows").exists(_.value > 0))
      val textScans = ran.map(s => System.identityHashCode(s) -> s).toMap.values
      assert(queries.size > 1 && textScans.size === 1,
        s"p14: the corpus TEXT pipeline must run exactly once per build " +
          s"(${queries.size} queries ran ${textScans.size} text scans):\n" +
          textScans.mkString("\n"))
      // one scan node, and it ran once: a node whose RDD is computed
      // again by a second job (a recomputed checkpoint input) adds its
      // rows to the same metric
      assert(textScans.head.metrics("numOutputRows").value ===
        Tables.documents(spark, sf).count(),
        "p14: the one text scan must read the corpus exactly once")
      // and the registered plan is TRUNCATED: downstream re-reads the
      // checkpoint and never scans the corpus again, text or metadata
      df.collect()
      val scanLines = docScans(df)
      assert(scanLines.size === 0,
        s"p14: no documents scan downstream of the checkpoint " +
          s"(found ${scanLines.size}):\n" +
          df.queryExecution.executedPlan)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    }
  }

  test("p14: ONE corpus scan feeds clean, dedup, split, mixture, packing") {
    assertOneTextScan()
  }

  test("p14: ONE corpus scan under a reliable checkpoint dir; the sets' files are deleted") {
    val dir = graft.Staging.dir("graft_p14_ckpt_")
    org.apache.spark.WithCheckpointDir(spark.sparkContext, dir) {
      assertOneTextScan()
    }
    // the dedup sets' checkpoint is deleted once the split table is
    // checkpointed; the split table's own checkpoint is what is left
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    val rddDirs = try scala.jdk.CollectionConverters.IteratorHasAsScala(
        w.iterator).asScala
      .filter(_.getFileName.toString.startsWith("rdd-")).toList
    finally w.close()
    assert(rddDirs.size === 1,
      s"p14: one reliable checkpoint left per build (the split table): " +
        rddDirs.mkString(", "))
  }

  test("p15: scores replay exactly against a BigInt in-memory reference") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val b = Corpus.ImportanceBuckets
    // the engine's own bucketed token stream, folded independently
    val toks = docs.select(col("doc_id"), col("source"),
        explode(graft.functions.TextOps.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"), col("source"),
        (conv(substring(md5(col("tok")), 1, 15), 16, 10)
          .cast("long") % b).as("bk"))
      .as[(Long, String, Long)].collect()
    val target = Corpus.ImportanceTargetSource
    val ct = Array.fill(b)(0L)
    val cr = Array.fill(b)(0L)
    toks.foreach { case (_, src, bk) =>
      if (src == target) ct(bk.toInt) += 1 else cr(bk.toInt) += 1
    }
    val (tT, tR) = (ct.sum, cr.sum)
    val scale = BigInt(Corpus.ImportanceScale)
    val w = (0 until b).map { i =>
      (BigInt(ct(i) + 1) * scale / BigInt(tT + b)) -
        (BigInt(cr(i) + 1) * scale / BigInt(tR + b))
    }
    val expected = toks.groupBy(t => (t._1, t._2)).toSeq
      .map { case ((id, src), ts) =>
        (id, src, ts.length.toLong, ts.map(t => w(t._3.toInt)).sum.toLong)
      }
      .sortBy { case (id, _, _, s) => (-s, id) }
      .take(Corpus.ImportanceTopN)
    val got = Corpus.importanceSample(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === expected)
  }

  test("p15: weights bounded by ±Scale; target slice enriched in top-N") {
    // sf0.01: at sf0.001 the corpus is smaller than top-N, so the
    // selection is vacuous and enrichment undefined
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val out = Corpus.importanceSample(docs).collect()
    assert(out.length <= Corpus.ImportanceTopN && out.nonEmpty)
    // each token contributes at most ±Scale, so any doc's |score| is
    // bounded by n_toks·Scale — the documented BIGINT-safety contract
    out.foreach { r =>
      assert(math.abs(r.getLong(3)) <=
        r.getLong(2) * Corpus.ImportanceScale)
    }
    // the selection must PREFER target-like docs: the target source's
    // share of the top-N exceeds its share of the corpus
    val n = docs.count().toDouble
    val nTarget = docs
      .filter(col("source") === Corpus.ImportanceTargetSource)
      .count().toDouble
    val topTarget =
      out.count(_.getString(1) == Corpus.ImportanceTargetSource).toDouble
    assert(topTarget / out.length > nTarget / n,
      s"no enrichment: ${topTarget.toInt}/${out.length} top-N vs " +
        s"${nTarget.toInt}/${n.toInt} corpus")
  }

  test("p15: scoring pass is broadcast-joined, top-N never global-sorts") {
    val df = Corpus.importanceSample(Tables.documents(spark, sf))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "top-N must be TakeOrderedAndProject, not Sort+Limit")
    assert(plan.contains("BroadcastHashJoin"),
      "the B-row weight model must broadcast")
    assert(!plan.contains("SortMergeJoin"),
      "nothing here may shuffle-sort a corpus-sized side")
  }

  test("p16: shard positions are a bijection onto 1..n per shard") {
    val out = Corpus.shardShuffle(Tables.documents(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length === Tables.documents(spark, sf).count())
    out.groupBy(_._1).foreach { case (shard, rows) =>
      val pos = rows.map(_._2).sorted.toSeq
      assert(pos === (1L to pos.length).toSeq,
        s"shard $shard positions must be exactly 1..n")
    }
    // every doc appears exactly once — it IS a permutation
    assert(out.map(_._3).distinct.length === out.length)
  }

  test("p16: the permutation is deterministic and hash-balanced") {
    val a = Corpus.shardShuffle(Tables.documents(spark, sf)).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val b = Corpus.shardShuffle(Tables.documents(spark, sf)).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(a === b, "rerun must reproduce the identical permutation")
    val counts = Corpus.shardShuffle(Tables.documents(spark, sf))
      .groupBy("shard").count().collect().map(_.getLong(1))
    assert(counts.length === 8)
    val mean = counts.sum.toDouble / counts.length
    assert(counts.forall(c => c > mean * 0.5 && c < mean * 1.5),
      s"hash sharding must balance: ${counts.toSeq} vs mean $mean")
  }

  test("p16: shard order is decorrelated from ingest order") {
    // within a shard, walk docs in pos order: if the permutation
    // were a no-op, every adjacent doc_id pair would ascend; a hash
    // permutation ascends ~half the time
    val rows = Corpus.shardShuffle(Tables.documents(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val (asc, tot) = rows.groupBy(_._1).values.map { shard =>
      val ids = shard.sortBy(_._2).map(_._3)
      val pairs = ids.sliding(2).toSeq
      (pairs.count(p => p(1) > p(0)), pairs.length)
    }.reduce((x, y) => (x._1 + y._1, x._2 + y._2))
    val frac = asc.toDouble / tot
    assert(frac > 0.35 && frac < 0.65,
      s"adjacent ascents should be ~0.5 for a real shuffle, got $frac")
  }
}
