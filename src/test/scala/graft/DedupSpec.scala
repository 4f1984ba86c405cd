package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  import TestSpark._

  /** Synthetic corpus with known structure: docs 1/2 are exact dups
    * modulo case+whitespace, docs 3/4 are near-dups (1 word of 60
    * changed), docs 5/6 are unrelated.
    */
  private def planted: DataFrame = {
    import spark.implicits._
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = ((1 to 30).map(i => s"tok$i") ++ Seq("CHANGED") ++
      (32 to 60).map(i => s"tok$i")).mkString(" ")
    Seq(
      (1L, base),
      (2L, "  " + base.toUpperCase + " "),
      (3L, base + " extra trailer tokens here"),
      (4L, near + " extra trailer tokens here"),
      (5L, (1 to 60).map(i => s"other$i").mkString(" ")),
      (6L, (1 to 60).map(i => s"unrelated$i").mkString(" "))
    ).toDF("doc_id", "text")
  }

  test("d01: exact dups collapse to min doc_id with group size") {
    val out = Dedup.dedupExact(planted).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === 2L)          // docs 1,2 merged, min id kept
    assert(!out.contains(2L))
    assert(out(3L) === 1L && out(5L) === 1L)
    assert(out.values.sum === 6L)   // every doc accounted for
  }

  test("d02: LSH finds planted near-dup pair, no all-pairs join") {
    val df = Dedup.dedupMinhash(planted)
    val pairs = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((3L, 4L)))       // near-dup found
    assert(pairs.contains((1L, 2L)))       // exact dup found
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "candidate generation must be banded, never all-pairs")
  }

  test("d02: maxBucket drops a bucket of identical copies, keeps sane pairs") {
    import spark.implicits._
    // four identical copies share every one of the 16 band buckets,
    // four docs wide; the near-dup pair (1, 2) shares buckets two wide
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val hot = (1 to 60).map(i => s"hot$i").mkString(" ")
    val docs = (Seq((1L, base), (2L, base + " extra trailer tokens here")) ++
      (11L to 14L).map(i => (i, hot))).toDF("doc_id", "text")
    def pairs(maxBucket: Int) = Dedup.dedupMinhash(docs,
      maxBucket = maxBucket).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val copies = for (a <- 11L to 14L; b <- a + 1 to 14L) yield (a, b)
    assert(pairs(3) === Set((1L, 2L)),
      "below the copy count, the copies' buckets are all dropped")
    assert(pairs(4) === copies.toSet + ((1L, 2L)))
    assert(pairs(256) === pairs(4))
  }

  test("d02: matches d04's exact pairs on real data (recall at high j)") {
    // Every exact-Jaccard pair at tau well above the LSH S-curve knee
    // must be found by the banded candidate generation.
    val exact = Dedup.ngramJaccard(Tables.documents(spark, sf), tau = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.dedupMinhash(Tables.documents(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    assert(exact.subsetOf(lsh))
  }

  test("d03: operator finds exactly the pairs the kernel puts under the bound") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val texts = planted.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def sim(t: String): Long = graft.functions.SimHash64.compute(
      new GenericArrayData(t.trim.toLowerCase.split("\\s+")
        .map(UTF8String.fromString(_): Any)), portable = true)
    val ids = texts.keys.toSeq.sorted
    val expected = (for {
      a <- ids; b <- ids if a < b
      if java.lang.Long.bitCount(sim(texts(a)) ^ sim(texts(b))) <= 3
    } yield (a, b)).toSet
    val out = Dedup.dedupSimhash(planted).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue))
    assert(out.map(t => (t._1, t._2)).toSet === expected)
    // docs 1,2 are token-identical after normalization: hamming 0
    assert(expected.contains((1L, 2L)))
    assert(out.find(t => (t._1, t._2) == ((1L, 2L))).get._3 === 0L)
  }

  test("d13: containment flags a small doc embedded in a big one; jaccard misses it") {
    import spark.implicits._
    val small = (1 to 20).map(i => s"core$i").mkString(" ")
    val big = small + " " + (1 to 300).map(i => s"fill$i").mkString(" ")
    val docs = Seq((1L, small), (2L, big), (3L, "unrelated text entirely"))
      .toDF("doc_id", "text")
    val c = Dedup.ngramContainment(docs).collect()
    assert(c.length == 1)
    val r = c.head
    assert(r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L)
    assert(r.getAs[Double]("containment") == 1.0,
      "every small-doc shingle is inside the big doc")
    assert(r.getAs[Long]("na") == 18L, "20 tokens -> 18 trigram shingles")
    // the same pair is structurally invisible to symmetric jaccard:
    // J = 18/(18+318-18) well under d04's tau
    assert(Dedup.ngramJaccard(docs).collect().isEmpty)
  }

  test("d13: containment dominates jaccard — every high-J pair appears") {
    // C = inter/min >= inter/union = J, so any d04 pair with
    // J >= d13's tau must also be a d13 pair (the symmetric case is
    // subsumed; the corpus's dups are in fact SUBSET pairs — C = 1.0
    // with na != nb — which is exactly d13's territory)
    val docs = Tables.documents(spark, sf)
    val highJ = Dedup.ngramJaccard(docs).collect()
      .filter(_.getAs[Double]("jaccard") >= 0.9)
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val cont = Dedup.ngramContainment(docs).collect()
    val contPairs = cont
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(cont.nonEmpty, "harness corpus must contain containment pairs")
    assert(highJ.subsetOf(contPairs))
    // and the corpus really exercises the asymmetric shape
    assert(cont.exists(r => r.getAs[Long]("na") != r.getAs[Long]("nb")),
      "expected subset (na != nb) containment pairs in the corpus")
  }

  test("d04: exact jaccard math on planted pair") {
    val rows = Dedup.ngramJaccard(planted, tau = 0.5).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // docs 1,2: identical after normalization -> jaccard 1.0
    assert(rows((1L, 2L)) === 1.0)
    // docs 3,4: 62 distinct 3-gram shingles each; changing token 31
    // breaks shingles covering positions 29-31 -> 59 shared
    val j34 = 59.0 / (62 + 62 - 59)
    assert(math.abs(rows((3L, 4L)) - math.rint(j34 * 1e4) / 1e4) < 1e-9)
  }

  test("d04: maxDf cap drops boilerplate shingles from candidates") {
    import spark.implicits._
    // 5 docs sharing one boilerplate phrase, otherwise disjoint.
    val docs = (1 to 5).map(i =>
      (i.toLong, s"common boiler plate ${(1 to 30).map(j => s"w${i}_$j").mkString(" ")}"))
      .toDF("doc_id", "text")
    val capped = Dedup.ngramJaccard(docs, tau = 0.0001, maxDf = 2)
    // 'common boiler plate' (df=5) is dropped; no shared shingles remain
    assert(capped.count() === 0)
    val uncapped = Dedup.ngramJaccard(docs, tau = 0.0001)
    assert(uncapped.count() === 10) // all C(5,2) pairs share the phrase
  }

  test("d04: length-ratio prune + default maxDf are lossless on real data") {
    // The production guards (finite maxDf, size-ratio probe pruning)
    // must change NOTHING on a corpus whose max shingle df is under
    // the cap — this is the invariant that keeps the DuckDB oracle
    // (which computes unguarded exact Jaccard) hash-green.
    def pairs(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val guarded = pairs(Dedup.ngramJaccard(Tables.documents(spark, sf)))
    val unguarded = pairs(Dedup.ngramJaccard(Tables.documents(spark, sf),
      maxDf = Int.MaxValue, lengthPrune = false))
    assert(guarded === unguarded)
    assert(guarded.nonEmpty, "testdata should contain planted near-dups")
  }

  test("d06: near-dup of a benchmark doc is flagged, others are not") {
    import spark.implicits._
    val bench = (1 to 60).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, bench),                                      // the benchmark doc
      (30L, bench + " tail"),                           // heavy overlap
      (40L, (1 to 60).map(i => s"clean$i").mkString(" ")) // disjoint
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminate(docs, benchmarkMaxId = 25L).collect()
      .map(r => (r.getLong(0), r.getAs[Double]("contam_ratio"))).toMap
    assert(out.contains(30L) && out(30L) > 0.9)
    assert(!out.contains(40L), "disjoint doc must not be flagged")
    assert(!out.contains(1L), "benchmark docs are not corpus rows")
  }

  test("d07: transitive A~B~C chain resolves to one cluster, min-id survivor") {
    import spark.implicits._
    // Overlapping token windows: J(A,B) and J(B,C) clear tau=0.45 but
    // J(A,C) (18 shared of 98 shingles ~ 0.18) does not — the cluster
    // exists ONLY through transitivity, which is the contract pair
    // emitters can't provide.
    val docs = Seq(
      (10L, (1 to 60).map(i => s"tok$i").mkString(" ")),
      (11L, (21 to 80).map(i => s"tok$i").mkString(" ")),
      (12L, (41 to 100).map(i => s"tok$i").mkString(" ")),
      (50L, (1 to 60).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccard(docs, tau = 0.45)
    val pairSet = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet.contains((10L, 11L)) && pairSet.contains((11L, 12L)))
    assert(!pairSet.contains((10L, 12L)), "chain must not be a direct pair")
    val groups = Dedup.dedupGroups(pairs).collect()
      .map(r => (r.getLong(1), r.getLong(0), r.getLong(2)))
    assert(groups.toSet === Set((10L, 10L, 3L), (11L, 10L, 3L), (12L, 10L, 3L)))
  }

  test("d07: long path converges in log rounds; disjoint components stay apart") {
    import spark.implicits._
    // Path 0-1-...-32 (diameter 32) plus a separate triangle and an
    // isolated pair: pointer jumping must converge well inside the
    // default round budget and never cross components.
    val path = (0L until 32L).map(i => (i, i + 1))
    val tri = Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val duo = Seq((200L, 201L))
    val pairs = (path ++ tri ++ duo).toDF("doc_a", "doc_b")
    val out = Dedup.dedupGroups(pairs).collect()
      .map(r => r.getLong(1) -> (r.getLong(0), r.getLong(2))).toMap
    (0L to 32L).foreach(i => assert(out(i) === ((0L, 33L))))
    Seq(100L, 101L, 102L).foreach(i => assert(out(i) === ((100L, 3L))))
    Seq(200L, 201L).foreach(i => assert(out(i) === ((200L, 2L))))
    assert(out.size === 33 + 3 + 2)
  }

  test("d07: empty pair list yields empty groups, not a failure") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.dedupGroups(empty).count() === 0)
  }

  test("d05: embedding near-dups respect label blocks and threshold") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(1f, 0f, 0f), 0),
      (2L, Seq(0.99f, 0.1f, 0f), 0),   // same label, cosine ~0.995
      (3L, Seq(0f, 1f, 0f), 0),        // same label, orthogonal to 1
      (4L, Seq(1f, 0f, 0f), 1)         // parallel to 1 but other label
    ).toDF("vec_id", "embedding", "label")
    val out = Dedup.dedupEmbedding(emb, tau = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((1L, 2L)))
  }

  test("d05: hot-label blocks above maxBlock are dropped, sane blocks intact") {
    import spark.implicits._
    // a degenerate catch-all label with 12 parallel vectors would
    // yield 66 pairs; with maxBlock=10 the whole block is dropped
    // while the small label still pairs normally
    val hot = (1L to 12L).map(i => (i, Seq(1f, 0f, 0f), 99))
    val sane = Seq(
      (100L, Seq(0f, 1f, 0f), 0),
      (101L, Seq(0f, 0.99f, 0.1f), 0))
    val emb = (hot ++ sane).toDF("vec_id", "embedding", "label")
    val capped = Dedup.dedupEmbedding(emb, tau = 0.9, maxBlock = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((100L, 101L)),
      "the hot block must contribute zero pairs; the sane block all of them")
    // and with the guard off the fan-out really is quadratic — the
    // thing the cap exists to prevent
    val uncapped = Dedup.dedupEmbedding(emb, tau = 0.9,
      maxBlock = Int.MaxValue).count()
    assert(uncapped === 66L + 1L)
  }

  test("d08: planted dups found with LEARNED blocks — no label column") {
    import spark.implicits._
    // Deterministic pseudo-random base corpus, 8-dim, NO label column
    // (the point of d08: blocking keys are computed, not given).
    val base = (1L to 40L).map { i =>
      (i, (0 until 8).map(j => (((i * 31 + j * 17) % 13) - 6).toFloat))
    }
    // Planted duplicates: EXACT scalings (2x) of three base vectors.
    // Binary scaling is fp-exact, so dup and original have bit-equal
    // cosine against every centroid — the k-means argmax (ties broken
    // by cluster_id) provably lands them in the SAME cluster, making
    // this a guarantee, not a probabilistic recall claim.
    val dups = Seq(5L, 17L, 29L).map { i =>
      (i + 1000L, base(i.toInt - 1)._2.map(_ * 2f))
    }
    val emb = (base ++ dups).toDF("vec_id", "embedding")
    val out = Dedup.dedupEmbeddingAuto(emb, tau = 0.99, kClusters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Seq(5L, 17L, 29L).foreach { i =>
      assert(out.contains((i, i + 1000L)),
        s"planted dup pair ($i, ${i + 1000L}) must be found with computed blocks")
    }
    // VERDICT r17 #2: the AUTO dial (kClusters ≤ 0 ⇒ sized from a
    // corpus count) is the new DEFAULT — pin it with the same planted
    // guarantee. blockTarget=8 forces genuine multi-block blocking on
    // the 43-vector corpus (k = ⌈43/8⌉ = 6 > 1), so this is not the
    // degenerate lossless dial in disguise.
    val auto = Dedup.dedupEmbeddingAuto(emb, tau = 0.99, blockTarget = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Seq(5L, 17L, 29L).foreach { i =>
      assert(auto.contains((i, i + 1000L)),
        s"planted dup pair ($i, ${i + 1000L}) must be found at the AUTO dial")
    }
  }

  test("d08: the stride-bounded anchor is the full slice, exactly") {
    // VERDICT r17 #1: the registered anchor stride-bounds the a-side
    // (pairs whose smaller vec_id is on the capped stride). The
    // sliced output must equal the UNSLICED lossless output filtered
    // to that predicate — the slice is a restriction, never an
    // approximation.
    val emb = graft.Tables.embeddings(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val stride = Dedup.D08AnchorStride
    val cap = stride.toLong * graft.operators.Similarity.AnnMaxQueries
    val sliced = rows(Dedup.dedupEmbeddingAuto(emb, kClusters = 1,
      aStride = stride))
    val full = rows(Dedup.dedupEmbeddingAuto(emb, kClusters = 1))
      .filter(t => t._1 % stride == 0 && t._1 < cap)
    assert(sliced === full,
      "stride-bounded anchor must equal the filtered lossless output")
    assert(sliced.nonEmpty, "anchor slice must be non-empty at spec SF")
  }

  test("d08: kClusters=1 is the LOSSLESS dial — ≡ label-free all-pairs") {
    // The registered anchor identity (r16 verdict #1): one learned
    // block puts every pair in scope, so the output must equal the
    // brute-force cosine pair join bit-for-bit, rounded cosines
    // included — the same identity the d08 oracle SQL hash-checks.
    val emb = graft.Tables.embeddings(spark, sf)
    val one = Dedup.dedupEmbeddingAuto(emb, kClusters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    import org.apache.spark.sql.functions._
    val e = emb.select(col("vec_id"),
      graft.functions.VectorOps.asDouble(col("embedding")).as("v"))
      .withColumn("nrm", graft.functions.VectorOps.l2norm(col("v")))
    val brute = e.as("a").join(e.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine", graft.functions.VectorOps.cosineFrom(
        graft.functions.VectorOps.dot(col("a.v"), col("b.v")),
        col("a.nrm"), col("b.nrm")))
      .filter(col("cosine") >= 0.4)
      .select(col("a.vec_id"), col("b.vec_id"), lit(0L),
        round(col("cosine"), 4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(one === brute, "kClusters=1 must reproduce all-pairs exactly")
  }

  test("d09: maximal spans with exact positions on a planted pair") {
    import spark.implicits._
    def run(from: Int, until: Int, tag: String) =
      (from until until).map(i => s"$tag$i").mkString(" ")
    val shared = run(0, 25, "shared")
    val docs = Seq(
      (1L, run(0, 12, "ax") + " " + shared + " " + run(0, 12, "ay")),
      (2L, run(0, 12, "bx") + " " + shared + " " + run(0, 12, "by")),
      (3L, run(0, 40, "cz")) // unrelated
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpans(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq === Seq((1L, 2L, 12L, 12L, 25L)),
      "one maximal span, exact offsets, no self/unrelated rows")
  }

  test("d09: two shared runs on one diagonal stay two islands") {
    import spark.implicits._
    val s1 = (0 until 12).map(i => s"s$i").mkString(" ")
    val s2 = (0 until 12).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, s1 + " gapa0 gapa1 gapa2 " + s2),
      (2L, s1 + " gapb0 gapb1 gapb2 " + s2)
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpans(docs).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(out === Set((0L, 0L, 12L), (15L, 15L, 12L)),
      "differing gap must split the diagonal into two maximal spans")
  }

  test("d12: planted span scrubbed from the higher id only; full dup -> ''") {
    import spark.implicits._
    def run(from: Int, until: Int, tag: String) =
      (from until until).map(i => s"$tag$i").mkString(" ")
    val shared = run(0, 12, "shared")
    val docs = Seq(
      (1L, run(0, 5, "ax") + " " + shared + " " + run(0, 5, "ay")),
      (2L, run(0, 5, "bx") + " " + shared + " " + run(0, 5, "by")),
      (3L, shared), // exact copy of the shared run alone
      (4L, run(0, 40, "cz")) // unrelated, must not appear
    ).toDF("doc_id", "text")
    val out = Dedup.spanScrub(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2),
        r.getLong(3))).toMap
    // doc 1 is the canonical copy (lowest id): untouched, absent
    assert(!out.contains(1L) && !out.contains(4L))
    // doc 2 loses exactly the shared run, keeps its unique flanks
    assert(out(2L) === (run(0, 5, "bx") + " " + run(0, 5, "by"), 12L, 22L))
    // doc 3 was nothing but the duplicated run: scrubs to empty
    assert(out(3L) === ("", 12L, 12L))
  }

  test("d12: overlapping spans from different pairs remove a union, once") {
    import spark.implicits._
    // doc 3 shares tokens 0..11 with doc 1 and 2..13 with doc 2 —
    // overlapping removal ranges must union, not double-count.
    val toks = (0 until 14).map(i => s"s$i")
    val docs = Seq(
      (1L, toks.slice(0, 12).mkString(" ")),
      (2L, toks.slice(2, 14).mkString(" ")),
      (3L, toks.mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.spanScrub(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2),
        r.getLong(3))).toMap
    // doc 3 loses all 14 tokens (union of [0,12) and [2,14)), exactly once
    assert(out(3L)._1 === "")
    assert(out(3L)._2 === 14L)
    // doc 2 shares s2..s13 with doc 1? no — doc1 is s0..s11, doc2 is
    // s2..s13: their overlap s2..s11 is 10 tokens at doc2 positions
    // 0..9, so doc 2 (higher id than 1) is also scrubbed.
    assert(out(2L)._2 === 10L)
    assert(out(2L)._1 === "s12 s13")
  }

  test("d09: df cap drops boilerplate fan-out; lossless on real data") {
    import spark.implicits._
    val boiler = (0 until 10).map(i => s"b$i").mkString(" ")
    val many = (1L to 20L).map(i => (i, boiler)).toDF("doc_id", "text")
    assert(Dedup.dupSpans(many, maxDf = 10).count() === 0L,
      "hot shingle beyond cap contributes no pairs")
    assert(Dedup.dupSpans(many, maxDf = 1000).count() === 190L,
      "uncapped: all C(20,2) boilerplate pairs")
    // real corpus: max df is 4 — the default cap is provably lossless
    val docs = Tables.documents(spark, sf)
    val a = Dedup.dupSpans(docs).collect().toSet
    val b = Dedup.dupSpans(docs, maxDf = Int.MaxValue).collect().toSet
    assert(a === b && a.nonEmpty)
  }

  test("ShingleHashes kernel: digests bit-equal the HOF path on real + hostile text") {
    import spark.implicits._
    import graft.functions.{ShingleExprs, TextOps}
    val hostile = Seq((9001L, null.asInstanceOf[String]), (9002L, ""),
      (9003L, "   "), (9004L, "机器学习 模型 需要 大量 高质量 的 训练数据"),
      (9005L, "one two"), (9006L, "a  b\tc   d e"),
      (9007L, "Tab\there And nbsp MIXED case"))
      .toDF("doc_id", "text")
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .unionByName(hostile)
    Seq(3 -> true, 3 -> false, 10 -> false).foreach { case (n, asSeq) =>
      val hof =
        if (asSeq) transform(TextOps.wordShingleMultiset(col("text"), n),
          g => xxhash64(g))
        else transform(TextOps.wordShingles(col("text"), n),
          g => xxhash64(g))
      // null text: the HOF chain yields [] while the kernel is
      // SQL-null-strict — indistinguishable after explode/posexplode
      // (both emit zero rows), which is the only way operators
      // consume shingles; coalesce pins exactly that equivalence.
      val kernel = coalesce(
        if (asSeq) ShingleExprs.shingleHashSeq(col("text"), n)
        else ShingleExprs.shingleHashSet(col("text"), n),
        array().cast("array<bigint>"))
      val mismatches = docs
        .select(col("doc_id"), hof.as("a"), kernel.as("b"))
        .filter(not(col("a") <=> col("b")))
        .count()
      assert(mismatches === 0L, s"n=$n distinct=${!asSeq}")
    }
  }

  test("minhash_sigs: digest input reproduces string-input signatures") {
    import graft.functions.{HashExprs, ShingleExprs, TextOps}
    val docs = Tables.documents(spark, sf)
      .filter(size(TextOps.tokens(col("text"))) >= 3)
    val mismatches = docs.select(
      HashExprs.minhashSigs(TextOps.wordShingles(col("text"), 3), 64)
        .as("a"),
      HashExprs.minhashSigs(ShingleExprs.shingleHashSet(col("text"), 3), 64)
        .as("b"))
      .filter(not(col("a") <=> col("b")))
      .count()
    assert(mismatches === 0L)
  }

  test("portable md5_60: kernel digests equal conv(substring(md5,1,15),16,10)") {
    import graft.functions.{ShingleExprs, TextOps}
    // the engine↔oracle hash contract: the kernel's byte-wise md5_60
    // must equal Spark SQL's own md5-hex parse on every corpus shingle
    // (DuckDB's strpos parse is the third leg, pinned by the driver gate)
    val docs = Tables.documents(spark, sf)
      .filter(size(TextOps.tokens(col("text"))) >= 3)
    val viaSql = array_sort(transform(TextOps.wordShingles(col("text"), 3),
      g => conv(substring(md5(g), 1, 15), 16, 10).cast("long")))
    val viaKernel = array_sort(
      ShingleExprs.shingleHashSetPortable(col("text"), 3))
    val mismatches = docs
      .select(viaSql.as("a"), viaKernel.as("b"))
      .filter(not(col("a") <=> col("b")))
      .count()
    assert(mismatches === 0L)
    // scalar parity incl. non-ASCII (md5 over UTF-8 bytes)
    Seq("alpha beta gamma", "嗨 你好 世界", "emoji 😀 here").foreach { s =>
      val sql = spark.sql(
        s"SELECT CAST(conv(substring(md5('$s'),1,15),16,10) AS BIGINT)")
        .head().getLong(0)
      assert(graft.functions.PortableHash.md5_60(s) === sql, s)
    }
  }

  test("portable minhash: permutation constants and signature domain") {
    import graft.functions.PortableHash
    // constants regenerate from the md5 strings the oracle uses
    assert(PortableHash.permA(0) ===
      PortableHash.md5_60("graft-minhash-a-0") % (PortableHash.M - 1) + 1)
    assert(PortableHash.permB(63) ===
      PortableHash.md5_60("graft-minhash-b-63") % PortableHash.M)
    // a_i nonzero (degenerate permutation would collapse a signature row)
    (0 until 64).foreach(i => assert(PortableHash.permA(i) > 0))
    // signatures of a nonempty set are all < M
    import graft.functions.{HashExprs, ShingleExprs, TextOps}
    val sigs = Tables.documents(spark, sf)
      .filter(size(TextOps.tokens(col("text"))) >= 3)
      .select(HashExprs.minhashSigsPortable(
        ShingleExprs.shingleHashSetPortable(col("text"), 3), 64).as("sig"))
    val bad = sigs.filter(exists(col("sig"),
      s => s < 0 || s >= lit(PortableHash.M))).count()
    assert(bad === 0L)
  }

  test("d11: snapshot diff — planted add/remove/change, null text unchanged") {
    import spark.implicits._
    val oldSnap = Seq(
      (1L, "same text"), (2L, "will change"), (3L, "will vanish"),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val newSnap = Seq(
      (1L, "  SAME   text "), // normalizes equal -> unchanged
      (2L, "has changed"), (4L, "brand new"),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = Dedup.snapshotDiff(oldSnap, newSnap).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("d10: incremental probe equals the cross-slice subset of d04 pairs") {
    val docs = Tables.documents(spark, sf)
    val out = Dedup.dedupIncremental(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = Dedup.ngramJaccard(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .collect {
        case (a, b, j) if a < 250 && b >= 250 => (b, a, j)
        case (a, b, j) if b < 250 && a >= 250 => (a, b, j)
      }.toSet
    assert(out === expected)
    assert(out.nonEmpty)
  }

  test("d10: the corpus index joins in place — no exchange on the bucketed side") {
    val df = Dedup.dedupIncremental(Tables.documents(spark, sf))
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("Bucketed: true"),
      "probe must read the bucketed index bucket-aware")
    assert(plan.contains("SortMergeJoin"))
    // the index subtree (scan → join) must contain no Exchange: only
    // the arrivals side and the pair aggregation shuffle
    val joinSection = plan.substring(plan.indexOf("SortMergeJoin"))
    val idxSide = joinSection.linesIterator
      .dropWhile(l => !l.contains("Bucketed: true")).mkString
    assert(!idxSide.contains("Exchange"),
      "bucketed index side must not re-shuffle")
  }

  test("d04/d09: posting exchange is reused at scale (no broadcast shortcut)") {
    // At bench SF, AQE converts the posting self-joins to broadcast
    // and re-runs the tokenize→shingle pipeline per branch — cheap at
    // 5k docs, wrong at 100 TB. This pins the AT-SCALE shape: with
    // broadcast off (what large stats do), the df-filter and both
    // join sides must all feed from ONE materialized exchange of the
    // posting, so the scan+shingle pipeline runs exactly once.
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Seq(
        "d04" -> Dedup.ngramJaccard(Tables.documents(spark, sf)),
        "d09" -> Dedup.dupSpans(Tables.documents(spark, sf)),
        "d02" -> Dedup.dedupMinhash(Tables.documents(spark, sf)),
        "d13" -> Dedup.ngramContainment(Tables.documents(spark, sf))
      ).foreach { case (name, df) =>
        df.collect() // AQE reuse is decided at stage materialization
        // the adaptive plan string appends the pre-AQE "Initial Plan"
        // — only the final section is what actually ran
        val plan = df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        assert(plan.contains("ReusedExchange") ||
          plan.contains("ReusedQueryStage"),
          s"$name must reuse the posting exchange:\n$plan")
        val scans = plan.linesIterator
          .count(l => l.contains("Scan parquet") && l.contains("documents"))
        assert(scans === 1,
          s"$name: tokenize→shingle pipeline must run exactly once " +
            s"(found $scans scans)")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("t15: posting exchange reused at scale; reassembly is the 2nd scan") {
    // d04/d09's at-scale shape, turned within-doc: with broadcast off
    // (what corpus-scale stats force), the (doc_id, gh) posting
    // exchange must feed the guard window AND both self-join sides
    // (ReusedExchange); the ONLY other corpus scan is the reassembly
    // token read, which semi-joins to affected docs first.
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Dedup.repetitionScrub(Tables.documents(spark, sf))
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("ReusedExchange") ||
        plan.contains("ReusedQueryStage"),
        s"t15 must reuse the posting exchange:\n$plan")
      val scans = plan.linesIterator
        .count(l => l.contains("Scan parquet") && l.contains("documents"))
      assert(scans === 2,
        s"t15: posting scan + reassembly scan only (found $scans)")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("t15: planted tail repeat scrubs to the leading copy") {
    import spark.implicits._
    val docs = Seq(
      // run of 5 repeated verbatim: later copy (pos 5..9) removed
      (1L, "one two three four five one two three four five"),
      // no repeated trigram: untouched (absent from output)
      (2L, "a b c d e f g"),
      // thrice-repeated run: both later copies removed
      (3L, "p q r s x p q r s y p q r s")
    ).toDF("doc_id", "text")
    val out = Dedup.repetitionScrub(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === (("one two three four five", 5L, 10L)))
    assert(!out.contains(2L))
    assert(out(3L) === (("p q r s x y", 8L, 14L)))
  }

  test("t15: maxRep leaves an over-cap gram alone, scrubs at or under it") {
    import spark.implicits._
    val docs = Seq(
      // "a b c" three times: every other trigram occurs once
      (1L, "a b c x a b c y a b c z"),
      // "d e f" and "e f g" twice each
      (2L, "d e f g d e f g")
    ).toDF("doc_id", "text")
    def scrub(maxRep: Int) = Dedup.repetitionScrub(docs, maxRep = maxRep)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // over the cap (3 > 2) the gram never joins, so doc 1 is untouched;
    // doc 2's grams sit at the cap and its later copy goes
    assert(scrub(2) === Map(2L -> (("d e f g", 4L, 8L))))
    // at the cap both later copies of the run go
    assert(scrub(3) === Map(
      1L -> (("a b c x y z", 6L, 12L)), 2L -> (("d e f g", 4L, 8L))))
  }

  test("t15: periodic self-overlap collapses, never to empty") {
    import spark.implicits._
    val docs = Seq((7L, "x x x x x x")).toDF("doc_id", "text")
    val out = Dedup.repetitionScrub(docs).collect()
    assert(out.length === 1)
    // position 0 is never removable (every removed pos is a b-side
    // pos >= 1), so the leading token survives
    assert(out.head.getString(1) === "x")
    assert(out.head.getLong(2) === 5L)
  }

  test("t15: scrub is idempotent on its own output (planted docs)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two three four five one two three four five"),
      (3L, "p q r s x p q r s y p q r s")).toDF("doc_id", "text")
    val once = Dedup.repetitionScrub(docs)
      .select(col("doc_id"), col("scrubbed").as("text"))
    assert(Dedup.repetitionScrub(once).count() === 0)
  }

  test("t15: finds intra-doc repeats on the real corpus (sf0.001)") {
    val out = SparkEntry.queries("t15_repetition_scrub")(spark, sf)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // every affected doc actually lost tokens, and lost fewer than all
    rows.foreach { r =>
      val removed = r.getAs[Long]("n_removed_tokens")
      val total = r.getAs[Long]("n_tokens")
      assert(removed > 0 && removed < total)
      val kept = r.getAs[String]("scrubbed")
        .split("\\s+").filter(_.nonEmpty).length
      assert(kept === total - removed)
    }
  }

  test("d15: bloom pre-filter is transparent — ≡ the skipBloom control") {
    val docs = Tables.documents(spark, sf)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(Dedup.bloomDecontaminate(docs)) ===
      rows(Dedup.bloomDecontaminate(docs, skipBloom = true)))
  }

  test("d15: planted benchmark 5-gram caught, clean doc untouched") {
    import spark.implicits._
    val bench = (1 to 12).map(i => s"bench$i").mkString(" ")
    val leaked = "aa bb " + (4 to 8).map(i => s"bench$i").mkString(" ") +
      " cc dd ee"
    val clean = (1 to 12).map(i => s"clean$i").mkString(" ")
    val docs = Seq((1L, bench), (30L, leaked), (31L, clean))
      .toDF("doc_id", "text")
    val out = Dedup.bloomDecontaminate(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out.contains(30L) && out(30L) >= 1L)
    assert(!out.contains(31L))
  }

  test("d15: bloom prunes postings ahead of the confirm join, no FNs") {
    val docs = Tables.documents(spark, sf)
    val (postings, survivors) = Dedup.bloomSurvivorCounts(docs)
    assert(postings > 0)
    // at 3% FPP the clean-gram mass must be mostly gone pre-join
    assert(survivors < postings / 2,
      s"bloom failed to prune: $survivors of $postings survived")
    // no false negatives: every confirmed hit passed the bloom
    val hits = Dedup.bloomDecontaminate(docs)
      .agg(org.apache.spark.sql.functions.sum("n_hits")).collect()
      .headOption.flatMap(r => Option(r.get(0)).map(_.toString.toLong))
      .getOrElse(0L)
    assert(survivors >= hits)
  }

  test("d16: one posting exchange, one corpus scan, zero joins") {
    // The df comes from count windows over ONE exchange on gh
    // (t09's digest-window discipline): hashpartitioning(gh)
    // satisfies both the (gh, doc) first-flag window and the
    // per-gh count window, so the plan has no join at all and
    // exactly one corpus scan — stronger than the d04 reuse shape,
    // which still pays an aggregate build side.
    val df = Dedup.lineDedup(Tables.documents(spark, sf))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Join"), s"d16 must be join-free:\n$plan")
    val scans = plan.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("documents"))
    assert(scans === 1,
      s"d16: segment pipeline must scan the corpus once (found $scans)")
    val exchanges = plan.linesIterator.count(l =>
      l.trim.startsWith("+- Exchange") || l.trim.startsWith("Exchange") ||
        l.trim.contains("- Exchange hashpartitioning"))
    assert(exchanges <= 2,
      s"d16: posting exchange + reassembly exchange only (found $exchanges)")
  }

  test("d16: boilerplate stripped from EVERY doc, first copy included") {
    import spark.implicits._
    val boiler = (1 to 8).map(i => s"nav$i").mkString(" ")
    val docs = ((1L to 5L).map { i =>
      (i, boiler + " " + (1 to 8).map(j => s"u${i}w$j").mkString(" "))
    } :+ (6L, "wholly unique text")).toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    (1L to 5L).foreach { i =>
      val r = out(i)
      // keep-NONE semantics: unlike d12 (doc_a's copy survives), the
      // df>=4 segment vanishes from all five docs, doc 1 included
      assert(!r.getString(1).contains("nav1"), s"doc $i kept boilerplate")
      assert(r.getString(1).startsWith(s"u${i}w1"))
      assert(r.getLong(2) === 2L && r.getLong(3) === 1L &&
        r.getLong(4) === 8L)
    }
    // unique short doc: one sub-width segment, nothing removed
    assert(out(6L).getString(1) === "wholly unique text")
    assert(out(6L).getLong(2) === 1L && out(6L).getLong(3) === 0L)
  }

  test("d16: in-doc repetition never triggers (df counts DISTINCT docs)") {
    import spark.implicits._
    val seg = (1 to 8).map(i => s"rep$i").mkString(" ")
    // one doc repeating the same segment 6 times: df = 1 < minDf
    val docs = Seq((1L, Seq.fill(6)(seg).mkString(" ")))
      .toDF("doc_id", "text")
    val r = Dedup.lineDedup(docs).collect().head
    assert(r.getLong(3) === 0L, "within-doc repetition is t15's job")
    assert(r.getLong(2) === 6L)
  }

  test("d16: engine ≡ in-memory reference on the real corpus") {
    val docs = Tables.documents(spark, sf)
    val w = Dedup.BoilerSegTokens
    val raw = docs.select("doc_id", "text").collect()
      .filter(r => !r.isNullAt(1))
      .map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase
        .split("\\s+", -1).toSeq)
    val segsOf = (tk: Seq[String]) =>
      tk.grouped(w).zipWithIndex
        .map { case (g, i) => (i.toLong, g.mkString(" "), g.size.toLong) }
        .toSeq
    val df = raw.flatMap { case (id, tk) => segsOf(tk).map(s => (s._2, id)) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).distinct.size }
    val expect = raw.map { case (id, tk) =>
      val segs = segsOf(tk)
      val kept = segs.filter(s => df(s._2) < Dedup.BoilerMinDf)
      val rem = segs.filterNot(s => df(s._2) < Dedup.BoilerMinDf)
      (id, kept.map(_._2).mkString(" "), segs.size.toLong,
        rem.size.toLong, rem.map(_._3).sum)
    }.toSet
    val got = Dedup.lineDedup(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got === expect)
  }
}
