package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** r9 verdict item 3: ANN recall as a machine-diffed artifact, not
  * spec prose. s02–s05 are rows-only forever (approximate by design),
  * so their quality signal — recall@k vs the exact s01 baseline at
  * the REGISTERED default dials — is measured here, written to
  * `RECALL_r{N}.json` in the repo root (committed each round), and
  * gated against the pinned floor: a learned-quantizer / codebook
  * regression that drops any recall by > 0.05 fails the build
  * instead of slipping through narration.
  *
  * Pins are the r9 measured values on the sf0.001 embeddings table
  * (seeded hyperplanes + bit-deterministic k-means make every number
  * a constant, not a distribution — see SimilaritySpec determinism
  * tests). Re-pin deliberately when a dial or codebook changes, with
  * the new value justified in the commit.
  */
class RecallArtifactSpec extends AnyFunSuite {
  import TestSpark._

  // measured @ sf0.001, the PRODUCTION approximate dials (the method
  // defaults, k=5, stride 50) — NOT the registered CORRECTNESS dials:
  // since r16, s02/s04 register their lossless anchors for the hash
  // gate (r15 verdict #6), and THIS artifact is what keeps the
  // approximate paths honestly measured.
  // All four re-pinned r13 after the round-13 dial sweep moved
  // the registered defaults to their cost/recall knees: IVF nprobe
  // 1→3 (0.28→0.72), LSH (nBits, tables) (6,8)→(5,16) (0.24→0.78),
  // PQ rerankDepth 32→64 (0.70→0.86), IVF-PQ (nprobe, rerankDepth)
  // (3,32)→(5,64) (0.60→0.76) — curves in the Similarity scaladoc
  // and SURVEY §2.
  // s03 re-pinned 0.78 → 1.0 in r18 (VERDICT r17 #3): the default
  // nBits is now AUTO-SIZED from a corpus count, and at this
  // 50-vector corpus the sizing rule correctly lands nBits=1 (2
  // buckets/table ≈ brute force — pruning at toy scale would be
  // mis-sizing, which is the cliff auto removes). The old fixed
  // (5,16) dial's 0.78 is recorded in RECALL_r13.json; the
  // corpus-scale economics in CLUSTERED_PROBE_r18.txt.
  private val pins = Map(
    "s02_ann_ivf" -> 0.72,
    "s03_ann_lsh" -> 1.0,
    "s04_ann_pq" -> 0.86,
    "s05_ann_ivfpq" -> 0.76)
  private val tolerance = 0.05

  test("ANN recall@5 vs s01 at registered defaults — artifact + pin gate") {
    val e = Tables.embeddings(spark, sf)
    val exact = Similarity.annBruteForce(e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.count(got.contains).toDouble / exact.size
    }
    val measured = List(
      "s02_ann_ivf" -> recallOf(Similarity.annIvf(e, cacheKey = sf)),
      "s03_ann_lsh" -> recallOf(Similarity.annLsh(e)),
      "s04_ann_pq" -> recallOf(Similarity.annPq(e, cacheKey = sf)),
      "s05_ann_ivfpq" -> recallOf(Similarity.annIvfPq(e, cacheKey = sf)))
    // the driver sets GRAFT_ROUND; an ad-hoc local run must NOT
    // clobber a committed round artifact, so it writes r-local
    val round = sys.env.getOrElse("GRAFT_ROUND", "local")
    val body = measured.map { case (name, r) =>
      f"""    "$name": {"recall_at_5": ${math.rint(r * 1e4) / 1e4}%s, "pin": ${pins(name)}%s}"""
    }.mkString(",\n")

    // CLUSTERED-corpus section (r16 verdict #4): the pins above live
    // on the driver's near-random corpus, where hyperplane buckets
    // barely prune and s03 measured SLOWER than brute force at sf10.
    // Real embeddings cluster; PlantedClusters plants that geometry
    // deterministically (10 Gaussian anchors, within-cluster cosine
    // ≈ 0.8), and the same registered dials are re-measured on it so
    // the artifact shows what the structure buys. Pins from the r17
    // measurement (hash-derived corpus ⇒ constants, like the above).
    val clusteredPins = Map(
      "s02_ann_ivf" -> 1.0,
      "s03_ann_lsh" -> 1.0)
    val ec = PlantedClusters.generate(spark, 500L)
      .localCheckpoint(true)
    val exactC = Similarity.annBruteForce(ec).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallC(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      exactC.count(got.contains).toDouble / exactC.size
    }
    val measuredC = List(
      "s02_ann_ivf" -> recallC(Similarity.annIvf(ec)),
      "s03_ann_lsh" -> recallC(Similarity.annLsh(ec)))
    val bodyC = measuredC.map { case (name, r) =>
      f"""      "$name": {"recall_at_5": ${math.rint(r * 1e4) / 1e4}%s, "pin": ${clusteredPins(name)}%s}"""
    }.mkString(",\n")

    val json =
      s"""{
         |  "sf": "$sf",
         |  "k": 5,
         |  "baseline": "s01_ann_bruteforce",
         |  "tolerance": $tolerance,
         |  "queries": {
         |$body
         |  },
         |  "clustered": {
         |    "corpus": "PlantedClusters n=500 dim=64 kAnchors=10 sigma=0.5",
         |    "queries": {
         |$bodyC
         |    }
         |  }
         |}
         |""".stripMargin
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"RECALL_r$round.json"),
      json.getBytes("UTF-8"))
    measured.foreach { case (name, r) =>
      assert(r >= pins(name) - tolerance,
        s"$name recall@5 $r dropped > $tolerance below pin ${pins(name)}")
    }
    measuredC.foreach { case (name, r) =>
      assert(r >= clusteredPins(name) - tolerance,
        s"$name CLUSTERED recall@5 $r dropped > $tolerance below " +
          s"pin ${clusteredPins(name)}")
    }
  }
}
