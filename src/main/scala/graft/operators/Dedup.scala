package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{HashExprs, TextOps, VectorOps}

/** Deduplication operators d01–d05 — the LLM-training-data
  * generalization of the reference's rmdup step
  * (/root/reference/tools.py:315-317, samtools rmdup: exact positional
  * dedup keeping one representative). Five variants, exact → fuzzy:
  *
  *  - d01 exact:   hash-groupBy on normalized text
  *  - d02 MinHash: shingle → minhash signature → LSH band buckets
  *  - d03 SimHash: 64-bit simhash → hamming-band buckets
  *  - d04 Jaccard: exact n-gram Jaccard over shingle-join candidates
  *  - d05 embedding: cosine near-dup within label blocks
  *
  * Scale posture (100 TB): nothing here ever shuffles document text.
  * d01 shuffles a 64-bit hash; d02/d03 shuffle (band, bucket-hash)
  * keys; d04 shuffles 64-bit shingle hashes; d05 shuffles vectors
  * only within label blocks. Candidate generation is always banded or
  * blocked — no operator materializes the all-pairs cross product.
  */
object Dedup {

  /** t15 registered defaults: every later re-occurrence of a run of
    * ≥ ScrubSpanTokens tokens is removed; per-(doc, gram) fan-out is
    * capped at ScrubMaxRep. The t15 oracle SQL is BUILT from these
    * (the p13Sql discipline) so engine and oracle cannot silently
    * desynchronize.
    */
  val ScrubSpanTokens: Int = 3
  val ScrubMaxRep: Int = 64

  /** d01_dedup_exact — exact duplicate groups on normalized text.
    * GroupBy on `xxhash64(normText)` so the exchange carries 8 bytes
    * per row instead of the document; `min(doc_id)` picks the
    * deterministic representative, `n_dups` the group size. Purely
    * algebraic → map-side partial aggregation.
    *
    * Collision contract: grouping on the 64-bit hash (here and in the
    * d04/d06 shingle joins) is PROBABILISTICALLY equal to grouping on
    * the strings the oracle uses — two distinct normalized texts
    * colliding would silently merge. At 10¹⁰ docs the birthday bound
    * puts the chance of ANY collision near 0.3%; trading that for an
    * 8-byte shuffle key instead of shipping document text is the
    * deliberate 100 TB posture (add a (hash, length) compound key if
    * an exactness guarantee is ever required).
    */
  def dedupExact(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        xxhash64(TextOps.normText(col("text"))).as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"))
      .select(col("doc_id"), col("n_dups"))

  /** Per-doc distinct shingle DIGEST sets, shared by d02/d04/d06.
    * (doc_id, sh: array<long>, nsh: int) — sh holds the seed-42
    * xxhash64 of each distinct shingle string via the ShingleHashes
    * kernel (one codegen'd pass; digests bit-equal to
    * `xxhash64(concat_ws(' ', …))`), so downstream consumers join/
    * intersect 8-byte longs instead of re-hashing strings. Grouping
    * on digests instead of strings is d01's documented probabilistic
    * gap (Dedup.scala:34-40) — unchanged, just earlier.
    *
    * The short-doc filter runs on the cheap token COUNT before the
    * shingle projection — filtering on `size(sh) > 0` after would
    * push the whole shingle expression into the filter and evaluate
    * it twice per row.
    */
  private def shingleSets(documents: DataFrame, n: Int,
      portable: Boolean = false): DataFrame =
    documents
      .filter(size(TextOps.tokens(col("text"))) >= n)
      .select(col("doc_id"),
        (if (portable)
          graft.functions.ShingleExprs.shingleHashSetPortable(col("text"), n)
        else
          graft.functions.ShingleExprs.shingleHashSet(col("text"), n))
          .as("sh"))
      .select(col("doc_id"), col("sh"), size(col("sh")).as("nsh"))

  /** d02_dedup_minhash — MinHash+LSH near-duplicate pairs.
    *
    * signature[i] = min over shingles of xxhash64(shingle, i), i.e.
    * `numHashes` independent permutations approximated by seeded
    * hashing; the signature is banded (`bands` bands of
    * numHashes/bands rows) and each band is hashed into a bucket key.
    * Candidates = pairs sharing ANY (band, bucket) — that join's
    * shuffle key is the 12-byte (band, bucket-hash), NOT the text, and
    * the pair blowup is bounded by bucket occupancy, not corpus².
    * Candidates are verified with exact Jaccard ≥ tau.
    *
    * With 16 bands × 4 rows, P(candidate | j) = 1-(1-j⁴)¹⁶:
    * ≈ 0.89 at j = 0.6 and ≈ 1 at j ≥ 0.8 — and fully deterministic
    * (seeded hashes), so the driver's re-run reproduces it bit-for-bit.
    *
    * HASH BASIS: the PORTABLE md5_60 contract (PortableHash) — shingle
    * digests, permutations, and band-bucket hash are all DuckDB-
    * expressible, so the FULL pipeline (signature → banding → bucket →
    * hot-bucket guard → exact-Jaccard verify) replays under the hash
    * oracle; this is what moved d02 off the rows-only list. The
    * xxhash64 mode remains on the kernels for digest-grouping users.
    */
  def dedupMinhash(documents: DataFrame, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16, tau: Double = 0.6,
      maxBucket: Int = 256): DataFrame = {
    // One exchange on doc_id reused by all three consumers (signature
    // branch + both sides of the candidate-verify join): without it
    // the tokenize→shingle pipeline runs once per branch. The verify
    // joins key on doc_id, so the hash(doc_id) partitioning is
    // exactly what they need — the arrays shuffle ONCE, not twice.
    // (doc_id, sh) ONLY, with an EXPLICIT doc_id null filter — every
    // consumer (signature branch, both verify sides) must carry the
    // identical projection AND filter set, or column pruning /
    // join-side isnotnull inference split them into non-identical
    // subtrees and the scan runs once per branch (the verify joins
    // infer isnotnull(doc_id); stating it here makes the signature
    // branch match). Set sizes are recomputed at the verify join via
    // size() (O(1) on an array column) for the same reason.
    val sets = shingleSets(documents, n, portable = true)
      .select(col("doc_id"), col("sh"))
      .filter(col("doc_id").isNotNull)
      .repartition(col("doc_id"))
    val candidates = minhashCandidates(sets, numHashes, bands, maxBucket)
    val verified = candidates
      .join(sets.select(col("doc_id").as("da"), col("sh").as("sha")), "da")
      .join(sets.select(col("doc_id").as("db"), col("sh").as("shb")), "db")
    val inter = size(array_intersect(col("sha"), col("shb")))
    verified
      .withColumn("jaccard",
        inter.cast("double") /
          (size(col("sha")) + size(col("shb")) - inter).cast("double"))
      .filter(col("jaccard") >= tau)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** The MinHash+LSH CANDIDATE stage shared by d02 (Jaccard verify)
    * and d18 (edit-distance verify): portable-basis signatures over
    * `sets` = (doc_id, sh), band buckets, hot-bucket guard, slim
    * (band, bucket) self-join → distinct (da, db) id pairs with
    * da < db. See dedupMinhash's doc for the banding math and the
    * exchange-reuse constraints each step preserves.
    */
  private[graft] def minhashCandidates(sets: DataFrame, numHashes: Int,
      bands: Int, maxBucket: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // Signature in ONE pass over the shingles (native MinHashSigs
    // kernel, portable mode: each shingle's md5_60 digest re-hashed
    // through 64 (a·x+b) mod M permutations), then band buckets.
    val sig = sets.select(col("doc_id"),
      HashExprs.minhashSigsPortable(col("sh"), numHashes).as("sig"))
    // Same reuse shape one level up: the hot-bucket guard (groupBy +
    // join back) and both self-join sides all key on (band, bucket),
    // so one exchange feeds all four consumers — otherwise every
    // branch re-runs the MinHash kernel over every shingle set.
    // Bucket = md5_60 of the band's comma-joined signature slice: the
    // shuffle key stays a slim (int, long) — never the 4-long slice —
    // and the oracle replays the same md5 bucket (16 md5 calls/doc).
    val banded = sig.select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => conv(substring(md5(array_join(
          transform(slice(col("sig"), b * rows + 1, lit(rows)),
            e => e.cast("string")), ",")), 1, 15), 16, 10)
          .cast("long"))))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "bucket")
      .repartition(col("band_id"), col("bucket"))
    // Hot-bucket guard: a (band, bucket) shared by B docs yields
    // B²/2 candidate pairs — a run of thousands of IDENTICAL
    // documents (which d01 should have removed upstream, but corpora
    // misbehave) would otherwise detonate one bucket into millions
    // of pairs. Buckets above maxBucket are dropped; true near-dups
    // lose nothing because they co-occur in ~all 16 bands. The guard
    // is a WINDOW over the banded exchange, not a groupBy+join-back:
    // the aggregate branch's pruned schema would break subtree
    // identity and defeat exchange reuse, re-running the MinHash
    // kernel per branch (see d04's identical fix).
    val trimmed =
      if (maxBucket == Int.MaxValue) banded
      else {
        import org.apache.spark.sql.expressions.Window
        banded
          .withColumn("bsz", count(lit(1))
            .over(Window.partitionBy(col("band_id"), col("bucket"))))
          .filter(col("bsz") <= maxBucket)
          .drop("bsz")
      }
    // SLIM candidate join: only (band, bucket, doc_id) crosses the
    // shuffle — carrying the shingle arrays through the 16×-exploded
    // band join would move ~16 copies of every document's shingles.
    // The arrays join back once per surviving candidate pair.
    trimmed.as("a")
      .join(trimmed.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .dropDuplicates("da", "db") // same pair can collide in several bands
  }

  /** d03_dedup_simhash — SimHash near-duplicate pairs.
    *
    * 64-bit simhash over the token multiset: bit j is set when the
    * sum over tokens of ±1 (sign of bit j of xxhash64(token)) is
    * positive. Candidates come from hamming-band bucketing: the 64
    * bits split into `chunks` 16-bit chunks; by pigeonhole, any pair
    * with hamming distance < chunks shares at least one exact chunk,
    * so the candidate join keys on (chunk_id, chunk_value) — never
    * all-pairs. Verified with bit_count(xor) <= maxHamming.
    *
    * HASH BASIS: portable md5-nibble bits (PortableHash.md5Bit), so
    * every simhash bit — and therefore the chunk values, the
    * pigeonhole candidacy, and the hamming counts — is replayable by
    * the DuckDB oracle (d02's promotion, same round).
    */
  def dedupSimhash(documents: DataFrame, maxHamming: Int = 3,
      chunks: Int = 4): DataFrame = {
    require(maxHamming < chunks, "pigeonhole needs maxHamming < chunks")
    val width = 64 / chunks
    // Per-bit signed vote over the token stream in one pass (native
    // SimHash64 kernel: each token hashed once, 64-wide vote loop in
    // JIT'd code — the HOF formulation re-hashed every token per bit).
    val sim = documents
      .filter(size(TextOps.tokens(col("text"))) > 0)
      .select(col("doc_id"),
        HashExprs.simhash64Portable(TextOps.tokens(col("text"))).as("simhash"))
    val chunked = sim.select(
      col("doc_id"), col("simhash"),
      posexplode(transform(sequence(lit(0), lit(chunks - 1)),
        c => call_function("shiftright", col("simhash"), c * lit(width))
          .bitwiseAND(lit((1L << width) - 1L)))))
      .withColumnRenamed("pos", "chunk_id")
      .withColumnRenamed("col", "chunk_val")
    chunked.as("a")
      .join(chunked.as("b"),
        col("a.chunk_id") === col("b.chunk_id") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** d04_ngram_jaccard — exact n-gram Jaccard pairs ≥ tau.
    *
    * Candidates via shingle equi-join: explode distinct shingles,
    * join on `xxhash64(shingle)` (8-byte shuffle key, never the
    * text), count shared shingles per pair, score
    * inter / (|A| + |B| - inter). Pairs sharing no shingle can't
    * reach tau > 0, so the join IS the candidate filter.
    *
    * Two guards bound the quadratic term at corpus scale:
    *
    *  - `maxDf` caps the document frequency of join shingles — the
    *    pair blowup is Σ df², so dropping shingles present in more
    *    than maxDf docs bounds it (boilerplate shingles are exactly
    *    the ones that explode). ON by default: maxDf=128 admits every
    *    legitimate near-dup shingle (a shingle shared by >128 docs is
    *    boilerplate, not signal) while capping any single shingle's
    *    contribution at 128²/2 pairs. A dropped hot shingle can lower
    *    a pair's observed intersection — a documented recall tradeoff,
    *    invisible on corpora whose max df is below the cap.
    *  - LOSSLESS length-ratio pruning: J(A,B) ≥ τ forces
    *    τ·max(|A|,|B|) ≤ min(|A|,|B|) (intersection ≤ min, union ≥
    *    max), so candidate pairs violating the size ratio are
    *    discarded AT JOIN-PROBE TIME — they never reach the pair-count
    *    shuffle. Provably changes nothing (spec-verified pruned ≡
    *    unpruned on real data); the ε guards the fp product at the
    *    boundary so a representation-rounding of τ can't exclude a
    *    legitimate boundary pair.
    */
  def ngramJaccard(documents: DataFrame, n: Int = 3, tau: Double = 0.6,
      maxDf: Int = 128, lengthPrune: Boolean = true): DataFrame =
    ngramJaccardFromSets(shingleSets(documents, n), tau, maxDf, lengthPrune)

  /** Pair pipeline over PRE-BUILT (doc_id, sh, nsh) digest sets —
    * lets compositions (p03) that already materialized per-doc
    * shingle sets for another purpose feed the candidate join
    * without a second corpus scan.
    */
  private[graft] def ngramJaccardFromSets(sets: DataFrame,
      tau: Double = 0.6, maxDf: Int = 128,
      lengthPrune: Boolean = true): DataFrame = {
    // ONE exchange on gh that every consumer reuses: the df filter,
    // the df-posting join, and both self-join sides all need
    // hash(gh) partitioning, so materializing the exploded posting
    // through a single repartition lets ReuseExchange feed all four
    // from one shuffle — without it the scan→tokenize→shingle→explode
    // pipeline (the CPU-heavy part at corpus scale) runs once per
    // branch, 4× total.
    val exploded = sets
      .select(col("doc_id"), col("nsh"), explode(col("sh")).as("gh"))
      .repartition(col("gh"))
    // df guard as a WINDOW over the posting exchange, not a separate
    // groupBy+join: an aggregate branch gets its scan pruned to a
    // narrower schema, which makes its subtree non-identical and
    // DEFEATS exchange reuse — the tokenize→shingle pipeline then
    // runs twice (measured in the at-scale plan). The window count
    // consumes the same exchange the join sides do, so the pipeline
    // materializes exactly once; partition key gh is high-cardinality
    // (no skew beyond the hot shingles the filter itself drops), and
    // the window's gh-sort is the SMJ's required sort anyway.
    val posting =
      if (maxDf == Int.MaxValue) exploded
      else {
        import org.apache.spark.sql.expressions.Window
        exploded
          .withColumn("df", count(lit(1)).over(Window.partitionBy(col("gh"))))
          .filter(col("df") <= maxDf)
          .drop("df")
      }
    val sizeOk =
      if (lengthPrune)
        least(col("a.nsh"), col("b.nsh")).cast("double") >=
          greatest(col("a.nsh"), col("b.nsh")).cast("double") * tau - 1e-9
      else lit(true)
    posting.as("a")
      .join(posting.as("b"),
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id") &&
          sizeOk)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"),
        first(col("a.nsh")).as("na"), first(col("b.nsh")).as("nb"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** d13_ngram_containment — asymmetric CONTAINMENT pairs:
    * C = |A∩B| / min(|A|,|B|), the score that catches a SMALL
    * document embedded verbatim in a much larger one (a quoted
    * article inside an aggregator page, a README pasted into a
    * monorepo dump) — pairs symmetric Jaccard structurally misses:
    * J = inter/union ≤ min/max, so a 50-shingle doc fully contained
    * in a 5000-shingle doc scores J ≈ 0.01 and never crosses d04's
    * τ, while C = 1.0 (the spec PLANTS exactly that shape and pins
    * d13 flagging what d04 does not). Same candidate discipline as
    * d04 — one reused posting exchange, df ≤ maxDf join guard, pairs
    * share ≥ 1 surviving shingle or never meet — with ONE deliberate
    * difference: d04's length-ratio prune is ABSENT, because for
    * containment the extreme size ratio IS the signal, not a
    * disqualifier (that prune is only lossless for J). The df cap
    * still bounds the pair blowup at Σdf²; a hot-shingle drop can
    * lower an observed intersection (d04's documented recall
    * tradeoff, identical here).
    */
  def ngramContainment(documents: DataFrame, n: Int = 3,
      tau: Double = 0.9, maxDf: Int = 128): DataFrame = {
    val exploded = shingleSets(documents, n)
      .select(col("doc_id"), col("nsh"), explode(col("sh")).as("gh"))
      .repartition(col("gh"))
    val posting = {
      import org.apache.spark.sql.expressions.Window
      exploded
        .withColumn("df", count(lit(1)).over(Window.partitionBy(col("gh"))))
        .filter(col("df") <= maxDf)
        .drop("df")
    }
    posting.as("a")
      .join(posting.as("b"),
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"),
        first(col("a.nsh")).as("na"), first(col("b.nsh")).as("nb"))
      .withColumn("containment",
        col("inter").cast("double") /
          least(col("na"), col("nb")).cast("double"))
      .filter(col("containment") >= tau)
      .select(col("doc_a"), col("doc_b"),
        col("na").cast("long").as("na"), col("nb").cast("long").as("nb"),
        round(col("containment"), 4).as("containment"))
  }

  /** d06_decontaminate — benchmark decontamination: flag corpus
    * documents whose n-gram shingles overlap an evaluation set (here:
    * docs below `benchmarkMaxId`, standing in for a held-out
    * benchmark) above `minRatio`. The benchmark's DISTINCT shingle
    * hashes form a small broadcast set; the corpus side explodes to
    * (doc_id, 8-byte hash) and joins map-side — the corpus text
    * never shuffles, and the work is linear in corpus shingles.
    */
  def decontaminate(documents: DataFrame, benchmarkMaxId: Long = 25L,
      n: Int = 3, minRatio: Double = 0.5): DataFrame = {
    val sets = shingleSets(documents, n)
    val benchGrams = sets.filter(col("doc_id") < benchmarkMaxId)
      .select(explode(col("sh")).as("gh"))
      .distinct()
    val posting = sets.filter(col("doc_id") >= benchmarkMaxId)
      .select(col("doc_id"), col("nsh"), explode(col("sh")).as("gh"))
    posting
      .join(broadcast(benchGrams), "gh")
      .groupBy(col("doc_id"))
      .agg(first(col("nsh")).cast("long").as("n_shingles"),
        count(lit(1)).as("n_overlap"))
      .withColumn("contam_ratio",
        col("n_overlap").cast("double") / col("n_shingles"))
      .filter(col("contam_ratio") >= minRatio)
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        round(col("contam_ratio"), 4).as("contam_ratio"))
  }

  /** d15_bloom_decontaminate — benchmark decontamination with a
    * BLOOM-FILTER pre-filter ahead of the exact confirm join: flag
    * every corpus document containing ANY benchmark n-gram (the
    * any-hit test-set-leak report, vs d06's ratio gate), evaluated as
    *
    *   corpus grams → might_contain(bloom) map-side prune
    *                → exact confirm join (kills the FPs)
    *                → per-doc hit counts.
    *
    * The answer is EXACTLY the plain exact-join formulation (the
    * bloom has no false negatives; the confirm join removes its false
    * positives), so the DuckDB oracle is ordinary SQL — the bloom is
    * purely a physical optimization, spec-pinned bit-for-bit equal to
    * the `skipBloom` control.
    *
    * 100 TB posture: d06 broadcasts the benchmark gram SET into a
    * hash join, which stops being free when the blocklist is every
    * eval suite ever published (billions of grams). The bloom
    * artifact is ~1.2 bytes/gram at 3% FPP — two orders denser than
    * the hash relation — and the map-side `might_contain` drops
    * ≥97% of clean grams BEFORE any join machinery, so the confirm
    * join's probe side is the contaminated sliver plus an fpp-sized
    * trickle, not the corpus. Build side reuses Spark's own runtime-
    * filter plumbing (`BloomFilterMightContain` over `xxhash64`,
    * the InjectRuntimeFilter convention); the filter is built once
    * per blocklist (a dim-side artifact, like s02's quantizer memo)
    * and ships to executors as a literal, not a shuffle.
    */
  /** d15 registered defaults — the oracle SQL is BUILT from these
    * (the p13Sql discipline): gram order and benchmark boundary
    * interpolate into the SQL so engine and oracle cannot silently
    * desynchronize.
    */
  val BloomGramN: Int = 5
  val BloomBenchMaxId: Long = 25L

  /** (blocklist gram set, corpus posting list) for d15 — one
    * definition feeding the operator and the spec instrumentation.
    */
  private def bloomSides(documents: DataFrame, benchmarkMaxId: Long,
      n: Int): (DataFrame, DataFrame) = {
    val sets = shingleSets(documents, n)
    val benchGrams = sets.filter(col("doc_id") < benchmarkMaxId)
      .select(explode(col("sh")).as("gh"))
      .distinct()
    val posting = sets.filter(col("doc_id") >= benchmarkMaxId)
      .select(col("doc_id"), col("nsh"), explode(col("sh")).as("gh"))
    (benchGrams, posting)
  }

  /** Bloom-artifact memo (s02's quantizer discipline): the blocklist
    * filter is a build-once dim-side artifact, so repeat invocations
    * against the same corpus (bench reps, audit sweeps) reuse the
    * bytes instead of re-running the count+build jobs. Empty
    * cacheKey = always rebuild (what the equality specs use).
    */
  private val bloomMemo = scala.collection.concurrent.TrieMap
    .empty[(String, Long, Int, Long), Array[Byte]]

  def bloomDecontaminate(documents: DataFrame,
      benchmarkMaxId: Long = BloomBenchMaxId,
      n: Int = BloomGramN, fpp: Double = 0.03,
      skipBloom: Boolean = false, cacheKey: String = ""): DataFrame = {
    val (benchGrams, posting) = bloomSides(documents, benchmarkMaxId, n)
    def bytes =
      if (cacheKey.isEmpty) bloomArtifact(benchGrams, fpp)
      else bloomMemo.getOrElseUpdate(
        (cacheKey, benchmarkMaxId, n, math.round(fpp * 1e6)),
        bloomArtifact(benchGrams, fpp))
    val survivors =
      if (skipBloom) posting
      else posting.filter(mightContainColumn(
        lit(bytes), xxhash64(col("gh"))))
    // confirm join deliberately UNHINTED: at harness scale the gram
    // relation auto-broadcasts, but d15's premise is a blocklist too
    // large for a comfortable hash relation — there the planner must
    // be free to shuffle-join the post-bloom sliver instead of
    // building the full gram set on every executor.
    survivors
      .join(benchGrams, "gh")
      .groupBy(col("doc_id"))
      .agg(first(col("nsh")).cast("long").as("n_shingles"),
        count(lit(1)).as("n_hits"))
      .select(col("doc_id"), col("n_shingles"), col("n_hits"))
  }

  /** Serialized bloom filter over the blocklist grams' xxhash64
    * values — the build-once dim-side artifact d15 embeds as a
    * literal. Follows Spark's runtime-filter convention exactly
    * (insert xxhash64(key), probe mightContainLong), so the probe
    * side can use the stock `BloomFilterMightContain` expression.
    */
  private[graft] def bloomArtifact(grams: DataFrame,
      fpp: Double): Array[Byte] = {
    val hashed = grams.select(xxhash64(col("gh")).as("x"))
    val n = hashed.count()
    // empty build side: stat.bloomFilter NPEs on the null aggregate
    // buffer, so hand back a trivially-empty (all-reject) filter
    val bf =
      if (n == 0L) org.apache.spark.util.sketch.BloomFilter.create(64L, fpp)
      else hashed.stat.bloomFilter("x", math.max(n, 64L), fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** `might_contain(bloomBytes, xxhash64Value)` as a Column — the
    * stock Catalyst `BloomFilterMightContain` (codegen'd, lazily
    * deserializes the literal once per task).
    */
  private[graft] def mightContainColumn(bloomBytes: Column,
      value: Column): Column =
    org.apache.spark.sql.graftshim.Shim.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.graftshim.Shim.expression(bloomBytes),
        org.apache.spark.sql.graftshim.Shim.expression(value)))

  /** Pre-confirm survivor count — spec instrumentation for the d15
    * prune assertion (survivors ≪ postings, ⊇ every true hit).
    */
  private[graft] def bloomSurvivorCounts(documents: DataFrame,
      benchmarkMaxId: Long = BloomBenchMaxId, n: Int = BloomGramN,
      fpp: Double = 0.03): (Long, Long) = {
    val (benchGrams, posting) = bloomSides(documents, benchmarkMaxId, n)
    val survivors = posting.filter(mightContainColumn(
      lit(bloomArtifact(benchGrams, fpp)), xxhash64(col("gh"))))
    (posting.count(), survivors.count())
  }

  /** d09_dup_spans — cross-document EXACT duplicated token spans:
    * for every document pair sharing a verbatim run of ≥ `spanTokens`
    * tokens, emit the maximal shared spans with their positions —
    * substring-level dedup (the "train-data contains the same
    * paragraph twice under different URLs" case that document-level
    * Jaccard (d04) smooths over and exact dedup (d01) misses
    * entirely). The reference's rmdup works at read granularity
    * (/root/reference/tools.py:315); this is the finer-grained text
    * analog.
    *
    * Mechanism: positioned L-token shingles — (doc, pos, hash) — join
    * on shingle hash across documents, then matches are merged into
    * maximal spans ALONG DIAGONALS: a shared run of length m yields
    * m−L+1 consecutive matches with constant diag = pos_a − pos_b,
    * so gaps-and-islands per (pair, diag) reconstructs each maximal
    * span exactly (consecutive-match reasoning: two matches at p and
    * p+2 on one diagonal force the match at p+1, so islands cannot
    * have spurious gaps — except where the df cap drops a hot
    * shingle, which conservatively SPLITS a span, never invents one).
    *
    * Scale shape: d04's posting discipline — one reusable exchange on
    * the shingle hash feeds the df filter and both join sides; the
    * df ≤ maxDf cap bounds any single shingle's join fan-out at
    * maxDf² (boilerplate headers are the pathological case); the
    * islands window partitions by (pair, diag) — cardinality bounded
    * by matched pairs, never corpus-wide. Engine joins 64-bit
    * hashes where the oracle joins strings — d01's documented
    * probabilistic gap.
    */
  def dupSpans(documents: DataFrame, spanTokens: Int = 10,
      maxDf: Int = 128): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val posting = documents
      .select(col("doc_id"),
        posexplode(graft.functions.ShingleExprs
          .shingleHashSeq(col("text"), spanTokens)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("gh"))
      .repartition(col("gh"))
    // window-count df guard over the one posting exchange (see d04:
    // an aggregate branch would defeat exchange reuse via pruning)
    val capped = posting
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("gh"))))
      .filter(col("df") <= maxDf)
      .drop("df")
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pa"))
    // MERGE hint (r18): at bench SF, AQE's runtime stats flip this
    // self-join to broadcast, and the broadcast side re-runs the
    // scan→shingle pipeline instead of reusing the posting exchange
    // — the hint pins the at-scale SMJ shape (what the d04/d09 spec
    // asserts with broadcast off) at EVERY scale, so the pipeline
    // materializes exactly once and both sides + the df guard ride
    // one ReusedExchange (guide §3.1: strategy chosen deliberately).
    capped.as("a").hint("merge")
      .join(capped.as("b"),
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"),
        (col("a.pos") - col("b.pos")).as("diag"))
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
      .agg(min(col("pa")).as("a_start"), min(col("pb")).as("b_start"),
        (max(col("pa")) - min(col("pa")) + spanTokens).as("span_tokens"))
      .select(col("doc_a"), col("doc_b"), col("a_start"), col("b_start"),
        col("span_tokens"))
  }

  /** d12_span_scrub — REMOVE the cross-document duplicated token
    * spans d09 detects, the substring-level dedup fix-up (the doc
    * keeps its unique content, loses the boilerplate run) — the
    * corpus-scale generalization of the reference's trim step, which
    * cuts matched adapter subsequences out of otherwise-kept records
    * (/root/reference/tools.py:145) rather than dropping the record.
    * Convention: in each (doc_a < doc_b) pair the HIGHER id loses its
    * copy, so one canonical occurrence always survives. Output: one
    * row per AFFECTED document with the scrubbed text (rebuilt from
    * the normalized token stream the span detector saw), the removed
    * count, and the original token count; a fully-duplicated document
    * scrubs to ''.
    *
    * Scale shape: spans explode to (doc, pos) removal rows — output
    * is bounded by total duplicated tokens, and the distinct + joins
    * all key on doc_id (high cardinality). The corpus is semi-joined
    * to AFFECTED doc ids BEFORE the token explode, so reassembly
    * touches only dup-bearing documents (a sliver of any real
    * corpus), not the corpus. Per-doc reassembly is one
    * collect_list(struct(pos, tok)) buffer — bounded by a single
    * document's length, the same envelope as t05's per-doc grams.
    */
  def spanScrub(documents: DataFrame, spanTokens: Int = 10,
      maxDf: Int = 128): DataFrame = {
    val removed = dupSpans(documents, spanTokens, maxDf)
      .select(col("doc_b").as("doc_id"),
        explode(sequence(col("b_start"),
          col("b_start") + col("span_tokens") - 1)).as("pos"))
      .distinct()
    val affected = removed.select(col("doc_id")).distinct()
    val toks = documents
      .join(affected, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        posexplode(TextOps.tokens(col("text"))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("tok"))
    toks
      .join(removed.withColumn("rm", lit(1)), Seq("doc_id", "pos"), "left")
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("rm").isNull, struct(col("pos"), col("tok"))))),
          x => x.getField("tok"))).as("scrubbed"),
        sum(coalesce(col("rm"), lit(0))).cast("long")
          .as("n_removed_tokens"),
        count(lit(1)).as("n_tokens"))
  }

  /** t15_repetition_scrub — remove INTRA-document repetition: t05
    * measures duplicated n-grams per document but nothing removes
    * them; this is the within-doc counterpart of d12 (cross-doc span
    * scrub), the "same paragraph pasted twice in one page" fix-up the
    * Gopher/C4 repetition FILTERS only reject wholesale. Every later
    * re-occurrence of a token run of ≥ `spanTokens` tokens is
    * deleted; the EARLIEST occurrence survives (a self-overlapping
    * periodic run — "x x x x" — collapses to its leading token, the
    * aggressive-but-correct edge: position 0 is never removable, so
    * no document scrubs to empty). (Reference
    * analog: trim cuts matched subsequences out of otherwise-kept
    * records, /root/reference/tools.py:145, generalized within-doc.)
    *
    * Mechanism is d09's diagonal-islands machinery turned inward:
    * positioned spanTokens-gram hashes self-joined WITHIN each doc on
    * (doc_id, gh) with pa < pb; a repeated run of m ≥ spanTokens
    * tokens yields m−spanTokens+1 consecutive matches on the
    * diagonal diag = pb−pa, so gaps-and-islands per (doc, diag)
    * rebuilds each maximal repeated span exactly; removal positions
    * are the b-side (later) spans, distinct-unioned across diagonals
    * so a thrice-repeated run scrubs to one copy. Reassembly is
    * d12's recipe verbatim: semi-join to affected docs BEFORE the
    * token explode, one bounded per-doc collect_list.
    *
    * Scale shape: the self-join keys on (doc_id, gh) — one exchange,
    * both sides, partition-local fan-out. The per-(doc, gh) `maxRep`
    * cap bounds a degenerate doc's pair fan-out at maxRep² and is
    * CONSERVATIVE the same way d09's df cap is: dropping a
    * pathological gram can only split or skip a span, never invent
    * one. Window cardinality is (doc, diag) over matched docs only.
    */
  def repetitionScrub(documents: DataFrame,
      spanTokens: Int = Dedup.ScrubSpanTokens,
      maxRep: Int = Dedup.ScrubMaxRep): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val posting = documents
      .select(col("doc_id"),
        posexplode(graft.functions.ShingleExprs
          .shingleHashSeq(col("text"), spanTokens)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("gh"))
      .repartition(col("doc_id"))
    val capped = posting
      .withColumn("rep",
        count(lit(1)).over(Window.partitionBy(col("doc_id"), col("gh"))))
      .filter(col("rep") <= maxRep)
      .drop("rep")
    val w = Window.partitionBy(col("doc_id"), col("diag")).orderBy(col("pa"))
    // MERGE hint: same rationale as dupSpans — keep the posting
    // exchange reused (pipeline once) at every scale, not just with
    // broadcast off (the t15 plan spec's at-scale shape).
    val removed = capped.as("a").hint("merge")
      .join(capped.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.gh") === col("b.gh") &&
          col("a.pos") < col("b.pos"))
      .select(col("a.doc_id").as("doc_id"), col("a.pos").as("pa"),
        col("b.pos").as("pb"), (col("b.pos") - col("a.pos")).as("diag"))
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("doc_id"), col("diag"), col("grp"))
      .agg(min(col("pb")).as("b_start"),
        (max(col("pb")) - min(col("pb")) + spanTokens).as("span_tokens"))
      .select(col("doc_id"),
        explode(sequence(col("b_start"),
          col("b_start") + col("span_tokens") - 1)).as("pos"))
      .distinct()
    val affected = removed.select(col("doc_id")).distinct()
    val toks = documents
      .join(affected, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        posexplode(TextOps.tokens(col("text"))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("tok"))
    toks
      .join(removed.withColumn("rm", lit(1)), Seq("doc_id", "pos"), "left")
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("rm").isNull, struct(col("pos"), col("tok"))))),
          x => x.getField("tok"))).as("scrubbed"),
        sum(coalesce(col("rm"), lit(0))).cast("long")
          .as("n_removed_tokens"),
        count(lit(1)).as("n_tokens"))
  }

  /** d11_snapshot_diff — dataset-version diffing: which documents
    * were ADDED, REMOVED, or CHANGED between two corpus snapshots —
    * the bookkeeping every versioned training set needs before
    * retraining (what moved since the last cut?), and the corpus
    * analog of the reference's per-sample progress comparison
    * (/root/reference/tools.py:28-56 decides redo-vs-skip by
    * comparing recorded state).
    *
    * Full outer join on the key of (key, content-hash) projections:
    * each side shuffles 16 bytes per document, never text; status is
    * a null-pattern CASE. UNCHANGED rows (the overwhelming majority
    * between adjacent snapshots) are filtered before the result
    * materializes. Hash-compare is d01's documented probabilistic
    * gap (the oracle diffs the normalized strings).
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    def slim(df: DataFrame, h: String) = df.select(
      col("doc_id"), xxhash64(TextOps.normText(col("text"))).as(h))
    slim(oldSnap, "h_old")
      .join(slim(newSnap, "h_new"), Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("h_old").isNull, lit("added"))
          .when(col("h_new").isNull, lit("removed"))
          .when(col("h_old") =!= col("h_new"), lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("status") =!= "unchanged")
      .select(col("doc_id"), col("status"))
  }

  /** Driver entry: two snapshots derived deterministically from the
    * documents table — the old cut is missing `doc_id ≡ 3 (mod 11)`,
    * the new cut dropped `doc_id ≡ 5 (mod 13)` and re-edited
    * `doc_id ≡ 0 (mod 7)` (a marker suffix) — so the oracle can
    * rebuild both sides with the same arithmetic.
    */
  def snapshotDiffDemo(documents: DataFrame): DataFrame = {
    val oldSnap = documents.filter(pmod(col("doc_id"), lit(11L)) =!= 3L)
    val newSnap = documents.filter(pmod(col("doc_id"), lit(13L)) =!= 5L)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(7L)) === 0L,
          concat(col("text"), lit(" rev2"))).otherwise(col("text")))
    snapshotDiff(oldSnap, newSnap)
  }

  /** d14_snapshot_overlap — the SKETCH tier of d11: estimate how much
    * two corpus snapshots share WITHOUT materializing the diff. d11's
    * full-outer join is the exact answer, but at 100 TB you run the
    * cheap estimate daily and pay for the exact diff only when the
    * estimate says something moved — the same exact/approx pairing as
    * q15/q43 and q19 vs count(distinct).
    *
    * Mechanism: elements are (doc_id, content-hash) pairs — a changed
    * document is a different element on each side, so
    * common ≈ unchanged documents. Three HLL++ sketches in ONE
    * aggregate over the tagged union (old-side, new-side, union);
    * inclusion–exclusion then yields intersection and the two
    * one-sided differences. Everything after the map-side partial
    * aggregation is three fixed-size HLL buffers per partition — no
    * per-document shuffle at all, strictly cheaper than d11's
    * 16-bytes-per-doc exchange.
    *
    * Rows-only by declaration (HLL estimates are not
    * SQL-replayable); the spec bounds every estimate against the
    * exact d11-side answer. rsd 0.02 ⇒ ±~4% at 2σ — tight enough
    * that a daily drift gate on est_only_new/est_new is meaningful,
    * and measured 6× cheaper than rsd 0.01, which tips HLL++ past
    * the sparse-representation cliff into 2^18-register dense
    * buffers (2.4 s vs 0.39 s on the sf0.1 corpus).
    */
  def snapshotOverlap(oldSnap: DataFrame, newSnap: DataFrame,
      rsd: Double = 0.02): DataFrame = {
    def keyed(df: DataFrame, side: String) = df.select(
      concat_ws(":", col("doc_id"),
        xxhash64(TextOps.normText(col("text")))).as("k"),
      lit(side).as("side"))
    keyed(oldSnap, "a").unionByName(keyed(newSnap, "b"))
      .agg(
        approx_count_distinct(when(col("side") === "a", col("k")), rsd)
          .as("est_old"),
        approx_count_distinct(when(col("side") === "b", col("k")), rsd)
          .as("est_new"),
        approx_count_distinct(col("k"), rsd).as("est_union"))
      .select(col("est_old"), col("est_new"), col("est_union"),
        // Clamp the inclusion–exclusion derivatives at zero: HLL
        // noise can push est_union past est_old + est_new when the
        // true overlap is near empty, and a negative "common docs"
        // readout is nonsense for the daily drift gate.
        greatest(lit(0L),
          col("est_old") + col("est_new") - col("est_union"))
          .as("est_common"),
        greatest(lit(0L), col("est_union") - col("est_new"))
          .as("est_only_old"),
        greatest(lit(0L), col("est_union") - col("est_old"))
          .as("est_only_new"))
  }

  /** Driver entry: the same two deterministic snapshot cuts as d11,
    * so the spec can compare the estimates against d11's exact
    * answer on the same data.
    */
  def snapshotOverlapDemo(documents: DataFrame): DataFrame = {
    val oldSnap = documents.filter(pmod(col("doc_id"), lit(11L)) =!= 3L)
    val newSnap = documents.filter(pmod(col("doc_id"), lit(13L)) =!= 5L)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(7L)) === 0L,
          concat(col("text"), lit(" rev2"))).otherwise(col("text")))
    snapshotOverlap(oldSnap, newSnap)
  }

  /** d10_dedup_incremental — dedup ARRIVING documents against a
    * build-once corpus index, the continuous-ingest shape: a corpus
    * that grows daily cannot re-run all-pairs dedup per batch, so the
    * existing corpus's shingle postings are written ONCE as a
    * bucketed table (bucketBy gh, df-capped at build time — the
    * boilerplate filter is paid at indexing, not per probe) and every
    * new batch probes it. The join reads the index IN PLACE: the
    * bucketed side contributes no exchange (k02's contract), only the
    * day's arrivals — a sliver of the corpus — shuffle. Emits
    * (doc_id, dup_of, jaccard): which existing document each arrival
    * duplicates at ≥ tau.
    *
    * The split here is by doc_id (`splitId` marks old/new) so the
    * oracle can express both slices from one table; a deployment
    * passes actual corpus and arrival frames. Index memoized per
    * (cacheKey, n, maxDf) with a per-JVM nonce, like k02's staging.
    */
  private val idxNonce = java.lang.Long.toHexString(System.nanoTime())
  // table names live in a session's catalog, so the session is part
  // of the key (like the DataFrame memos: no cross-session resurrection)
  private val stagedIdx = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, Int, Int), String]

  /** Shingle postings of a document slice: (doc_id, nsh, gh). Shared
    * by the batch probe (d10) and the per-micro-batch probe (st09).
    */
  private[graft] def incrementalPosting(df: DataFrame, n: Int): DataFrame =
    shingleSets(df, n)
      .select(col("doc_id"), col("nsh"), explode(col("sh")).as("gh"))

  /** The build-once bucketed corpus index (d10's contract): postings
    * of the existing corpus, df-capped at BUILD time, written
    * `bucketBy(gh)` so every probe joins it in place — zero
    * index-side exchange. Memoized per (cacheKey, n, maxDf); st09
    * reuses the same artifact across micro-batches, which is the
    * whole point of the shape.
    */
  private[graft] def incrementalIndex(documents: DataFrame,
      splitId: Long, n: Int, maxDf: Int, buckets: Int,
      cacheKey: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = documents.sparkSession
    def buildIndex(): String = {
      val table = s"graft_d10_idx_${idxNonce}_${stagedIdx.size}"
      val dir = graft.Staging.dir("graft_d10_idx_")
      incrementalPosting(documents.filter(col("doc_id") < splitId), n)
        .withColumn("df",
          count(lit(1)).over(Window.partitionBy(col("gh"))))
        .filter(col("df") <= maxDf)
        .drop("df")
        .write.bucketBy(buckets, "gh").sortBy("gh")
        .option("path", s"$dir/idx").mode("overwrite").saveAsTable(table)
      table
    }
    val table =
      if (cacheKey.isEmpty) buildIndex()
      else stagedIdx.getOrElseUpdate(
        (spark, cacheKey, n, maxDf), buildIndex())
    spark.table(table)
  }

  /** The probe: arrival postings against the bucketed index —
    * index side contributes no exchange (spec-asserted), only the
    * arrival sliver shuffles — aggregated to exact-Jaccard pairs at
    * ≥ tau. Batching-invariant: each arrival's pairs depend only on
    * that document and the STATIC index, so probing per micro-batch
    * (st09) and probing the whole slice at once (d10) give the same
    * rows — the equality the st09 spec pins.
    */
  private[graft] def probeIndex(arrivals: DataFrame, idx: DataFrame,
      tau: Double): DataFrame =
    arrivals.as("a")
      .join(idx.hint("merge").as("c"), col("a.gh") === col("c.gh"))
      .groupBy(col("a.doc_id").as("doc_id"), col("c.doc_id").as("dup_of"))
      .agg(count(lit(1)).as("inter"),
        first(col("a.nsh")).as("na"), first(col("c.nsh")).as("nc"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("na") + col("nc") - col("inter")).cast("double"))
      .filter(col("jaccard") >= tau)
      .select(col("doc_id"), col("dup_of"),
        round(col("jaccard"), 4).as("jaccard"))

  def dedupIncremental(documents: DataFrame, splitId: Long = 250L,
      n: Int = 3, tau: Double = 0.6, maxDf: Int = 128,
      buckets: Int = 16, cacheKey: String = ""): DataFrame = {
    val idx = incrementalIndex(documents, splitId, n, maxDf, buckets,
      cacheKey)
    probeIndex(
      incrementalPosting(documents.filter(col("doc_id") >= splitId), n),
      idx, tau)
  }

  /** d07_dedup_groups — resolve a near-dup PAIR list into duplicate
    * GROUPS with a deterministic survivor, the reference's actual
    * rmdup contract (/root/reference/tools.py:315-317: keep ONE
    * representative) applied to fuzzy duplicates: A~B and B~C put
    * {A,B,C} in one cluster even when no direct A~C pair exists.
    * Emits (cluster_rep, doc_id, n_members) — one row per clustered
    * document, cluster_rep = min doc_id of the component (the kept
    * representative), so `doc_id != cluster_rep` is the drop set.
    *
    * Algorithm: min-label propagation with pointer jumping, pure
    * DataFrame ops. labels(x) starts at min(x, neighbors(x)); each
    * round does (1) label ← min over the CLOSED neighborhood's labels
    * — one join + groupBy over the edge list augmented with self-loop
    * rows (x, x), so the own-label `least` needs no second join (r18
    * optimization round; the self-loop arm is a projection of the
    * materialized init labels — one row per node, no distinct, no
    * extra pass) — then (2) label ← label(label) (pointer jump, one
    * self-join). Two joins per round where the pre-r18 shape paid
    * three; output proven row-identical on the corpus and on a
    * planted diameter-2047 chain (11 rounds) before the switch.
    * The jump halves the depth of every label
    * chain, so convergence takes O(log2(diameter)) rounds, not
    * O(diameter): `maxIters` = 16 covers diameters to ~64k, far past
    * any real near-dup component (dup clusters are dense — boilerplate
    * families, mirror sites — with diameters in the tens at worst).
    * The loop STOPS as soon as a round changes nothing and RAISES if
    * maxIters rounds were not enough — silent half-merged clusters
    * are corrupted output, a loud failure is recoverable.
    *
    * Scale posture: every round shuffles only (node, label) pairs —
    * 16 bytes/row over the DUP-GRAPH nodes (documents with ≥1 near
    * dup), never the corpus; each round's labels materialize via
    * localCheckpoint so the plan does not grow with iterations and
    * the pair-generation upstream runs exactly once. The per-round
    * convergence probe is a single-row aggregate (labels only ever
    * decrease, so an unchanged sum ⟺ a fixed point) — orchestration
    * metadata, same contract as the reference's progress probing.
    */
  def dedupGroups(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIters: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .localCheckpoint(true)
    // Convergence probe: the label sum, collected through observe()
    // as a side metric of the pass that materializes the labels (one
    // action per round, init labels included) — labels only ever
    // decrease, so an unchanged sum ⟺ a fixed point.
    def observedSum(labels: DataFrame): (DataFrame, java.math.BigDecimal) = {
      val obs = new org.apache.spark.sql.Observation()
      val done = labels
        .observe(obs, sum(col("lbl").cast("decimal(38,0)")).as("s"))
        .localCheckpoint(true)
      (done, Option(obs.get("s").asInstanceOf[java.math.BigDecimal])
        .getOrElse(java.math.BigDecimal.ZERO))
    }
    var (labels, prevSum) = observedSum(edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("lbl"))
      .select(col("src").as("node"), col("lbl")))
    // self-loop arm: exactly one (x, x) row per node, projected from
    // the materialized init labels. With it, the propagate agg's min
    // runs over the CLOSED neighborhood and the own-label least-join
    // of the pre-r18 shape disappears. For rounds >= 2 the union is
    // materialized PRE-PARTITIONED on dst (r18 optimization round,
    // guide §2.4 "two operations keyed the same way can share one
    // exchange"): localCheckpoint preserves the physical partitioning
    // in the LogicalRDD, so every later round's propagate join
    // consumes the edge side WITHOUT re-exchanging it — only the
    // (node, label) side (node cardinality, 16 bytes/row) shuffles
    // per round. Round 1 consumes the UN-materialized union (both
    // arms are already-checkpointed RDDs, so rebuilding it is one
    // narrow pass) and lets the join's own exchange partition it:
    // a graph that converges in one round — the common case for
    // dense near-dup clusters, and the measured d07/p03 regression
    // of the r18 unconditional pre-partition (driver PERF 0.85x /
    // 0.92x) — pays NO extra edge-cardinality materialization; the
    // pre-partitioned list is built only if the loop survives to
    // round 2 (r18 VERDICT item 3), where it buys (rounds-1)
    // edge-wide exchanges back.
    val initLabels = labels
    def closedEdgesRaw: DataFrame = edges.union(
      initLabels.select(col("node").as("src"), col("node").as("dst")))
    lazy val closedEdgesPinned: DataFrame = closedEdgesRaw
      .repartition(col("dst"))
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val closedEdges =
        if (iter == 0) closedEdgesRaw else closedEdgesPinned
      // every node has >= 1 neighbor (it came from a pair) plus its
      // self-loop, so the propagation join is inner and total;
      // labels only ever DECREASE.
      val prop = closedEdges
        .join(labels, closedEdges("dst") === labels("node"))
        .groupBy(closedEdges("src")).agg(min(col("lbl")).as("lbl"))
        .select(col("src").as("node"), col("lbl"))
      // pointer jump: label values are themselves node ids (mins over
      // node ids), so label(label) is total — the inner self-join
      // drops nothing.
      val (jumped, s) = observedSum(prop.as("m").join(prop.as("p"),
          col("m.lbl") === col("p.node"))
        .select(col("m.node").as("node"), col("p.lbl").as("lbl")))
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = jumped
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"dedupGroups: not converged after $maxIters rounds — component " +
          "diameter exceeds 2^maxIters; raise maxIters")
    labels
      .select(col("lbl").as("cluster_rep"), col("node").as("doc_id"))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("cluster_rep"))))
  }

  /** d05_dedup_embedding — embedding near-duplicates: cosine ≥ tau
    * within label blocks. The label is the blocking key (cluster id
    * at corpus scale), so the pair space is Σ block², not corpus²,
    * and the join shuffles each block to one place. Dot/norms in
    * IEEE-double left-folds (see VectorOps precision contract).
    *
    * Hot-block guard (d02's maxBucket discipline): one label shared
    * by B vectors yields B²/2 pairs — a degenerate label (an
    * unlabeled-bucket catch-all, a crawl that tagged a million pages
    * identically) would detonate a single block into ~10⁹ pairs and
    * stall its one reducer. Blocks above `maxBlock` are dropped —
    * bounded by design rather than silently quadratic; unlike d02
    * there is no band redundancy to recover them, so oversized
    * blocks should be routed through d08's LEARNED sub-clusters
    * instead (its k-means key splits a hot label by geometry). The
    * registered oracle replays the SAME cap (QUALIFY count <=
    * maxBlock), so engine and oracle agree at any corpus scale —
    * d02's maxBucket discipline, not a small-corpus coincidence.
    * The count window rides the same hashpartitioning(label)
    * exchange the self-join needs — the guard adds no shuffle.
    */
  def dedupEmbedding(embeddings: DataFrame, tau: Double = 0.4,
      maxBlock: Int = 4096): DataFrame = {
    val scored = embeddings.select(
      col("vec_id"), col("label"),
      VectorOps.asDouble(col("embedding")).as("v"))
      .withColumn("nrm", VectorOps.l2norm(col("v")))
    val e =
      if (maxBlock == Int.MaxValue) scored
      else scored
        .withColumn("bsz", count(lit(1))
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("label"))))
        .filter(col("bsz") <= maxBlock)
        .drop("bsz")
    e.as("a")
      .join(e.as("b"),
        col("a.label") === col("b.label") &&
          col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine", VectorOps.cosineFrom(
        VectorOps.dot(col("a.v"), col("b.v")), col("a.nrm"), col("b.nrm")))
      .filter(col("cosine") >= tau)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.label").as("label"), round(col("cosine"), 4).as("cosine"))
  }

  /** d08's auto-sizing block target (VERDICT r17 #2): the default
    * learned-block count is max(1, ⌈n / D08BlockTarget⌉), keeping
    * expected block occupancy ≈ blockTarget so pair space Σ block²
    * ≈ n·blockTarget grows LINEARLY with the corpus. 2000 reproduces
    * the measured-healthy dial at sf10 (200k vectors → k=100, 14.2 s;
    * SURVEY.md, round 17) and lands the old production dial at sf1
    * (20k → k=10).
    */
  val D08BlockTarget: Int = 2000

  /** The registered d08 anchor's a-side stride (VERDICT r17 #1),
    * shared with the oracle CTE: the hash-checked slice keeps pairs
    * whose smaller vec_id is on this stride (below stride ·
    * Similarity.AnnMaxQueries), bounding the anchor's pair space at
    * O(AnnMaxQueries · n). 5 keeps the sf0.1 slice identical to the
    * uncapped stride (2000 vectors = exactly 400 stride ids) and
    * leaves 17 hash-checked rows at oracle scale.
    */
  val D08AnchorStride: Int = 5

  /** d08_dedup_embedding_auto — embedding near-duplicates with
    * LEARNED blocks: the blocking key is a spherical-k-means cluster
    * id (Similarity.kmeansAssignments), not a pre-existing label —
    * the d05 shape freed from the label crutch a real 100 TB corpus
    * lacks. Pair space is Σ cluster², the within-cluster self-join
    * shuffles each cluster to one place, scoring is the codegen'd
    * DotProduct kernel. Recall < 1 by construction (a near-dup pair
    * straddling a k-means boundary is missed — s03's multi-table LSH
    * is the recall-tunable alternative); the spec plants
    * near-identical vectors and checks they are found with computed
    * blocks only.
    *
    * Registered at the LOSSLESS dial kClusters=1 (r16 verdict #1,
    * the s02/s04 anchor trick): one block means the output is
    * exactly the label-free all-pairs cosine join, which DuckDB
    * replays — so the full code path (Lloyd quantizer → assignment
    * join → within-block self-join → DotProduct scoring) sits under
    * the hash-checked oracle gate. The registered anchor additionally
    * STRIDE-BOUNDS one side of the pair join (VERDICT r17 #1,
    * `aStride`/`aMax` ≡ the ANN family's query-budget contract,
    * mirrored in the oracle CTE): pairs whose SMALLER vec_id sits on
    * the capped stride — the hash check stays exact over that slice
    * while the registered plan's cost contract drops from O(n²) to
    * O(aMax·n), the same bounded shape as the s06/k31 anchors.
    *
    * The PRODUCTION dial sizes kClusters from the corpus (VERDICT
    * r17 #2 — kClusters ≤ 0 = auto = max(1, ⌈n / blockTarget⌉) off
    * a cheap count): measured at sf10, fixed k=10 reads 216 s and
    * corpus-sized k=100 reads 14.2 s (SURVEY.md), so the sizing
    * rule is now the DEFAULT, not scaladoc prose. The fixed dial
    * stays reachable (explicit kClusters / JobSpec), and the
    * planted-dup spec pins the auto dial.
    */
  def dedupEmbeddingAuto(embeddings: DataFrame, tau: Double = 0.4,
      kClusters: Int = 0, iters: Int = 3,
      cacheKey: String = "", blockTarget: Int = D08BlockTarget,
      aStride: Int = 1,
      aMax: Int = Similarity.AnnMaxQueries): DataFrame = {
    val k = if (kClusters > 0) kClusters
      else math.max(1, math.ceil(
        embeddings.count().toDouble / blockTarget).toInt)
    val e = embeddings.select(
      col("vec_id"),
      VectorOps.asDouble(col("embedding")).as("v"))
      .withColumn("nrm", VectorOps.l2norm(col("v")))
      .join(
        Similarity.kmeansAssignments(embeddings, k, iters, cacheKey),
        "vec_id")
    val aSide =
      if (aStride <= 1) e.as("a")
      else e.filter(col("vec_id") % aStride === 0 &&
        col("vec_id") < aStride.toLong * aMax).as("a")
    aSide
      .join(e.as("b"),
        col("a.cluster_id") === col("b.cluster_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine", VectorOps.cosineFrom(
        VectorOps.dot(col("a.v"), col("b.v")), col("a.nrm"), col("b.nrm")))
      .filter(col("cosine") >= tau)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.cluster_id").as("cluster_id"),
        round(col("cosine"), 4).as("cosine"))
  }

  /** d16 registered defaults, shared with the oracle builder (the
    * p13Sql/t15 discipline): documents split into non-overlapping
    * `BoilerSegTokens`-token segments; a segment present in
    * ≥ `BoilerMinDf` DISTINCT documents is boilerplate.
    */
  val BoilerSegTokens: Int = 8
  val BoilerMinDf: Int = 4

  /** d16_line_dedup — corpus-wide BOILERPLATE segment removal, the
    * line-/paragraph-level dedup layer of web-corpus pipelines
    * (CCNet dedups paragraph hashes; RefinedWeb strips lines repeated
    * across pages — nav bars, cookie banners, footers). The corpus
    * has no newlines, so the "line" unit is the non-overlapping
    * `segTokens`-token segment (the paragraph analog; last segment
    * may be short). A segment whose document frequency — DISTINCT
    * docs, so in-doc repetition (t15's subject) never triggers it —
    * reaches `minDf` is removed from EVERY document, first occurrence
    * included. That keep-none semantic is what separates this from
    * d12 (pairwise span scrub, keeps doc_a's copy) and d01 (whole-doc
    * collapse, keeps one representative): boilerplate is noise in all
    * its copies. Emits per doc the reassembled clean text plus
    * segment/removal counts.
    *
    * Scale shape: one corpus scan explodes segments map-side; the
    * document frequency comes from COUNT WINDOWS over ONE posting
    * exchange on the segment hash (t09's digest-window discipline —
    * no join, no build side, no second posting shuffle): a
    * first-in-doc flag via row_number per (gh, doc) feeds a
    * distinct-doc count per gh, and `hashpartitioning(gh)` satisfies
    * BOTH window distributions, so the two sorts share the one
    * exchange (spec-asserted: one corpus scan, zero joins). The only
    * other exchange is the per-doc reassembly groupBy — unavoidable
    * for an operator whose OUTPUT is the rewritten corpus, and
    * exactly one corpus-volume shuffle. Engine counts segment hashes
    * where the oracle counts strings — d01's documented
    * probabilistic gap.
    */
  def lineDedup(documents: DataFrame,
      segTokens: Int = BoilerSegTokens,
      minDf: Int = BoilerMinDf): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val segs = documents
      .filter(col("text").isNotNull)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 1)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0),
          floor((size(col("tk")) - 1) / segTokens).cast("int")),
        i => struct(
          i.cast("long").as("idx"),
          array_join(
            slice(col("tk"), i * segTokens + 1, lit(segTokens)), " ")
            .as("seg"),
          least(lit(segTokens), size(col("tk")) - i * segTokens)
            .cast("long").as("seg_len")))).as("s"))
      .select(col("doc_id"), col("s.idx").as("idx"),
        col("s.seg").as("seg"), col("s.seg_len").as("seg_len"),
        xxhash64(col("s.seg")).as("gh"))
    segs
      // one explicit posting exchange on gh: hashpartitioning(gh)
      // satisfies BOTH window distributions below (a subset key
      // clusters any superset), where leaving EnsureRequirements to
      // it would exchange once per window spec
      .repartition(col("gh"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("gh"), col("doc_id")).orderBy(col("idx"))))
      .withColumn("df", sum((col("rn") === 1).cast("long")).over(
        Window.partitionBy(col("gh"))))
      .withColumn("boil", col("df") >= minDf)
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(
            when(!col("boil"), struct(col("idx"), col("seg"))))),
          x => x.getField("seg")), " ").as("clean_text"),
        count(lit(1)).as("n_segments"),
        sum(col("boil").cast("long")).as("n_boilerplate"),
        sum(when(col("boil"), col("seg_len")).otherwise(0L))
          .as("n_tokens_removed"))
      .select(col("doc_id"), col("clean_text"), col("n_segments"),
        col("n_boilerplate"), col("n_tokens_removed"))
  }

  /** d17_edit_distance_join — character-level fuzzy join: all
    * document pairs within Levenshtein distance `maxDist` of each
    * other on the normalized text, with PROVABLY LOSSLESS length
    * blocking (the s07 discipline brought to string similarity).
    * This is the classic data-cleaning / OCR-noise / template-drift
    * near-dup shape the token-level family can under-report: d04's
    * Jaccard sees "the cat sat" vs "the cat sad" as two shingle sets,
    * edit distance sees one typo.
    *
    * Blocking is the band join on length buckets of width
    * maxDist+1: levenshtein(a,b) ≥ |len(a)−len(b)|, so any
    * qualifying pair's buckets differ by at most 1 — one side
    * replicates its FULL (id, normalized text, bands) row to its
    * three neighboring buckets (3× the corpus text volume shuffled —
    * the price of losslessness), the other probes its own, and NO
    * qualifying pair can escape the join: the blocking is exact, so
    * the DuckDB oracle replays plain brute force and hash-matches.
    *
    * Within a bucket the pairing is quadratic, and what the r15
    * registration paid PER PAIR was the thresholded DP. r16 adds two
    * per-document CHARACTER-CLASS counts — vowels 'aeiou' and
    * 'nrsth' — as probe-time conjuncts: a single edit changes any
    * fixed class count by at most 1, so |Δclass| ≤ maxDist is a
    * lossless necessary condition, and two integer compares now kill
    * the vast majority of same-length-bucket pairs BEFORE the DP
    * (measured at sf10: the DP-per-pair form aborted >3000 s; this
    * one completes). The counts are computed once per DOCUMENT in
    * the scan projection (`translate` — a per-char table lookup, no
    * regex engine); the rejected r15 experiment (commit 10b8a62)
    * differed exactly here: it computed a character-BAG bound per
    * PAIR (O(len) each), which cost more than the DP it skipped.
    * All bands and the id ordering ride IN the join condition (not a
    * post-filter), so a pair outside any band dies during the
    * hash-join probe before any output row materializes — nothing
    * candidate-sized is ever exchanged or sorted (a materialize-
    * then-join-text-back shape measured 78 GB of spill at sf10; the
    * quadratic tier must STREAM inside the one join operator).
    * Survivors pay Spark's THRESHOLDED levenshtein (early-exits the
    * DP once the band exceeds maxDist — O(len·maxDist), the
    * standard banded-DP trick).
    *
    * Scale: the exchange is keyed on the length bucket; at 100 TB
    * the within-bucket population still grows linearly (the class
    * bands cut the constant ~10-100×, not the exponent), so the
    * full-corpus tier remains d18 — LSH proposes, this join's
    * arithmetic disposes. NULL text never joins (both engines drop
    * it at the scan); NULL doc_id pairs die on the `<` ordering,
    * k12's discipline.
    */
  def editDistanceJoin(documents: DataFrame,
      maxDist: Int = 8): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0: $maxDist")
    val w = maxDist + 1
    val n = documents.filter(col("text").isNotNull)
      .select(col("doc_id"), TextOps.normText(col("text")).as("t"))
      .withColumn("len", length(col("t")).cast("long"))
      // class counts = len − len(text with the class stripped)
      .withColumn("nv",
        (col("len") - length(translate(col("t"), "aeiou", "")))
          .cast("long"))
      .withColumn("nc",
        (col("len") - length(translate(col("t"), "nrsth", "")))
          .cast("long"))
    val base = expr(s"len div $w") // integral division, no FP detour
    val left = n.select(col("doc_id").as("id_a"), col("t").as("ta"),
      col("len").as("la"), col("nv").as("va"), col("nc").as("ca"),
      explode(array(base - 1, base, base + 1)).as("bucket"))
    // The broadcast plan's parallelism is the PROBE side's partition
    // count — a raw parquet scan gives ~1 task per 128 MB, so the
    // whole quadratic probe+DP stage ran ~12-wide at sf10 (measured:
    // the grind). Hash-spreading the probe rows by doc_id sets the
    // stage width to the session's shuffle partitions AND dissolves
    // bucket skew at ROW granularity (same-bucket rows land on many
    // tasks; each probes the broadcast map independently). On a
    // cluster where the build side outgrows broadcast, the join's own
    // bucket-key distribution overrides this — harmless either way.
    val right = n.select(col("doc_id").as("id_b"), col("t").as("tb"),
      col("len").as("lb"), col("nv").as("vb"), col("nc").as("cb"),
      base.as("bucket_b"))
      .repartition(col("id_b"))
    // The DP rides as the LAST conjunct of the JOIN CONDITION, not a
    // post-join filter: written as `withColumn(d).filter(d >= 0)`,
    // Catalyst pushes the filter into the join AHEAD of the cheap
    // band conjuncts and every same-bucket pair pays the DP
    // (measured at sf1: 65.3 s vs 9.8 s; BASELINE.md, round 16).
    // Condition order short-circuits, so only band survivors reach
    // the DP; the projection recomputes the distance for the tiny
    // survivor set (thousands of rows — two DP calls each, both
    // cheap at that cardinality).
    val dp = levenshtein(col("ta"), col("tb"), maxDist)
    left.join(right,
        col("bucket") === col("bucket_b") &&
        col("id_a") < col("id_b") &&
        abs(col("la") - col("lb")) <= maxDist &&
        abs(col("va") - col("vb")) <= maxDist &&
        abs(col("ca") - col("cb")) <= maxDist &&
        dp >= 0) // thresholded form returns -1 past the cap
      .select(col("id_a"), col("id_b"), dp.cast("long").as("dist"))
  }

  /** d18_edit_distance_blocked — d17's edit-distance join behind
    * d02's MinHash-band COARSE tier: LSH proposes, the lossless
    * length band + thresholded Levenshtein disposes. This is the
    * 100 TB registration of the fuzzy join — d17's length-bucket
    * blocking is provably lossless but quadratic within a bucket
    * (billions of same-length documents pair up), while here the
    * pair space is the LSH candidate set: bounded by band-bucket
    * occupancy (maxBucket guard), never by same-length population,
    * and only CANDIDATE pairs ever pay a text shuffle (d17 replicates
    * the full corpus text 3×; d18 moves text once per candidate).
    *
    * Semantics: pairs within `maxDist` character edits AMONG the
    * pairs the banded MinHash proposes — deliberately approximate at
    * the proposal tier (the seeded hashes make it deterministic, so
    * the DuckDB oracle replays the ENTIRE composed pipeline —
    * candidates then disposal — and hash-matches; this is d02's
    * portable-basis dividend). A ≤maxDist pair on documents of
    * hundreds of tokens differs in at most ~maxDist·n shingles, so
    * its Jaccard is near 1 and the 16-band × 4-row curve proposes it
    * with probability ≈ 1 (the planted-typo spec pins exactly that:
    * every planted ≤maxDist pair is found); docs under n tokens have
    * no shingles and never enter the proposal tier — that tail is
    * d17's (cheap there: short-length buckets are small).
    *
    * Disposal joins key on the candidate ids; both the |Δlen| band
    * and the id ordering are already decided at the proposal tier
    * (da < db from the bucket join), so the text join-back is two
    * slim equi-joins + the banded-DP levenshtein, exactly d17's
    * verify arithmetic — same output schema, so callers can dial
    * between the lossless tier (d17) and the scale tier (d18).
    */
  def editDistanceJoinBlocked(documents: DataFrame, maxDist: Int = 8,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      maxBucket: Int = 256): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0: $maxDist")
    val sets = shingleSets(documents, n, portable = true)
      .select(col("doc_id"), col("sh"))
      .filter(col("doc_id").isNotNull)
    val candidates = minhashCandidates(sets, numHashes, bands, maxBucket)
    val norm = documents
      .filter(col("text").isNotNull && col("doc_id").isNotNull)
      .select(col("doc_id"), TextOps.normText(col("text")).as("t"))
      .withColumn("len", length(col("t")).cast("long"))
    candidates
      .join(norm.select(col("doc_id").as("da"), col("t").as("ta"),
        col("len").as("la")), "da")
      .join(norm.select(col("doc_id").as("db"), col("t").as("tb"),
        col("len").as("lb")), "db")
      .filter(abs(col("la") - col("lb")) <= maxDist)
      .withColumn("d", levenshtein(col("ta"), col("tb"), maxDist))
      .filter(col("d") >= 0)
      .select(col("da").as("id_a"), col("db").as("id_b"),
        col("d").cast("long").as("dist"))
  }
}
