package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.LogicalRDD

import graft.functions.TextOps

/** End-to-end corpus preparation (p01) and sketch-based metrics
  * (q19) — the composed form of the per-step operators, mirroring how
  * the reference chains QC → trim → dedup per sample
  * (/root/reference/tools.py:877-909 step DAG).
  */
object Corpus {

  /** p01_corpus_clean — quality-filter → exact-dedup → per-slice
    * stats, the canonical LLM-corpus prep pipeline as ONE declarative
    * plan. Everything before the final aggregate is map-side except
    * the dedup shuffle, which carries only (hash, slice keys, two
    * numerics) — never the text. The representative of each duplicate
    * group is the min-doc_id survivor, chosen via `min_by` partial
    * aggregation (no window sort).
    */
  def corpusClean(documents: DataFrame, minQuality: Double = 0.5): DataFrame = {
    val kept = TextAnalysis
      .qualityScore(documents, passthrough = Seq("lang", "source", "text"))
      .filter(col("quality_score") >= minQuality)
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_tokens"), col("quality_score"),
        xxhash64(TextOps.normText(col("text"))).as("text_hash"))
    val reps = kept
      .groupBy(col("text_hash"))
      .agg(min_by(
        struct(col("lang"), col("source"), col("n_tokens"),
          col("quality_score")),
        // NULLS LAST, not dropped: a keyless doc still represents its
        // group when it is the only member (min_by ignores null
        // ordering values — the oracle's row_number ORDER BY doc_id
        // keeps it, so coalesce to the sort's +infinity)
        coalesce(col("doc_id"), lit(Long.MaxValue))).as("r"))
    reps
      .groupBy(col("r.lang").as("lang"), col("r.source").as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("r.n_tokens")).as("sum_tokens"),
        // Average over exact integer ten-thousandths, rounding at the
        // INTEGER level before the final /1e4: summing the rounded
        // doubles is order-sensitive in the last ulp, and rounding
        // S/(n·1e4) directly ties at the 5th decimal on a
        // non-representable value where engines disagree; S/n ties
        // on an exactly-representable x.5, which every engine rounds
        // identically (half away from zero).
        (round(
          sum(round(col("r.quality_score") * 10000, 0).cast("long")) /
            count(lit(1)), 0) / 10000.0).as("avg_quality"))
  }

  /** p02_stratified_sample — reproducible per-stratum sampling: keep
    * a deterministic ~rate fraction of every (lang) stratum by
    * thresholding a multiplicative hash of the stable doc_id. Every
    * engine computing (doc_id · KNUTH) mod 1000 < rate·1000 selects
    * the SAME rows — reruns, backfills, and the SQL oracle agree —
    * unlike `sample()`, whose output depends on partitioning. Pure
    * map-side projection+filter; the pushed predicate reaches the
    * scan.
    */
  def stratifiedSample(documents: DataFrame, permille: Int = 200): DataFrame =
    documents
      .select(col("doc_id"), col("lang"), col("source"))
      // doc_id is reduced mod 1e9+7 BEFORE the Knuth multiply: the
      // product then peaks at ~2.7e18 < 2^63, so the arithmetic is
      // overflow-free — at billions of documents a raw doc_id·KNUTH
      // overflows, which Spark's default ANSI mode makes fatal (and
      // DuckDB's BIGINT likewise errors, so the oracle shares the
      // same reduction).
      .filter(pmod(pmod(col("doc_id"), lit(1000000007L)) * lit(2654435761L),
        lit(1000L)) < permille)

  /** q19_approx_distinct — q13's metrics with the 100 TB distinct
    * path: HyperLogLog++ (`approx_count_distinct`) instead of exact
    * `count(DISTINCT)`. Exact distinct expands every row per distinct
    * aggregate and shuffles twice; the sketch is a fixed-size
    * mergeable state, so the plan is one partial+final hash
    * aggregate. Not SQL-oracle-comparable (DuckDB's HLL differs) —
    * the spec bounds the relative error against the exact count.
    */
  def approxMetrics(orders: DataFrame, rsd: Double = 0.02): DataFrame =
    orders
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        approx_count_distinct(col("o_custkey"), rsd).as("approx_customers"))

  /** q20_approx_quantiles — distribution monitoring at sketch cost:
    * per-stratum p50/p90/p99 of document length via
    * `percentile_approx` (Greenwald–Khanna). Exact percentiles sort
    * every group's values; the GK sketch is a fixed-size mergeable
    * state, so the plan is one partial+final aggregate — the only
    * way a 100 TB corpus gets length percentiles per language without
    * a per-group sort. `accuracy` bounds rank error at 1/accuracy.
    * Not SQL-oracle-comparable (DuckDB's approx sketch differs) —
    * the spec bounds the error against exact percentiles.
    */
  def approxQuantiles(documents: DataFrame,
      accuracy: Int = 10000): DataFrame =
    documents
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        percentile_approx(col("n_chars"), lit(0.5), lit(accuracy))
          .as("p50_chars"),
        percentile_approx(col("n_chars"), lit(0.9), lit(accuracy))
          .as("p90_chars"),
        percentile_approx(col("n_chars"), lit(0.99), lit(accuracy))
          .as("p99_chars"))

  /** p03_dedup_corpus — the reference's rmdup contract
    * (/root/reference/tools.py:315-317: keep ONE representative)
    * applied to the WHOLE corpus in one call: exact dedup (min
    * doc_id per normalized text), then fuzzy near-dup clusters over
    * the exact survivors (d04 shingle-Jaccard pairs → d07 connected
    * components), keeping each cluster's min-id representative.
    * Emits the KEPT corpus — one row per surviving doc_id, with
    * `cluster_rep` = its own id when it survived as a fuzzy-cluster
    * representative, null when it had no near-dup. This is the
    * composition that turns the pair/group operators into a usable
    * corpus deduper: `documents ⋉ dedupCorpus(documents)` IS the
    * deduplicated corpus.
    *
    * Scale shape — ONE corpus scan: a single projection computes
    * (doc_id, exact-dedup hash, shingle digests) per document and the
    * raw text is dropped immediately; everything downstream shuffles
    * hashes only. The exact layer is a min-doc_id window over the
    * 8-byte normText hash (high-cardinality partition key; survivors
    * can't be a groupBy+join-back without re-reading the corpus —
    * the naive composition `d01 → semi-join → d04` scans the corpus
    * three times and ships full TEXT through the semi-join exchange).
    * Survivor shingle sets then feed d04's candidate pipeline
    * directly (`ngramJaccardFromSets`); the fuzzy layer's
    * `dropped`/`reps` sides are DUP-GRAPH-sized (documents with ≥1
    * near-dup — a tiny fraction of any real corpus), so the final
    * anti/left joins broadcast; the pair join is bounded by maxDf +
    * length pruning as in d04.
    */
  def dedupCorpus(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.{ShingleExprs, TextOps}
    // one scan: text reduced to (normText hash, shingle digests);
    // short docs (< n tokens) keep an empty sh — they participate in
    // exact dedup but can never fuzzy-pair.
    val enriched = documents.select(
      col("doc_id"),
      xxhash64(TextOps.normText(col("text"))).as("nh"),
      ShingleExprs.shingleHashSet(col("text"), 3).as("sh"))
    val surv = Window.partitionBy(col("nh"))
    // NULLS-LAST survivor pick: a keyless doc must still survive when
    // it is its group's only member (the oracle's min(doc_id) emits
    // the NULL row; a bare min-over-window would silently drop it)
    val ord = coalesce(col("doc_id"), lit(Long.MaxValue))
    val sets = enriched
      .withColumn("_min", min(ord).over(surv))
      .filter(ord === col("_min"))
      .select(col("doc_id"), col("sh"), size(col("sh")).as("nsh"))
    val groups = Dedup.dedupGroups(Dedup.ngramJaccardFromSets(
      sets.filter(col("nsh") > 0)))
    val dropped = groups.filter(col("doc_id") =!= col("cluster_rep"))
      .select(col("doc_id"))
    val reps = groups.filter(col("doc_id") === col("cluster_rep"))
      .select(col("doc_id"), col("cluster_rep"))
    sets.select(col("doc_id"))
      .join(dropped, Seq("doc_id"), "left_anti")
      .join(reps, Seq("doc_id"), "left")
  }

  /** t07_seq_packing — concat-then-chunk sequence packing, the
    * pretraining batcher's layout step: documents are laid end-to-end
    * in a deterministic order and cut into fixed token-budget
    * training sequences; a document belongs to the sequence its START
    * offset falls in (documents may straddle a boundary — that is the
    * GPT-style "concatenate and chunk" contract, not first-fit bin
    * packing, which is inherently sequential and irreproducible under
    * re-partitioning). Emits one row per (source, seq_id) with doc
    * and token counts plus the doc-id span.
    *
    * Scale shape: packing runs PER SOURCE stratum — the running-sum
    * window partitions by `source`, so layout is embarrassingly
    * parallel across strata and adding a stratum never re-chunks
    * another (exactly why real pipelines pack per shard, not
    * globally: a global cumulative sum would serialize the corpus
    * through one partition). Token counts are t03's whitespace
    * tokenizer; all arithmetic is integer, so the oracle is
    * hash-exact.
    */
  def seqPack(documents: DataFrame, budgetTokens: Long = 2048L): DataFrame = {
    val toks = documents
      .select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
    // key bounds from the raw table: the branch column-prunes to a
    // (source, doc_id) metadata scan — text is never read twice
    stratifiedPrefixSum(toks, Seq("source"), "doc_id", "n_tok",
        "start_tok",
        boundsSrc = Some((documents.select(col("source"), col("doc_id")),
          Seq("source"))))
      .withColumn("seq_id", expr(s"start_tok DIV $budgetTokens"))
      .groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("seq_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  /** The p05 recipe generalized: an EXCLUSIVE running sum of
    * `valueCol` over `orderCol` order WITHIN each stratum, without
    * ever funneling a stratum through one window task (the r15
    * verdict's last corpus-cardinality funnel — t07/p14's
    * `Window.partitionBy(stratum)` gave one task per stratum, so a
    * multi-TB train stratum sorted on a single executor thread).
    *
    * Hierarchical encoding, provably equal to the flat window:
    * RANGE-bucket the order key within each stratum (the bucket index
    * is a MONOTONE function of the key, so bucket boundaries preserve
    * the stratum's order — mod-buckets would interleave it), run the
    * running sum within (stratum, bucket), and add the bucket's start
    * offset. Three scale-shape commitments:
    *
    *  - ONE exchange, ONE pass over the data: the bucket-local
    *    running sum, the bucket total (whole-partition frame), and a
    *    row_number all share the (strata, bucket) window spec; the
    *    per-bucket offset table is the rn=1 REPRESENTATIVE slice of
    *    that same windowed stream (≤ |strata|·buckets metadata rows),
    *    so the branch reuses the main exchange instead of replaying
    *    the (possibly expensive) upstream pipeline, and only the
    *    bounded metadata ever sees a per-stratum window.
    *  - Key bounds come from `boundsSrc` (default: `df` itself) —
    *    pass the RAW table + a coarser key when `df` is an expensive
    *    derivation: any [lo, hi] ⊇ the stratum's keys keeps the
    *    bucketization monotone (loose bounds only skew occupancy),
    *    and the raw aggregate column-prunes to a metadata scan.
    *  - The bucket index is computed in DOUBLE arithmetic
    *    (subtraction/division/floor are monotone, so ordering
    *    survives rounding, and nothing overflows for any int64 key —
    *    an integer `hi − lo` could).
    *
    * NULL semantics match the flat window exactly: NULL order keys
    * band to bucket −1 (NULLS FIRST), NULL values contribute nothing
    * to any running sum and their own prefix is NULL (sum − NULL),
    * and all stratum-key joins are null-safe (`<=>`) — a NULL-source
    * document packs in its own stratum, it doesn't vanish in a join.
    */
  private[graft] def stratifiedPrefixSum(df: DataFrame,
      strata: Seq[String], orderCol: String, valueCol: String,
      outCol: String, buckets: Int = 64,
      boundsSrc: Option[(DataFrame, Seq[String])] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sCols = strata.map(col)
    val (bSrc, bKeys) = boundsSrc.getOrElse((df, strata))
    val bounds = bSrc.groupBy(bKeys.map(col): _*)
      .agg(min(col(orderCol)).as("_lo"), max(col(orderCol)).as("_hi"))
      .select(bKeys.map(k => col(k).as(s"_b_$k")) ++
        Seq(col("_lo"), col("_hi")): _*)
    val span = col("_hi").cast("double") - col("_lo").cast("double") + 1.0
    val bkt = when(col(orderCol).isNull, lit(-1L))
      .when(col("_hi") === col("_lo"), lit(0L))
      .otherwise(((col(orderCol).cast("double") -
        col("_lo").cast("double")) / span * buckets).cast("long"))
    val bCond = bKeys.map(k => col(k) <=> col(s"_b_$k")).reduce(_ && _)
    val withB = df.join(broadcast(bounds), bCond)
      .withColumn("_bkt", bkt)
      .drop(bKeys.map(k => s"_b_$k") ++ Seq("_lo", "_hi"): _*)
    val bCols = sCols :+ col("_bkt")
    val localW = Window.partitionBy(bCols: _*).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wholeW = Window.partitionBy(bCols: _*)
    val windowed = withB
      .withColumn("_loc", sum(col(valueCol)).over(localW))
      .withColumn("_btot", sum(col(valueCol)).over(wholeW))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(bCols: _*).orderBy(col(orderCol))))
    // bucket representatives: metadata cardinality off the SAME
    // exchange; the per-stratum offsets window runs on ≤
    // |strata|·buckets rows. An all-NULL bucket's _btot is NULL —
    // coalesce so it adds 0 downstream, exactly as its rows add
    // nothing to the flat running sum.
    val offW = Window.partitionBy(sCols: _*).orderBy(col("_bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = windowed.filter(col("_rn") === 1)
      .select(bCols :+ col("_btot"): _*)
      .withColumn("_off",
        coalesce(sum(col("_btot")).over(offW), lit(0L)) -
          coalesce(col("_btot"), lit(0L)))
      .select(strata.map(k => col(k).as(s"_o_$k")) ++
        Seq(col("_bkt").as("_o_bkt"), col("_off")): _*)
    // _bkt is never NULL (the CASE lands every row in a bucket), but
    // <=> keeps InferFilters from planting an isnotnull(_bkt) into
    // ONLY this branch — the predicate pushed into the main branch's
    // bounds-join residual while the offsets branch kept it above
    // its windows, making the two (strata, _bkt) exchange subtrees
    // non-identical, so runtime reuse never fired and the upstream
    // pipeline (t07's tokenize, p14's pack input) ran TWICE (r18;
    // q44 documents the same trick on its slice key).
    val oCond = strata.map(k => col(k) <=> col(s"_o_$k"))
      .reduce(_ && _) && col("_bkt") <=> col("_o_bkt")
    windowed.join(broadcast(offsets), oCond)
      .withColumn(outCol,
        when(col(valueCol).isNull, lit(null).cast("long"))
          .otherwise(col("_off") + col("_loc") - col(valueCol)))
      .drop(strata.map(k => s"_o_$k") ++
        Seq("_bkt", "_loc", "_btot", "_rn", "_o_bkt", "_off"): _*)
  }

  /** Salted bucket hash for INDEPENDENT sampling/splitting layers:
    * ((id+salt) mod p · K) mod p · K mod buckets, p = 1e9+7,
    * K = Knuth's 2654435761. The middle mod-p reduction is what buys
    * independence — with a SINGLE multiply (p02's form), adding a
    * salt is just `(h_p02 + salt·K) mod buckets`, a constant SHIFT of
    * the unsalted hash whenever `id + salt < p` (i.e. any corpus
    * under ~1e9 docs), so "salted" layers would select rotations of
    * the SAME residue classes, not independent subsets. Wrapping the
    * first product back through mod p breaks that affinity: the
    * second multiply sees a pseudorandom residue, and threshold sets
    * under different salts intersect at ≈ the product of their rates
    * (spec-measured). The id reduces mod p BEFORE the salt is added
    * (not after), so the function is TOTAL over int64 — `id + salt`
    * would overflow ANSI-fatally for ids within `salt` of Long.Max —
    * and each factor stays < p ≈ 2^30 so both products stay under
    * 2^63: overflow-free at any id, exactly reproducible in plain
    * SQL on any engine.
    */
  private[graft] def saltedBucket(id: Column, salt: Long,
      buckets: Long): Column = {
    val P = lit(1000000007L)
    val K = lit(2654435761L)
    pmod(pmod(pmod(pmod(id, P) + lit(salt), P) * K, P) * K, lit(buckets))
  }

  /** p04_mixture_sample — corpus mixture construction: each source
    * gets its own deterministic keep rate (per-mille), the
    * multi-stratum generalization of p02 (high-quality sources
    * upsampled, the long tail floored at `defaultPermille`).
    * Membership thresholds `saltedBucket` (see above): genuinely
    * independent of p02's unsalted hash, so composed sampling layers
    * multiply their rates — a single salted multiply only SHIFTS
    * p02's hash and nests/rotates the selections. Pure map-side
    * filter; the predicate pushes to the scan.
    */
  def mixtureSample(documents: DataFrame,
      rates: Map[String, Int] =
        Map("src0" -> 800, "src1" -> 500, "src2" -> 250),
      defaultPermille: Int = 100, salt: Long = 137L): DataFrame = {
    val permille = rates.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultPermille)) { case (acc, (src, r)) =>
        when(col("source") === src, lit(r)).otherwise(acc)
      }
    documents
      .select(col("doc_id"), col("lang"), col("source"))
      .filter(saltedBucket(col("doc_id"), salt, 1000L) < permille)
  }

  /** p11_epoch_mixture geometry — shared with the registered oracle
    * (SparkEntry builds the SQL from THESE constants, the
    * slidingSql/t14Sql discipline: re-registering with different
    * weights moves the oracle in lockstep instead of silently
    * diverging). Weights are EPOCHS in per-mille: 2500 = repeat the
    * source 2.5×, 400 = keep 40% of one pass.
    */
  val EpochWeights: Map[String, Int] =
    Map("src0" -> 2500, "src1" -> 1300, "src2" -> 400)
  val EpochDefaultPermille: Int = 1000
  val EpochSalt: Long = 9257L

  /** p11_epoch_mixture — the training-mixture REPETITION budget:
    * high-quality sources run for multiple epochs while the long
    * tail runs fractionally (every serious pretraining mix repeats
    * its best sources — weights like "2.5 epochs of wiki, 0.4 of
    * crawl"). p04 expresses only the keep-rate HALF of that
    * (permille ≤ 1000); this operator is the full budget, and p04's
    * downsampling falls out as the weight < 1000 special case.
    *
    * Mechanics: ⌊w⌋ full copies replicate MAP-SIDE via
    * explode(sequence) — the q38 replica discipline, fan-out bounded
    * by the weight — and the fractional epoch admits a document iff
    * its `saltedBucket` under p11's OWN salt lands below w mod 1000,
    * so the fractional slice is deterministic, reproducible, and
    * independent of p02/p04/p08's layers (the double-multiply
    * mod-p independence argument). Emits (doc_id, source, epoch):
    * the 0-based copy index is the column downstream shuffles salt
    * by so repeated copies spread across partitions instead of
    * stacking on one key — and the column a data-loader dedups
    * against when a run stops mid-epoch.
    *
    * Scale: pure map-side projection+explode — no shuffle, no state,
    * no RNG; row fan-out = the mixture's total epoch budget, exactly
    * the factor the training run asked to read.
    */
  def epochMixture(documents: DataFrame,
      weights: Map[String, Int] = EpochWeights,
      defaultPermille: Int = EpochDefaultPermille,
      salt: Long = EpochSalt): DataFrame = {
    val sorted = weights.toSeq.sortBy(_._1)
    val full = sorted.foldLeft(lit(defaultPermille / 1000)) {
      case (acc, (src, w)) =>
        when(col("source") === src, lit(w / 1000)).otherwise(acc)
    }
    val fracm = sorted.foldLeft(lit(defaultPermille % 1000)) {
      case (acc, (src, w)) =>
        when(col("source") === src, lit(w % 1000)).otherwise(acc)
    }
    documents
      .select(col("doc_id"), col("source"))
      .withColumn("n_copies", full +
        when(saltedBucket(col("doc_id"), salt, 1000L) < fracm, 1)
          .otherwise(0))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(0L),
          col("n_copies").cast("long") - 1)).as("epoch"))
  }

  /** p13_token_mixture geometry — shared with the registered oracle
    * (SparkEntry builds the SQL from THESE constants, the p11
    * discipline). Targets are shares of the TOKEN budget in
    * per-mille; the budget itself is `BudgetBetaPermille` of the
    * corpus's token mass (400 = train on a 40%-of-corpus token
    * budget). Sources absent from the map get
    * `BudgetDefaultTargetPermille` each.
    */
  val BudgetTargets: Map[String, Int] =
    Map("src0" -> 300, "src1" -> 200, "src2" -> 100)
  val BudgetDefaultTargetPermille: Int = 20
  val BudgetBetaPermille: Int = 400
  val BudgetSalt: Long = 5077L
  val BudgetMaxRatePermille: Long = 4000L
  /** Cap on the 1000·T/T_s ratio so the rate product stays in LONG
    * range even for a near-empty source (1e6 · 1e10 < 2^63).
    */
  val BudgetTCap: Long = 10000000000L

  /** p13_token_mixture — the mixture dial as real recipes state it:
    * "X% of training TOKENS from each source", not X% of documents
    * (p04/p11 weight documents, which over-serves short-doc sources
    * and starves long-doc ones). Per-source epoch rates are DERIVED
    * from the measured token mass: rate_s = β·w_s·T/(1000·T_s)
    * per-mille of epochs — a source holding little token mass but a
    * big target share repeats (up to `BudgetMaxRatePermille`), a
    * heavy source downsamples, exactly the knob a token-budgeted
    * pretraining run turns. Admission and replication then reuse
    * p11's geometry verbatim (⌊r⌋ map-side copies + salted-hash
    * fractional epoch under p13's OWN salt).
    *
    * Every step is INTEGER arithmetic (two floor divisions, ratio
    * capped at BudgetTCap) so the oracle replays it exactly; the
    * divisions bound intermediates inside LONG at any corpus size.
    *
    * Scale shape: pass 1 reads (source, text) once — one algebraic
    * aggregate to source-cardinality rows; the rate table derives on
    * those metadata rows and BROADCASTS. Pass 2 reads only
    * (doc_id, source) — the text column is scanned exactly once
    * corpus-wide — and admits/replicates map-side. No shuffle
    * anywhere except the tiny pass-1 aggregate.
    */
  def tokenBudgetMixture(documents: DataFrame,
      targets: Map[String, Int] = BudgetTargets,
      defaultTargetPermille: Int = BudgetDefaultTargetPermille,
      betaPermille: Int = BudgetBetaPermille,
      salt: Long = BudgetSalt): DataFrame = {
    // ONE token-mass pass (r18): without the checkpoint the `total`
    // branch collapses to a direct global sum over nt — a second
    // full tokenize scan the per-source subtree can't be reused for
    // (the executed plan carried two text scans). perSrc is one row
    // per source (metadata-sized at any scale), recomputed per run.
    val perSrc = documents
      .select(col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("source"))
      .agg(sum(col("nt")).as("toks"))
      .localCheckpoint(true)
    val total = perSrc.agg(sum(col("toks")).as("t_corpus"))
    val w = targets.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultTargetPermille)) { case (acc, (s, v)) =>
        when(col("source") === s, lit(v)).otherwise(acc)
      }
    // A source with UNMEASURABLE token mass (all-null texts → toks
    // null; zero can't occur, any non-null text tokenizes to ≥ 1)
    // contributes NOTHING to a token-budget mixture — without this
    // guard, `least` would skip the null ratio and drive the rate to
    // the CAP, flooding the mix with 4 copies of every token-less
    // doc (and DuckDB/Spark least() null semantics differ, so the
    // oracle could diverge).
    val rates = perSrc.crossJoin(broadcast(total))
      .filter(col("toks").isNotNull && col("toks") > 0)
      .withColumn("w_permille", w.cast("long"))
      .withColumn("tr",
        least(expr("(t_corpus * 1000) DIV toks"), lit(BudgetTCap)))
      .withColumn("r",
        least(expr(s"($betaPermille * w_permille * tr) DIV 1000000"),
          lit(BudgetMaxRatePermille)))
      .select(col("source"), col("r"))
    documents
      .select(col("doc_id"), col("source"))
      .join(broadcast(rates), Seq("source"))
      .withColumn("n_copies",
        expr("r DIV 1000") +
          when(saltedBucket(col("doc_id"), salt, 1000L) <
            pmod(col("r"), lit(1000L)), 1L).otherwise(0L))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(0L),
          col("n_copies").cast("long") - 1)).as("epoch"))
  }

  /** p08_split — deterministic train/val/test assignment: every
    * document lands in exactly ONE split by thresholding the same
    * salted multiplicative hash the sampling layers use (p02/p04),
    * under its own salt so membership is independent of both — a
    * held-out set must not correlate with what sampling kept. The
    * assignment is a pure map-side projection (no shuffle, no state,
    * no RNG): reruns, backfills, and late-arriving shards all agree
    * on every document's split, which is the property that makes a
    * held-out set trustworthy — `sample()`-style splits depend on
    * partitioning and are unrepeatable.
    */
  def split(documents: DataFrame, testPermille: Int = 10,
      valPermille: Int = 50, salt: Long = 9176L): DataFrame = {
    val h = saltedBucket(col("doc_id"), salt, 1000L)
    documents
      .select(col("doc_id"), col("lang"), col("source"))
      .withColumn("split",
        when(h < testPermille, lit("test"))
          .when(h < testPermille + valPermille, lit("val"))
          .otherwise(lit("train")))
  }

  /** p10_leak_safe_split — DEDUP-AWARE train/val/test assignment:
    * p08 splits each document independently, so a near-duplicate
    * pair can straddle the boundary — a val/test document that is a
    * light edit of a train document leaks training content into the
    * held-out set, the contamination that near-dup-blind splits are
    * known to produce (and that d06's benchmark decontamination
    * cleans up AFTER the fact). The fix is structural: hash the
    * duplicate CLUSTER, not the document. Every member of a d07
    * component shares its representative's id, so the whole cluster
    * lands in one split by construction — zero cross-split near-dup
    * pairs, spec-asserted.
    *
    * Composition: d04's capped candidate pipeline → d07's connected
    * components give (doc_id, cluster_rep) for CLUSTERED docs;
    * everything else is its own representative (left join +
    * coalesce). The split then thresholds `saltedBucket(rep_id)`
    * with p08's OWN salt — deliberately: a document with no near
    * dups gets rep_id = doc_id and therefore EXACTLY its p08 split
    * (spec-pinned), so adopting leak-safety re-assigns only the
    * clustered sliver of the corpus.
    *
    * Scale: the expensive part is d04+d07, which the corpus dedup
    * pipeline (p03) already runs — a deployment derives splits from
    * the same pair graph it deduplicates with, and the incremental
    * path exists (d10's index assigns arriving near-dups their
    * existing cluster's rep). The split itself stays a projection:
    * the only per-doc state added is the 8-byte rep_id.
    */
  /** The resolved (doc_id, cluster_rep) map is a BUILD-ONCE artifact
    * per corpus cut (the d10/s02 index precedent): a deployment
    * resolves the pair graph once — usually as a byproduct of the
    * dedup pass it already runs (p03) — and every split consumer
    * reads the map. Memoized per cacheKey, localCheckpoint'ed (dup
    * graph nodes only). Empty key = recompute, what the specs use.
    * CALLER OWNS KEY UNIQUENESS (the centroid-memo contract).
    */
  private val groupsMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]

  /** The resolved (doc_id, cluster_rep) map, shared by p10 (splits)
    * and p12 (soft-dedup sampling) — one pair-graph resolution per
    * corpus cut serves every dedup-aware consumer.
    */
  private def resolvedGroups(documents: DataFrame,
      cacheKey: String): DataFrame = {
    def resolve(): DataFrame = graft.operators.Dedup.dedupGroups(
      graft.operators.Dedup.ngramJaccard(documents))
    if (cacheKey.isEmpty) resolve()
    else groupsMemo.getOrElseUpdate(
      (documents.sparkSession, cacheKey),
      resolve().localCheckpoint(true))
  }

  def leakSafeSplit(documents: DataFrame, testPermille: Int = 10,
      valPermille: Int = 50, salt: Long = 9176L,
      cacheKey: String = ""): DataFrame = {
    val groups = resolvedGroups(documents, cacheKey)
    val h = saltedBucket(col("rep_id"), salt, 1000L)
    documents
      .select(col("doc_id"), col("lang"), col("source"))
      .join(groups.select(col("doc_id"), col("cluster_rep")),
        Seq("doc_id"), "left")
      .withColumn("rep_id", coalesce(col("cluster_rep"), col("doc_id")))
      .withColumn("split",
        when(h < testPermille, lit("test"))
          .when(h < testPermille + valPermille, lit("val"))
          .otherwise(lit("train")))
      .select(col("doc_id"), col("rep_id"), col("lang"), col("source"),
        col("split"))
  }

  /** p12_soft_dedup_sample — count each near-dup cluster ONCE in the
    * mixture without hard-dropping: every document is admitted with
    * probability 1/|its cluster|, so a 40-copy boilerplate cluster
    * contributes ~one document's worth of mass while keeping copy
    * DIVERSITY (different members survive under different salts —
    * the soft alternative to p03's keep-one-representative, which
    * always serves the canonical copy and discards the edit
    * variation near-dups carry). Hard dedup vs soft down-weighting
    * is a standard LLM-mixture dial; this is the down-weighting end,
    * built on the SAME resolved pair graph p10 splits with (one
    * d04→d07 resolution per corpus cut serves every dedup-aware
    * consumer).
    *
    * Admission is exact integer arithmetic: h·s < 10^6 with h =
    * `saltedBucket(doc_id, salt, 10^6)` and s the cluster size —
    * P(admit) = ⌈10^6/s⌉/10^6 ≈ 1/s per member, expected cluster
    * contribution ≈ 1 at any size, and singletons (s = 1) pass
    * ALWAYS (h < 10^6 by construction): the un-duplicated corpus is
    * untouched, only dup mass shrinks. Deterministic, partitioning-
    * independent, layer-independent (own salt).
    *
    * Scale: the pair graph is the memoized build-once artifact; the
    * size column is one count window over the rep_id exchange
    * (high-cardinality key); admission is a map-side integer
    * predicate. No new shuffle shape beyond p10's.
    */
  def softDedupSample(documents: DataFrame, salt: Long = 5407L,
      cacheKey: String = ""): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val groups = resolvedGroups(documents, cacheKey)
    val h = saltedBucket(col("doc_id"), salt, 1000000L)
    documents
      .select(col("doc_id"), col("lang"), col("source"))
      .join(groups.select(col("doc_id"), col("cluster_rep")),
        Seq("doc_id"), "left")
      .withColumn("rep_id", coalesce(col("cluster_rep"), col("doc_id")))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("rep_id"))))
      .filter(h * col("cluster_size") < 1000000L)
      .select(col("doc_id"), col("rep_id"), col("cluster_size"),
        col("lang"), col("source"))
  }

  /** p09_quality_sample — quality-CURRICULUM sampling: keep rate
    * rises with the document's quality tier (t02's score cut into
    * deciles), the "upsample high-quality, floor the sludge" mixture
    * move every LLM data recipe applies on top of source mixing
    * (p04). permille(tier) = base + tier·step, deterministic
    * membership via `saltedBucket` under its own salt — independent
    * of the p02/p04/p08 layers, so composed rates multiply. Docs
    * whose quality score is NULL (empty/whitespace-only — the rows
    * p01's gate drops) are excluded rather than defaulted: a
    * curriculum has no tier for unscorable text. Pure map-side
    * (score + threshold in one projection over the scan); emits
    * (doc_id, lang, source, tier).
    */
  def qualitySample(documents: DataFrame, basePermille: Int = 100,
      stepPermille: Int = 100, salt: Long = 577L): DataFrame = {
    val scored = graft.operators.TextAnalysis.qualityScore(documents,
      passthrough = Seq("lang", "source"))
    scored
      .filter(col("quality_score").isNotNull)
      .withColumn("tier",
        least(floor(col("quality_score") * 10), lit(9.0)).cast("long"))
      .filter(saltedBucket(col("doc_id"), salt, 1000L) <
        lit(basePermille.toLong) + col("tier") * stepPermille)
      .select(col("doc_id"), col("lang"), col("source"), col("tier"))
  }

  /** p15 registered defaults — the oracle SQL is BUILT from these
    * (the p13Sql discipline). Buckets = hashed-feature dimensionality
    * (DSIR hashes n-grams into a fixed bucket space so the weight
    * model is corpus-size-independent); Scale = the fixed-point
    * denominator that keeps the weight arithmetic EXACT-INTEGER, so
    * the DuckDB oracle reproduces every score bit-for-bit (a float
    * log-ratio would diverge in the last ulp across engines).
    */
  val ImportanceBuckets: Int = 64
  val ImportanceScale: Long = 1000000000000L
  val ImportanceTargetSource: String = "src0"
  val ImportanceTopN: Int = 100

  /** p15_importance_sample — data-selection-by-importance-resampling
    * (DSIR, Xie et al. 2023) with hashed token features: score every
    * corpus document by how much more its hashed-unigram profile
    * resembles a TARGET slice (here `targetSource`, standing in for
    * "curated high-quality data") than the raw corpus, and keep the
    * top-N. Weights are the add-one-smoothed probability DIFFERENCE
    * per bucket, in fixed-point integer arithmetic:
    *
    *   w[b] = (ct[b]+1)·Scale div (tT+B)  −  (cr[b]+1)·Scale div (tR+B)
    *   score(doc) = Σ_tokens w[bucket(token)]       (exact integers)
    *
    * (DSIR proper uses the log-likelihood ratio; the probability
    * difference preserves the "more target-like than raw-like"
    * ordering signal while staying exactly reproducible cross-engine
    * — each w is bounded by ±Scale, so scores stay in BIGINT for any
    * document under ~9M tokens.)
    *
    * Bucket ids ride the portable md5_60 contract (PortableHash):
    * bucket = md5_60(token) mod B on both engines.
    *
    * Scale shape: pass 1 aggregates token counts into B buckets —
    * map-side combine collapses each partition to ≤B rows, and the
    * collected weight model is B rows TOTAL (corpus-size-independent
    * by construction; the documented artifact-collect, like s02's
    * quantizer). Pass 2 scores with a broadcast join of that B-row
    * table — no shuffle carries anything wider than (doc_id, long) —
    * and top-N is TakeOrderedAndProject (per-partition heaps + driver
    * merge of N·parts rows), never a global sort.
    */
  def importanceSample(documents: DataFrame,
      targetSource: String = ImportanceTargetSource,
      buckets: Int = ImportanceBuckets,
      topN: Int = ImportanceTopN): DataFrame = {
    val weights = importanceWeightRows(documents, targetSource, buckets)
    // Pass 2: map-side score via the broadcast weight model.
    importanceScore(documents, weights, buckets)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topN)
      .select(col("doc_id"), col("source"), col("n_toks"), col("score"))
  }

  /** The engine's bucketed token stream: (doc_id, source, bucket) via
    * the portable md5_60 contract — shared by both p15 passes and the
    * st15 per-batch scorer.
    */
  private def bucketedTokens(documents: DataFrame,
      buckets: Int): DataFrame =
    documents
      .select(col("doc_id"), col("source"),
        explode(graft.functions.TextOps.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .withColumn("bucket",
        conv(substring(md5(col("tok")), 1, 15), 16, 10)
          .cast("long") % buckets)

  /** Pass 1: the B-row weight model (bounded artifact collect — B
    * rows regardless of corpus size; map-side combine collapses each
    * partition to ≤B rows before the exchange).
    */
  private[graft] def importanceWeightRows(documents: DataFrame,
      targetSource: String = ImportanceTargetSource,
      buckets: Int = ImportanceBuckets): Seq[(Long, Long)] = {
    val counts = bucketedTokens(documents, buckets)
      .groupBy(col("bucket"))
      .agg(
        sum(when(col("source") === targetSource, 1L).otherwise(0L))
          .as("ct"),
        sum(when(col("source") === targetSource, 0L).otherwise(1L))
          .as("cr"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val tT = counts.map(_._2).sum
    val tR = counts.map(_._3).sum
    val byBucket = counts.map(c => c._1 -> c).toMap
    val scale = BigInt(ImportanceScale)
    (0L until buckets).map { b =>
      val (_, ct, cr) = byBucket.getOrElse(b, (b, 0L, 0L))
      val w = (BigInt(ct + 1) * scale / BigInt(tT + buckets)) -
        (BigInt(cr + 1) * scale / BigInt(tR + buckets))
      (b, w.toLong)
    }
  }

  /** Score a corpus slice under a FIXED weight model: per-doc token
    * count + fixed-point importance score. Stateless per row, so any
    * partition of the slice (batch, micro-batch, shard) scores
    * identically — the property st15 rides.
    */
  private[graft] def importanceScore(slice: DataFrame,
      weights: Seq[(Long, Long)],
      buckets: Int = ImportanceBuckets): DataFrame = {
    val spark = slice.sparkSession
    import spark.implicits._
    bucketedTokens(slice, buckets)
      .join(broadcast(weights.toDF("bucket", "w")), "bucket")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_toks"), sum(col("w")).as("score"))
  }

  /** p06_profile — the dataset stats card every training-data drop
    * ships with (row counts, null rates, value ranges, length
    * distribution), emitted as a tall (col_name, metric, value)
    * table. One corpus scan, one partial+final hash aggregate —
    * every metric here is ALGEBRAIC (count/sum/min/max), so the
    * map-side combine reduces each partition to a single row and the
    * exchange is metadata-sized regardless of corpus size.
    * Deliberately NO exact count(DISTINCT): multiple exact distincts
    * Expand-multiply every scanned row; cardinality profiling at
    * 100 TB is q19's HLL-sketch path. Averages divide two exact
    * integers (sum of lengths / count), so both engines derive the
    * identical IEEE double before the 4dp round.
    */
  def profile(documents: DataFrame): DataFrame =
    documents
      .agg(
        count(lit(1)).cast("double").as("v_rows"),
        sum(col("doc_id").isNull.cast("long")).cast("double")
          .as("v_id_nulls"),
        min(col("doc_id")).cast("double").as("v_id_min"),
        max(col("doc_id")).cast("double").as("v_id_max"),
        sum(col("text").isNull.cast("long")).cast("double")
          .as("v_text_nulls"),
        max(length(col("text"))).cast("double").as("v_text_maxlen"),
        round(sum(length(col("text"))) / count(col("text")), 4)
          .as("v_text_avglen"),
        sum(col("lang").isNull.cast("long")).cast("double")
          .as("v_lang_nulls"),
        sum((col("lang") === "").cast("long")).cast("double")
          .as("v_lang_empty"),
        sum(col("source").isNull.cast("long")).cast("double")
          .as("v_src_nulls"),
        sum((col("source") === "").cast("long")).cast("double")
          .as("v_src_empty"),
        sum(col("n_chars").isNull.cast("long")).cast("double")
          .as("v_nc_nulls"),
        min(col("n_chars")).cast("double").as("v_nc_min"),
        max(col("n_chars")).cast("double").as("v_nc_max"),
        round(sum(col("n_chars")) / count(col("n_chars")), 4)
          .as("v_nc_avg"))
      .selectExpr(
        """stack(15,
             '__table__', 'n_rows',   v_rows,
             'doc_id',    'n_nulls',  v_id_nulls,
             'doc_id',    'min',      v_id_min,
             'doc_id',    'max',      v_id_max,
             'text',      'n_nulls',  v_text_nulls,
             'text',      'max_len',  v_text_maxlen,
             'text',      'avg_len',  v_text_avglen,
             'lang',      'n_nulls',  v_lang_nulls,
             'lang',      'n_empty',  v_lang_empty,
             'source',    'n_nulls',  v_src_nulls,
             'source',    'n_empty',  v_src_empty,
             'n_chars',   'n_nulls',  v_nc_nulls,
             'n_chars',   'min',      v_nc_min,
             'n_chars',   'max',      v_nc_max,
             'n_chars',   'avg',      v_nc_avg
           ) as (col_name, metric, value)""")

  /** p07_source_cap — keep at most `cap` documents per source, the
    * per-domain cap every pretraining mixture applies so one
    * crawl-heavy domain can't dominate the corpus. Selection order is
    * a SALTED multiplicative hash of the stable doc_id (ties broken
    * by doc_id), so the kept set is deterministic across reruns and
    * partitionings, independent of the p02/p04 sampling layers
    * (different salt — composed layers must select independently),
    * and reproducible by the SQL oracle.
    *
    * Scale shape: q26's two-phase top-k. A plain per-source
    * row_number window funnels each source's ENTIRE document set
    * through one task (a crawl corpus has few sources and billions
    * of docs — exactly the skew case). Phase 1 takes per-(source,
    * salt-bucket) local top-`cap` with a spillable row_number window
    * — any globally-kept row is top-`cap` in its own bucket, so the
    * prune is lossless; phase 2 ranks the ≤ saltBuckets·cap
    * survivors per source.
    */
  def sourceCap(documents: DataFrame, cap: Int = 10,
      saltBuckets: Int = 16, salt: Long = 271L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pri = documents
      .select(col("doc_id"), col("source"))
      .withColumn("priority",
        saltedBucket(col("doc_id"), salt, 1000000L))
    // NULLS LAST explicitly: a keyless row has a NULL priority, and
    // Spark's ASC default is nulls-FIRST where SQL engines rank them
    // last — the hostile NULL-key row would otherwise take rank 1
    // here and rank |source| in the oracle
    val localW = Window
      .partitionBy(col("source"), col("_b"))
      .orderBy(col("priority").asc_nulls_last, col("doc_id").asc_nulls_last)
    val local = pri
      .withColumn("_b", pmod(xxhash64(col("doc_id")), lit(saltBuckets)))
      .withColumn("_lr", row_number().over(localW))
      .filter(col("_lr") <= cap)
      .drop("_b", "_lr")
    val w = Window.partitionBy(col("source"))
      .orderBy(col("priority").asc_nulls_last, col("doc_id").asc_nulls_last)
    local
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= cap)
  }

  /** p05_batch_assembly — deterministic corpus shuffle + fixed-size
    * training-batch assembly (the pretraining dataloader's layout
    * contract: every rerun, on any cluster size, must produce the
    * SAME batches). Pairs text with its embedding row (the
    * image-text/contrastive shape), orders the corpus by a
    * multiplicative hash (the "shuffle"), and cuts the order into
    * consecutive `batchSize` groups.
    *
    * The naive encoding — `row_number() OVER (ORDER BY h)` — is a
    * GLOBAL window: every row through one task. The scalable
    * encoding computes the same global enumeration hierarchically:
    * RANGE-bucket the hash (bucket boundaries preserve the global
    * order, unlike mod-buckets which interleave it), rank within
    * each bucket, and add each bucket's start offset — a prefix sum
    * over the per-bucket counts, `buckets` rows of metadata computed
    * in one bounded window and broadcast back. global_idx =
    * offset(bucket) + local_rank − 1, provably equal to the flat
    * row_number (spec-pinned), with per-key parallelism everywhere.
    *
    * Output: one row per batch with size, source diversity, and an
    * id checksum — the shape a dataloader manifest has.
    */
  def batchAssembly(documents: DataFrame, embeddings: DataFrame,
      batchSize: Int = 32, buckets: Int = 64,
      salt: Long = 911L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hashSpace = 1L << 20
    val pairs = documents.select(col("doc_id"), col("source"))
      .join(embeddings.select(col("vec_id").as("doc_id"), col("label")),
        Seq("doc_id"))
      .withColumn("h", saltedBucket(col("doc_id"), salt, hashSpace))
      .withColumn("bkt", (col("h") / (hashSpace / buckets)).cast("long"))
    // per-bucket start offsets: |buckets| metadata rows — the window
    // below runs on bounded cardinality (≤ `buckets`), never data.
    val offW = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = pairs.groupBy(col("bkt"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("off", sum(col("cnt")).over(offW) - col("cnt"))
      .select(col("bkt"), col("off"))
    val localW = Window.partitionBy(col("bkt"))
      .orderBy(col("h"), col("doc_id"))
    pairs
      .join(broadcast(offsets), Seq("bkt"))
      .withColumn("global_idx",
        col("off") + row_number().over(localW) - 1)
      .withColumn("batch_id", expr(s"global_idx DIV $batchSize"))
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("doc_id")).as("id_checksum"))
  }

  /** p14 geometry — shared with the registered oracle (SparkEntry
    * builds the SQL from THESE constants, the p13 discipline).
    */
  val BuildMinQualityBp: Int = 5000 // basis points: 0.5
  val BuildBudgetTokens: Long = 2048L
  val BuildTestPermille: Int = 10
  val BuildValPermille: Int = 50
  val BuildSplitSalt: Long = 9176L

  /** p14_training_build — the composition CAPSTONE: the whole
    * training-data build as ONE declarative plan, proving the
    * operator surface composes without re-scanning the corpus at
    * each stage. The chain is the pipeline a real pretraining drop
    * runs, each stage this library's registered operator:
    *
    *   clean (p01's quality gate) → exact dedup (p03's min-id layer)
    *   → fuzzy dedup graph (d04 pairs → d07 components, reps kept)
    *   → train/val/test split (p08's salted hash; LEAK-SAFE BY
    *     CONSTRUCTION here — p10 exists because near-dup pairs can
    *     straddle a split boundary, but this pipeline hard-dedups
    *     first, so every cluster is already one representative and
    *     rep_id = doc_id for every surviving row)
    *   → token-budget mixture on the train slice (p13's integer rate
    *     derivation from measured token mass, epochs replicated
    *     map-side)
    *   → sequence packing per (split, source, epoch) (t07's
    *     concat-then-chunk)
    *   → the manifest rollup a consumer validates the drop with
    *     (k09's completeness grain: docs, copies, sequences, token
    *     mass, id checksum per (split, source)).
    *
    * Scale shape — ONE corpus scan per build (spec-asserted at
    * execution level: over every query the build and its landing run,
    * exactly one documents scan reads text). A single projection
    * computes quality score, exact hash, shingle digests, and token
    * count per document, then TEXT IS DROPPED; every downstream stage
    * shuffles hashes and longs. The exact layer's output (the dedup
    * sets) is the reuse point feeding both the fuzzy candidate
    * pipeline and the split table, so it is materialized once for
    * the two consumers and released once the split table is
    * checkpointed.
    * The mixture's rate table is a source-cardinality aggregate
    * broadcast back (p13's pass-1, here fed from the SAME scan
    * instead of a second one — composing the stages SAVES p13's
    * second text scan, which is the capstone's point). Packing
    * windows partition by (split, source, epoch); the final rollup
    * is two algebraic hash aggregates on post-window cardinality.
    */
  def trainingBuild(documents: DataFrame): DataFrame = {
    // One materialization of the cleaned/deduped/split doc table
    // (doc_id, source, n_tokens, split — narrow rows, corpus
    // cardinality). Everything downstream consumes it FOUR ways
    // (per-source token mass, the rate table's grand total, the
    // train replication, the held-out arm), and each DataFrame reuse
    // duplicates the whole scan→quality→dedup subtree in the plan —
    // the pre-r18 physical plan carried 8 copies of the anti-join
    // and 10 corpus scans, re-sorting the corpus-cardinality rows
    // per copy even where ReuseExchange fed them from one shuffle.
    // The checkpoint truncates all of it to one computation (guide
    // §3 "materialising an intermediate result truncates the plan");
    // recomputed per run, never cached across runs. The registered
    // plan is spec-asserted to carry ZERO text scans (truncation
    // landed).
    //
    // Fault/spill posture at scale (r18 VERDICT item 4): the split
    // table is CORPUS-cardinality — narrow (~30 B/row: doc_id,
    // source, n_tokens, split) but at O(10^10) docs that is hundreds
    // of GB pinned on executors, and localCheckpoint is
    // non-fault-tolerant (one executor loss kills the job with no
    // lineage to recompute — guide §5). Production therefore sets a
    // RELIABLE checkpoint dir (sparkContext.setCheckpointDir on the
    // job's scratch FS) and `checkpointed` takes it automatically:
    // checkpoint() writes the table once to the checkpoint FS and
    // frees executor memory, surviving executor loss. Without a
    // configured dir (the local bench) localCheckpoint keeps the r18
    // behavior — eager, MEMORY_AND_DISK, per-run. Either way the
    // plan truncation (the optimization) is identical. The dedup sets
    // (one row per document, with the shingle arrays) take the same
    // posture and are released — blocks or checkpoint files — right
    // after the split table is checkpointed, so they are not pinned
    // through the tail.
    val withSplit = withDedupSets(documents) { sets =>
      val groups = Dedup.dedupGroups(
        Dedup.ngramJaccardFromSets(fuzzyInput(sets)))
      checkpointed(splitTable(sets, groups))
    }
    trainingBuildFrom(withSplit, documents)
  }

  /** Runs `body` over the build's dedup sets (buildDedupSets), computed
    * ONCE however many times `body` reads them: they are checkpointed
    * up front (`checkpointed`) and released when `body` returns, so
    * `body` must materialize whatever it derives from them.
    * Recomputed instead, each consumer — the fuzzy pair pipeline
    * inside dedupGroups' eager edge checkpoint, then the split
    * table's anti-join — would rerun the scan, the quality regexes,
    * the shingle digests and the exact-dedup window. A checkpoint
    * rather than persist(): every read of a persisted relation is its
    * own adaptive cache stage, so the pair pipeline's four reads of
    * the sets (two union arms × two self-join sides) would stop
    * sharing their one posting exchange.
    */
  private def withDedupSets[T](documents: DataFrame)(
      body: DataFrame => T): T = {
    val sets = checkpointed(buildDedupSets(documents))
    try body(sets) finally release(sets)
  }

  /** `df` eagerly checkpointed, its plan truncated: written to the
    * session's reliable checkpoint dir when one is set (it survives
    * executor loss), otherwise a localCheckpoint (blocks on the
    * executors, MEMORY_AND_DISK).
    */
  private[graft] def checkpointed(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(true)
    else df.localCheckpoint(true)

  /** Frees what `checkpointed` stored for `done`: its blocks, and for a
    * reliable checkpoint its files.
    */
  private def release(done: DataFrame): Unit =
    done.queryExecution.logical.foreach {
      case r: LogicalRDD =>
        r.rdd.unpersist(blocking = true)
        r.rdd.getCheckpointFile.foreach { f =>
          val path = new Path(f)
          path.getFileSystem(done.sparkSession.sessionState.newHadoopConf())
            .delete(path, true)
        }
      case _ =>
    }

  /** The fuzzy layer's input: the sets' documents with at least one
    * shingle, (doc_id, sh, nsh) — what ngramJaccardFromSets reads.
    */
  private def fuzzyInput(sets: DataFrame): DataFrame =
    sets.filter(col("nsh") > 0).select(col("doc_id"), col("sh"), col("nsh"))

  /** The cleaned → exact-deduped → fuzzy-deduped → split doc table
    * (doc_id, source, n_tokens, split), UN-materialized, from the
    * dedup sets and the d07 groups resolved over their pairs: only
    * the dup-graph sliver flows in from the groups, reps survive
    * (p03's contract). Reads `sets` a second time (the first read is
    * the pair pipeline's), which is why trainingBuild materializes
    * them first (withDedupSets).
    */
  private def splitTable(sets: DataFrame,
      groups: DataFrame): DataFrame = {
    val dropped = groups.filter(col("doc_id") =!= col("cluster_rep"))
      .select(col("doc_id"))
    val kept = sets.select(col("doc_id"), col("source"), col("n_tokens"))
      .join(dropped, Seq("doc_id"), "left_anti")
    // split: p08's salted hash on doc_id (≡ rep_id after hard dedup)
    val h = saltedBucket(col("doc_id"), BuildSplitSalt, 1000L)
    kept.withColumn("split",
      when(h < BuildTestPermille, lit("test"))
        .when(h < BuildTestPermille + BuildValPermille, lit("val"))
        .otherwise(lit("train")))
  }

  /** p14's FIRST stage — one corpus scan computing quality + exact-
    * dedup hash + shingle digests + token count (text dropped
    * immediately after the projection), then the exact layer's
    * min-id-survivor window per normalized-text hash (p03's recipe).
    * UN-materialized: trainingBuild runs it once per build through
    * withDedupSets. Its own function because withDedupSets and
    * perfbench's traced pass call this shipped stage.
    */
  private[graft] def buildDedupSets(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.{ShingleExprs, TextOps}
    val minQ = BuildMinQualityBp / 10000.0
    val enriched = TextAnalysis
      .qualityScore(documents, passthrough = Seq("lang", "source", "text"))
      .filter(col("quality_score") >= minQ)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        xxhash64(TextOps.normText(col("text"))).as("nh"),
        ShingleExprs.shingleHashSet(col("text"), 3).as("sh"))
    val surv = Window.partitionBy(col("nh"))
    enriched
      .withColumn("_min", min(col("doc_id")).over(surv))
      .filter(col("doc_id") === col("_min"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("sh"), size(col("sh")).as("nsh"))
  }

  /** Everything downstream of the materialized split table: mixture,
    * replication, packing, manifest rollup. `documents` supplies
    * only the packing stage's LOOSE key bounds (a text-free
    * (source, doc_id) scan).
    */
  private def trainingBuildFrom(withSplit: DataFrame,
      documents: DataFrame): DataFrame = {
    // mixture (train slice only): p13's integer rate derivation from
    // the CLEANED, DEDUPED train token mass — metadata-scale agg,
    // broadcast back
    val train = withSplit.filter(col("split") === "train")
    val perSrc = train.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("toks"))
    val total = perSrc.agg(sum(col("toks")).as("t_corpus"))
    val w = BudgetTargets.toSeq.sortBy(_._1)
      .foldLeft(lit(BudgetDefaultTargetPermille)) { case (acc, (s, v)) =>
        when(col("source") === s, lit(v)).otherwise(acc)
      }
    val rates = perSrc.crossJoin(broadcast(total))
      .filter(col("toks").isNotNull && col("toks") > 0)
      .withColumn("w_permille", w.cast("long"))
      .withColumn("tr",
        least(expr("(t_corpus * 1000) DIV toks"), lit(BudgetTCap)))
      .withColumn("r",
        least(expr(s"($BudgetBetaPermille * w_permille * tr) DIV 1000000"),
          lit(BudgetMaxRatePermille)))
      .select(col("source"), col("r"))
    val trainRep = train
      .join(broadcast(rates), Seq("source"))
      .withColumn("n_copies",
        expr("r DIV 1000") +
          when(saltedBucket(col("doc_id"), BudgetSalt, 1000L) <
            pmod(col("r"), lit(1000L)), 1L).otherwise(0L))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("source"), col("split"), col("n_tokens"),
        explode(sequence(lit(0L),
          col("n_copies").cast("long") - 1)).as("epoch"))
    val heldOut = withSplit.filter(col("split") =!= "train")
      .select(col("doc_id"), col("source"), col("split"), col("n_tokens"),
        lit(0L).as("epoch"))
    // packing (t07) per (split, source, epoch): strata pack
    // independently, replicas of different epochs never share a
    // sequence; the running sum is the hierarchical bucket-offset
    // encoding (stratifiedPrefixSum), so no stratum funnels through
    // one window task
    // key bounds per SOURCE from the raw table (a superset of every
    // (split, source, epoch) stratum's doc_id range — loose bounds
    // keep the bucketization monotone), so the bounds branch prunes
    // to a (source, doc_id) scan and the text pipeline runs ONCE
    val packed = stratifiedPrefixSum(trainRep.unionByName(heldOut),
        Seq("split", "source", "epoch"), "doc_id", "n_tokens",
        "start_tok",
        boundsSrc = Some((documents.select(col("source"), col("doc_id")),
          Seq("source"))))
      .withColumn("seq_id", expr(s"start_tok DIV $BuildBudgetTokens"))
    // manifest rollup (k09 grain): two algebraic aggregates on
    // post-window cardinality
    packed
      .groupBy(col("split"), col("source"), col("epoch"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_tokens")).as("tok"),
        (max(col("seq_id")) + 1).as("n_seq"),
        sum(col("doc_id")).as("ck"))
      .groupBy(col("split"), col("source"))
      .agg(
        sum(when(col("epoch") === 0L, col("n_rows"))).cast("long")
          .as("n_docs"),
        sum(col("n_rows")).cast("long").as("n_copies"),
        sum(col("n_seq")).cast("long").as("n_seqs"),
        sum(col("tok")).cast("long").as("sum_tokens"),
        sum(when(col("epoch") === 0L, col("ck"))).cast("long")
          .as("id_checksum"))
  }

  /** p16_shard_shuffle — the DETERMINISTIC GLOBAL SHUFFLE that turns
    * a prepared corpus into training shards: SGD wants the epoch's
    * read order decorrelated from ingest order (documents land
    * grouped by source/crawl, and a source-ordered epoch is a
    * curriculum nobody asked for), and a reproducible run wants the
    * permutation to be a FUNCTION of the data, not of cluster
    * scheduling. Both come from the same recipe the split/sample
    * layers already use: hash, don't randomize.
    *
    *   shard = saltedBucket(doc_id, saltShard, shards)   — which file
    *   pos   = rank of saltedBucket(doc_id, saltOrder, P) within the
    *           shard (doc_id tiebreak)                   — where in it
    *
    * Independence is the point of the two salts (p04's argument): the
    * shard hash nests documents into files, the order hash permutes
    * WITHIN each file, and neither correlates with doc_id order or
    * with any sampling layer's admission hash — so a shard is an
    * unbiased sample of the corpus and reading shards sequentially
    * visits the corpus in hash-permuted order. Rerunning the job —
    * any cluster size, any partitioning — reproduces the identical
    * permutation, which is what makes a training run resumable and
    * an ablation comparable.
    *
    * The mixer is saltedBucket's multiply chain plus ONE quadratic
    * round (h² + h mod P). The sampling layers only need MARGINAL
    * uniformity, so their affine chain suffices and stays pinned;
    * a shuffle needs PAIRWISE decorrelation, and an affine map
    * can't give it — ord(id) = (id+salt)·K² mod P makes consecutive
    * ids a fixed-stride lattice (measured: 17% ascents instead of
    * 50%, i.e. the "shuffle" was mostly a blockwise reversal — the
    * decorrelation spec caught it). Squaring breaks the linearity
    * while staying exact 64-bit integer arithmetic in both engines
    * (h < P ⇒ h² < 2^60), so the oracle still replays it verbatim.
    *
    * Scale: one hash exchange on `shard` + a per-shard sort — the
    * rank window's partition count IS the shard count, so
    * parallelism is the `shards` dial (a 100 TB run shards to
    * O(10k) files of a few GB each, exactly the shape a data loader
    * wants; the 8 here is the sf-sized demo of the same plan). The
    * sort key is an 8-byte hash, never text; composing the actual
    * shard WRITE is k01's partitioned sink on `shard` with
    * `sortWithinPartitions(pos)`.
    *
    * Reference analog: the reference processes samples in whatever
    * order the GEO fetch lands them (mainScript.py's per-sample fan
    * out) — order-sensitivity is exactly what it never had to face;
    * a training pipeline does, so the engine owns the permutation.
    */
  /** One multiply round then one quadratic round, mod P — see
    * shardShuffle's doc for why the sampling layers' affine chain is
    * not shuffle-grade. h < P keeps h² inside exact Long range in
    * Spark and DuckDB alike.
    */
  private def mixedHash(id: Column, salt: Long): Column = {
    val P = lit(1000000007L)
    val K = lit(2654435761L)
    val h = pmod(pmod(pmod(id, P) + lit(salt), P) * K, P)
    pmod(pmod(h * h, P) + h, P)
  }

  def shardShuffle(documents: DataFrame, shards: Int = 8,
      saltShard: Long = 5711L, saltOrder: Long = 8231L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("ord"), col("doc_id"))
    documents
      .select(col("doc_id"),
        pmod(mixedHash(col("doc_id"), saltShard), lit(shards.toLong))
          .as("shard"),
        mixedHash(col("doc_id"), saltOrder).as("ord"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("shard"), col("pos"), col("doc_id"))
  }
}
