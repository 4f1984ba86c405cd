package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pipeline operators q10–q18: the genomics-shaped computations of the
  * reference (binned coverage, interval counting, peak calling,
  * metrics, progress matrix) plus the windowed/sessionized forms a
  * timestamped event stream needs. See SURVEY.md §2/§3.
  */
object Pipeline {

  /** q38/st10 hopping-window geometry — the SINGLE source of truth
    * shared by the batch operator, the streaming operator, and the
    * DuckDB oracle (SparkEntry.slidingSql derives its replication
    * factor k = window/slide and its slide width from these, so a
    * re-registration with different geometry changes both sides
    * together instead of silently diverging from the oracle).
    */
  val SlidingWindowSeconds: Long = 7200L
  val SlidingSlideSeconds: Long = 1800L

  /** q10_bin_coverage — fixed-width binning, the igvtools `count -w`
    * step (reference tools.py:499-530): events land in width-w bins
    * along the time axis; count + mass per (bin, type). Aggregation
    * key cardinality is bounded by #bins × #types, not rows — the
    * plan is a single partial-agg-friendly hash aggregate.
    */
  def binCoverage(events: DataFrame, binSeconds: Long = 3600L): DataFrame =
    events
      .select(
        (floor(graft.Tables.epochUs(col("ts")) / (binSeconds * 1000000L)))
          .cast("long").as("bin_id"),
        col("event_type"), col("value"))
      .groupBy(col("bin_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))

  /** q38_sliding_window — HOPPING-window aggregation: overlapping
    * windows of `windowSeconds` advancing every `slideSeconds`, the
    * standard monitoring shape (a 2 h load average updated every
    * 30 min) and macs2's sliding-local-background idea as a native
    * windowed aggregate. q10/st01 are the tumbling special case
    * (slide = window); hopping windows place each event in
    * window/slide overlapping groups, which neither a tumbling bin
    * nor a range frame expresses.
    *
    * Scale: the replication factor k = window/slide is a CONSTANT of
    * the query (4 here), expanded MAP-SIDE by Spark's native
    * `window()` generator, and partial aggregation collapses the
    * replicas per (window, type) before the one exchange — cost is
    * k× map-side rows into the same bounded-cardinality aggregate as
    * q10, never a self-join or range join. Value sums in integer
    * cents: replication changes the summation pattern, so the
    * order-insensitive integer sum is what keeps the hash gate
    * deterministic (q13's recipe).
    */
  def slidingWindow(events: DataFrame,
      windowSeconds: Long = Pipeline.SlidingWindowSeconds,
      slideSeconds: Long = Pipeline.SlidingSlideSeconds): DataFrame =
    events
      .groupBy(window(col("ts"), s"$windowSeconds seconds",
        s"$slideSeconds seconds").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100, 0).cast("long")).as("value_cents"))
      .select(unix_micros(col("w.start")).as("ws_us"), col("event_type"),
        col("n_events"), col("value_cents"))

  /** General interval (range) join via a binned equi-join prefilter —
    * the 100 TB-safe htseq-count shape. A naive `lo <= x < hi` join
    * is a nested loop over every (fact, interval) pair: fine for a
    * dozen bands, a scale-killer at annotation scale (10⁵–10⁶
    * intervals). Instead each interval is exploded into the
    * fixed-width bins it overlaps and each fact computes its single
    * bin, so the join is an EQUI-join on bin (hash join, broadcast or
    * shuffled) with the exact range predicate as a residual. Bin
    * count per interval = O(interval width / binWidth), so the
    * explode is bounded; the fact side adds one projected column and
    * never replicates.
    */
  def intervalJoin(facts: DataFrame, intervals: DataFrame, factCol: String,
      binWidth: Double): DataFrame = {
    // Degenerate intervals (hi <= lo) match no fact under the
    // half-open [lo, hi) predicate, but an UNGUARDED hi << lo would
    // make `sequence(start, stop)` count DOWN and explode unbounded
    // spurious bins before the residual filter discards them — a
    // malformed annotation row must cost nothing, not a fan-out.
    val binned = intervals
      .filter(col("hi") > col("lo"))
      .withColumn("bin",
        explode(sequence(
          floor(col("lo") / binWidth).cast("long"),
          (ceil(col("hi") / binWidth) - 1).cast("long"))))
    // No broadcast hint here: at annotation scale (10⁵–10⁶ intervals
    // × bins-per-interval) a pinned broadcast would ship millions of
    // rows to every executor. The planner broadcasts small interval
    // tables on its own (size-based); callers with literal tables can
    // hint at the call site.
    facts
      .withColumn("bin", floor(col(factCol) / binWidth).cast("long"))
      .join(binned, Seq("bin"), "inner")
      .filter(col(factCol) >= col("lo") && col(factCol) < col("hi"))
  }

  /** q11_interval_count — interval join + count per feature, the
    * htseq-count step (reference tools.py:625-674): each fact falls
    * into an annotation band [lo, hi); counts per band. Uses the
    * binned equi-join (hash join on bin), not a nested loop; the 12
    * literal bands are hinted broadcast here, where their size is
    * known.
    */
  def intervalCount(spark: SparkSession, lineitem: DataFrame): DataFrame =
    intervalJoin(lineitem, broadcast(priceBands(spark)), "l_extendedprice",
      10000.0)
      .groupBy(col("band_id"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity")).as("sum_qty"))

  /** Annotation bands (≈ GTF features): 12 price intervals of 10k. */
  def priceBands(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until 12).map(i => (i, i * 10000.0, (i + 1) * 10000.0))
      .toDF("band_id", "lo", "hi")
  }
  /** Same bands as SQL literals for the DuckDB oracle. */
  val priceBandsSql: String =
    (0 until 12).map(i => s"(${i}, ${i * 10000.0}, ${(i + 1) * 10000.0})")
      .mkString("(VALUES ", ", ", ") AS bands(band_id, lo, hi)")

  /** q12_peak_detect — enrichment peak calling, the macs2 step
    * (reference tools.py:555-622): bin the signal, flag bins above a
    * scale-adaptive background (mean + 2σ over bins), merge adjacent
    * enriched bins into peaks (gaps-and-islands). The window-over-()
    * steps run on #bins rows (post-aggregation), never on raw events.
    */
  def peakDetect(events: DataFrame, binSeconds: Long = 3600L): DataFrame =
    globalEnrichedBins(events, binSeconds)
      .groupBy(col("island"))
      .agg(
        min(col("bin_id")).as("peak_start"),
        max(col("bin_id")).as("peak_end"),
        count(lit(1)).as("n_bins"),
        sum(col("n")).as("total_events"))
      .drop("island")

  /** Per-type binned counts — q40/q41's shared scan shape. */
  private def typedBins(events: DataFrame,
      binSeconds: Long): DataFrame =
    events
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("event_type"),
        floor(graft.Tables.epochUs(col("ts")) / (binSeconds * 1000000L))
          .cast("long").as("bin_id"))
      .groupBy(col("event_type"), col("bin_id"))
      .agg(count(lit(1)).as("n"))

  /** Per-type enriched islands (q12's recipe with every window
    * PARTITIONED by event_type) — shared by q40 (complement) and
    * q41 (overlap join).
    */
  private def perTypePeaks(events: DataFrame,
      binSeconds: Long): DataFrame =
    perTypePeaksFromBins(typedBins(events, binSeconds))

  /** perTypePeaks over a PRE-BUILT (event_type, bin_id, n) bin table
    * — lets q40 feed its three consumers (domain, gap construction,
    * tail row) from ONE materialized bin pass instead of re-running
    * the raw-event scan+aggregate per branch (r18, guide §3:
    * materializing an intermediate truncates the lineage).
    */
  private def perTypePeaksFromBins(bins: DataFrame): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
    val ordered = Window.partitionBy(col("event_type"))
      .orderBy(col("bin_id"))
    bins
      .withColumn("thresh",
        avg(col("n")).over(byType) +
          lit(2) * stddev_pop(col("n")).over(byType))
      .filter(col("n") > col("thresh"))
      .withColumn("island", col("bin_id") - row_number().over(ordered))
      .groupBy(col("event_type"), col("island"))
      .agg(min(col("bin_id")).as("peak_start"),
        max(col("bin_id")).as("peak_end"))
  }

  /** q40_interval_complement — the COMPLEMENT of the called peaks:
    * every uncovered/unenriched range between islands, with the
    * flanks to the observed domain edges (bedtools complement over
    * macs2's output — the reference pipeline calls peaks,
    * tools.py:555-622; every downstream "background region" sample
    * and browser gap track needs the inverse, which no q11/q12/q23
    * surface emits). Runs PER event_type — the chromosome analog —
    * so every window in the plan is PARTITIONED (threshold, island
    * labeling, and the gap lag all key on event_type): the natural
    * genomics parallelism, no single-partition funnel anywhere.
    *
    * Gap construction: one lag over each type's peaks yields the
    * before-gap [prev_end+1 (or domain start), peak_start-1]; one
    * per-type tail row yields [last_end+1 (or domain start),
    * domain end] — which also makes a peak-less type emit its whole
    * domain as one gap, the correct degenerate complement. All
    * windows run on post-aggregation cardinalities (#bins, #peaks
    * per type), never raw events.
    *
    * NOT LAZY (ADVICE r18 #3): construction eagerly executes the full
    * events scan+aggregate (the bin-table localCheckpoint below) —
    * callers that only format/explain the returned plan still pay one
    * Spark job, and the checkpointed bins hold (metadata-sized)
    * executor memory for the session. Same eager-materialization
    * contract as trainingBuild.
    */
  def intervalComplement(events: DataFrame,
      binSeconds: Long = 3600L): DataFrame = {
    // ONE bin pass for all three consumers (r18): the executed plan
    // carried THREE raw-event scan→aggregate subtrees — domain and
    // the peak pipeline each re-derived the bin table, and pruning
    // made the subtrees non-identical so runtime exchange reuse
    // could not collapse them. The bin table is post-aggregation
    // cardinality (#types × #time-bins) — a metadata-sized
    // localCheckpoint at any corpus scale, recomputed per run.
    val bins = typedBins(events, binSeconds).localCheckpoint(true)
    val peaks = perTypePeaksFromBins(bins)
    val domain = bins.groupBy(col("event_type"))
      .agg(min(col("bin_id")).as("dom_start"),
        max(col("bin_id")).as("dom_end"))
    val lagW = Window.partitionBy(col("event_type"))
      .orderBy(col("peak_start"))
    val before = peaks
      .withColumn("prev_end", lag(col("peak_end"), 1).over(lagW))
      .join(domain, Seq("event_type"))
      .select(col("event_type"),
        coalesce(col("prev_end") + 1, col("dom_start")).as("gap_start"),
        (col("peak_start") - 1).as("gap_end"))
    val tails = domain
      .join(peaks.groupBy(col("event_type"))
        .agg(max(col("peak_end")).as("last_end")),
        Seq("event_type"), "left")
      .select(col("event_type"),
        coalesce(col("last_end") + 1, col("dom_start")).as("gap_start"),
        col("dom_end").as("gap_end"))
    before.unionByName(tails)
      .filter(col("gap_end") >= col("gap_start"))
      .select(col("event_type"), col("gap_start"), col("gap_end"),
        (col("gap_end") - col("gap_start") + 1).as("n_bins_gap"))
  }

  /** q41_interval_join — interval-vs-interval OVERLAP join, bedtools
    * intersect: which per-type peaks (the sample-level calls) overlap
    * the global consensus peaks (q12's), with the overlap extent —
    * the comparison every multi-sample peak analysis runs
    * (consensus filtering, blacklist removal; the reference stops at
    * per-sample calls, tools.py:555-622, and q11/q23 join POINTS to
    * intervals, not intervals to intervals).
    *
    * The scale move is the BUCKETED range join: each interval
    * explodes to the fixed-width buckets it covers
    * (`bucketBins` bins per bucket), the pair space collapses to an
    * EQUI-join on bucket, and a post-filter keeps true overlaps
    * (distinct collapses pairs sharing several buckets). Fan-out per
    * interval = length/W + 1 rows — the standard distributed
    * interval-join shape; the naive alternative is a non-equi
    * BroadcastNestedLoopJoin that crosses every pair of intervals,
    * exactly what PlanAuditSpec bans (the spec asserts this plan
    * hash-joins). The oracle states the CONTRACT as the naive
    * non-equi join — affordable on oracle-scale interval counts —
    * so the bucketing is proven a pure execution strategy.
    */
  def intervalOverlapJoin(events: DataFrame, binSeconds: Long = 3600L,
      bucketBins: Long = 4L): DataFrame = {
    def buckets(start: Column, end: Column): Column =
      sequence(floor(start / bucketBins).cast("long"),
        floor(end / bucketBins).cast("long"))
    val a = perTypePeaks(events, binSeconds)
      .select(col("event_type"), col("peak_start").as("tp_start"),
        col("peak_end").as("tp_end"))
      .withColumn("bucket",
        explode(buckets(col("tp_start"), col("tp_end"))))
    val b = peakDetect(events, binSeconds)
      .select(col("peak_start").as("gp_start"),
        col("peak_end").as("gp_end"))
      .withColumn("bucket",
        explode(buckets(col("gp_start"), col("gp_end"))))
    a.join(b, Seq("bucket"))
      .filter(col("tp_start") <= col("gp_end") &&
        col("gp_start") <= col("tp_end"))
      .select(col("event_type"), col("tp_start"), col("tp_end"),
        col("gp_start"), col("gp_end"))
      .distinct()
      .withColumn("overlap_bins",
        least(col("tp_end"), col("gp_end")) -
          greatest(col("tp_start"), col("gp_start")) + 1)
  }

  /** q12's bin→enrich→island core, shared with q36: binned counts,
    * bins above the global mean+2σ threshold, adjacent survivors
    * labeled with their island id (bin_id − row_number). All windows
    * run on #bins rows (post-aggregation), never raw events.
    */
  private def globalEnrichedBins(events: DataFrame,
      binSeconds: Long): DataFrame = {
    val bins = events
      .select(floor(graft.Tables.epochUs(col("ts")) / (binSeconds * 1000000L))
        .cast("long").as("bin_id"))
      .groupBy(col("bin_id"))
      .agg(count(lit(1)).as("n"))
    val all = Window.partitionBy()
    val byBin = Window.partitionBy().orderBy(col("bin_id"))
    bins
      .withColumn("thresh",
        avg(col("n")).over(all) + lit(2) * stddev_pop(col("n")).over(all))
      .filter(col("n") > col("thresh"))
      // adjacent enriched bins share (bin_id - row_number) → one island
      .withColumn("island", col("bin_id") - row_number().over(byBin))
  }

  /** q36_peak_summits — q12's peaks extended with the SUMMIT, the
    * argmax bin inside each island: macs2 emits a summits.bed with
    * one position per peak (reference tools.py:555-622), and
    * downstream motif/annotation tools consume the summit, not the
    * island bounds — q12/q21/q24 stopped at the bounds. Summit =
    * the island's highest-count bin, leftmost on ties (macs2's
    * deterministic choice); also emitted as an OFFSET from
    * peak_start, the summits.bed relative-coordinate convention.
    *
    * The argmax rides a rank window PARTITIONED BY island then a
    * conditional max inside the existing island aggregation — no
    * struct-ordered max_by (a struct aggregation buffer forces
    * SortAggregate, q08's lesson), and both steps run on enriched
    * bins only (≤ #bins rows, post-aggregation cardinality — q12's
    * scale argument, unchanged).
    */
  def peakSummits(events: DataFrame, binSeconds: Long = 3600L): DataFrame = {
    val sumW = Window.partitionBy(col("island"))
      .orderBy(col("n").desc, col("bin_id").asc)
    globalEnrichedBins(events, binSeconds)
      .withColumn("rk", row_number().over(sumW))
      .groupBy(col("island"))
      .agg(
        min(col("bin_id")).as("peak_start"),
        max(col("bin_id")).as("peak_end"),
        count(lit(1)).as("n_bins"),
        sum(col("n")).as("total_events"),
        max(when(col("rk") === 1, col("bin_id"))).as("summit_bin"),
        max(when(col("rk") === 1, col("n"))).as("summit_events"))
      .withColumn("summit_offset", col("summit_bin") - col("peak_start"))
      .drop("island")
  }

  /** q21_peak_local — peak calling against a LOCAL background, the
    * part of the macs2 semantics q12's global threshold misses
    * (reference tools.py:555-622: macs2 tests each candidate against
    * a local lambda estimated from sliding windows around it, so a
    * region with elevated baseline doesn't flood the caller with
    * false peaks). Here: local lambda = avg event count over the
    * ±`k`-bin RANGE frame around each bin (range, not rows — absent
    * bins don't stretch the neighborhood), and a bin is enriched when
    * it exceeds the Poisson-style `lambda + z·sqrt(lambda)` bound.
    * Enriched bins merge into peaks exactly like q12.
    *
    * At 100× data with regional baseline drift this keeps calling the
    * same local spikes where the global mean+2σ threshold would call
    * entire elevated regions.
    *
    * The caller runs PER event_type (the chromosome analog — q40's
    * recipe), so every window is PARTITIONED: the bin table is
    * #types × (time-range/binSeconds) rows, and per-type it is the
    * bounded post-aggregation cardinality q12 argues from — but a
    * multi-year event store at fine bins grows the GLOBAL bin count
    * without bound, and a partition-less window would funnel all of
    * it through one task. `perType = false` is the legacy
    * whole-store dial (all rows under one `__all__` key — the
    * single-partition cost is then the dial's explicit choice).
    */
  def peakDetectLocal(events: DataFrame, binSeconds: Long = 3600L,
      k: Int = 12, z: Double = 2.0, perType: Boolean = true): DataFrame = {
    val typ = if (perType) col("event_type")
      else lit("__all__").as("event_type")
    val bins = events
      .select(typ.as("event_type"),
        floor(graft.Tables.epochUs(col("ts")) / (binSeconds * 1000000L))
          .cast("long").as("bin_id"))
      .groupBy(col("event_type"), col("bin_id"))
      .agg(count(lit(1)).as("n"))
    val local = Window.partitionBy(col("event_type"))
      .orderBy(col("bin_id")).rangeBetween(-k, k)
    // lambda is an exact-int-sum / count double on both engines, and
    // sqrt is IEEE — the enrichment compare is bit-deterministic.
    val enriched = bins
      .withColumn("lam", avg(col("n")).over(local))
      .filter(col("n") > col("lam") + lit(z) * sqrt(col("lam")))
    val byBin = Window.partitionBy(col("event_type"))
      .orderBy(col("bin_id"))
    enriched
      .withColumn("island", col("bin_id") - row_number().over(byBin))
      .groupBy(col("event_type"), col("island"))
      .agg(
        min(col("bin_id")).as("peak_start"),
        max(col("bin_id")).as("peak_end"),
        count(lit(1)).as("n_bins"),
        sum(col("n")).as("total_events"))
      .drop("island")
  }

  /** Per-bin BH q-values — the shared Poisson+FDR core of
    * peakFdr/peakFdrCandidates. Returns (event_type, bin_id, n, qv).
    */
  private def binQvals(events: DataFrame, binSeconds: Long,
      k: Int, perType: Boolean): DataFrame = {
    val typ = if (perType) col("event_type")
      else lit("__all__").as("event_type")
    val bins = events
      .select(typ.as("event_type"),
        floor(graft.Tables.epochUs(col("ts")) / (binSeconds * 1000000L))
          .cast("long").as("bin_id"))
      .groupBy(col("event_type"), col("bin_id"))
      .agg(count(lit(1)).as("n"))
    val all = Window.partitionBy(col("event_type"))
    val local = Window.partitionBy(col("event_type"))
      .orderBy(col("bin_id")).rangeBetween(-k, k)
    val withLam = bins.withColumn("lam",
      greatest(avg(col("n")).over(all), avg(col("n")).over(local)))
    val cdfSum = when(col("n") >= 2,
      aggregate(
        sequence(lit(1L), least(col("n") - 1, lit(4096L))),
        struct(lit(1.0).as("term"), lit(1.0).as("acc")),
        (s, i) => struct(
          (s.getField("term") * col("lam") / i).as("term"),
          (s.getField("acc") + s.getField("term") * col("lam") / i)
            .as("acc")),
        s => s.getField("acc"))).otherwise(lit(1.0))
    val rankW = Window.partitionBy(col("event_type"))
      .orderBy(col("p").asc, col("bin_id").asc)
    val bhW = Window.partitionBy(col("event_type")).orderBy(col("rnk"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    withLam
      .withColumn("p", lit(1.0) - exp(-col("lam")) * cdfSum)
      .withColumn("rnk", row_number().over(rankW))
      .withColumn("m", count(lit(1)).over(all))
      .withColumn("qv", min(col("p") * col("m") / col("rnk")).over(bhW))
      .select(col("event_type"), col("bin_id"), col("n"), col("qv"))
  }

  /** q24_peak_fdr — macs2's ACTUAL significance machinery
    * (reference tools.py:555-622 passes `-q '0.01'`): per-bin Poisson
    * p-values against a local-or-global background λ, then
    * Benjamini–Hochberg FDR correction, keeping bins whose q-value is
    * ≤ `qMax` and merging them into peaks. q12/q21's z-score bounds
    * approximate this; this is the real test, and it is fully
    * oracle-checkable because every step is SQL-expressible.
    *
    * λ = max(global mean, ±k-bin local mean) — macs2's
    * max(λBG, λ10k) rule. Window avgs of BIGINT counts are exact
    * (integer-valued double partial sums are order-independent below
    * 2^53), so λ is bit-identical across engines.
    *
    * p = P(Pois(λ) ≥ n) = 1 − e^{−λ}·Σ_{i=0}^{n−1} λ^i/i!, evaluated
    * by folding the term recurrence term_i = term_{i−1}·λ/i in
    * ascending i — one IEEE multiply, divide and add per step, the
    * exact op sequence the oracle's recursive CTE replays, so the
    * partial sums match bit for bit (the only library call, exp, can
    * differ by an ulp between libm implementations — tolerated
    * because p/q feed only an ORDERING and a threshold, and the
    * output columns are all integers). The sum is capped at 4096
    * terms on BOTH sides: for λ ≤ ~3800 the terms beyond
    * λ + 50√λ are below double ulp, so the cap is numerically
    * lossless at any plausible bin rate; it also bounds the per-bin
    * sequence array. All of this runs on #bins rows
    * (post-aggregation), never on raw events — same scale argument
    * as q12/q21.
    *
    * BH: rank bins by (p, bin_id), q = running min of p·m/rank from
    * the tail (the standard step-up), keep q ≤ qMax. FDR is
    * controlled PER event_type (the per-chromosome convention) so
    * every rank/BH window is partitioned — the whole-store variant
    * is the `perType = false` dial (see peakDetectLocal's scale
    * note; the partition-less funnel is then an explicit choice).
    */
  def peakFdr(events: DataFrame, binSeconds: Long = 3600L,
      k: Int = 12, qMax: Double = 0.01,
      perType: Boolean = true): DataFrame = {
    val byBin = Window.partitionBy(col("event_type"))
      .orderBy(col("bin_id"))
    binQvals(events, binSeconds, k, perType)
      .filter(col("qv") <= qMax)
      .withColumn("island", col("bin_id") - row_number().over(byBin))
      .groupBy(col("event_type"), col("island"))
      .agg(
        min(col("bin_id")).as("peak_start"),
        max(col("bin_id")).as("peak_end"),
        count(lit(1)).as("n_bins"),
        sum(col("n")).as("total_events"))
      .drop("island")
  }

  /** The oracle-facing q24 surface: the `topN` most significant bins
    * with their BH q-values — macs2's peak table with its q column,
    * minus the thresholding. The real events tables are Poisson-null
    * (no genuine bursts), so the q ≤ 0.01 cut in peakFdr correctly
    * returns ZERO peaks on them — statistically right, but an empty
    * result would let an always-empty engine bug pass the gate. This
    * variant makes the driver hash-compare the actual p/q NUMBERS
    * (rounded 4dp) for 25 real bins instead, which checks the entire
    * Poisson-CDF + BH pipeline; the thresholded caller is spec-tested
    * on a planted burst where the peak provably exists.
    */
  def peakFdrCandidates(events: DataFrame, binSeconds: Long = 3600L,
      k: Int = 12, topN: Int = 25,
      perType: Boolean = true): DataFrame = {
    val sigW = Window.partitionBy(col("event_type"))
      .orderBy(col("qv").asc, col("bin_id").asc)
    binQvals(events, binSeconds, k, perType)
      .withColumn("sig_rank", row_number().over(sigW).cast("long"))
      .filter(col("sig_rank") <= topN)
      .select(col("event_type"), col("sig_rank"), col("bin_id"),
        col("n"), round(col("qv"), 4).as("qval"))
  }

  /** q23_interval_file — q11's interval count with the annotation
    * table read from a FILE instead of literals: the reference
    * consumes real annotation inputs (/root/reference/parserTools.py;
    * htseq reads a GTF), so the engine must close the loop between
    * text ingest and the interval machinery. The bands land in a
    * GTF-shaped CSV (feature id + coordinates), come back through
    * TextIngest.readCsv (corrupt-capturing, schema'd), and feed the
    * same binned equi-join — the plan stays a hash join, never a
    * nested loop, regardless of where the intervals came from.
    *
    * The CSV is staged once per JVM: writing the file simulates
    * the annotation input existing on disk, it is not part of the
    * operator's work.
    */
  def intervalCountFromFile(spark: SparkSession,
      lineitem: DataFrame): DataFrame = {
    val dir = bandsCsvDir(spark)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "band_id INT, lo DOUBLE, hi DOUBLE")
    val (bands, _) = graft.sources.TextIngest.split(
      graft.sources.TextIngest.readCsv(spark, dir, schema))
    intervalJoin(lineitem, bands, "l_extendedprice", 10000.0)
      .groupBy(col("band_id"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity")).as("sum_qty"))
  }

  private def bandsCsvDir(spark: SparkSession): String =
    graft.Staging.memo("q23", "bands") {
      val d = graft.Staging.dir("graft_bands_csv_")
      priceBands(spark).coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(d)
      d
    }

  /** q13_metrics — multi-statistic summary with ratio-of-total, the
    * picard metrics step (reference tools.py:447-496). The over-()
    * window runs on #statuses rows post-aggregation.
    */
  def metrics(orders: DataFrame): DataFrame = {
    // Money sums/avgs accumulate in EXACT integer cents: summing the
    // raw doubles is order-sensitive (the engines' different
    // summation orders diverged by an ulp at sf0.1), while the cents
    // sum is exact and the final division is one deterministic fp op.
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    val base = orders.groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        (sum(cents) / 100.0).as("sum_price"),
        (round(sum(cents) * 100.0 / count(lit(1)), 0) / 10000.0)
          .as("avg_price"))
    base.withColumn("pct_orders",
      round(col("n_orders") * 100.0 / sum(col("n_orders"))
        .over(Window.partitionBy()), 4))
  }

  /** q37_qc_gate — the per-sample PASS/FAIL decision that gates the
    * reference pipeline: a sample whose outputs are missing or empty
    * is marked `failed` and skipped downstream (tools.py:455-496
    * asserts nonempty, nonzero-size bams before metrics; the status
    * lands in the progress log that mainScript's redo/skip reads).
    * q13/q14 REPORT metrics; this operator makes the DECISION —
    * per sample (customer), evaluate each gate and the conjunction:
    *
    *  - g_has_data: the sample produced any records at all (the
    *    missing-output check — customers enter from the dimension
    *    side, so absent facts FAIL rather than vanish);
    *  - g_min_volume: at least `minOrders` records;
    *  - g_status: finished-status share ≥ 20%, tested as the integer
    *    cross-product n_f·5 ≥ n_orders·1 — no division, no float
    *    threshold a borderline sample could flip on (q31's recipe).
    *
    * Gates emit as 0/1 ints (not booleans) so the report sums:
    * Σ qc_pass over samples is the batch's pass count. One hash
    * aggregation on the fact side + one shuffle join to the
    * dimension; everything else is map-side codegen. Aggregation
    * output and join cardinality are #samples, never #records.
    */
  def qcGate(customer: DataFrame, orders: DataFrame,
      minOrders: Int = 3): DataFrame = {
    val a = orders.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders_raw"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
          .as("n_f_raw"))
    customer.select(col("c_custkey"))
      .join(a, col("c_custkey") === col("o_custkey"), "left")
      .withColumn("n_orders", coalesce(col("n_orders_raw"), lit(0L)))
      .withColumn("n_f", coalesce(col("n_f_raw"), lit(0L)))
      .withColumn("g_has_data",
        when(col("n_orders_raw").isNotNull, 1).otherwise(0))
      .withColumn("g_min_volume",
        when(col("n_orders") >= minOrders, 1).otherwise(0))
      .withColumn("g_status",
        when(col("g_has_data") === 1 &&
          col("n_f") * 5L >= col("n_orders"), 1).otherwise(0))
      .withColumn("qc_pass",
        col("g_has_data") * col("g_min_volume") * col("g_status"))
      .select(col("c_custkey"), col("n_orders"), col("n_f"),
        col("g_has_data"), col("g_min_volume"), col("g_status"),
        col("qc_pass"))
  }

  /** q39_run_report — the batch completion REPORT, the reference's
    * `constructEmail` notification (parserTools.py:94-120: "the
    * following data were successfully processed: ..." / "were NOT
    * processed: ..." with the sample lists joined into the body).
    * q13/q14 report metrics and q37 decides pass/fail; this operator
    * RENDERS the decision into the artifact a human receives: one row
    * per batch (market segment = the reference's per-user submission)
    * carrying counts, bounded completed/failed sample lists, and the
    * assembled body text.
    *
    * The rendered lists are HEADS, not full rosters — `headN` per
    * (batch, verdict) via a partitioned rank window, so per-group
    * state is bounded no matter how many samples a batch holds (an
    * email listing 40M sample ids is not a report; counts carry the
    * magnitude, heads carry the names a reader acts on). collect_list
    * runs on the rank-filtered slice only — ≤ 2·headN ids per batch
    * ever aggregate — and numeric sort before cast keeps the
    * rendering deterministic and oracle-identical.
    */
  def runReport(customer: DataFrame, orders: DataFrame,
      headN: Int = 10): DataFrame = {
    val gated = qcGate(customer, orders)
      .join(customer.select(col("c_custkey").as("ck"),
        col("c_mktsegment")), col("c_custkey") === col("ck"))
      .select(col("c_mktsegment"), col("c_custkey"), col("qc_pass"))
    val counts = gated.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).cast("long").as("n_samples"),
        sum(col("qc_pass")).cast("long").as("n_completed"),
        (count(lit(1)) - sum(col("qc_pass"))).cast("long")
          .as("n_failed"))
    val w = Window.partitionBy(col("c_mktsegment"), col("qc_pass"))
      .orderBy(col("c_custkey"))
    def head(pass: Int): org.apache.spark.sql.Column =
      coalesce(array_join(transform(array_sort(collect_list(
        when(col("qc_pass") === pass, col("c_custkey")))),
        _.cast("string")), " "), lit(""))
    val heads = gated
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= headN)
      .groupBy(col("c_mktsegment"))
      .agg(head(1).as("completed_head"), head(0).as("failed_head"))
    counts.join(heads, Seq("c_mktsegment"))
      .select(col("c_mktsegment"), col("n_samples"),
        col("n_completed"), col("n_failed"),
        col("completed_head"), col("failed_head"),
        concat(lit("processed "), col("n_completed").cast("string"),
          lit("/"), col("n_samples").cast("string"),
          lit(" | completed(head): ["), col("completed_head"),
          lit("] | failed(head): ["), col("failed_head"), lit("]"))
          .as("body"))
  }

  /** q14_status_pivot — status matrix, the sqlite progress log
    * (reference tools.py:8-56): samples × steps → rows × status
    * columns. Spark's relational pivot with an explicit column list
    * (no extra distinct pass).
    */
  def statusPivot(orders: DataFrame): DataFrame =
    orders
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))

  /** q15_topk — top-k by aggregate (top expressed genes downstream of
    * counting). Deterministic tiebreak on the unique key; the limit
    * collapses to TakeOrdered — no global sort materialization.
    */
  def topk(orders: DataFrame, customer: DataFrame, k: Int = 10): DataFrame =
    orders
      .groupBy(col("o_custkey"))
      // exact integer cents (see q01): the double sum is
      // order-sensitive in the last ulp, and here it is also the
      // RANKING key — an ulp flip across engines could reorder the
      // top-k boundary itself.
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
        .as("rev_cents"), count(lit(1)).as("n_orders"))
      .join(broadcast(customer.select(col("c_custkey"), col("c_name"))),
        col("o_custkey") === col("c_custkey"))
      .orderBy(col("rev_cents").desc, col("o_custkey").asc)
      .limit(k)
      .select(col("o_custkey"), col("c_name"), col("n_orders"),
        (col("rev_cents") / 100.0).as("revenue"))

  /** q26_grouped_topk — exact top-k WITHIN each group (the
    * reference's per-sample top-features report: htseq counts ranked
    * per sample, not globally — q15's global cousin). The naive plan
    * — `row_number() OVER (PARTITION BY group ORDER BY metric)` over
    * the full aggregate — funnels every group's ENTIRE row set
    * through one task per group; with few groups (5 priorities) and
    * 100 TB of customers that is 5 tasks sorting everything.
    *
    * Scalable shape: two-phase top-k. Phase 1 computes per-(group,
    * SALT-bucket) local top-k with a row_number window over the
    * pre-aggregated rows — any global top-k row is necessarily top-k
    * in its own bucket, so the prune is LOSSLESS (spec-pinned
    * against the naive window). A window, NOT `collect_list` +
    * `slice`: an aggregation buffer holds the whole bucket in
    * memory before slicing (OOM at a billion customers), while the
    * window's per-partition sort is external and spills. Phase 2
    * ranks only the surviving ≤ salt·k candidates per group — a
    * window over bounded cardinality, the same justification class
    * as q07's. Ordering is total (cents desc, custkey asc), so ranks
    * are deterministic on both engines.
    */
  def groupedTopk(orders: DataFrame, k: Int = 3,
      saltBuckets: Int = 32): DataFrame = {
    val spend = orders
      .groupBy(col("o_orderpriority"), col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
        .as("cents"))
    val localW = Window
      .partitionBy(col("o_orderpriority"), col("_salt"))
      .orderBy(col("cents").desc, col("o_custkey").asc)
    val local = spend
      .withColumn("_salt",
        pmod(xxhash64(col("o_custkey")), lit(saltBuckets)))
      .withColumn("_lrnk", row_number().over(localW))
      .filter(col("_lrnk") <= k)
      .drop("_salt", "_lrnk")
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("cents").desc, col("o_custkey").asc)
    local
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("o_orderpriority"), col("o_custkey"),
        (col("cents") / 100.0).as("spend"), col("rnk"))
  }

  /** q29_funnel — ordered multi-step conversion within a time window
    * (the reference's per-sample progress semantics — how far down
    * the step DAG did each sample get, `tools.py:8-56` — generalized
    * to the classic event funnel). Step k's timestamp is the
    * EARLIEST step-k event strictly after step k−1 and within
    * `windowUs` of step 1; a user's depth is the longest satisfied
    * prefix. Emits (step_reached, step_name, n_users) — all-integer,
    * hash-exact.
    *
    * Shape (r9, st07's single-pass recurrence ported to batch): the
    * step-relevant event slice shuffles ON user_id ONCE; t1..tL are
    * CHAINED per-user window minima over that one exchange — t1 =
    * min(ts | step 1), t_k = min(ts | step k ∧ ts > t_{k−1} ∧ ts ≤
    * t1 + window) — each referencing the previous column, so Catalyst
    * stacks `steps.length` WindowExecs over the SAME partitioning
    * (zero further exchanges; the previous shape re-joined and
    * re-aggregated the event slice per step). The per-user reduce
    * rides the same partitioning too; the only other exchange carries
    * ≤ `steps` rows of final counts. A per-type global min can NOT
    * replace the recurrence: a view before the signup must not count.
    */
  def funnel(events: DataFrame,
      steps: Seq[String] = Seq("signup", "view", "click", "purchase"),
      windowUs: Long = 7L * 24 * 3600 * 1000000L): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    // only step-typed events can contribute — the isin prunes the
    // exchange to the funnel-relevant sliver at the scan
    val ev = events
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("event_type").isin(steps: _*))
      .select(col("user_id"), col("event_type"),
        graft.Tables.epochUs(col("ts")).as("ts_us"))
    var acc = ev.withColumn("t1",
      min(when(col("event_type") === steps.head, col("ts_us"))).over(w))
    (2 to steps.length).foreach { k =>
      acc = acc.withColumn(s"t$k",
        min(when(col("event_type") === steps(k - 1) &&
          col("ts_us") > col(s"t${k - 1}") &&
          col("ts_us") <= col("t1") + windowUs, col("ts_us"))).over(w))
    }
    // collapse to one row per user (all rows carry identical t1..tL);
    // the aggregate reuses the window exchange's partitioning
    val perUser = acc
      .groupBy(col("user_id"))
      .agg(max(col("t1")).as("t1"),
        (2 to steps.length).map(k => max(col(s"t$k")).as(s"t$k")): _*)
      .filter(col("t1").isNotNull) // funnel entry requires step 1
    // foldRight over (L..2): builds when(tL)… outermost so the
    // DEEPEST satisfied step wins (tk non-null implies t_{k-1} is)
    val depth = (steps.length to 2 by -1).foldRight(lit(1): Column) {
      case (k, els) => when(col(s"t$k").isNotNull, lit(k)).otherwise(els)
    }
    val names = steps.zipWithIndex.foldLeft(lit(steps.head)) {
      case (els, (s, i)) => when(col("step_reached") === i + 1, lit(s))
        .otherwise(els)
    }
    perUser
      .withColumn("step_reached", depth.cast("long"))
      .groupBy(col("step_reached"))
      .agg(count(lit(1)).as("n_users"))
      .withColumn("step_name", names)
      .select(col("step_reached"), col("step_name"), col("n_users"))
  }

  /** q30_retention — cohort retention matrix: users grouped by
    * first-active week, counted in each subsequent week they remain
    * active (the batch-cohort view of the reference's sample-over-
    * time progress table). Pure integer arithmetic — week ids are
    * floor-divided epochs, counts are exact — so the oracle is
    * hash-exact.
    *
    * Shape: distinct (user, week) → per-user min week (cohort) →
    * join back → count per (cohort, offset). The distinct and the
    * min-agg both key on user_id-led grouping; the final aggregate's
    * cardinality is #cohorts × #offsets (bounded by the time range,
    * not the data). No windows, no skew keys (user_id is high-
    * cardinality; week alone is never a shuffle key).
    */
  def retention(events: DataFrame,
      weekUs: Long = 7L * 24 * 3600 * 1000000L): DataFrame = {
    val weeks = events
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"),
        graft.Tables.epochUs(col("ts")).as("ts_us"))
      .select(col("user_id"), expr(s"ts_us DIV $weekUs").as("wk"))
      .distinct()
    val first = weeks.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort_wk"))
    weeks
      .join(first, Seq("user_id"))
      .groupBy(col("cohort_wk"),
        (col("wk") - col("cohort_wk")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** q31_outlier — per-user z-score anomaly detection over event
    * values, with the z²>9 test evaluated as an EXACT integer
    * cross-product so the flag is bit-identical in every engine:
    * |v − μ| > 3σ ⇔ (n·c − S)²·(n−1) > 9·n·(n·Q − S²) with c the
    * value in cents, S = Σc, Q = Σc² — no float mean, no float
    * variance, no sqrt, so there is no ulp anywhere a borderline
    * event could flip on (the same discipline as q13's integer-cents
    * averages, extended to second moments). Products run in
    * decimal(38) (the oracle uses 128-bit integers): at n events per
    * user and c ≤ 10^5 cents the terms reach n²·c² ≈ 10^28 at
    * n = 10^9 — inside decimal(38), far outside int64.
    *
    * Plan shape: one shuffle on user_id; the moments are unordered
    * partition-wide window aggregates over that exchange (no
    * groupBy+join back, no second exchange), then the flag is a
    * map-side filter. Skew-safe: user_id is high-cardinality, and
    * the window needs no sort (unbounded frame).
    */
  def outliers(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    val dec = "decimal(38,0)"
    val e = events
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .select(col("user_id"), col("event_id"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .withColumn("n", count(lit(1)).over(byUser))
      .withColumn("s", sum(col("cents")).over(byUser))
      // Q accumulates in decimal: each c² fits a long, but the SUM
      // passes 2^63 near 10^9 events per user — the one term whose
      // overflow the final decimal casts can't undo
      .withColumn("q",
        sum((col("cents") * col("cents")).cast(dec)).over(byUser))
    val d = (col("n") * col("cents") - col("s")).cast(dec)
    val lhs = d * d * (col("n") - 1).cast(dec)
    val rhs = lit(9L).cast(dec) * col("n").cast(dec) *
      (col("n").cast(dec) * col("q") -
        col("s").cast(dec) * col("s").cast(dec))
    e.filter(col("n") >= 2 && lhs > rhs)
      .select(col("user_id"), col("event_id"), col("cents"),
        col("n").as("n_user"))
  }

  /** q32_online_outlier — the ONLINE form of q31: each event is
    * tested against the moments of its user's PRIOR events only
    * (ordered by event time, ties broken by event_id — a total
    * order, so both engines accumulate identically), which is what
    * a live monitor can actually compute at arrival time; q31's
    * full-corpus test is the retrospective view. Same exact integer
    * cross-product as q31 — prefix counts/sums/sums-of-squares are
    * longs, the z²>9 comparison runs in decimal(38) — so the flag
    * has no float anywhere. `minPrior` suppresses flags until the
    * baseline has data (an online detector's warm-up rule),
    * deterministically on both engines.
    *
    * Plan: one user_id exchange; the three prefix moments share one
    * window sort; the flag is a map-side filter. st08 is this
    * operator as a stateful stream (the state is just (n, S, Q) per
    * user — three longs), spec- and oracle-pinned equal.
    */
  def onlineOutliers(events: DataFrame, minPrior: Long = 10L): DataFrame = {
    val pw = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val dec = "decimal(38,0)"
    val e = events
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("event_id"),
        graft.Tables.epochUs(col("ts")).as("ts_us"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .withColumn("n", count(lit(1)).over(pw))
      .withColumn("s", sum(col("cents")).over(pw))
      // decimal accumulation for Q — q31's overflow note
      .withColumn("q",
        sum((col("cents") * col("cents")).cast(dec)).over(pw))
    val d = (col("n") * col("cents") - col("s")).cast(dec)
    val lhs = d * d * (col("n") - 1).cast(dec)
    val rhs = lit(9L).cast(dec) * col("n").cast(dec) *
      (col("n").cast(dec) * col("q") -
        col("s").cast(dec) * col("s").cast(dec))
    e.filter(col("n") >= minPrior && lhs > rhs)
      .select(col("user_id"), col("event_id"), col("cents"),
        col("n").as("n_prior"))
  }

  /** q34_evenness — coverage uniformity, the picard-style QC metric
    * (CollectRnaSeqMetrics' uniformity numbers): how evenly do the
    * events spread across time bins? Emits the exact-integer Gini
    * NUMERATOR over per-bin counts — G = gini_num / (n·total), and
    * emitting the numerator avoids the division (q31's discipline) —
    * plus min/max/median bin counts. Gini via the sorted-prefix
    * identity Σ(2i−n−1)·x_(i): one rank window over the BIN table
    * (post-aggregation bounded cardinality, the q24 justification —
    * #bins = time-range/binSeconds, never event-count), every term a
    * long. The median interpolates two longs ((a+b)/2 is IEEE-exact),
    * identical in both engines.
    */
  def evenness(events: DataFrame, binSeconds: Long = 3600L): DataFrame = {
    val bins = events
      .select((floor(graft.Tables.epochUs(col("ts")) /
        (binSeconds * 1000000L))).cast("long").as("bin_id"))
      .groupBy(col("bin_id"))
      .agg(count(lit(1)).as("x"))
    val rankW = Window.orderBy(col("x"), col("bin_id"))
    val all = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    bins
      .withColumn("i", row_number().over(rankW).cast("long"))
      .withColumn("n", count(lit(1)).over(all))
      .agg(
        count(lit(1)).as("n_bins"),
        sum(col("x")).as("total_events"),
        sum((lit(2L) * col("i") - col("n") - 1L) * col("x"))
          .as("gini_num"),
        min(col("x")).as("min_bin"),
        max(col("x")).as("max_bin"),
        median(col("x")).cast("double").as("median_bin"))
  }

  /** q33_dist_drift — distribution drift between two corpus slices
    * (did the new crawl/source shift the length distribution?), the
    * monitoring check every continuously-ingested corpus runs. Bins
    * `n_chars` and emits, per bin, both slices' counts plus the
    * EXACT cross-multiplied L1 term |c_a·N_b − c_b·N_a| — comparing
    * proportions without a float division (q31's discipline: the
    * drift statistic Σ|c_a/N_a − c_b/N_b| equals Σ drift_num divided
    * by N_a·N_b, and emitting the numerator keeps every engine
    * bit-identical; |c·N| ≤ N_a·N_b stays inside int64 for slices up
    * to ~3·10^9 docs each, and ANSI arithmetic makes any excursion a
    * loud error, not silent corruption — widen to decimal output when
    * slices pass that). Plan: ONE scan → map-side conditional
    * counts → hash agg on bin (cardinality = #bins, bounded by
    * maxChars/binWidth); the slice totals ride an unbounded window
    * over those #bins rows — the q24 bounded-cardinality window
    * shape, never a second scan.
    */
  def distDrift(documents: DataFrame, langA: String = "en",
      langB: String = "de", binWidth: Long = 64L): DataFrame = {
    val binned = documents
      .filter(col("lang").isin(langA, langB) && col("n_chars").isNotNull)
      .select(expr(s"n_chars DIV $binWidth").as("bin_id"),
        when(col("lang") === langA, 1L).otherwise(0L).as("ia"),
        when(col("lang") === langB, 1L).otherwise(0L).as("ib"))
      .groupBy(col("bin_id"))
      .agg(sum(col("ia")).as("n_a"), sum(col("ib")).as("n_b"))
    val all = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    binned
      .withColumn("tot_a", sum(col("n_a")).over(all))
      .withColumn("tot_b", sum(col("n_b")).over(all))
      .withColumn("drift_num",
        abs(col("n_a") * col("tot_b") - col("n_b") * col("tot_a")))
      .select(col("bin_id"), col("n_a"), col("n_b"), col("drift_num"))
  }

  /** q16_sessionize — gap-based session assembly over the event
    * stream (the reference's read→fragment grouping, generalized).
    * Gaps-and-islands: lag per user, flag gaps > gapSeconds,
    * running sum of flags = session index. Partitioned by user_id
    * (high cardinality → no skew), everything else map-side.
    */
  def sessionize(events: DataFrame, gapSeconds: Long = 1800L): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapUs = gapSeconds * 1000000L
    events
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        graft.Tables.epochUs(col("ts")).as("ts_us"))
      .withColumn("new_session",
        when(col("ts_us") - lag(col("ts_us"), 1).over(byUser) > gapUs, 1)
          .otherwise(when(lag(col("ts_us"), 1).over(byUser).isNull, 1)
            .otherwise(0)))
      .withColumn("session_idx", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"),
        round(sum(col("value")), 4).as("sum_value"))

  }

  /** q17_running_window — cumulative aggregate per key over an
    * ordered axis (cumulative coverage along the coordinate).
    * Frame order is made total with the unique key so Spark and the
    * oracle accumulate in the same order.
    */
  def runningWindow(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, 0)
    orders.select(
      col("o_custkey"), col("o_orderkey"),
      graft.Tables.epochUs(col("o_orderdate")).as("order_us"),
      round(sum(col("o_totalprice")).over(w), 4).as("running_total"))
  }

  /** q18_rollup — hierarchical subtotal aggregation (per-sample →
    * global metrics rollup). Dims broadcast; ROLLUP grouping sets in
    * one shuffle. Subtotal NULLs are coalesced to 'ALL' so the result
    * is null-free on both engines.
    */
  def rollupRegions(customer: DataFrame, nation: DataFrame,
      region: DataFrame): DataFrame =
    customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        // exact integer cents (see q01) — associative, SF-stable
        (sum(round(col("c_acctbal") * 100, 0).cast("long")) / 100.0)
          .as("sum_acctbal"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region_name"),
        coalesce(col("n_name"), lit("ALL")).as("nation_name"),
        col("n_customers"), col("sum_acctbal"))

  /** q44_exact_quantiles — EXACT per-group order statistics (p50 /
    * p90 / p99 of event value per event_type), the report-grade
    * complement of q20's GK sketch: an SLO or billing percentile
    * that lands in a contract wants the exact discrete quantile
    * (value at rank ceil(p·n) in sorted order), not an
    * ε-approximation. q34 computes an exact median of bounded BIN
    * counts; this is the general case over raw, unbounded-cardinality
    * values.
    *
    * Scale shape: the naive window (`row_number() OVER (PARTITION BY
    * type ORDER BY v)`) funnels each type's entire value set through
    * one sort task — the p07/t17 skew case. The rank is therefore
    * HIERARCHICAL (t17's enumeration, value-range flavored): per-type
    * min/max bounds (an algebraic agg, metadata rows, broadcast) cut
    * the value range into `rangeBuckets` monotone slices, a spillable
    * row_number runs within (type, slice), and per-(type, slice)
    * prefix-sum offsets lift local positions to exact global ranks.
    * Rank ties among equal values order arbitrarily, but the EMITTED
    * value at any target rank is tie-invariant, so the result is
    * deterministic on both engines. Integer-cents domain end to end;
    * target ranks ceil(p·n) as pure long arithmetic ((a+b-1) div b).
    * Two pruned scans of events (bounds pass + rank pass; the
    * offsets aggregate and the rank window share the rank pass's
    * scan and (type, slice) exchange via ReuseExchange,
    * spec-asserted) — the bounds pass reads 2 columns and collapses
    * map-side.
    */
  def exactQuantiles(events: DataFrame,
      rangeBuckets: Int = 64): DataFrame = {
    val e = events
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(col("event_type"),
        round(col("value") * 100, 0).cast("long").as("v"))
    // both metadata joins are NULL-SAFE (<=>): a NULL event_type is
    // a legitimate group (GROUP BY and PARTITION BY keep it) that a
    // plain equi-join key would silently drop
    val bounds = e.groupBy(col("event_type"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .withColumnRenamed("event_type", "b_type")
    val sliced = e.join(broadcast(bounds),
        col("event_type") <=> col("b_type"))
      .drop("b_type")
      .withColumn("slice",
        floor((col("v") - col("lo")).cast("double") * rangeBuckets /
          (col("hi") - col("lo") + 1).cast("double")).cast("long"))
      // one explicit exchange on (type, slice) BELOW the fork: the
      // rank window requires exactly this clustering anyway, and
      // hoisting it lets ReuseExchange feed the offsets aggregate
      // and the rank pass from ONE scan+shuffle (d16's discipline)
      .repartition(col("event_type"), col("slice"))
    val localW = Window.partitionBy(col("event_type"), col("slice"))
      .orderBy(col("v"))
    // both window specs ride the one explicit exchange; the rn==1
    // slice below makes the offsets branch's input IDENTICAL to the
    // rank branch's (same columns, same exchange), so ReuseExchange
    // ships the postings once — a groupBy branch would prune v and
    // fork a second scan
    val ranked = sliced
      .withColumn("rn", row_number().over(localW))
      .withColumn("c", count(lit(1)).over(
        Window.partitionBy(col("event_type"), col("slice"))))
    // one row per (type, slice): metadata cardinality for the
    // prefix-sum windows and the broadcast back
    val offW = Window.partitionBy(col("o_type")).orderBy(col("o_slice"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = ranked.filter(col("rn") === 1)
      .select(col("event_type").as("o_type"), col("slice").as("o_slice"),
        col("c"))
      .withColumn("off", sum(col("c")).over(offW) - col("c"))
      .withColumn("cnt", sum(col("c")).over(
        Window.partitionBy(col("o_type"))))
      .drop("c")
    def target(num: Int, den: Int): Column = // rank ceil(num·n/den)
      // integral `div`, NOT double division: cnt·num+den−1 must stay
      // exact past 2^53 for the ceil to hold at any cardinality
      expr(s"(cnt * $num + ${den - 1}) div $den")
    ranked
      // slice is never NULL, but <=> keeps the optimizer from
      // inferring an isnotnull filter into ONLY this branch of the
      // shared subtree, which would break its ReuseExchange identity
      // with the offsets branch
      .join(broadcast(offsets),
        col("event_type") <=> col("o_type") &&
          col("slice") <=> col("o_slice"))
      .withColumn("rnk", col("off") + col("rn"))
      .filter(col("rnk") === target(1, 2) ||
        col("rnk") === target(9, 10) || col("rnk") === target(99, 100))
      .groupBy(col("event_type"))
      .agg(max(col("cnt")).as("n_events"),
        max(when(col("rnk") === target(1, 2), col("v"))).as("p50_cents"),
        max(when(col("rnk") === target(9, 10), col("v"))).as("p90_cents"),
        max(when(col("rnk") === target(99, 100), col("v")))
          .as("p99_cents"))
      .select(col("event_type"), col("n_events"), col("p50_cents"),
        col("p90_cents"), col("p99_cents"))
  }
}
