package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Config-driven operator parameterization — the reference's entire
  * entry point is a parsed job form (parserTools.py:13-92
  * parseForm/extractLines/unpack; pipelineParser.py:22), and its
  * thresholds are caller-settable per run (macs2 q='0.01',
  * tools.py:555). Graft's operators expose the same dials as Scala
  * default arguments; this layer makes them DATA: a job spec is a
  * JSONL file of {"op": ..., "params": {...}} rows read through the
  * Spark JSON source, and `run` dispatches each row to its operator
  * with the spec's dials overriding the compiled defaults — so
  * re-running an analysis at a different threshold is an edit to a
  * text file, not a recompile.
  *
  * Params are a MAP<STRING,STRING> (every value written as a string,
  * like the reference's form fields) and are coerced at the dispatch
  * site, so one schema serves every operator and an unknown dial is
  * a loud error, never a silent default. The spec file is
  * human-authored and job-cardinality (rows = jobs, not data), so
  * the collect is bounded by construction.
  */
object JobSpec {

  final case class Job(op: String, params: Map[String, String]) {
    private def get[T](key: String, default: T)(parse: String => T): T =
      params.get(key).map(parse).getOrElse(default)
    def str(key: String, default: String): String = get(key, default)(identity)
    def int(key: String, default: Int): Int = get(key, default)(_.toInt)
    def long(key: String, default: Long): Long = get(key, default)(_.toLong)
    def double(key: String, default: Double): Double =
      get(key, default)(_.toDouble)
    def bool(key: String, default: Boolean): Boolean =
      get(key, default)(_.toBoolean)
  }

  /** Parse a JSONL job spec. Columns beyond (op, params) are ignored;
    * a row without `op` is rejected.
    */
  def load(spark: SparkSession, path: String): Seq[Job] = {
    val rows = spark.read
      .schema("op STRING, params MAP<STRING, STRING>")
      .json(path)
      .collect()
    rows.toSeq.map { r =>
      require(!r.isNullAt(0), s"job spec row without an `op`: $r")
      val p =
        if (r.isNullAt(1)) Map.empty[String, String]
        else r.getMap[String, String](1).toMap
      Job(r.getString(0), p)
    }
  }

  /** Dial-reachable operators: op key -> (session, sfDir, job) =>
    * result. Defaults here MIRROR the operator signatures' default
    * arguments — the no-params job must equal the registered query.
    * Unknown params fail loudly (see `checked`).
    */
  private val dispatch: Map[String,
      (SparkSession, String, Job) => DataFrame] = Map(
    "q12_peak_detect" -> ((s, d, j) =>
      checked(j, "binSeconds")(operators.Pipeline.peakDetect(
        Tables.events(s, d),
        binSeconds = j.long("binSeconds", 3600L)))),
    // perType=false is the legacy whole-store caller (one __all__
    // group — the single-partition window cost becomes the dial's
    // explicit choice)
    "q21_peak_local" -> ((s, d, j) =>
      checked(j, "binSeconds", "k", "z", "perType")(
        operators.Pipeline.peakDetectLocal(
          Tables.events(s, d),
          binSeconds = j.long("binSeconds", 3600L),
          k = j.int("k", 12), z = j.double("z", 2.0),
          perType = j.bool("perType", true)))),
    // the macs2-q analog: the FDR ceiling is the headline dial
    "q24_peak_fdr" -> ((s, d, j) =>
      checked(j, "binSeconds", "k", "qMax", "perType")(
        operators.Pipeline.peakFdr(
          Tables.events(s, d),
          binSeconds = j.long("binSeconds", 3600L),
          k = j.int("k", 12), qMax = j.double("qMax", 0.01),
          perType = j.bool("perType", true)))),
    "q06_range_filter" -> ((s, d, j) =>
      checked(j, "lo", "hi")(operators.Relational.rangeFilter(
        Tables.lineitem(s, d),
        lo = j.double("lo", 10d), hi = j.double("hi", 40d)))),
    "q43_heavy_hitters" -> ((s, d, j) =>
      checked(j, "shareDenom", "k")(operators.TextAnalysis.heavyHitterTokens(
        Tables.documents(s, d),
        shareDenom = j.int("shareDenom",
          operators.TextAnalysis.HeavyShareDenom),
        k = j.int("k", operators.TextAnalysis.HeavyK)))),
    "d02_dedup_minhash" -> ((s, d, j) =>
      checked(j, "n", "numHashes", "bands", "tau", "maxBucket")(
        operators.Dedup.dedupMinhash(Tables.documents(s, d),
          n = j.int("n", 3), numHashes = j.int("numHashes", 64),
          bands = j.int("bands", 16), tau = j.double("tau", 0.6),
          maxBucket = j.int("maxBucket", 256)))),
    "d04_ngram_jaccard" -> ((s, d, j) =>
      checked(j, "n", "tau", "maxDf")(operators.Dedup.ngramJaccard(
        Tables.documents(s, d),
        n = j.int("n", 3), tau = j.double("tau", 0.6),
        maxDf = j.int("maxDf", 128)))),
    "p09_quality_sample" -> ((s, d, j) =>
      checked(j, "basePermille", "stepPermille", "salt")(
        operators.Corpus.qualitySample(Tables.documents(s, d),
          basePermille = j.int("basePermille", 100),
          stepPermille = j.int("stepPermille", 100),
          salt = j.long("salt", 577L)))),
    "s01_ann_bruteforce" -> ((s, d, j) =>
      checked(j, "k", "queryStride", "maxQueries")(
        operators.Similarity.annBruteForce(
          Tables.embeddings(s, d),
          k = j.int("k", 5), queryStride = j.int("queryStride", 50),
          maxQueries = j.int("maxQueries",
            operators.Similarity.AnnMaxQueries)))),
    // ANN recall/cost dials — the round-13 dial sweep's axes
    // (curves in the Similarity scaladoc) made caller-settable: a
    // deployment picks its own knee. cacheKey is dial-scoped (see
    // dialKey) so a re-run at new dials never reuses another config's
    // memoized centroids/codebooks.
    "s02_ann_ivf" -> ((s, d, j) =>
      checked(j, "k", "queryStride", "nprobe", "kClusters", "lloydIters",
        "maxQueries")(
        operators.Similarity.annIvf(Tables.embeddings(s, d),
          k = j.int("k", 5), queryStride = j.int("queryStride", 50),
          nprobe = j.int("nprobe", 3), kClusters = j.int("kClusters", 10),
          lloydIters = j.int("lloydIters", 3), cacheKey = dialKey(d, j),
          maxQueries = j.int("maxQueries",
            operators.Similarity.AnnMaxQueries)))),
    "s03_ann_lsh" -> ((s, d, j) =>
      checked(j, "k", "queryStride", "nBits", "tables", "maxQueries")(
        operators.Similarity.annLsh(Tables.embeddings(s, d),
          k = j.int("k", 5), queryStride = j.int("queryStride", 50),
          // nBits -1 = auto-size from a corpus count (r18 default)
          nBits = j.int("nBits", -1), tables = j.int("tables", 16),
          maxQueries = j.int("maxQueries",
            operators.Similarity.AnnMaxQueries)))),
    "s04_ann_pq" -> ((s, d, j) =>
      checked(j, "k", "queryStride", "subspaces", "subDim", "ks",
        "iters", "rerankDepth", "maxQueries")(
        operators.Similarity.annPq(Tables.embeddings(s, d),
          k = j.int("k", 5), queryStride = j.int("queryStride", 50),
          subspaces = j.int("subspaces", 8), subDim = j.int("subDim", 8),
          ks = j.int("ks", 16), iters = j.int("iters", 2),
          rerankDepth = j.int("rerankDepth", 64), cacheKey = dialKey(d, j),
          maxQueries = j.int("maxQueries",
            operators.Similarity.AnnMaxQueries)))),
    // d08: kClusters <= 0 (default) auto-sizes the learned block
    // count from a corpus count (VERDICT r17 #2) — the fixed dial
    // stays reachable by passing kClusters explicitly.
    "d08_dedup_embedding_auto" -> ((s, d, j) =>
      checked(j, "tau", "kClusters", "iters", "blockTarget",
        "aStride", "aMax")(
        operators.Dedup.dedupEmbeddingAuto(Tables.embeddings(s, d),
          tau = j.double("tau", 0.4), kClusters = j.int("kClusters", 0),
          iters = j.int("iters", 3), cacheKey = dialKey(d, j),
          blockTarget = j.int("blockTarget",
            operators.Dedup.D08BlockTarget),
          aStride = j.int("aStride", 1),
          aMax = j.int("aMax", operators.Similarity.AnnMaxQueries)))),
    "s05_ann_ivfpq" -> ((s, d, j) =>
      checked(j, "k", "queryStride", "nprobe", "kClusters", "lloydIters",
        "subspaces", "subDim", "ks", "pqIters", "rerankDepth",
        "maxQueries")(
        operators.Similarity.annIvfPq(Tables.embeddings(s, d),
          k = j.int("k", 5), queryStride = j.int("queryStride", 50),
          nprobe = j.int("nprobe", 5), kClusters = j.int("kClusters", 10),
          lloydIters = j.int("lloydIters", 3),
          subspaces = j.int("subspaces", 8), subDim = j.int("subDim", 8),
          ks = j.int("ks", 16), pqIters = j.int("pqIters", 2),
          rerankDepth = j.int("rerankDepth", 64), cacheKey = dialKey(d, j),
          maxQueries = j.int("maxQueries",
            operators.Similarity.AnnMaxQueries)))),
    "d17_edit_distance_join" -> ((s, d, j) =>
      checked(j, "maxDist")(operators.Dedup.editDistanceJoin(
        Tables.documents(s, d), maxDist = j.int("maxDist", 8)))),
    "d18_edit_distance_blocked" -> ((s, d, j) =>
      checked(j, "maxDist", "n", "numHashes", "bands", "maxBucket")(
        operators.Dedup.editDistanceJoinBlocked(Tables.documents(s, d),
          maxDist = j.int("maxDist", 8), n = j.int("n", 3),
          numHashes = j.int("numHashes", 64), bands = j.int("bands", 16),
          maxBucket = j.int("maxBucket", 256)))),
    "st26_join_state_census" -> ((s, d, j) =>
      checked(j, "horizonHours", "delay", "clickType", "purchaseType",
        "statePartitions")(
        graft.streaming.StreamOps.joinStateCensus(s, d,
          horizonHours = j.long("horizonHours", 24L),
          delay = j.str("delay", "1 hour"),
          clickType = j.str("clickType", "click"),
          purchaseType = j.str("purchaseType", "purchase"),
          statePartitions = j.int("statePartitions", 8)))),
    "st27_stream_ann_ingest" -> ((s, d, j) =>
      checked(j, "slices")(
        graft.streaming.StreamOps.streamAnnIngest(s, d,
          slices = j.int("slices", 4)))),
    "t19_quality_rules" -> ((s, d, j) =>
      checked(j, "minWords", "maxWords", "minMeanWordLen",
        "maxMeanWordLen", "minAlphaWordRatio", "maxSymbolRatio",
        "maxBulletRatio", "minStopHits")(
        operators.TextAnalysis.qualityRules(Tables.documents(s, d),
          minWords = j.int("minWords", 20),
          maxWords = j.int("maxWords", 80),
          minMeanWordLen = j.double("minMeanWordLen", 2.0),
          maxMeanWordLen = j.double("maxMeanWordLen", 12.0),
          minAlphaWordRatio = j.double("minAlphaWordRatio", 0.6),
          maxSymbolRatio = j.double("maxSymbolRatio", 0.1),
          maxBulletRatio = j.double("maxBulletRatio", 0.5),
          minStopHits = j.int("minStopHits", 1)))),
    "s07_range_search" -> ((s, d, j) =>
      checked(j, "tau", "queryStride", "kClusters", "lloydIters",
        "maxQueries")(
        operators.Similarity.rangeSearch(Tables.embeddings(s, d),
          tau = j.double("tau", 0.3), queryStride = j.int("queryStride", 50),
          kClusters = j.int("kClusters", 10),
          lloydIters = j.int("lloydIters", 3), cacheKey = dialKey(d, j),
          maxQueries = j.int("maxQueries",
            operators.Similarity.AnnMaxQueries)))),
    "d03_dedup_simhash" -> ((s, d, j) =>
      checked(j, "maxHamming", "chunks")(operators.Dedup.dedupSimhash(
        Tables.documents(s, d),
        maxHamming = j.int("maxHamming", 3), chunks = j.int("chunks", 4)))),
    "m06_phash_dedup" -> ((s, d, j) =>
      checked(j, "maxHamming", "maxBucket")(operators.Multimodal.phashDedup(
        Tables.documents(s, d),
        maxHamming = j.int("maxHamming", 6),
        maxBucket = j.int("maxBucket", 256)))),
    "q10_bin_coverage" -> ((s, d, j) =>
      checked(j, "binSeconds")(operators.Pipeline.binCoverage(
        Tables.events(s, d), binSeconds = j.long("binSeconds", 3600L)))),
    "q15_topk" -> ((s, d, j) =>
      checked(j, "k")(operators.Pipeline.topk(
        Tables.orders(s, d), Tables.customer(s, d), k = j.int("k", 10)))),
    "q16_sessionize" -> ((s, d, j) =>
      checked(j, "gapSeconds")(operators.Pipeline.sessionize(
        Tables.events(s, d), gapSeconds = j.long("gapSeconds", 1800L)))),
    "q26_grouped_topk" -> ((s, d, j) =>
      checked(j, "k", "saltBuckets")(operators.Pipeline.groupedTopk(
        Tables.orders(s, d),
        k = j.int("k", 3), saltBuckets = j.int("saltBuckets", 32)))),
    "p02_stratified_sample" -> ((s, d, j) =>
      checked(j, "permille")(operators.Corpus.stratifiedSample(
        Tables.documents(s, d), permille = j.int("permille", 200)))),
    // per-source rates arrive as rate.<source> dials (the reference
    // form's repeated-field idiom); absent sources take defaultPermille
    "p04_mixture_sample" -> ((s, d, j) =>
      checkedPrefixed(j, Seq("rate."), "defaultPermille", "salt")(
        operators.Corpus.mixtureSample(Tables.documents(s, d),
          rates = {
            val fromSpec = j.params.collect {
              case (key, v) if key.startsWith("rate.") =>
                key.stripPrefix("rate.") -> v.toInt
            }
            if (fromSpec.isEmpty)
              Map("src0" -> 800, "src1" -> 500, "src2" -> 250)
            else fromSpec
          },
          defaultPermille = j.int("defaultPermille", 100),
          salt = j.long("salt", 137L)))),
    "p08_split" -> ((s, d, j) =>
      checked(j, "testPermille", "valPermille", "salt")(
        operators.Corpus.split(Tables.documents(s, d),
          testPermille = j.int("testPermille", 10),
          valPermille = j.int("valPermille", 50),
          salt = j.long("salt", 9176L)))),
    "p15_importance_sample" -> ((s, d, j) =>
      checked(j, "targetSource", "buckets", "topN")(
        operators.Corpus.importanceSample(Tables.documents(s, d),
          targetSource = j.str("targetSource",
            operators.Corpus.ImportanceTargetSource),
          buckets = j.int("buckets", operators.Corpus.ImportanceBuckets),
          topN = j.int("topN", operators.Corpus.ImportanceTopN)))),
    // bloom sizing: exactness is dial-independent (no false
    // negatives at any sizing + exact post-filter); the dials trade
    // index bytes against candidate-read fan-out. The STORE is
    // dial-independent and shares the corpus-keyed staging; each
    // sizing builds its own `_bloom_w{W}_h{H}` manifest beside it —
    // a sizing sweep rebuilds metadata, never re-lands the corpus.
    "k17_bloom_point_lookup" -> ((s, d, j) =>
      checked(j, "words", "hashes")(
        sources.FileBloomIndex.pointLookup(Tables.documents(s, d),
          cacheKey = d,
          words = j.int("words", sources.FileBloomIndex.Words),
          hashes = j.int("hashes", sources.FileBloomIndex.Hashes)))),
    // p16: shard count is the layout dial (a deployment sizes it to
    // target shard bytes); the salts pin which permutation — two
    // runs agree iff their salts do.
    "p16_shard_shuffle" -> ((s, d, j) =>
      checked(j, "shards", "saltShard", "saltOrder")(
        operators.Corpus.shardShuffle(Tables.documents(s, d),
          shards = j.int("shards", 8),
          saltShard = j.long("saltShard", 5711L),
          saltOrder = j.long("saltOrder", 8231L)))),
    // st18: the attribution horizon, the out-of-orderness allowance,
    // and the stateful operator's partition sizing — the three
    // numbers a deployment actually tunes.
    //
    // statePartitions SIZING RULE (r16 verdict #8; measured at sf10,
    // recorded in BASELINE.md: 8→18.6 s, 16→11.1 s, 32→20.2 s — the
    // crossover is real and cuts BOTH ways): the symmetric join
    // keeps FOUR state stores per shuffle partition and commits a
    // delta file per store per micro-batch, so the per-batch cost is
    //   max(state-commit floor ∝ statePartitions,
    //       join work / min(statePartitions, cores)).
    // Size it to the PER-BATCH core need, not the cluster:
    //   statePartitions ≈ clamp(batchRows / targetRowsPerTask,
    //                           cores it should occupy, ~2×cores)
    // — undersizing serializes join work, oversizing pays a commit
    // floor per idle store. The default 8 prices the sf0.1 harness
    // (2-file micro-batches); the sf10 harness measured its optimum
    // at 16. The same dial (and rule) applies to st19's outer join
    // and st23's timer sessionizer below.
    "st18_stream_join" -> ((s, d, j) =>
      checked(j, "horizonHours", "delay", "statePartitions")(
        streaming.StreamOps.streamStreamJoin(s, d,
          horizonHours = j.long("horizonHours", 24L),
          delay = j.str("delay", "1 hour"),
          statePartitions = j.int("statePartitions", 8)))),
    "st19_stream_outer_join" -> ((s, d, j) =>
      checked(j, "horizonHours", "delay", "statePartitions")(
        streaming.StreamOps.streamStreamOuterJoin(s, d,
          horizonHours = j.long("horizonHours", 24L),
          delay = j.str("delay", "1 hour"),
          statePartitions = j.int("statePartitions", 8)))),
    "st23_stream_session_timers" -> ((s, d, j) =>
      checked(j, "gapSeconds", "statePartitions")(
        streaming.StreamOps.streamSessionTimers(s, d,
          gapSeconds = j.long("gapSeconds", 1800L),
          statePartitions = j.int("statePartitions", 8)))),
    // k27: the table's invariants ARE the config — rules arrive as
    // rule.<name> = <boolean SQL> repeated fields (p04's idiom), the
    // tolerance as a permille dial. Dial-scoped cacheKey: two rule
    // sets are two landed artifacts.
    "k27_write_constraints" -> ((s, d, j) =>
      checkedPrefixed(j, Seq("rule."), "maxRejectPermille")({
        val rules = j.params.collect {
          case (k, v) if k.startsWith("rule.") =>
            sources.WriteConstraints.Rule(k.stripPrefix("rule."), v)
        }.toSeq
        sources.WriteConstraints.qualityReport(Tables.documents(s, d),
          maxRejectPermille = j.int("maxRejectPermille", 200),
          rules = if (rules.isEmpty) sources.WriteConstraints.DemoRules
            else rules.sortBy(_.name),
          cacheKey = dialKey(d, j))
      }))
  )

  /** Memo key for operators with a dial-dependent staged artifact
    * (IVF centroids, PQ codebooks): the registered queries memoize
    * per corpus dir, so a no-params job shares their entry
    * (bit-identical result, no recompute), while any explicit dial
    * gets its own key — two configs never cross-contaminate a cache.
    */
  private def dialKey(d: String, j: Job): String =
    if (j.params.isEmpty) d
    else d + "|" + j.params.toSeq.sorted.map { case (k, v) => s"$k=$v" }
      .mkString(",")

  /** Op keys whose dials are reachable from a job spec. */
  def configurable: Set[String] = dispatch.keySet

  /** A typo'd dial must not silently run the defaults. */
  private def checked(job: Job, known: String*)(df: => DataFrame): DataFrame =
    checkedPrefixed(job, Nil, known: _*)(df)

  /** `checked` plus accepted dial-name prefixes (repeated-field dials
    * like p04's rate.<source>).
    */
  private def checkedPrefixed(job: Job, prefixes: Seq[String],
      known: String*)(df: => DataFrame): DataFrame = {
    val unknown = (job.params.keySet -- known.toSet)
      .filterNot(k => prefixes.exists(k.startsWith))
    require(unknown.isEmpty,
      s"unknown dial(s) ${unknown.mkString(", ")} for ${job.op}; " +
        s"known: ${(known ++ prefixes.map(_ + "<name>")).mkString(", ")}")
    df
  }

  /** Run one job against the tables in `sfDir`. */
  def run(spark: SparkSession, sfDir: String, job: Job): DataFrame =
    dispatch.getOrElse(job.op,
      throw new IllegalArgumentException(
        s"op ${job.op} is not config-dispatchable; " +
          s"known: ${dispatch.keys.toSeq.sorted.mkString(", ")}")
    )(spark, sfDir, job)

  /** Load a spec file and run every job in order, returning
    * (op, result) pairs — the batch analog of the reference's
    * form-driven pipeline run.
    */
  def runAll(spark: SparkSession, sfDir: String,
      specPath: String): Seq[(String, DataFrame)] =
    load(spark, specPath).map(j => j.op -> run(spark, sfDir, j))
}
