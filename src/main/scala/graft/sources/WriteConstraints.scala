package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** k27_write_constraints — CHECK constraints enforced AT THE SINK,
  * with a quarantine: the Delta-constraints / DLT-expectations
  * data-quality gate. A 100 TB table's worst corruption is the quiet
  * kind — a feed that starts shipping empty texts or negative
  * lengths poisons every consumer downstream before anyone reads a
  * dashboard. The lakehouse answer is declarative invariants on the
  * WRITE path: every landing row is checked against the table's
  * rules; violating rows never enter the table, but they are never
  * silently dropped either — they land in `_rejected/` WITH the name
  * of the rule they broke (the evidence a feed owner debugs from),
  * and a violation rate above the commit's tolerance REFUSES the
  * commit loudly (a feed that is 40% garbage is an incident, not a
  * quarantine).
  *
  * Shape: rules are DATA (name → boolean SQL expression over the
  * row — JobSpec's philosophy applied to invariants), compiled once
  * into ONE projection: each rule becomes a flag column, the checked
  * scan is map-side, and the valid/rejected split reuses it — one
  * pass over the landing slice, no rule-count scans. The quarantine
  * carries one row per (violating row, violated rule) — a row
  * breaking two rules shows up under both, which is what the feed
  * owner needs to see.
  *
  * Reference analog: the reference's QC gate decides per-sample
  * PASS/FAIL from tool outputs (`tools.py:455-496`) — this is the
  * same decision made ROW-grain, declaratively, before the bytes
  * ever land.
  */
object WriteConstraints {

  /** A named CHECK constraint: SQL boolean over the landing row.
    * NULL-evaluation lands as VIOLATION (a rule that cannot say
    * "true" has not passed — ANSI three-valued logic must not smuggle
    * null rows past a gate).
    */
  final case class Rule(name: String, check: String)

  /** The demo table's rules: both arithmetic, so the oracle replays
    * them — and the corpus genuinely violates min_len (q02's
    * threshold), so the quarantine is exercised by the registered
    * artifact, not only by planted specs.
    */
  private[graft] val DemoRules = Seq(
    Rule("min_len", "n_chars >= 100"),
    Rule("id_known", "doc_id IS NOT NULL"))

  private def passes(r: Rule): Column =
    coalesce(expr(r.check), lit(false))

  /** Split a landing slice under the rules: (valid, quarantine).
    * One shared projection computes every rule flag; `valid` keeps
    * rows passing ALL rules, `quarantine` explodes each failing row
    * to one evidence row per violated rule.
    */
  private[graft] def split(rows: DataFrame,
      rules: Seq[Rule]): (DataFrame, DataFrame) = {
    require(rules.nonEmpty, "a constrained sink needs at least one rule")
    val flagged = rows.withColumn("_violated",
      filter(
        array(rules.map(r =>
          when(passes(r), lit(null: String)).otherwise(lit(r.name))): _*),
        c => c.isNotNull))
    val valid = flagged.filter(size(col("_violated")) === 0)
      .drop("_violated")
    val quarantine = flagged.filter(size(col("_violated")) > 0)
      .select(col("*"), explode(col("_violated")).as("rule"))
      .drop("_violated")
    (valid, quarantine)
  }

  /** Land the corpus through the constrained sink: valid rows become
    * the table, quarantined rows land under `_rejected/` with their
    * rule names. REFUSES the whole commit when the violation rate
    * exceeds `maxRejectPermille` — checked on the flagged projection
    * BEFORE any byte lands, so a refused commit leaves no partial
    * table (spec-pinned).
    */
  def land(documents: DataFrame, maxRejectPermille: Int = 200,
      rules: Seq[Rule] = DemoRules, cacheKey: String = ""): String =
    graft.Staging.memo("k27", cacheKey) {
      val root = graft.Staging.dir("graft_k27_") + "/table"
      val rows = documents
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val (valid, quarantine) = split(rows, rules)
      // the gate: one count on the shared projection, before landing
      val Array(total, bad) = rows.agg(count(lit(1)),
        count(when(!rules.map(passes).reduce(_ && _), 1)))
        .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
      require(bad * 1000L <= total * maxRejectPermille,
        s"commit REFUSED: $bad of $total rows violate constraints " +
          s"(> ${maxRejectPermille}‰) — this is a feed incident, " +
          "not a quarantine")
      valid.write.mode(SaveMode.Overwrite).parquet(s"$root/data")
      quarantine.write.mode(SaveMode.Overwrite)
        .parquet(s"$root/_rejected")
      root
    }

  /** One micro-batch through the same gate — k27's split compiled
    * from the SAME rules, landed under the batch's own `data/b<id>`
    * and `_rejected/b<id>` (idempotent overwrites — a replayed batch
    * rewrites its two dirs and the union over batches is exactly one
    * landing per batch). The tolerance gate refuses the BATCH, the
    * streaming failure unit.
    */
  private[graft] def landBatch(rows: DataFrame, root: String,
      batchId: Long, maxRejectPermille: Int = 200,
      rules: Seq[Rule] = DemoRules): Unit = {
    val (valid, quarantine) = split(rows, rules)
    val Array(total, bad) = rows.agg(count(lit(1)),
      count(when(!rules.map(passes).reduce(_ && _), 1)))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    require(bad * 1000L <= total * maxRejectPermille,
      s"batch $batchId REFUSED: $bad of $total rows violate " +
        s"constraints (> ${maxRejectPermille}‰)")
    valid.write.mode(SaveMode.Overwrite).parquet(s"$root/data/b$batchId")
    quarantine.write.mode(SaveMode.Overwrite)
      .parquet(s"$root/_rejected/b$batchId")
  }

  // recursiveFileLookup serves both layouts: k27's flat landing and
  // st21's per-batch b<id> subdirectories
  private[graft] def readTable(spark: SparkSession, root: String): DataFrame =
    spark.read
      .schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT")
      .option("recursiveFileLookup", "true")
      .parquet(s"$root/data")

  private[graft] def readQuarantine(spark: SparkSession,
      root: String): DataFrame =
    spark.read
      .schema("doc_id BIGINT, lang STRING, source STRING, " +
        "n_chars BIGINT, rule STRING")
      .option("recursiveFileLookup", "true")
      .parquet(s"$root/_rejected")

  /** Registered query: the data-quality REPORT a feed owner reads —
    * per-rule quarantine counts plus the admitted row count, straight
    * off the landed artifacts (metadata-light: the quarantine is
    * violation-cardinality, the table side is one count).
    */
  def qualityReport(documents: DataFrame, maxRejectPermille: Int = 200,
      rules: Seq[Rule] = DemoRules, cacheKey: String = ""): DataFrame = {
    val spark = documents.sparkSession
    val root = land(documents, maxRejectPermille, rules, cacheKey)
    reportFor(spark, root)
  }

  private[graft] def reportFor(spark: SparkSession,
      root: String): DataFrame =
    readQuarantine(spark, root)
      .groupBy(col("rule"))
      .agg(count(lit(1)).as("n_rows"))
      .unionByName(readTable(spark, root)
        .agg(count(lit(1)).as("n_rows"))
        .select(lit("__admitted__").as("rule"), col("n_rows"))
        // the oracle filters n_rows > 0 on both legs; an agg over an
        // empty table still returns one 0-row, so mirror the filter
        // here or a zero-admitted commit diverges by one row
        .filter(col("n_rows") > 0))
}
