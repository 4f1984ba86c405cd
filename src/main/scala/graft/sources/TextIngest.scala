package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Text-format ingest for LLM-corpus dumps — the real-world landing
  * format is JSON-lines (or CSV), not parquet, and real dumps carry
  * malformed lines that must be COUNTED, never silently dropped and
  * never allowed to kill the job.
  *
  * Implementation: read raw lines (`spark.read.text`) and parse with
  * `from_json` / `from_csv` as a plain projection. A line that fails
  * to parse yields a NULL struct, so the raw line lands in
  * `_corrupt_record` — the same contract as DataFrameReader's
  * PERMISSIVE mode, but expressed as ordinary columns, so corrupt
  * rows can be filtered/counted freely (Spark 4 refuses queries that
  * touch only its INTERNAL corrupt column) and the parse stays inside
  * whole-stage codegen.
  *
  * Scale posture: line-oriented text is splittable when uncompressed
  * (per-file parallel when gzipped), so the read parallelizes by
  * `spark.sql.files.maxPartitionBytes` exactly like parquet. The
  * schema is always supplied explicitly — schema INFERENCE would scan
  * the full 100 TB input once before the real read.
  */
object TextIngest {

  val CorruptCol = "_corrupt_record"

  private def parseOpts = Map(
    "mode" -> "PERMISSIVE",
    "columnNameOfCorruptRecord" -> CorruptCol)

  /** Post-parse projection: the parser writes malformed input into
    * the struct's own corrupt field (PERMISSIVE); the
    * `when(r.isNull, value)` fallback also catches parser variants
    * that null the whole struct instead.
    */
  private def parsed(lines: DataFrame, parse: org.apache.spark.sql.Column,
      schema: StructType): DataFrame =
    lines
      .select(parse.as("r"), col("value"))
      .select(schema.fieldNames.map(f => col(s"r.$f")) :+
        coalesce(col(s"r.$CorruptCol"),
          when(col("r").isNull, col("value"))).as(CorruptCol): _*)

  private def withCapture(schema: StructType): StructType =
    schema.add(CorruptCol, "string")

  /** Schema'd JSONL read; unparseable lines carried in
    * `_corrupt_record`, parsed rows have it null.
    */
  def readJsonl(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    parsed(spark.read.text(path),
      from_json(col("value"), withCapture(schema), parseOpts), schema)

  /** Schema'd CSV read; `header=true` drops exactly ONE header line
    * per file. Unparseable lines carried in `_corrupt_record`.
    *
    * The "never silently dropped" contract holds even when a DATA row
    * happens to equal the rendered header: header-equal lines are
    * identical strings, so removing any single one per file yields
    * the same multiset as removing the real header — the per-file
    * min-id anti-join below therefore drops one copy exactly, not
    * every lookalike. The anti-join side holds one row per FILE
    * (broadcast, metadata-sized); the price is a second pass over the
    * raw lines to find them, which a header-less production ingest
    * (header=false) never pays.
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame = {
    val headerLine = schema.fieldNames.mkString(",")
    val lines =
      if (!header) spark.read.text(path)
      else {
        val tagged = spark.read.text(path).select(col("value"),
          input_file_name().as("_file"),
          monotonically_increasing_id().as("_mid"))
        val headers = tagged.filter(col("value") === headerLine)
          .groupBy(col("_file")).agg(min(col("_mid")).as("_mid"))
        tagged.join(broadcast(headers), Seq("_file", "_mid"), "left_anti")
          .select(col("value"))
      }
    parsed(lines,
      from_csv(col("value"), withCapture(schema), parseOpts), schema)
  }

  /** WARC-lite reader — the Common Crawl shape: a dump is a stream of
    * records, each `WARC/1.0` + header lines + blank line + payload.
    * `lineSep` splits the files INTO records at the version marker
    * (so a "row" is a whole record, not a line — still splittable and
    * parallel per `maxPartitionBytes`), then header fields and the
    * payload come out of ordinary string expressions: no custom
    * InputFormat, no RDDs, whole-stage codegen throughout.
    *
    * Extracted columns: `warc_type`, `target_uri`, `payload` (text
    * after the first blank line, the record's content block),
    * `content_length` (the declared header value, null if absent),
    * `truncated` (payload carries FEWER bytes than declared).
    * Records missing a WARC-Type header surface with a null
    * `warc_type` — callers filter like any other quality gate.
    *
    * CONTRACT for marker-bearing payloads: splitting on the version
    * marker means a payload that itself contains `WARC/1.0` is cut
    * there — real WARC readers avoid this by trusting Content-Length
    * instead, which a splittable line-oriented reader cannot (a
    * split boundary can land mid-record, so byte-offset parsing
    * would need a non-splittable custom InputFormat). The failure is
    * NEVER silent: the head fragment keeps its headers but now has
    * fewer payload bytes than its declared Content-Length —
    * `truncated = true` — and the tail fragment has no header block,
    * so it surfaces with a null `warc_type`. Both are countable
    * quality-gate columns, same contract as `_corrupt_record` above.
    * The comparison is `<` (not `≠`) because a well-formed payload
    * legitimately carries the record's trailing blank-line separator
    * bytes on top of its Content-Length.
    */
  def readWarcLite(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("lineSep", "WARC/1.0")
      .text(path)
      .filter(length(trim(col("value"))) > 0) // preamble before marker
      .select(
        regexp_extract(col("value"), "(?m)^WARC-Type:\\s*(\\S+)", 1)
          .as("rawtype"),
        regexp_extract(col("value"), "(?m)^WARC-Target-URI:\\s*(\\S+)", 1)
          .as("target_uri"),
        regexp_extract(col("value"), "(?m)^Content-Length:\\s*(\\d+)", 1)
          .as("rawlen"),
        // payload = everything after the first blank line
        regexp_replace(col("value"), "(?s)\\A.*?\\r?\\n\\r?\\n", "")
          .as("payload"))
      .withColumn("warc_type",
        when(col("rawtype") === "", lit(null: String))
          .otherwise(col("rawtype")))
      .withColumn("content_length",
        when(col("rawlen") === "", lit(null: String))
          .otherwise(col("rawlen")).cast("long"))
      .withColumn("truncated",
        when(col("content_length").isNull, lit(false))
          .otherwise(octet_length(col("payload")) < col("content_length")))
      .select(col("warc_type"), col("target_uri"), col("payload"),
        col("content_length"), col("truncated"))

  /** FASTQ reader — the reference pipeline's PRIMARY input format
    * (every sample enters as fastq, /root/reference/mainScript.py:
    * 67-75; fastqc/trim/align all consume it). A FASTQ record is
    * FOUR lines: `@id`, sequence, `+`, quality — and the quality
    * line may START with '@' (phred+33 covers it), so separator
    * splitting on '@' mis-parses real data. This reader groups lines
    * POSITIONALLY: per-file line numbers (window over the scan
    * order), record = `_ln DIV 4`, and the three body lines attach
    * to their header via `lead` over the same window — one shuffle
    * on the file key, no second grouping exchange.
    *
    * Ordering contract: line numbers are per-file scan order, exact
    * when a file occupies one partition — true for gzip FASTQ (the
    * production norm; gzip is unsplittable) and any file under
    * `maxPartitionBytes`. A SPLIT plain-text file interleaves
    * partitions and would mis-group — production ingest of huge
    * uncompressed FASTQ needs a record-aware InputFormat, same
    * caveat documented for WARC above.
    *
    * Malformed records are never silent: `well_formed` = header
    * starts '@', separator starts '+', |sequence| = |quality|.
    */
  def readFastq(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("_file")).orderBy(col("_mid"))
    spark.read.text(path)
      .select(col("value"), input_file_name().as("_file"),
        monotonically_increasing_id().as("_mid"))
      .withColumn("_ln", row_number().over(w) - 1)
      .withColumn("_seq", lead(col("value"), 1).over(w))
      .withColumn("_plus", lead(col("value"), 2).over(w))
      .withColumn("_qual", lead(col("value"), 3).over(w))
      .filter(pmod(col("_ln"), lit(4)) === 0)
      .select(
        regexp_replace(col("value"), "^@", "").as("read_id"),
        col("_seq").as("sequence"),
        col("_qual").as("quality"),
        length(col("_seq")).cast("long").as("read_len"),
        (col("value").startsWith("@") && col("_plus").startsWith("+") &&
          (length(col("_seq")) <=> length(col("_qual"))))
          .as("well_formed"))
  }

  /** k04_fastq_ingest — stage a deterministic FASTQ derived from the
    * documents table (read r<doc_id>: length n_chars%80+20, base at
    * offset p = "ACGT"[(doc_id+p)%4], quality char 33+(doc_id+p)%40 —
    * which yields '@'-LEADING quality lines for doc_id+0 ≡ 31 mod
    * 40, exactly the case separator-split readers break on), read it
    * back with `readFastq`, and emit per-read stats. The oracle
    * recomputes read_len / GC count / quality sum from the SAME
    * closed-form arithmetic on the documents table — the round trip
    * through 4-line text and back is what's being checked.
    */
  def fastqSummary(documents: DataFrame,
      cacheKey: String = ""): DataFrame = {
    val spark = documents.sparkSession
    val dir = graft.Staging.memo("k04", cacheKey) {
      val dir = graft.Staging.dir("graft_fastq_")
      documents
        // a FASTQ read NEEDS its id — a keyless (NULL doc_id) row has
        // no derivable read name and is dropped at staging, mirroring
        // the oracle's doc_id IS NOT NULL (a NULL would otherwise
        // concat the whole record to NULL and corrupt the 4-line
        // framing of its neighbors)
        .filter(col("doc_id").isNotNull)
        .select(col("doc_id"), col("n_chars"),
          (pmod(col("n_chars"), lit(80L)) + 20L).as("len"))
        .select(col("doc_id"),
          concat(
            lit("@r"), col("doc_id"), lit("\n"),
            expr("concat_ws('', transform(sequence(0, len - 1), " +
              "p -> substring('ACGT', CAST((doc_id + p) % 4 AS INT) + 1, 1)))"),
            lit("\n+\n"),
            expr("concat_ws('', transform(sequence(0, len - 1), " +
              "p -> char(33 + (doc_id + p) % 40)))"))
            .as("value"))
        .orderBy(col("doc_id"))
        .coalesce(1)
        .select(col("value"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).text(dir)
      dir
    }
    readFastq(spark, dir)
      .select(
        // nullif: an unparseable read name must surface as NULL, not
        // abort the scan with an ANSI cast error on ''
        nullif(regexp_extract(col("read_id"), "^r(\\d+)$", 1), lit(""))
          .cast("long").as("read_id"),
        col("read_len"),
        length(regexp_replace(col("sequence"), "[^CG]", ""))
          .cast("long").as("gc_count"),
        expr("aggregate(sequence(1, CAST(length(quality) AS INT)), 0L, " +
          "(a, i) -> a + ascii(substring(quality, i, 1)))")
          .as("qual_sum"))
  }

  /** (clean rows without the capture column, corrupt raw lines). */
  def split(ingested: DataFrame): (DataFrame, DataFrame) = (
    ingested.filter(col(CorruptCol).isNull).drop(CorruptCol),
    ingested.filter(col(CorruptCol).isNotNull).select(col(CorruptCol)))

  /** One-row ingest-quality summary: clean vs corrupt line counts. */
  def ingestSummary(ingested: DataFrame): DataFrame =
    ingested.agg(
      count(when(col(CorruptCol).isNull, 1)).as("n_clean"),
      count(col(CorruptCol)).as("n_corrupt"))
}
