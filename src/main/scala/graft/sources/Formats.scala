package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Columnar-format round trips beyond parquet — a real lake holds
  * more than one format, and an engine that claims to replace the
  * reference must read and write the other big columnar layout
  * (ORC) with the same partition-pruning behavior it gets from
  * parquet. The reference's durable tree is format-fixed
  * (/root/reference/tools.py:677-736 consolidates outputs into one
  * layout); this operator is the migration/interop surface.
  */
object Formats {

  /** Output tree for one roundtrip operator (`Staging.memo`, keyed
    * by the operator's prefix): an empty key is a fresh directory per
    * call, so two different inputs passed with the default key never
    * share (and overwrite) one tree.
    */
  private def treeFor(prefix: String, cacheKey: String): String =
    graft.Staging.memo(prefix, cacheKey)(graft.Staging.dir(prefix) + "/tree")

  /** k01's salted-writer discipline for every roundtrip write: a bare
    * `repartition(partitionCol)` funnels each partition VALUE through
    * ONE task — at 100 TB a 20 TB language would be serialized by a
    * single writer. The salt gives each value `writers` parallel
    * writer tasks while bounding the file count at writers × values.
    */
  private def saltedByLang(df: DataFrame, writers: Int): DataFrame =
    df.repartition(col("lang"),
      pmod(xxhash64(col("doc_id")), lit(writers)))

  /** k05_orc_roundtrip — write the documents table as an ORC tree
    * partitioned by `lang`, read it back with a partition-pruned
    * scan, and summarize per (lang, source) — row counts plus two
    * checksums, so any row lost, duplicated, or corrupted by the
    * format hop flips the result. The WHERE on the partition column
    * must prune at the DIRECTORY level (spec asserts PartitionFilters
    * in the scan, the same contract k01 pins for the parquet sink):
    * at 100 TB the pruned scan reads two language subtrees, not the
    * corpus. The ORC write runs on every call — the round trip IS
    * the operator (k03's discipline); one output tree per staged
    * input, overwritten per call, no temp-dir churn across bench
    * repetitions.
    */
  def orcRoundtrip(documents: DataFrame,
      cacheKey: String = ""): DataFrame = {
    val spark = documents.sparkSession
    val outDir = treeFor("graft_k05_orc_", cacheKey)
    saltedByLang(documents, writers = 4)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("lang")
      .orc(outDir)
    // schema passed explicitly: an EMPTY tree (a legitimately
    // pruned-to-nothing shard) has no files to infer from and would
    // otherwise throw UNABLE_TO_INFER_SCHEMA
    spark.read.schema(documents.schema).orc(outDir)
      .filter(col("lang").isin("en", "de"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("chars_checksum"),
        sum(col("doc_id")).cast("long").as("key_checksum"))
  }

  /** k06_csv_roundtrip — CSV interop, the hazard-dense text format a
    * corpus inevitably passes through (vendor drops, spreadsheet
    * exports): embedded separators, quotes, and NEWLINES in `text`,
    * plus the null-vs-empty-string distinction CSV erases by
    * default. The writer quotes hazard fields and escapes quotes
    * RFC-4180-style (`escape = "`); nulls serialize as an explicit
    * `\N` sentinel so an EMPTY text round-trips as empty instead of
    * collapsing to null (the default `nullValue=""` conflates them
    * — the spec plants both and asserts they stay distinct). Read
    * side: explicit schema (CSV inference would re-type everything)
    * and `multiLine` for the embedded newlines — which makes files
    * NON-SPLITTABLE, so at scale the writer bounds file sizes
    * (`maxRecordsPerFile`) and parallelism comes from file COUNT,
    * not intra-file splits; that contract is this operator's reason
    * to exist. Same pruned-summary shape as k05; the oracle reads
    * the parquet original, so equality proves the text hop was
    * lossless.
    *
    * RESERVED-SENTINEL HAZARD: a text value that is literally the
    * two characters `\N` is indistinguishable from null on read and
    * would round-trip to null — the one value this format contract
    * cannot carry. Every explicit null sentinel has this reserved
    * word (it is mysql/Hive's convention too); the alternatives are
    * worse (empty-string sentinel conflates null with empty for ALL
    * rows, not one pathological value). A corpus that may legally
    * contain a bare `\N` document should ship through k07's JSONL
    * round trip, which encodes null structurally instead.
    */
  def csvRoundtrip(documents: DataFrame,
      cacheKey: String = ""): DataFrame = {
    val spark = documents.sparkSession
    val outDir = treeFor("graft_k06_csv_", cacheKey)
    saltedByLang(documents, writers = 4)
      .write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .option("escape", "\"")
      .option("nullValue", "\\N")
      .option("maxRecordsPerFile", 5000000L)
      .partitionBy("lang")
      .csv(outDir)
    spark.read
      .schema(documents.schema)
      .option("header", "true")
      .option("escape", "\"")
      .option("nullValue", "\\N")
      .option("multiLine", "true")
      .csv(outDir)
      .filter(col("lang").isin("en", "de"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("chars_checksum"),
        sum(col("doc_id")).cast("long").as("key_checksum"))
  }

  /** k07_jsonl_roundtrip — JSON-Lines interop: THE interchange format
    * LLM corpora actually ship in (one JSON object per line). The
    * hazards are different from CSV's: embedded newlines must become
    * `\n` ESCAPES (a raw newline would split the record — JSONL
    * readers are line-framed, which is exactly what keeps the files
    * SPLITTABLE at scale, unlike k06's multiLine CSV), quotes and
    * backslashes escape JSON-style, non-ASCII survives as UTF-8, and
    * a null field must stay distinct from an absent/empty one. Spark
    * writes nulls by OMITTING the field (`ignoreNullFields` default),
    * and reading with an explicit schema restores them as null —
    * while an empty string is written as `""` and stays an empty
    * string, so the distinction survives without a sentinel. Same
    * pruned summary + parquet-original oracle as k05/k06.
    */
  def jsonlRoundtrip(documents: DataFrame,
      cacheKey: String = ""): DataFrame = {
    val spark = documents.sparkSession
    val outDir = treeFor("graft_k07_jsonl_", cacheKey)
    saltedByLang(documents, writers = 4)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", 5000000L)
      .partitionBy("lang")
      .json(outDir)
    spark.read
      .schema(documents.schema)
      .json(outDir)
      .filter(col("lang").isin("en", "de"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("chars_checksum"),
        sum(col("doc_id")).cast("long").as("key_checksum"))
  }

  /** k10_schema_evolution — reading a tree whose schema DRIFTED
    * mid-ingest: a continuously-landing corpus changes shape (a new
    * crawler version adds a column), and the lake contract is that
    * old and new files coexist in one tree readable as one table —
    * without rewriting history. Here the legacy slice
    * (doc_id < `splitId`) lands WITHOUT the `rev` column and the new
    * slice lands with it; the read uses `mergeSchema` so the union
    * schema comes from ALL footers, legacy rows surfacing `rev` as
    * null — the null IS the information "predates the field".
    *
    * Why mergeSchema must be explicit: the default read samples ONE
    * file for the schema, so whether `rev` exists would depend on
    * which file the listing happens to sample — a result that
    * changes with file order is corrupted, not slow (spec pins the
    * merged read; the summary distinguishes legacy rows by the null
    * pattern, never by the id arithmetic that defined the slices).
    *
    * Scale: mergeSchema reads footers, not data — cost is file
    * count, and at 100 TB a deployment bounds it by compacting
    * schema epochs (k03) or declaring the union schema explicitly;
    * the partitioned tree keeps directory pruning intact either way
    * (the pruned-scan contract k01/k05 pin).
    */
  def schemaEvolution(documents: DataFrame, splitId: Long = 250L,
      cacheKey: String = ""): DataFrame = {
    val spark = documents.sparkSession
    val outDir = treeFor("graft_k10_evo_", cacheKey)
    val legacy = documents.filter(col("doc_id") < splitId)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    // coalesce: a keyless (NULL doc_id) row must land in exactly ONE
    // generation (k26's null-routing discipline) — it arrives under
    // the CURRENT schema with rev 0 ("unknown revision", distinct
    // from the legacy files' missing column), matching the oracle's
    // CASE arithmetic where NULL keys fall to both ELSE legs
    val current = documents
      .filter(coalesce(col("doc_id") >= splitId, lit(true)))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        coalesce(pmod(col("doc_id"), lit(5L)) + 1L, lit(0L)).as("rev"))
    saltedByLang(legacy, writers = 2)
      .write.mode(SaveMode.Overwrite).partitionBy("lang").parquet(outDir)
    // Append lands the new-schema files NEXT TO the legacy ones —
    // the drift is inside each lang directory, not between branches.
    saltedByLang(current, writers = 2)
      .write.mode(SaveMode.Append).partitionBy("lang").parquet(outDir)
    spark.read.option("mergeSchema", "true").parquet(outDir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rev").isNull, 1L).otherwise(0L)).as("n_legacy"),
        sum(coalesce(col("rev"), lit(0L))).cast("long").as("rev_checksum"),
        sum(col("n_chars")).cast("long").as("chars_checksum"))
  }
}
