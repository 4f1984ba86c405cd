package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Parquet table loaders for the driver-generated test data
  * (TESTDATA.md). Plain `spark.read.parquet` — column pruning and
  * filter pushdown happen in Catalyst from the operator's projection,
  * so loaders stay schema-free.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")

  /** events.parquet carries TIMESTAMP(NANOS), which Spark's vectorized
    * reader only accepts as a raw long (spark.sql.legacy.parquet
    * .nanosAsLong=true — set by Verify/perfbench/specs). Normalize to a
    * proper TimestampType at microsecond precision so operators stay
    * type-uniform. Integer DIV, not double division: epoch-ns
    * (~1.7e18) exceeds double's 2^53 exact-integer range.
    *
    * Ingest hygiene: an event without a timestamp or a key is
    * unusable for event-time semantics (null ts can't bin/window/
    * watermark; null user_id would NPE the typed streaming encoder) —
    * drop such rows AT THE LOADER so every downstream operator sees
    * the same cleaned stream. The oracles apply the identical WHERE.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    val normalized = raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // e.g. files rewritten by engines that write NTZ micros; with
        // the session clock pinned to UTC the instant is unchanged,
        // and watermarks demand TimestampType.
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
    normalized.filter(col("ts").isNotNull && col("user_id").isNotNull)
  }

  /** Epoch microseconds of any timestamp flavor (NTZ casts through the
    * session clock — keep spark.sql.session.timeZone=UTC for oracle
    * parity).
    */
  def epochUs(c: Column): Column = unix_micros(c.cast("timestamp"))
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
