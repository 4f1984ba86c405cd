package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed source/sink surface: pre-shuffling fact tables into
  * bucket files at WRITE time so repeated joins and aggregations on
  * the bucket key read co-located data and skip the shuffle entirely
  * — the standard answer to "this 100 TB join runs nightly against
  * the same key". One bucketed write amortizes across every
  * downstream join — which is also why the driver-entry staging below
  * is built once per (input, buckets): re-bucketing on every
  * invocation would both mis-measure the join and leak a temp tree per
  * call.
  */
object Bucketed {

  /** Write `df` as a bucketed (+sorted) external table. Spark's
    * bucketing rides the catalog, so the table name is the handle;
    * the files land under `path` (external), not the warehouse.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, path: String): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("path", path)
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /** k02 driver entry — orders ⋈ lineitem on the order key, both
    * sides bucketed identically: the scan feeds SortMergeJoin with
    * NO exchange on either side (asserted by spec). `hint("merge")`
    * pins the join strategy so AQE's broadcast conversion doesn't
    * hide the bucket co-location being demonstrated.
    *
    * The bucketed write goes through `Staging.memo`: bucketing is a
    * one-time layout decision and every nightly join reads it. Table
    * names carry the staging dir's unique name, so two stagings — or
    * two sessions sharing one metastore — never collide.
    */
  def bucketedOrderJoin(spark: SparkSession, orders: DataFrame,
      lineitem: DataFrame, buckets: Int = 8,
      cacheKey: String = ""): DataFrame = {
    val (to, tl) = graft.Staging.memo("k02", cacheKey, buckets) {
      val base = graft.Staging.dir("graft_bucketed_")
      val id = java.nio.file.Paths.get(base).getFileName.toString
      val to = s"${id}_orders"
      val tl = s"${id}_lineitem"
      writeBucketed(orders.select(col("o_orderkey"), col("o_orderstatus")),
        to, "o_orderkey", buckets, s"$base/orders")
      writeBucketed(lineitem.select(col("l_orderkey"), col("l_quantity")),
        tl, "l_orderkey", buckets, s"$base/lineitem")
      (to, tl)
    }
    spark.table(to).hint("merge")
      .join(spark.table(tl),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity")).as("sum_qty"))
  }
}
