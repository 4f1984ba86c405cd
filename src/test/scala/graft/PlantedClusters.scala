package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic planted-CLUSTERED embeddings (r16 verdict #4): the
  * embeddings table is near-random (recall curves and the s01/s03
  * cost crossover were only ever measured there), but real
  * corpus embeddings CLUSTER — text encoders map related documents
  * into tight cones. This generator plants exactly that geometry:
  * `k` Gaussian anchor directions, each vector = its anchor + σ·noise
  * (expected within-cluster cosine ≈ 1/(1+σ²) ≈ 0.8 at the default
  * σ=0.5; cross-cluster ≈ 0) — so an ANN method's bucketing has
  * genuine structure to exploit, and "the dials earn their cost on
  * clustered data" becomes measurable instead of narrated.
  *
  * Fully hash-derived (xxhash64 → uniform → Box–Muller), no RNG
  * state: every cell is a pure function of (vec_id, component,
  * salt), so the corpus is the same distribution at any size,
  * generation is one distributed projection (no driver loop, no
  * shuffle), and reruns are bit-identical. Schema matches the
  * embeddings table (vec_id BIGINT, embedding ARRAY<FLOAT>,
  * label INT — label = the planted cluster id, so recall accounting
  * can see the structure).
  */
object PlantedClusters {

  /** Standard normal from two hash-uniforms (Box–Muller). The
    * uniform is (h mod p + 1)/(p + 2) ∈ (0,1) — never 0 or 1, so
    * log/cos stay finite.
    */
  private def gauss(k1: Column, k2: Column, salt: Long): Column = {
    def u(s: Long): Column =
      (pmod(xxhash64(k1, k2, lit(s)), lit(1000000007L)).cast("double")
        + lit(1.0)) / lit(1000000009.0)
    sqrt(lit(-2.0) * log(u(salt))) *
      cos(lit(2.0 * math.Pi) * u(salt + 7919L))
  }

  def generate(spark: SparkSession, n: Long, dim: Int = 64,
      k: Int = 10, sigma: Double = 0.5): DataFrame =
    spark.range(n).select(
      col("id").as("vec_id"),
      (col("id") % k).cast("int").as("label"),
      transform(sequence(lit(0), lit(dim - 1)), j =>
        (gauss(col("id") % k, j.cast("long"), 0xA11C0A11L) +
          lit(sigma) * gauss(col("id"), j.cast("long"), 0x9E3D59E3L))
          .cast("float")).as("embedding"))
}
