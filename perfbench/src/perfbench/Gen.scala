package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded graph generator (the TPC-H-shaped tables come from gen.py).
  * Every value is hash arithmetic over (seed, stream, row index) — no RNG
  * state — so a seed fixes the graph regardless of partitioning. */
object Gen {

  /** Uniform long in [0, n) for row `id` of `stream`. */
  private def u(seed: Long, stream: Int, id: Column, n: Long): Column =
    pmod(xxhash64(lit(seed), lit(stream), id), lit(n))

  /** Uniform double in [0, 1). */
  private def unit(seed: Long, stream: Int, id: Column): Column =
    u(seed, stream, id, 1L << 30).cast("double") / lit((1L << 30).toDouble)

  /** Directed power-law edge list (src, dst, weight) over `v` vertices.
    * Out-degrees follow P(d) ~ d^-2.5 (truncated at 256); targets are
    * skewed toward low ids, so in-degree is heavy-tailed too (hubs).
    * Built as range(v) x range(16) x range(16) filtered by degree, and
    * recomputed by each consumer (the algorithms checkpoint their input).
    * Without column statistics Spark estimates a cross join at the product
    * of its sides: 8v * 128 * 128 bytes, past 2 GB for v > 16384. */
  def powerLaw(spark: SparkSession, v: Long, seed: Long): DataFrame = {
    val src = col("src"); val j = col("j1") * 16 + col("j2")
    val deg = least(lit(256L),
      floor(lit(2.0) * pow(lit(1.0) - unit(seed, 40, src), lit(-2.0 / 3.0))).cast("long"))
    val dst = floor(pow(unit(seed, 41, src * 256 + j), lit(2.0)) * lit(v.toDouble)).cast("long")
    spark.range(0, v, 1, 4).toDF("src")
      .crossJoin(spark.range(0, 16, 1, 1).toDF("j1"))
      .crossJoin(spark.range(0, 16, 1, 1).toDF("j2"))
      .filter(j < deg)
      .select(src, dst.as("dst"), (u(seed, 42, src * 256 + j, 100) + 1).cast("double").as("weight"))
      .filter(col("src") =!= col("dst"))
  }
}
