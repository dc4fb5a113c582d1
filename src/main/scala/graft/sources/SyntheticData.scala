package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S10: deterministic synthetic data generator (ref `src/data/synthetic.py:18-111`).
  *
  * The reference builds three pandas frames (users, items, interactions) with
  * numpy RNG. Spark-first form: `spark.range(n)` + `rand(seed)`/`randn(seed)` —
  * fully distributed, no driver materialization, reproducible per seed.
  * Numerics intentionally differ from numpy's RNG (SURVEY §7.4.2); tests assert
  * invariants (cardinalities, value domains, determinism), not values.
  */
object SyntheticData {

  private def pick(options: Seq[String], seed: Long) = {
    val arr = array(options.map(lit): _*)
    // element_at is 1-based; floor(rand*n)+1 ∈ [1, n]
    element_at(arr, (floor(rand(seed) * options.size) + 1).cast("int"))
  }

  /** Synthetic users (ref `synthetic.py:40-56`): id, age, gender, income,
    * signup days plus `numFeatures` gaussian columns. */
  def users(spark: SparkSession, numUsers: Long, numFeatures: Int = 8,
            seed: Long = 42): DataFrame = {
    val base = spark.range(numUsers)
      .select(
        concat(lit("user_"), col("id")).as("user_id"),
        (floor(rand(seed + 1) * 52) + 18).cast("int").as("age"),
        pick(Seq("M", "F"), seed + 2).as("gender"),
        (rand(seed + 3) * 150000 + 20000).as("income"),
        (floor(rand(seed + 4) * 1000) + 1).cast("int").as("signup_days"))
    (0 until numFeatures).foldLeft(base) { (df, i) =>
      df.withColumn(s"user_feat_$i", randn(seed + 100 + i))
    }
  }

  /** Synthetic items (ref `synthetic.py:58-74`). */
  def items(spark: SparkSession, numItems: Long, numFeatures: Int = 8,
            seed: Long = 42): DataFrame = {
    val cats = Seq("electronics", "books", "clothing", "sports", "home")
    val base = spark.range(numItems)
      .select(
        concat(lit("item_"), col("id")).as("item_id"),
        pick(cats, seed + 11).as("category"),
        (rand(seed + 12) * 490 + 10).as("price"),
        (rand(seed + 13) * 4 + 1).as("avg_rating"),
        (floor(rand(seed + 14) * 365)).cast("int").as("age_days"))
    (0 until numFeatures).foldLeft(base) { (df, i) =>
      df.withColumn(s"item_feat_$i", randn(seed + 200 + i))
    }
  }

  /** Synthetic interactions (ref `synthetic.py:76-111`): random (user, item)
    * pairs with timestamps and implicit binary labels at a configurable
    * positive rate. */
  def interactions(spark: SparkSession, numUsers: Long, numItems: Long,
                   numInteractions: Long, positiveRate: Double = 0.3,
                   seed: Long = 42): DataFrame =
    spark.range(numInteractions)
      .select(
        concat(lit("user_"),
          floor(rand(seed + 21) * numUsers).cast("long")).as("user_id"),
        concat(lit("item_"),
          floor(rand(seed + 22) * numItems).cast("long")).as("item_id"),
        (floor(rand(seed + 23) * 86400L * 30)).as("ts_offset"),
        when(rand(seed + 24) < positiveRate, 1).otherwise(0).as("label"),
        (rand(seed + 25) * 300).as("dwell_time"))

  /** Deterministic mixture-of-Gaussians embedding corpus (no RNG — all
    * hash-derived, same rows every run): center lane ∈ [−1, 1) from
    * xxhash64(center, lane); point = center + sigma·u, u ∈ [−1, 1) from
    * xxhash64(id, lane). Cluster id = vec_id % nCenters. The clustered
    * regime real embedding tables live in — the corpus where residual
    * encoding shows its textbook gain (and a spec fixture for pinning
    * it). */
  def mogCorpus(spark: SparkSession, nItems: Int, nCenters: Int,
                sigma: Double, dim: Int = 64): DataFrame =
    spark.range(nItems).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), i => {
        val c = pmod(col("id"), lit(nCenters.toLong))
        val centerLane =
          pmod(xxhash64(c, i), lit(2000000L)).cast("double") /
            1000000.0 - 1.0
        val noise = (pmod(xxhash64(col("id"), i, lit(7L)),
          lit(2000000L)).cast("double") / 1000000.0 - 1.0) * sigma
        (centerLane + noise).cast("float")
      }).as("embedding"))
}
