package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-factor multiplier for the driver testdata: reads
  * `/root/testdata/sf0.1`-shaped parquet and writes a `factor`× copy, so
  * the scaling claims argued from plan shape can be MEASURED
  * (`graft.Bench` on the output vs the source — see BENCH_SF1.md).
  *
  * Replication is by disjoint key universes, not row duplication: replica
  * r shifts every entity key by r·10¹² so foreign keys stay consistent
  * within a replica and never collide across replicas. That grows the
  * data the way the TPC-H dbgen scale factor does (more customers/orders/
  * docs of the same per-entity shape) rather than making each entity 10×
  * hotter:
  *  - region/nation are fixed-cardinality dimensions — copied, not
  *    replicated (as in dbgen).
  *  - documents get a per-replica letter-rotation cipher on `text`
  *    (length- and token-structure-preserving), so each replica carries
  *    its own token universe: dedup finds 10× the dup GROUPS of the same
  *    size instead of every group 10× deeper (which would quadratically
  *    inflate pair output and measure output blowup, not engine scaling).
  *  - embeddings for replicas r>0 get small deterministic per-lane jitter,
  *    so ANN/near-dup buckets grow in count, not in identical-point depth.
  *  - events keep their time span (10× users at the same per-user
  *    activity — window/sessionization state scales in keys, as a bigger
  *    deployment would, not in per-key history).
  *
  * Usage: runMain graft.ScaleUp <srcDir> <outDir> [factor=10]
  */
object ScaleUp {

  /** Key stride between replicas — far above any source key. */
  private val Stride = 1000000000000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, src, out, factor)
    spark.stop()
  }

  /** Library entry point (main minus session lifecycle — tests pass the
    * shared session). */
  def run(spark: SparkSession, src: String, out: String,
          factor: Int): Unit = {
    try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case _: Throwable => () }

    def t(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    def replicated(df: DataFrame, factor: Int)(
        per: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(r => per(df, r)).reduce(_ unionByName _)

    def shift(r: Int)(c: String) = (col(c) + lit(r * Stride)).as(c)

    // fixed-cardinality dims: copy
    write(t("region"), "region")
    write(t("nation"), "nation")

    write(replicated(t("customer"), factor) { (df, r) =>
      df.select(shift(r)("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
    }, "customer")

    write(replicated(t("supplier"), factor) { (df, r) =>
      df.select(shift(r)("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal"))
    }, "supplier")

    write(replicated(t("part"), factor) { (df, r) =>
      df.select(shift(r)("p_partkey"), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice"))
    }, "part")

    write(replicated(t("orders"), factor) { (df, r) =>
      df.select(shift(r)("o_orderkey"), shift(r)("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }, "orders")

    write(replicated(t("lineitem"), factor) { (df, r) =>
      df.select(shift(r)("l_orderkey"), shift(r)("l_partkey"),
        shift(r)("l_suppkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
    }, "lineitem")

    // events.ts reads as raw nanos Long (nanosAsLong) and is written back
    // as a plain BIGINT column — SparkEntry.E/eventsRange handle both
    // encodings identically.
    write(replicated(t("events"), factor) { (df, r) =>
      df.select(shift(r)("event_id"), col("ts"), shift(r)("user_id"),
        col("event_type"), col("value"), col("props"))
    }, "events")

    val alpha = "abcdefghijklmnopqrstuvwxyz"
    write(replicated(t("documents"), factor) { (df, r) =>
      // r < 26: rotation cipher (byte-identical to the sf1 runs measured in
      // BENCH_SF1.md). r >= 26: a rotation alone would repeat every 26
      // replicas and create exact cross-replica duplicates (groups growing
      // DEEPER, quadratically inflating pair output) — use a seeded
      // alphabet permutation instead, one distinct substitution cipher per
      // replica, still length- and token-structure-preserving.
      val rot =
        if (r < 26) alpha.drop(r) + alpha.take(r)
        else new String(new scala.util.Random(r.toLong * 2654435761L)
          .shuffle(alpha.toList).toArray)
      df.select(shift(r)("doc_id"),
        translate(col("text"), alpha + alpha.toUpperCase,
          rot + rot.toUpperCase).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }, "documents")

    write(replicated(t("embeddings"), factor) { (df, r) =>
      val vec =
        if (r == 0) col("embedding")
        else transform(col("embedding"), (x, i) =>
          (x + ((pmod(xxhash64(col("vec_id"), i, lit(r)), lit(997L))
            .cast("double") / 997.0 - 0.5) * 0.1).cast("float"))
            .cast("float"))
      df.select(shift(r)("vec_id"), vec.as("embedding"), col("label"))
    }, "embeddings")

    val counts = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
      .map(n => s"$n=${spark.read.parquet(s"$out/$n.parquet").count()}")
    println(s"[scaleup] wrote $out factor=$factor ${counts.mkString(" ")}")
  }
}
