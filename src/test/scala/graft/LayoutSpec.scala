package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Layout

/** Physical-layout invariants: bucketed joins plan without exchanges;
  * salted aggregation is result-identical to the direct form. */
class LayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bucketed tables join without a shuffle exchange (co-located join)") {
    val a = (0L until 1000L).map(i => (i % 100, i)).toDF("k", "va")
    val b = (0L until 500L).map(i => (i % 100, i * 2)).toDF("k", "vb")
    Layout.writeBucketed(a, "graft_bucket_a", 8, Seq("k"))
    Layout.writeBucketed(b, "graft_bucket_b", 8, Seq("k"))
    try {
      // disable broadcast so the join would otherwise need a full shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_bucket_a")
        .join(spark.table("graft_bucket_b"), Seq("k"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join should be exchange-free, got:\n$plan")
      assert(joined.count() === 5000) // 10 × 5 matches per key × 100 keys
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_a")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_b")
    }
  }

  test("rank-limit pushdown: WindowGroupLimit in the physical plan (W3/R3/W7)") {
    // These operators are O(n·k) ONLY because Spark rewrites
    // row_number-then-filter into WindowGroupLimit (partial per-partition
    // top-k before the shuffle). A Spark upgrade silently losing the
    // rewrite must fail here, not surface as a bench regression.
    val sf = "/root/testdata/sf0.001"
    val plans = Map(
      "w3_topk_per_group" -> SparkEntry.queries("w3_topk_per_group")(spark, sf),
      "r3_vec_topk" -> SparkEntry.queries("r3_vec_topk")(spark, sf),
      "latestPerKey" -> graft.ops.FeatureStore.latestPerKey(
        (1 to 100).map(i => (i % 10, i, i * 2)).toDF("k", "ts", "tb"),
        Seq("k"), "ts", "tb"))
    plans.foreach { case (name, df) =>
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("WindowGroupLimit"),
        s"$name lost the rank-limit pushdown; plan:\n$p")
    }
  }

  test("compact: many small files become few, data identical") {
    import java.nio.file.Files
    val in = Files.createTempDirectory("graft-frag").toString
    val out = Files.createTempDirectory("graft-compact").toString
    val df = (1L to 100L).map(i => (i, s"row$i")).toDF("id", "payload")
    df.repartition(20).write.mode("overwrite").parquet(in)
    def parts(p: String) = new java.io.File(p).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parts(in) === 20)
    val n = Layout.compact(spark, in, out, targetRowsPerFile = 50)
    assert(n === 100L)
    assert(parts(out) === 2, s"expected 2 compacted files, got ${parts(out)}")
    assert(spark.read.parquet(out).as[(Long, String)].collect().toSet ===
      df.as[(Long, String)].collect().toSet)
  }

  test("salted aggregation equals direct groupBy exactly (skew handling)") {
    // one hot key (90% of rows) + a long tail
    val df = ((0 until 9000).map(i => ("hot", i.toDouble)) ++
      (0 until 1000).map(i => (s"k${i % 50}", i.toDouble)))
      .toDF("k", "v")
    val direct = df.groupBy("k")
      .agg(sum("v").as("sum_v"), count(lit(1)).as("cnt"))
      .as[(String, Double, Long)].collect()
      .map { case (k, s, c) => k -> ((s, c)) }.toMap
    val salted = Layout.saltedSumCount(df, Seq("k"), "v", 16)
      .as[(String, Double, Long)].collect()
      .map { case (k, s, c) => k -> ((s, c)) }.toMap
    assert(salted.keySet === direct.keySet)
    direct.foreach { case (k, (s, c)) =>
      assert(salted(k)._2 === c, s"count mismatch for $k")
      assert(math.abs(salted(k)._1 - s) < 1e-6, s"sum mismatch for $k")
    }
  }

  test("zValue2 golden: exact Morton interleave") {
    // a-bits land at even positions, b-bits at odd:
    // z(3,5): spread(3)=0b101=5, spread(5)=0b010001=17 → 5 | (17<<1) = 39
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L))
      .toDF("a", "b")
      .select(Layout.zValue2(col("a"), col("b")).as("z"))
      .as[Long].collect().toSeq
    assert(rows === Seq(0L, 1L, 2L, 39L, 4294967295L))
  }

  test("globalRowNumber: exact parallel ranking without a global window") {
    import graft.ops.Relational
    // multi-partition input, tie-heavy score + unique tiebreak; compare
    // against a driver-side sort of the same order
    val df = spark.range(10000).select(
      (col("id") * 2654435761L % 9973L).as("score"), col("id"))
    val got = Relational.globalRowNumber(
        df, Seq(col("score"), col("id")), rnCol = "rn")
      .orderBy(col("rn")).select(col("id"), col("rn"))
      .as[(Long, Long)].collect().toSeq
    val want = df.orderBy(col("score"), col("id"))
      .select(col("id")).as[Long].collect().toSeq.zipWithIndex
      .map { case (i, r) => (i, r + 1L) }
    assert(got === want)
    // ranks are a contiguous 1..n permutation
    assert(got.map(_._2) === (1L to 10000L))
  }

  test("round-6 queries plan without cartesian products; pruned scans") {
    val sf = "/root/testdata/sf0.001"
    // Candidate-bounded pair generators and the gram semi-join must never
    // degrade to a cartesian product when Spark re-plans them.
    Seq("x12_decontaminate", "d_lev_neardup", "w9_anomaly", "t4_hopping",
        "j11b_band_rule")
      .foreach { name =>
        val p = SparkEntry.queries(name)(spark, sf)
          .queryExecution.executedPlan.toString
        assert(!p.contains("CartesianProduct"),
          s"$name plans a cartesian product:\n$p")
      }
    // Time-sliced events reads push the range onto the RAW nanos long —
    // a predicate on the converted timestamp column can't reach the scan.
    val hop = SparkEntry.queries("t4_hopping")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(hop.contains("PushedFilters: [IsNotNull(ts), LessThan(ts"),
      s"t4_hopping must push its time bound to the events scan:\n$hop")
    // The histogram reads exactly its one measure column.
    val hist = SparkEntry.queries("a16_histogram")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(hist.contains("ReadSchema: struct<o_totalprice:double>"),
      s"a16_histogram should scan only o_totalprice:\n$hist")
    // Weighted sampling is a pure per-row filter: no exchange below the
    // final presentation sort.
    val ws = graft.ops.Relational.weightedSample(
      spark.read.parquet(s"$sf/lineitem.parquet"),
      col("l_orderkey"), col("l_quantity") / 100.0)
      .queryExecution.executedPlan.toString
    assert(!ws.contains("Exchange"),
      s"weightedSample should be shuffle-free:\n$ws")
  }

  test("rerouted global ranks never regrow a single-partition window") {
    // Round-7 invariant, checked structurally (same walk as
    // Explain --audit): the queries that used to rank on one task must
    // plan zero WindowExec nodes with an empty partition spec.
    val sf = "/root/testdata/sf0.001"
    Seq("w2_time_split", "p_id_encode", "p_quantile_bin",
        "t_quality_filter", "t_zipf_slope", "r11_spearman",
        "o7_global_rownumber").foreach { name =>
      val bad = SparkEntry.queries(name)(spark, sf)
        .queryExecution.sparkPlan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty => w
        }
      assert(bad.isEmpty,
        s"$name plans a single-partition window:\n${bad.mkString("\n")}")
    }
  }
}
