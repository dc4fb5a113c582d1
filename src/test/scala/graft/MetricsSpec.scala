package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.eval.RankingMetrics
import graft.ops.Relational

/** Golden-value metric tests mirroring the reference's
  * `tests/test_evaluation_metrics.py` (values tabulated in FIXTURES.md §1.3).
  */
class MetricsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def metricsOf(pred: Seq[Int], gt: Seq[Int]) =
    Seq((pred, gt)).toDF("pred", "gt")

  private def one(df: org.apache.spark.sql.DataFrame,
                  c: org.apache.spark.sql.Column): Double =
    df.select(c.cast("double")).head().getDouble(0)

  test("recall@5 partial = 0.5 (test_evaluation_metrics.py:43-50)") {
    val df = metricsOf(Seq(1, 2, 6, 7, 8), Seq(1, 2, 3, 4))
    assert(one(df, RankingMetrics.recallAtK(col("pred"), col("gt"), 5)) === 0.5)
  }

  test("precision@5 partial = 0.4 (test_evaluation_metrics.py:92-99)") {
    val df = metricsOf(Seq(1, 2, 6, 7, 8), Seq(1, 2, 3, 4))
    assert(one(df, RankingMetrics.precisionAtK(col("pred"), col("gt"), 5)) === 0.4)
  }

  test("ndcg@5 perfect ranking = 1.0 (test_evaluation_metrics.py:114-121)") {
    val df = metricsOf(Seq(1, 2, 3, 4, 5), Seq(1, 2, 3))
    assert(math.abs(
      one(df, RankingMetrics.ndcgAtK(col("pred"), col("gt"), 5)) - 1.0) < 1e-12)
  }

  test("average precision alternating = (1 + 2/3 + 3/5)/3 (test_evaluation_metrics.py:256-265)") {
    val df = metricsOf(Seq(1, 0, 2, 0, 3), Seq(1, 2, 3))
    val expected = (1.0 + 2.0 / 3.0 + 3.0 / 5.0) / 3.0
    assert(math.abs(
      one(df, RankingMetrics.averagePrecision(col("pred"), col("gt"))) - expected) < 1e-12)
  }

  test("MRR first hit at position 2 = 0.5 (test_evaluation_metrics.py:212-218)") {
    val df = metricsOf(Seq(1, 2, 3, 4, 5), Seq(2))
    assert(one(df, RankingMetrics.reciprocalRank(col("pred"), col("gt"))) === 0.5)
  }

  test("exclusion drops seen items before metrics → recall@5 = 0 (test_evaluation_metrics.py:307-318)") {
    val df = metricsOf(Seq(1, 2, 3, 4, 5), Seq(1, 6))
      .withColumn("excluded", array(lit(1)))
      .withColumn("pred2",
        RankingMetrics.excludeSeen(col("pred"), col("excluded")))
    assert(one(df, RankingMetrics.recallAtK(col("pred2"), col("gt"), 5)) === 0.0)
  }

  test("coverage = 5 distinct of 10 = 0.5 (test_evaluation_metrics.py:320-336)") {
    val df = Seq((1, Seq(1, 2, 3)), (2, Seq(1, 4, 5))).toDF("u", "pred")
    val cov = RankingMetrics.coverage(df, "pred", 10, 10L)
      .head().getDouble(0)
    assert(cov === 0.5)
  }

  test("empty ground truth → recall/ndcg/hitrate/mrr/ap all 0 (test_evaluation_metrics.py:61-68)") {
    val df = metricsOf(Seq(1, 2, 3), Seq.empty[Int])
    assert(one(df, RankingMetrics.recallAtK(col("pred"), col("gt"), 3)) === 0.0)
    assert(one(df, RankingMetrics.ndcgAtK(col("pred"), col("gt"), 3)) === 0.0)
    assert(one(df, RankingMetrics.hitRateAtK(col("pred"), col("gt"), 3)) === 0.0)
    assert(one(df, RankingMetrics.reciprocalRank(col("pred"), col("gt"))) === 0.0)
    assert(one(df, RankingMetrics.averagePrecision(col("pred"), col("gt"))) === 0.0)
  }

  test("hit rate at K boundary (test_evaluation_metrics.py:182-198)") {
    val df = metricsOf(Seq(9, 8, 7, 1), Seq(1))
    assert(one(df, RankingMetrics.hitRateAtK(col("pred"), col("gt"), 3)) === 0.0)
    assert(one(df, RankingMetrics.hitRateAtK(col("pred"), col("gt"), 4)) === 1.0)
  }

  test("empty prediction list → all metrics 0, user still evaluated (metrics.py:275-283)") {
    val df = metricsOf(Seq.empty[Int], Seq(1, 2))
    assert(one(df, RankingMetrics.recallAtK(col("pred"), col("gt"), 10)) === 0.0)
    assert(one(df, RankingMetrics.ndcgAtK(col("pred"), col("gt"), 10)) === 0.0)
    assert(one(df, RankingMetrics.reciprocalRank(col("pred"), col("gt"))) === 0.0)
    assert(one(df, RankingMetrics.averagePrecision(col("pred"), col("gt"))) === 0.0)
  }

  test("implicit labels [5,4,3,2] at threshold 4.0 → [1,1,0,0] (test_data_loading.py:171-184)") {
    val df = Seq(5, 4, 3, 2).toDF("rating")
    val labels = Relational.implicitLabels(df, "rating", 4.0)
      .orderBy(col("rating").desc).select("label").as[Int].collect().toSeq
    assert(labels === Seq(1, 1, 0, 0))
  }

  test("sketch-accuracy self-check: HLL++ and t-digest inside their bounds") {
    val row = SparkEntry.queries("x7_sketch_accuracy")(
      spark, "/root/testdata/sf0.001").head()
    assert(row.getAs[Long]("nd_exact") > 0L)
    // approx_count_distinct rsd = 0.02 → generous 5% ceiling
    assert(row.getAs[Double]("nd_rel_err") <= 0.05,
      s"HLL rel err ${row.getAs[Double]("nd_rel_err")}")
    // approx_percentile accuracy 10000 → ~1e-4 rank error; 1% value ceiling
    assert(row.getAs[Double]("p50_rel_err") <= 0.01,
      s"t-digest rel err ${row.getAs[Double]("p50_rel_err")}")
  }

  test("recallVsExact: per-arm hits over one read of the exact set; a " +
    "zero-hit arm reports 0") {
    // exact answers (q, i) = (0,0), (0,1), (1,10) from a Range scan, so
    // the plan shows how often the exact side is read
    val exact = spark.range(3).select(
      (col("id") / 2).cast("long").as("q"),
      when(col("id") === 2, 10L).otherwise(col("id")).as("i"))
    val approx = Seq((0L, 0L, "a"), (1L, 10L, "a"), (1L, 11L, "a"),
      (0L, 99L, "b")).toDF("q", "i", "arm")
    val perArm = RankingMetrics.recallVsExact(exact, approx, Seq("q", "i"),
      Seq("arm"))
    assert(perArm.as[(String, Long, Long)].collect().sortBy(_._1).toSeq ===
      Seq(("a", 3L, 2L), ("b", 3L, 0L)))
    val ranges = perArm.queryExecution.sparkPlan.collect {
      case r: org.apache.spark.sql.execution.RangeExec => r
    }
    assert(ranges.size === 1, "the exact set must be read once")
    // several arms fold in aggregates only: no per-key sort or window
    val plan = perArm.queryExecution.executedPlan.toString
    assert(!plan.contains("Sort") && !plan.contains("Window"), plan)
    // no arm columns: one row; an empty approximate set scores 0 hits
    val single = RankingMetrics.recallVsExact(exact,
      approx.filter(col("arm") === "a").drop("arm"), Seq("q", "i"))
    assert(single.as[(Long, Long)].collect().toSeq === Seq((3L, 2L)))
    assert(single.queryExecution.sparkPlan.collect {
      case r: org.apache.spark.sql.execution.RangeExec => r
    }.size === 1, "the exact set must be read once")
    val none = RankingMetrics.recallVsExact(exact,
      approx.filter(lit(false)).drop("arm"), Seq("q", "i"))
    assert(none.as[(Long, Long)].collect().toSeq === Seq((3L, 0L)))
  }
}
