package graft.eval

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ranking-metric layer (SURVEY §2.10 E1–E10) — the reference's
  * `src/evaluation/metrics.py:73-317` re-expressed as pure Catalyst array
  * expressions over per-user rows of
  * `(pred: Array[item] ranked desc, gt: Array[item] distinct)`.
  *
  * No UDFs and no shuffle: each metric is a per-row expression (higher-order
  * functions over the arrays), so the metric pass is embarrassingly parallel
  * and whole-stage-codegen'd; only the final mean (E9) aggregates.
  *
  * Numeric parity notes (SURVEY §7.4.3): binary relevance, IDCG over
  * `min(|gt|, k)`, zero for empty ground truth, Double arithmetic throughout.
  */
object RankingMetrics {

  private def topK(pred: Column, k: Int): Column = slice(pred, 1, k)

  /** |top_k ∩ gt| — `gt` must be distinct (it is a set in the reference). */
  def hitsAtK(pred: Column, gt: Column, k: Int): Column =
    size(array_intersect(topK(pred, k), gt))

  /** E1: Recall@K = |top_k ∩ gt| / |gt|, 0 if gt empty
    * (ref `metrics.py:73-96`). */
  def recallAtK(pred: Column, gt: Column, k: Int): Column =
    when(size(gt) === 0, 0.0)
      .otherwise(hitsAtK(pred, gt, k).cast("double") / size(gt))

  /** E2: Precision@K = |top_k ∩ gt| / K (ref `metrics.py:99-119`). */
  def precisionAtK(pred: Column, gt: Column, k: Int): Column =
    hitsAtK(pred, gt, k).cast("double") / k

  /** E4: HitRate@K ∈ {0,1} (ref `metrics.py:160-178`). */
  def hitRateAtK(pred: Column, gt: Column, k: Int): Column =
    when(hitsAtK(pred, gt, k) > 0, 1.0).otherwise(0.0)

  /** DCG@K with binary relevance: Σ_{i<k, pred_i ∈ gt} 1/log2(i+2)
    * (0-based i; ref `metrics.py:140-157`). */
  def dcgAtK(pred: Column, gt: Column, k: Int): Column =
    aggregate(
      transform(topK(pred, k), (x, i) =>
        when(array_contains(gt, x),
          lit(1.0) / log2(i.cast("double") + 2.0)).otherwise(0.0)),
      lit(0.0), (acc, x) => acc + x)

  /** Ideal DCG over min(|gt|, k) positions (ref `metrics.py:150-153`). */
  def idcgAtK(gt: Column, k: Int): Column = {
    val m = least(size(gt), lit(k))
    when(m <= 0, 0.0).otherwise(
      aggregate(
        transform(sequence(lit(0), m - 1), i =>
          lit(1.0) / log2(i.cast("double") + 2.0)),
        lit(0.0), (acc, x) => acc + x))
  }

  /** E3: NDCG@K, 0 for empty gt (ref `metrics.py:122-157`). */
  def ndcgAtK(pred: Column, gt: Column, k: Int): Column = {
    val idcg = idcgAtK(gt, k)
    when(size(gt) === 0 || idcg === 0.0, 0.0)
      .otherwise(dcgAtK(pred, gt, k) / idcg)
  }

  /** E5/W4: reciprocal rank — 1/(1-based position of first hit), 0 if no hit
    * (ref `metrics.py:181-199`). */
  def reciprocalRank(pred: Column, gt: Column): Column = {
    val hitPositions = filter(
      transform(pred, (x, i) =>
        when(array_contains(gt, x), i + 1).otherwise(lit(null))),
      p => p.isNotNull)
    coalesce(lit(1.0) / array_min(hitPositions), lit(0.0))
  }

  /** E6/W6: average precision — running hit-count precision accumulated at
    * each hit position over the FULL prediction list, divided by |gt|
    * (ref `metrics.py:202-228`). Single-row fold via `aggregate` with a
    * (hits, sum, idx) struct accumulator — no window, no shuffle. */
  def averagePrecision(pred: Column, gt: Column): Column = {
    val folded = aggregate(
      pred,
      struct(lit(0L).as("hits"), lit(0.0).as("s"), lit(0L).as("i")),
      (acc, x) => {
        val isHit = array_contains(gt, x)
        val newHits = acc.getField("hits") +
          when(isHit, 1L).otherwise(0L)
        struct(
          newHits.as("hits"),
          (acc.getField("s") + when(isHit,
            newHits.cast("double") / (acc.getField("i") + 1))
            .otherwise(0.0)).as("s"),
          (acc.getField("i") + lit(1L)).as("i"))
      },
      acc => acc.getField("s"))
    when(size(gt) === 0, 0.0).otherwise(folded / size(gt))
  }

  /** E8: exclusion — drop already-seen items from the ranked list before
    * metrics, preserving order (ref `metrics.py:281-283`). One per-row
    * filter over the list, no fan-out; a null `excluded` set keeps the
    * full list. */
  def excludeSeen(pred: Column, excluded: Column): Column =
    when(excluded.isNull, pred)
      .otherwise(filter(pred, x => !array_contains(excluded, x)))

  /** Attach per-user metric columns at each K (ref `metrics.py:291-299`):
    * recall_at_K, precision_at_K, ndcg_at_K, hit_rate_at_K + mrr, map. */
  def perUserMetrics(df: DataFrame, predCol: String, gtCol: String,
                     ks: Seq[Int]): DataFrame = {
    val p = col(predCol); val g = col(gtCol)
    val withKs = ks.foldLeft(df) { (d, k) =>
      d.withColumn(s"recall_at_$k", recallAtK(p, g, k))
        .withColumn(s"precision_at_$k", precisionAtK(p, g, k))
        .withColumn(s"ndcg_at_$k", ndcgAtK(p, g, k))
        .withColumn(s"hit_rate_at_$k", hitRateAtK(p, g, k))
    }
    withKs.withColumn("mrr", reciprocalRank(p, g))
      .withColumn("map", averagePrecision(p, g))
  }

  /** E9: evaluator aggregation — unweighted mean over users with non-empty
    * ground truth (users with empty gt skipped, ref `metrics.py:274-313`). */
  def meanMetrics(perUser: DataFrame, gtCol: String,
                  metricCols: Seq[String]): DataFrame =
    perUser.filter(size(col(gtCol)) > 0)
      .agg(metricCols.map(c => avg(col(c)).as(c)).head,
        metricCols.map(c => avg(col(c)).as(c)).tail: _*)

  /** E7/A11/X3: catalog coverage — distinct items in anyone's top-maxK over
    * catalog size (ref `metrics.py:271,286-288,315-317`). */
  def coverage(df: DataFrame, predCol: String, maxK: Int,
               numItems: Long): DataFrame =
    df.select(explode(slice(col(predCol), 1, maxK)).as("__item"))
      .agg((countDistinct(col("__item")).cast("double") / numItems)
        .as("coverage"))

  /** Recall of approximate answer sets against an exact one — the
    * reference's one evaluation rule for ANN retrieval and near-dup
    * recall (SURVEY §2.9/§2.10): count the exact answers the approximate
    * path also returns. `approx` may hold several arms, told apart by
    * the non-null values of `armCols` (none = one arm); `exact` must be
    * unique on `keys`, and `approx` unique on `keys` within each arm.
    * Returns one row per arm that answered: `armCols…, n_exact, n_hits`,
    * with 0 hits for an arm none of whose answers is exact (with no arm
    * columns, one row; with arm columns and an empty `approx`, one row
    * with null arms and 0 hits).
    *
    * The exact set is read ONCE, with no checkpoint and no sort. One arm
    * is one left join of the exact set to the answers and one aggregate:
    * every exact row is counted, and so is every one the answers carry,
    * and the join may become a broadcast, which matters for the large
    * near-dup pair sets. Several arms cannot join that way (an exact key
    * would be counted once per arm, and an arm with no exact answer would
    * lose its row), so they are stacked with the exact answers in one
    * union and grouped by `keys`: one aggregate gives each key its exact
    * flag and the arms that returned it, the arms are fanned back out,
    * one aggregate grouped by the arm columns counts the exact keys (once
    * each, on the key's first row) and each arm's hits, and a last one-row
    * aggregate puts `n_exact` beside each arm. */
  def recallVsExact(exact: DataFrame, approx: DataFrame, keys: Seq[String],
                    armCols: Seq[String] = Nil): DataFrame =
    if (armCols.isEmpty)
      exact.select(keys.map(col): _*)
        .join(approx.select(keys.map(col) :+ lit(1).as("__hit"): _*), keys,
          "left")
        .agg(count(lit(1)).as("n_exact"), count(col("__hit")).as("n_hits"))
    else {
      val arms = armCols.map(col)
      exact.select(keys.map(col) ++ armCols.map(c => lit(null).as(c)) :+
          lit(1).as("__exact"): _*)
        .union(approx.select((keys ++ armCols).map(col) :+
          lit(null).cast("int").as("__exact"): _*))
        .groupBy(keys.map(col): _*)
        .agg(max(col("__exact")).as("__e"),
          collect_list(when(col("__exact").isNull, struct(arms: _*)))
            .as("__by"))
        .select(col("__e"),
          posexplode_outer(col("__by")).as(Seq("__pos", "__a")))
        .groupBy(armCols.map(c => col("__a." + c).as(c)): _*)
        .agg(count(when(coalesce(col("__pos"), lit(0)) === 0, col("__e")))
            .as("__n_exact"),
          count(when(col("__a").isNotNull, col("__e"))).as("n_hits"))
        .agg(coalesce(sum(col("__n_exact")), lit(0L)).as("n_exact"),
          collect_list(when(arms.map(_.isNotNull).reduce(_ && _),
            struct(arms :+ col("n_hits"): _*))).as("__arms"))
        .select(col("n_exact"), explode_outer(col("__arms")).as("__a"))
        .select(armCols.map(c => col("__a." + c)) ++ Seq(col("n_exact"),
          coalesce(col("__a.n_hits"), lit(0L)).as("n_hits")): _*)
    }
}
