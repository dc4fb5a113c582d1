package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Feature-engineering operators (SURVEY §2.4/§2.11 batch forms).
  *
  * The reference computes per-entity windowed activity/popularity features
  * with one groupby per horizon plus an outer-join chain
  * (`src/features/feature_engineering.py:238-309`, J3/A6). The Spark-first
  * rewrite is SINGLE-PASS CONDITIONAL AGGREGATION: one shuffle on the entity
  * key, `sum(when(ts >= anchor - horizon, ...))` per horizon — same results,
  * one shuffle instead of three plus joins (SURVEY §4.2).
  */
object Features {

  /** Reference epsilon for ratio features (`feature_engineering.py:226`). */
  val RatioEps = 1e-6

  /** F17: safe divide `x / (y + eps)`. */
  def safeDiv(num: Column, den: Column, eps: Double = RatioEps): Column =
    num / (den + eps)

  /** F12: clip to [lo, hi] (`feature_engineering.py:342-345`). */
  def clip(c: Column, lo: Double, hi: Double): Column =
    least(greatest(c, lit(lo)), lit(hi))

  /** F11: exponential freshness decay `exp(-age_hours / halfLife)`
    * (`feature_engineering.py:325-327`, halfLife=168h). */
  def expDecay(ageHours: Column, halfLifeHours: Double = 168.0): Column =
    exp(-ageHours / halfLifeHours)

  /** A6/T5: multi-horizon trailing-window aggregation in one pass.
    *
    * For each (suffix → seconds-back) horizon, emits per entity:
    * `clicks_<sfx>`, `views_<sfx>`, `events_<sfx>`, `avg_value_<sfx>`,
    * `ctr_<sfx>` — mirroring the user-activity / item-popularity feature
    * families (`feature_engineering.py:238-309`) over the testdata event
    * vocabulary. `anchor` is the injected "now" (never wall clock —
    * SURVEY §7.4.2/FIXTURES §3).
    */
  def multiWindowAggs(events: DataFrame, keyCol: String, tsCol: String,
                      typeCol: String, valueCol: String, anchor: Column,
                      horizons: Seq[(String, Long)]): DataFrame = {
    val aggs: Seq[Column] = horizons.flatMap { case (sfx, secs) =>
      val inWin = col(tsCol) >= anchor - expr(s"INTERVAL $secs SECONDS") &&
        col(tsCol) <= anchor
      val clicks = sum(when(inWin && col(typeCol) === "click", 1L)
        .otherwise(0L)).as(s"clicks_$sfx")
      val views = sum(when(inWin && col(typeCol) === "view", 1L)
        .otherwise(0L)).as(s"views_$sfx")
      val evs = sum(when(inWin, 1L).otherwise(0L)).as(s"events_$sfx")
      val sumVal = sum(when(inWin, col(valueCol))).as(s"sum_value_$sfx")
      val avgVal = avg(when(inWin, col(valueCol))).as(s"avg_value_$sfx")
      Seq(clicks, views, evs, sumVal, avgVal)
    }
    val base = events.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
    horizons.foldLeft(base) { case (df, (sfx, _)) =>
      df.withColumn(s"ctr_$sfx",
        safeDiv(col(s"clicks_$sfx"), col(s"views_$sfx")))
    }
  }

  /** T3 batch form: tumbling 5-min user activity windows
    * (`feature_engineering.py:176-213`; FeatureView schema
    * `feature_definitions.py:213-232`). Emits one row per (window, user):
    * clicks, views, events, avg value. Streaming variant: same expression
    * over `readStream` + `withWatermark` (see graft.streaming). */
  def windowedActivity(events: DataFrame, keyCol: String, tsCol: String,
                       typeCol: String, valueCol: String,
                       windowLen: String = "5 minutes"): DataFrame =
    events
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(
        sum(when(col(typeCol) === "click", 1L).otherwise(0L)).as("clicks"),
        sum(when(col(typeCol) === "view", 1L).otherwise(0L)).as("views"),
        count(lit(1)).as("events"),
        sum(col(valueCol)).as("sum_value"),
        avg(col(valueCol)).as("avg_value"))
      .withColumn("ctr", safeDiv(col("clicks"), col("views")))
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")

  /** T3 EXACT trailing-window semantics in batch (SURVEY §7.4.1): for every
    * event, aggregate the same key's events in `[ts − windowSeconds, ts]`
    * via a RANGE window frame — the reference's "last 5 minutes as of now"
    * anchored at each event (`feature_engineering.py:176-213`), not an
    * aligned tumbling bucket. One shuffle + one sort per key; the frame
    * slides per row without re-scanning. */
  def trailingActivity(events: DataFrame, keyCol: String, tsCol: String,
                       typeCol: String, windowSeconds: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol))
      .orderBy(unix_timestamp(col(tsCol)))
      .rangeBetween(-windowSeconds, 0)
    events
      .withColumn("clicks_w",
        sum(when(col(typeCol) === "click", 1L).otherwise(0L)).over(w))
      .withColumn("views_w",
        sum(when(col(typeCol) === "view", 1L).otherwise(0L)).over(w))
      .withColumn("events_w", count(lit(1)).over(w))
  }

  /** T11 upgrade: gap-based sessionization in batch — a session breaks after
    * `gapSeconds` of inactivity. Classic lag + cumulative-sum-of-breaks; one
    * shuffle on the key. (The reference only counts distinct session_ids —
    * `feature_engineering.py:206` — this derives sessions from raw times.) */
  def sessionize(events: DataFrame, keyCol: String, tsCol: String,
                 gapSeconds: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol))
    events
      .withColumn("__prev", lag(col(tsCol), 1).over(w))
      .withColumn("__new_session",
        when(col("__prev").isNull ||
          unix_timestamp(col(tsCol)) - unix_timestamp(col("__prev")) >
            gapSeconds, 1L).otherwise(0L))
      .withColumn("session_idx",
        sum(col("__new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__prev", "__new_session")
  }

  /** Per-key exponentially weighted moving average of `valueCol` in event
    * order — the cumulative form of the reference's exp-decay idiom:
    * y₁ = x₁; yᵢ = α·xᵢ + (1−α)·yᵢ₋₁. EWMA is inherently sequential per
    * key, so it folds one ORDERED collected list per key with a single
    * HOF — state is the bounded per-user history (the bound
    * sessionization already assumes) and keys fold shuffle-parallel.
    * `tiebreakCol` must make (ts, tiebreak) a total order or the fold is
    * nondeterministic. Returns (key, n_events, ewma round 6). */
  def ewma(df: DataFrame, keyCol: String, tsCol: String, tiebreakCol: String,
           valueCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    val ordered = df.groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col(tsCol), col(tiebreakCol),
        col(valueCol).cast("double").as("__v")))).as("__evs"))
    val vals = transform(col("__evs"), e => e.getField("__v"))
    ordered.select(col(keyCol),
      size(col("__evs")).cast("bigint").as("n_events"),
      round(aggregate(slice(vals, lit(2), size(col("__evs")) - 1),
        element_at(vals, 1),
        (acc, x) => lit(alpha) * x + (lit(1.0) - lit(alpha)) * acc), 6)
        .as("ewma"))
  }
}
