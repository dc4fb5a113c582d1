package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge

import graft.functions.expr.{VectorDot, VectorNormSq}

/** Vector/embedding column functions (SURVEY §2.9 R1/R2, §2.12 U4) over
  * `ArrayType(FloatType)` / `ArrayType(DoubleType)` columns.
  *
  * First-tier implementation: higher-order functions (`zip_with` +
  * `aggregate`) — pure Catalyst expressions, codegen'd, no UDFs, accumulate
  * in Double regardless of element type. These mirror faiss/numpy semantics:
  *  - dot:       `retrieval.py` inner-product search, `metrics.py:382 U @ I.T`
  *  - l2 norm:   `faiss.normalize_L2` prep (`retrieval.py:85-86`)
  *  - cosine:    dot / (|a||b|), the reference's normalized-dot similarity
  */
object Vectors {

  /** R2/U4: dot product — fold over `zip_with` products in Double. */
  def vecDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Squared L2 norm. */
  def vecNormSq(a: Column): Column =
    aggregate(a, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double"))

  /** R1/F14: L2 norm. */
  def vecNorm(a: Column): Column = sqrt(vecNormSq(a))

  /** Divide every element by a precomputed scalar column. */
  def vecScale(a: Column, s: Column): Column =
    transform(a, x => x.cast("double") / s)

  /** R1: DataFrame-level L2 normalization — zero vectors pass through
    * unchanged (faiss leaves zero vectors as-is rather than dividing by
    * zero). The norm is computed once per row in its own
    * (non-collapsible) projection, then referenced by the scaling lambda —
    * O(d) per vector, not the O(d²) of a norm inside the lambda. */
  def normalized(df: DataFrame, vecCol: String, outCol: String): DataFrame =
    df.withColumn("__vecnorm", vecNormNative(col(vecCol)))
      .withColumn(outCol,
        when(col("__vecnorm") === 0.0,
          transform(col(vecCol), x => x.cast("double")))
          .otherwise(vecScale(col(vecCol), col("__vecnorm"))))
      .drop("__vecnorm")

  /** Native codegen'd dot product — identical Double array-order
    * accumulation to [[vecDot]] (bit-for-bit same results), but compiled to
    * a primitive loop inside whole-stage codegen instead of an interpreted
    * per-element lambda. Use in n²-pair similarity hot paths. */
  def vecDotNative(a: Column, b: Column): Column =
    ColumnBridge.column(VectorDot(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Native squared L2 norm (companion to [[vecDotNative]]). */
  def vecNormSqNative(a: Column): Column =
    ColumnBridge.column(VectorNormSq(ColumnBridge.expression(a)))

  /** Native L2 norm. */
  def vecNormNative(a: Column): Column = sqrt(vecNormSqNative(a))

  /** Cosine similarity = dot / (|a| |b|); 0 when either norm is 0. */
  def cosine(a: Column, b: Column): Column = {
    val denom = vecNorm(a) * vecNorm(b)
    when(denom === 0.0, lit(0.0)).otherwise(vecDot(a, b) / denom)
  }

  /** Euclidean (L2) distance. */
  def l2Distance(a: Column, b: Column): Column =
    sqrt(aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }),
      lit(0.0), (acc, x) => acc + x))

  /** P12: pad a vector with a constant to `targetDim`
    * (ref `synthetic.py:154-161` pads with noise; constant form is the
    * deterministic variant — callers can add `randn` upstream). */
  def padTo(a: Column, targetDim: Int, fill: Double = 0.0): Column =
    concat(a, array_repeat(lit(fill),
      greatest(lit(targetDim) - size(a), lit(0))))

  /** Per-vector symmetric int8 scale: max|x| / 127 (floored away from
    * zero so all-zero vectors quantize to zeros instead of NaN). The
    * standard 4× memory cut for embedding tables at retrieval scale. */
  def int8Scale(a: Column): Column =
    greatest(array_max(transform(a, x => abs(x))).cast("double"),
      lit(1e-12)) / 127.0

  /** Quantize to int8 lanes given the vector's [[int8Scale]]. round()
    * half-up matches the common reference implementations; lanes land in
    * [−127, 127] by construction of the scale. */
  def int8Quantize(a: Column, scale: Column): Column =
    transform(a, x => round(x.cast("double") / scale).cast("int"))

  /** Reconstruct the float vector from int8 lanes + scale. Quantization
    * error per lane ≤ scale/2; downstream dot/cosine error is what
    * `r13_int8_recall` measures in-query. */
  def int8Dequantize(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale)
}
