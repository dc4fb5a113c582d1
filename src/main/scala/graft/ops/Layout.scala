package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical-layout tools for the 100 TB posture (SURVEY §4.2 / builder
  * brief: "co-locate joins via bucketing, salting for skew").
  *
  * These are the knobs a 1000-executor deployment turns that local
  * correctness tests can't show: bucketed tables make repeated big-big
  * joins shuffle-free, and salted aggregation keeps one hot key from
  * serializing a stage.
  */
object Layout {

  /** Write a bucketed (and bucket-sorted) table: joins and aggregations on
    * `bucketCols` against tables bucketed the same way need NO exchange and
    * NO sort — the shuffle is paid once at write time instead of per query.
    * (Bucketing requires the table catalog, hence `saveAsTable`.) */
  def writeBucketed(df: DataFrame, tableName: String, numBuckets: Int,
                    bucketCols: Seq[String]): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(tableName)

  /** Compact a fragmented parquet directory into ≈`targetRowsPerFile`
    * outputs — the small-files remedy for streaming / per-batch
    * incremental sinks, whose many tiny files degrade every later scan
    * (task-per-file scheduling, no row-group locality). One count (cheap:
    * parquet footer metadata), one round-robin repartition, one rewrite —
    * to a FRESH directory, never in place, so concurrent readers of the
    * old path stay consistent and the swap is an atomic rename/pointer
    * flip. Returns the row count written. */
  def compact(spark: org.apache.spark.sql.SparkSession, inPath: String,
              outPath: String, targetRowsPerFile: Long): Long = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    val df = spark.read.parquet(inPath)
    val n = df.count()
    val nFiles = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile)
    df.repartition(nFiles.toInt).write.mode("overwrite").parquet(outPath)
    n
  }

  /** 2-D Z-value (Morton code): interleaves the low 16 bits of two
    * non-negative integer columns, bit i of `a` landing at bit 2i and bit
    * i of `b` at bit 2i+1. Sorting by the Z-value clusters rows that are
    * close in BOTH dimensions — the multi-column analogue of a sort key.
    * Where a linear sort gives parquet min/max pruning on its leading
    * column only, a Z-ordered layout gives usable min/max ranges on both,
    * so scans filtering on EITHER dimension skip row groups. Pure
    * bit-arithmetic column expression (the classic parallel-prefix bit
    * spread) — whole-stage-codegen'd, no UDF. */
  def zValue2(a: Column, b: Column): Column = {
    def spread(x: Column): Column = {
      val v0 = x.cast("long").bitwiseAND(lit(0xFFFFL))
      val v1 = v0.bitwiseOR(shiftleft(v0, 8)).bitwiseAND(lit(0x00FF00FFL))
      val v2 = v1.bitwiseOR(shiftleft(v1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      val v3 = v2.bitwiseOR(shiftleft(v2, 2)).bitwiseAND(lit(0x33333333L))
      v3.bitwiseOR(shiftleft(v3, 1)).bitwiseAND(lit(0x55555555L))
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** Two-phase salted aggregation for skewed keys: phase 1 pre-aggregates
    * on (key, salt) so a hot key spreads over `saltBuckets` reducers; phase
    * 2 merges the partials per key. Exactly the same sums/counts as a
    * direct groupBy — the salt only reshapes the shuffle.
    *
    * (AQE's skew-join handling covers joins; this is the aggregation-side
    * equivalent for when a single group dwarfs the rest.) */
  def saltedSumCount(df: DataFrame, keyCols: Seq[String], valueCol: String,
                     saltBuckets: Int): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(saltBuckets.toLong)))
    val partial = salted
      .groupBy((keyCols.map(col) :+ col("__salt")): _*)
      .agg(sum(col(valueCol)).as("__psum"), count(lit(1)).as("__pcnt"))
    partial
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("__psum")).as(s"sum_$valueCol"),
        sum(col("__pcnt")).as("cnt"))
  }
}
