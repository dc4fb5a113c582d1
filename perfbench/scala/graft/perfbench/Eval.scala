package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.eval.RankingMetrics
import graft.ops.Relational

/** `eval`: the offline evaluation job (`c7_e2e_eval`'s pipeline), run
  * back to back while warm. The stages call the layers' public functions
  * in the registry row's order, with its four materialization points;
  * each stage is one span. Every execution's result row is handed to
  * `run.py`, which compares it with the row's DuckDB oracle. */
object Eval {
  val Ks = Seq(5, 10, 20, 50, 100)
  val Stages = Seq("sources.scan_join", "relational.labels",
    "relational.kcore", "relational.time_split", "ranking.topk_exclude",
    "ranking.metrics")

  /** One execution; returns the result row and the (inter, core) frames
    * for the k-core share. */
  def pipeline(s: SparkSession, d: String): (Row, DataFrame, DataFrame) = {
    val base = Trace.span("sources.scan_join") {
      SparkEntry.T(s, d, "lineitem")
        .join(SparkEntry.T(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("u"), col("l_partkey").as("it"),
          col("l_quantity").as("rating"), col("l_shipdate").as("sd"))
    }
    val inter = Trace.span("relational.labels") {
      Relational.implicitLabels(base, "rating", 25.0)
        .filter(col("label") === 1)
        .groupBy(col("u"), col("it")).agg(min(col("sd")).as("ts"))
        .localCheckpoint()
    }
    val core = Trace.span("relational.kcore") {
      Relational.kCore(inter, "u", "it", 5, 5, 3).localCheckpoint()
    }
    val split = Trace.span("relational.time_split") {
      Relational.timeSplit(
        core.withColumn("__tb",
          format_string("%020d%020d", col("u"), col("it"))),
        "ts", "__tb", 0.8, 0.1)
        .localCheckpoint()
    }
    val predGt = Trace.span("ranking.topk_exclude") {
      val train = split.filter(col("split") === "train")
        .select(col("u"), col("it"))
      val test = split.filter(col("split") === "test")
        .select(col("u"), col("it"))
      val pop = train.groupBy(col("it")).agg(count(lit(1)).as("c"))
      val top100Arr = pop.orderBy(col("c").desc, col("it")).limit(100)
        .agg(sort_array(collect_list(struct((-col("c")).as("nc"), col("it"))))
          .as("__t"))
        .select(transform(col("__t"), x => x.getField("it")).as("__arr"))
      val users = split.select(col("u")).distinct()
      val topItems = top100Arr.select(explode(col("__arr")).as("it"))
      val seen = train.join(broadcast(topItems), Seq("it"), "left_semi")
        .groupBy(col("u")).agg(collect_set(col("it")).as("__excl"))
      val pred = users.join(seen, Seq("u"), "left")
        .crossJoin(broadcast(top100Arr))
        .select(col("u"),
          when(col("__excl").isNull, col("__arr"))
            .otherwise(filter(col("__arr"),
              x => !array_contains(col("__excl"), x))).as("pred"))
      val gt = test.groupBy(col("u"))
        .agg(sort_array(collect_set(col("it"))).as("gt"))
      gt.join(pred, Seq("u"), "left")
        .withColumn("pred",
          coalesce(col("pred"), array().cast(pred.schema("pred").dataType)))
        .localCheckpoint()
    }
    val row = Trace.span("ranking.metrics") {
      val per = RankingMetrics.perUserMetrics(predGt, "pred", "gt", Ks)
      val metricCols = Ks.flatMap(k => Seq(s"recall_at_$k",
        s"precision_at_$k", s"ndcg_at_$k", s"hit_rate_at_$k")) ++
        Seq("mrr", "map")
      val means = per.filter(size(col("gt")) > 0).agg(
        count(lit(1)).as("n_users"),
        metricCols.map(c => round(avg(col(c)), 6).as(c)): _*)
      val cov = predGt.select(explode(slice(col("pred"), 1, 100)).as("it"))
        .agg(countDistinct(col("it")).as("nd"))
      val cat = inter.agg(countDistinct(col("it")).as("nc"))
      val rows = means.crossJoin(cov).crossJoin(cat)
        .withColumn("coverage", col("nd") / col("nc"))
        .drop("nd", "nc")
        .collect()
      require(rows.length == 1, s"eval produced ${rows.length} rows")
      rows(0)
    }
    (row, inter, core)
  }

  /** The row as JSON-ready (column -> (type, value)); doubles keep every
    * digit via their shortest round-trip decimal form. */
  def rowJson(schema: StructType,
              row: Row): java.util.Map[String, java.util.List[Any]] = {
    val m = new java.util.LinkedHashMap[String, java.util.List[Any]]()
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      val v: Any = if (row.isNullAt(i)) null else f.dataType.typeName match {
        case "double" => java.lang.Double.toString(row.getDouble(i))
        case "long"   => row.getLong(i).toString
        case t        => throw new IllegalStateException(s"eval column $t")
      }
      m.put(f.name, java.util.Arrays.asList[Any](f.dataType.typeName, v))
    }
    m
  }

  /** Measured executions at `--seconds`: a fixed count, at least two, so
    * a run always has the same number of samples. */
  def executions(seconds: Int): Int = math.max(2, seconds / 10)

  def run(spark: SparkSession, a: Main.Args, sc: Scale,
          r: Main.Result): Unit = {
    // set-up is the first, cold execution: eval has no fixture to build
    val (_, setupS) = Main.setup(pipeline(spark, a.data))
    val walls = ArrayBuffer.empty[Double]
    val rows = new java.util.ArrayList[Any]()
    val spanMark = Trace.allSpans.size
    var last: (Row, DataFrame, DataFrame) = null
    val floorMs = ArrayBuffer.empty[Double]
    for (i <- 1 to executions(a.seconds)) {
      val t0 = System.nanoTime()
      val out = try Some(Trace.request(i.toLong) {
        Trace.span("eval.execution") { pipeline(spark, a.data) }
      }) catch {
        case e: Throwable => r.fail(s"eval threw $e"); None
      }
      walls += Main.secondsSince(t0)
      if (Trace.enabled) {
        val f0 = System.nanoTime()
        Trace.span("spark.job_floor") {
          spark.sparkContext.parallelize(Seq(1), 1).count()
        }
        floorMs += (System.nanoTime() - f0) / 1e6
      }
      r.attempted += 1
      out.foreach { o =>
        last = o
        val row = if (a.corrupt == "eval" && i == 1)
          Row.fromSeq(o._1.toSeq.updated(1, o._1.getDouble(1) + 1e-6))
        else o._1
        rows.add(rowJson(o._1.schema, row))
      }
    }
    // All four are derived from the same execution walls: a batch job's
    // latency and its freshness (input to complete result) are both its
    // wall time, and a closed loop of one runs 1 / wall executions a second.
    r.e2e("latency_p50_ms") = Stats.median(walls.toSeq) * 1000
    r.e2e("throughput_per_s") = walls.size / walls.sum
    r.e2e("freshness_p50_ms") = r.e2e("latency_p50_ms")
    r.e2e("freshness_tail_ms") = Stats.tail(walls.toSeq) * 1000
    r.e2e("setup_s") = setupS
    r.notes("executions") = walls.size
    r.notes("eval_rows") = rows
    r.notes("oracle_sql") = SparkEntry.oracleSql("c7_e2e_eval")
    if (Trace.enabled && last != null)
      Layers.eval(Trace.allSpans.drop(spanMark), walls.size, last._2,
        last._3, floorMs.toSeq, r)
  }
}
