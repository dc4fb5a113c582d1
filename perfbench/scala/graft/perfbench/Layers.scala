package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics of a traced run, named `<layer>.<metric>`. A workload
  * reports the layers it calls; `run.py` reports 0 for the layers a
  * workload bypasses, so every traced run prints the full list. */
object Layers {
  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def ms(s: Span): Double = (s.endNs - s.startNs) / 1e6
  private def work(ss: Seq[Span]): Seq[Work] =
    ss.flatMap(s => Trace.workOf(Trace.spanKey(s.id)))

  /** Time from job submission to its first task starting, mean over jobs. */
  def slotWaitMs(ws: Seq[Work]): Double = mean(ws.flatMap(_.jobTimes)
    .filter(_(1) != Long.MaxValue).map(t => (t(1) - t(0)).toDouble))

  /** Maximum over median task time. */
  def skew(ws: Seq[Work]): Double = {
    val t = ws.flatMap(_.taskMs).map(_.toDouble)
    if (t.isEmpty) 0.0 else t.max / math.max(1.0, Stats.median(t))
  }

  /** Wall time not covered by any job of `ws`, in ms, for a span. */
  def driverMs(s: Span, ws: Seq[Work]): Double =
    ms(s) - Trace.union(ws.flatMap(_.jobTimes).map(t => (t(0), t(2))))

  def common(spans: Seq[Span], floorMs: Seq[Double], r: Main.Result): Unit = {
    r.layers("spark.job_floor_ms") =
      if (floorMs.isEmpty) 0.0 else Stats.median(floorMs)
    r.layers("spark.slot_wait_ms") =
      slotWaitMs(work(spans.filter(_.name != "spark.job_floor")))
  }

  def serve(all: Seq[Span], recall: Double, floorMs: Seq[Double],
            r: Main.Result): Unit = {
    val measured = all.filter(_.req > 0)
    def layer(name: String, prefix: String, rowsOut: Double): Unit = {
      val ss = measured.filter(_.name == name)
      val ws = work(ss)
      val n = math.max(1, ss.size).toDouble
      r.layers(s"$prefix.${name.split('.')(1)}_ms") = mean(ss.map(ms))
      r.layers(s"$prefix.${name.split('.')(1)}_jobs") = ws.map(_.jobs).sum / n
      r.layers(s"$prefix.${name.split('.')(1)}_tasks") = ws.map(_.tasks).sum / n
      r.layers(s"$prefix.rows_read_per_" +
        (if (prefix == "feature_store") "row_returned" else "result")) =
        ws.map(_.recordsRead).sum / (n * rowsOut)
    }
    layer("feature_store.lookup", "feature_store", 1.0)
    layer("similarity.retrieve", "similarity", Serve.K.toDouble)
    val ret = measured.filter(_.name == "similarity.retrieve")
    r.layers("similarity.driver_ms") = mean(ret.map(s =>
      driverMs(s, work(Seq(s)))))
    r.layers("similarity.recall_at_10") = recall
    common(measured ++ all.filter(_.name == "spark.job_floor"), floorMs, r)
  }

  def eval(all: Seq[Span], execs: Int, inter: DataFrame, core: DataFrame,
           floorMs: Seq[Double], r: Main.Result): Unit = {
    val self = Trace.selfNs(all)
    val n = math.max(1, execs).toDouble
    Eval.Stages.foreach { st =>
      val ss = all.filter(_.name == st)
      val ws = work(ss)
      r.layers(s"${st}_s") = ss.map(s => self(s.id)).sum / 1e9 / n
      r.layers(s"${st}_jobs") = ws.map(_.jobs).sum / n
      r.layers(s"${st}_tasks") = ws.map(_.tasks).sum / n
      r.layers(s"${st}_shuffle_write_mb") =
        ws.map(_.shuffleWriteBytes).sum / 1e6 / n
      r.layers(s"${st}_spill_mb") = ws.map(_.spillBytes).sum / 1e6 / n
      r.layers(s"${st}_task_skew") = skew(ws)
    }
    r.layers("relational.kcore_rows_kept_share") =
      core.count().toDouble / math.max(1L, inter.count())
    val execSpans = all.filter(_.name == "eval.execution")
    val kids = all.groupBy(_.parent)
    r.layers("spark.driver_plan_s") = mean(execSpans.map { e =>
      driverMs(e, work(kids.getOrElse(e.id, Nil))) / 1000.0 })
    common(all, floorMs, r)
  }

  def ingest(spark: SparkSession, progress: Seq[StreamingQueryProgress],
             fileBatch: Map[String, Long], generated: DataFrame,
             store: String, sc: Scale, r: Main.Result): Unit = {
    def dur(k: String): Double = Stats.median(progress.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val ws = progress.flatMap(p => Trace.workOf(Trace.triggerKey(p.batchId)))
    val n = math.max(1, progress.size).toDouble
    if (progress.nonEmpty) {
      r.layers("streaming.trigger_ms") = dur("triggerExecution")
      r.layers("streaming.add_batch_ms") = dur("addBatch")
      r.layers("streaming.query_planning_ms") = dur("queryPlanning")
      r.layers("streaming.wal_commit_ms") = dur("walCommit")
      r.layers("streaming.commit_offsets_ms") = dur("commitOffsets")
      r.layers("streaming.latest_offset_ms") = dur("latestOffset")
      r.layers("streaming.rows_per_trigger") =
        Stats.median(progress.map(_.numInputRows.toDouble))
    }
    r.layers("feature_store.upsert_jobs") = ws.map(_.jobs).sum / n
    r.layers("feature_store.upsert_tasks") = ws.map(_.tasks).sum / n
    val batches = progress.map(_.batchId).toSet
    import spark.implicits._
    val touched = generated
      .join(fileBatch.toSeq.filter(fb => batches(fb._2)).toDF("__file", "__batch"),
        "__file")
      .groupBy(col("__batch"))
      .agg(countDistinct(pmod(xxhash64(col("user_id")), lit(sc.buckets)))
        .as("b"))
      .collect().map(_.getLong(1).toDouble)
    r.layers("feature_store.buckets_rewritten_per_trigger") =
      if (touched.isEmpty) 0.0 else Stats.median(touched.toSeq)
    val inBytes = new java.io.File(generated.inputFiles.headOption
      .map(p => new java.net.URI(p).getPath).getOrElse(".")).getParentFile
      .listFiles().filter(f => batches.exists(b =>
        fileBatch.get(f.getName).contains(b))).map(_.length).sum
    r.layers("feature_store.bytes_written_per_byte_ingested") =
      ws.map(_.bytesWritten).sum.toDouble / math.max(1L, inBytes)
    def files(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(files).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    r.layers("feature_store.store_files_end") = files(new java.io.File(store))
  }
}
