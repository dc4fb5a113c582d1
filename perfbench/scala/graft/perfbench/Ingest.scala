package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.SparkEntry
import graft.ops.FeatureStore
import graft.streaming.StreamingJobs

/** The ingest phase of `ingest_serve`: the write side of the online store
  * the serve phase reads. An open-loop generator (`run.py`, a separate
  * process) publishes one parquet file of events per second; the stream
  * `fileEvents → withCounters → upsertOnlineStorePartitioned` (key
  * `user_id`, latest `ts`, tiebreak `event_id`) merges them into a store
  * pre-seeded with the seed events. Freshness runs from an event's
  * creation (due) time to the commit of the trigger that made it readable.
  *
  * The stateless upsert is used on purpose: the watermarked
  * `windowedFeatures → upsertOnlineStorePartitioned` query dies on its
  * first no-data micro-batch (see perfbench/NOTES.md, "Known defect"). */
object Ingest {
  val Keys = Seq("user_id")
  /** Files the set-up drains before measuring are named with this prefix. */
  val WarmupPrefix = "warmup"
  val EventCols = Serve.EventCols

  final case class Fixture(input: String, store: String, checkpoint: String,
                           query: StreamingQuery)

  /** Seed a fresh store under `dir` and start the stream on `input`; the
    * warm-up file already in `input` is drained before returning. */
  def build(spark: SparkSession, data: String, input: String, dir: String,
            sc: Scale): Fixture = {
    val store = s"$dir/online"
    val ckpt = s"$dir/checkpoint"
    Trace.span("feature_store.seed_store") {
      StreamingJobs.upsertBucketedBatch(SparkEntry.E(spark, data), Keys,
        "ts", "event_id", store, sc.buckets)
    }
    val q = Trace.span("streaming.start") {
      val q = StreamingJobs.upsertOnlineStorePartitioned(
        StreamingJobs.withCounters(StreamingJobs.fileEvents(spark, input)),
        Keys, "ts", "event_id", store, ckpt, sc.buckets)
      q.processAllAvailable()
      q
    }
    Fixture(input, store, ckpt, q)
  }

  /** (file name, batch id) for every file the stream took, from the file
    * source's log in the checkpoint (plain and compacted entries). */
  def filesPerBatch(ckpt: String): Map[String, Long] = {
    val dir = new java.io.File(s"$ckpt/sources/0")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Option(dir.listFiles()).toSeq.flatten.filter(f => !f.getName.startsWith("."))
      .flatMap { f =>
        java.nio.file.Files.readAllLines(f.toPath).asScala
          .filter(_.startsWith("{")).map { line =>
            val n = mapper.readTree(line)
            new java.io.File(new java.net.URI(n.get("path").asText)).getName ->
              n.get("batchId").asLong
          }
      }.toMap
  }

  /** Commit time of a trigger, in epoch ms: its start plus its duration. */
  def commitMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.get("triggerExecution").longValue

  /** The ingest phase: hand over to the generator, drain the stream once
    * its last file is out, then check every event and the store. Returns
    * the expected store: latest row per key over seed + generated events. */
  def measure(spark: SparkSession, a: Main.Args, sc: Scale, fx: Fixture,
              r: Main.Result): Array[Row] = {
    val done = new java.io.File(a.work, "generator.json")
    println("READY")
    System.out.flush()
    while (!done.exists()) Thread.sleep(50)
    fx.query.processAllAvailable()
    fx.query.stop()
    fx.query.exception.foreach(e => r.fail(s"stream died: $e"))

    // --- freshness: each event's due time to its trigger's commit ---
    val fileBatch = filesPerBatch(fx.checkpoint)
    val measured = fileBatch.collect {
      case (f, b) if !f.startsWith(WarmupPrefix) => b }.toSet
    val progress = fx.query.recentProgress
      .filter(p => p.numInputRows > 0 && measured(p.batchId))
      .groupBy(_.batchId).map(_._2.last).toSeq.sortBy(_.batchId)
    val commit = progress.map(p => p.batchId -> commitMs(p)).toMap
    progress.foreach(p => Trace.record("streaming.trigger", p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli, commitMs(p)))
    val generated = spark.read.schema(StreamingJobs.eventSchema)
      .parquet(fx.input)
      .withColumn("__file", col("_metadata.file_name"))
    val events = generated.select(col("__file"), col("event_id"),
      (unix_micros(col("ts")) / 1000.0).as("due_ms")).collect()
    val fresh = ArrayBuffer.empty[Double]
    var lost = 0L
    events.filterNot(_.getString(0).startsWith(WarmupPrefix)).foreach { e =>
      fileBatch.get(e.getString(0)) match {
        case Some(b) if commit.contains(b) =>
          fresh += commit(b) - e.getDouble(2)
        case _ => lost += 1
      }
    }
    r.attempted += fresh.size + lost
    if (lost > 0) {
      r.failed += lost
      r.failures += s"$lost generated events never committed"
    }

    // --- the store must equal latest-per-key over seed + generated; both
    // are one row per key, small enough to compare on the driver ---
    val want = FeatureStore.latestPerKey(
      SparkEntry.E(spark, a.data).select(EventCols.map(col): _*)
        .unionByName(generated.select(EventCols.map(col): _*)),
      Keys, "ts", "event_id").collect()
    val got = spark.read.parquet(fx.store).select(EventCols.map(col): _*)
      .collect()
    val diff = want.diff(got).length + got.diff(want).length
    if (diff > 0) {
      r.failed += diff
      r.failures += s"store differs from latest-per-key in $diff rows"
    }

    if (fresh.isEmpty) r.fail("no generated event was committed")
    else {
      r.e2e("freshness_p50_ms") = Stats.median(fresh.toSeq)
      r.e2e("freshness_tail_ms") = Stats.tail(fresh.toSeq)
    }
    r.notes("events") = fresh.size
    r.notes("triggers") = progress.size
    if (Trace.enabled)
      Layers.ingest(spark, progress, fileBatch, generated, fx.store, sc, r)
    want
  }
}
