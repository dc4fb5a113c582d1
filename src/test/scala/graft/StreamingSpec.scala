package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Features, FeatureStore}
import graft.streaming.StreamingJobs

/** Structured Streaming parity tests: the streaming window job must produce
  * the same rows as the batch conditional-agg form over the same events
  * (SURVEY §7.4.1 — batch mode reproduces the reference for the oracle;
  * streaming must agree with batch). */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def eventsFixture(dir: String): Unit = {
    val rows = Seq(
      (1L, 10L, 1L, "click", 5.0, "{}"),
      (2L, 70L, 1L, "view", 3.0, "{}"),
      (3L, 290L, 1L, "click", 2.0, "{}"),
      (4L, 310L, 1L, "view", 4.0, "{}"),   // second 5-min window
      (5L, 20L, 2L, "view", 1.0, "{}"),
      (6L, 330L, 2L, "purchase", 9.0, "{}"))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_seconds(col("ts_s")))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    rows.coalesce(1).write.mode("overwrite").parquet(dir)
  }

  test("streaming term counts match the batch windowed counts (text tranche)") {
    val dir = Files.createTempDirectory("graft-docs-stream").toString
    Seq((1L, 10L, "alpha beta alpha"), (2L, 20L, "beta gamma"),
      (3L, 310L, "alpha alpha"), (4L, 620L, "gamma"))
      .toDF("doc_id", "ts_s", "text")
      .withColumn("ts", timestamp_seconds(col("ts_s"))).drop("ts_s")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    val agg = StreamingJobs.termCountStream(stream, "text", "ts", 300)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("term_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("term_out")
        .select(col("win_start").cast("long").as("ws"), col("term"), col("cnt"))
        .as[(Long, String, Long)].collect().toSet
      val batch = spark.read.parquet(dir)
        .select(col("ts"),
          explode(graft.ops.TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy(window(col("ts"), "300 seconds"), col("term"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").cast("long").as("ws"), col("term"), col("cnt"))
        .as[(Long, String, Long)].collect().toSet
      assert(got === batch)
      // golden: window [0,300) — alpha 2, beta 2, gamma 1
      assert(got((0L, "alpha", 2L)) && got((0L, "beta", 2L)) && got((0L, "gamma", 1L)))
      assert(got((300L, "alpha", 2L)) && got((600L, "gamma", 1L)))
    } finally q.stop()
  }

  test("streaming token-id encode with a frozen tokenizer equals the " +
    "batch encode (stateless projection — the incremental trainer feed)") {
    val dir = Files.createTempDirectory("graft-ids-stream").toString
    val docs = Seq((1L, "a b c a q"), (2L, "b b a z"), (3L, "c a b"))
      .toDF("doc_id", "text")
    docs.coalesce(1).write.mode("overwrite").parquet(dir)
    // tokenizer frozen OFFLINE: merges + vocab learned on the batch corpus
    val table = graft.ops.TextAnalysis
      .bpeMergesMaterialized(docs, "text", 1)
      .orderBy(col("step")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val vocab = graft.ops.TextAnalysis.bpeVocabIds(docs, "text", table, 3)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    val enc = graft.ops.TextAnalysis.bpeEncodeIdsWithVocab(
      stream, "doc_id", "text", table, vocab)
    val q = enc.writeStream.outputMode("append")
      .format("memory").queryName("ids_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ids_out")
        .as[(Long, Long, Long, Seq[Int])].collect().toSet
      val batch = graft.ops.TextAnalysis.bpeEncodeIdsWithVocab(
        spark.read.parquet(dir), "doc_id", "text", table, vocab)
        .as[(Long, Long, Long, Seq[Int])].collect().toSet
      assert(got === batch && got.size === 3)
      // and the frozen-vocab form agrees with the learn-in-place form on
      // the SAME corpus (the freeze is a no-op when nothing new arrived)
      val learned = graft.ops.TextAnalysis.bpeEncodeIds(
        docs, "doc_id", "text", table, 3)
        .as[(Long, Long, Long, Seq[Int])].collect().toSet
      assert(got === learned)
    } finally q.stop()
  }

  test("checkpoint recovery: restart resumes watermark/state, file sink stays exactly-once") {
    import java.nio.file.Files
    val srcDir = Files.createTempDirectory("graft-ckpt-src").toString
    val outDir = Files.createTempDirectory("graft-ckpt-out").toString
    val ckptDir = Files.createTempDirectory("graft-ckpt-st").toString
    def writeBatch(name: String, rows: Seq[(Long, Long, String)]): Unit =
      rows.toDF("doc_id", "ts_s", "text")
        .withColumn("ts", timestamp_seconds(col("ts_s"))).drop("ts_s")
        .coalesce(1).write.mode("append").parquet(srcDir)
    def run(): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir).schema).parquet(srcDir)
      // watermark 0 s → a window closes (and append-mode emits it to the
      // parquet sink) as soon as an event past its end arrives
      val agg = StreamingJobs.termCountStream(stream, "text", "ts", 300,
        watermark = "0 seconds")
      val q = agg.writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckptDir).start()
      try q.processAllAvailable() finally q.stop()
    }
    // run 1: two windows of data + a flusher event that closes them
    writeBatch("b1", Seq((1L, 10L, "alpha beta"), (2L, 320L, "alpha"),
      (3L, 2000L, "flush")))
    run()
    // run 2 — NEW process over the same checkpoint: the recovered
    // watermark (2000) must carry over, not restart at zero
    writeBatch("b2", Seq((4L, 2400L, "gamma alpha"), (5L, 4001L, "flush")))
    run()
    val got = spark.read.parquet(outDir)
      .select(col("win_start").cast("long"), col("term"), col("cnt"))
      .as[(Long, String, Long)].collect()
    // exactly-once across the restart: no (window, term) emitted twice
    assert(got.map(r => (r._1, r._2)).distinct.length === got.length,
      s"duplicate emissions after restart: ${got.mkString(",")}")
    // equals the batch computation over all data, restricted to closed
    // windows (end <= final watermark 4001)
    val batch = spark.read.parquet(srcDir)
      .select(col("ts"), explode(graft.ops.TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy(window(col("ts"), "300 seconds"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("window.end").cast("long") <= 4001L)
      .select(col("window.start").cast("long"), col("term"), col("cnt"))
      .as[(Long, String, Long)].collect().toSet
    assert(got.toSet === batch)
    // the pre-restart windows really were emitted by run 1, and run 2's
    // additions include batch-2 terms — i.e. state genuinely continued
    assert(got.toSet.exists(_._2 == "gamma"))
  }

  test("streaming hopping windows match the batch t4 form; each event in width/slide windows") {
    val dir = Files.createTempDirectory("graft-hop-stream").toString
    eventsFixture(dir)
    val stream = StreamingJobs.fileEvents(spark, dir)
    val agg = StreamingJobs.hoppingCountsStream(stream, 600L, 300L)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("hop_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("hop_out")
        .select(col("w_start").cast("long"), col("event_type"), col("cnt"),
          col("sum_value"))
        .as[(Long, String, Long, Double)].collect().toSet
      val batch = spark.read.parquet(dir)
        .groupBy(window(col("ts"), "600 seconds", "300 seconds"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").cast("long"), col("event_type"),
          col("cnt"), col("sum_value"))
        .as[(Long, String, Long, Double)].collect().toSet
      assert(got === batch)
      // width/slide = 2 → total (window, type) row weight is twice the
      // per-type event count: every event lands in exactly two windows
      val perType = spark.read.parquet(dir).groupBy("event_type").count()
        .as[(String, Long)].collect().toMap
      perType.foreach { case (t, n) =>
        assert(got.filter(_._2 == t).toSeq.map(_._3).sum === 2 * n,
          s"event type $t not in exactly 2 windows each")
      }
    } finally q.stop()
  }

  test("streaming 5-min window features match the batch form row-for-row (T3/T4)") {
    val dir = Files.createTempDirectory("graft-stream").toString
    eventsFixture(dir)

    val stream = StreamingJobs.fileEvents(spark, dir)
    val agg = StreamingJobs.windowedFeatures(stream, "user_id")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("win_out")
        .select(col("user_id"), col("window_start").cast("long").as("ws"),
          col("clicks"), col("views"), col("events"), col("ctr"))
        .as[(Long, Long, Long, Long, Long, Double)].collect().toSet

      val batch = Features.windowedActivity(
        spark.read.parquet(dir), "user_id", "ts", "event_type", "value")
        .select(col("user_id"), col("window_start").cast("long").as("ws"),
          col("clicks"), col("views"), col("events"), col("ctr"))
        .as[(Long, Long, Long, Long, Long, Double)].collect().toSet

      assert(got === batch)
      assert(got.nonEmpty)
      // golden spot-check: user 1, first window [0, 300): 2 clicks, 1 view
      assert(got.exists { case (u, ws, c, v, e, _) =>
        u == 1L && ws == 0L && c == 2L && v == 1L && e == 3L })
    } finally q.stop()
  }

  test("event-type dispatch branches are disjoint and complete (T2)") {
    val dir = Files.createTempDirectory("graft-stream2").toString
    eventsFixture(dir)
    val events = spark.read.parquet(dir) // dispatch logic is source-agnostic
    val branches = StreamingJobs.dispatch(events,
      Seq("click", "view", "purchase"))
    assert(branches("click").count() === 2)
    assert(branches("view").count() === 3)
    assert(branches("purchase").count() === 1)
  }

  test("stateful trailing-window stream matches the batch RANGE-frame form (T3 exact semantics)") {
    val dir = Files.createTempDirectory("graft-trail").toString
    eventsFixture(dir)
    val stream = StreamingJobs.fileEvents(spark, dir)
    val agg = StreamingJobs.trailingActivityStream(stream, 300L)
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("trail_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("trail_out")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val batch = Features.trailingActivity(
        spark.read.parquet(dir), "user_id", "ts", "event_type", 300L)
        .select(col("user_id"), col("event_id"), col("clicks_w"),
          col("views_w"), col("events_w"))
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(got === batch)
      // golden: event 3 (user 1, ts=290) sees events at 10, 70, 290 → 2 clicks
      assert(got.contains((1L, 3L, 2L, 1L, 3L)))
      // event 4 (user 1, ts=310) window [10, 310] still holds all four
      assert(got.contains((1L, 4L, 2L, 2L, 4L)))
    } finally q.stop()
  }

  test("observable stream counters surface in query progress (A12, kafka_consumer.py:33-36)") {
    val dir = Files.createTempDirectory("graft-obs").toString
    eventsFixture(dir)
    val counted = StreamingJobs.withCounters(StreamingJobs.fileEvents(spark, dir))
    val q = counted.writeStream.outputMode("append")
      .format("memory").queryName("obs_out").start()
    try {
      q.processAllAvailable()
      val metrics = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get("graft_stream"))).lastOption
      assert(metrics.isDefined, "graft_stream metrics missing from progress")
      val m = metrics.get
      assert(m.getAs[Long]("messages_processed") === 6L)
      assert(m.getAs[Long]("clicks") === 2L) // fixture: events 1 and 3
      assert(m.getAs[Long]("errors") === 0L)
    } finally q.stop()
  }

  test("partitioned upsert: only touched buckets rewritten, untouched files byte-identical (T6 scale path)") {
    import java.io.File
    val store = Files.createTempDirectory("graft-pstore").toString + "/store"
    def feat(rows: Seq[(Long, Long, Double)]) = rows
      .toDF("k", "ts_s", "v")
      .withColumn("ts", timestamp_seconds(col("ts_s")))
      .select("k", "ts", "v")
    // every data file under the store, by bucket file name: only the
    // bucket files themselves, one per bucket
    def snapshot(): Map[String, (Long, Long)] = {
      val files = new File(store).listFiles().filter(f =>
        f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      assert(files.forall(f => f.isFile && f.getName.startsWith("bucket-")),
        s"not a bucket file: ${files.map(_.getName).toSeq}")
      files.map(f => f.getName -> ((f.length(), f.lastModified()))).toMap
    }

    // seed: 40 keys spread across 8 buckets
    StreamingJobs.upsertBucketedBatch(
      feat((1L to 40L).map(k => (k, 100L, k * 1.0))),
      Seq("k"), "ts", "v", store, numBuckets = 8)
    val before = snapshot()
    assert(before.size > 1, s"fixture should span buckets, got ${before.keys}")

    // second batch: ONE key, newer ts
    StreamingJobs.upsertBucketedBatch(
      feat(Seq((7L, 200L, 99.0))), Seq("k"), "ts", "v", store, numBuckets = 8)
    val after = snapshot()

    // store semantics: latest-per-key everywhere
    val readBack = spark.read.parquet(store)
      .select(col("k"), col("ts").cast("long"), col("v"))
      .as[(Long, Long, Double)].collect()
    assert(readBack.length === 40) // one row per key
    assert(readBack.contains((7L, 200L, 99.0)))
    assert(readBack.contains((8L, 100L, 8.0)))

    // physical claim: exactly one bucket file changed; every other bucket
    // file is byte-identical (name, size, mtime)
    assert(after.keySet === before.keySet)
    val changed = before.keys.filter(b => before(b) != after(b))
    assert(changed.size === 1, s"buckets rewritten: $changed")
    // the changed bucket is key 7's bucket
    val b7 = spark.range(1).select(
      pmod(xxhash64(lit(7L)), lit(8)).cast("int")).as[Int].collect()(0)
    assert(changed.head === FeatureStore.bucketFile(b7))
    assert(!new File(store + ".stage").exists, "the stage outlived the swap")
  }

  test("a one-file-per-bucket upsert touching all 64 buckets runs at most " +
    "5 Spark jobs and lists no directory in a job; reading the store " +
    "lists none either") {
    val store = Files.createTempDirectory("graft-upjobs").toString + "/store"
    def feat(keys: Range, ts: Long) = keys.map(k => (k.toLong, ts, k * 1.0))
      .toDF("k", "ts_s", "v")
      .withColumn("ts", timestamp_seconds(col("ts_s")))
      .select("k", "ts", "v")
    StreamingJobs.upsertBucketedBatch(feat(0 until 2000, 100L), Seq("k"),
      "ts", "v", store, 64)
    val batch = feat(0 until 600, 200L)
    assert(batch.select(pmod(xxhash64(col("k")), lit(64))).distinct().count()
      === 64L, "the batch must touch every bucket")
    val ((), jobs) = TestSpark.jobNamesOf(StreamingJobs.upsertBucketedBatch(
      batch, Seq("k"), "ts", "v", store, 64))
    assert(jobs.length <= 5, s"${jobs.length} jobs: ${jobs.mkString(" | ")}")
    assert(!jobs.exists(_.startsWith("Listing leaf files")), jobs.mkString(" | "))
    val (n, reads) = TestSpark.jobNamesOf(spark.read.parquet(store).count())
    assert(n === 2000L)
    assert(!reads.exists(_.startsWith("Listing leaf files")),
      reads.mkString(" | "))
  }

  test("a swap cut short (some buckets new, one only as its aside file) " +
    "converges on retry to the no-failure store") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val base = Files.createTempDirectory("graft-halfswap").toString
    def feat(rows: Seq[(Long, Long, Double)]) = rows
      .toDF("k", "ts_s", "v")
      .withColumn("ts", timestamp_seconds(col("ts_s")))
      .select("k", "ts", "v")
    def read(store: String) = spark.read.parquet(store)
      .select(col("k"), col("ts").cast("long"), col("v"), col("__bucket"))
      .as[(Long, Long, Double, Int)].collect().toSet
    val seed = feat((1L to 40L).map(k => (k, 100L, k * 1.0)))
    val b1 = feat((1L to 40L by 3).map(k => (k, 200L, k * 10.0)))
    val fs = new Path(base).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // the no-failure run
    StreamingJobs.upsertBucketedBatch(seed, Seq("k"), "ts", "v",
      base + "/clean", 4)
    StreamingJobs.upsertBucketedBatch(b1, Seq("k"), "ts", "v",
      base + "/clean", 4)
    val want = read(base + "/clean")
    // the crashed run: buckets 0 and 1 swapped in, bucket 2 moved aside
    // and its new file not yet renamed in, bucket 3 untouched
    val store = base + "/store"
    StreamingJobs.upsertBucketedBatch(seed, Seq("k"), "ts", "v", store, 4)
    def at(dir: String, b: Int) =
      new Path(dir, FeatureStore.bucketFile(b))
    Seq(0, 1).foreach { b =>
      assert(fs.delete(at(store, b), false))
      assert(FileUtil.copy(fs, at(base + "/clean", b), fs, at(store, b),
        false, spark.sparkContext.hadoopConfiguration))
    }
    val aside = new Path(store,
      StreamingJobs.asideFile(FeatureStore.bucketFile(2)))
    assert(fs.rename(at(store, 2), aside))
    assert(read(store) !== want)
    // the retried batch restores the aside file, then re-merges
    StreamingJobs.upsertBucketedBatch(b1, Seq("k"), "ts", "v", store, 4)
    assert(read(store) === want)
    assert(!fs.exists(aside), "the aside file outlived the retry")
    assert(new java.io.File(store).list().count(_.endsWith(".parquet"))
      === 4)
  }

  test("partitioned upsert is replay-idempotent: re-applying a micro-batch is a no-op") {
    // foreachBatch gives at-least-once delivery on retry/restart — the
    // merge must make that effectively-once. latest-per-key is idempotent:
    // replaying a batch merges the same keys to the same winners.
    val store = Files.createTempDirectory("graft-replay").toString + "/store"
    def feat(rows: Seq[(Long, Long, Double)]) = rows
      .toDF("k", "ts_s", "v")
      .withColumn("ts", timestamp_seconds(col("ts_s")))
      .select("k", "ts", "v")
    def readStore() = spark.read.parquet(store)
      .select(col("k"), col("ts").cast("long"), col("v"))
      .as[(Long, Long, Double)].collect().toSet
    val b1 = feat(Seq((1L, 100L, 5.0), (2L, 100L, 6.0)))
    StreamingJobs.upsertBucketedBatch(b1, Seq("k"), "ts", "v", store, 8)
    val once = readStore()
    StreamingJobs.upsertBucketedBatch(b1, Seq("k"), "ts", "v", store, 8)
    assert(readStore() === once, "replaying the same batch changed the store")
    // a replay arriving AFTER newer data must not roll keys back either
    StreamingJobs.upsertBucketedBatch(feat(Seq((1L, 200L, 9.0))),
      Seq("k"), "ts", "v", store, 8)
    StreamingJobs.upsertBucketedBatch(b1, Seq("k"), "ts", "v", store, 8)
    assert(readStore() === Set((1L, 200L, 9.0), (2L, 100L, 6.0)))
  }

  test("partitioned upsert: streaming foreachBatch end-to-end (T6)") {
    val base = Files.createTempDirectory("graft-pstream").toString
    val src = base + "/src"
    val store = base + "/store"
    Seq((1L, 100L, 1.0), (2L, 100L, 2.0), (1L, 300L, 9.0))
      .toDF("k", "ts_s", "v")
      .withColumn("ts", timestamp_seconds(col("ts_s")))
      .select("k", "ts", "v")
      .coalesce(1).write.mode("overwrite").parquet(src)
    val stream = spark.readStream
      .schema("k LONG, ts TIMESTAMP, v DOUBLE").parquet(src)
    val q = StreamingJobs.upsertOnlineStorePartitioned(stream, Seq("k"),
      "ts", "v", store, base + "/ckpt", numBuckets = 4)
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(store)
      .select(col("k"), col("ts").cast("long"), col("v"))
      .as[(Long, Long, Double)].collect().toSet
    assert(got === Set((1L, 300L, 9.0), (2L, 100L, 2.0)))
  }

  test("bucketed merges: a zero-row batch is a no-op, not an " +
      "[UNABLE_TO_INFER_SCHEMA] crash") {
    val base = Files.createTempDirectory("graft-empty-batch").toString
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StreamingJobs.eventSchema)
    // absent store: nothing is written
    StreamingJobs.upsertBucketedBatch(empty, Seq("user_id"), "ts",
      "event_id", base + "/store1", 64)
    assert(!new java.io.File(base + "/store1").exists)
    // existing store: left exactly as it was
    val one = Seq((1L, 100L, 1L, "click", 1.0, "{}"))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_seconds(col("ts_s")))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    StreamingJobs.upsertBucketedBatch(one, Seq("user_id"), "ts",
      "event_id", base + "/store1", 64)
    StreamingJobs.upsertBucketedBatch(empty, Seq("user_id"), "ts",
      "event_id", base + "/store1", 64)
    assert(spark.read.parquet(base + "/store1").select("event_id")
      .as[Long].collect().toSeq === Seq(1L))
    // the dedup stores' merges have the same touched-bucket shape
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    StreamingJobs.incrementalDedupBatch(noDocs, "doc_id", "text",
      base + "/store2", 0L, 8)
    StreamingJobs.incrementalPassageDedupBatch(noDocs, "doc_id", "text",
      base + "/store3", 0L, 8)
    assert(!new java.io.File(base + "/store2").exists)
    assert(!new java.io.File(base + "/store3").exists)
  }

  test("bucketed stores refuse a second bucket count: the layout recorded " +
    "at the store root must match every later batch") {
    val base = Files.createTempDirectory("graft-layout").toString
    def feat(k: Long, ts: Long) = Seq((k, ts, k.toDouble))
      .toDF("k", "ts_s", "v")
      .withColumn("ts", timestamp_seconds(col("ts_s"))).select("k", "ts", "v")
    val store = base + "/store"
    StreamingJobs.upsertBucketedBatch(
      (1L to 40L).map(k => (k, 100L, k.toDouble)).toDF("k", "ts_s", "v")
        .withColumn("ts", timestamp_seconds(col("ts_s")))
        .select("k", "ts", "v"), Seq("k"), "ts", "v", store, 64)
    assert(ops.FeatureStore.readLayout(spark, store) ===
      Some(ops.FeatureStore.BucketLayout(64, Seq("k"))))
    def rows() = spark.read.parquet(store).select("k", "__bucket")
      .as[(Long, Int)].collect().toSet
    val before = rows()
    // a key whose bucket differs under 32: merged into its new bucket, its
    // old row would stay behind in the old one
    val k = (1L to 40L).find(k => before.exists(r => r._1 == k && r._2 >= 32))
      .get
    val e = intercept[IllegalArgumentException] {
      StreamingJobs.upsertBucketedBatch(feat(k, 200L), Seq("k"), "ts", "v",
        store, 32)
    }
    assert(e.getMessage.contains("laid out as"))
    assert(rows() === before, "the refused batch changed the store")
    intercept[IllegalArgumentException] { // another key column set
      StreamingJobs.upsertBucketedBatch(feat(k, 200L).withColumnRenamed(
        "v", "w").withColumn("v", lit(0.0)), Seq("k", "w"), "ts", "v",
        store, 64)
    }
    StreamingJobs.upsertBucketedBatch(feat(k, 200L), Seq("k"), "ts", "v",
      store, 64)
    assert(rows().count(_._1 == k) === 1)
    // the dedup stores record and check their layout the same way
    val docs = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id",
      "text")
    StreamingJobs.incrementalDedupBatch(docs, "doc_id", "text",
      base + "/dedup", 0L, 8)
    intercept[IllegalArgumentException] {
      StreamingJobs.incrementalDedupBatch(docs, "doc_id", "text",
        base + "/dedup", 1L, 4)
    }
    StreamingJobs.incrementalPassageDedupBatch(docs, "doc_id", "text",
      base + "/passages", 0L, 8)
    intercept[IllegalArgumentException] {
      StreamingJobs.incrementalPassageDedupBatch(docs, "doc_id", "text",
        base + "/passages", 1L, 16)
    }
    assert(ops.FeatureStore.readLayout(spark, base + "/passages") ===
      Some(ops.FeatureStore.BucketLayout(8, Seq("__key"))))
    // a store in the partitioned layout (__bucket= directories) is
    // refused, with or without a record, so one store never mixes layouts
    val dirs = base + "/dirs"
    spark.read.parquet(store).write.partitionBy("__bucket").parquet(dirs)
    val refused = intercept[IllegalArgumentException] {
      StreamingJobs.upsertBucketedBatch(feat(k, 300L), Seq("k"), "ts", "v",
        dirs, 64)
    }
    assert(refused.getMessage.contains("__bucket= partition directories"))
    assert(spark.read.parquet(dirs).count() === 40L)
  }

  test("watermarked windowed features stream into the bucketed store " +
      "across the no-data batch a watermark advance schedules") {
    val base = Files.createTempDirectory("graft-window-upsert").toString
    Seq((0L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L,
        "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(base + "/in")
    val q = StreamingJobs.upsertOnlineStorePartitioned(
      StreamingJobs.windowedFeatures(
        StreamingJobs.fileEvents(spark, base + "/in"), "user_id"),
      Seq("user_id", "window_start"), "window_end", "events",
      base + "/store", base + "/ckpt")
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.exists(p => p.batchId == 1 && p.numInputRows == 0),
      "fixture should reach the no-data batch")
    assert(spark.read.parquet(base + "/store")
      .select(col("user_id"), col("clicks"), col("events"))
      .as[(Long, Long, Long)].collect().toSeq === Seq((1L, 1L, 1L)))
  }

  test("partitioned upsert: mid-write crash after staging, before swap, " +
      "recovers exactly-once from checkpoint (T6 failure injection)") {
    // The worst crash window: the micro-batch has done its work (staging
    // directory written) but the store swap and checkpoint commit have NOT
    // happened. The engine must retry the batch on restart, the retry must
    // re-merge against the UNTOUCHED store, and the recovered store must
    // equal the no-failure run bit-for-semantics.
    val base = Files.createTempDirectory("graft-pcrash").toString
    val src = base + "/src"
    val store = base + "/store"
    val ckpt = base + "/ckpt"
    def feat(rows: Seq[(Long, Long, Double)]) = rows
      .toDF("k", "ts_s", "v")
      .withColumn("ts", timestamp_seconds(col("ts_s")))
      .select("k", "ts", "v")
    def readStore() = spark.read.parquet(store)
      .select(col("k"), col("ts").cast("long"), col("v"))
      .as[(Long, Long, Double)].collect().toSet
    def runStream(): Unit = {
      val stream = spark.readStream
        .schema("k LONG, ts TIMESTAMP, v DOUBLE").parquet(src)
      val q = StreamingJobs.upsertOnlineStorePartitioned(stream, Seq("k"),
        "ts", "v", store, ckpt, numBuckets = 4)
      try q.processAllAvailable() finally q.stop()
    }
    val abortKey = "spark.graft.upsert.abortAfterStage"

    // batch 0: clean seed
    feat(Seq((1L, 100L, 1.0), (2L, 100L, 2.0)))
      .coalesce(1).write.mode("overwrite").parquet(src)
    runStream()
    val afterSeed = readStore()
    assert(afterSeed === Set((1L, 100L, 1.0), (2L, 100L, 2.0)))

    // batch 1 arrives; its micro-batch is aborted post-stage
    feat(Seq((1L, 300L, 9.0), (3L, 100L, 3.0)))
      .coalesce(1).write.mode("append").parquet(src)
    spark.conf.set(abortKey, "once")
    val failed = intercept[Exception](runStream())
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(failed).exists(c =>
        Option(c.getMessage).exists(_.contains("injected post-stage abort"))),
      s"expected the injected abort, got: $failed")
    // the crash window left the store untouched
    assert(readStore() === afterSeed, "store mutated before the swap")

    // restart from the checkpoint: the engine retries batch 1 against the
    // unmodified store; recovery must equal the no-failure outcome
    spark.conf.unset(abortKey)
    runStream()
    assert(readStore() ===
      Set((1L, 300L, 9.0), (2L, 100L, 2.0), (3L, 100L, 3.0)))
    // and an extra restart with nothing new is a no-op (no double apply)
    runStream()
    assert(readStore() ===
      Set((1L, 300L, 9.0), (2L, 100L, 2.0), (3L, 100L, 3.0)))
  }

  test("streaming sessionization matches the batch lag+cumsum form (T11)") {
    val dir = Files.createTempDirectory("graft-sess").toString
    eventsFixture(dir) // user 1: ts 10,70,290,310; user 2: ts 20,330
    val stream = StreamingJobs.sessionizeStream(
      StreamingJobs.fileEvents(spark, dir), gapSeconds = 100L)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sess_out")
      .as[(Long, Long, Long)].collect().toSet
    val batch = Features.sessionize(
      spark.read.parquet(dir), "user_id", "ts", 100L)
      .select(col("user_id"), col("event_id"), col("session_idx"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got === batch)
    // golden: user 1 gaps 60,220,20 → sessions 1,1,2,2; user 2 gap 310 → 1,2
    assert(got.contains((1L, 1L, 1L)) && got.contains((1L, 3L, 2L)))
    assert(got.contains((2L, 6L, 2L)))
  }

  test("idle-key state TTL: a key silent past the timeout re-sessionizes " +
    "from a fresh index (T11 state bound)") {
    val dir = Files.createTempDirectory("graft-sess-ttl").toString
    def append(rows: Seq[(Long, Long, Long)]): Unit = // (event_id, user, ts_s)
      rows.toDF("event_id", "user_id", "ts_s")
        .withColumn("ts", timestamp_seconds(col("ts_s")))
        .withColumn("event_type", lit("click"))
        .withColumn("value", lit(1.0))
        .withColumn("props", lit("{}"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
    // With a processing-time timeout set the query runs timer-check
    // batches continuously and never reaches a no-new-data state, so this
    // test POLLS the sink instead of processAllAvailable/AvailableNow
    // (both would wait forever — see the scaladoc caveat).
    val stream = StreamingJobs.sessionizeStream(
      StreamingJobs.fileEvents(spark, dir), gapSeconds = 100L,
      idleStateTimeout = Some("1 second"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("sess_ttl_out").start()
    def sink(): Set[(Long, Long, Long)] =
      spark.table("sess_ttl_out").as[(Long, Long, Long)].collect().toSet
    def waitFor(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis + 60000
      while (!cond && System.currentTimeMillis < deadline) Thread.sleep(200)
      assert(cond, s"condition not reached; sink=${sink()}")
    }
    try {
      append(Seq((1L, 1L, 10L), (2L, 1L, 20L)))
      waitFor(sink() === Set((1L, 1L, 1L), (1L, 2L, 1L)))
      // idle past the timeout: the continuously-running timer batches
      // expire user 1's state (no new data needed to trigger them)
      Thread.sleep(3000)
      // user 1 returns: with state expired it restarts at session 1 (the
      // huge ts gap would have made it session 2 had state survived)
      append(Seq((4L, 1L, 100000L)))
      waitFor(sink().contains((1L, 4L, 1L)))
    } finally q.stop()
  }

  test("stream-stream interval join (attribution) matches the batch join") {
    val dir = Files.createTempDirectory("graft-attr-stream").toString
    // user 1: view@10 → clicks@100 (in horizon) and @400 (out);
    // view@350 → click@400 (in). user 2: click@50 with no view → dropped.
    val rows = Seq(
      (1L, 10L, 1L, "view", 0.0, "{}"),
      (2L, 100L, 1L, "click", 0.0, "{}"),
      (3L, 400L, 1L, "click", 0.0, "{}"),
      (4L, 350L, 1L, "view", 0.0, "{}"),
      (5L, 50L, 2L, "click", 0.0, "{}"),
      (6L, 500L, 3L, "view", 0.0, "{}"))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_seconds(col("ts_s")))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    rows.coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = StreamingJobs.fileEvents(spark, dir)
    val views = stream.filter(col("event_type") === "view")
    val clicks = stream.filter(col("event_type") === "click")
    val joined = StreamingJobs.attributionStream(views, clicks, 120L)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("attr_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("attr_out")
        .select("user_id", "click_id", "view_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(got === Set((1L, 2L, 1L), (1L, 3L, 4L)))
      // batch parity: identical join over the static frames
      val batch = spark.read.parquet(dir)
      val bv = batch.filter(col("event_type") === "view")
        .select(col("user_id").as("view_user"), col("event_id").as("view_id"),
          col("ts").as("view_ts"))
      val bc = batch.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      val expected = bc.join(bv,
          col("user_id") === col("view_user") &&
            col("click_ts") >= col("view_ts") &&
            col("click_ts") <= col("view_ts") + expr("INTERVAL 120 SECONDS"))
        .select("user_id", "click_id", "view_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(got === expected)
    } finally q.stop()
  }

  test("stream-static broadcast enrich matches the batch join") {
    // the serving-side enrichment shape: an unbounded stream joined to a
    // broadcastable dimension — per micro-batch a broadcast hash join,
    // no stream-side state at all (unlike stream-stream)
    val dir = Files.createTempDirectory("graft-enrich-stream").toString
    val rows = Seq(
      (1L, 10L, 1L, "click", 1.0, "{}"),
      (2L, 20L, 2L, "view", 2.0, "{}"),
      (3L, 30L, 3L, "click", 3.0, "{}"),
      (4L, 40L, 1L, "view", 4.0, "{}"))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_seconds(col("ts_s")))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    rows.coalesce(1).write.mode("overwrite").parquet(dir)
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "segment")
    val enriched = StreamingJobs.fileEvents(spark, dir)
      .join(broadcast(dim), Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("segment"), lit("unknown")).as("segment"))
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("enrich_out")
        .as[(Long, Long, String)].collect().toSet
      assert(got === Set((1L, 1L, "gold"), (2L, 2L, "silver"),
        (3L, 3L, "unknown"), (4L, 1L, "gold")))
    } finally q.stop()
  }

  test("TTL freshness filter drops expired rows (T8)") {
    val store = Seq((1L, 100L), (2L, 240L)).toDF("k", "ts_s")
      .withColumn("ts", timestamp_seconds(col("ts_s")))
    val fresh = FeatureStore.freshOnly(store, "ts",
      timestamp_seconds(lit(300L)), 100L)
    assert(fresh.select("k").as[Long].collect().toSeq === Seq(2L))
  }

  test("incremental dedup stream: first-seen doc wins within and across batches") {
    val base = Files.createTempDirectory("graft-incdedup").toString
    val src = base + "/src"
    val store = base + "/store"
    val ckpt = base + "/ckpt"
    def run(): Unit = {
      val s = spark.readStream.schema("doc_id LONG, text STRING").parquet(src)
      val q = StreamingJobs.incrementalDedupStream(s, "doc_id", "text",
        store, ckpt, numBuckets = 4)
      try q.processAllAvailable() finally q.stop()
    }
    def kept(): Set[Long] = StreamingJobs.dedupedCorpus(spark, store)
      .select("doc_id").as[Long].collect().toSet

    // batch 0: one within-batch normalize-dup (11 of 10) + a unique doc
    val b0 = Seq((10L, "the quick brown fox"),
      (11L, "THE QUICK  brown fox"), (12L, "unique one"))
    b0.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(src)
    run()
    assert(kept() === Set(10L, 12L))

    // batch 1: a cross-batch dup of doc 10, a new doc, and a dup PAIR
    // arriving together (first of the pair is the keeper)
    val b1 = Seq((20L, "the  QUICK brown fox"), (21L, "unique two"),
      (22L, "pair text"), (23L, "PAIR  text"))
    b1.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
    run()
    assert(kept() === Set(10L, 12L, 21L, 22L))

    // at-least-once safety: directly re-applying a batch 1 row with its
    // original batchId is a no-op (replay re-derives the same minimum)
    StreamingJobs.incrementalDedupBatch(
      Seq((20L, "the quick brown fox")).toDF("doc_id", "text"),
      "doc_id", "text", store, batchId = 1L, numBuckets = 4)
    assert(kept() === Set(10L, 12L, 21L, 22L))

    // the accumulated store equals the BATCH exact dedup of everything
    // ingested (ids arrive in increasing order here, so first-seen and
    // min-id winners coincide — the regime where the two forms must agree)
    val batchKept = graft.ops.Dedup.exactDedup(
      (b0 ++ b1).toDF("doc_id", "text"), "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept() === batchKept)

    // kept rows carry the original payload, bookkeeping columns dropped
    assert(StreamingJobs.dedupedCorpus(spark, store).columns.sorted
      === Array("doc_id", "text"))
  }

  test("incremental dedup long-run: store file count is bounded (swap replaces, never accumulates)") {
    // The long-run contract the IncDedupLongRun harness (last in commit
    // 65b4b15) measured at 100 batches, pinned structurally at 12: the
    // dynamic-partition swap REPLACES each touched bucket directory, so
    // files-per-bucket never grows with batch count — the store needs no
    // compaction pass. (The knob that governs REWRITE cost is
    // numBuckets ∝ corpus; see that harness's scaladoc.)
    val base = Files.createTempDirectory("graft-incdedup-lr").toString
    val store = base + "/store"
    def parquetFiles(): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1L else 0L
      walk(new java.io.File(store))
    }
    def ingest(b: Long): Unit = graft.streaming.StreamingJobs
      .incrementalDedupBatch(
        (0 until 40).map(i => (b * 1000 + i, s"doc $i of batch $b"))
          .toDF("doc_id", "text"),
        "doc_id", "text", store, batchId = b, numBuckets = 4)
    (0L until 4L).foreach(ingest)
    val filesAt4 = parquetFiles()
    (4L until 12L).foreach(ingest)
    val filesAt12 = parquetFiles()
    assert(filesAt4 > 0)
    // every batch touches all 4 buckets (40 uniform keys), so if files
    // accumulated the count would triple; bounded means it stays flat
    assert(filesAt12 <= filesAt4,
      s"store files grew across batches: $filesAt4 -> $filesAt12")
    // and the store still holds every distinct doc
    assert(graft.streaming.StreamingJobs.dedupedCorpus(spark, store)
      .count() === 12L * 40L)
  }

  test("incremental PASSAGE dedup: cross-batch winner, within-batch order, " +
    "replay no-op, store reassembles the rewritten corpus") {
    val store = Files.createTempDirectory("graft-incpass").toString + "/store"
    val A = (1 to 16).map(i => s"a$i").mkString(" ")
    val B = (1 to 16).map(i => s"b$i").mkString(" ")
    val C = (1 to 16).map(i => s"c$i").mkString(" ")
    def clean() = StreamingJobs.passageCleanCorpus(spark, store, "doc_id")
      .as[(Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // batch 0: doc 10 = [A, B]; doc 11 = [B, C] -> within-batch, B's first
    // occurrence is (10, idx 1), so doc 11 keeps only C
    StreamingJobs.incrementalPassageDedupBatch(
      Seq((10L, s"$A $B"), (11L, s"$B $C")).toDF("doc_id", "text"),
      "doc_id", "text", store, batchId = 0L, numBuckets = 4)
    assert(clean() === Map(10L -> ((2L, s"$A $B")), 11L -> ((1L, C))))
    // batch 1: doc 5 (SMALLER id, later batch) offers [A] — the store's
    // batch-0 winner must hold: first-WRITER wins, not min-id
    StreamingJobs.incrementalPassageDedupBatch(
      Seq((5L, A)).toDF("doc_id", "text"),
      "doc_id", "text", store, batchId = 1L, numBuckets = 4)
    assert(clean() === Map(10L -> ((2L, s"$A $B")), 11L -> ((1L, C))),
      "a later batch stole an existing passage winner")
    // replaying batch 0 with its original batchId is a no-op
    StreamingJobs.incrementalPassageDedupBatch(
      Seq((10L, s"$A $B")).toDF("doc_id", "text"),
      "doc_id", "text", store, batchId = 0L, numBuckets = 4)
    assert(clean() === Map(10L -> ((2L, s"$A $B")), 11L -> ((1L, C))))
  }

  test("incremental PASSAGE dedup: post-stage crash recovers exactly-once " +
    "from checkpoint (streaming form)") {
    // The x25 crash proof, verbatim shape, on the passage store: the
    // worst window is after staging, before the bucket swap — the store
    // must be untouched, and the checkpoint must replay the micro-batch
    // with its ORIGINAL batchId so recovery converges to the same
    // winners.
    val base = Files.createTempDirectory("graft-incpass-crash").toString
    val src = base + "/src"
    val store = base + "/store"
    val ckpt = base + "/ckpt"
    val A = (1 to 16).map(i => s"a$i").mkString(" ")
    val B = (1 to 16).map(i => s"b$i").mkString(" ")
    val C = (1 to 16).map(i => s"c$i").mkString(" ")
    def run(): Unit = {
      val s = spark.readStream.schema("doc_id LONG, text STRING").parquet(src)
      val q = StreamingJobs.incrementalPassageDedupStream(s, "doc_id",
        "text", store, ckpt, numBuckets = 4)
      try q.processAllAvailable() finally q.stop()
    }
    def clean() = StreamingJobs.passageCleanCorpus(spark, store, "doc_id")
      .as[(Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    Seq((10L, s"$A $B")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(src)
    run()
    assert(clean() === Map(10L -> ((2L, s"$A $B"))))

    // batch 1 offers a duplicate of A (must lose to the stored winner)
    // and a fresh passage C (must land) — crash after staging first
    Seq((5L, s"$A $C")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(src)
    val abortKey = "spark.graft.upsert.abortAfterStage"
    spark.conf.set(abortKey, "once")
    intercept[Exception](run())
    assert(clean() === Map(10L -> ((2L, s"$A $B"))),
      "store mutated before the swap")
    spark.conf.unset(abortKey)
    run()
    assert(clean() === Map(10L -> ((2L, s"$A $B")), 5L -> ((1L, C))),
      "post-crash replay did not converge to first-writer winners")
    run() // extra restart with nothing new: no-op
    assert(clean() === Map(10L -> ((2L, s"$A $B")), 5L -> ((1L, C))))
  }

  test("incremental dedup: post-stage crash recovers exactly-once from checkpoint") {
    val base = Files.createTempDirectory("graft-incdedup-crash").toString
    val src = base + "/src"
    val store = base + "/store"
    val ckpt = base + "/ckpt"
    def run(): Unit = {
      val s = spark.readStream.schema("doc_id LONG, text STRING").parquet(src)
      val q = StreamingJobs.incrementalDedupStream(s, "doc_id", "text",
        store, ckpt, numBuckets = 4)
      try q.processAllAvailable() finally q.stop()
    }
    def kept(): Set[Long] = StreamingJobs.dedupedCorpus(spark, store)
      .select("doc_id").as[Long].collect().toSet
    Seq((1L, "seed doc")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(src)
    run()
    assert(kept() === Set(1L))

    Seq((2L, "SEED  doc"), (3L, "fresh doc")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(src)
    val abortKey = "spark.graft.upsert.abortAfterStage"
    spark.conf.set(abortKey, "once")
    intercept[Exception](run())
    assert(kept() === Set(1L), "store mutated before the swap")
    spark.conf.unset(abortKey)
    run()
    assert(kept() === Set(1L, 3L))
    run() // extra restart with nothing new: no-op
    assert(kept() === Set(1L, 3L))
  }

  test("IVF-indexed streaming append: stream assignment equals batch on " +
    "the same frozen centroids; incremental waves; rebuild swaps and " +
    "clears the delta (R7∘R4)") {
    val base = Files.createTempDirectory("graft-ivfstream").toString
    val src = s"$base/src"; val delta = s"$base/delta"
    val bs = s"$base/store"; val cp = s"$base/cp"
    val vecs = (0 until 40).map(i =>
      (i.toLong, Seq((i % 7).toFloat, (i % 5).toFloat, (i % 3).toFloat)))
    vecs.take(25).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(src)
    // FROZEN centroids: picked once from the first wave, localCheckpointed
    val cents = ops.Similarity.pickCentroids(
      spark.read.parquet(src), "vec_id", "embedding", 4).localCheckpoint(false)
    def drain(): Unit = {
      val q = StreamingJobs.ivfIndexedAppendStream(
        spark.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>")
          .parquet(src), cents, "embedding", delta, cp)
      q.awaitTermination(60000)
    }
    drain()
    // wave 2 appends; same frozen table, same checkpoint — only the new
    // files are processed (incremental O(touched))
    vecs.drop(25).toDF("vec_id", "embedding")
      .write.mode("append").parquet(src)
    drain()
    def got(): Map[Long, Long] =
      StreamingJobs.ivfServingCatalog(spark, bs, delta, "vec_id")
        .select(col("vec_id"), col("centroid_id").cast("long"))
        .as[(Long, Long)].collect().toMap
    val expect = ops.Similarity.assignClusters(
        vecs.toDF("vec_id", "embedding"), "embedding", cents)
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(got() === expect, "stream assignment diverged from batch")
    assert(got().size === 40)
    // the delta is centroid_id-partitioned (what the probe's equi-join
    // prunes on)
    assert(new java.io.File(delta).listFiles()
      .exists(_.getName.startsWith("centroid_id=")), "no partition dirs")
    // periodic re-train: full-catalog centroids, swap into base, delta
    // cleared; the catalog view stays one-row-per-id and matches a fresh
    // batch assignment against the NEW frozen table
    val cents2 = StreamingJobs.rebuildIvfStore(spark, bs, delta,
      "vec_id", "embedding", nlist = 4, iters = 1)
    assert(!new java.io.File(delta).exists(), "delta not cleared")
    assert(!new java.io.File(bs + ".old").exists(), ".old not cleared")
    assert(!new java.io.File(bs + ".stage").exists(), ".stage not cleared")
    // crash-window fallback: between the swap's two renames the current
    // base is briefly at base.old — the catalog view must fall back to
    // it and serve the full pre-rebuild view
    assert(new java.io.File(bs).renameTo(new java.io.File(bs + ".old")))
    assert(StreamingJobs.ivfServingCatalog(spark, bs, delta, "vec_id")
      .count() === 40L, "base.old fallback broken")
    assert(new java.io.File(bs + ".old").renameTo(new java.io.File(bs)))
    val expect2 = ops.Similarity.assignClusters(
        vecs.toDF("vec_id", "embedding"), "embedding", cents2)
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(got() === expect2, "rebuilt store diverged from batch reassign")
    // next epoch: a third wave lands in the (recreated) delta and the
    // union view picks it up — offsets carried over, nothing re-ingested
    Seq((100L, Seq(9f, 9f, 9f))).toDF("vec_id", "embedding")
      .write.mode("append").parquet(src)
    val q3 = StreamingJobs.ivfIndexedAppendStream(
      spark.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>")
        .parquet(src), cents2, "embedding", delta, cp)
    q3.awaitTermination(60000)
    assert(got().size === 41)
    assert(got().contains(100L))
  }

  test("IVF store guards (r18): crash-recovery rebuild keeps the only " +
    "live copy; delta wins duplicates deterministically; rebuild lock " +
    "fails appends loudly; pruned serving matches the full catalog") {
    val base = Files.createTempDirectory("graft-ivfguards").toString
    val bs = s"$base/store"; val delta = s"$base/delta"
    val vecs = (0 until 30).map(i =>
      (i.toLong, Seq((i % 7).toFloat, (i % 5).toFloat, (i % 3).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val cents = ops.Similarity.pickCentroids(df, "vec_id", "embedding", 4)
      .localCheckpoint(false)
    StreamingJobs.ivfIndexedAppendBatch(df, cents, "embedding", delta)
    StreamingJobs.rebuildIvfStore(spark, bs, delta, "vec_id", "embedding",
      nlist = 4, iters = 1)
    // --- ADVICE r17 scenario: a PRIOR swap crashed between its two
    // renames — base is absent, base.old is the ONLY live copy. The
    // re-run must converge WITHOUT losing base-only rows (the old code
    // deleted base.old before the stage->base rename; a crash in that
    // window left no live copy at all, and the next rebuild silently
    // retrained from delta alone).
    assert(new java.io.File(bs).renameTo(new java.io.File(bs + ".old")))
    StreamingJobs.ivfIndexedAppendBatch(
      Seq((200L, Seq(8f, 8f, 8f))).toDF("vec_id", "embedding"),
      cents, "embedding", delta)
    StreamingJobs.rebuildIvfStore(spark, bs, delta, "vec_id", "embedding",
      nlist = 4, iters = 1)
    val ids = StreamingJobs.ivfServingCatalog(spark, bs, delta, "vec_id")
      .select("vec_id").as[Long].collect().toSet
    assert(ids === (vecs.map(_._1).toSet + 200L),
      "crash-recovery rebuild lost base-only rows")
    assert(!new java.io.File(bs + ".old").exists())
    // --- deterministic duplicate winner: the same id in base AND delta
    // (the rebuild crash window / a replay straddling a rebuild) must
    // resolve to the DELTA row — the fresher assignment — not an
    // arbitrary dropDuplicates pick.
    StreamingJobs.ivfIndexedAppendBatch(
      Seq((5L, Seq(100f, 100f, 100f))).toDF("vec_id", "embedding"),
      cents, "embedding", delta)
    val dup = StreamingJobs.ivfServingCatalog(spark, bs, delta, "vec_id")
      .filter(col("vec_id") === 5L)
      .select(col("embedding")).as[Seq[Float]].collect()
    assert(dup.length === 1)
    assert(dup.head === Seq(100f, 100f, 100f),
      s"base/delta duplicate must resolve to the delta row, got $dup")
    // --- rebuild lock: while present, appends fail LOUDLY (an append in
    // the rebuild window lands in a delta about to be deleted)
    val lock = new java.io.File(StreamingJobs.rebuildLockPath(delta))
    assert(lock.createNewFile())
    val e = intercept[IllegalArgumentException] {
      StreamingJobs.ivfIndexedAppendBatch(
        Seq((300L, Seq(1f, 2f, 3f))).toDF("vec_id", "embedding"),
        cents, "embedding", delta)
    }
    assert(e.getMessage.contains("rebuild in progress"))
    // a stale lock (crashed rebuild) is adopted by the re-run, which
    // clears it on completion — appends work again
    StreamingJobs.rebuildIvfStore(spark, bs, delta, "vec_id", "embedding",
      nlist = 4, iters = 0)
    assert(!lock.exists(), "rebuild must clear its lock")
    StreamingJobs.ivfIndexedAppendBatch(
      Seq((300L, Seq(1f, 2f, 3f))).toDF("vec_id", "embedding"),
      cents, "embedding", delta)
    // --- pruned serving (servedTopKFromStore) ≡ serving over the full
    // catalog, and the probed set reaches the scans as partitionFilters
    val cents2 = ops.Similarity.pickCentroids(
      StreamingJobs.ivfServingCatalog(spark, bs, delta, "vec_id"),
      "vec_id", "embedding", 4).localCheckpoint(false)
    val reqs = df.filter(col("vec_id") < 5)
      .select(col("vec_id").as("u"), col("embedding"))
    val full = ops.Similarity.clusterPrunedTopKStored(reqs,
      StreamingJobs.ivfServingCatalog(spark, bs, delta, "vec_id"),
      "u", "vec_id", "embedding", 3, cents2, nprobe = 2)
    val pruned = ops.Similarity.servedTopKFromStore(reqs, bs, delta,
      "u", "vec_id", "embedding", 3, cents2, nprobe = 2)
    assert(pruned.orderBy("query_id", "rank").collect().toSeq ===
      full.orderBy("query_id", "rank").collect().toSeq,
      "pruned serving diverged from the full catalog")
    val scans = pruned.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.partitionFilters.exists(
            _.references.exists(_.name == "centroid_id")) => f
    }
    assert(scans.nonEmpty, "probed set did not reach partitionFilters")
  }

  test("IVF store pruning (ADVICE r18): base/delta cell-straddle — a " +
    "stale base row whose fresh delta row lives in an UNPROBED cell is " +
    "not served; pruned ≡ full-catalog serving") {
    val base = Files.createTempDirectory("graft-ivfstraddle").toString
    val bs = s"$base/store"; val delta = s"$base/delta"
    // Two well-separated cells. Id 1 STRADDLES: its stale base row sits
    // in cell 0 (near the origin), its fresh delta row moved to cell 1.
    // A query at the origin with nprobe=1 probes ONLY cell 0 — the
    // unpruned catalog's delta-wins dedup leaves id 1 in cell 1 (not a
    // candidate); pruning below the dedup without the straddle guard
    // would serve the stale base row instead.
    Seq((1L, Seq(0.1f, 0.1f), 0L), (2L, Seq(0.3f, 0.0f), 0L),
        (4L, Seq(0.0f, 0.4f), 0L), (3L, Seq(10f, 10f), 1L))
      .toDF("vec_id", "embedding", "centroid_id")
      .write.partitionBy("centroid_id").parquet(bs)
    Seq((1L, Seq(9.9f, 9.9f), 1L))
      .toDF("vec_id", "embedding", "centroid_id")
      .write.partitionBy("centroid_id").parquet(delta)
    val cents = Seq((0L, Seq(0f, 0f)), (1L, Seq(10f, 10f)))
      .toDF("centroid_id", "centroid_vec")
    val reqs = Seq((100L, Seq(0f, 0f))).toDF("u", "embedding")
    val full = ops.Similarity.clusterPrunedTopKStored(reqs,
      StreamingJobs.ivfServingCatalog(spark, bs, delta, "vec_id"),
      "u", "vec_id", "embedding", 3, cents, nprobe = 1)
    val pruned = ops.Similarity.servedTopKFromStore(reqs, bs, delta,
      "u", "vec_id", "embedding", 3, cents, nprobe = 1)
    val prunedRows = pruned.orderBy("query_id", "rank").collect().toSeq
    assert(prunedRows === full.orderBy("query_id", "rank").collect().toSeq,
      "pruned serving diverged from the full catalog on a cell-straddle")
    assert(!prunedRows.exists(_.getLong(2) == 1L),
      "the straddling id's STALE base row was served from the probed cell")
    assert(prunedRows.map(_.getLong(2)).toSet === Set(2L, 4L),
      s"expected exactly the live cell-0 candidates, got $prunedRows")
    // every scan reads with the schema inference would give the store
    val readSchemas = pruned.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.schema
    }
    assert(readSchemas.length === 2) // the probed base cells, delta ids
    readSchemas.foreach(rs => assert(rs === spark.read.parquet(bs).schema))
    // multi-query local-relation requests, with probed cells missing from
    // one half: cell 2 lives only in the delta, cell 0 only in the base
    Seq((5L, Seq(20f, 0.5f), 2L), (6L, Seq(19f, 0f), 2L))
      .toDF("vec_id", "embedding", "centroid_id")
      .write.mode("append").partitionBy("centroid_id").parquet(delta)
    val cents3 = Seq((0L, Seq(0f, 0f)), (1L, Seq(10f, 10f)),
      (2L, Seq(20f, 0f))).toDF("centroid_id", "centroid_vec")
    val multi = Seq((100L, Seq(0f, 0f)), (101L, Seq(10f, 9f)),
      (102L, Seq(19f, 1f)), (103L, Seq(0.2f, 0.1f)))
      .toDF("u", "embedding")
    for (np <- 1 to 3) {
      val fullM = ops.Similarity.clusterPrunedTopKStored(multi,
        StreamingJobs.ivfServingCatalog(spark, bs, delta, "vec_id"),
        "u", "vec_id", "embedding", 3, cents3, nprobe = np)
        .orderBy("query_id", "rank").collect().toSeq
      val prunedM = ops.Similarity.servedTopKFromStore(multi, bs, delta,
        "u", "vec_id", "embedding", 3, cents3, nprobe = np)
        .orderBy("query_id", "rank").collect().toSeq
      assert(prunedM === fullM, s"nprobe=$np")
      assert(prunedM.map(_.getLong(0)).distinct.length === 4)
    }
    // a probed cell held by neither half: an empty answer, no failure
    val far = cents3.union(Seq((3L, Seq(100f, 100f))).toDF("centroid_id",
      "centroid_vec"))
    assert(ops.Similarity.servedTopKFromStore(
      Seq((104L, Seq(99f, 99f))).toDF("u", "embedding"), bs, delta, "u",
      "vec_id", "embedding", 3, far, nprobe = 1).count() === 0L)
  }

  test("one-key served top-k from a rebuilt IVF store runs at most 4 " +
    "Spark jobs and equals serving over the full catalog") {
    val base = Files.createTempDirectory("graft-ivfjobs").toString
    val bs = s"$base/store"; val delta = s"$base/delta"
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 400).map(i =>
      (i.toLong, Seq.fill(8)(rnd.nextGaussian())))
    val df = vecs.toDF("vec_id", "vec")
    val seeds = ops.Similarity.pickCentroids(df, "vec_id", "vec", 16)
      .localCheckpoint()
    StreamingJobs.ivfIndexedAppendBatch(df, seeds, "vec", delta)
    val cents = StreamingJobs.rebuildIvfStore(spark, bs, delta, "vec_id",
      "vec", 16)
    val q = Seq((1L, vecs(7)._2)).toDF("u", "vec")
    val (top, jobs) = TestSpark.jobsOf(ops.Similarity.servedTopKFromStore(
      q, bs, delta, "u", "vec_id", "vec", 10, cents, 4, "cosine").collect())
    assert(top.length === 10)
    assert(jobs <= 4, s"$jobs jobs")
    val full = ops.Similarity.clusterPrunedTopKStored(q,
      StreamingJobs.ivfServingCatalog(spark, bs, delta, "vec_id"),
      "u", "vec_id", "vec", 10, cents, 4, "cosine").collect()
    assert(top.sortBy(_.getInt(1)).toSeq === full.sortBy(_.getInt(1)).toSeq)
  }

  test("rebuildIvfStore lock lifecycle (ADVICE r18): a bootstrap rebuild " +
    "(empty store) fails WITHOUT minting a lock; a non-crash failure " +
    "after the lock is taken clears it on the way out") {
    val base = Files.createTempDirectory("graft-ivfboot").toString
    val bs = s"$base/store"; val delta = s"$base/delta"
    val lock = new java.io.File(StreamingJobs.rebuildLockPath(delta))
    // bootstrap: neither base nor delta exists — the old code created
    // the lock BEFORE ivfServingCatalog's require fired and never
    // removed it, permanently blocking appends on an empty store whose
    // only advertised recovery (re-run the rebuild) could never succeed
    intercept[IllegalArgumentException] {
      StreamingJobs.rebuildIvfStore(spark, bs, delta, "vec_id",
        "embedding", nlist = 2)
    }
    assert(!lock.exists(), "bootstrap failure must not leave a lock")
    // non-crash failure past the validation: delta exists but lacks the
    // vector column, so the rebuild fails at analysis — the lock must be
    // cleared (persistence is reserved for actual process death)
    Seq((1L, 2L)).toDF("vec_id", "other").write.parquet(delta)
    intercept[Throwable] {
      StreamingJobs.rebuildIvfStore(spark, bs, delta, "vec_id",
        "embedding", nlist = 2)
    }
    assert(!lock.exists(), "non-crash rebuild failure must clear its lock")
    // and appends still work afterwards (the failure did not wedge them)
    val cents = Seq((0L, Seq(0f, 0f))).toDF("centroid_id", "centroid_vec")
    StreamingJobs.ivfIndexedAppendBatch(
      Seq((7L, Seq(1f, 1f))).toDF("vec_id", "embedding"),
      cents, "embedding", delta)
  }
}
