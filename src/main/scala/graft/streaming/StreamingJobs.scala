package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.ops.{Features, FeatureStore}

/** Structured Streaming jobs (SURVEY §2.11 T1–T11) — the reference's Kafka
  * consumer loop (`src/streaming/kafka_consumer.py`) re-expressed as
  * declarative streaming queries with watermarks and checkpoints.
  *
  * Design decisions vs the reference (documented divergences, SURVEY §7.4):
  *  - T9: the reference has NO late-data story (arrival order, offset=latest);
  *    we adopt `withWatermark(ts, 10 minutes)` as the default policy.
  *  - T6: the reference pushes per-event 1-row "feature frames" into a mock
  *    store and never aggregates them; the true semantics is the windowed
  *    aggregation (T3/T4), which is what the streaming query computes.
  *  - exactly-once: checkpointed sinks replace the consumer group's
  *    auto-commit (`kafka_consumer.py:58-59`).
  */
object StreamingJobs {

  /** Event-stream schema (ref `kafka_consumer.py:197-228`; matches the
    * driver testdata events table). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** T1/S5: Kafka source → JSON-decoded event frame. Requires the
    * spark-sql-kafka connector on the cluster classpath (not shipped in this
    * test environment — exercised via [[fileEvents]] locally; the plan shape
    * downstream is identical). */
  def kafkaEvents(spark: SparkSession, bootstrapServers: String,
                  topics: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topics)
      .option("startingOffsets", "latest")
      .load()
      .select(from_json(col("value").cast("string"), eventSchema).as("e"))
      .select("e.*")

  /** File-based event stream (tests + replay): same schema, same downstream
    * plan as the Kafka source. */
  def fileEvents(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(path)

  /** A12: observable stream counters (messages processed / clicks / errors —
    * ref `kafka_consumer.py:33-36,101-107`) surfaced per micro-batch via
    * `df.observe`, readable from a `StreamingQueryListener`. */
  def withCounters(events: DataFrame): DataFrame =
    events.observe("graft_stream",
      count(lit(1)).as("messages_processed"),
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
      sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("errors"))

  /** T2: event-type dispatch — one filtered branch per handled type
    * (ref `kafka_consumer.py:38-46,80-107`). */
  def dispatch(events: DataFrame, types: Seq[String]): Map[String, DataFrame] =
    types.map(t => t -> events.filter(col("event_type") === t)).toMap

  /** T3/T4 (+T11 counters): watermarked tumbling-window activity features
    * per key — clicks, views, events, value sum, CTR
    * (ref `feature_engineering.py:176-228`; views
    * `feature_definitions.py:213-252`). Identical aggregate expressions to
    * the batch form (`Features.windowedActivity`) so batch/stream parity is
    * testable row-for-row. */
  def windowedFeatures(events: DataFrame, keyCol: String,
                       windowLen: String = "5 minutes",
                       watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col(keyCol))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"),
        count(lit(1)).as("events"),
        sum(col("value")).as("sum_value"),
        avg(col("value")).as("avg_value"))
      .withColumn("ctr", Features.safeDiv(col("clicks"), col("views")))
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")

  /** T3 exact-trailing semantics in streaming: arbitrary stateful
    * processing via `flatMapGroupsWithState` keeping a bounded per-key
    * event buffer — each event emits counts over that key's events in
    * `[ts − windowSeconds, ts]`, matching the batch RANGE-frame form
    * (`Features.trailingActivity`) for in-order data. Buffer is pruned to
    * the window width on every batch, so state is O(events-per-window).
    * Events arriving across batches out of order see the buffer as-of
    * arrival (the reference processes in arrival order too — T9).
    *
    * `idleStateTimeout`: opt-in processing-time TTL for idle keys — a key
    * silent that long has its buffer dropped (the buffer only describes a
    * window in the past, so expiry is lossless for future events). Set it
    * on unbounded key spaces, where NoTimeout state grows O(distinct keys
    * ever seen). Opt-in rather than default because once processing-time
    * timers exist the engine schedules timer-check batches FOREVER — the
    * query never self-terminates (`Trigger.AvailableNow` included) and
    * `processAllAvailable` never latches; that trade belongs to long-lived
    * production queries, not batch drains. */
  def trailingActivityStream(events: DataFrame, windowSeconds: Long,
                             idleStateTimeout: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(
      col("user_id"), col("event_id"),
      unix_timestamp(col("ts")).as("ts_s"), col("event_type"))
      .as[(Long, Long, Long, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[List[(Long, String)], (Long, Long, Long, Long, Long)](
        OutputMode.Append,
        if (idleStateTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[(Long, Long, Long, String)],
         state: GroupState[List[(Long, String)]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var buf = state.getOption.getOrElse(Nil)
            val incoming = it.toList.sortBy(e => (e._3, e._2))
            val out = incoming.map { case (_, id, ts, tp) =>
              buf = (ts, tp) :: buf
              val win = buf.filter(e => e._1 >= ts - windowSeconds && e._1 <= ts)
              (user, id,
                win.count(_._2 == "click").toLong,
                win.count(_._2 == "view").toLong,
                win.size.toLong)
            }
            val maxTs = incoming.lastOption.map(_._3).getOrElse(Long.MinValue)
            state.update(buf.filter(_._1 >= maxTs - windowSeconds))
            idleStateTimeout.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
      .toDF("user_id", "event_id", "clicks_5min", "views_5min", "events_5min")
  }

  /** T6 at 100 TB: hash-bucketed online-store upsert. The store is a
    * parquet table of `numBuckets` files, one per bucket
    * `__bucket = pmod(xxhash64(key...), numBuckets)`
    * ([[graft.ops.FeatureStore.BucketLayout]]); each micro-batch merges
    * latest-per-key ONLY for the buckets its keys touch and swaps just
    * those bucket files by rename. Per-batch work is O(size of touched
    * buckets), not O(store): a batch touching k distinct keys reads and
    * rewrites at most min(k, numBuckets) of the numBuckets files. Size
    * numBuckets so one bucket ≈ a few HDFS blocks (store_size /
    * numBuckets ~ 128–512 MB). The untouched bucket files are never
    * opened — asserted byte-for-byte in StreamingSpec. (Production
    * alternative with file-level ACID merge: Delta/Iceberg MERGE INTO;
    * this is the dependency-free parquet equivalent of the same
    * pruned-rewrite plan.) */
  def upsertOnlineStorePartitioned(features: DataFrame, keyCols: Seq[String],
                                   tsCol: String, tiebreakCol: String,
                                   storePath: String, checkpointPath: String,
                                   numBuckets: Int = 64): StreamingQuery =
    features.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertBucketedBatch(batch, keyCols, tsCol, tiebreakCol, storePath,
          numBuckets)
      }
      .start()

  /** The per-micro-batch bucketed merge (exposed for batch upsert jobs and
    * tests). The store records its layout (`numBuckets`, `keyCols`) at
    * its root on the first merge; a batch with another layout fails
    * before it touches the store. */
  def upsertBucketedBatch(batch: DataFrame, keyCols: Seq[String],
                          tsCol: String, tiebreakCol: String,
                          storePath: String, numBuckets: Int): Unit =
    mergeTouchedBuckets(batch.withColumn("__bucket",
        FeatureStore.bucketOf(keyCols.map(col), numBuckets)),
      storePath, FeatureStore.BucketLayout(numBuckets, keyCols)) { all =>
      FeatureStore.latestPerKey(all, keyCols, tsCol, tiebreakCol)
    }

  /** The touched-buckets merge shared by every bucketed store: read the
    * store's rows in the buckets `incoming` touches, `merge` them with
    * `incoming`, and swap the result in ([[stageAndSwapBuckets]]).
    * `layout` must match the one recorded at the store root: under a
    * second bucket count the merge would read only the new buckets and
    * leave a key's old row in its old bucket, so the key would have two
    * rows. The record is written after the first swap (and after any
    * swap that finds it missing, so a crash between the two heals on
    * the next batch). A store written before the record existed is
    * recorded with the layout of its next batch; a store in the older
    * partitioned layout (`__bucket=` directories) is refused, so one
    * store never mixes the two. The root is listed once with Hadoop FS
    * calls, which also finishes a swap a crash cut short; the touched
    * buckets' files are read with a footer schema (no Spark job lists
    * the store or infers its schema) under a `_metadata.file_name`
    * filter, left out when every bucket file is touched. The `touched`
    * collect is bounded by numBuckets — a driver-side action on purpose,
    * it IS the bucket-pruning decision. */
  private def mergeTouchedBuckets(incoming: DataFrame, storePath: String,
                                  layout: FeatureStore.BucketLayout)(
                                  merge: DataFrame => DataFrame): Unit = {
    val spark = incoming.sparkSession
    val root = new Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = if (fs.exists(root)) fs.listStatus(root).toSeq else Nil
    require(!listed.exists(_.getPath.getName.startsWith("__bucket=")),
      s"bucketed store $storePath holds __bucket= partition directories " +
        "(the older layout); a one-file-per-bucket merge would mix layouts")
    val recorded = FeatureStore.readLayout(spark, storePath)
    recorded.foreach(r => require(r == layout,
      s"bucketed store $storePath is laid out as $r; a batch with $layout " +
        "would give a key rows in two buckets"))
    val present = restoreAsides(fs, root, listed.map(_.getPath.getName))
    val touched = incoming.select(col("__bucket")).distinct()
      .collect().map(_.getInt(0))
    // A zero-row batch (the no-data batch Spark runs after a watermark
    // advance) touches no bucket: nothing to merge, and nothing to stage.
    if (touched.isEmpty) return
    val read = touched.map(FeatureStore.bucketFile).filter(present)
    // Explicit existence check, NOT a catch-all: a transient read failure on
    // an existing store must fail the micro-batch (checkpoint retries it),
    // never silently rewrite touched buckets from the batch alone.
    val existing =
      if (read.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        incoming.schema)
      else {
        val all = spark.read
          .schema(footerSchema(spark, new Path(root, read.head)))
          .parquet(storePath)
        if (read.length == present.size) all
        else all.filter(col("_metadata.file_name").isin(read: _*))
      }
    stageAndSwapBuckets(spark,
      merge(existing.unionByName(incoming, allowMissingColumns = true)),
      touched, fs, root)
    if (recorded.isEmpty) FeatureStore.writeLayout(spark, storePath, layout)
  }

  /** The hidden name a bucket file is moved aside to while its
    * replacement is renamed in; Spark's file listing skips it. */
  private[graft] def asideFile(bucketFile: String): String =
    s".$bucketFile.aside"

  /** Finish what a crash in [[stageAndSwapBuckets]] left under the root
    * (`names`): an aside file whose bucket file is missing is renamed
    * back (the crash fell between moving it aside and renaming the new
    * file in), any other aside file is deleted. Returns the bucket
    * files the store then holds. */
  private def restoreAsides(fs: FileSystem, root: Path,
                            names: Seq[String]): Set[String] = {
    val files = names.filter(_.endsWith(".parquet")).filterNot(n =>
      n.startsWith(".") || n.startsWith("_")).toSet
    names.filter(n => n.startsWith(".") && n.endsWith(".aside"))
      .foldLeft(files) { (have, aside) =>
        val file = aside.stripPrefix(".").stripSuffix(".aside")
        if (have(file)) { fs.delete(new Path(root, aside), false); have }
        else {
          require(fs.rename(new Path(root, aside), new Path(root, file)),
            s"bucketed store $root: restoring $aside failed")
          have + file
        }
      }
  }

  /** Write the merged touched buckets ONCE into the sibling `.stage`,
    * one file per bucket, then swap each staged file over its bucket
    * file by rename (Spark rejects overwriting a path the plan reads
    * from); untouched bucket files are neither read nor rewritten, and
    * the stage is not read back. Each swap moves the old bucket file
    * aside before the rename and deletes it after, so a crash at any
    * point leaves every bucket as a file or an aside file, which the
    * next merge restores before it reads ([[restoreAsides]]): the retry
    * re-merges the same batch, which every bucketed merge absorbs
    * idempotently. Shared by every bucketed foreachBatch merge
    * ([[upsertBucketedBatch]], [[incrementalDedupBatch]],
    * [[incrementalPassageDedupBatch]]) so the crash-window proofs cover
    * all of them. */
  private def stageAndSwapBuckets(spark: SparkSession, merged: DataFrame,
                                  touched: Seq[Int], fs: FileSystem,
                                  root: Path): Unit = {
    val stage = new Path(root.toString + ".stage")
    // repartition by __bucket so each touched bucket is written as ONE
    // file by one task: without it, every writer task holding rows of a
    // bucket opens its own file, and since the merge shuffle's
    // AQE-coalesced task count grows with store size, file count crept
    // toward numBuckets x tasks (a 100-batch long run measured 64 buckets
    // -> 462 files at numBuckets=1024; IncDedupLongRun harness, last in
    // commit 65b4b15). The stage is partitioned by a copy of __bucket, so
    // the staged file keeps __bucket as its last data column.
    merged.select((merged.columns.filterNot(_ == "__bucket") :+ "__bucket")
        .map(col): _*)
      .withColumn("__stage_bucket", col("__bucket"))
      .repartition(col("__stage_bucket"))
      .write.mode("overwrite").partitionBy("__stage_bucket")
      .parquet(stage.toString)
    val staged = fs.listStatus(stage).toSeq.collect {
      case d if d.isDirectory &&
          d.getPath.getName.startsWith("__stage_bucket=") =>
        val b = d.getPath.getName.stripPrefix("__stage_bucket=").toInt
        val parts = fs.listStatus(d.getPath).toSeq.map(_.getPath)
          .filterNot(f => f.getName.startsWith(".") ||
            f.getName.startsWith("_"))
        require(parts.length == 1,
          s"stageAndSwapBuckets: bucket $b staged as ${parts.length} files")
        b -> parts.head
    }.toMap
    require(staged.keySet == touched.toSet, "stageAndSwapBuckets: staged " +
      s"buckets ${staged.keys.toSeq.sorted} are not the touched ones")
    // Failure-injection point for the exactly-once proof (StreamingSpec):
    // "once" aborts the micro-batch AFTER the staging write but BEFORE the
    // store swap — the worst crash window (work done, store untouched,
    // checkpoint uncommitted). The streaming engine retries the batch from
    // the checkpoint; the retry re-merges from the UNMODIFIED store, so
    // recovery must equal the no-failure run.
    val abortKey = "spark.graft.upsert.abortAfterStage"
    if (spark.conf.getOption(abortKey).contains("once")) {
      spark.conf.set(abortKey, "done")
      throw new IllegalStateException("injected post-stage abort (test)")
    }
    fs.mkdirs(root)
    staged.toSeq.sortBy(_._1).foreach { case (b, file) =>
      val target = new Path(root, FeatureStore.bucketFile(b))
      val aside = new Path(root, asideFile(target.getName))
      if (fs.exists(target))
        require(fs.rename(target, aside), s"rename $target -> $aside failed")
      require(fs.rename(file, target), s"rename $file -> $target failed")
      fs.delete(aside, false)
    }
    fs.delete(stage, true)
  }

  /** Streaming incremental exact dedup — the ingest-time form of
    * `Dedup.exactDedup`: documents arrive in micro-batches and the store
    * accumulates the FIRST-seen row per normalized-content key, so a doc
    * that duplicates anything already ingested (or an earlier row of its
    * own batch) never enters the corpus. The store IS the deduped corpus:
    * hash-bucketed parquet keyed on the md5 content key, merged per batch
    * with the same touched-buckets-only staged swap as the feature-store
    * upsert — per-batch work is O(batch + touched buckets), never a
    * corpus rescan, and the crash-recovery/replay-idempotence proofs
    * carry over ([[stageAndSwapBuckets]]). First-writer-wins keeps the
    * merge idempotent under at-least-once delivery: replaying a batch
    * re-derives the same (seen-batch, id) minimum.
    *
    * Dedup is FULL-HISTORY: identity lives in the bucketed store, not
    * executor state, so the horizon is unbounded and restart-safe. Same
    * content key as batch `Dedup.exactDupGroups`, so the batch and the
    * streaming form agree on identity. */
  def incrementalDedupStream(docs: DataFrame, idCol: String,
                             textCol: String, storePath: String,
                             checkpointPath: String,
                             numBuckets: Int = 64): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        incrementalDedupBatch(batch, idCol, textCol, storePath, batchId,
          numBuckets)
      }
      .start()

  /** The per-micro-batch first-wins merge (exposed for batch backfills and
    * tests); same touched-buckets merge and layout check as
    * [[upsertBucketedBatch]], keyed on the content hash `__key`. */
  def incrementalDedupBatch(batch: DataFrame, idCol: String, textCol: String,
                            storePath: String, batchId: Long,
                            numBuckets: Int): Unit = {
    val incoming = batch
      .withColumn("__key", md5(graft.ops.Dedup.normalizeText(col(textCol))))
      .withColumn("__seen_batch", lit(batchId))
    // First writer wins: min (seen_batch, id) per content key. A replayed
    // batch carries its ORIGINAL batchId from the checkpoint, so the
    // minimum — and the store — is unchanged on retry.
    firstWinsMerge(incoming, storePath, numBuckets,
      Seq(col("__seen_batch").asc, col(idCol).asc))
  }

  /** The first-writer-wins merge of both dedup stores: one row per
    * `__key`, the first by `order`. */
  private def firstWinsMerge(incoming: DataFrame, storePath: String,
                             numBuckets: Int, order: Seq[Column]): Unit = {
    val w = Window.partitionBy(col("__key")).orderBy(order: _*)
    mergeTouchedBuckets(incoming.withColumn("__bucket",
        FeatureStore.bucketOf(Seq(col("__key")), numBuckets)),
      storePath, FeatureStore.BucketLayout(numBuckets, Seq("__key"))) { all =>
      all.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }
  }

  /** The deduped corpus accumulated by [[incrementalDedupStream]], with
    * the merge's bookkeeping columns dropped. */
  def dedupedCorpus(spark: SparkSession, storePath: String): DataFrame =
    spark.read.parquet(storePath)
      .drop("__key", "__seen_batch", "__bucket")

  /** Passage-granularity incremental dedup — [[incrementalDedupBatch]]'s
    * first-writer-wins merge keyed on PASSAGE content (the Lee-et-al
    * substring signal the doc-level store can't see): each micro-batch's
    * documents are segmented into non-overlapping `size`-token passages
    * ([[graft.ops.TextAnalysis.segmentPassages]] — the d_passage_dedup
    * segmenter) and a passage loses to any content-equal passage first
    * observed at a smaller (batch, id, passage_idx). The store
    * accumulates exactly the WINNING passages, which IS the rewritten
    * corpus: a document's clean text is its winning passages in order
    * ([[passageCleanCorpus]]). Same bucketed store, same staged-swap
    * crash machinery, same O(batch + touched buckets) per-batch cost and
    * replay idempotence (a replayed batch re-offers rows with its
    * original batchId, so every min is unchanged). */
  def incrementalPassageDedupBatch(batch: DataFrame, idCol: String,
                                   textCol: String, storePath: String,
                                   batchId: Long, numBuckets: Int,
                                   size: Int = 16): Unit = {
    val incoming = graft.ops.TextAnalysis
      .segmentPassages(batch, idCol, textCol, size)
      .withColumn("__key", md5(col("__passage")))
      .withColumn("__seen_batch", lit(batchId))
    firstWinsMerge(incoming, storePath, numBuckets,
      Seq(col("__seen_batch").asc, col(idCol).asc, col("passage_idx").asc))
  }

  /** Streaming form of [[incrementalPassageDedupBatch]] — the same
    * foreachBatch shape as [[incrementalDedupStream]]: the checkpoint
    * pins batchIds, so a post-crash replay re-offers rows with their
    * ORIGINAL batchId and every first-writer minimum is unchanged
    * (crash/replay proofs in StreamingSpec mirror the doc-level
    * store's). */
  def incrementalPassageDedupStream(docs: DataFrame, idCol: String,
                                    textCol: String, storePath: String,
                                    checkpointPath: String,
                                    numBuckets: Int = 64,
                                    size: Int = 16): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        incrementalPassageDedupBatch(batch, idCol, textCol, storePath,
          batchId, numBuckets, size)
      }
      .start()

  /** The rewritten corpus a [[incrementalPassageDedupBatch]] store holds:
    * per document with at least one winning passage — (idCol, n_kept,
    * clean_text), passages reassembled in passage order. Documents whose
    * every passage lost (fully-duplicated content) have no store rows
    * and so no output row — the caller decides their fate, as in
    * [[graft.ops.TextAnalysis.dedupPassages]]. */
  def passageCleanCorpus(spark: SparkSession, storePath: String,
                         idCol: String): DataFrame =
    spark.read.parquet(storePath)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(
          struct(col("passage_idx"), col("__passage")))),
          p => p("__passage")), " ").as("clean_text"))

  /** Does `path` exist on its filesystem? (Hadoop FS — works for any
    * scheme the session is configured for, not just local files.) */
  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** R7∘R4 — streaming serving-index MAINTENANCE (r17 verdict #6): the
    * embedding append composed with the IVF path. Each arriving vector
    * is assigned to its nearest FROZEN centroid (the native
    * [[graft.ops.Similarity.assignClusters]] kernel — a pure projection,
    * so the streaming plan stays stateless: no shuffle, no state store)
    * and lands in a `centroid_id`-partitioned parquet store. The
    * partition layout enables file-listing pruning for readers that
    * filter centroid_id BELOW the catalog's dedup —
    * [[graft.ops.Similarity.servedTopKFromStore]] threads the probed
    * centroid set down to the scans and reads ONLY probed partitions;
    * a centroid_id equi-join placed ABOVE the assembled catalog
    * ([[ivfServingCatalog]]) is correct but scans every partition (the
    * dedup shuffle and the probe-side eval barrier block pushdown).
    *
    * FROZEN-CENTROIDS contract (the frozen-tokenizer pattern applied to
    * ANN): `centroids` must be the SAME table across every micro-batch
    * and restart — pass a localCheckpointed or parquet-backed frame,
    * never a plan that re-derives seeds from moving data. Assignment
    * consistency is what makes the store's partitions mean anything;
    * drift is handled by the PERIODIC RE-TRAIN ([[rebuildIvfStore]]),
    * not by mutating the serving quantizer mid-stream (the reference
    * also rebuilds — `retrieval.py:228-246`).
    *
    * Store layout is BASE + DELTA: the stream appends to `deltaPath`
    * (foreachBatch — the [[incrementalDedupStream]] shape, so the
    * CHECKPOINT owns source offsets and survives epoch transitions);
    * the serving catalog is [[ivfServingCatalog]] = base ∪ delta with
    * read-side id-dedup, which makes the at-least-once append and the
    * rebuild's crash window both idempotent to readers. StreamingSpec
    * pins stream-assignment ≡ batch assignClusters on the same frozen
    * table, incremental append, partition layout, and the rebuild
    * round-trip. */
  def ivfIndexedAppendStream(updates: DataFrame, centroids: DataFrame,
                             vecCol: String, deltaPath: String,
                             checkpointPath: String): StreamingQuery =
    updates.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ivfIndexedAppendBatch(batch, centroids, vecCol, deltaPath)
      }
      .start()

  /** One micro-batch of [[ivfIndexedAppendStream]] — also the unit the
    * registry row drives directly (the x25 same-code pattern): assign
    * against the frozen centroids (native kernel, pure projection) and
    * append `centroid_id`-partitioned parquet. Replays append twice on
    * retry; readers go through [[ivfServingCatalog]]'s id-dedup, so
    * at-least-once delivery is invisible downstream. Refuses LOUDLY
    * while [[rebuildIvfStore]]'s lock is present — the stream should be
    * stopped across a rebuild. The lock check is best-effort
    * (check-then-act: an appender that passes just before the rebuild
    * creates the lock still writes into the rebuild's window), but the
    * residual window CANNOT lose rows: the rebuild's delta clear is
    * snapshot-scoped (it deletes only files listed before its catalog
    * read), so a raced-in append survives the clear, serves via the
    * delta-wins dedup, and folds into base at the next rebuild. A lock
    * left by a CRASHED rebuild keeps appends failing until the rebuild
    * is re-run to completion (the recovery path, which clears it) —
    * loud unavailability over silent loss. */
  def ivfIndexedAppendBatch(batch: DataFrame, centroids: DataFrame,
                            vecCol: String, deltaPath: String): Unit = {
    require(!pathExists(batch.sparkSession, rebuildLockPath(deltaPath)),
      s"ivfIndexedAppendBatch: rebuild in progress (or a crashed rebuild " +
        s"left its lock) at ${rebuildLockPath(deltaPath)} — appends now " +
        "would land in a delta the rebuild deletes; stop the appender " +
        "across rebuilds, or re-run rebuildIvfStore to completion to " +
        "clear the lock")
    graft.ops.Similarity.assignClusters(batch, vecCol, centroids)
      .write.mode("append").partitionBy("centroid_id").parquet(deltaPath)
  }

  /** The serving catalog view over the base + delta IVF store: union of
    * whichever halves exist, one row per id (base alone, which
    * [[rebuildIvfStore]] writes one row per id, is served as read, with
    * no dedup window) — the DELTA row wins a
    * base/delta duplicate DETERMINISTICALLY (the delta holds the
    * fresher assignment: an id present in both halves is the rebuild
    * crash window or an at-least-once replay straddling a rebuild, and
    * serving the newer vector/assignment is strictly better than an
    * arbitrary `dropDuplicates` pick; duplicates WITHIN one half are
    * byte-identical replays, so their tie is value-irrelevant). This
    * makes at-least-once appends and the rebuild's crash windows
    * read-idempotent AND reproducible. The base half resolves base →
    * base.old (the rebuild's rename window: between the two atomic
    * renames the current base is briefly absent while the PREVIOUS
    * epoch's copy sits at base.old — readers fall back to it, seeing
    * the consistent pre-rebuild view).
    *
    * `probedCentroids`: read only those cells. Each half lists its
    * root once with Hadoop FS calls, keeps the probed `centroid_id=`
    * directories, and reads them (schema from one of their footers, so
    * no Spark job infers it) under a centroid_id IN-filter that lands
    * in the scan's partitionFilters; a half holding none of the probed
    * cells is left out. The pruning happens BELOW the union/dedup,
    * which is the only place it can: the catalog's dedup shuffles, so
    * a centroid_id predicate applied ABOVE the catalog never reaches
    * the scan ([[graft.ops.Similarity.servedTopKFromStore]] is the
    * serving composition that passes the probed set here). Pruned
    * reads are EXACTLY equivalent to filtering the unpruned catalog to
    * the probed cells (ADVICE r18 closed the cell-straddle divergence):
    * an id whose fresh delta row lives in an UNPROBED cell but whose
    * stale base row's cell IS probed must not serve the base row — the
    * unpruned catalog's delta-wins dedup would have dropped it — so
    * when pruning is active and a delta exists, the base half is
    * anti-joined against the delta's id column read UNPRUNED
    * (column-pruned to idCol only; the delta is the small
    * between-rebuilds half, so this one narrow scan is the price of
    * keeping the base half — the big one — pruned at the file
    * listing). */
  def ivfServingCatalog(spark: SparkSession, basePath: String,
                        deltaPath: String, idCol: String,
                        probedCentroids: Option[Seq[Long]] = None)
      : DataFrame = {
    val base =
      if (pathExists(spark, basePath)) Some(basePath)
      else if (pathExists(spark, basePath + ".old")) Some(basePath + ".old")
      else None
    val deltaExists = pathExists(spark, deltaPath)
    require(base.nonEmpty || deltaExists,
      s"ivfServingCatalog: neither $basePath(.old) nor $deltaPath exists")
    val roots = base.toSeq.map(_ -> 0) ++
      Seq(deltaPath -> 1).filter(_ => deltaExists)
    val halves = probedCentroids match {
      case None => roots.map { case (root, epoch) =>
        spark.read.parquet(root).withColumn("__epoch", lit(epoch)) }
      case Some(ids) =>
        // the delta's ids, read whole, for the cell-straddle guard
        lazy val deltaIds = Option.when(deltaExists)(
            ivfCells(spark, deltaPath, None)).flatten
          .map { case (_, schema) =>
            spark.read.schema(schema).parquet(deltaPath).select(col(idCol)) }
        roots.flatMap { case (root, epoch) =>
          ivfCells(spark, root, Some(ids.toSet)).map { case (cells, schema) =>
            val h = spark.read.schema(schema).option("basePath", root)
              .parquet(cells.map(_.toString): _*)
              .filter(col("centroid_id").isin(ids: _*))
            // cell-straddle guard (see the probedCentroids scaladoc):
            // under pruning, a base row whose id has ANY delta row is
            // dropped here — the global delta-wins winner may live in an
            // unprobed cell, and serving the stale base row would
            // diverge from the unpruned catalog
            (if (epoch == 1) h
            else deltaIds.fold(h)(h.join(_, Seq(idCol), "left_anti")))
              .withColumn("__epoch", lit(epoch))
          }
        }
    }
    // no probed cell in either half: the empty catalog, with its schema
    val all = halves.reduceOption(_ unionByName _).getOrElse(
      spark.read.parquet(roots.head._1).withColumn("__epoch", lit(0))
        .filter(lit(false)))
    // base alone is one row per id (rebuildIvfStore writes it from this
    // deduped view): only a delta brings duplicates to resolve
    if (!deltaExists) all.drop("__epoch")
    else {
      val w = Window.partitionBy(col(idCol)).orderBy(col("__epoch").desc)
      all.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__epoch", "__rn")
    }
  }

  /** A store half's `centroid_id=` cell directories — only the `probed`
    * ones, when given — and the schema of the first data file among
    * them; None when they hold no data file. Hadoop FS calls only. */
  private def ivfCells(spark: SparkSession, root: String,
                       probed: Option[Set[Long]])
      : Option[(Seq[Path], StructType)] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cells = fs.listStatus(rootPath).toSeq
      .filter(st => st.isDirectory && (st.getPath.getName.split("=", 2) match {
        case Array("centroid_id", v) =>
          probed.forall(ids => v.toLongOption.exists(ids))
        case _ => false
      }))
      .map(_.getPath)
    cells.iterator.flatMap(c => fs.listStatus(c).iterator)
      .find(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(f => cells -> footerSchema(spark, f.getPath))
  }

  /** The Spark schema of one parquet file, read from its footer on the
    * driver — the schema `spark.read.parquet` infers from the same file
    * with a Spark job: the schema Spark wrote into the footer, else the
    * converted Parquet schema. */
  private def footerSchema(spark: SparkSession,
                           file: Path): StructType = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file,
        spark.sparkContext.hadoopConfiguration))
    val meta = try reader.getFooter.getFileMetaData finally reader.close()
    Option(meta.getKeyValueMetaData.get(
        "org.apache.spark.sql.parquet.row.metadata"))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter(
          org.apache.spark.sql.internal.SQLConf.get).convert(meta.getSchema))
  }

  /** The rebuild lock guarding the append/rebuild race: while present,
    * [[ivfIndexedAppendBatch]] refuses to append (LOUD fail) — an
    * append landing in the delta during [[rebuildIvfStore]]'s window
    * would be silently deleted by the end-of-rebuild delta clear, the
    * exact row-loss class the two-rename swap exists to prevent. */
  private[graft] def rebuildLockPath(deltaPath: String): String =
    deltaPath + ".rebuild.lock"

  /** The periodic re-train half of [[ivfIndexedAppendStream]]'s
    * contract — the batch MATERIALIZATION job, run with the append
    * stream STOPPED (AvailableNow drains are the natural cadence): read
    * base ∪ delta, train fresh centroids over the FULL catalog
    * (hash-picked seeds + `iters` Lloyd rounds), reassign every vector,
    * stage, swap into base ATOMICALLY, then clear the delta. Returns
    * the NEW frozen centroid table (localCheckpointed) for the next
    * stream epoch — the stream restarts with it and the SAME
    * checkpoint, so source offsets carry over and new updates land in
    * the now-empty delta.
    *
    * Crash posture — the swap is two FS RENAMES (each atomic on
    * HDFS/local), never an overwrite of the only live copy (a
    * mode("overwrite") base write deletes the old base BEFORE the new
    * job commits: a crash there would permanently lose every row that
    * lived only in base): (1) stage written beside base; (2) IFF a
    * complete base exists: stale base.old deleted, base renamed to
    * base.old; (3) stage renamed to base; (4) base.old and delta
    * deleted. The stale-.old delete is INSIDE the base-exists branch on
    * purpose: when base is absent (a prior swap crashed between ITS two
    * renames), base.old is the only live copy and must survive until
    * step (3) installs the fresh base — deleting it up front would
    * open a window (crash before step 3) with NO live copy at all, and
    * the next rebuild would silently retrain from delta alone. With
    * this ordering every crash point leaves at least one complete base
    * copy resolvable by [[ivfServingCatalog]]'s base → base.old
    * fallback, and re-running the rebuild from any crash point
    * converges (it re-reads whatever the fallback resolves and
    * re-stages; a leftover stage is overwritten, a leftover .old is
    * superseded once the fresh base lands).
    *
    * Concurrency: takes the [[rebuildLockPath]] lock for the whole run
    * (appenders fail loudly while it is held — see
    * [[ivfIndexedAppendBatch]]; an appender that races past the check
    * is retained by the snapshot-scoped delta clear, so the window is
    * loss-free); the lock is created only after the store-exists
    * validation and cleared on any non-crash failure — persistence is
    * reserved for process death, where a lock left by the CRASHED
    * rebuild is adopted on re-run, since re-running the rebuild IS the
    * recovery path. Rebuilds are contractually single-instance. Scale
    * shape: one
    * catalog scan for seeding/Lloyd (centroid state driver-bounded),
    * one scan + one partitioned write for the rewrite — the rebuild is
    * linear and runs offline while the OLD store serves. */
  def rebuildIvfStore(spark: SparkSession, basePath: String,
                      deltaPath: String, idCol: String, vecCol: String,
                      nlist: Int, iters: Int = 2,
                      seed: Long = 42): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    def p(s: String) = new Path(s)
    val fs = p(basePath).getFileSystem(conf)
    // Validate BEFORE taking the lock (ADVICE r18): the bootstrap case
    // (neither base nor delta exists yet) must fail WITHOUT creating a
    // lock — a lock minted by this non-crash failure would block every
    // append, and the lock's recovery advice ("re-run the rebuild") can
    // never succeed on an empty store.
    require(pathExists(spark, basePath) ||
        pathExists(spark, basePath + ".old") ||
        pathExists(spark, deltaPath),
      s"rebuildIvfStore: nothing to rebuild — neither $basePath(.old) " +
        s"nor $deltaPath exists")
    val lock = p(rebuildLockPath(deltaPath))
    if (!fs.exists(lock)) fs.create(lock, false).close()
    try {
      // Snapshot the delta's file list BEFORE building the catalog view
      // (whose parquet file index is resolved at DataFrame creation, so
      // it sees a superset of this snapshot): the end-of-rebuild delta
      // clear deletes ONLY these files. An appender that raced past the
      // lock check and landed files after this point keeps them — they
      // are served via the catalog's delta-wins dedup and folded by the
      // NEXT rebuild, so the check-then-act window cannot lose rows
      // (ADVICE r18: the lock alone only narrowed the race).
      def listFilesRec(dir: Path)
          : Seq[Path] =
        if (!fs.exists(dir)) Seq.empty
        else fs.listStatus(dir).toSeq.flatMap { st =>
          if (st.isDirectory) listFilesRec(st.getPath)
          else Seq(st.getPath)
        }
      val deltaSnapshot = listFilesRec(p(deltaPath))
      val store = ivfServingCatalog(spark, basePath, deltaPath, idCol)
        .select(col(idCol), col(vecCol))
      val seeds = graft.ops.Similarity.pickCentroids(store, idCol, vecCol,
        nlist, seed)
      val cents = (if (iters > 0)
        graft.ops.Similarity.refineCentroids(store, vecCol, seeds, iters)
      else seeds).localCheckpoint(true)
      val stage = basePath + ".stage"
      graft.ops.Similarity.assignClusters(store, vecCol, cents)
        .repartition(col("centroid_id"))
        .write.mode("overwrite").partitionBy("centroid_id").parquet(stage)
      // atomic two-rename swap; the stale-.old delete happens ONLY while
      // a complete base still exists (see the crash-posture scaladoc)
      if (fs.exists(p(basePath))) {
        fs.delete(p(basePath + ".old"), true)
        require(fs.rename(p(basePath), p(basePath + ".old")),
          s"rebuildIvfStore: rename $basePath -> .old failed")
      }
      require(fs.rename(p(stage), p(basePath)),
        s"rebuildIvfStore: rename $stage -> $basePath failed")
      fs.delete(p(basePath + ".old"), true)
      // snapshot-scoped delta clear (see above), then a best-effort
      // sweep of now-empty partition dirs; a dir holding a raced-in
      // late file survives both
      deltaSnapshot.foreach(f => fs.delete(f, false))
      def sweepEmptyDirs(dir: Path): Unit =
        if (fs.exists(dir)) {
          fs.listStatus(dir).foreach { st =>
            if (st.isDirectory) sweepEmptyDirs(st.getPath)
          }
          if (fs.listStatus(dir).isEmpty) { fs.delete(dir, false); () }
        }
      sweepEmptyDirs(p(deltaPath))
      fs.delete(lock, false)
      cents
    } catch {
      // Non-crash failure: clear the lock so appends are not permanently
      // blocked by a failure whose fix may not be "re-run the rebuild".
      // Lock persistence is reserved for actual process death, where the
      // finally-less crash window leaves it on disk and re-running the
      // rebuild IS the recovery path (ADVICE r18).
      case e: Throwable =>
        try { fs.delete(lock, false); () } catch { case _: Throwable => () }
        throw e
    }
  }

  /** T11 streaming form: gap-based sessionization with
    * `flatMapGroupsWithState` — per key, a session index increments when
    * the gap since the previous event exceeds `gapSeconds`. Matches the
    * batch lag+cumulative-sum form (`Features.sessionize`) row-for-row on
    * in-order data (asserted in StreamingSpec); state per key is two longs
    * (last ts, session counter) — O(keys), not O(events).
    *
    * `idleStateTimeout`: opt-in processing-time TTL — a key idle that long
    * has its (last ts, counter) state dropped, bounding state to ACTIVE
    * keys rather than every key ever seen. A key that reappears after
    * expiry re-sessionizes from index 1 (sessionization state is
    * reconstructible; pick the timeout ≥ the longest session gap you care
    * to bridge). Same never-self-terminating caveat as
    * [[trailingActivityStream]] — set it on long-lived queries over
    * unbounded key spaces, leave None for batch drains. */
  def sessionizeStream(events: DataFrame, gapSeconds: Long,
                       idleStateTimeout: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(
      col("user_id"), col("event_id"), unix_timestamp(col("ts")).as("ts_s"))
      .as[(Long, Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
        OutputMode.Append,
        if (idleStateTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[(Long, Long, Long)],
         state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var (lastTs, sessionIdx) = state.getOption.getOrElse((Long.MinValue, 0L))
            val out = it.toList.sortBy(e => (e._3, e._2)).map { case (_, id, ts) =>
              if (lastTs == Long.MinValue || ts - lastTs > gapSeconds)
                sessionIdx += 1
              lastTs = ts
              (user, id, sessionIdx)
            }
            state.update((lastTs, sessionIdx))
            idleStateTimeout.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
      .toDF("user_id", "event_id", "session_idx")
  }

  /** Streaming corpus-ingest term counts over tumbling event-time windows
    * (the trending-terms monitor — the text tranche's streaming member).
    * Explode → windowed count; the watermark lets closed windows emit and
    * their state drop, so state is O(active-window vocab), not corpus
    * vocab. Batch parity with the identical static groupBy is asserted
    * in StreamingSpec. */
  def termCountStream(docs: DataFrame, textCol: String, tsCol: String,
                      windowSeconds: Long,
                      watermark: String = "10 minutes"): DataFrame =
    docs.withWatermark(tsCol, watermark)
      .select(col(tsCol),
        explode(graft.ops.TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(window(col(tsCol), s"$windowSeconds seconds"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("win_start"), col("term"), col("cnt"))

  /** Stream-stream interval join — click→view attribution: each click
    * pairs with the SAME user's views at most `horizonSeconds` before it
    * (the streaming form of the reference's request-time "recent views"
    * feature; the funnel query a12 is the batch analog). Both sides carry
    * event-time watermarks and the join condition time-bounds click_ts
    * against view_ts, which is exactly what Structured Streaming needs to
    * expire buffered rows from the join state: state is
    * O(rate × (watermark + horizon)) per side, never unbounded. Inner
    * join → attributed clicks only; the same composition with a left
    * join yields unattributed clicks after the horizon closes. */
  def attributionStream(views: DataFrame, clicks: DataFrame,
                        horizonSeconds: Long,
                        watermark: String = "10 minutes"): DataFrame = {
    val v = views.select(col("user_id").as("view_user"),
        col("event_id").as("view_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val c = clicks.select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    c.join(v,
      col("user_id") === col("view_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") +
          expr(s"INTERVAL $horizonSeconds SECONDS"))
      .select(col("user_id"), col("click_id"), col("view_id"),
        col("click_ts"), col("view_ts"))
  }

  /** Hopping-window counts — the stream form of the batch `t4_hopping`
    * query: width/slide event-time windows, count + value sum per
    * (window, event type). `window(ts, width, slide)` assigns each event
    * its width/slide windows up front, so this is an ordinary streaming
    * aggregation: the watermark closes windows and bounds state to the
    * ones still open — O(open windows × event types), independent of
    * stream length. */
  def hoppingCountsStream(events: DataFrame, widthSeconds: Long,
                          slideSeconds: Long,
                          watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), s"$widthSeconds seconds",
        s"$slideSeconds seconds"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("cnt"), col("sum_value"))
}
