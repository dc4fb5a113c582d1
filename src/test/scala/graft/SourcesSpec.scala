package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{FeatureStore, Features, ServingSnapshot}
import graft.sources.{Readers, SyntheticData}

/** S1 `.dat` scan golden tests (FIXTURES.md §1.1 micro-files), synthetic
  * generator invariants (S10), and feature-store semantics (S8/S9/J8). */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def writeFixture(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft-dat")
    val f = dir.resolve(name)
    Files.writeString(f, content)
    f.toString
  }

  test(".dat ratings scan: schema + epoch decode (test_data_loading.py:60-96)") {
    val p = writeFixture("ratings.dat",
      "1::1::5::978300760\n1::2::3::978300760\n2::1::4::978300760\n2::3::5::978300760\n")
    val df = Readers.loadRatings(spark, p)
    assert(df.count() === 4)
    assert(df.columns.toSeq === Seq("user_id", "movie_id", "rating", "timestamp", "datetime"))
    val first = df.orderBy("user_id", "movie_id").head()
    assert(first.getAs[Long]("user_id") === 1L)
    assert(first.getAs[Int]("rating") === 5)
    assert(first.getAs[java.sql.Timestamp]("datetime").toInstant.getEpochSecond === 978300760L)
  }

  test(".dat movies scan: year extraction + genre multi-hot (movielens.py:143-157)") {
    val p = writeFixture("movies.dat",
      "1::Toy Story (1995)::Animation|Children's|Comedy\n" +
        "2::Jumanji (1995)::Action|Adventure\n" +
        "3::Heat (1995)::Action|Crime|Thriller\n")
    val df = Readers.loadMovies(spark, p)
    val toy = df.filter($"movie_id" === 1).head()
    assert(toy.getAs[Int]("year") === 1995)
    assert(toy.getAs[String]("title_clean") === "Toy Story")
    assert(toy.getAs[Int]("genre_animation") === 1)
    assert(toy.getAs[Int]("genre_comedy") === 1)
    assert(toy.getAs[Int]("genre_action") === 0)
    assert(toy.getAs[Int]("num_genres") === 3)
  }

  test("synthetic generator: deterministic per seed, correct domains (synthetic.py:18-111)") {
    val a = SyntheticData.interactions(spark, 50, 20, 500, 0.3, 42)
    val b = SyntheticData.interactions(spark, 50, 20, 500, 0.3, 42)
    assert(a.agg(sum("label")).head().getLong(0) ===
      b.agg(sum("label")).head().getLong(0))
    val users = SyntheticData.users(spark, 100, 4, 42)
    val ages = users.agg(min("age"), max("age")).head()
    assert(ages.getInt(0) >= 18 && ages.getInt(1) <= 70)
    assert(users.columns.count(_.startsWith("user_feat_")) === 4)
  }

  test("online lookup: latest-within-TTL per key (simple_feature_store.py:17-50)") {
    val feats = Seq(
      (1L, 100L, "old"), (1L, 200L, "new"),
      (2L, 10L, "stale")) // user 2's row is older than the TTL window
      .toDF("user_id", "ts_s", "v")
      .withColumn("ts", timestamp_seconds(col("ts_s")))
    val keys = Seq(1L, 2L).toDF("user_id")
    val view = FeatureStore.FeatureView("f", Seq("user_id"), "ts", 100L)
    val got = FeatureStore.onlineLookup(feats, view, keys,
      timestamp_seconds(lit(250L)), "ts_s")
      .select("user_id", "v").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "new")) // user 2 expired (250-10 > 100)
  }

  // --- online lookup over a bucketed store (`upsertBucketedBatch`) ---
  private val lookupView =
    FeatureStore.FeatureView("f", Seq("user_id"), "ts", ttlSeconds = 500L)
  private val lookupNow = timestamp_seconds(lit(2000L))

  /** The lookup's contract as the broadcast semi-join states it. */
  private def semiJoinLookup(features: org.apache.spark.sql.DataFrame,
                             keys: org.apache.spark.sql.DataFrame,
                             view: FeatureStore.FeatureView) =
    FeatureStore.latestPerKey(features
      .filter(col(view.tsCol) <= lookupNow &&
        col(view.tsCol) >= lookupNow - expr(
          s"INTERVAL ${view.ttlSeconds} SECONDS"))
      .join(keys, view.entityCols, "left_semi"),
      view.entityCols, view.tsCol, "v")

  /** Keys 1..40, each with an older row and a latest row whose ts sits on
    * a TTL edge of [1500, 2000] at now = 2000: just expired, both
    * inclusive edges, inside, and in the future. */
  private def lookupRows = (1L to 40L).flatMap { k =>
    val ts = Seq(1499L, 1500L, 1700L, 2000L, 2001L)((k % 5).toInt)
    Seq((k, ts - 100, -k), (k, ts, k))
  }.toDF("user_id", "ts_s", "v")
    .withColumn("ts", timestamp_seconds(col("ts_s"))).drop("ts_s")

  private def lookupStore(numBuckets: Int): String = {
    val store = Files.createTempDirectory("graft-lookup").toString + "/store"
    graft.streaming.StreamingJobs.upsertBucketedBatch(lookupRows,
      Seq("user_id"), "ts", "v", store, numBuckets)
    store
  }

  private def fileScans(df: org.apache.spark.sql.DataFrame) =
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }

  /** A filter on the scanned file's name: what prunes a flat bucketed
    * store's scan to the requested buckets' files. */
  private def fileNameFiltered(
      scan: org.apache.spark.sql.execution.FileSourceScanExec): Boolean =
    scan.dataFilters.exists(_.toString.contains("file_name"))

  private def bucketPruned(df: org.apache.spark.sql.DataFrame): Boolean =
    fileScans(df).exists(fileNameFiltered)

  /** The bound that serves a store frame from the serving snapshot (the
    * default), and the one that scans every frame (the fallback). */
  private val snapshotPath = ServingSnapshot.MaxRootBytes
  private val scanPath = 0L

  test("bucketed online lookup equals the semi-join lookup in every " +
    "bucket: duplicate, null and absent keys, TTL edges, composite keys, " +
    "and frames without a bucket layout record") {
    // on both paths: the serving snapshot and the scan
    val store = lookupStore(8)
    val keys = ((1L to 40L).map(Option(_)) ++
      Seq(Some(3L), Some(3L), None, Some(999L), Some(1000L)))
      .toDF("user_id")
    assert(spark.read.parquet(store).select("__bucket").distinct().count()
      === 8L, "the keys must cover every bucket")
    for (bound <- Seq(scanPath, snapshotPath)) {
      def check(features: org.apache.spark.sql.DataFrame,
                pruned: Boolean): Unit = {
        val got = FeatureStore.onlineLookup(features, lookupView, keys,
          lookupNow, "v", bound)
        val rows = got.collect()
        assert(rows.toSet ===
          semiJoinLookup(features, keys, lookupView).collect().toSet)
        assert(rows.length === rows.map(_.getAs[Long]("user_id")).distinct
          .length, "one row per key")
        assert(got.schema === features.schema)
        // the store, read directly, is served by the snapshot: no scan
        if (bound == scanPath || !pruned)
          assert(bucketPruned(got) === pruned)
        else assert(fileScans(got).isEmpty, "not served by the snapshot")
      }
      // the store, read directly: pruned to the requested keys' buckets
      check(spark.read.parquet(store), pruned = true)
      assert(FeatureStore.onlineLookup(spark.read.parquet(store), lookupView,
          keys, lookupNow, "v", bound).count() === 24L, // 3 of every 5 fresh
        "the TTL edges are inclusive, the future and the expired excluded")
      // the same rows with no layout record, and the raw rows (several
      // per key, no store at all): read unpruned, same contract
      val copy = store + s"_copy$bound"
      spark.read.parquet(store).write.partitionBy("__bucket").parquet(copy)
      check(spark.read.parquet(copy), pruned = false)
      check(lookupRows, pruned = false)
      // a store frame whose key column is recomputed is not pruned either
      check(spark.read.parquet(store).withColumn("user_id",
        col("user_id") + 0L), pruned = false)
      // composite key: a request pairing the parts of two keys matches
      // neither, from a frame and from a store
      val pairs = Seq((1L, 1L, 1800L, 1L), (1L, 2L, 1800L, 2L),
          (2L, 1L, 1800L, 3L), (2L, 2L, 1800L, 4L))
        .toDF("a", "b", "ts_s", "v")
        .withColumn("ts", timestamp_seconds(col("ts_s")))
      val pairStore = Files.createTempDirectory("graft-pairs").toString +
        "/store"
      graft.streaming.StreamingJobs.upsertBucketedBatch(pairs,
        Seq("a", "b"), "ts", "v", pairStore, 4)
      val pairView = FeatureStore.FeatureView("p", Seq("a", "b"), "ts", 500L)
      val pairKeys = Seq((Option(1L), Option(2L)), (Some(2L), Some(1L)),
        (None, Some(1L)), (Some(3L), Some(3L))).toDF("a", "b")
      for (frame <- Seq(pairs, spark.read.parquet(pairStore))) {
        val got = FeatureStore.onlineLookup(frame, pairView, pairKeys,
          lookupNow, "v", bound).select("v").as[Long].collect().toSet
        assert(got === Set(2L, 3L))
        assert(got === semiJoinLookup(pairs, pairKeys, pairView)
          .select("v").as[Long].collect().toSet)
      }
    }
  }

  test("bucketed online lookup reads one bucket: the scan carries a " +
    "file-name filter and reads 1 of 8 bucket files, also for " +
    "a request key column typed narrower than the store's") {
    val store = lookupStore(8)
    assert(new java.io.File(store).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).toSet ===
      (0 until 8).map(FeatureStore.bucketFile).toSet)
    Seq(Seq(7L).toDF("user_id"), Seq(7).toDF("user_id")).foreach { keys =>
      val got = FeatureStore.onlineLookup(spark.read.parquet(store),
        lookupView, keys, lookupNow, "v", scanPath)
      assert(got.collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("v"))).toSeq === Seq((7L, 7L)))
      val scans = fileScans(got)
      assert(scans.length === 1)
      assert(fileNameFiltered(scans.head),
        "no file-name filter on the lookup scan")
      assert(scans.head.metrics("numFiles").value === 1L,
        "the lookup read more than its key's bucket")
    }
  }

  test("online lookup after an upsert sees the new row (the snapshot is " +
    "keyed by the store's file statuses), also when the rewritten bucket " +
    "file keeps its length") {
    val store = lookupStore(4)
    def lookup(k: Long): Seq[Long] = FeatureStore.onlineLookup(
        spark.read.parquet(store), lookupView, Seq(k).toDF("user_id"),
        lookupNow, "v").select("v").as[Long].collect().toSeq
    def upsert(k: Long, ts: Long, v: Long): Unit =
      graft.streaming.StreamingJobs.upsertBucketedBatch(
        Seq((k, ts, v)).toDF("user_id", "ts_s", "v")
          .withColumn("ts", timestamp_seconds(col("ts_s"))).drop("ts_s"),
        Seq("user_id"), "ts", "v", store, 4)
    def bucketLengths: Map[String, Long] = new java.io.File(store)
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.length()).toMap
    assert(lookup(2L) === Seq(2L)) // its latest row is at ts 1700
    upsert(2L, 1900L, 200L)
    assert(lookup(2L) === Seq(200L))
    // same ts, a value of the same width: the bucket file is rewritten
    // with the same length
    val before = bucketLengths
    upsert(2L, 1900L, 201L)
    assert(bucketLengths === before, "the rewrite changed a file's length")
    assert(lookup(2L) === Seq(201L))
  }

  test("one-key online lookup over a bucketed store runs at most 2 Spark " +
    "jobs") {
    val store = lookupStore(8)
    val features = spark.read.parquet(store)
    val keys = Seq(7L).toDF("user_id")
    val (rows, jobs) = TestSpark.jobsOf(FeatureStore.onlineLookup(features,
      lookupView, keys, lookupNow, "v", scanPath).collect())
    assert(rows.length === 1)
    assert(jobs <= 2, s"$jobs jobs")
  }

  test("as-of join: latest feature at-or-before entity time within TTL (simple_feature_store.py:52-71)") {
    val entity = Seq((1L, 300L), (1L, 150L), (2L, 300L))
      .toDF("user_id", "ets")
      .withColumn("ts", timestamp_seconds(col("ets")))
    val feats = Seq((1L, 100L, "a"), (1L, 200L, "b"), (2L, 10L, "c"))
      .toDF("user_id", "fts", "v")
      .withColumn("ts", timestamp_seconds(col("fts")))
    val view = FeatureStore.FeatureView("f", Seq("user_id"), "ts", 120L)
    val got = FeatureStore.asOfJoin(entity, Seq("user_id"), "ts", feats,
      view, "fts")
      .select(col("user_id"), col("ets"), col("f_v"))
      .as[(Long, Long, Option[String])].collect().toSet
    assert(got === Set(
      (1L, 300L, Some("b")), // 200 within [180, 300]
      (1L, 150L, Some("a")), // 100 within [30, 150]; 200 is in the future
      (2L, 300L, None)))     // 10 is outside [180, 300]
  }

  test("as-of join sorted form equals the range-join form (goldens + random)") {
    val view = FeatureStore.FeatureView("f", Seq("user_id"), "ts", 120L)
    val entity = Seq((1L, 300L), (1L, 150L), (2L, 300L))
      .toDF("user_id", "ets")
      .withColumn("ts", timestamp_seconds(col("ets")))
    val feats = Seq((1L, 100L, "a"), (1L, 200L, "b"), (2L, 10L, "c"))
      .toDF("user_id", "fts", "v")
      .withColumn("ts", timestamp_seconds(col("fts")))
    val sorted = FeatureStore.asOfJoinSorted(entity, Seq("user_id"), "ts",
      feats, view, "fts")
      .select(col("user_id"), col("ets"), col("f_v"))
      .as[(Long, Long, Option[String])].collect().toSet
    assert(sorted === Set(
      (1L, 300L, Some("b")), (1L, 150L, Some("a")), (2L, 300L, None)))
    // differential on a larger deterministic random frame, incl. ties at
    // equal timestamps (tiebreak must pick the same winner in both forms)
    val rnd = new scala.util.Random(7)
    val e2 = (1 to 400).map(i =>
      (rnd.nextInt(20).toLong, rnd.nextInt(1000).toLong, i.toLong))
      .toDF("user_id", "ets", "eid")
      .withColumn("ts", timestamp_seconds(col("ets")))
    val f2 = (1 to 600).map(i =>
      (rnd.nextInt(20).toLong, rnd.nextInt(1000).toLong, i.toLong))
      .toDF("user_id", "fts_s", "fid")
      .withColumn("ts", timestamp_seconds(col("fts_s")))
    val view2 = FeatureStore.FeatureView("f", Seq("user_id"), "ts", 200L)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("eid"), col("f_fid"))
      .as[(Long, Long, Option[Long])].collect().toSet
    val a = norm(FeatureStore.asOfJoin(e2, Seq("user_id"), "ts", f2, view2, "fid"))
    val b = norm(FeatureStore.asOfJoinSorted(e2, Seq("user_id"), "ts", f2, view2, "fid"))
    assert(a === b, s"diff: ${(a.diff(b) ++ b.diff(a)).take(5)}")
    // null keys: SQL equality never matches NULL, so a null-key entity row
    // must get a null payload in BOTH forms (the sorted form's window would
    // otherwise group null keys together and leak a null-key feature row)
    val e3 = Seq((Some(1L), 300L, 1L), (None, 300L, 2L))
      .toDF("user_id", "ets", "eid")
      .withColumn("ts", timestamp_seconds(col("ets")))
    val f3 = Seq((Some(1L), 200L, 10L), (None, 250L, 11L))
      .toDF("user_id", "fts_s", "fid")
      .withColumn("ts", timestamp_seconds(col("fts_s")))
    def norm3(df: org.apache.spark.sql.DataFrame) = df
      .select(col("eid"), col("f_fid"))
      .as[(Long, Option[Long])].collect().toSet
    val expected = Set((1L, Some(10L)), (2L, None))
    assert(norm3(FeatureStore.asOfJoin(
      e3, Seq("user_id"), "ts", f3, view2, "fid")) === expected)
    assert(norm3(FeatureStore.asOfJoinSorted(
      e3, Seq("user_id"), "ts", f3, view2, "fid")) === expected)
  }

  test("materialization: offline range → latest-per-key online snapshot (T10, simple_feature_store.py:82-90)") {
    val events = Seq(
      (1L, 100L, 1.0), (1L, 200L, 2.0), (1L, 900L, 9.0), (2L, 150L, 5.0))
      .toDF("user_id", "ts_s", "value")
      .withColumn("ts", timestamp_seconds(col("ts_s")))
    val view = FeatureStore.FeatureView("f", Seq("user_id"), "ts", 3600L)
    val snap = FeatureStore.materialize(events, view,
      timestamp_seconds(lit(0L)), timestamp_seconds(lit(500L)), "ts_s")
    val got = snap.select("user_id", "value").as[(Long, Double)]
      .collect().toMap
    // ts=900 is outside the materialization range; latest within range wins
    assert(got === Map(1L -> 2.0, 2L -> 5.0))
  }

  test("sessionize: gap splits sessions (Features.sessionize)") {
    val ev = Seq((1L, 0L), (1L, 100L), (1L, 2000L), (1L, 2100L), (2L, 0L))
      .toDF("user_id", "ts_s")
      .withColumn("ts", timestamp_seconds(col("ts_s")))
    val sess = Features.sessionize(ev, "user_id", "ts", 1800L)
    val counts = sess.groupBy("user_id")
      .agg(max("session_idx").as("n")).as[(Long, Long)].collect().toMap
    assert(counts === Map(1L -> 2L, 2L -> 1L))
  }

  test("ewma golden: ordered fold, single-event key, storage-order blind") {
    // user 1: [10, 20, 30] in ts order; α=0.5 → 10, 15, 22.5
    val ev = Seq((1L, 2L, 20.0), (1L, 3L, 30.0), (1L, 1L, 10.0), (2L, 1L, 7.0))
      .toDF("user_id", "e", "value")
      .withColumn("ts", timestamp_seconds(col("e")))
    def run(df: org.apache.spark.sql.DataFrame) =
      Features.ewma(df, "user_id", "ts", "e", "value", 0.5)
        .as[(Long, Long, Double)].collect().toSet
    val got = run(ev)
    assert(got === Set((1L, 3L, 22.5), (2L, 1L, 7.0)))
    assert(got === run(ev.orderBy(col("e").desc).repartition(5)))
  }

  test("schema evolution: mergeSchema reads across drifting partition schemas") {
    // a corpus written over months gains columns; old partitions must stay
    // readable with the union schema, new columns null-filled backward
    val dir = java.nio.file.Files.createTempDirectory("graft-evolve").toString
    Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      .write.parquet(s"$dir/batch=1")
    Seq((3L, "gamma", "en")).toDF("doc_id", "text", "lang")
      .write.parquet(s"$dir/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet === Set("doc_id", "text", "lang", "batch"))
    val rows = merged.select("doc_id", "lang")
      .as[(Long, Option[String])].collect().toMap
    assert(rows(1L).isEmpty && rows(2L).isEmpty && rows(3L).contains("en"))
    // the default (no mergeSchema) picks ONE file's schema — documented
    // footgun: reading evolved corpora needs the option (or a catalog)
    val plain = spark.read.parquet(dir)
    assert(plain.columns.length <= merged.columns.length)
  }
}
