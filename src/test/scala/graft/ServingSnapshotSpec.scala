package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{FeatureStore, ServingSnapshot, Similarity}
import graft.streaming.StreamingJobs

/** The serving snapshot behind `onlineLookup` and `servedTopKFromStore`:
  * a request against an unchanged store runs no Spark job, a store
  * change is seen by the next request, a file that changes while it is
  * read is not kept, concurrent misses build once, and a store over the
  * byte bound is scanned. Every answer equals the scan path's. */
class ServingSnapshotSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val view = FeatureStore.FeatureView("f", Seq("user_id"), "ts", 500L)
  private val now = timestamp_seconds(lit(2000L))
  private val scanPath = 0L

  private def rows(from: Long, to: Long, ts: Long) =
    (from to to).map(k => (k, ts, k)).toDF("user_id", "ts_s", "v")
      .withColumn("ts", timestamp_seconds(col("ts_s"))).drop("ts_s")

  private def upsert(store: String, batch: DataFrame): Unit =
    StreamingJobs.upsertBucketedBatch(batch, Seq("user_id"), "ts", "v",
      store, 8)

  private def featureStore(keys: Long = 60L): String = {
    val store = Files.createTempDirectory("graft-snap").toString + "/store"
    upsert(store, rows(1, keys, 1800))
    store
  }

  private def lookup(features: DataFrame, keys: Seq[Long],
                     bound: Long = ServingSnapshot.MaxRootBytes) =
    FeatureStore.onlineLookup(features, view, keys.toDF("user_id"), now, "v",
      bound).collect().toSet

  /** A rebuilt IVF store of 300 8-dim vectors in 8 cells, and its
    * centroids. */
  private def ivfStore(): (String, String, DataFrame) = {
    val dir = Files.createTempDirectory("graft-snapivf").toString
    val rnd = new scala.util.Random(5)
    val df = (0 until 300).map(i =>
      (i.toLong, Seq.fill(8)(rnd.nextGaussian()))).toDF("vec_id", "vec")
    val seeds = Similarity.pickCentroids(df, "vec_id", "vec", 8)
      .localCheckpoint()
    StreamingJobs.ivfIndexedAppendBatch(df, seeds, "vec", s"$dir/delta")
    val cents = StreamingJobs.rebuildIvfStore(spark, s"$dir/base",
      s"$dir/delta", "vec_id", "vec", 8)
    (s"$dir/base", s"$dir/delta", cents)
  }

  private def topK(q: DataFrame, base: String, delta: String,
                   cents: DataFrame,
                   bound: Long = ServingSnapshot.MaxRootBytes) =
    Similarity.serveFromStore(q, base, delta, "u", "vec_id", "vec", 10,
      cents, 3, "cosine", excludeSelf = false, bound).collect().toSeq
      .sortBy(r => (r.getLong(0), r.getInt(1)))

  /** The full-catalog answer the served top-10 must equal. */
  private def exact(q: DataFrame, base: String, delta: String,
                    cents: DataFrame) =
    Similarity.clusterPrunedTopKStored(q,
      StreamingJobs.ivfServingCatalog(spark, base, delta, "vec_id"), "u",
      "vec_id", "vec", 10, cents, 3, "cosine").collect().toSeq
      .sortBy(r => (r.getLong(0), r.getInt(1)))

  private def query(v: Seq[Double]) = Seq((1L, v)).toDF("u", "vec")

  test("on an unchanged store a second lookup and a second top-10 run no " +
    "Spark job, and answer as the scan path does") {
    val features = spark.read.parquet(featureStore())
    val first = lookup(features, Seq(7L, 8L, 99L))
    val (second, jobs) = TestSpark.jobsOf(lookup(features, Seq(7L, 8L, 99L)))
    assert(jobs === 0, s"$jobs jobs")
    assert(second === first)
    assert(second === lookup(features, Seq(7L, 8L, 99L), scanPath))
    assert(second.map(_.getAs[Long]("v")) === Set(7L, 8L))

    val (base, delta, cents) = ivfStore()
    val q = query(Seq.fill(8)(0.5))
    val top = topK(q, base, delta, cents)
    val (again, ivfJobs) = TestSpark.jobsOf(topK(q, base, delta, cents))
    assert(ivfJobs === 0, s"$ivfJobs jobs")
    assert(again === top)
    assert(top.length === 10)
    assert(top === topK(q, base, delta, cents, scanPath))
    assert(top === exact(q, base, delta, cents))
  }

  test("an append and a rebuild between two top-10s are seen by the second") {
    val (base, delta, cents) = ivfStore()
    val v = Seq(3.0, -1.0, 2.0, 0.0, 1.0, -2.0, 0.5, 1.5)
    val q = query(v)
    assert(!topK(q, base, delta, cents).exists(_.getLong(2) == 1000L))
    // an item pointing the query's way lands in the delta
    StreamingJobs.ivfIndexedAppendBatch(Seq((1000L, v.map(_ * 2)))
      .toDF("vec_id", "vec"), cents, "vec", delta)
    val appended = topK(q, base, delta, cents)
    assert(appended.head.getLong(2) === 1000L)
    assert(appended === topK(q, base, delta, cents, scanPath))
    assert(appended === exact(q, base, delta, cents))
    val cents2 = StreamingJobs.rebuildIvfStore(spark, base, delta, "vec_id",
      "vec", 8)
    val rebuilt = topK(q, base, delta, cents2)
    assert(rebuilt.head.getLong(2) === 1000L)
    assert(rebuilt === topK(q, base, delta, cents2, scanPath))
    assert(rebuilt === exact(q, base, delta, cents2))
  }

  test("a bucket file rewritten after the frame listed it is not kept: " +
    "the build's stat sees the change, the request is scanned") {
    val store = featureStore()
    val stale = spark.read.parquet(store) // lists the store now
    upsert(store, rows(7, 7, 1900).withColumn("v", lit(700L)))
    def counted[A](body: => A): (A, Long, Long, Long) = {
      val b = ServingSnapshot.counters
      val out = body
      val a = ServingSnapshot.counters
      (out, a.hits - b.hits, a.misses - b.misses, a.fallbacks - b.fallbacks)
    }
    val (got, hits, misses, fallbacks) = counted(lookup(stale, Seq(7L)))
    assert((hits, misses, fallbacks) === ((0L, 1L, 1L)))
    assert(got === lookup(stale, Seq(7L), scanPath))
    // nothing was kept under the stale listing: asking again misses again
    assert(counted(lookup(stale, Seq(7L)))._2 === 0L)
    // a fresh listing builds, keeps and sees the rewrite
    val fresh = spark.read.parquet(store)
    val (seen, _, freshMisses, _) = counted(lookup(fresh, Seq(7L)))
    assert(freshMisses === 1L)
    assert(seen.map(_.getAs[Long]("v")) === Set(700L))
    assert(counted(lookup(fresh, Seq(7L)))._2 === 1L, "the build was not kept")
  }

  test("after an upsert rewrites every bucket file, the next lookup reads " +
    "only its key's bucket file") {
    val store = featureStore()
    assert(lookup(spark.read.parquet(store), Seq(7L)).size === 1)
    upsert(store, rows(1, 60, 1900).withColumn("v", col("v") + 100L))
    val fresh = spark.read.parquet(store)
    var read = 0L
    val count = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        synchronized(read += e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(count)
    val got = try lookup(fresh, Seq(7L)) finally {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      spark.sparkContext.removeSparkListener(count)
    }
    assert(got.map(_.getAs[Long]("v")) === Set(107L))
    assert(got === lookup(fresh, Seq(7L), scanPath))
    // one of 8 buckets, not the 60 rows of the store
    assert(read > 0L && read < 30L, s"$read rows read")
  }

  test("two requests that miss together run one build job, and both " +
    "answer as the scan path does") {
    val features = spark.read.parquet(featureStore())
    val keys = Seq(Seq(3L, 4L), Seq(40L, 41L))
    val before = ServingSnapshot.counters
    val start = new java.util.concurrent.CyclicBarrier(keys.length)
    val (answers, jobs) = TestSpark.jobsOf {
      val out = new java.util.concurrent.ConcurrentHashMap[Int, Set[
        org.apache.spark.sql.Row]]()
      val threads = keys.zipWithIndex.map { case (ks, i) =>
        new Thread(() => {
          start.await()
          out.put(i, lookup(features, ks))
          ()
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      keys.indices.map(out.get)
    }
    val after = ServingSnapshot.counters
    assert(jobs === 1, s"$jobs jobs")
    assert(after.misses - before.misses === 1L)
    assert(after.hits - before.hits === 1L)
    keys.zip(answers).foreach { case (ks, got) =>
      assert(got === lookup(features, ks, scanPath))
      assert(got.map(_.getAs[Long]("v")) === ks.toSet)
    }
  }

  test("a store over the byte bound is counted as a fallback and answers " +
    "as the snapshot does") {
    val features = spark.read.parquet(featureStore())
    val (base, delta, cents) = ivfStore()
    val q = query(Seq.fill(8)(-0.5))
    val before = ServingSnapshot.counters
    val scanned = lookup(features, Seq(5L, 6L), bound = 1L)
    val top = topK(q, base, delta, cents, bound = 1L)
    val after = ServingSnapshot.counters
    assert(after.fallbacks - before.fallbacks === 2L)
    assert(after.misses === before.misses && after.hits === before.hits)
    assert(scanned === lookup(features, Seq(5L, 6L)))
    assert(top === topK(q, base, delta, cents))
    assert(ServingSnapshot.counters.bytesHeld > 0L)
  }

  test("a store whose decoded rows exceed the bound is scanned and not " +
    "read again while it stays that size; the held roots stay within " +
    "the budget, the most recent kept") {
    def store(): DataFrame = spark.read.parquet(featureStore(20000L))
    def counted[A](body: => A) = {
      val b = ServingSnapshot.counters
      val out = body
      val a = ServingSnapshot.counters
      (out, a.misses - b.misses, a.fallbacks - b.fallbacks)
    }
    // a root's listed and decoded sizes: 20,000 rows decode larger than
    // their parquet files
    val probe = store()
    val (source, files) = ServingSnapshot.sourceOf(probe).get
    val listed = files.map(_.getLen).sum
    val decoded = ServingSnapshot.of(spark, source, files, _ => true,
      ServingSnapshot.MaxRootBytes).get.bytes
    assert(listed < decoded, s"listed $listed, decoded $decoded")

    val between = (listed + decoded) / 2
    val big = featureStore(20000L)
    val features = spark.read.parquet(big)
    val (got, misses, fallbacks) = counted(lookup(features, Seq(5L), between))
    assert((misses, fallbacks) === ((1L, 1L)))
    assert(got === lookup(features, Seq(5L), scanPath))
    assert(counted(lookup(features, Seq(5L), between)).productIterator
      .drop(1).toSeq === Seq(0L, 1L), "the rows over the bound were read again")
    // a changed listing of about the same size is predicted over the bound
    // from the rejected build: scanned, not read
    upsert(big, rows(5, 5, 1900).withColumn("v", lit(500L)))
    val changed = spark.read.parquet(big)
    val (seen, again, scanned) = counted(lookup(changed, Seq(5L), between))
    assert((again, scanned) === ((0L, 1L)))
    assert(seen.map(_.getAs[Long]("v")) === Set(500L))

    // nine roots at the bound, eight roots' worth of budget: the least
    // recently used goes, the two most recent still answer with no job
    val roots = Seq.fill(9)(store())
    roots.foreach(r => lookup(r, Seq(1L), decoded))
    assert(ServingSnapshot.counters.bytesHeld <= 8 * decoded)
    Seq(roots(8), roots(7), roots(8)).foreach { r =>
      val (_, jobs) = TestSpark.jobsOf(lookup(r, Seq(2L), decoded))
      assert(jobs === 0, s"$jobs jobs")
    }
    assert(counted(lookup(roots(0), Seq(2L), decoded))._2 === 1L)
  }

  test("an operator the driver does not evaluate fails the request, " +
    "naming it") {
    val held = ServingSnapshot.frame(spark,
      org.apache.spark.sql.types.StructType.fromDDL("a LONG"),
      Seq(org.apache.spark.sql.catalyst.InternalRow(1L)))
    val e = intercept[IllegalArgumentException](
      ServingSnapshot.collectOnDriver(held.groupBy("a").count()))
    assert(e.getMessage.contains("Aggregate"))
  }
}
