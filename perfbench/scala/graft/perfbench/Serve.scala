package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.{Vectors => V}
import graft.ops.{FeatureStore, Similarity}
import graft.streaming.StreamingJobs

/** The serve phase of `ingest_serve`: the real-time recommend path as a
  * closed loop of two clients. A request looks the user's features up in
  * the online store (`FeatureStore.onlineLookup`) and retrieves the top 10
  * items for the user's query vector from the IVF store
  * (`Similarity.servedTopKFromStore`, cosine). User ids are Zipf-skewed
  * over the events' users and seeded. */
object Serve {
  val Clients = 2
  val K = 10
  /** Requests per client sequence; a client cycles through its sequence,
    * so the exact answers computed before set-up cover every request. */
  val SeqLen = 64
  /** A request whose recall@10 against the exact top 10 is below this
    * counts as failed: the store answers with unrelated items. */
  val RecallFloor = 0.5
  val EventCols = Seq("event_id", "ts", "user_id", "event_type", "value",
    "props")
  /** The TTL reaches back past the seed events (January 2024), so every
    * user's latest row is fresh and the lookup must return it. */
  val View = FeatureStore.FeatureView("user_activity", Seq("user_id"), "ts",
    ttlSeconds = 20L * 365 * 86400)

  /** The IVF store: base + delta paths, its frozen centroids, and the
    * catalog it was built from. */
  final case class Ivf(base: String, delta: String, centroids: DataFrame,
                       catalog: DataFrame)

  /** Build the IVF store under `dir`: append the catalog against seeded
    * centroids, then retrain and rewrite it with `rebuildIvfStore`. */
  def buildIvf(spark: SparkSession, data: String, dir: String,
               sc: Scale): Ivf = Trace.span("similarity.build_ivf") {
    val base = s"$dir/ivf_base"
    val delta = s"$dir/ivf_delta"
    val corpus = catalog(spark, data, sc).localCheckpoint()
    val seeds = Similarity.pickCentroids(corpus, "vec_id", "vec", sc.nlist)
      .localCheckpoint()
    StreamingJobs.ivfIndexedAppendBatch(corpus, seeds, "vec", delta)
    Ivf(base, delta, StreamingJobs.rebuildIvfStore(spark, base, delta,
      "vec_id", "vec", sc.nlist), corpus)
  }

  /** The catalog: `copies` jittered copies of each embedding, unit length
    * (the store serves cosine). */
  def catalog(spark: SparkSession, data: String, sc: Scale): DataFrame = {
    val emb = SparkEntry.T(spark, data, "embeddings")
      .filter(col("vec_id") < sc.baseItems)
      .select(col("vec_id"), col("embedding"))
    V.normalized(Similarity.plantedGeometricCorpus(emb, "vec_id",
      "embedding", copies = sc.copies).select(col("vec_id"), col("vec")),
      "vec", "vec")
  }

  /** The user → query vector map: a seeded pick of one catalog item. */
  def queryItem(seed: Long, user: Long, catalogSize: Long): Long =
    java.lang.Math.floorMod(
      scala.util.hashing.MurmurHash3.productHash((seed, user)).toLong * 7919L,
      catalogSize)

  /** Per-client user sequences, Zipf-skewed over the events' users. */
  def userSequences(seed: Long, users: Int): Seq[Array[Long]] = {
    val rnd = new java.util.Random(seed)
    val w = (1 to users).map(r => 1.0 / r)
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    val perm = rnd.ints(0, Int.MaxValue).limit(users).toArray.zipWithIndex
      .sortBy(_._1).map(_._2.toLong)
    Seq.fill(Clients)(Array.fill(SeqLen) {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      perm(math.min(if (i >= 0) i else -i - 1, users - 1))
    })
  }

  /** What the answers are checked against, computed once before the
    * phases run: each client's user sequence, each user's query vector and
    * the exact top 10 (`Similarity.bruteForceTopK`) of every user
    * requested. */
  final case class Oracle(seqs: Seq[Array[Long]], catalogSize: Long,
                          qVec: Map[Long, Seq[Double]],
                          exact: Map[Long, Map[Long, Double]])

  def oracle(spark: SparkSession, a: Main.Args, sc: Scale,
             corpus: DataFrame): Oracle = {
    import spark.implicits._
    val seqs = userSequences(a.seed, sc.users)
    val users = seqs.flatten.distinct.sorted
    val n = corpus.count()
    val qItem = users.map(u => u -> queryItem(a.seed, u, n)).toMap
    val itemVec: Map[Long, Seq[Double]] = corpus
      .filter(col("vec_id").isin(qItem.values.toSeq.distinct: _*))
      .collect().map(row => row.getLong(0) -> row.getSeq[Double](1)).toMap
    val qVec = users.map(u => u -> itemVec(qItem(u))).toMap
    val exact = Similarity.bruteForceTopK(
        users.map(u => (u, qVec(u))).toDF("u", "vec"), corpus, "u", "vec_id",
        "vec", K, "cosine")
      .collect().groupBy(_.getLong(0))
      .map { case (u, rows) =>
        u -> rows.map(x => x.getLong(2) -> x.getDouble(3)).toMap }
    Oracle(seqs, n, qVec, exact)
  }

  /** One request: the user's features, then the top 10 for its vector. */
  def request(spark: SparkSession, sc: Scale, store: String, ivf: Ivf,
              u: Long, qv: Seq[Double], req: Long,
              now: java.sql.Timestamp): (Array[Row], Array[Row]) = {
    import spark.implicits._
    Trace.request(req) {
      Trace.span("serve.request") {
        val lk = Trace.span("feature_store.lookup") {
          FeatureStore.onlineLookup(spark.read.parquet(store), View,
            Seq(u).toDF("user_id"), lit(now), "event_id")
            .select(EventCols.map(col): _*).collect()
        }
        val top = Trace.span("similarity.retrieve") {
          Similarity.servedTopKFromStore(Seq((u, qv)).toDF("u", "vec"),
            ivf.base, ivf.delta, "u", "vec_id", "vec", K, ivf.centroids,
            sc.nprobe, "cosine").collect()
        }
        (lk, top)
      }
    }
  }

  /** Recall@10 of a correct answer, or why the answer is wrong. The lookup
    * must return exactly the user's latest row; the top 10 must be ten
    * distinct catalog items ranked 1..10 by non-increasing score, score
    * every item the exact top 10 also holds as the exact answer does, and
    * recall at least [[RecallFloor]]. */
  def check(o: Oracle, want: Row, u: Long, lk: Array[Row],
            top: Array[Row]): Either[String, Double] = {
    if (lk.length != 1 || lk(0) != want)
      return Left(s"lookup u=$u: got ${lk.mkString(";")} want $want")
    val ranked = top.sortBy(_.getInt(1))
    val ids = ranked.map(_.getLong(2))
    val scores = ranked.map(_.getDouble(3))
    if (top.length != K || ranked.map(_.getInt(1)).toSeq != (1 to K) ||
        ids.distinct.length != K ||
        ids.exists(i => i < 0 || i >= o.catalogSize) ||
        scores.sliding(2).exists(p => p(1) > p(0)))
      return Left(s"top-k u=$u malformed: ${top.mkString(";")}")
    val ex = o.exact(u)
    val bad = ids.zip(scores).find { case (i, s) =>
      ex.get(i).exists(e => math.abs(e - s) > 1e-9) }
    if (bad.nonEmpty) return Left(s"top-k u=$u score mismatch $bad")
    val recall = ids.count(ex.contains).toDouble / K
    if (recall < RecallFloor) Left(s"top-k u=$u recall $recall")
    else Right(recall)
  }

  /** One warm-up round, not measured: the first requests after the store
    * changed, with both clients in flight, run up to twice as slow as the
    * later ones. */
  def warmUp(spark: SparkSession, sc: Scale, store: String, ivf: Ivf,
             o: Oracle, now: java.sql.Timestamp): Unit = {
    val warm = o.seqs.map(s => new Thread(() => {
      request(spark, sc, store, ivf, s(0), o.qVec(s(0)), -1L, now)
    }))
    warm.foreach(_.start())
    warm.foreach(_.join())
  }

  /** The closed loop: [[Clients]] threads, each sending its next request
    * when the previous one returns, for `seconds`. `expected` holds each
    * user's latest store row; `now` is the serving clock. */
  def measure(spark: SparkSession, a: Main.Args, sc: Scale, store: String,
              ivf: Ivf, o: Oracle, expected: Map[Long, Row],
              now: java.sql.Timestamp, seconds: Int, r: Main.Result): Unit = {
    val lat = ArrayBuffer.empty[Double]
    val recalls = ArrayBuffer.empty[Double]
    val floorMs = ArrayBuffer.empty[Double]

    val deadline = System.nanoTime() + seconds * 1000000000L
    val reqIds = new java.util.concurrent.atomic.AtomicLong(0)
    val threads = o.seqs.zipWithIndex.map { case (userSeq, c) =>
      new Thread(() => {
        var i = 1 // the warm-up round took the first
        while (System.nanoTime() < deadline) {
          val u = userSeq(i % SeqLen)
          val req = reqIds.incrementAndGet()
          val t0 = System.nanoTime()
          val res = try Right(request(spark, sc, store, ivf, u, o.qVec(u), req,
              now))
            catch { case e: Throwable => Left(s"request u=$u threw $e") }
          val ms = (System.nanoTime() - t0) / 1e6
          val verdict = res.flatMap { case (lk0, top0) =>
            // negative controls: corrupt the first answer
            val lk = if (a.corrupt == "lookup" && req == 1)
              lk0.map(x => Row.fromSeq(x.toSeq.updated(4, x.getDouble(4) + 1)))
            else lk0
            val top = if (a.corrupt == "topk" && req == 1)
              top0.map(x => Row(x.get(0), x.get(1),
                (x.getLong(2) + 7L * sc.copies) % o.catalogSize, x.get(3)))
            else top0
            check(o, expected(u), u, lk, top)
          }
          r.synchronized {
            r.attempted += 1
            lat += ms
            verdict match {
              case Right(rc) => recalls += rc
              case Left(why) => r.fail(why)
            }
          }
          if (Trace.enabled) {
            val f0 = System.nanoTime()
            Trace.span("spark.job_floor") {
              spark.sparkContext.parallelize(Seq(1), 1).count()
            }
            r.synchronized { floorMs += (System.nanoTime() - f0) / 1e6 }
          }
          i += 1
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())

    val recall = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size
    r.e2e("latency_p50_ms") = Stats.median(lat.toSeq)
    // closed loop without think time: throughput = clients / mean latency
    r.e2e("throughput_per_s") = Clients * 1000.0 * lat.size / lat.sum
    r.notes("requests") = lat.size
    r.notes("latencies_ms") = lat.toSeq.map(math.rint)
    r.notes("recall_at_10") = recall
    if (Trace.enabled) Layers.serve(Trace.allSpans, recall, floorMs.toSeq, r)
  }
}
