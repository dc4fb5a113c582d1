package graft.perfbench

import org.apache.spark.sql.{Row, SparkSession}

/** `ingest_serve`: the paper's real-time path, write side then read side,
  * in one JVM. Set-up seeds the online store, starts the ingest stream,
  * builds the IVF store and sends one request. The ingest phase streams
  * the generator's events
  * into the online store; the serve phase then answers requests from the
  * store the stream wrote, after a warm-up round that counts as set-up.
  * A store layout that speeds upserts but slows lookups (or the reverse)
  * moves freshness against request latency. */
object Realtime {
  def run(spark: SparkSession, a: Main.Args, sc: Scale,
          r: Main.Result): Unit = {
    val dir = s"${a.work}/realtime"
    val ((stream, ivf), buildS) = Main.setup {
      // the IVF store and the online store share nothing: build them side
      // by side
      val ivfBuild = new java.util.concurrent.FutureTask[Serve.Ivf](
        () => Serve.buildIvf(spark, a.data, dir, sc))
      new Thread(ivfBuild, "perfbench-ivf-build").start()
      val f = Ingest.build(spark, a.data, s"${a.work}/ingest-input", dir, sc)
      val ivf = ivfBuild.get()
      // warm-up request, not checked: warms the serve path while the rest
      // of set-up is still cold
      val v = ivf.catalog.head().getSeq[Double](1)
      Serve.request(spark, sc, f.store, ivf, 0L, v, -1L,
        new java.sql.Timestamp(System.currentTimeMillis()))
      (f, ivf)
    }
    val t0 = System.nanoTime()
    val oracle = Serve.oracle(spark, a, sc, ivf.catalog)
    r.notes("oracle_s") = Main.secondsSince(t0)

    val latest = Ingest.measure(spark, a, sc, stream, r)
    val expected: Map[Long, Row] = latest.map(row => row.getLong(2) -> row)
      .toMap
    // the serving clock: after every ingested event was created
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val (_, warmS) = Main.setup(
      Serve.warmUp(spark, sc, stream.store, ivf, oracle, now))
    r.notes("warm_round_s") = warmS
    r.e2e("setup_s") = buildS + warmS
    Serve.measure(spark, a, sc, stream.store, ivf, oracle, expected, now,
      a.seconds, r)
  }
}
