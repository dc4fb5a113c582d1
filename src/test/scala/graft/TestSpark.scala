package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (spark_guide.md: one per suite,
  * lazy — JVM-wide here since suites run in one forked JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
      .appName("graft-tests")
      // Pay globalRowNumber's runtime invariant check (max(rn)==count) in
      // every test — turns exchange-reuse regressions into hard failures.
      .config("spark.graft.rankGuard", "true")
      // Enforce the prefix-join family's id-uniqueness contract in every
      // test (Dedup.uniqueIdGuard) — duplicate ids fail loudly, not
      // silently drop pairs.
      .config("spark.graft.dedupIdGuard", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `body`'s result and the number of Spark jobs it started: jobs run
    * under a job group of their own (broadcast and subquery jobs inherit
    * it), counted by a `SparkListener` once the listener bus has drained. */
  def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try {
      val out = body
      // the bus is private to Spark; its drain is reached reflectively
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
