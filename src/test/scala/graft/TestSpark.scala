package graft

import scala.jdk.CollectionConverters._

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

  /** `body`'s result and the number of Spark jobs it started. */
  def jobsOf[A](body: => A): (A, Int) = {
    val (out, jobs) = jobNamesOf(body)
    (out, jobs.length)
  }

  /** `body`'s result and the Spark jobs it started, each named by its
    * description (what Spark's own jobs, like a parallel file listing,
    * set) or else its last stage's name: jobs run under a job group of
    * their own (broadcast and subquery jobs inherit it), recorded by a
    * `SparkListener` once the listener bus has drained. */
  def jobNamesOf[A](body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID}"
    val counted = "counted"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(
            _.getProperty("spark.jobGroup.id") == group).foreach { p =>
          jobs.add(Option(p.getProperty("spark.job.description"))
            .filter(_ != counted)
            .getOrElse(e.stageInfos.lastOption.map(_.name).getOrElse("")))
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, counted)
    try {
      val out = body
      // the bus is private to Spark; its drain is reached reflectively
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      (out, jobs.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
