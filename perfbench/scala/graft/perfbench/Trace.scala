package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call into a layer: the benchmark wraps its own calls into
  * each layer's public functions, so spans mark layer boundaries without
  * touching engine code. `parent` is the span that was open on the same
  * thread when this one began (0 = root); spans of one request share `req`. */
final case class Span(id: Long, name: String, parent: Long, req: Long,
                      startNs: Long, endNs: Long)

/** Spark work charged to one span (or one streaming trigger): the jobs,
  * stages and tasks it caused, found through the job group the span sets. */
final class Work {
  var jobs = 0
  var tasks = 0
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  val taskMs = ArrayBuffer.empty[Long]
  /** (submit ms, first task launch ms, end ms) per job. */
  val jobTimes = ArrayBuffer.empty[Array[Long]]
}

/** Spans and the listener that charges Spark work to them. Tracing is off
  * unless [[start]] is called: untraced runs pay only for the wrapper. */
object Trace {
  @volatile private var on = false
  private var sc: SparkContext = _
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val reqOf = new ThreadLocal[Long] {
    override def initialValue(): Long = 0L
  }
  private val Group = "perfbench-span-"
  private val work = new ConcurrentHashMap[String, Work]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobTime = new ConcurrentHashMap[Int, Array[Long]]()

  def enabled: Boolean = on

  /** Spark jobs started since tracing began. */
  val jobsStarted = new AtomicLong(0)

  def start(context: SparkContext): Unit = {
    sc = context
    on = true
    sc.addSparkListener(listener)
  }

  /** Work of every streaming trigger is charged to `trigger-<batchId>`. */
  def triggerKey(batchId: Long): String = s"trigger-$batchId"
  def spanKey(id: Long): String = s"span-$id"

  def workOf(key: String): Option[Work] = Option(work.get(key))
  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Mark the current thread's spans as belonging to request `req`. */
  def request[A](req: Long)(f: => A): A = {
    val prev = reqOf.get
    reqOf.set(req)
    try f finally reqOf.set(prev)
  }

  /** Time `f` as span `name`. With tracing on, Spark jobs `f` starts on
    * this thread carry the span's job group, so the listener charges them
    * to it; the parent's group is restored afterwards. */
  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val stack = open.get
      val parent = stack.headOption.getOrElse(0L)
      open.set(id :: stack)
      sc.setJobGroup(Group + id, name)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        spans.add(Span(id, name, parent, reqOf.get, t0, t1))
        open.set(stack)
        if (parent == 0L) sc.clearJobGroup()
        else sc.setJobGroup(Group + parent, name)
      }
    }

  /** Record a span timed elsewhere (a streaming trigger, from its progress
    * report), given in epoch milliseconds. */
  def record(name: String, req: Long, startMs: Long, endMs: Long): Unit =
    if (on) {
      val offset = System.nanoTime() - System.currentTimeMillis() * 1000000L
      spans.add(Span(ids.incrementAndGet(), name, 0L, req,
        startMs * 1000000L + offset, endMs * 1000000L + offset))
    }

  private def keyOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap { p =>
      Option(p.getProperty("spark.jobGroup.id"))
        .filter(_.startsWith(Group))
        .map(g => spanKey(g.stripPrefix(Group).toLong))
        .orElse(Option(p.getProperty("streaming.sql.batchId"))
          .map(b => triggerKey(b.toLong)))
    }

  private def charge(key: String)(f: Work => Unit): Unit = {
    val w = work.computeIfAbsent(key, _ => new Work)
    w.synchronized(f(w))
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsStarted.incrementAndGet()
      keyOf(e.properties).foreach { k =>
        e.stageIds.foreach { s => stageKey.put(s, k); stageJob.put(s, e.jobId) }
        val t = Array(e.time, Long.MaxValue, 0L)
        jobTime.put(e.jobId, t)
        charge(k) { w => w.jobs += 1; w.jobTimes += t }
      }
    }

    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobTime.get(j)))
        .foreach(t => t.synchronized {
          t(1) = math.min(t(1), e.taskInfo.launchTime)
        })

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobTime.get(e.jobId)).foreach(t => t.synchronized {
        t(2) = e.time
      })

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageKey.get(e.stageId)).foreach { k =>
        val m = e.taskMetrics
        charge(k) { w =>
          w.tasks += 1
          w.taskMs += e.taskInfo.duration
          if (m != null) {
            w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            w.spillBytes += m.diskBytesSpilled
            w.recordsRead += m.inputMetrics.recordsRead
            w.bytesWritten += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  /** Self time of each span: its duration minus the part of it that its
    * child spans cover. */
  def selfNs(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.endNs - s.startNs - covered)
    }.toMap
  }

  /** Total length of a set of possibly overlapping intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    total + (curE - curS)
  }

  def toJson(all: Seq[Span]): String = {
    val t0 = if (all.isEmpty) 0L else all.map(_.startNs).min
    all.sortBy(_.startNs).map { s =>
      def ms(ns: Long) = "%.3f".formatLocal(java.util.Locale.ROOT, ns / 1e6)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""req":${s.req},"start_ms":${ms(s.startNs - t0)},""" +
        s""""end_ms":${ms(s.endNs - t0)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
