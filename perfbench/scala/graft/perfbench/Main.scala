package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark driver, one workload per JVM. Reads the inputs `run.py`
  * generated from the seed, sets the workload up (`setup_s`), runs it for
  * `--seconds`, checks every output, and writes one JSON result for
  * `run.py` to print.
  *
  * Usage: Main --workload ingest_serve|eval --data DIR --work DIR
  *   --seconds N --trace 0|1 --seed N --corrupt none|lookup|topk|eval
  *   --out FILE --users N --base N --copies N --nlist N --nprobe N
  *   --buckets N
  */
object Main {

  /** Everything a workload reports back. `e2e` holds the end-to-end
    * metrics, `layers` the per-layer ones (traced run only); `notes` go to
    * the result file as they are, for the checks `run.py` does and for
    * diagnosis. */
  final class Result {
    var attempted = 0L
    var failed = 0L
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val notes = mutable.LinkedHashMap.empty[String, Any]
    val failures = mutable.ArrayBuffer.empty[String]
    def fail(why: String): Unit = synchronized {
      failed += 1
      if (failures.size < 20) failures += why
    }
  }

  final case class Args(workload: String, data: String, work: String,
                        seconds: Int, trace: Boolean, seed: Long,
                        corrupt: String, out: String, shape: Scale)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    def i(k: String) = m(k).toInt
    Args(m("workload"), m("data"), m("work"), i("seconds"), m("trace") == "1",
      m("seed").toLong, m.getOrElse("corrupt", "none"), m("out"),
      Scale(users = i("users"), baseItems = i("base"), copies = i("copies"),
        nlist = i("nlist"), nprobe = i("nprobe"), buckets = i("buckets")))
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Spark jobs the set-up started (traced runs). */
  @volatile var setupJobs = 0L

  /** Run a piece of set-up; returns its result and its time in seconds. */
  def setup[F](build: => F): (F, Double) = {
    val j0 = Trace.jobsStarted.get
    val t0 = System.nanoTime()
    val f = build
    val s = secondsSince(t0)
    setupJobs += Trace.jobsStarted.get - j0
    (f, s)
  }

  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val r = new Result
    val t0 = System.nanoTime()
    val spark = session(a.work)
    val sessionS = secondsSince(t0)
    r.notes("session_s") = sessionS
    if (a.trace) Trace.start(spark.sparkContext)
    val scale = a.shape
    a.workload match {
      case "ingest_serve" => Realtime.run(spark, a, scale, r)
      case "eval"         => Eval.run(spark, a, scale, r)
      case w        => throw new IllegalArgumentException(s"workload $w")
    }
    r.e2e("setup_s") = sessionS + r.e2e("setup_s")
    if (a.trace) {
      r.layers("spark.jobs") = setupJobs.toDouble
      r.layers("jvm.heap_peak_mb") = heapPeakMb
      val spans = Trace.allSpans
      val f = new java.io.File(a.work, "spans.json")
      java.nio.file.Files.writeString(f.toPath, Trace.toJson(spans))
      r.notes("spans_file") = f.getPath
      r.notes("spans") = spans.size
    }
    spark.stop()
    writeResult(a.out, r)
  }

  def writeResult(path: String, r: Result): Unit = {
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("attempted", r.attempted)
    out.put("failed", r.failed)
    out.put("e2e", r.e2e.asJava)
    out.put("layers", r.layers.asJava)
    out.put("failures", r.failures.asJava)
    out.put("notes", r.notes.map { case (k, v) => k -> jsonable(v) }.asJava)
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writerWithDefaultPrettyPrinter()
      .writeValue(new java.io.File(path), out)
  }

  private def jsonable(v: Any): Any = v match {
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => k.toString -> jsonable(x) }.asJava
    case s: collection.Seq[_] => s.map(jsonable).asJava
    case x => x
  }
}

/** Workload shape, set by `gen.py`'s scale table: the serving catalog is
  * `copies` jittered copies of the first `baseItems` embeddings in an IVF
  * store of `nlist` cells probed `nprobe` at a time; the online store has
  * `buckets` hash buckets; `users` is the events' user count. */
final case class Scale(users: Int, baseItems: Int, copies: Int, nlist: Int,
                       nprobe: Int, buckets: Int)

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail: the highest percentile with at least ten samples beyond
    * it (the 11th-largest sample) when there are 20 samples or more, else
    * the maximum. */
  def tail(xs: Seq[Double]): Double =
    if (xs.size >= 20) xs.sorted.apply(xs.size - 11) else xs.max
}
