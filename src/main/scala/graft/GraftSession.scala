package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder every entry point and the test suite
  * start from: `cpus` local cores, one shuffle partition per core, UTC
  * session time zone, no UI. Callers chain only the confs that differ
  * (Bench's AQE pre-coalesce width, the test guards) before
  * `getOrCreate()`. */
object GraftSession {
  def local(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
