package graft

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
}
