package graft

/** Per-leg candidate-volume report for the prefix-filtered dedup family
  * (`Dedup.prefixJoinStats`): prints ONE JSON line per config with
  * n_docs / prefix_rows / candidates / output_pairs / cand_per_output,
  * using the registry's own `d_token_jaccard` (t=0.7) and the
  * containment-adjacent t=0.9 geometry. `tools/sf_fullreg_sweep.sh`
  * writes this next to each leg's bench JSON and
  * `tools/fullreg_report.py` prints the table — so a candidate-volume or
  * prefix-length regression (the class of change behind the r11 Jaccard
  * slowdown) is a per-round number, not a manual A/B.
  *
  * Usage: runMain graft.DedupStats <sfDir>
  */
object DedupStats {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    for (t <- Seq(0.7, 0.9)) {
      val r = graft.ops.Dedup.prefixJoinStats(docs, "doc_id", "text", t,
        bucketCols = Seq("lang", "source")).head()
      println(s"""{"query":"jaccard_prefix_t$t","n_docs":${r.getLong(0)},""" +
        s""""prefix_rows":${r.getLong(1)},"candidates":${r.getLong(2)},""" +
        s""""output_pairs":${r.getLong(3)},""" +
        s""""cand_per_output":${r.getDouble(4)},"sf":"$sfDir"}""")
    }
    spark.stop()
  }
}
