package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 guards: the ScaleUp generator that BENCH_SF1.md's measurements
  * stand on (FK consistency, exact multiplication, per-replica text
  * cipher), and the w9 zero-variance guard (constant histories must not
  * emit NaN z-scores). */
class ScaleAndGuardsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("ScaleUp: exact multiplication, FK consistency, cipher replicas") {
    val src = "/root/testdata/sf0.001"
    val out = Files.createTempDirectory("graft-scaleup").toString
    ScaleUp.run(spark, src, out, 2)

    def cnt(dir: String, t: String): Long =
      spark.read.parquet(s"$dir/$t.parquet").count()
    // replicated tables double; fixed dims don't
    for (t <- Seq("customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings"))
      assert(cnt(out, t) === 2 * cnt(src, t), s"table $t")
    for (t <- Seq("region", "nation"))
      assert(cnt(out, t) === cnt(src, t), s"dim $t")

    // FK posture preserved: orphan counts scale with the factor, never
    // appear from key collisions across replicas
    def orphans(dir: String): Long =
      spark.read.parquet(s"$dir/orders.parquet")
        .join(spark.read.parquet(s"$dir/customer.parquet"),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .count()
    assert(orphans(out) === 2 * orphans(src))

    // replica 0 is the source verbatim; replica 1 is a cipher: same id
    // set (shifted), same text lengths, different text content
    val srcDocs = spark.read.parquet(s"$src/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val outDocs = spark.read.parquet(s"$out/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val stride = 1000000000000L
    srcDocs.foreach { case (id, text) =>
      assert(outDocs(id) === text, s"replica 0 changed doc $id")
      val rep1 = outDocs(id + stride)
      assert(rep1.length === text.length, s"cipher changed length, doc $id")
      assert((rep1 != text) || text.forall(!_.isLetter),
        s"replica 1 text identical for doc $id")
    }
  }

  test("ScaleUp past 26 replicas: permutation ciphers stay pairwise distinct") {
    // The rotation cipher repeats every 26 replicas — a 100× corpus
    // (r8's sf10) would otherwise carry exact cross-replica duplicates,
    // deepening dup groups quadratically instead of multiplying them.
    // factor 28 exercises r=26,27 (seeded permutations) alongside every
    // rotation; the texts of one doc across all replicas must be
    // pairwise distinct yet length/token-structure preserving.
    val src = "/root/testdata/sf0.001"
    val out = Files.createTempDirectory("graft-scaleup28").toString
    ScaleUp.run(spark, src, out, 28)
    val stride = 1000000000000L
    val srcDocs = spark.read.parquet(s"$src/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val sample = srcDocs.filter(_._2.count(_.isLetter) >= 10).take(5)
    val outDocs = spark.read.parquet(s"$out/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    sample.foreach { case (id, text) =>
      val replicas = (0 until 28).map(r => outDocs(id + r * stride))
      assert(replicas.distinct.size === 28,
        s"doc $id: cipher collision across replicas")
      replicas.foreach { t =>
        assert(t.length === text.length)
        assert(t.split(" ").length === text.split(" ").length)
      }
    }
  }

  test("SparkEntry.T sizes a plain path and its file: URI the same " +
      "(scan-floor byte count and partitioning decision)") {
    val dir = Files.createTempDirectory("graft-tablebytes").toString
    spark.range(2000).select(col("id").as("doc_id"),
        concat(lit("doc "), col("id").cast("string")).as("text"))
      .coalesce(2).write.parquet(s"$dir/documents.parquet")
    val plain = s"$dir/documents.parquet"
    val uri = "file:" + plain
    // data files only: Hadoop's local FS hides the .crc side files
    val dataBytes = new java.io.File(plain).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    assert(dataBytes > 0)
    assert(SparkEntry.tableBytes(spark, plain) === dataBytes)
    assert(SparkEntry.tableBytes(spark, uri) === dataBytes)
    // a split size that makes the table "big" (more byte splits than
    // cores): the floor must stand down for BOTH spellings — a 0-byte
    // misread of the URI would repartition it
    def floored(d: String): Boolean =
      SparkEntry.T(spark, d, "documents").queryExecution.logical.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r
      }.nonEmpty
    val want = spark.sparkContext.defaultParallelism
    val key = "spark.sql.files.maxPartitionBytes"
    spark.conf.set(key, math.max(1L, dataBytes / (want + 1)).toString)
    try {
      assert(!floored(dir))
      assert(!floored("file:" + dir))
    } finally spark.conf.unset(key)
    assert(floored(dir) && floored("file:" + dir))
  }

  test("w9_anomaly: zero-variance history emits no NaN rows (guard)") {
    val dir = Files.createTempDirectory("graft-w9").toString
    def day(d: Int) = timestamp_seconds(lit(86400L * d + 3600L))
    // user 1: three days of IDENTICAL counts — variance 0, z = 0/0 = NaN
    // without the ss·n ≠ s² guard (and NaN > 2.0 holds in Spark's
    // ordering, so the ungated form EMITS those rows)
    val constant = (1 to 3).map(d => (d.toLong, 1L, d))
    // user 2: nine quiet days then a 20-event spike — a real anomaly
    val spiky = (1 to 9).map(d => (100L + d, 2L, d)) ++
      (1 to 20).map(i => (200L + i, 2L, 10))
    val rows = (constant ++ spiky).toDF("event_id", "user_id", "d")
    rows.select(col("event_id"),
        timestamp_seconds(col("d") * 86400L + 3600L).as("ts"),
        col("user_id"), lit("click").as("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("w9_anomaly")(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.forall(r => !r._4.isNaN), s"NaN z-scores in ${got.toSeq}")
    assert(!got.exists(_._1 == 1L),
      s"zero-variance user 1 must be excluded, got ${got.toSeq}")
    assert(got.exists(r => r._1 == 2L && r._3 == 20L && r._4 > 2.0),
      s"user 2's day-10 spike should be flagged, got ${got.toSeq}")
  }

  test("audit: stranded-filter-above-barrier detector — positive and negative controls") {
    val df = spark.range(100).select(col("id"),
      (col("id") * 2).as("v"))
    // POSITIVE control: barrier placed BELOW a selective filter — the
    // Generate blocks pushdown, stranding `v < 10` above it. The
    // detector must fire (this is the pathology the audit guards).
    val bad = ops.Similarity.evalBarrier(df).filter(col("v") < 10)
    assert(Explain.hasStrandedBarrierFilter(bad.queryExecution.sparkPlan),
      "detector missed a filter stranded above the barrier:\n" +
        bad.queryExecution.sparkPlan.toString)
    // NEGATIVE control 1: filter applied before the barrier (the
    // documented contract — barrier only terminal projections).
    val good = ops.Similarity.evalBarrier(df.filter(col("v") < 10))
    assert(!Explain.hasStrandedBarrierFilter(good.queryExecution.sparkPlan),
      "detector false-positived on a correctly-placed barrier")
    // NEGATIVE control 2: the constraint-propagation shape — a join
    // above the barrier re-infers the already-applied predicate (and
    // its IsNotNull) onto the barriered side; redundant, not stranded.
    val other = spark.range(5).select(col("id").as("k"))
    val joined = ops.Similarity.evalBarrier(df.filter(col("id") < 5))
      .join(other.filter(col("k") < 5), col("id") === col("k"))
    assert(!Explain.hasStrandedBarrierFilter(joined.queryExecution.sparkPlan),
      "detector false-positived on re-inferred join constraints:\n" +
        joined.queryExecution.sparkPlan.toString)
    // POSITIVE control 3 (ADVICE r17): a stranded predicate must NOT be
    // suppressed by an unrelated below-barrier filter on a DIFFERENT
    // column with the same erased shape — `id < 10` below used to erase
    // to the same `_<10` as the stranded `v < 10` above, hiding it.
    val crossCol = ops.Similarity.evalBarrier(df.filter(col("id") < 10))
      .filter(col("v") < 10)
    assert(Explain.hasStrandedBarrierFilter(crossCol.queryExecution.sparkPlan),
      "detector suppressed a stranded filter via a same-shape " +
        "different-column below-barrier filter:\n" +
        crossCol.queryExecution.sparkPlan.toString)
    // NEGATIVE control 4: re-inferred constraint through a PURE RENAME —
    // the below filter runs on `id`, a Project then renames id AS rid
    // before the barrier, and a join above re-infers `rid < 5` onto the
    // barriered side. Name normalization must resolve rid → id and
    // suppress (the ann_cluster_recall shape that false-positived when
    // names were matched raw).
    val renamed = ops.Similarity.evalBarrier(
      df.filter(col("id") < 5).select(col("id").as("rid"), col("v")))
    val joinedR = renamed.join(
      spark.range(5).select(col("id").as("rid")).filter(col("rid") < 5),
      Seq("rid"))
    assert(!Explain.hasStrandedBarrierFilter(joinedR.queryExecution.sparkPlan),
      "detector false-positived on a re-inferred constraint through a " +
        "pure rename:\n" + joinedR.queryExecution.sparkPlan.toString)
  }

  test("audit: unbounded-collect checker — positive and negative controls " +
    "+ ops/ is clean") {
    val dir = java.nio.file.Files.createTempDirectory("graft-collects")
      .toFile
    try {
      // POSITIVE control: a naked data-sized collect with no visible
      // bound in its 30-line window must be flagged.
      java.nio.file.Files.write(new java.io.File(dir, "Bad.scala").toPath,
        ("object Bad {\n" +
          "  def f(df: org.apache.spark.sql.DataFrame) =\n" +
          "    df.collect()\n" +
          "}\n").getBytes("UTF-8"))
      // NEGATIVE controls: limit-gated, require-bounded, and an explicit
      // bound-contract comment — the three accepted shapes.
      java.nio.file.Files.write(new java.io.File(dir, "Good.scala").toPath,
        ("object Good {\n" +
          "  def a(df: org.apache.spark.sql.DataFrame) =\n" +
          "    df.limit(10).collect()\n" +
          "  def b(df: org.apache.spark.sql.DataFrame, n: Int) = {\n" +
          "    require(n <= 100, \"n\")\n" +
          "    df.collect()\n" +
          "  }\n" +
          "  def c(df: org.apache.spark.sql.DataFrame) = {\n" +
          "    // BOUNDED collect: nlist rows (the centroid-table bound)\n" +
          "    df.collect()\n" +
          "  }\n" +
          "}\n").getBytes("UTF-8"))
      val flagged = Explain.unboundedCollects(dir)
      assert(flagged == Seq("Bad.scala:3"),
        s"checker controls failed: $flagged")
    } finally {
      Option(dir.listFiles()).foreach(_.foreach(_.delete()))
      dir.delete()
    }
    // the real library must be clean (the audit's load-bearing claim)
    val ops = new java.io.File("src/main/scala/graft/ops")
    assume(ops.isDirectory) // repo-rooted test run
    assert(Explain.unboundedCollects(ops).isEmpty,
      s"ops/ carries unbounded collects: ${Explain.unboundedCollects(ops)}")
  }

  test("audit: unbounded-collect checker — a limit(N + 1) sentinel passes " +
    "only when a length is checked against N") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sentinel")
      .toFile
    def write(name: String, body: String*): Unit =
      java.nio.file.Files.write(new java.io.File(dir, name).toPath,
        body.mkString("\n").getBytes("UTF-8"))
    try {
      // POSITIVE controls: the sentinel row is fetched but never checked
      // (silent truncation at N + 1, though a limit( is in view), and a
      // check against some other name than the sentinel's N.
      write("Unchecked.scala",
        "object Unchecked {",
        "  def f(df: org.apache.spark.sql.DataFrame, cap: Int) =",
        "    df.limit(cap + 1).collect()",
        "}")
      write("WrongCap.scala",
        "object WrongCap {",
        "  def f(df: org.apache.spark.sql.DataFrame, cap: Int, m: Int) = {",
        "    val rows = df",
        "      .limit(cap + 1)",
        "      .collect()",
        "    require(rows.length <= m, \"m\")",
        "    rows",
        "  }",
        "}")
      // NEGATIVE controls: the require after a multi-line chain, and a
      // capped helper whose caller branches on the over-budget row.
      write("Checked.scala",
        "object Checked {",
        "  val MaxRows = 2",
        "  def f(df: org.apache.spark.sql.DataFrame) = {",
        "    val rows = df.filter(\"x > 0\")",
        "      .limit(MaxRows + 1).collect()",
        "    require(rows.length <= MaxRows, \"over\")",
        "    rows",
        "  }",
        "  def g(df: org.apache.spark.sql.DataFrame, rowCap: Int) =",
        "    (df.limit(rowCap + 1).collect(), rowCap)",
        "  def h(df: org.apache.spark.sql.DataFrame) = {",
        "    val (got, rowCap) = g(df, 10)",
        "    if (got.length > rowCap) None else Some(got)",
        "  }",
        "}")
      val flagged = Explain.unboundedCollects(dir)
      assert(flagged == Seq("Unchecked.scala:3", "WrongCap.scala:5"),
        s"sentinel controls failed: $flagged")
    } finally {
      Option(dir.listFiles()).foreach(_.foreach(_.delete()))
      dir.delete()
    }
  }
}
