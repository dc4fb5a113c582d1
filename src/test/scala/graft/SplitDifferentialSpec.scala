package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, Project, Union, Window}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Relational

/** Differential pin for the r16 histogram [[Relational.timeSplit]]: the
  * boundary-exact split must equal the full-corpus rank form
  * ([[Relational.timeSplitRank]]) ROW FOR ROW — especially on ts ties
  * straddling the fraction boundaries, which is exactly the case the
  * histogram form's per-boundary-group window must get right. Small value
  * domains force heavy ties; fixed scalacheck seeds keep runs
  * reproducible (the suite's standard offline-sampling pattern). */
class SplitDifferentialSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rowsGen: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(0, 300)
    // ts domain of 8 values → every boundary lands inside a tie group
    ts <- Gen.listOfN(n, Gen.choose(0L, 7L))
  } yield ts.zipWithIndex.map { case (v, i) => (v, i.toLong) }

  private type Split = (DataFrame, String, String, Double, Double) => DataFrame

  /** split label per tiebreak value (the tiebreak is unique) */
  private def assignments(df: DataFrame, f: Split, trainFrac: Double,
                          valFrac: Double, tb: String = "id")
      : Map[Any, String] =
    f(df, "ts", tb, trainFrac, valFrac).select(col(tb), col("split"))
      .collect().map(r => r.get(0) -> r.getString(1)).toMap

  /** timeSplit's labels equal timeSplitRank's */
  private def assertSameSplit(df: DataFrame, trainFrac: Double,
                              valFrac: Double, tb: String = "id")
      : Map[Any, String] = {
    val hist = assignments(df, Relational.timeSplit, trainFrac, valFrac, tb)
    val rank = assignments(df, Relational.timeSplitRank, trainFrac, valFrac, tb)
    assert(hist === rank, s"fracs ($trainFrac, $valFrac)")
    hist
  }

  /** Runs `body` with the rank guard off (the production default) and on. */
  private def bothGuards(body: => Unit): Unit = {
    val key = "spark.graft.rankGuard"
    val before = spark.conf.getOption(key)
    try Seq("false", "true").foreach { g =>
      withClue(s"$key=$g: ") { spark.conf.set(key, g); body }
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("histogram timeSplit ≡ rank timeSplit on tie-heavy random multisets") {
    val fracs = Seq((0.8, 0.1), (0.5, 0.5), (0.9, 0.0), (1.0, 0.0),
      (0.33, 0.33))
    bothGuards {
      (1 to 4).foreach { batch =>
        val rows = rowsGen
          .pureApply(Gen.Parameters.default, Seed(700L + batch))
        val df = rows.toDF("ts", "id")
        fracs.foreach { case (tf, vf) =>
          withClue(s"batch $batch: ") { assertSameSplit(df, tf, vf) }
        }
      }
    }
  }

  test("histogram timeSplit ≡ rank timeSplit when n·frac is exactly integral") {
    // 10 rows, 0.8/0.1 → thresholds 8.0/9.0 land exactly on group edges:
    // the histogram form must classify the edge groups as fully-train /
    // fully-val (no boundary group), matching rank semantics.
    val df = (1L to 10L).map(i => ((i - 1) / 2, i)).toDF("ts", "id")
    bothGuards {
      val hist = assertSameSplit(df, 0.8, 0.1)
      assert(hist.values.groupBy(identity).view.mapValues(_.size).toMap ===
        Map("train" -> 8, "val" -> 1, "test" -> 1))
    }
  }

  test("null ts sorts first and splits rank-exactly in both forms") {
    val rows = Seq((None, 1L), (None, 2L), (Some(5L), 3L), (Some(6L), 4L),
      (Some(6L), 5L), (Some(7L), 6L), (Some(8L), 7L), (Some(9L), 8L),
      (Some(9L), 9L), (Some(10L), 10L))
    val df = rows.toDF("ts", "id")
    bothGuards {
      val hist = assertSameSplit(df, 0.8, 0.1)
      // nulls are the two earliest rows → train
      assert(hist(1L) === "train" && hist(2L) === "train")
    }
  }

  test("c7 shape: DateType ts with a zero-padded string tiebreak") {
    // (u, it) pairs are unique, so the c7 concat tiebreak is a total
    // order; six dates force ties across both boundaries, and one null
    // tiebreak sorts first within its date
    (1 to 3).foreach { batch =>
      val rows = rowsGen.pureApply(Gen.Parameters.default, Seed(800L + batch))
      val df = rows.map { case (day, id) => (day % 6, id / 17, id % 17) }
        .toDF("day", "u", "it")
        .select(date_add(lit("2024-01-01").cast("date"),
            col("day").cast("int")).as("ts"),
          when(col("u") === 3 && col("it") === 0, lit(null))
            .otherwise(format_string("%020d%020d", col("u"), col("it")))
            .as("tb"))
      assert(df.schema("ts").dataType.typeName === "date")
      Seq((0.8, 0.1), (0.5, 0.25), (0.1, 0.0)).foreach { case (tf, vf) =>
        withClue(s"batch $batch: ") { assertSameSplit(df, tf, vf, "tb") }
      }
    }
  }

  test("a single ts group splits by the tiebreak alone") {
    val df = (1L to 50L).map(i => (7L, (i * 31) % 53)).toDF("ts", "id")
    val hist = assertSameSplit(df, 0.8, 0.1)
    val ids = hist.keys.map(_.asInstanceOf[Long]).toSeq.sorted
    assert(ids.take(40).forall(hist(_) == "train"))
    assert(ids.slice(40, 45).forall(hist(_) == "val"))
    assert(ids.drop(45).forall(hist(_) == "test"))
  }

  test("n = 1 and fractions where floor(n·frac) is 0 or n") {
    val one = Seq((5L, 1L)).toDF("ts", "id")
    assert(assertSameSplit(one, 0.8, 0.1) === Map(1L -> "test"))
    assert(assertSameSplit(one, 1.0, 0.0) === Map(1L -> "train"))
    assert(assertSameSplit(one, 0.0, 1.0) === Map(1L -> "val"))
    val ten = (1L to 10L).map(i => (i % 3, i)).toDF("ts", "id")
    // r1 = 0; r1 = 0 and r2 = n; r1 = r2 = n; both past n; r2 < r1
    Seq((0.05, 0.0), (0.0, 1.0), (1.0, 0.0), (1.5, 0.5), (0.5, -0.3))
      .foreach { case (tf, vf) => assertSameSplit(ten, tf, vf) }
    assert(assertSameSplit(ten, 0.05, 0.0).values.toSet === Set("test"))
    assert(assertSameSplit(ten, 0.0, 1.0).values.toSet === Set("val"))
  }

  test("timeSplit returns one projection over its input: no union, join " +
    "or window") {
    val df = spark.range(200)
      .select((col("id") % 7).as("ts"), col("id"))
    val out = Relational.timeSplit(df, "ts", "id", 0.8, 0.1)
    out.queryExecution.analyzed match {
      case Project(_, child) =>
        assert(child.sameResult(df.queryExecution.analyzed),
          out.queryExecution.analyzed.treeString)
      case p => fail(s"not a Project over the input:\n${p.treeString}")
    }
    val opt = out.queryExecution.optimizedPlan
    assert(opt.collect {
      case n @ (_: Union | _: Join | _: Window) => n
    }.isEmpty, opt.treeString)
  }

  test("empty input yields an empty split in both forms") {
    val df = Seq.empty[(Long, Long)].toDF("ts", "id")
    assert(Relational.timeSplit(df, "ts", "id", 0.8, 0.1).count() === 0L)
    assert(Relational.timeSplitRank(df, "ts", "id", 0.8, 0.1).count() === 0L)
  }

  test("deterministicShuffle: dense 1..n positions, reproducible across " +
    "partitionings, ordered by md5 of the key; null key is a loud error") {
    val df = (1L to 97L).map(i => (i, s"doc$i")).toDF("id", "name")
    val a = Relational.deterministicShuffle(df, col("id"))
      .select(col("id"), col("shuffle_pos")).as[(Long, Long)]
      .collect().toMap
    assert(a.values.toSeq.sorted === (1L to 97L))
    // same content, different partitioning → identical positions
    val b = Relational.deterministicShuffle(df.repartition(7), col("id"))
      .select(col("id"), col("shuffle_pos")).as[(Long, Long)]
      .collect().toMap
    assert(a === b)
    // matches the plain-Scala md5 order (content-pure contract)
    val mdig = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String): String = mdig.digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val want = (1L to 97L).sortBy(i => (hex(i.toString), i.toString))
      .zipWithIndex.map { case (id, p) => (id, p + 1L) }.toMap
    assert(a === want)
    val ex = intercept[Exception] {
      Relational.deterministicShuffle(
        Seq((Option.empty[Long], "x")).toDF("id", "name"), col("id"))
        .count()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).mkString("\n").contains("null shuffle key"))
  }

  test("globalCumSum: exact inclusive running totals on random multisets") {
    (1 to 3).foreach { batch =>
      val rows = rowsGen
        .pureApply(Gen.Parameters.default, Seed(900L + batch))
        .map { case (v, id) => (id, v + 1) } // positive weights, unique key
      val df = rows.toDF("k", "w")
      val got = Relational.globalCumSum(df, Seq(col("k")), "w", "cum")
        .select(col("k"), col("cum")).as[(Long, Long)].collect().toMap
      var acc = 0L
      val want = rows.sortBy(_._1).map { case (k, w) =>
        acc += w; (k, acc)
      }.toMap
      assert(got === want, s"batch $batch")
    }
  }
}
