package graft

import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Relational

/** [[Relational.kCore]] against a plain-Scala replay of the reference's
  * fixed-round loop (`src/data/movielens.py:345-382`): each round keeps
  * the rows whose user count, then whose item count, reaches its minimum.
  * Small key domains force duplicate rows, null keys are mixed in, and
  * fixed scalacheck seeds keep runs reproducible. */
class KCoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private type Pair = (Option[Long], Option[Long])

  private val rowsGen: Gen[List[Pair]] = {
    def key(domain: Long): Gen[Option[Long]] = Gen.frequency(
      1 -> Gen.const(None), 12 -> Gen.choose(0L, domain).map(Some(_)))
    for {
      n <- Gen.choose(0, 400)
      rows <- Gen.listOfN(n, Gen.zip(key(15L), key(9L)))
    } yield rows
  }

  /** The reference loop; a null key never reaches its count. */
  private def reference(rows: Seq[Pair], minUser: Int, minItem: Int,
                        iterations: Int): Seq[Pair] =
    (1 to iterations).foldLeft(rows) { (cur, _) =>
      def keep(rs: Seq[Pair], key: Pair => Option[Long],
               min: Int): Seq[Pair] = {
        val counts = rs.flatMap(key).groupBy(identity).view
          .mapValues(_.size).toMap
        rs.filter(r => key(r).exists(k => counts(k) >= min))
      }
      keep(keep(cur, _._1, minUser), _._2, minItem)
    }

  private def sorted(rs: Seq[Pair]): Seq[Pair] =
    rs.sortBy { case (u, i) => (u.getOrElse(-1L), i.getOrElse(-1L)) }

  test("kCore ≡ the plain-Scala reference loop: duplicates kept, null keys " +
    "dropped, thresholds that empty the set") {
    // (minUser, minItem, iterations); the last two empty every batch
    val params = Seq((2, 2, 3), (3, 4, 3), (5, 5, 3), (1, 1, 1), (0, 0, 2),
      (2, 2, 0), (1000, 1, 3), (1, 1000, 3))
    (1 to 4).foreach { batch =>
      val rows = rowsGen.pureApply(Gen.Parameters.default, Seed(1100L + batch))
      val df = rows.toDF("u", "i")
      params.foreach { case (mu, mi, it) =>
        val got = Relational.kCore(df, "u", "i", mu, mi, it)
          .select(col("u"), col("i")).as[Pair].collect().toSeq
        val want = reference(rows, mu, mi, it)
        assert(sorted(got) === sorted(want),
          s"batch $batch (minUser=$mu, minItem=$mi, iterations=$it)")
        if (mu >= 1000 || mi >= 1000) assert(got.isEmpty)
      }
    }
  }

  test("kCore plans one read of its input and no join") {
    val df = spark.range(2000)
      .select((col("id") % 37).as("u"), (col("id") % 23).as("i"))
    val plan = Relational.kCore(df, "u", "i", 5, 5, 3)
      .queryExecution.optimizedPlan
    assert(plan.collectLeaves().size === 1, plan.treeString)
    assert(plan.collect { case j: Join => j }.isEmpty, plan.treeString)
  }
}
