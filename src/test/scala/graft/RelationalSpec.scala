package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Relational

/** Split/encoding/sampling property tests mirroring the reference's
  * `tests/test_data_loading.py` (FIXTURES.md §1.4). */
class RelationalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("time split 80/10/10 ordering + proportions (test_data_loading.py:102-142)") {
    val df = (0 until 1000).map(i => (i.toLong, i.toLong)).toDF("id", "ts")
    val split = Relational.timeSplit(df, "ts", "id", 0.8, 0.1).cache()
    val counts = split.groupBy("split").count().as[(String, Long)]
      .collect().toMap
    assert(counts("train") === 800L)
    assert(counts("val") === 100L)
    assert(counts("test") === 100L)
    val trainMax = split.filter($"split" === "train").agg(max("ts")).head().getLong(0)
    val valMin = split.filter($"split" === "val").agg(min("ts")).head().getLong(0)
    val valMax = split.filter($"split" === "val").agg(max("ts")).head().getLong(0)
    val testMin = split.filter($"split" === "test").agg(min("ts")).head().getLong(0)
    assert(trainMax <= valMin && valMax <= testMin)
    split.unpersist()
  }

  test("leave-one-out: exactly 1 test row per user (test_data_loading.py:148-165)") {
    val df = Seq(
      (1L, 10L, 1L), (1L, 20L, 2L), (1L, 30L, 3L), (1L, 40L, 4L),
      (2L, 10L, 5L), (2L, 20L, 6L), (2L, 30L, 7L), (2L, 40L, 8L))
      .toDF("user_id", "ts", "id")
    val split = Relational.leaveLastN(df, "user_id", "ts", "id", 1)
    val test = split.filter($"split" === "test")
    assert(test.count() === 2)
    assert(test.groupBy("user_id").count().filter($"count" =!= 1).count() === 0)
    // the held-out row is each user's latest
    val held = test.select("user_id", "ts").as[(Long, Long)].collect().toMap
    assert(held === Map(1L -> 40L, 2L -> 40L))
  }

  test("k-core keeps only rows with enough user AND item support (movielens.py:345-382)") {
    // user 1 has 3 rows, user 2 has 1; item 10 has 3, item 20 has 1
    val df = Seq((1L, 10L), (1L, 10L), (1L, 20L), (2L, 10L))
      .toDF("u", "i")
    val core = Relational.kCore(df, "u", "i", 2, 2, 3)
    val rows = core.select("u", "i").as[(Long, Long)].collect().toSeq
    assert(rows.forall(_ == (1L, 10L)) && rows.size === 2)
  }

  test("id encoder assigns sorted order (sklearn LabelEncoder parity, SURVEY §7.4.6)") {
    val df = Seq("banana", "apple", "cherry", "apple").toDF("k")
    val enc = Relational.fitEncoder(df, "k", "idx")
    val m = enc.as[(String, Long)].collect().toMap
    assert(m === Map("apple" -> 0L, "banana" -> 1L, "cherry" -> 2L))
    val encoded = Relational.encodeWith(
      Seq("cherry", "durian").toDF("k"), enc, "k", "idx", unknownIndex = -1)
    val got = encoded.as[(String, Long)].collect().toMap
    assert(got === Map("cherry" -> 2L, "durian" -> -1L))
  }

  test("negative sampling: disjoint from positives, n per user, deterministic (test_data_loading.py:243-278)") {
    val positives = Seq((1L, 10L), (1L, 11L), (2L, 12L)).toDF("u", "i")
    val items = (10L to 29L).toDF("i")
    val neg = Relational.negativeSample(positives, "u", "i", items, 5, seed = 42)
    val negRows = neg.select("u", "i").as[(Long, Long)].collect().toSet
    val posRows = Set((1L, 10L), (1L, 11L), (2L, 12L))
    assert(negRows.intersect(posRows).isEmpty)
    assert(neg.groupBy("u").count().filter($"count" =!= 5).count() === 0)
    // determinism: same seed → same sample
    val neg2 = Relational.negativeSample(positives, "u", "i", items, 5, seed = 42)
      .select("u", "i").as[(Long, Long)].collect().toSet
    assert(neg2 === negRows)
  }

  test("bucketed negative sampling: disjoint, bounded, deterministic, NO cartesian") {
    val positives = Seq((1L, 10L), (1L, 11L), (2L, 12L)).toDF("u", "i")
    val items = (10L to 29L).toDF("i")
    // force the bounded path regardless of catalog size
    val neg = Relational.negativeSample(positives, "u", "i", items, 5,
      seed = 42, maxExactCatalog = 0)
    val negRows = neg.select("u", "i").as[(Long, Long)].collect().toSet
    assert(negRows.intersect(Set((1L, 10L), (1L, 11L), (2L, 12L))).isEmpty)
    val perUser = neg.groupBy("u").count().as[(Long, Long)].collect().toMap
    assert(perUser.values.forall(c => c >= 1 && c <= 5))
    val neg2 = Relational.negativeSample(positives, "u", "i", items, 5,
      seed = 42, maxExactCatalog = 0)
      .select("u", "i").as[(Long, Long)].collect().toSet
    assert(neg2 === negRows)
    // the whole point of the bounded path: candidate gen is an equi-join
    val plan = neg.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("capPerGroup: deterministic across partitionings, exact cap, no bias to storage order") {
    val rows = (1L to 500L).map(i => (if (i % 3 == 0) "a" else "b", i))
    val base = rows.toDF("g", "id")
    def run(df: org.apache.spark.sql.DataFrame) =
      Relational.capPerGroup(df, Seq("g"), 40, col("id"))
        .select("g", "id").as[(String, Long)].collect().toSet
    val r1 = run(base.repartition(1))
    val r17 = run(base.repartition(17))
    val shuffled = run(base.orderBy(col("id").desc).repartition(5))
    assert(r1 === r17 && r1 === shuffled) // physical layout never matters
    assert(r1.count(_._1 == "a") === 40 && r1.count(_._1 == "b") === 40)
    // hash order ≠ id order: the kept set is not just the lowest ids
    val lowestIds = rows.filter(_._1 == "b").map(_._2).sorted.take(40).toSet
    assert(r1.filter(_._1 == "b").map(_._2).toSet !== lowestIds)
  }

  test("hashedFeatures: slot bounds, determinism, signed mass conservation") {
    val df = Seq((1L, "a a b"), (2L, "c d c d"), (3L, "")).toDF("id", "t")
    def run(d: org.apache.spark.sql.DataFrame) =
      Relational.hashedFeatures(d, "id", "t", 64)
        .as[(Long, Int, Double)].collect().toSet
    val r1 = run(df.repartition(1))
    assert(r1 === run(df.repartition(7))) // partition-independent
    assert(r1.forall { case (_, s, _) => s >= 0 && s < 64 })
    // same token always lands on one (slot, sign): doc 1 has |a|=2, |b|=1
    // as absolute mass unless a and b collide with opposite signs
    val d1 = r1.filter(_._1 == 1L)
    assert(d1.toSeq.map(t => math.abs(t._3)).sum === 3.0 ||
      d1.toSeq.map(t => math.abs(t._3)).sum === 1.0) // collision fallback
    // repeated tokens accumulate: doc 2's values are all even
    assert(r1.filter(_._1 == 2L).forall(t => t._3 % 2 == 0))
  }

  test("hashSplit: deterministic, partition-independent, near target fracs") {
    val base = (1L to 5000L).toDF("id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    def run(df: org.apache.spark.sql.DataFrame) =
      Relational.hashSplit(df, "id", splits)
        .select("id", "split").as[(Long, String)].collect().toMap
    val r1 = run(base.repartition(1))
    val r13 = run(base.repartition(13))
    assert(r1 === r13) // assignment is content-pure
    assert(r1.size === 5000) // every row assigned exactly once
    val frac = r1.values.groupBy(identity).view.mapValues(_.size / 5000.0)
    assert(math.abs(frac("train") - 0.8) < 0.03)
    assert(math.abs(frac("val") - 0.1) < 0.02)
    assert(math.abs(frac("test") - 0.1) < 0.02)
    // growing the corpus never reassigns an existing key
    val grown = run((1L to 10000L).toDF("id"))
    assert(r1.forall { case (k, v) => grown(k) == v })
  }

  test("stratifiedSample: per-stratum rates, deterministic, partition-independent") {
    val base = (1L to 6000L).map(i => (i, if (i % 3 == 0) "hot" else "cold"))
      .toDF("id", "seg")
    def run(df: org.apache.spark.sql.DataFrame) =
      Relational.stratifiedSample(df, "seg", "id", Map("hot" -> 0.5), 0.1)
        .select("id").as[Long].collect().toSet
    val r1 = run(base.repartition(1))
    val r7 = run(base.repartition(7))
    assert(r1 === r7) // content-pure: same rows whatever the partitioning
    val segOf = base.as[(Long, String)].collect().toMap
    val hotKept = r1.count(segOf(_) == "hot") / 2000.0
    val coldKept = r1.count(segOf(_) == "cold") / 4000.0
    assert(math.abs(hotKept - 0.5) < 0.05, s"hot rate $hotKept")
    assert(math.abs(coldKept - 0.1) < 0.03, s"cold rate $coldKept")
    // growing the table never flips an existing row's keep decision
    val grown = run((1L to 12000L).map(i => (i, if (i % 3 == 0) "hot" else "cold"))
      .toDF("id", "seg"))
    assert(r1.subsetOf(grown))
    assert((grown -- r1).forall(_ > 6000L))
  }

  test("weightedSample: per-row probability tracked, deterministic, clamped") {
    val base = (1L to 9000L).map(i => (i, (i % 3) match {
      case 0 => 0.05; case 1 => 0.5; case _ => 2.0 // >1 clamps to keep-all
    })).toDF("id", "w")
    def run(df: org.apache.spark.sql.DataFrame) =
      Relational.weightedSample(df, col("id"), col("w"))
        .select("id").as[Long].collect().toSet
    val r1 = run(base.repartition(1))
    val r5 = run(base.repartition(5))
    assert(r1 === r5) // content-pure
    val lo = r1.count(_ % 3 == 0) / 3000.0
    val mid = r1.count(_ % 3 == 1) / 3000.0
    val hi = r1.count(_ % 3 == 2) / 3000.0
    assert(math.abs(lo - 0.05) < 0.02, s"low-weight rate $lo")
    assert(math.abs(mid - 0.5) < 0.04, s"mid-weight rate $mid")
    assert(hi === 1.0, s"clamped rate $hi") // p≥1 keeps every row
    // negative probabilities clamp to keep-none
    val none = Relational.weightedSample(
      base.withColumn("w", lit(-0.5)), col("id"), col("w")).count()
    assert(none === 0L)
  }

  test("incremental aggregate merge equals the full recompute (X17 pattern)") {
    val df = (1L to 5000L)
      .map(i => (i % 97, (i * 13 % 1000) / 100.0, i)).toDF("k", "v", "ts")
    def partials(d: org.apache.spark.sql.DataFrame) = d.groupBy("k")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sv"), max("ts").as("mx"))
    val merged = partials(df.filter(col("ts") < 2500))
      .unionByName(partials(df.filter(col("ts") >= 2500)))
      .groupBy("k").agg(sum("cnt").as("cnt"), sum("sv").as("sv"),
        max("mx").as("mx"))
      .as[(Long, Long, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val direct = partials(df)
      .as[(Long, Long, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(merged.keySet === direct.keySet)
    direct.foreach { case (k, (c, s, m)) =>
      assert(merged(k)._1 === c && merged(k)._3 === m)
      assert(math.abs(merged(k)._2 - s) < 1e-9, s"sum drift for key $k")
    }
  }

  test("bandJoin: equals the naive theta-join result, plans as an equi-join") {
    // deterministic pseudo-random values with plenty of boundary cases
    val df = (1L to 400L)
      .map(i => (i, ((i * 2654435761L) % 1000L) / 10.0)).toDF("id", "v")
    val delta = 1.5
    val band = Relational.bandJoin(df, "id", "v", delta)
      .select(least(col("id1"), col("id2")), greatest(col("id1"), col("id2")))
      .as[(Long, Long)].collect().toSet
    val naiveRows = df.as[(Long, Double)].collect()
    val naive = (for {
      (i1, v1) <- naiveRows; (i2, v2) <- naiveRows
      if i1 < i2 && math.abs(v1 - v2) <= delta
    } yield (i1, i2)).toSet
    assert(band === naive)
    // core candidate join must stay an equi-join (guard off isolates it;
    // the guard itself adds only a limit(1)-gated broadcast probe, the
    // structurally-bounded BNLJ class the Explain audit proves)
    val corePlan = Relational
      .bandJoin(df, "id", "v", delta, maxPairsPerBucket = 0)
      .queryExecution.executedPlan.toString
    assert(!corePlan.contains("CartesianProduct") &&
      !corePlan.contains("BroadcastNestedLoopJoin"),
      s"band join must stay an equi-join:\n$corePlan")
    val guardedPlan = Relational.bandJoin(df, "id", "v", delta)
      .queryExecution.executedPlan.toString
    assert(!guardedPlan.contains("CartesianProduct"),
      s"guard must not introduce a cartesian:\n$guardedPlan")
  }

  test("bandJoin density guard: dense bucket fails loudly, opt-out runs") {
    // 300 identical values → C(300,2) = 44850 same-bucket candidate
    // pairs; a 1000-pair cap must fail the job with the measured
    // density BEFORE materializing the blowup, and the message must
    // point at the output-bounded alternative.
    val dense = (1L to 300L).map(i => (i, 1.0)).toDF("id", "v")
    val ex = intercept[Exception] {
      Relational.bandJoin(dense, "id", "v", 0.5, maxPairsPerBucket = 1000L)
        .count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    val all = messages(ex).mkString("\n")
    assert(all.contains("density guard") && all.contains("44850") &&
      all.contains("bandJoinNearestK"),
      s"unexpected guard failure text:\n$all")
    // explicit opt-out accepts the blast radius and computes the pairs
    assert(Relational.bandJoin(dense, "id", "v", 0.5,
      maxPairsPerBucket = 0).count() === 44850L)
    // a cap above the density passes untouched
    assert(Relational.bandJoin(dense, "id", "v", 0.5,
      maxPairsPerBucket = 50000L).count() === 44850L)
  }

  test("coOccurrencePairs: pair counts, hub-basket guard fails loudly, opt-out runs") {
    // small baskets: {1,2,3} twice, {2,3} once → (1,2):2 (1,3):2 (2,3):3
    val li = Seq((10L, 1L), (10L, 2L), (10L, 3L),
      (11L, 1L), (11L, 2L), (11L, 3L), (12L, 2L), (12L, 3L))
      .toDF("o", "it")
    val got = Relational.coOccurrencePairs(li, "o", "it")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 2L, 2L), (1L, 3L, 2L), (2L, 3L, 3L)))
    // hub basket: one 200-item basket against a 100-item cap must fail
    // LOUDLY with the measured size before the C(200,2) fan-out runs
    val hub = (1L to 200L).map(i => (99L, i)).toDF("o", "it")
    val ex = intercept[Exception] {
      Relational.coOccurrencePairs(hub, "o", "it", maxBasketSize = 100L)
        .count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    val all = messages(ex).mkString("\n")
    assert(all.contains("density guard") && all.contains("200") &&
      all.contains("capPerGroup"),
      s"unexpected guard failure text:\n$all")
    // explicit opt-out accepts the blast radius: C(200,2) distinct pairs
    assert(Relational.coOccurrencePairs(hub, "o", "it", maxBasketSize = 0)
      .count() === 19900L)
    // a cap at/above the basket size passes untouched
    assert(Relational.coOccurrencePairs(hub, "o", "it", maxBasketSize = 200L)
      .count() === 19900L)
  }

  test("bandJoinNearestK: per-row k nearest within delta, output bounded") {
    val df = (1L to 400L)
      .map(i => (i, ((i * 2654435761L) % 1000L) / 10.0)).toDF("id", "v")
    val delta = 1.5
    val k = 3
    val q = Relational.bandJoinNearestK(df, "id", "v", delta, k)
    val got = q.select(col("id1"), col("id2"), col("rnk"))
      .as[(Long, Long, Long)].collect()
    val rows = df.as[(Long, Double)].collect()
    // Brute force over ALL within-δ rows with the operator's
    // (|Δv|, position distance, position) order — since the operator
    // only ever examines ±k positional neighbors, agreement here PROVES
    // the positional window captures every winner.
    def wantFor(data: Seq[(Long, Double)], dl: Double, kk: Int) = {
      val pos = data.sortBy { case (i, v) => (v, i) }.zipWithIndex
        .map { case ((i, _), p) => i -> p.toLong }.toMap
      data.flatMap { case (i1, v1) =>
        data.filter { case (i2, v2) => i2 != i1 && math.abs(v1 - v2) <= dl }
          .sortBy { case (i2, v2) =>
            (math.abs(v1 - v2), math.abs(pos(i1) - pos(i2)), pos(i2)) }
          .take(kk).zipWithIndex
          .map { case ((i2, _), r) => (i1, i2, (r + 1).toLong) }
      }.toSet
    }
    assert(got.toSet === wantFor(rows, delta, k))
    // Fat ties: 40 rows sharing one exact value (tie class ≫ k) plus a
    // near and a far band — the shape where an id-based tie-break would
    // NOT be positionally local.
    val fat = ((1L to 40L).map(i => (i, 5.0)) ++
      (41L to 50L).map(i => (i, 5.3)) ++
      (51L to 60L).map(i => (i, 9.0))).toDF("id", "v")
    val fatGot = Relational.bandJoinNearestK(fat, "id", "v", 1.0, k)
      .select(col("id1"), col("id2"), col("rnk"))
      .as[(Long, Long, Long)].collect()
    assert(fatGot.toSet === wantFor(
      fat.as[(Long, Double)].collect(), 1.0, k))
    // the output bound the operator exists for: ≤ k rows per probe id
    assert(got.groupBy(_._1).forall(_._2.length <= k))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"nearest-k band join must stay an equi-join:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"per-row top-k should prune via WindowGroupLimit:\n$plan")
  }

  test("rankInGroups equals the window rank() exactly, ties included") {
    // 3 groups, heavy ties (values mod 7) — the low-cardinality-group
    // shape whose direct window serializes into #groups tasks
    val df = (1L to 2000L)
      .map(i => (s"g${i % 3}", (i * 2654435761L) % 7L, i)).toDF("g", "v", "id")
    val got = Relational.rankInGroups(df, "g", "v", "rk")
      .select(col("id"), col("rk")).as[(Long, Long)].collect().toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("v"))
    val want = df.select(col("id"), rank().over(w).cast("long").as("rk"))
      .as[(Long, Long)].collect().toMap
    assert(got === want)
  }

  test("nested rankInGroups (the r11 Spearman shape) keeps every row of " +
    "every group and equals the window rank() at 300K rows") {
    // big enough that the range partitioner samples rather than collects
    // its partitions: a rank that references its row numbers more than
    // once then read differently sampled range bounds and lost rows
    val li = spark.range(300000).select(
      element_at(array(lit("A"), lit("N"), lit("R")),
        (pmod(xxhash64(col("id")), lit(3)) + 1).cast("int")).as("g"),
      (pmod(xxhash64(col("id"), lit(1)), lit(50)) + 1).cast("long").as("q"),
      pmod(xxhash64(col("id"), lit(2)), lit(10000000L)).as("p"))
    val got = Relational.rankInGroups(
      Relational.rankInGroups(li, "g", "q", "rq"), "g", "p", "rp")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    val want = li.select(col("g"),
      rank().over(w.orderBy(col("q"))).cast("long").as("rq"),
      rank().over(w.orderBy(col("p"))).cast("long").as("rp"))
    def summary(df: org.apache.spark.sql.DataFrame) = df.groupBy(col("g"))
      .agg(count(lit(1)), sum(col("rq")), sum(col("rp")),
        sum(col("rq") * col("rp")))
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(summary(got) === summary(want))
  }

  test("intervalJoin: equals the naive BETWEEN result, plans as an equi-join") {
    // points on a line; intervals of assorted widths incl. cell-straddlers,
    // a zero-width interval, and an inverted one (matches nothing)
    val pts = (1L to 300L).map(i => (i, (i * 2654435761L) % 500L))
      .toDF("pid", "p")
    val ivs = Seq((1L, 10L, 40L), (2L, 35L, 36L), (3L, 100L, 100L),
      (4L, 250L, 180L), (5L, 480L, 499L), (6L, 0L, 63L))
      .toDF("iid", "s", "e")
    val got = Relational.intervalJoin(pts, "p", ivs, "s", "e",
        bucketWidth = 32L)
      .select(col("pid"), col("iid")).as[(Long, Long)].collect().toSet
    val p = pts.as[(Long, Long)].collect()
    val iv = ivs.as[(Long, Long, Long)].collect()
    val naive = (for {
      (pid, pv) <- p; (iid, s, e) <- iv if pv >= s && pv <= e
    } yield (pid, iid)).toSet
    assert(got === naive)
    val plan = Relational.intervalJoin(pts, "p", ivs, "s", "e", 32L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"interval join must stay an equi-join:\n$plan")
    // an interval wider than maxCellsPerInterval cells errors loudly
    val wide = Seq((9L, 0L, 10000L)).toDF("iid", "s", "e")
    val ex = intercept[Exception] {
      Relational.intervalJoin(pts, "p", wide, "s", "e", 32L,
        maxCellsPerInterval = 4).collect()
    }
    assert(ex.getMessage.contains("intervalJoin"))
  }

  test("hashSplit: a null key is a loud error, not a silent last-split row") {
    val df = Seq(Some("a"), Some("b"), None).toDF("k")
    val ex = intercept[Exception] {
      Relational.hashSplit(df, "k", Seq("train" -> 0.9, "test" -> 0.1)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("null key in column k")), ex.toString)
  }

  test("z-score normalize: mean ~0, unit-ish std (movielens.py:421-422)") {
    val z = SparkEntry.queries("p_zscore")(spark, "/root/testdata/sf0.001")
    val (m, s) = z.agg(avg("acctbal_z"), stddev_samp("acctbal_z"))
      .as[(Double, Double)].head()
    assert(math.abs(m) < 1e-9)
    assert(math.abs(s - 1.0) < 1e-6)
  }

  test("map lookup with default (movielens.py:47-59)") {
    val df = Seq(0, 1, 7).toDF("code")
    val got = df.select(Relational.mapLookup(col("code"),
      Map(0 -> "zero", 1 -> "one"), "unknown").as("v")).as[String].collect().toSeq
    assert(got === Seq("zero", "one", "unknown"))
  }

  test("upsampleMix: integer weights copy exactly, fractional weights " +
    "tracked in expectation, epochs numbered 1..copies") {
    val df = (1L to 2000L).map(i => (i, 2.3)).toDF("id", "w")
    val got = Relational.upsampleMix(df, col("id"), col("w"))
    val n = got.count()
    // E[n] = 2000 * 2.3 = 4600; md5 coin at p=0.3 over 2000 keys
    assert(n > 4400 && n < 4800, s"expected ~4600 rows, got $n")
    val perId = got.groupBy("id").count().select("count")
      .as[Long].collect().toSet
    assert(perId.subsetOf(Set(2L, 3L))) // floor(2.3)=2, +1 for the coin
    val epochs = got.filter(col("id") === 1L)
      .select("epoch").as[Long].collect().sorted.toSeq
    assert(epochs === (1L to epochs.length).toSeq)
    // integer weight: exact multiset, no coin
    val exact2 = Relational.upsampleMix(
      (1L to 100L).toDF("id"), col("id"), lit(2.0))
    assert(exact2.count() === 200L)
    assert(exact2.groupBy("id").count().filter(col("count") =!= 2)
      .count() === 0L)
  }

  test("upsampleMix: w <= 1 reduces to weightedSample; kept set monotone " +
    "in the weight; w = 0 empties") {
    val df = (1L to 1000L).toDF("id")
    val up = Relational.upsampleMix(df, col("id"), lit(0.4))
      .select("id").as[Long].collect().toSet
    val ws = Relational.weightedSample(df, col("id"), lit(0.4))
      .select("id").as[Long].collect().toSet
    assert(up === ws)
    val more = Relational.upsampleMix(df, col("id"), lit(1.4))
    // monotone: every (id, epoch=1) copy survives the raise; the raise
    // only adds epoch-2 copies for the SAME md5-kept subset
    val moreIds2 = more.filter(col("epoch") === 2)
      .select("id").as[Long].collect().toSet
    assert(more.filter(col("epoch") === 1).count() === 1000L)
    assert(moreIds2 === ws)
    assert(Relational.upsampleMix(df, col("id"), lit(0.0)).count() === 0L)
  }

  test("upsampleMix: a runaway weight fails loudly instead of exploding a row") {
    val df = Seq((1L, 2.0), (2L, 5e6)).toDF("id", "w")
    val ex = intercept[Exception] {
      Relational.upsampleMix(df, col("id"), col("w"), maxCopies = 100)
        .count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("upsampleMix: copies > maxCopies")),
      ex.toString)
    // under the bound: unchanged behavior
    assert(Relational.upsampleMix(Seq((1L, 2.0)).toDF("id", "w"),
      col("id"), col("w"), maxCopies = 100).count() === 2L)
  }
}
