package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Vectors => V}
import graft.ops.Similarity
import graft.sources.SyntheticData

/** Vector-function invariants mirroring the reference's normalization and
  * retrieval tests (`tests/test_two_tower_model.py:43-69,127-135`;
  * `src/serving/retrieval.py:85-100`). */
class VectorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("int8 quantize round-trip: golden lanes, error <= scale/2") {
    val df = Seq(Tuple1(Seq(1.0f, -0.5f, 0.25f, 0.0f))).toDF("v")
    val row = df.select(
      V.int8Scale(col("v")).as("sc"),
      V.int8Quantize(col("v"), V.int8Scale(col("v"))).as("q"),
      V.int8Dequantize(V.int8Quantize(col("v"), V.int8Scale(col("v"))),
        V.int8Scale(col("v"))).as("r")).head()
    val sc = row.getAs[Double]("sc")
    assert(math.abs(sc - 1.0 / 127) < 1e-12)
    assert(row.getAs[Seq[Int]]("q") === Seq(127, -64, 32, 0))
    row.getAs[Seq[Double]]("r").zip(Seq(1.0, -0.5, 0.25, 0.0)).foreach {
      case (rec, orig) => assert(math.abs(rec - orig) <= sc / 2 + 1e-12)
    }
  }

  test("int8 quantize: all-zero vector stays zero (no NaN scale)") {
    val df = Seq(Tuple1(Seq(0.0f, 0.0f))).toDF("v")
    val r = df.select(V.int8Dequantize(
      V.int8Quantize(col("v"), V.int8Scale(col("v"))),
      V.int8Scale(col("v")))).head().getSeq[Double](0)
    assert(r.toList === List(0.0, 0.0))
  }

  test("vecDot golden: [1,2,3]·[4,5,6] = 32") {
    val df = Seq((Seq(1f, 2f, 3f), Seq(4f, 5f, 6f))).toDF("a", "b")
    assert(df.select(V.vecDot(col("a"), col("b"))).head().getDouble(0) === 32.0)
  }

  test("vecNorm golden: |[3,4]| = 5") {
    val df = Seq(Seq(3f, 4f)).toDF("a")
    assert(df.select(V.vecNorm(col("a"))).head().getDouble(0) === 5.0)
  }

  test("normalize ⇒ unit norm; zero vector passes through") {
    val df = Seq(Seq(3f, 4f), Seq(0f, 0f)).toDF("a")
    val norms = df.select(V.vecNorm(V.vecNormalize(col("a")))).as[Double]
      .collect().toSeq
    assert(math.abs(norms.head - 1.0) < 1e-12)
    assert(norms(1) === 0.0)
  }

  test("cosine bounds and self-similarity") {
    val df = Seq((Seq(1f, 2f, 3f), Seq(1f, 2f, 3f))).toDF("a", "b")
    assert(math.abs(
      df.select(V.cosine(col("a"), col("b"))).head().getDouble(0) - 1.0) < 1e-12)
  }

  test("native codegen dot/norm match the HOF forms bit-for-bit") {
    val e = SparkEntry.T(spark, "/root/testdata/sf0.001", "embeddings")
    val a = e.select(col("vec_id"), col("embedding").as("a"))
    val b = e.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("b"))
    val pairs = a.join(b, Seq("vec_id"))
    val (maxDotDiff, maxNormDiff) = pairs.agg(
      max(abs(V.vecDot(col("a"), col("b")) -
        V.vecDotNative(col("a"), col("b")))),
      max(abs(V.vecNorm(col("a")) - V.vecNormNative(col("a")))))
      .as[(Double, Double)].head()
    assert(maxDotDiff === 0.0)
    assert(maxNormDiff === 0.0)
  }

  test("vector_dot / vector_norm_sq usable from SQL (GraftExtensions)") {
    GraftExtensions.register(spark)
    val dot = spark.sql(
      "SELECT vector_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(dot === 11.0)
    val nsq = spark.sql("SELECT vector_norm_sq(array(3.0D, 4.0D)) AS n")
      .head().getDouble(0)
    assert(nsq === 25.0)
  }

  test("batched inference: expression scorer and partition scorer agree (U5)") {
    import graft.ops.Inference
    val e = SparkEntry.T(spark, "/root/testdata/sf0.001", "embeddings")
      .limit(50)
    val w = Array.tabulate(64)(i => (i % 5 - 2) * 0.1)
    val exprScores = e.select(col("vec_id"),
      Inference.linearScore(col("embedding"), w, 0.5).as("score"))
      .as[(Long, Double)].collect().toMap
    val partScores = Inference.scorePartitions(e, "vec_id", "embedding",
      () => (vec: Array[Float]) =>
        vec.zip(w).map { case (x, wi) => x.toDouble * wi }.sum + 0.5)
      .as[(Long, Double)].collect().toMap
    assert(exprScores.keySet === partScores.keySet)
    exprScores.foreach { case (id, s) =>
      assert(math.abs(s - partScores(id)) < 1e-9, s"id $id")
    }
  }

  test("padTo pads to target dim") {
    val df = Seq(Seq(1f, 2f)).toDF("a")
    val padded = df.select(V.padTo(col("a"), 5)).head().getSeq[Double](0)
    assert(padded.size === 5 && padded.drop(2).forall(_ === 0.0))
  }

  test("bruteForceTopK returns nearest neighbors in order (retrieval.py:96-100)") {
    // 2-d unit-ish vectors at known angles around the x-axis query
    val items = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0f, 1f)),
      (4L, Seq(-1f, 0f))).toDF("vec_id", "embedding")
    val queries = Seq((0L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(queries, items, "vec_id", "vec_id",
      "embedding", 3, "cosine")
      .orderBy("rank").select("item_id").as[Long].collect().toSeq
    assert(got === Seq(1L, 2L, 3L))
  }

  test("MLlib BucketedRandomProjectionLSH ANN achieves nonzero recall vs exact (R4 option a)") {
    val e = SparkEntry.T(spark, "/root/testdata/sf0.001", "embeddings")
    val qs = e.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(qs, e, "vec_id", "vec_id",
      "embedding", 5, "cosine", excludeSelf = true)
      .select("query_id", "item_id")
    val approx = Similarity.lshTopK(qs, e, "vec_id", "vec_id", "embedding", 5)
      .select("query_id", "item_id")
    val nExact = exact.count()
    val nHits = exact.join(approx, Seq("query_id", "item_id"), "left_semi").count()
    assert(nExact > 0)
    val recall = nHits.toDouble / nExact
    assert(recall >= 0.2, s"MLlib LSH recall $recall vs exact too low")
  }

  test("lshTopK warns loudly when maxDistance caps the reachable cosine") {
    val e = SparkEntry.T(spark, "/root/testdata/sf0.001", "embeddings")
      .limit(50)
    // default maxDistance = 1.5 < 2.0 → the floor warning must fire and
    // state the reachable cosine floor 1 − 1.5²/2 = −0.125
    Similarity.lastLshFloorWarning = None
    Similarity.lshTopK(e, e, "vec_id", "vec_id", "embedding", 3)
    assert(Similarity.lastLshFloorWarning.isDefined,
      "maxDistance=1.5 must emit the cosine-floor warning")
    assert(Similarity.lastLshFloorWarning.get.contains("-0.1250"))
    // maxDistance = 2.0 covers the full cosine range → silent
    Similarity.lshTopK(e, e, "vec_id", "vec_id", "embedding", 3,
      maxDistance = 2.0)
    assert(Similarity.lastLshFloorWarning.isEmpty,
      "maxDistance=2.0 must not warn")
  }

  test("clusterPrunedTopK achieves reasonable recall vs exact (retrieval.py IVF nprobe semantics)") {
    val e = SparkEntry.T(spark, "/root/testdata/sf0.001", "embeddings")
    val qs = e.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(qs, e, "vec_id", "vec_id",
      "embedding", 5, "cosine", excludeSelf = true)
      .select("query_id", "item_id")
    val approx = Similarity.clusterPrunedTopK(qs, e, "vec_id", "vec_id",
      "embedding", 5, nlist = 8, nprobe = 4)
      .select("query_id", "item_id")
    val nExact = exact.count()
    val nHits = exact.join(approx, Seq("query_id", "item_id"), "left_semi").count()
    assert(nExact > 0)
    val recall = nHits.toDouble / nExact
    assert(recall >= 0.4, s"ANN recall $recall too low vs exact")
  }

  test("Lloyd refinement never lowers recall at fixed nlist/nprobe (planted clusters)") {
    // Planted-cluster corpus: 8 well-separated centers in 16-d, 40 points
    // each, deterministic hash jitter. Hash-seeded centroids land several
    // seeds inside one planted cluster and miss others; Lloyd iterations
    // move the means toward the true centers, so probe pruning keeps more
    // of each query's true neighborhood.
    def jit(c: Int, i: Int, dim: Int): Float =
      (((c * 1009 + i * 131 + dim * 17) % 997) / 997.0f - 0.5f) * 0.2f
    val rows = for {
      c <- 0 until 8
      i <- 0 until 40
    } yield {
      val vec = (0 until 16).map { dim =>
        (if (dim == 2 * c) 4.0f else if (dim == 2 * c + 1) -3.0f else 0.0f) +
          jit(c, i, dim)
      }
      ((c * 40 + i).toLong, vec)
    }
    val e = rows.toDF("vec_id", "embedding")
    val qs = e.filter(col("vec_id") % 40 < 3) // 3 queries per planted cluster
    val exact = Similarity.bruteForceTopK(qs, e, "vec_id", "vec_id",
      "embedding", 5, "cosine", excludeSelf = true)
      .select("query_id", "item_id")
    def recallAt(refineIters: Int): Double = {
      val approx = Similarity.clusterPrunedTopK(qs, e, "vec_id", "vec_id",
        "embedding", 5, nlist = 8, nprobe = 2, refineIters = refineIters)
        .select("query_id", "item_id")
      exact.join(approx, Seq("query_id", "item_id"), "left_semi").count()
        .toDouble / exact.count()
    }
    val seeded = recallAt(0)
    val refined = recallAt(2)
    assert(refined >= seeded,
      s"refinement lowered recall: seeded $seeded -> refined $refined")
    // Not 1.0: Lloyd from hash seeds is a local search — two seeds landing
    // in one planted cluster can leave another cluster shared, which
    // refinement cannot undo (measured 0.8 here vs 0.9+ only with
    // k-means++-style seeding, out of scope).
    assert(refined >= 0.7,
      s"refined recall $refined too low on planted clusters")
  }

  test("two-level assignment recovers every planted near-dup pair (flat parity)") {
    // Planted-cluster corpus (same construction as the Lloyd test): 10
    // well-separated centers in 16-d, 6 base points per center (jitter
    // 0.2), each base point twinned at 1e-4 → cosine ≈ 1. The measured
    // property is PARITY: the two-level escalation loses (essentially)
    // no planted pairs beyond what flat assignment already loses.
    // Flat itself is NOT lossless here — hash-seeded centroid picking
    // has two deterministic loss modes this fixture exhibits: (a) BOTH
    // twins picked as centroids → each assigns to itself, splitting the
    // pair; (b) a planted cluster left with no centroid → its points
    // assign to near-equidistant remote centroids, where argmin margins
    // can dip below the twin separation. Both are properties of
    // clustering-based near-dup pruning (flat or hierarchical), which
    // is why embeddingNearDups is the SCALE path while the exact pair
    // families (SimHash/MinHash/Jaccard) remain the reference oracles.
    def jit(c: Int, i: Int, dim: Int): Float =
      (((c * 1009 + i * 131 + dim * 17) % 997) / 997.0f - 0.5f) * 0.2f
    val rows = for {
      c <- 0 until 10
      i <- 0 until 6
      twin <- 0 to 1
    } yield {
      val vec = (0 until 16).map { dim =>
        (if (dim == c) 6.0f else if (dim == (c + 3) % 16) -4.0f else 0.0f) +
          jit(c, i, dim) + (if (twin == 1) ((c + i + dim) % 7 - 3) * 1e-4f else 0.0f)
      }
      (((c * 6 + i) * 2 + twin).toLong, vec)
    }
    val e = rows.toDF("vec_id", "embedding")
    val want = (0 until 60).map(i => ((i * 2).toLong, (i * 2 + 1).toLong)).toSet
    def pairsAt(twoLevelAbove: Int): Set[(Long, Long)] =
      Similarity.embeddingNearDups(e, "vec_id", "embedding",
          threshold = 0.999, nlist = 10, twoLevelNlistAbove = twoLevelAbove)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
    val flat = pairsAt(Int.MaxValue)  // flat assignment
    val two = pairsAt(1)              // force the two-level path
    val flatRecall = (want & flat).size.toDouble / want.size
    val twoRecall = (want & two).size.toDouble / want.size
    assert(flatRecall >= 0.9,
      s"flat recall $flatRecall; lost ${want -- flat}")
    assert(twoRecall >= flatRecall - 0.05,
      s"two-level degraded recall: flat $flatRecall -> two-level " +
        s"$twoRecall; lost ${want -- two}")
  }

  test("semantic blocking recall: nlist=1 is exact (recall 1.0); found never exceeds ref") {
    // Two reference buckets, each with a close pair and an outlier; one
    // cross-bucket near-pair that the reference blocking CANNOT see (it
    // must not count against recall).
    val rows = Seq(
      (1L, "a", Array(1.0f, 0.0f, 0.0f)),
      (2L, "a", Array(0.998f, 0.06f, 0.0f)),   // ~1: same bucket
      (3L, "a", Array(0.0f, 1.0f, 0.0f)),
      (4L, "b", Array(0.0f, 0.0f, 1.0f)),
      (5L, "b", Array(0.0f, 0.05f, 0.997f)),   // ~4: same bucket
      (6L, "b", Array(1.0f, 0.01f, 0.0f)))     // ~1 but bucket b
      .toDF("vec_id", "bucket", "vec")
    // nlist=1: every vector lands in the single cluster, so the cluster
    // path sees a superset of any bucket-blocked pair set -> recall 1.0
    val r = Similarity.semanticBlockingRecall(rows, "vec_id", "vec",
      "bucket", threshold = 0.9, nlist = 1)
      .as[(Long, Long, Long, Double)].head()
    val (nRef, nClus, nFound, recall) = r
    assert(nRef === 2L)          // (1,2) and (4,5)
    assert(nFound === nRef)
    assert(recall === 1.0)
    // the single cluster ALSO finds the cross-bucket pair (1,6)
    assert(nClus >= 3L)
    // degenerate corpus with no qualifying pairs: recall defined as 1.0
    val none = Seq((1L, "a", Array(1.0f, 0.0f, 0.0f)),
      (2L, "a", Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "bucket", "vec")
    val r0 = Similarity.semanticBlockingRecall(none, "vec_id", "vec",
      "bucket", threshold = 0.9, nlist = 1)
      .as[(Long, Long, Long, Double)].head()
    assert(r0._1 === 0L && r0._4 === 1.0)
  }

  test("geometric corpus: cluster blocking recall >= 0.9 with multiProbe=2 (SemDeDup scale evidence)") {
    // The evidence the ~0.35 d_semantic_recall number is NOT a defect:
    // on ε-tight geometric near-dup groups — the regime SemDeDup
    // actually targets — kmeans-cluster blocking recovers the pairs.
    val e = SparkEntry.T(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val nGroups = e.count()
    val geo = Similarity.plantedGeometricCorpus(e, "vec_id", "embedding",
      copies = 3, eps = 0.02)
    assert(geo.count() === nGroups * 3)
    // fixture geometry sanity: EVERY within-group pair clears the 0.98
    // threshold (unit-norm 64-d inputs + eps=0.02 ⇒ cosine ≈ 0.991), so
    // n_ref_pairs is exactly 3 per group
    val nlist = math.max(8L, nGroups * 3 / 100L).toInt
    def recallAt(p: Int): (Long, Long, Long, Double) =
      Similarity.semanticBlockingRecall(geo, "vec_id", "vec", "geo_group",
        threshold = 0.98, nlist = nlist, multiProbe = p)
        .as[(Long, Long, Long, Double)].head()
    val (nRef, _, _, rec2) = recallAt(2)
    assert(nRef === nGroups * 3,
      s"fixture broke: want ${nGroups * 3} within-group pairs, got $nRef")
    assert(rec2 >= 0.9, s"geometric-corpus recall $rec2 < 0.9 at multiProbe=2")
    // multi-probe can only add candidates: recall(p=2) >= recall(p=1)
    val (_, _, _, rec1) = recallAt(1)
    assert(rec2 >= rec1, s"multiProbe=2 recall $rec2 < multiProbe=1 $rec1")
  }

  test("embeddingNearDups multiProbe=1 pair set is a subset of multiProbe=2") {
    val e = SparkEntry.T(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    def pairs(p: Int) = Similarity.embeddingNearDups(e, "vec_id",
        "embedding", threshold = 0.2, nlist = 8, multiProbe = p)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val p1 = pairs(1)
    val p2 = pairs(2)
    assert(p1.nonEmpty, "fixture: no pairs at threshold 0.2")
    assert(p1.subsetOf(p2),
      s"single-probe pairs missing from multi-probe: ${p1 -- p2}")
  }

  test("native nearest-centroid assignment equals the window-argmin reference") {
    // Differential pin for the r12 native-kernel rewrite: the
    // NearestCentroids expression must reproduce the old
    // crossJoin(broadcast) + row_number-over-(l2dist, id) assignment
    // exactly — same distance fold (incl. sqrt), same tie-break — at
    // every probe depth.
    import org.apache.spark.sql.expressions.Window
    val e = SparkEntry.T(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val centroids = Similarity.pickCentroids(e, "vec_id", "embedding", 8, 42)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("__d"), col("centroid_id"))
    val scored = e.crossJoin(broadcast(centroids))
      .withColumn("__d", V.l2Distance(col("embedding"), col("centroid_vec")))
      .withColumn("__rn", row_number().over(w))
    for (p <- Seq(1, 3)) {
      val ref = scored.filter(col("__rn") <= p)
        .select(col("vec_id"), col("centroid_id").cast("long"),
          col("__rn")).as[(Long, Long, Int)].collect().toSet
      val native =
        (if (p == 1)
           Similarity.assignClusters(e, "embedding", centroids)
             .withColumn("centroid_rank", lit(1))
         else Similarity.assignClusters(e, "embedding", centroids, probe = p))
          .select(col("vec_id"), col("centroid_id").cast("long"),
            col("centroid_rank")).as[(Long, Long, Int)].collect().toSet
      assert(native === ref, s"probe=$p: native != window reference")
    }
  }

  test("two-level assignment with full coarse probe equals flat assignment exactly") {
    // Exactness anchor for NearestCentroidsInCells: when coarseProbe
    // covers EVERY coarse cell, the fine stage sees the full centroid
    // table, so two-level must reproduce flat assignment bit-for-bit
    // (same distances, same tie-breaks) at every fineProbe depth.
    val e = SparkEntry.T(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val nlist = 9 // nCoarse = 3
    val centroids = Similarity.pickCentroids(e, "vec_id", "embedding",
      nlist, 42)
    for (p <- Seq(1, 2)) {
      def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
        (if (p == 1) df.withColumn("centroid_rank", lit(1)) else df)
          .select(col("vec_id"), col("centroid_id").cast("long"),
            col("centroid_rank")).as[(Long, Long, Int)].collect().toSet
      val flat = rows(Similarity.assignClusters(e, "embedding", centroids,
        probe = p))
      val two = rows(Similarity.assignClustersTwoLevel(e, "embedding",
        centroids, nlist, coarseProbe = 3, fineProbe = p))
      assert(two === flat, s"fineProbe=$p: two-level(full probe) != flat")
    }
  }

  test("nearest-centroid kernels compile under whole-stage codegen (no fallback)") {
    // The SimHashBands-style compile pin: with codegen.fallback=false a
    // janino failure ABORTS instead of silently dropping the assignment
    // kernels to interpreted eval.
    val e = SparkEntry.T(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val centroids = Similarity.pickCentroids(e, "vec_id", "embedding", 8, 42)
    val prior = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      assert(Similarity.assignClusters(e, "embedding", centroids,
        probe = 2).count() > 0)
      assert(Similarity.assignClustersTwoLevel(e, "embedding", centroids,
        nlist = 8, fineProbe = 2).count() > 0)
      // exact semanticDecontaminate rides the MaxVectorDot kernel
      assert(Similarity.semanticDecontaminate(e,
        e.limit(5), "vec_id", "embedding", 0.9).count() > 0)
    } finally spark.conf.set("spark.sql.codegen.fallback", prior)
  }

  test("MaxVectorDot kernel equals the HOF array_max(transform(dot)) form, " +
    "including NaN-greatest and null-lane rules") {
    import org.apache.spark.sql.graftshim.ColumnBridge
    val testVecs: Array[Array[Double]] = Array(
      Array(1.0, 0.0, 0.0), Array(0.5, 0.5, 0.0), Array(-1.0, 2.0, 0.25))
    val rows = Seq(
      (1L, Seq(0.3f, -0.7f, 1.1f)),
      (2L, Seq(1.0f, 1.0f, 1.0f)),
      (3L, Seq(-2.0f, 0.0f, 4.0f)),
      (4L, Seq(Float.NaN, 1.0f, 0.0f))) // NaN lane -> NaN dot, NaN-greatest
      .toDF("id", "v")
    val tvsCol = array(testVecs.map(tv =>
      array(tv.map(x => lit(x)): _*)): _*)
    val hof = rows.select(col("id"),
      array_max(transform(tvsCol, tv =>
        V.vecDotNative(col("v"), tv))).as("m"))
      .as[(Long, Double)].collect().toMap
    val native = rows.select(col("id"), ColumnBridge.column(
        graft.functions.expr.MaxVectorDot(
          ColumnBridge.expression(col("v")), testVecs)).as("m"))
      .as[(Long, Double)].collect().toMap
    (1L to 3L).foreach(i => assert(native(i) === hof(i),
      s"id $i: native ${native(i)} vs hof ${hof(i)}"))
    assert(native(4L).isNaN && hof(4L).isNaN)
    // null ELEMENT in the probe vector -> null result (NearestCentroids rule)
    val nullLane = Seq(Tuple1(Seq[java.lang.Float](1.0f, null, 2.0f)))
      .toDF("v")
      .select(ColumnBridge.column(graft.functions.expr.MaxVectorDot(
        ColumnBridge.expression(col("v")), testVecs)).as("m"))
    assert(nullLane.head().isNullAt(0))
  }

  test("assignClusters probe contract: probe=1 schema unchanged; probe=p ranks p nearest") {
    val e = SparkEntry.T(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val centroids = Similarity.pickCentroids(e, "vec_id", "embedding", 8, 42)
    val one = Similarity.assignClusters(e, "embedding", centroids)
    assert(one.columns.toSeq === Seq("vec_id", "embedding", "centroid_id"))
    val two = Similarity.assignClusters(e, "embedding", centroids, probe = 2)
    assert(two.columns.contains("centroid_rank"))
    val n = e.count()
    assert(two.count() === n * 2)
    // rank-1 rows ARE the single assignment
    val a1 = one.select(col("vec_id"), col("centroid_id"))
      .as[(Long, Long)].collect().toSet
    val a2 = two.filter(col("centroid_rank") === 1)
      .select(col("vec_id"), col("centroid_id"))
      .as[(Long, Long)].collect().toSet
    assert(a1 === a2)
  }

  test("semanticDecontaminate exact form: golden flags, max over the " +
    "whole test batch, plan stays join-free on the train side") {
    val v = (x: Double, y: Double) => Array(x.toFloat, y.toFloat)
    val test_ = Seq((100L, v(1.0, 0.0)), (101L, v(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val train = Seq(
      (1L, v(0.999, 0.045)), // ~cos 0.999 vs test 100 -> contaminated
      (2L, v(0.7, 0.7)),     // cos ~0.707 vs both -> below 0.9
      (3L, v(-1.0, 0.0)))    // negative vs 100, 0 vs 101 -> clean
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticDecontaminate(train, test_, "vec_id",
      "embedding", threshold = 0.9)
      .as[(Long, Option[Double], Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L)._3 === true && got(1L)._2.get > 0.99)
    assert(got(2L)._3 === false && math.abs(got(2L)._2.get - 0.707107) < 1e-6)
    assert(got(3L)._3 === false && math.abs(got(3L)._2.get - 0.0) < 1e-9)
    // scale shape: the exact form is one projection over train — no join
    // touches the train scan (the only join is the broadcast of the
    // single collected test-array row)
    val plan = Similarity.semanticDecontaminate(train, test_, "vec_id",
      "embedding", 0.9).queryExecution.sparkPlan
    val shuffledJoins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(shuffledJoins.isEmpty, plan.treeString)
  }

  test("semanticDecontaminate blocked form: flagged set is a subset of " +
    "exact; equal on the geometric regime it targets") {
    val e = SparkEntry.T(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    // test batch = jittered copies of 20 base vectors (guaranteed
    // geometric near-dups IN the train corpus); train = the corpus itself
    val geo = Similarity.plantedGeometricCorpus(
      e.filter(col("vec_id") < 20), "vec_id", "embedding",
      copies = 2, eps = 0.02)
    val test_ = geo.filter(col("vec_id") % 2 === 1) // the jittered copy
      .select(col("vec_id"), col("vec").as("embedding"))
    val exact = Similarity.semanticDecontaminate(e, test_, "vec_id",
      "embedding", threshold = 0.98)
    val nlist = math.max(8L, e.count() / 100L).toInt
    val blocked = Similarity.semanticDecontaminate(e, test_, "vec_id",
      "embedding", threshold = 0.98, nlist = nlist, multiProbe = 2)
    val exSet = exact.filter(col("contaminated"))
      .select("vec_id").as[Long].collect().toSet
    val blSet = blocked.filter(col("contaminated"))
      .select("vec_id").as[Long].collect().toSet
    assert(exSet === (0L until 20L).toSet,
      s"fixture broke: every planted base doc must flag, got $exSet")
    assert(blSet.subsetOf(exSet), "blocked form flagged a non-contaminated doc")
    assert(blSet === exSet,
      s"geometric-regime blocking missed ${exSet -- blSet}")
    // every train row appears exactly once in both outputs
    assert(blocked.count() === e.count() && exact.count() === e.count())
  }

  test("semanticDecontaminate shape gate: pure decision table") {
    val MB = BigInt(1L << 20)
    // benchmark-shaped: tiny test, any train -> exact
    assert(Similarity.exactDeconAffordable(MB / 2, MB / 4))
    assert(Similarity.exactDeconAffordable(BigInt(48), BigInt(300)))
    // past the 1 MB floor the ratio arm applies: 16x headroom needed
    assert(Similarity.exactDeconAffordable(2 * MB, 32 * MB))
    assert(!Similarity.exactDeconAffordable(2 * MB, 31 * MB))
    // absolute cap always wins, however large the train side claims to be
    assert(!Similarity.exactDeconAffordable(17 * MB, MB * 1000000))
    // auto nlist: clamped both ways, linear in between
    assert(Similarity.autoDeconNlist(BigInt(1000)) === 64)
    assert(Similarity.autoDeconNlist(BigInt(1L << 30)) === 4096)
    assert(Similarity.autoDeconNlist(BigInt(100L << 16)) === 100)
  }

  test("semanticDecontaminate auto-gate: corpus-shaped test side escalates " +
    "to cluster blocking; benchmark-shaped side is bit-equal to pinned exact") {
    def vecs(n: Int, seed: Int) = (0 until n).map(i =>
      (i.toLong + seed * 100000L,
        Array.tabulate(50)(j => (((i * 31 + j * 7 + seed) % 97) / 97.0f))))
    // test 3000 x 50-dim = 1.2 MB collected (> the 1 MB ratio floor),
    // train 100 rows -> test*16 >> train: the ratio arm must escalate
    val bigTest = vecs(3000, 1).toDF("vec_id", "embedding")
    val smallTrain = vecs(100, 2).toDF("vec_id", "embedding")
    val escalated = Similarity.semanticDecontaminate(
      smallTrain, bigTest, "vec_id", "embedding", threshold = 0.9)
    val joins = escalated.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.leftKeys.exists(
            _.references.exists(_.name == "centroid_id")) => j
    }
    assert(joins.nonEmpty,
      "corpus-shaped test side must take the cluster-blocked path:\n" +
        escalated.queryExecution.sparkPlan.treeString)
    assert(escalated.count() === 100L)
    // benchmark-shaped (x12b's shape): gated result == pinned exact, row
    // for row — the gate must not change what the oracle hashes
    val e = SparkEntry.T(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Option[Double], Boolean)].collect().sortBy(_._1).toSeq
    val gated = rows(Similarity.semanticDecontaminate(
      e.filter(col("vec_id") >= 50), e.filter(col("vec_id") < 50),
      "vec_id", "embedding", threshold = 0.35))
    val pinned = rows(Similarity.semanticDecontaminateExact(
      e.filter(col("vec_id") >= 50), e.filter(col("vec_id") < 50),
      "vec_id", "embedding", threshold = 0.35))
    assert(gated === pinned)
  }

  test("semanticDecontaminate: null / null-lane test vectors are dropped, " +
    "not crashed on (train-side symmetry)") {
    val v = (x: Double, y: Double) => Array(x.toFloat, y.toFloat)
    val clean = Seq((100L, v(1.0, 0.0))).toDF("vec_id", "embedding")
    val dirty = Seq(
      (100L, Some(Seq[java.lang.Float](1.0f, 0.0f))),
      (101L, None),                                  // null vector
      (102L, Some(Seq[java.lang.Float](0.5f, null)))) // null lane
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding"))
    val train = Seq((1L, v(0.999, 0.045)), (2L, v(-1.0, 0.0)))
      .toDF("vec_id", "embedding")
    def got(t: org.apache.spark.sql.DataFrame) =
      Similarity.semanticDecontaminate(train, t, "vec_id", "embedding", 0.9)
        .as[(Long, Option[Double], Boolean)].collect().sortBy(_._1).toSeq
    assert(got(dirty.select(col("vec_id"),
      col("embedding").cast("array<float>").as("embedding"))) ===
      got(clean))
  }

  private def seededVecs(n: Int, dim: Int, seed: Long): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Seq.fill(dim)(rnd.nextFloat() - 0.5f)))
  }

  test("pqEncode: codes are m ints in [0, ksub); deterministic under repartition") {
    val df = seededVecs(40, 16, 7L).toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(df, "vec_id", "embedding", m = 4, ksub = 8,
      refineIters = 1)
    assert(cb.dsub === 4 && cb.ksub === 8)
    val codes = Similarity.pqEncode(df, "embedding", cb)
      .select("vec_id", "pq_codes")
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes.size === 40)
    codes.values.foreach { c =>
      assert(c.length === 4)
      assert(c.forall(x => x >= 0 && x < 8))
    }
    val codesRep = Similarity.pqEncode(df.repartition(7), "embedding", cb)
      .select("vec_id", "pq_codes").as[(Long, Seq[Int])].collect().toMap
    assert(codesRep === codes)
  }

  test("pq exactness limit: ksub = n makes every subvector a centroid — " +
    "ADC ranking equals exact, scores agree to fp tolerance") {
    val data = seededVecs(20, 8, 11L)
    val items = data.toDF("vec_id", "embedding")
    val queries = data.take(3).toDF("vec_id", "embedding")
    // refineIters = 0: the hash-pick keeps every row's subvector verbatim
    val cb = Similarity.pqTrain(items, "vec_id", "embedding",
      m = 4, ksub = 20, refineIters = 0)
    val exact = Similarity.bruteForceTopK(queries, items, "vec_id",
      "vec_id", "embedding", 5, "cosine")
      .select("query_id", "rank", "item_id", "score")
      .as[(Long, Int, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val adc = Similarity.pqTopK(queries,
      Similarity.pqEncodedItems(items, "vec_id", "embedding", cb),
      "vec_id", "embedding", 5, cb)
      .select("query_id", "rank", "item_id", "score")
      .as[(Long, Int, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(adc.keySet === exact.keySet)
    exact.foreach { case (k, (item, score)) =>
      assert(adc(k)._1 === item, s"rank slot $k")
      // perfect reconstruction: 1 - ||q-x||^2/2 == cos(q,x) on unit vecs
      assert(math.abs(adc(k)._2 - score) < 1e-6, s"score at $k")
    }
  }

  test("pqTopK shortlist + rerankExactTopK: exact scores on survivors; " +
    "recall >= raw ADC; a catalog-covering shortlist recovers exact") {
    val e = SparkEntry.T(spark, "/root/testdata/sf0.001", "embeddings")
    val qs = e.filter(col("vec_id") < 10)
    val cb = Similarity.pqTrain(e, "vec_id", "embedding", m = 8, ksub = 16,
      refineIters = 1)
    val exact = Similarity.bruteForceTopK(qs, e, "vec_id", "vec_id",
      "embedding", 5, "cosine", excludeSelf = true)
      .select("query_id", "item_id", "score")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    def hitRate(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "item_id")
        .as[(Long, Long)].collect().toSet
      exact.keySet.count(got.contains).toDouble / exact.size
    }
    val enc = Similarity.pqEncodedItems(e, "vec_id", "embedding", cb)
    // ADC shortlist of k·R, then the exact re-rank (the faiss refine)
    def refinedAt(r: Int) = Similarity.rerankExactTopK(
      Similarity.pqTopK(qs, enc, "vec_id", "embedding", 5 * r, cb,
        excludeSelf = true).select("query_id", "item_id"),
      qs, e, "vec_id", "vec_id", "embedding", 5, cb.metric)
    val adc = Similarity.pqTopK(qs, enc, "vec_id", "embedding", 5, cb,
      excludeSelf = true)
    val refined = refinedAt(4)
    assert(hitRate(refined) >= hitRate(adc) - 1e-9)
    // survivors carry EXACT scores (the refine contract)
    refined.select("query_id", "item_id", "score")
      .as[(Long, Long, Double)].collect().foreach { case (q, i, s) =>
        exact.get((q, i)).foreach(es => assert(math.abs(s - es) < 1e-9))
      }
    // R >= catalog size: the shortlist is everything -> exact top-k back
    val n = e.count().toInt
    val full = refinedAt(n / 5 + 1)
    assert(hitRate(full) === 1.0)
  }

  test("clusterPrunedTopKPq limits: nprobe = nlist is pure PQ (equals " +
    "pqTopK); adding a catalog-covering refine recovers exact top-k") {
    val e = SparkEntry.T(spark, "/root/testdata/sf0.001", "embeddings")
    val qs = e.filter(col("vec_id") < 8)
    val cb = Similarity.pqTrain(e, "vec_id", "embedding", m = 8, ksub = 16,
      refineIters = 1)
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "item_id")
        .as[(Long, Int, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val pure = ranks(Similarity.pqTopK(qs,
      Similarity.pqEncodedItems(e, "vec_id", "embedding", cb), "vec_id",
      "embedding", 5, cb, excludeSelf = true))
    val unpruned = ranks(Similarity.clusterPrunedTopKPq(qs, e, "vec_id",
      "vec_id", "embedding", 5, cb, nlist = 6, nprobe = 6,
      excludeSelf = true))
    assert(unpruned === pure)
    val n = e.count().toInt
    val exact = ranks(Similarity.bruteForceTopK(qs, e, "vec_id", "vec_id",
      "embedding", 5, "cosine", excludeSelf = true))
    val short = Similarity.clusterPrunedTopKPq(qs, e, "vec_id", "vec_id",
      "embedding", 5 * (n / 5 + 1), cb, nlist = 6, nprobe = 6,
      excludeSelf = true).select("query_id", "item_id")
    val recovered = ranks(Similarity.rerankExactTopK(short, qs, e,
      "vec_id", "vec_id", "embedding", 5, cb.metric))
    assert(recovered === exact)
  }

  test("residual IVF-PQ exactness limit: ksub = n + nprobe = nlist makes " +
    "residual ADC exact — ranks equal bruteForce, scores to fp tolerance") {
    val data = seededVecs(20, 8, 11L)
    val items = data.toDF("vec_id", "embedding")
    val queries = data.take(3).toDF("vec_id", "embedding")
    // pqIters = 0: the hash-pick keeps every RESIDUAL subvector verbatim
    // as a sub-centroid; the probe join keys query and item residuals to
    // the SAME cell centroid, so (q−c)−(x−c) = q−x and ADC is exact.
    val idx = Similarity.ivfPqTrain(items, "vec_id", "embedding",
      m = 4, ksub = 20, nlist = 4, pqIters = 0)
    val exact = Similarity.bruteForceTopK(queries, items, "vec_id",
      "vec_id", "embedding", 5, "cosine")
      .select("query_id", "rank", "item_id", "score")
      .as[(Long, Int, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val adc = Similarity.clusterPrunedTopKPqResidual(queries, items,
      "vec_id", "vec_id", "embedding", 5, idx, nprobe = 4)
      .select("query_id", "rank", "item_id", "score")
      .as[(Long, Int, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(adc.keySet === exact.keySet)
    exact.foreach { case (k, (item, score)) =>
      assert(adc(k)._1 === item, s"rank slot $k")
      assert(math.abs(adc(k)._2 - score) < 1e-6, s"score at $k")
    }
  }

  test("residual IVF-PQ refine limit: nprobe = nlist + catalog-covering " +
    "refineFactor recovers exact top-k; output deterministic under " +
    "repartition") {
    val e = SparkEntry.T(spark, "/root/testdata/sf0.001", "embeddings")
    val qs = e.filter(col("vec_id") < 8)
    val idx = Similarity.ivfPqTrain(e, "vec_id", "embedding",
      m = 8, ksub = 16, nlist = 6, pqIters = 1)
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "item_id")
        .as[(Long, Int, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val n = e.count().toInt
    val exact = ranks(Similarity.bruteForceTopK(qs, e, "vec_id", "vec_id",
      "embedding", 5, "cosine", excludeSelf = true))
    val short = Similarity.clusterPrunedTopKPqResidual(qs, e, "vec_id",
      "vec_id", "embedding", 5 * (n / 5 + 1), idx, nprobe = 6,
      excludeSelf = true).select("query_id", "item_id")
    val recovered = ranks(Similarity.rerankExactTopK(short, qs, e,
      "vec_id", "vec_id", "embedding", 5, idx.metric))
    assert(recovered === exact)
    val a = ranks(Similarity.clusterPrunedTopKPqResidual(qs, e, "vec_id",
      "vec_id", "embedding", 5, idx, nprobe = 2, excludeSelf = true))
    val b = ranks(Similarity.clusterPrunedTopKPqResidual(qs.repartition(7),
      e.repartition(5), "vec_id", "vec_id", "embedding", 5, idx,
      nprobe = 2, excludeSelf = true))
    assert(a === b)
  }

  test("residual IVF-PQ mechanism pin: on a clustered (MoG) corpus with " +
    "Lloyd centroids, residual ADC recall beats raw-codebook ADC") {
    // Deterministic hash-derived corpus (no RNG) — the regime residual
    // encoding targets: coarse centroids recover the cluster centers, so
    // residuals shrink to the sigma-ball and the same m·ksub budget
    // codes them far more finely than raw vectors spanning the sphere.
    // Measured at these exact params: raw 0.21, residual 0.28 (and
    // 0.276 vs 0.48 at the mog:2000:16:0.15 point of the ResidualCurve
    // sweep, last in commit 65b4b15); the gap is structural, not noise — every input is hash-derived, so
    // the run is bit-reproducible.
    val emb = SyntheticData.mogCorpus(spark, 600, 12, 0.15, dim = 32)
      .localCheckpoint()
    val qs = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(qs, emb, "vec_id", "vec_id",
      "embedding", 5, "cosine", excludeSelf = true)
      .select("query_id", "item_id").as[(Long, Long)].collect().toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      df.select("query_id", "item_id").as[(Long, Long)].collect()
        .count(exact.contains).toDouble / exact.size
    val cbRaw = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 8, ksub = 16, refineIters = 2)
    val idx = Similarity.ivfPqTrain(emb, "vec_id", "embedding",
      m = 8, ksub = 16, nlist = 12, coarseIters = 2, pqIters = 2)
    val rawAdc = recallOf(Similarity.clusterPrunedTopKPq(qs, emb,
      "vec_id", "vec_id", "embedding", 5, cbRaw, nlist = 12, nprobe = 4,
      refineIters = 2, excludeSelf = true))
    val resAdc = recallOf(Similarity.clusterPrunedTopKPqResidual(qs, emb,
      "vec_id", "vec_id", "embedding", 5, idx, nprobe = 4,
      excludeSelf = true))
    info(f"raw ADC recall $rawAdc%.4f, residual ADC recall $resAdc%.4f")
    assert(resAdc > rawAdc + 0.05,
      f"residual ADC $resAdc%.4f should beat raw ADC $rawAdc%.4f on the " +
        "clustered corpus")
  }

  // --- r20 multi-operating-point differential pins (VERDICT r19 #1/#6):
  //     the one-candidate-pass multi-arm shortlist must be BIT-equal,
  //     arm by arm, to the single-arm functions it replaces in the r14
  //     recall rows — including the exact re-rank tail. ---

  private def ranked(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "rank", "item_id", "score")
      .as[(Long, Int, Long, Double)].collect()
      .sortBy(r => (r._1, r._2)).toSeq

  test("clusterPrunedShortlistPqMulti pin: filter(nprobe=np, rank<=k) " +
    "equals clusterPrunedTopKPq(nprobe=np) exactly, for every arm") {
    val data = seededVecs(60, 16, 23L)
    val items = data.toDF("vec_id", "embedding")
    val queries = data.take(7).toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(items, "vec_id", "embedding", m = 4,
      ksub = 8, refineIters = 1)
    val multi = Similarity.clusterPrunedShortlistPqMulti(queries,
      Similarity.pqPrunedCatalog(items, "vec_id", "embedding", cb,
        nlist = 6), "vec_id", "embedding", 20, cb, nprobes = Seq(2, 4),
      excludeSelf = true)
    Seq(2, 4).foreach { np =>
      val solo = ranked(Similarity.clusterPrunedTopKPq(queries, items,
        "vec_id", "vec_id", "embedding", 5, cb, nlist = 6, nprobe = np,
        excludeSelf = true))
      val arm = ranked(multi.filter(col("nprobe") === np &&
        col("rank") <= 5))
      assert(arm === solo, s"nprobe=$np arm diverged from the solo run")
    }
  }

  test("clusterPrunedShortlistPqResidualMulti pin: every arm equals the " +
    "solo clusterPrunedTopKPqResidual run exactly") {
    val data = seededVecs(60, 16, 29L)
    val items = data.toDF("vec_id", "embedding")
    val queries = data.take(7).toDF("vec_id", "embedding")
    val idx = Similarity.ivfPqTrain(items, "vec_id", "embedding", m = 4,
      ksub = 8, nlist = 6, pqIters = 1)
    val multi = Similarity.clusterPrunedShortlistPqResidualMulti(queries,
      Similarity.residualEncodedCatalog(items, "vec_id", "embedding", idx),
      "vec_id", "embedding", 20, idx, nprobes = Seq(2, 4),
      excludeSelf = true)
    Seq(2, 4).foreach { np =>
      val solo = ranked(Similarity.clusterPrunedTopKPqResidual(queries,
        items, "vec_id", "vec_id", "embedding", 5, idx, nprobe = np,
        excludeSelf = true))
      val arm = ranked(multi.filter(col("nprobe") === np &&
        col("rank") <= 5))
      assert(arm === solo, s"nprobe=$np arm diverged from the solo run")
    }
  }

  test("rerankExactTopK pin: a catalog-covering ADC shortlist re-ranks to " +
    "bruteForceTopK's ranks and scores; arms rank independently") {
    val data = seededVecs(60, 16, 31L)
    val items = data.toDF("vec_id", "embedding")
    val queries = data.take(7).toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(items, "vec_id", "embedding", m = 4,
      ksub = 8, refineIters = 1)
    // k·R >= catalog: every candidate survives into the shortlist, so the
    // re-rank alone decides — it must reproduce the exact baseline
    val short = Similarity.pqTopK(queries,
      Similarity.pqEncodedItems(items, "vec_id", "embedding", cb),
      "vec_id", "embedding", 60, cb, excludeSelf = true)
      .select(col("query_id"), col("item_id"))
    val rr = ranked(Similarity.rerankExactTopK(short, queries, items,
      "vec_id", "vec_id", "embedding", 5, "cosine"))
    val solo = ranked(Similarity.bruteForceTopK(queries, items, "vec_id",
      "vec_id", "embedding", 5, "cosine", excludeSelf = true))
    assert(rr === solo)
    // and with an arm column: each arm re-ranked within its own window
    val armed = short.withColumn("__fam", lit("x"))
      .unionAll(short.withColumn("__fam", lit("y")))
    val byArm = Similarity.rerankExactTopK(armed, queries, items,
      "vec_id", "vec_id", "embedding", 5, "cosine",
      armCols = Seq("__fam"))
    Seq("x", "y").foreach { fam =>
      assert(ranked(byArm.filter(col("__fam") === fam)) === solo,
        s"arm $fam diverged")
    }
  }

  test("fold identity (VERDICT r19 #6): left-join + one aggregate equals " +
    "semi-join count + separate count IFF both sides are key-unique — " +
    "duplicate keys overcount, which is WHY uniqueness is load-bearing") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 12L))
      .toDF("q", "i")
    val approx = Seq((1L, 10L), (2L, 10L), (2L, 99L)).toDF("q", "i")
    def folded(a: org.apache.spark.sql.DataFrame,
               b: org.apache.spark.sql.DataFrame) =
      a.join(b.withColumn("__hit", lit(1)), Seq("q", "i"), "left")
        .agg(count(lit(1)).as("n_exact"), count(col("__hit")).as("n_hits"))
        .as[(Long, Long)].head()
    val semi = exact.join(approx, Seq("q", "i"), "left_semi").count()
    assert(folded(exact, approx) === ((exact.count(), semi)))
    // negative control: a duplicated approx key fans the left join out
    val dup = approx.unionAll(Seq((1L, 10L)).toDF("q", "i"))
    val (nExactDup, nHitsDup) = folded(exact, dup)
    val semiDup = exact.join(dup, Seq("q", "i"), "left_semi").count()
    assert(nHitsDup > semiDup && nExactDup > exact.count(),
      "duplicate keys must break the fold (overcount) — the fold is only " +
        "valid on key-unique sides")
  }
}
