package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, TextAnalysis}

/** Dedup + text-analysis invariants (builder-brief north-star components).
  * LSH correctness is asserted as recall against exact Jaccard on planted
  * near-duplicates — the standard validation for banded MinHash. */
class DedupTextSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "THE QUICK  BROWN FOX jumps over the lazy dog"), // exact dup after normalize
    (3L, "the quick brown fox jumps over the lazy cat"),  // near dup of 1
    (4L, "completely different text about spark engines and shuffles"),
    (5L, "another unrelated document mentioning feature stores"))
    .toDF("doc_id", "text")

  test("exact dedup keeps min-id per normalized content group") {
    val kept = Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L, 4L, 5L)) // 2 collapses into 1
  }

  test("word shingles golden") {
    val df = Seq("a b c d").toDF("t")
    val sh = df.select(Dedup.wordShingles(col("t"), 3)).head().getSeq[String](0)
    assert(sh === Seq("a b c", "b c d"))
  }

  test("minhash LSH finds planted near-duplicates (recall vs exact jaccard)") {
    val exact = Dedup.tokenJaccardPairs(docs, "doc_id", "text", 0.7)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(exact.contains((1L, 3L))) // sanity: the planted near-dup pair
    val lsh = Dedup.minHashNearDups(docs, "doc_id", "text",
      shingleLen = 2, numHashes = 64, bands = 32, threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // every high-jaccard pair must be recalled by LSH at these band settings
    assert(exact.diff(lsh).isEmpty, s"LSH missed pairs: ${exact.diff(lsh)}")
  }

  test("minhash LSH hot-bucket cap: planted hot bucket bounded, distinct near-dup survives") {
    // 120 byte-identical docs form one hot (band,bucket) in EVERY band —
    // the within-bucket self-join is the quadratic the cap exists to bound.
    val template = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod"
    val hot = (1L to 120L).map(i => (i, template))
    val planted = Seq(
      (200L, "spark catalyst optimizer rewrites logical plans into physical plans"),
      (201L, "spark catalyst optimizer rewrites logical plans into efficient physical plans"))
    val corpus = (hot ++ planted).toDF("doc_id", "text")
    def run(cap: Int) = Dedup.minHashNearDups(corpus, "doc_id", "text",
      shingleLen = 2, numHashes = 64, bands = 32, threshold = 0.5,
      maxBucketSize = cap)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val uncapped = run(0)
    val capped = run(8)
    // the planted near-dup outside the hot bucket is unaffected by the cap
    assert(capped.contains((200L, 201L)))
    // the cap only ever drops candidates, never invents them
    assert(capped.subsetOf(uncapped))
    // the hot bucket's quadratic actually got bounded: survivors are at most
    // `cap` per band → pairs among the 120 clones ≤ bands * C(cap,2) = 896,
    // far below the uncapped C(120,2) = 7140
    val hotUncapped = uncapped.count(p => p._1 <= 120 && p._2 <= 120)
    val hotCapped = capped.count(p => p._1 <= 120 && p._2 <= 120)
    assert(hotUncapped === 120 * 119 / 2)
    assert(hotCapped <= 32 * 8 * 7 / 2 && hotCapped < hotUncapped)
  }

  test("minhash LSH: hot-bucket cap is a no-op when buckets are small") {
    def pairs(cap: Int) = Dedup.minHashNearDups(docs, "doc_id", "text",
      shingleLen = 2, numHashes = 64, bands = 32, threshold = 0.5,
      maxBucketSize = cap)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // buckets in this corpus are far below the cap → capped == uncapped
    assert(pairs(64) === pairs(0))
  }

  test("banded near-dups are COMPLETE vs brute force over (lanes, radius, " +
    "combos), plain and salted (sf0.001)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val fp = docs.select(col("doc_id"),
      Dedup.simHash64(col("text")).as("fp64"),
      Dedup.simHash128(col("text")).as("fp128")).localCheckpoint()
    def brute(lanes: Int, radius: Int): Set[(Long, Long)] = {
      val (c, ham) =
        if (lanes == 1) ("fp64", Dedup.hamming64 _)
        else ("fp128", Dedup.hamming128 _)
      fp.select(col("doc_id").as("id1"), col(c).as("fp1"))
        .crossJoin(fp.select(col("doc_id").as("id2"), col(c).as("fp2")))
        .filter(col("id1") < col("id2"))
        .filter(ham(col("fp1"), col("fp2")) <= radius)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
    }
    // The public entries run the production salt (saltTau 256); saltTau 2
    // forces the depth-proportional cells (production engages them only
    // past depth 256) through the shared operator over the same lanes —
    // pair coverage must be EXACTLY preserved: each pair meets once per
    // witnessing bucket, in the left row's cell.
    def banded(lanes: Int, radius: Int, combos: Int, saltTau: Int) =
      (saltTau, lanes) match {
        case (256, 1) => Dedup.simHashNearDups(docs, "doc_id", "text",
          maxHamming = radius, blockCombos = combos)
        case (256, _) => Dedup.simHashNearDups128(docs, "doc_id", "text",
          maxHamming = radius, blockCombos = combos)
        case (_, 1) => Dedup.bandedNearDups(
          fp.select(col("doc_id"), col("fp64").as("l0")), "doc_id",
          radius, combos, maxBucketSize = 0, saltTau = saltTau)
        case _ => Dedup.bandedNearDups(
          fp.select(col("doc_id"), col("fp128.l0"), col("fp128.l1")),
          "doc_id", radius, combos, maxBucketSize = 0, saltTau = saltTau)
      }
    // (lanes, radius, combos, saltTau). Radius 8 of 64 and 16 of 128 are
    // the registry configurations (the same similarity threshold); 3 and
    // 6 probe a second block geometry per lane count; every combo count
    // takes a different banding path.
    val table = Seq((1, 3, 1, 256), (1, 3, 2, 256), (1, 3, 3, 256),
      (1, 8, 1, 256), (1, 8, 2, 256), (1, 8, 3, 256), (1, 8, 1, 2),
      (2, 6, 1, 256), (2, 6, 2, 256), (2, 16, 1, 256), (2, 16, 2, 256),
      (2, 16, 2, 2))
    val bruteBy = table.map { case (l, r, _, _) => (l, r) }.distinct
      .map(k => k -> brute(k._1, k._2)).toMap
    for ((lanes, radius, combos, saltTau) <- table) {
      val want = bruteBy((lanes, radius))
      val got = banded(lanes, radius, combos, saltTau)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
      assert(got === want,
        s"lanes $lanes radius $radius combos $combos saltTau $saltTau: " +
          s"banded ${got.size} vs brute ${want.size}; " +
          s"missed=${want.diff(got).take(5)} extra=${got.diff(want).take(5)}")
    }
  }

  test("simhash128: lanes are independent, lane 0 is the 64-bit " +
    "fingerprint, identical docs pair at hamming 0") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // no doc in the corpus has l0 == l1, and lane 0 equals the 64-bit
    // fingerprint
    val lanes = corpus.select(Dedup.simHash128(col("text")).as("fp"),
      Dedup.simHash64(col("text")).as("fp64"))
    assert(lanes.filter(col("fp.l0") === col("fp.l1")).count() === 0)
    assert(lanes.filter(col("fp.l0") =!= col("fp64")).count() === 0)
    // identical docs collide on BOTH lanes (hamming 0)
    val small = Dedup.simHashNearDups128(docs, "doc_id", "text",
      maxHamming = 16)
      .select("id1", "id2", "hamming")
      .as[(Long, Long, Int)].collect()
    assert(small.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
  }

  /** Largest row count of any join-key group on the build side of the
    * banded candidate join (the shuffled hash join keyed on `block`) in
    * `df`'s physical plan, read by executing that build side. */
  private def maxBuildGroup(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    val joins = df.queryExecution.executedPlan.collect {
      case j: ShuffledHashJoinExec
          if j.leftKeys.exists(_.references.exists(_.name == "block")) => j
    }
    assert(joins.size === 1, df.queryExecution.executedPlan.treeString)
    val j = joins.head
    val (build, keys) =
      if (j.buildSide == BuildLeft) (j.left, j.leftKeys)
      else (j.right, j.rightKeys)
    val key = UnsafeProjection.create(keys, build.output)
    build.executeCollect().groupBy(r => key(r).copy()).values
      .map(_.length).max
  }

  test("salted banded join: a bucket deeper than 64·saltTau keeps every " +
    "build-side (block, key, cell) group within saltTau, pairs exact") {
    // 300 distinct fingerprints that differ only in their low 9 bits: in
    // both geometries below the low block is the only one that varies, so
    // every other block key is shared by all 300 — deeper than 64·saltTau
    // = 128, where a 64-cell salt ceiling would leave ~5 rows per cell.
    val saltTau = 2
    val n = 300
    val high = 0x5DEECE66DL << 16
    val want = (for (i <- 0 until n; j <- i + 1 until n
                     if Integer.bitCount(i ^ j) <= 6)
      yield (i.toLong, j.toLong, Integer.bitCount(i ^ j))).toSet
    val prior = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // (lanes, radius): 4 blocks of 16 bits, and 7 blocks with lane 0
      // split 4 × 16
      for ((lanes, radius) <- Seq((1, 3), (2, 6))) {
        val l1 = if (lanes == 2) Seq(lit(high).as("l1")) else Nil
        val fps = spark.range(n).select(
          col("id").as("doc_id") +: (lit(high) + col("id")).as("l0") +: l1: _*)
        val pairs = Dedup.bandedNearDups(fps, "doc_id", radius,
          blockCombos = 1, maxBucketSize = 0, saltTau = saltTau)
        val got = pairs.as[(Long, Long, Int)].collect().toSet
        val exact = want.filter(_._3 <= radius)
        assert(got === exact, s"lanes $lanes: ${got.size} pairs vs brute " +
          s"${exact.size}; missed=${exact.diff(got).take(5)}")
        val deepest = maxBuildGroup(pairs)
        assert(deepest <= saltTau,
          s"lanes $lanes: a build-side group holds $deepest rows > $saltTau")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prior)
  }

  test("SimHashBands native kernel is bit-identical to the unrolled fold packing") {
    // Differential spec for the r11 codegen-overflow fix: the native
    // kernel's packed combo keys must equal the old
    // shiftleft/bitwiseOR fold column form at every supported geometry,
    // including the radius-16-of-128 registry config whose 153-struct
    // unrolled explode overflowed janino's 64 KB method limit.
    val rnd = new scala.util.Random(42)
    val lanes = Seq.fill(300)((rnd.nextLong(), rnd.nextLong()))
      .toDF("l0", "l1")
    def geometry(numBits: Int, numBlocks: Int): Seq[(Int, Int, Int)] =
      if (numBits == 64) {
        val baseW = 64 / numBlocks
        val ws = Seq.tabulate(numBlocks)(i =>
          if (i < 64 % numBlocks) baseW + 1 else baseW)
        ws.zip(ws.scanLeft(0)(_ + _).init).map { case (w, o) => (0, o, w) }
      } else {
        val perLane = { val b = numBlocks / 2; Seq(numBlocks - b, b) }
        perLane.zipWithIndex.flatMap { case (k, lane) =>
          val baseW = 64 / k
          val ws = Seq.tabulate(k)(i => if (i < 64 % k) baseW + 1 else baseW)
          ws.zip(ws.scanLeft(0)(_ + _).init).map { case (w, o) => (lane, o, w) }
        }
      }
    val configs = Seq((64, 3, 1), (64, 8, 2), (64, 15, 3),
      (128, 6, 1), (128, 16, 2), (128, 31, 2))
    for ((bits, radius, bc) <- configs) {
      val blocks = geometry(bits, radius + bc)
      val combos = (0 until (radius + bc)).combinations(bc).toSeq
      val laneCols = Seq(col("l0"), col("l1"))
      val oldForm = array(combos.map { blks =>
        blks.foldLeft(lit(0L): org.apache.spark.sql.Column) { (acc, blk) =>
          val (lane, off, w) = blocks(blk)
          val mask = if (w == 64) -1L else (1L << w) - 1L
          shiftleft(acc, w).bitwiseOR(
            shiftright(laneCols(lane), off).bitwiseAND(lit(mask)))
        }
      }: _*)
      val lanesArr =
        if (bits == 64) array(col("l0")) else array(col("l0"), col("l1"))
      val mismatches = lanes.select(
        Dedup.simHashBandsNative(lanesArr, blocks, combos).as("native"),
        oldForm.as("old"))
        .filter(col("native") =!= col("old")).count()
      assert(mismatches === 0,
        s"bits=$bits radius=$radius combos=$bc: native != fold packing")
    }
  }

  test("SimHashBands: null lane array OR null lane element propagates null (never bands)") {
    // A null lane element reading as 0 would silently band every
    // null-fingerprint doc into the same buckets — the expression must
    // return null instead (posexplode then emits no banding rows, the
    // old column form's never-joining null-key behavior).
    val blocks = Seq((0, 0, 32), (0, 32, 32), (1, 0, 64))
    val combos = Seq(Seq(0, 1), Seq(1, 2))
    val df = Seq(
      (1L, Some(7L), Some(9L)),
      (2L, None, Some(9L)),    // null element in a referenced lane
      (3L, Some(7L), None)
    ).toDF("id", "l0", "l1")
    val out = df.select(col("id"),
      Dedup.simHashBandsNative(array(col("l0"), col("l1")), blocks, combos)
        .as("keys"))
    assert(out.filter(col("keys").isNull).select("id")
      .as[Long].collect().toSet === Set(2L, 3L))
    // null ARRAY input too
    val nullArr = df.select(Dedup.simHashBandsNative(
      when(col("id") === 1L, array(col("l0"), col("l1"))), blocks, combos)
      .as("keys"))
    assert(nullArr.filter(col("keys").isNull).count() === 2L)
    // interpreted eval agrees with codegen
    import org.apache.spark.sql.catalyst.expressions.{CreateArray, Literal}
    import org.apache.spark.sql.types.LongType
    val expr = graft.functions.expr.SimHashBands(
      CreateArray(Seq(Literal(null, LongType), Literal(1L, LongType))),
      blocks, combos)
    assert(expr.eval(null) === null)
  }

  test("high-radius banding compiles under whole-stage codegen (no 64 KB fallback)") {
    // Pin the r10 defect structurally: with spark.sql.codegen.fallback=false
    // a janino CompileException (the 'Code grows beyond 64 KB' overflow)
    // ABORTS the query instead of silently dropping to interpreted eval, so
    // this test fails if the banding stage ever stops codegen-compiling.
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(300)
    val prior = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      // the registry radius-16 config (153 combos) and the widest 64-bit
      // geometry (C(18,3) = 816 combos) — both overflowed pre-fix
      assert(Dedup.simHashNearDups128(corpus, "doc_id", "text",
        maxHamming = 16, blockCombos = 2).count() >= 0)
      assert(Dedup.simHashNearDups(corpus, "doc_id", "text",
        maxHamming = 15, blockCombos = 3).count() >= 0)
    } finally spark.conf.set("spark.sql.codegen.fallback", prior)
  }

  test("native SimHash64 expression is bit-identical to the HOF form") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cmp = corpus.select(
      Dedup.simHash64Native(Dedup.tokenHashes(col("text"))).as("n"),
      Dedup.simHash64FromHashes(Dedup.tokenHashes(col("text"))).as("h"))
    assert(cmp.filter(col("n") =!= col("h")).count() === 0)
    // edge cases the corpus may not cover: empty text (tokens("") = [""] —
    // one empty token, so fp = xxhash64("")'s bit pattern, single-element
    // majority), single token, repeated tokens, null text → null fp, and a
    // genuinely EMPTY hash array → all bit sums 0 → fp 0
    val edge = Seq(Some(""), Some("x"), Some("a b a b"), None).toDF("t")
    val th = Dedup.tokenHashes(col("t"))
    val rows = edge.select(Dedup.simHash64Native(th).as("n"),
      Dedup.simHash64FromHashes(th).as("h")).collect()
    rows.foreach { r => assert(r.isNullAt(0) === r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getLong(0) === r.getLong(1)) }
    assert(rows(3).isNullAt(0)) // null text → null fp
    val emptyArr = Seq(Seq.empty[Long]).toDF("th")
      .select(Dedup.simHash64Native(col("th")).as("n"),
        Dedup.simHash64FromHashes(col("th")).as("h")).collect()(0)
    assert(emptyArr.getLong(0) === 0L && emptyArr.getLong(1) === 0L)
    // SQL surface via GraftExtensions.register
    GraftExtensions.register(spark)
    corpus.limit(50).createOrReplaceTempView("__sh_docs")
    val viaSql = spark.sql(
      "SELECT sim_hash64(transform(array_distinct(split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' ')), t -> xxhash64(t))) AS fp FROM __sh_docs")
    val direct = corpus.limit(50).select(Dedup.simHash64(col("text")).as("fp"))
    assert(viaSql.collect().map(_.getLong(0)).toSeq ===
      direct.collect().map(_.getLong(0)).toSeq)
  }

  test("native MinHashSignature expression is bit-identical to the HOF form") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(Dedup.shingleHashes(
        Dedup.wordShingles(col("text"), 3)).as("hs"))
    val cmp = corpus.select(
      Dedup.minHashSignatureNative(col("hs"), 64, 42).as("n"),
      Dedup.minHashSignatureFromHashes(col("hs"), 64, 42).as("h"))
    assert(cmp.filter(not(col("n") <=> col("h"))).count() === 0)
    // edges: empty hash array and null-element array → all lanes null
    // (array_min-over-transform semantics), null array → null signature
    val edge = Seq(
      (1L, Some(Seq(7L, 11L))), (2L, Some(Seq.empty[Long])), (3L, None))
      .toDF("id", "hs")
    val rows = edge.select(col("id"),
        Dedup.minHashSignatureNative(col("hs"), 8, 42).as("n"),
        Dedup.minHashSignatureFromHashes(col("hs"), 8, 42).as("h"))
      .orderBy(col("id")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2), s"nullness differs: $r")
      if (!r.isNullAt(1)) assert(r.getSeq[Any](1) === r.getSeq[Any](2))
    }
    assert(!rows(1).isNullAt(1) &&
      rows(1).getSeq[Any](1).forall(_ == null)) // empty → 8 null lanes
    assert(rows(2).isNullAt(1)) // null array → null
  }

  test("min_hash_signature usable from SQL and equals the library form") {
    GraftExtensions.register(spark)
    docs.createOrReplaceTempView("__mh_docs")
    val viaSql = spark.sql(
      """SELECT min_hash_signature(
        |  transform(split(trim(regexp_replace(lower(text), '\\s+', ' ')), ' '),
        |            t -> pmod(xxhash64(t), 2147483647L)), 16, 42) AS sig
        |FROM __mh_docs ORDER BY doc_id""".stripMargin)
      .collect().map(_.getSeq[Long](0))
    val direct = docs.orderBy(col("doc_id"))
      .select(Dedup.minHashSignatureNative(
        Dedup.shingleHashes(Dedup.tokens(col("text"))), 16, 42).as("sig"))
      .collect().map(_.getSeq[Long](0))
    assert(viaSql.toSeq.map(_.toSeq) === direct.toSeq.map(_.toSeq))
    // non-literal numHashes is rejected with a clear error
    val err = intercept[Exception] {
      spark.sql("SELECT min_hash_signature(array(1L), doc_id) FROM __mh_docs")
        .collect()
    }
    assert(err.getMessage.contains("integer literal") ||
      Option(err.getCause).exists(_.getMessage.contains("integer literal")))
  }

  test("every near-dup path plans WITHOUT a cartesian product (scale guard)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plans = Map(
      "minhash" -> Dedup.minHashNearDups(docs, "doc_id", "text",
        shingleLen = 2, numHashes = 16, bands = 8, threshold = 0.5),
      "simhash" -> Dedup.simHashNearDups(docs, "doc_id", "text", maxHamming = 3),
      "jaccard" -> Dedup.tokenJaccardPairs(docs, "doc_id", "text", 0.5),
      "embedding" -> graft.ops.Similarity.embeddingNearDups(
        emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
        threshold = 0.5, nlist = 4))
    plans.foreach { case (name, df) =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"$name near-dup path planned a CartesianProduct")
    }
  }

  test("simhash rejects radii beyond the banding's useful range") {
    intercept[IllegalArgumentException] {
      Dedup.simHashNearDups(docs, "doc_id", "text", maxHamming = 16)
    }
  }

  test("simhash: identical docs → hamming 0; near-dups closer than unrelated") {
    val fp = docs.select(col("doc_id"), Dedup.simHash64(col("text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) === fp(2L)) // normalization makes them identical
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(1L), fp(3L)) < ham(fp(1L), fp(4L)))
  }

  test("simhash: 10K-row identical-text corpus completes without quadratic " +
    "candidate generation (pairs emitted = C(n,2), all hamming 0)") {
    // Every row shares one fingerprint: the banded join sees ONE distinct
    // fp (1 row/block), so candidate generation is constant; only the
    // OUTPUT (the C(n,2) pair set itself) is quadratic. The pre-round-5
    // form generated numBlocks × C(n,2) candidate rows then distinct'd.
    val n = 10000
    val dupes = spark.range(n)
      .select(col("id").as("doc_id"), lit("the same text every time").as("text"))
    val got = Dedup.simHashNearDups(dupes, "doc_id", "text", maxHamming = 3)
    assert(got.filter(col("hamming") =!= 0).count() === 0L)
    assert(got.count() === n.toLong * (n - 1) / 2)
  }

  test("simhash maxBucketSize: no-op below cap; tiny cap yields a subset") {
    def pairs(cap: Int) = Dedup.simHashNearDups(docs, "doc_id", "text",
      maxHamming = 8, maxBucketSize = cap)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val uncapped = pairs(0)
    // distinct-fp buckets in this corpus are far below 64 → identical output
    assert(pairs(64) === uncapped)
    // a severe cap can only LOSE pairs (and never identical-fp ones, which
    // bypass the banded join entirely)
    val capped = pairs(1)
    assert(capped.subsetOf(uncapped))
    val identical = Dedup.simHashNearDups(docs, "doc_id", "text",
      maxHamming = 8).filter(col("hamming") === 0)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(identical.subsetOf(capped))
  }

  test("native MinHashSignature matches the HOF pmod math on RAW xxhash64 " +
    "inputs (negative values, not pre-reduced mod p)") {
    // The SQL surface accepts any array<bigint>; callers passing raw
    // xxhash64 values get negative wrapped products — the kernel
    // normalizes Java % to pmod so lanes stay in [0, p) for ALL inputs.
    // (The HOF form can't be the reference here: under ANSI mode its
    // `h * a` multiply overflow-errors on raw inputs — one more reason the
    // native kernel owns this path.) Reference = driver-side Scala with the
    // same 64-bit wrapping.
    val P = 2147483647L
    val params = Dedup.minHashParamsFor(32, 42)
    val raw = docs.limit(50).select(col("doc_id"),
      transform(Dedup.tokens(col("text")), t => xxhash64(t)).as("hs"))
    val rawRows = raw.as[(Long, Seq[Long])].collect()
    assert(rawRows.exists(_._2.exists(_ < 0)), "corpus has no raw negatives")
    val expected = rawRows.map { case (id, hs) =>
      id -> params.map { case (a, b) =>
        hs.foldLeft(Long.MaxValue) { (mn, h) =>
          var m = (a * h + b) % P // Long wrap, then Java %
          if (m < 0) m += P
          math.min(mn, m)
        }
      }
    }.toMap
    val got = raw
      .select(col("doc_id"),
        Dedup.minHashSignatureNative(col("hs"), 32, 42).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    rawRows.foreach { case (id, _) =>
      assert(got(id) === expected(id), s"doc $id")
      assert(got(id).forall(v => v >= 0 && v < P), s"doc $id lane out of range")
    }
  }

  test("connected components: chains, separate clusters, min-id labels") {
    // chain 10-11-12-13-14 (diameter 4 → several propagation rounds),
    // triangle 1-2-3, pair 5-6
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (5L, 6L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L)).toDF("id1", "id2")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L)
    // default dispatch (driver union-find fast path at this size)
    val got = Dedup.connectedComponents(edges, "id1", "id2")
      .as[(Long, Long)].collect().toMap
    assert(got === want)
    // maxDriverEdges = 0 forces the distributed min-label loop
    val gotLoop = Dedup.connectedComponents(edges, "id1", "id2",
      maxDriverEdges = 0).as[(Long, Long)].collect().toMap
    assert(gotLoop === want)
  }

  test("alternating (large-star/small-star) CC equals min-label CC") {
    // same goldens as the min-label test…
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (5L, 6L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L)).toDF("id1", "id2")
    val golden = Dedup.connectedComponentsAlternating(edges, "id1", "id2")
      .as[(Long, Long)].collect().toMap
    assert(golden === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L))
    // …and differential vs min-label on deterministic pseudo-random graphs
    // of different shapes: sparse (forest-ish), denser (few components),
    // plus a long path (diameter stress) and a star (hub stress).
    val shapes = Seq(
      (1 to 300).map(i => (((i * 131) % 97).toLong, ((i * 257) % 97 + 97).toLong)),
      (1 to 600).map(i => (((i * 37) % 50).toLong, ((i * 113) % 50).toLong)),
      (0 until 64).map(i => (i.toLong, (i + 1).toLong)),
      (1 to 200).map(i => (0L, i.toLong)))
    for ((pairs, idx) <- shapes.zipWithIndex) {
      val g = pairs.filter(p => p._1 != p._2).toDF("id1", "id2")
      val a = Dedup.connectedComponentsAlternating(g, "id1", "id2")
        .as[(Long, Long)].collect().toMap
      // maxDriverEdges = 0 pins the DISTRIBUTED min-label loop...
      val b = Dedup.connectedComponents(g, "id1", "id2", maxIter = 40,
        maxDriverEdges = 0).as[(Long, Long)].collect().toMap
      assert(a === b, s"shape $idx diverged (loop)")
      // ...and the default dispatch pins the driver union-find fast path
      val c = Dedup.connectedComponents(g, "id1", "id2", maxIter = 40)
        .as[(Long, Long)].collect().toMap
      assert(a === c, s"shape $idx diverged (driver fast path)")
      // ...and tiny bounds route through the r19 CONTRACTION tier:
      // bound 4 → first probe overflows on every shape, quotient usually
      // fits (contract+driver); bound 1 → quotient overflows too on the
      // path/star shapes (contract+loop). Both must reproduce the loop's
      // labels exactly.
      for (bound <- Seq(4, 1)) {
        val d = Dedup.connectedComponents(g, "id1", "id2", maxIter = 40,
          maxDriverEdges = bound).as[(Long, Long)].collect().toMap
        assert(a === d, s"shape $idx diverged (contraction, bound=$bound)")
      }
    }
  }

  test("connected components contraction tier: fully-collapsing cliques " +
    "(empty quotient) and a bridged two-clique straddle") {
    // two 6-cliques bridged by one edge: L0 collapses each clique to its
    // min; the bridge (5,10) keeps a nonempty quotient whose DSU must
    // merge them — and clique-2's min (10) re-hangs under 5 via L0, the
    // case where the quotient min is NOT the cluster's own L0 value
    val k1 = for (i <- 0 to 5; j <- (i + 1) to 5) yield (i.toLong, j.toLong)
    val k2 = for (i <- 10 to 15; j <- (i + 1) to 15)
      yield (i.toLong, j.toLong)
    val g = (k1 ++ k2 :+ (5L, 10L)).toDF("id1", "id2")
    val want = ((0 to 5) ++ (10 to 15)).map(_.toLong -> 0L).toMap
    // bound 6: 31 edges double to 62 > 13 → contract; quotient is 1-2
    // edges → driver DSU
    val got = Dedup.connectedComponents(g, "id1", "id2",
      maxDriverEdges = 6).as[(Long, Long)].collect().toMap
    assert(got === want)
    // a single clique contracts to an EMPTY quotient — every label is l0
    val gc = Dedup.connectedComponents(k1.toDF("id1", "id2"), "id1", "id2",
      maxDriverEdges = 3).as[(Long, Long)].collect().toMap
    assert(gc === (0 to 5).map(_.toLong -> 0L).toMap)
  }

  test("minhash cap-recall self-check query reports recall above the floor") {
    val row = SparkEntry.queries("d_minhash_cap_recall")(
      spark, "/root/testdata/sf0.001").head()
    assert(row.getAs[Long]("n_uncapped") > 0L)
    assert(row.getAs[Double]("recall") >= 0.9)
  }

  test("simhash128 cap-recall self-check query reports recall above the floor") {
    // the >10^6-doc decision rule (DEDUP_RECALL.md): cap=1024 must keep
    // essentially the whole lossless pair set (0.999994 measured at sf1;
    // at the tiny spec corpus the cap shouldn't bind at all)
    val row = SparkEntry.queries("d_simhash128_cap_recall")(
      spark, "/root/testdata/sf0.001").head()
    assert(row.getAs[Long]("n_lossless") > 0L)
    assert(row.getAs[Double]("recall") >= 0.99)
  }

  test("token stats golden") {
    val df = Seq("Hello world, hello Spark!").toDF("t")
    val row = TextAnalysis.documentStats(
      df.withColumn("id", lit(1L)), "id", "t", Seq("hello")).head()
    assert(row.getAs[Int]("n_tokens") === 4)
    // tokens: [hello, world,, hello, spark!] — bare "hello" matches twice
    assert(row.getAs[Double]("stopword_ratio") === 0.5)
  }

  test("bm25 golden: Okapi scores against the closed-form formula") {
    val df = Seq((1L, "data data query"), (2L, "join the data"),
      (3L, "nothing here")).toDF("id", "t")
    val got = TextAnalysis.bm25(df, "id", "t", Seq("data", "query", "join"))
      .as[(Long, Double)].collect().toMap
    // N=3, avgdl=8/3; df(data)=2, df(query)=df(join)=1; k1=1.2, b=0.75
    val avgdl = 8.0 / 3
    def idf(dfT: Double) = math.log(1 + (3 - dfT + 0.5) / (dfT + 0.5))
    def w(tf: Double, dl: Double, dfT: Double) =
      idf(dfT) * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) === r6(w(2, 3, 2) + w(1, 3, 1)))
    assert(got(2L) === r6(w(1, 3, 2) + w(1, 3, 1)))
    assert(got(3L) === 0.0) // no query term — zero kept for corpus ranking
  }

  test("containment golden: directed, catches subset dup Jaccard misses") {
    val df = Seq((1L, "a b c"), (2L, "a b c d e f")).toDF("id", "t")
    val got = Dedup.tokenContainmentPairs(df, "id", "t", 0.6)
      .as[(Long, Long, Double)].collect().toSet
    // c(1→2) = 3/3 = 1.0 kept; c(2→1) = 3/6 = 0.5 dropped at 0.6 —
    // and Jaccard (3/6 = 0.5) would have missed the pair entirely
    assert(got === Set((1L, 2L, 1.0)))
    assert(Dedup.tokenJaccardPairs(df, "id", "t", 0.6).count() === 0L)
  }

  test("int8 quantization recall self-check: high recall, bounded error") {
    val row = SparkEntry.queries("r13_int8_recall")(
      spark, "/root/testdata/sf0.001").head()
    assert(row.getAs[Long]("n_exact") > 0L)
    assert(row.getAs[Double]("recall") >= 0.9)
    assert(row.getAs[Double]("mean_abs_err") < 0.01)
  }

  test("posting cap: no-op above max posting; hot token bounded below it") {
    // 20 docs all share "common"; pairs (1,2) and (3,4) also share a rare token
    val docs = (1L to 20L).map { i =>
      val rare = i match {
        case 1 | 2 => "rareA rareA2 rareA3"
        case 3 | 4 => "rareB rareB2 rareB3"
        case _     => s"only$i x$i y$i"
      }
      (i, s"common $rare")
    }.toDF("id", "t")
    val uncapped = Dedup.tokenJaccardPairs(docs, "id", "t", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // cap above every posting size (common appears in 20 docs) → identical
    val bigCap = Dedup.tokenJaccardPairs(docs, "id", "t", 0.5,
      maxPostingSize = 100).as[(Long, Long, Double)].collect().toSet
    assert(bigCap === uncapped)
    // cap at 4: "common" (posting 20) drops from the token sets — planted
    // pairs survive on their rare tokens with jaccard 3/3 = 1.0
    val capped = Dedup.tokenJaccardPairs(docs, "id", "t", 0.5,
      maxPostingSize = 4).as[(Long, Long, Double)].collect().toSet
    assert(capped === Set((1L, 2L, 1.0), (3L, 4L, 1.0)))
    // the scale point: docs sharing ONLY the hot token generate no
    // candidates at all under the cap (C(20,2) rows without it)
    val onlyHot = (1L to 20L).map(i => (i, "common")).toDF("id", "t")
    assert(Dedup.tokenJaccardPairs(onlyHot, "id", "t", 0.0,
      maxPostingSize = 4).count() === 0L)
  }

  test("bigram logprob golden: conditional counts over bigram starts") {
    // corpus: "a b a b" and "a c" — bigrams: (a b)x2, (b a)x1, (a c)x1
    // c(a·)=3, c(b·)=1; doc1 = avg(ln(2/3), ln(1/1), ln(2/3)); doc2 = ln(1/3)
    val df = Seq((1L, "a b a b"), (2L, "a c"), (3L, "solo")).toDF("id", "t")
    val got = TextAnalysis.bigramLogProb(df, "id", "t")
      .as[(Long, Double, Long)].collect().sortBy(_._1).toSeq
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d1 = r6((2 * math.log(2.0 / 3) + math.log(1.0)) / 3)
    val d2 = r6(math.log(1.0 / 3))
    assert(got === Seq((1L, d1, 3L), (2L, d2, 1L), (3L, 0.0, 0L)))
  }

  test("redact golden: URL, email, digit runs replaced in fixed order") {
    val df = Seq((1L, "see https://x.io/a?b=1 or mail bob@x.io room 42")).toDF("id", "t")
    val got = TextAnalysis.redact(df, "id", "t").head()
    val expected = "see <URL> or mail <EMAIL> room <NUM>"
    assert(got.getAs[Long]("redacted_len") === expected.length.toLong)
    assert(got.getAs[String]("redacted_md5") ===
      java.security.MessageDigest.getInstance("MD5")
        .digest(expected.getBytes("UTF-8")).map("%02x".format(_)).mkString)
  }

  test("packSequences golden: docs chunk into bins where they start") {
    // token counts: 2,3,2,4 — starts 0,2,5,7 — bins at L=5: 0,0,1,1
    val df = Seq((1L, "a b"), (2L, "c d e"), (3L, "f g"), (4L, "h i j k"))
      .toDF("doc_id", "text")
    // r16: empty groupCols is a loud error (single-partition window);
    // deliberate single-group packing passes an explicit constant column
    intercept[IllegalArgumentException] {
      TextAnalysis.packSequences(df, "doc_id", "text", 5)
    }
    val got = TextAnalysis.packSequences(df.withColumn("g", lit("all")),
        "doc_id", "text", 5, groupCols = Seq("g"))
      .select("bin", "n_docs", "total_tokens", "first_doc", "last_doc")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq((0L, 2L, 5L, 1L, 2L), (1L, 2L, 6L, 3L, 4L)))
  }

  test("fingerprint: deterministic and content-sensitive") {
    val df = Seq((1L, "abc"), (2L, "abc"), (3L, "abd")).toDF("id", "t")
    val fps = df.select(col("id"), TextAnalysis.fingerprint(col("t")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fps(1L) === fps(2L))
    assert(fps(1L) !== fps(3L))
    // golden: ((7*31+97)%p *31+98)%p *31+99 % p
    val expected = ((((7L * 31 + 97) * 31) + 98) * 31 + 99) % 2147483647L
    assert(fps(1L) === expected)
  }

  test("langId picks the profile with most marker hits, alpha tiebreak") {
    val profiles = Seq(
      "en" -> Seq("hello", "world"),
      "fr" -> Seq("bonjour", "monde"))
    val df = Seq("bonjour le monde", "hello big world", "nothing matches")
      .toDF("t")
    val got = df.select(
      TextAnalysis.langIdByProfiles(col("t"), profiles)).as[String]
      .collect().toSeq
    assert(got === Seq("fr", "en", "en")) // tie (0,0) → alphabetically first
  }

  test("token entropy golden: counts, ln-form entropy, ttr") {
    val df = Seq((1L, "a a b"), (2L, "x x x x")).toDF("doc_id", "text")
    val got = TextAnalysis.tokenEntropy(df, "doc_id", "text")
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val (_, n1, t1, e1, ttr1) = got(1L)
    assert(n1 === 3L && t1 === 2L)
    // ln(3) − (2·ln2 + 1·ln1)/3
    assert(math.abs(e1 - (math.log(3) - 2 * math.log(2) / 3)) < 1e-6)
    assert(math.abs(ttr1 - 2.0 / 3) < 1e-6)
    val (_, n2, t2, e2, ttr2) = got(2L)
    assert(n2 === 4L && t2 === 1L && e2 === 0.0 && ttr2 === 0.25)
  }

  test("KL drift: group identical to corpus mix scores lower than a skewed one") {
    // two groups over the same 2-word vocab: g1 is large and balanced so
    // the corpus mix ≈ g1's own distribution; g2 is small and all-one-word
    // — KL(g2) must exceed KL(g1) ≥ 0.
    val df = Seq(
      ("g1", "a b a b a b a b a b"),
      ("g2", "a a a a")).toDF("src", "text")
    val kl = TextAnalysis.klDrift(df, "src", "text")
      .select("src", "kl").as[(String, Double)].collect().toMap
    assert(kl("g1") >= 0.0 && kl("g2") > kl("g1"))
  }

  test("KL drift capped: cap >= vocab reproduces the open form exactly; " +
      "a tight cap keeps the head-term drift ordering") {
    val df = Seq(
      ("g1", "a b a b a b a b a b"),
      ("g2", "a a a a")).toDF("src", "text")
    val open = TextAnalysis.klDrift(df, "src", "text")
      .select("src", "kl").as[(String, Double)].collect().toMap
    // vocab here is {a, b}: any cap >= 2 is the SAME event space, so the
    // capped form must agree to the rounded digit
    val wide = TextAnalysis.klDriftCapped(df, "src", "text", vocabCap = 100)
      .select("src", "kl").as[(String, Double)].collect().toMap
    assert(wide === open)
    // cap = 1 keeps only the most frequent term ("a", 14 occurrences);
    // the skewed group must still dominate and both stay >= 0
    val tight = TextAnalysis.klDriftCapped(df, "src", "text", vocabCap = 1)
      .select("src", "kl").as[(String, Double)].collect().toMap
    assert(tight("g1") >= 0.0 && tight("g2") >= tight("g1"))
  }

  test("decontamination report: planted shared n-gram flagged, clean doc not") {
    val train = Seq((10L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val test_ = Seq(
      (1L, "zzz alpha beta gamma qqq"), // shares trigram "alpha beta gamma"
      (2L, "totally disjoint words here")).toDF("doc_id", "text")
    val got = TextAnalysis.decontaminationReport(test_, train, "doc_id",
      "text", n = 3)
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._4 === true && got(1L)._3 === 1L)
    assert(got(2L)._4 === false && got(2L)._3 === 0L)
    assert(got(1L)._2 === 3L) // 5 tokens → 3 distinct trigrams
  }

  test("edit-similarity on an identical-text flood: posting cap bounds the quadratic") {
    // 3000 identical docs → every token corpus-hot → C(3000,2) ≈ 4.5M
    // candidates uncapped. With the cap, hot tokens drop from the index
    // and the job completes without the quadratic; identical-text floods
    // are exactDedup's job (linear), which still catches them all.
    val many = (1L to 3000L)
      .map(i => (i, "the same exact text repeated in every document"))
      .toDF("doc_id", "text")
    val capped = Dedup.editSimilarityPairs(many, "doc_id", "text",
      minSim = 0.9, candidateThreshold = 0.5, maxPostingSize = 64)
    assert(capped.count() === 0) // all tokens hot → no candidate index
    assert(Dedup.exactDedup(many, "doc_id", "text").count() === 1)
  }

  test("edit-similarity near-dups: one-char variant found, reordering scored low") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dot"), // 1 edit
      (3L, "dog lazy the over jumps fox brown quick the"), // same tokens reordered
      (4L, "entirely different content"))
      .toDF("doc_id", "text")
    val pairs = Dedup.editSimilarityPairs(df, "doc_id", "text",
      minSim = 0.9, candidateThreshold = 0.5)
      .select("id1", "id2", "edit_sim")
      .as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((1L, 2L)))
    val sim = pairs.head._3
    val expected = 1.0 - 1.0 / "the quick brown fox jumps over the lazy dog".length
    assert(math.abs(sim - expected) < 1e-6)
  }

  test("editSimilarityPairs: differential vs an all-pairs reference " +
    "(candidate jaccard then exact lev) on fuzz corpora — the carried-" +
    "text rewrite must keep the pair set and values bit-identical") {
    val rng = new scala.util.Random(7157L)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    def levRef(a: String, b: String): Int = {
      val x = a.codePoints.toArray
      val y = b.codePoints.toArray
      val d = Array.tabulate(x.length + 1, y.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to x.length; j <- 1 to y.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
      d(x.length)(y.length)
    }
    def round6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val minSim = 0.5
    val candT = 0.4
    for (_ <- 1 to 3) {
      val base = (1 to 25).map(_ => (1 to (2 + rng.nextInt(6)))
        .map(_ => vocab(rng.nextInt(vocab.size))).mkString(" "))
      val texts = base ++
        base.take(10).map(_.replaceFirst("a", "o")) ++ // 1-char variants
        base.slice(10, 15).map(_ + " extra")           // appended-token dups
      val docs = texts.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }
      val got = Dedup.editSimilarityPairs(docs.toDF("doc_id", "text"),
          "doc_id", "text", minSim, candT)
        .select(col("id1"), col("id2"), col("lev"), col("edit_sim"))
        .as[(Long, Long, Long, Double)].collect().toSet
      val expected = (for {
        (i, ti) <- docs
        (j, tj) <- docs if i < j
        si = ti.split(" ").toSet
        sj = tj.split(" ").toSet
        common = (si intersect sj).size
        if common.toDouble / (si.size + sj.size - common) >= candT
        d = levRef(ti, tj)
        mx = math.max(ti.length, tj.length)
        sim = if (mx == 0) 1.0 else round6(1.0 - d.toDouble / mx)
        if sim >= minSim
      } yield (i, j, d.toLong, sim)).toSet
      assert(got === expected)
      assert(expected.nonEmpty) // the planted variants must actually hit
    }
  }

  test("MyersLevenshtein: fuzz differential vs Spark's banded Levenshtein " +
    "(value + bounded -1 contract, code-point semantics)") {
    import graft.functions.expr.MyersKernel
    val rng = new scala.util.Random(4242L)
    // alphabets chosen to exercise: dense matches (small), sparse,
    // multi-byte (accents), astral-plane code points (surrogate pairs),
    // and >64-char patterns (multi-block carry chain)
    val alphabets = Seq("ab", "abcde", "aéß日", "a😀b",
      "abcdefghijklmnop")
    def randStr(maxCp: Int, alpha: String): String = {
      val cps = alpha.codePoints().toArray
      val n = rng.nextInt(maxCp + 1)
      val sb = new java.lang.StringBuilder
      (1 to n).foreach(_ => sb.appendCodePoint(cps(rng.nextInt(cps.length))))
      sb.toString
    }
    def sparkLev(a: String, b: String): Int =
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .levenshteinDistance(
          org.apache.spark.unsafe.types.UTF8String.fromString(b))
    var trials = 0
    for (alpha <- alphabets; maxLen <- Seq(8, 70, 200); _ <- 1 to 40) {
      val a = randStr(maxLen, alpha)
      val b = randStr(maxLen, alpha)
      val expect = sparkLev(a, b)
      assert(MyersKernel.distance(a, b) === expect, s"'$a' vs '$b'")
      // bounded contract: value when <= bound, -1 beyond
      val ua = org.apache.spark.unsafe.types.UTF8String.fromString(a)
      val ub = org.apache.spark.unsafe.types.UTF8String.fromString(b)
      assert(MyersKernel.bounded(ua, ub, expect) === expect)
      if (expect > 0)
        assert(MyersKernel.bounded(ua, ub, expect - 1) === -1)
      trials += 1
    }
    assert(trials === 600)
    // edges: empty / equal / fully disjoint
    assert(MyersKernel.distance("", "") === 0)
    assert(MyersKernel.distance("", "abc") === 3)
    assert(MyersKernel.distance("same", "same") === 0)
    assert(MyersKernel.distance("aaaa", "bbbb") === 4)
    // past the ASCII fast-path cap (nb > 128 ⇒ pattern > 8192 chars): the
    // map fallback must return the same distance (ADVICE r15 cap)
    val hugeA = "ab" * 5000
    val hugeB = "ab" * 4999 + "ba"
    assert(MyersKernel.distance(hugeA, hugeB) === 2)
    assert(MyersKernel.distance(hugeA, hugeA) === 0)
    // SQL surface via GraftExtensions.register
    GraftExtensions.register(spark)
    val sqlGot = spark.sql(
      "SELECT myers_levenshtein('kitten', 'sitting', 10) AS d, " +
        "myers_levenshtein('kitten', 'sitting', 2) AS capped")
      .as[(Int, Int)].head()
    assert(sqlGot === ((3, -1)))
    // wrong arity is a clean builder error, not IndexOutOfBounds
    val arityErr = intercept[Exception] {
      spark.sql("SELECT myers_levenshtein('a', 'b')").collect()
    }
    assert(arityErr.getMessage.contains("exactly 3"),
      s"got: ${arityErr.getMessage}")
    // the early-exit path (score floor > bound abandons mid-column) must
    // preserve the bounded contract on long strings with a tiny bound
    val longA = "x" * 500 + "tail"
    val longB = "y" * 500 + "tail"
    assert(MyersKernel.bounded(
      org.apache.spark.unsafe.types.UTF8String.fromString(longA),
      org.apache.spark.unsafe.types.UTF8String.fromString(longB), 3) === -1)
    assert(MyersKernel.bounded(
      org.apache.spark.unsafe.types.UTF8String.fromString(longA),
      org.apache.spark.unsafe.types.UTF8String.fromString(longA), 0) === 0)
  }

  test("span dup stats: shared 8-token span counted, within-doc repeat not") {
    val span = "one two three four five six seven eight"
    val df = Seq(
      // docs 1 and 2 share the 8-token span embedded in different contexts
      (1L, s"alpha beta $span gamma"),
      (2L, s"$span delta epsilon"),
      // doc 3: the same span TWICE — its spans repeat within-doc only,
      // which must not count as duplication by itself (distinct-per-doc),
      // but its copies of the shared span DO match docs 1/2
      (3L, "totally unrelated words here about nothing in particular okay"),
      (4L, "short doc") // < 8 tokens: whole text is the single span
    ).toDF("doc_id", "text")
    val st = TextAnalysis.spanDupStats(df, "doc_id", "text", n = 8)
      .select("doc_id", "n_spans", "n_dup_spans")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // doc 1: tokens = 11 -> 4 spans, exactly one of them is the planted span
    assert(st(0) === ((1L, 4L, 1L)))
    // doc 2: 10 tokens -> 3 spans, one shared
    assert(st(1) === ((2L, 3L, 1L)))
    // docs 3 and 4: no span occurs in any other doc
    assert(st(2)._3 === 0L && st(3)._3 === 0L)
    assert(st(3)._2 === 1L) // short doc: single whole-text span
  }

  test("span dup stats: within-doc repetition alone is not duplication") {
    val s8 = "w1 w2 w3 w4 w5 w6 w7 w8"
    val df = Seq(
      (1L, s"$s8 filler $s8"), // same span twice in ONE doc
      (2L, "nothing shared with the first document at all truly")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.spanDupStats(df, "doc_id", "text", n = 8)
      .filter(col("doc_id") === 1L)
      .select("n_dup_spans").as[Long].head()
    assert(r === 0L)
  }

  test("chunkDocs: boundaries, overlap, count, and short-doc single chunk") {
    val mk = (n: Int) => (1 to n).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, mk(80)), (2L, mk(32)), (3L, mk(5)), (4L, ""))
      .toDF("doc_id", "text")
    val ch = TextAnalysis.chunkDocs(df, "doc_id", "text", size = 32, stride = 24)
      .select("doc_id", "chunk_idx", "start_token", "n_tokens")
      .as[(Long, Long, Long, Long)].collect()
    val byDoc = ch.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // 80 tokens: ceil((80-32)/24)=2 -> chunks at 0,24,48; last has 32 tokens
    assert(byDoc(1L).map(c => (c._2, c._3, c._4)).toSeq ===
      Seq((0L, 0L, 32L), (1L, 24L, 32L), (2L, 48L, 32L)))
    // exactly size tokens: one chunk
    assert(byDoc(2L).map(c => (c._3, c._4)).toSeq === Seq((0L, 32L)))
    // short doc: one truncated chunk
    assert(byDoc(3L).map(c => (c._3, c._4)).toSeq === Seq((0L, 5L)))
    // empty doc: still one (degenerate) chunk — stable manifest row
    assert(byDoc(4L).length === 1)
    // consecutive chunks overlap by size - stride = 8 tokens
    val full = TextAnalysis.chunkDocs(df.filter(col("doc_id") === 1L),
      "doc_id", "text", size = 32, stride = 24)
    assert(full.count() === 3L)
  }

  test("prefix-filtered jaccard equals the full posting join (lossless AllPairs prefix)") {
    // Corpus with a corpus-hot token ("hot" in every doc — the candidate
    // quadratic the prefix filter exists to kill), near-dup pairs, docs
    // shorter than the prefix bound, and an exact duplicate.
    val df = Seq(
      (1L, "hot alpha beta gamma delta epsilon"),
      (2L, "hot alpha beta gamma delta zeta"),      // near-dup of 1
      (3L, "hot mu nu xi omicron pi rho"),
      (4L, "hot mu nu xi omicron pi rho"),          // exact dup of 3
      (5L, "hot unrelated words entirely here now"),
      (6L, "hot two"),                              // tiny doc
      (7L, "hot two")                               // tiny dup
    ).toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.7, 0.9)) {
      // cap far above every posting size => the capped branch IS the full
      // posting join; the default branch is the prefix-filtered form
      val full = Dedup.tokenJaccardPairs(df, "doc_id", "text", t,
        maxPostingSize = 1000)
        .select("id1", "id2", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      val pref = Dedup.tokenJaccardPairs(df, "doc_id", "text", t)
        .select("id1", "id2", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      assert(pref === full, s"threshold $t")
    }
    // bucketed form agrees too
    val bdf = df.withColumn("b", col("doc_id") % 2)
    val fullB = Dedup.tokenJaccardPairs(bdf, "doc_id", "text", 0.5,
      bucketCols = Seq("b"), maxPostingSize = 1000)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val prefB = Dedup.tokenJaccardPairs(bdf, "doc_id", "text", 0.5,
      bucketCols = Seq("b"))
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(prefB === fullB)
  }

  test("prefixJoinStats: counts are consistent with the join it observes") {
    val df = Seq(
      (1L, "hot alpha beta gamma delta epsilon"),
      (2L, "hot alpha beta gamma delta zeta"),
      (3L, "hot mu nu xi omicron pi rho"),
      (4L, "hot mu nu xi omicron pi rho"),
      (5L, "hot unrelated words entirely here now")
    ).toDF("doc_id", "text")
    val r = Dedup.prefixJoinStats(df, "doc_id", "text", 0.7).head()
    val nDocs = r.getLong(0)
    val prefixRows = r.getLong(1)
    val candidates = r.getLong(2)
    val outputs = r.getLong(3)
    assert(nDocs === 5L)
    // prefix postings are a strict subset of total postings (6 tokens/doc)
    assert(prefixRows > 0 && prefixRows < 30L)
    // lossless filter: candidates are a superset of the true pair set
    val truePairs = Dedup.tokenJaccardPairs(df, "doc_id", "text", 0.7).count()
    assert(outputs === truePairs)
    assert(candidates >= outputs)
    assert(r.getDouble(4) === (candidates.toDouble / math.max(outputs, 1L)
      * 100).round / 100.0)
  }

  test("prefix-join id-uniqueness contract: duplicate ids fail loudly under the guard") {
    // TestSpark sets spark.graft.dedupIdGuard=true: an id repeated across
    // bucket rows (the case the r11 window widening half-guarded) must be
    // an assertion error, not silently-dropped pairs / fanned-out verify
    // rows.
    val dup = Seq(
      (1L, "alpha beta gamma delta", "en"),
      (1L, "alpha beta gamma epsilon", "de"), // same id, different bucket
      (2L, "alpha beta gamma delta", "en")
    ).toDF("doc_id", "text", "lang")
    val eJ = intercept[IllegalArgumentException] {
      Dedup.tokenJaccardPairs(dup, "doc_id", "text", 0.5,
        bucketCols = Seq("lang")).collect()
    }
    assert(eJ.getMessage.contains("must be unique"))
    val eC = intercept[IllegalArgumentException] {
      Dedup.tokenContainmentPairs(dup, "doc_id", "text", 0.5,
        bucketCols = Seq("lang")).collect()
    }
    assert(eC.getMessage.contains("must be unique"))
    // unique ids (with buckets) pass the guard and still produce output
    val ok = Seq(
      (1L, "alpha beta gamma delta", "en"),
      (2L, "alpha beta gamma delta", "en")
    ).toDF("doc_id", "text", "lang")
    assert(Dedup.tokenJaccardPairs(ok, "doc_id", "text", 0.5,
      bucketCols = Seq("lang")).count() === 1L)
  }

  test("prefix-filtered containment equals the full posting join (asymmetric prefix)") {
    // Exercises the direction the Jaccard theorem does NOT cover: a small
    // doc contained in a much larger one (common ≥ t·|small| but far
    // below t·|large|), plus a hot token and tiny/equal-size pairs.
    val df = Seq(
      (1L, "hot alpha beta gamma"),
      (2L, "hot alpha beta gamma delta epsilon zeta eta theta iota " +
        "kappa lambda mu nu xi omicron"),       // contains 1's set
      (3L, "hot mu nu xi"),
      (4L, "hot mu nu xi"),                      // equal-size exact dup of 3
      (5L, "hot unrelated things written here"),
      (6L, "hot solo")
    ).toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.75, 0.9)) {
      val full = Dedup.tokenContainmentPairs(df, "doc_id", "text", t,
        maxPostingSize = 1000)
        .select("id1", "id2", "containment")
        .as[(Long, Long, Double)].collect().toSet
      val pref = Dedup.tokenContainmentPairs(df, "doc_id", "text", t)
        .select("id1", "id2", "containment")
        .as[(Long, Long, Double)].collect().toSet
      assert(pref === full, s"threshold $t")
    }
    // the subset-dup direction is actually present at t=0.9
    val pairs = Dedup.tokenContainmentPairs(df, "doc_id", "text", 0.9)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // 1's tokens ⊂ 2's tokens
  }

  test("text feature matrix: golden row and language tiebreak in one pass") {
    val profiles = Seq("aa" -> Seq("join"), "bb" -> Seq("join"))
    val df = Seq((1L, "the JOIN join 42 ok http://x.io a@b.co")).toDF("doc_id", "text")
    val r = TextAnalysis.textFeatureMatrix(df, "doc_id", "text",
      Seq("the"), profiles).head()
    assert(r.getAs[Int]("n_tokens") === 7)
    // tokens: the, join, join, 42, ok, http://x.io, a@b.co -> 6 distinct
    assert(r.getAs[Int]("n_distinct_tokens") === 6)
    // entropy: ln(7) - (2 ln 2)/7 (only "join" repeats)
    val want = math.log(7.0) - 2.0 * math.log(2.0) / 7.0
    assert(math.abs(r.getAs[Double]("entropy") - want) < 1e-6)
    assert(r.getAs[Double]("stopword_ratio") === 1.0 / 7.0)
    // equal marker scores -> alphabetically-first profile wins
    assert(r.getAs[String]("lang_pred") === "aa")
    assert(r.getAs[Int]("n_urls") === 1 && r.getAs[Int]("n_emails") === 1)
  }

  test("semantic dedup resolve: transitive group collapses to min id; buckets block") {
    import graft.ops.Similarity
    val v = (x: Double, y: Double) => Array(x.toFloat, y.toFloat)
    val df = Seq(
      // bucket A: 1~2 and 2~3 (chain) -> one semantic group, keep 1
      (1L, "a", v(1.0, 0.0)),
      (2L, "a", v(0.999, 0.045)),
      (3L, "a", v(0.996, 0.09)),
      // bucket A: far from the group
      (4L, "a", v(0.0, 1.0)),
      // bucket B: identical to vec 1 but in another bucket -> NOT merged
      (5L, "b", v(1.0, 0.0)))
      .toDF("vec_id", "bucket", "vec")
    val kept = Similarity.semanticDedupResolve(df, "vec_id", "vec", "bucket",
      threshold = 0.995)
      .select("vec_id").as[Long].collect().toSet
    assert(kept === Set(1L, 4L, 5L))
  }

  test("decontamination: broadcast-prefilter plan equals the shuffled join " +
    "and never exchanges the train gram set") {
    // A corpus big enough that gram sets are non-trivial, with planted
    // overlap: even train docs share their text with test docs (id+1000).
    val train = (1L to 400L).map(i =>
      (i, s"token${i % 37} token${i % 11} token${i % 7} token${i % 5} " +
        s"token${i % 3} filler$i end${i % 13}")).toDF("doc_id", "text")
    val test_ = (1001L to 1100L).map { i =>
      val t = if (i <= 1050L) // overlapping half: shares train trigrams
        s"token${(i - 1000) % 37} token${(i - 1000) % 11} " +
          s"token${(i - 1000) % 7} token${(i - 1000) % 5} " +
          s"token${(i - 1000) % 3} probe$i tail${i % 13}"
      else // clean half: vocabulary disjoint from the train corpus
        s"clean$i only$i words$i nothing$i shared$i"
      (i, t)
    }.toDF("doc_id", "text")
    def toks(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), Dedup.tokens(col("text")).as("__toks"))
    val bcast = TextAnalysis.decontaminationReportFromTokens(
      toks(test_), toks(train), "doc_id", "__toks", n = 3,
      useBroadcast = true)
    val shuffled = TextAnalysis.decontaminationReportFromTokens(
      toks(test_), toks(train), "doc_id", "__toks", n = 3,
      useBroadcast = false)
    val a = bcast.orderBy("doc_id").collect().toSeq
    val b = shuffled.orderBy("doc_id").collect().toSeq
    assert(a === b)
    assert(a.exists(_.getBoolean(3)) && a.exists(!_.getBoolean(3)),
      "fixture must exercise both contaminated and clean docs")
    // The scale claim, asserted on the plan: in the broadcast form every
    // join is a broadcast join — the corpus-sized train gram set reaches
    // no shuffle exchange. (The only hash aggregations allowed to
    // exchange are the test-side ones; asserting zero SortMergeJoin /
    // ShuffledHashJoin pins the join layer.)
    val phys = bcast.queryExecution.sparkPlan
    val shuffledJoins = phys.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    // The final report join (test grams x hits, both test-sized) may
    // shuffle; the GRAM-keyed joins must not. Filter to string-typed keys:
    // gram joins key on StringType/LongType xxhash64, report join keys on
    // doc_id — assert no shuffled join carries the gram column.
    assert(!shuffledJoins.exists(_.output.exists(_.name == "gram")),
      s"train gram set reached a shuffled join:\n${phys.treeString}")
  }

  test("dedupPassages: cross-doc repeat dropped, first occurrence kept, " +
    "reassembly ordered, fully-duplicated doc emptied") {
    // 16-token passages. Doc 1: passages A B. Doc 2: passages B C (B is a
    // cross-doc repeat — dropped from doc 2). Doc 3: exactly doc 1's text
    // (both passages dropped -> empty clean_text). Doc 4: short unique doc.
    val A = (1 to 16).map(i => s"a$i").mkString(" ")
    val B = (1 to 16).map(i => s"b$i").mkString(" ")
    val C = (1 to 16).map(i => s"c$i").mkString(" ")
    val df = Seq(
      (1L, s"$A $B"), (2L, s"$B $C"), (3L, s"$A $B"), (4L, "tiny doc"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.dedupPassages(df, "doc_id", "text", size = 16)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 2L, 2L, s"$A $B"))) // first occurrence keeps all
    assert(got(2L) === ((2L, 2L, 1L, C)))        // B dropped, C kept, order held
    assert(got(3L) === ((3L, 2L, 0L, "")))       // fully duplicated -> empty
    assert(got(4L) === ((4L, 1L, 1L, "tiny doc")))
  }

  test("dedupPassages: within-doc repeat collapses to its first occurrence") {
    val P = (1 to 16).map(i => s"p$i").mkString(" ")
    val Q = (1 to 16).map(i => s"q$i").mkString(" ")
    val df = Seq((7L, s"$P $Q $P")).toDF("doc_id", "text")
    val got = TextAnalysis.dedupPassages(df, "doc_id", "text", size = 16)
      .as[(Long, Long, Long, String)].head()
    assert(got === ((7L, 3L, 2L, s"$P $Q")))
  }

  test("dedupSpans: arbitrary-offset removal — straddling runs that " +
    "passage dedup misses are removed; overlap/boundary coverage merges") {
    def toks(k: Int, from: Int = 0): String =
      (from until from + k).map(i => s"w$i").mkString(" ")
    // doc 1: 20 unique tokens; doc 2: its OWN 6-token prefix, then doc 1's
    // tokens 5..14 (a 10-token duplicated run starting at OFFSET 6 —
    // straddles any aligned block boundary), then 4 unique tokens.
    val dupRun = (5 until 15).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, toks(20)),
      (2L, toks(6, from = 100) + " " + dupRun + " " + toks(4, from = 200)),
      (3L, toks(5, from = 300)), // short (< n): never touched
      (4L, toks(5, from = 300)), // exact short dup: still untouched here
      (5L, toks(20))) // full duplicate of doc 1: emptied
      .toDF("doc_id", "text")
    val got = TextAnalysis.dedupSpans(df, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    // doc 1 is every span's first occurrence: untouched
    assert(got(1L) === ((1L, 20L, 0L, toks(20))))
    // doc 2: spans at starts 6..8 (inside the run) are dups of doc 1's
    // spans at 5..7 -> coverage = positions 6..15 (the whole 10-token
    // run), surrounding unique text survives byte-exact
    assert(got(2L) ===
      ((2L, 20L, 10L, toks(6, from = 100) + " " + toks(4, from = 200))))
    // short docs below the span granularity are never touched, even as
    // exact duplicates of each other (that is exactDedup's job)
    assert(got(3L) === ((3L, 5L, 0L, toks(5, from = 300))))
    assert(got(4L) === ((4L, 5L, 0L, toks(5, from = 300))))
    // full duplicate: every span a dup, all positions covered
    assert(got(5L) === ((5L, 20L, 20L, "")))
    // contrast pin: the 16-token-aligned passage form MISSES the
    // offset-6 straddling run (neither of doc 2's aligned passages
    // equals one of doc 1's)
    val passage = TextAnalysis.dedupPassages(df, "doc_id", "text", 16)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    // all of doc 2's aligned passages survive (n_kept == n_passages) —
    // i.e. the aligned form removes NOTHING from the straddling run
    assert(passage(2L)._3 === passage(2L)._2,
      "aligned passages keep the straddler")
  }

  test("dedupSpans: periodic self-overlap collapses by coverage; " +
    "boundary-adjacent dup runs merge") {
    // periodic: "a a a a a" at n=2 — span@0 is first, spans@1..3 dup ->
    // positions 1..4 covered, exactly "a" survives
    val df = Seq(
      (1L, Seq.fill(5)("a").mkString(" ")),
      // two dup runs ADJACENT in doc 3 (doc 2's run then doc 1-style run):
      // coverage merges across the seam with no boundary artifacts
      (2L, (0 until 8).map(i => s"x$i").mkString(" ")),
      (3L, (0 until 8).map(i => s"x$i").mkString(" ") + " " +
        Seq.fill(5)("a").mkString(" ")))
      .toDF("doc_id", "text")
    val got = TextAnalysis.dedupSpans(df, "doc_id", "text", n = 2)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 5L, 4L, "a")))
    assert(got(2L) === ((2L, 8L, 0L, (0 until 8).map(i => s"x$i")
      .mkString(" "))))
    // doc 3: every span is a dup of doc 1/2 content except... the seam
    // span "x7 a" is NOVEL (first occurrence) — but both its positions
    // are covered by neighboring dup spans, so the whole doc empties
    assert(got(3L) === ((3L, 13L, 13L, "")))
  }

  test("bpeMerges: greedy left-to-right, overlap not double-merged, " +
    "later steps compose on earlier merged tokens") {
    // "a b" is the most frequent pair (4 plus one overlap-shadowed);
    // after merging it, "a_b c" becomes the most frequent pair — the
    // second step MUST see the first step's merged token. "a a a"
    // exercises greedy non-overlap (one merge, not two).
    val df = Seq(
      (1L, "a b c a b c a b c"),
      (2L, "a b c a b"),
      (3L, "x a a a y")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(df, "text", iterations = 2)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(got === Seq((1L, "a", "b", 5L), (2L, "a\u0001b", "c", 4L)))
    // greedy overlap: [a,a,a] has TWO (a,a) positions but only one
    // non-overlapping merge site; counting sees both, merging takes one
    val aaa = Seq((1L, "a a a a a")).toDF("doc_id", "text")
    val m = TextAnalysis.bpeMerges(aaa, "text", iterations = 2)
      .as[(Long, String, String, Long)].collect().toSeq
    // 5 a's: count 4 adjacent pairs; merge -> [a⊕a, a⊕a, a] (⊕ = the
    // U+0001 joiner); step 2 sees (a⊕a, a⊕a) x1 and (a⊕a, a) x1 -> tie
    // on cnt, (a⊕a, a) wins lex (U+0001 sorts below every letter)
    assert(m === Seq((1L, "a", "a", 4L), (2L, "a\u0001a", "a", 1L)))
  }

  test("bpeEncode: applies the table in rank order; counts, joiner names, " +
    "and edge docs (empty / one word / no match) hold") {
    val merges = Seq(("a", "b"), ("a\u0001b", "c"))
    val df = Seq(
      (1L, "a b c a b x"), // both merges fire: [a⊕b⊕c, a⊕b, x]
      (2L, "b a"),         // pair present only in the wrong order: no-op
      (3L, "a"),           // single word: nothing to merge
      (4L, "  "),          // whitespace-only: zero tokens everywhere
      (5L, "A B C"))       // normalizeText lowercases before matching
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeEncode(df, "doc_id", "text", merges)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 6L, 3L, 2L, "a\u0001b\u0001c a\u0001b x")))
    assert(got(2L) === ((2L, 2L, 2L, 0L, "b a")))
    assert(got(3L) === ((3L, 1L, 1L, 0L, "a")))
    assert(got(4L) === ((4L, 0L, 0L, 0L, "")))
    assert(got(5L) === ((5L, 3L, 1L, 1L, "a\u0001b\u0001c")))
    // empty merge table: identity tokenization
    val id0 = TextAnalysis.bpeEncode(df, "doc_id", "text", Nil)
      .as[(Long, Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(id0(1L) === ((1L, 6L, 6L, 0L, "a b c a b x")))
    // n_words − n_bpe_tokens = total merge applications = total joiners
    got.values.foreach { case (_, nw, nb, _, txt) =>
      assert(nw - nb === txt.count(_ == '\u0001').toLong)
    }
    // operand validation is loud
    intercept[IllegalArgumentException] {
      TextAnalysis.bpeEncode(df, "doc_id", "text", Seq(("a b", "c")))
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.bpeEncode(df, "doc_id", "text", Seq(("", "c")))
    }
  }

  test("bpeLearnEncode: encoding the training corpus reproduces the " +
    "trainer's final state (learn->apply closes the loop)") {
    val df = Seq(
      (1L, "a b c a b c a b c"),
      (2L, "a b c a b"),
      (3L, "x a a a y")).toDF("doc_id", "text")
    // from the bpeMerges spec above: step1 = (a,b), step2 = (a⊕b, c)
    val got = TextAnalysis.bpeLearnEncode(df, "doc_id", "text", 2)
      .as[(Long, Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._5 === "a\u0001b\u0001c a\u0001b\u0001c a\u0001b\u0001c")
    assert(got(2L)._5 === "a\u0001b\u0001c a\u0001b")
    assert(got(3L)._5 === "x a a a y")
    assert(got(1L) === ((1L, 9L, 3L, 3L, got(1L)._5)))
  }

  test("bpeEncodeIndexed: differential vs the fold form on fuzz corpora " +
    "(learned AND top-k-pair tables, incl. cross-corpus application)") {
    val rng = new scala.util.Random(20260815L)
    val vocab = Seq("a", "b", "c", "d", "e", "ab", "cd")
    def corpus(n: Int): Seq[(Long, String)] = (1L to n.toLong).map { i =>
      val len = 1 + rng.nextInt(12)
      (i, Seq.fill(len)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    for (trial <- 1 to 4) {
      val train = corpus(40 + trial * 7).toDF("doc_id", "text")
      val apply = corpus(30).toDF("doc_id", "text")
      val learned = TextAnalysis.bpeMergesMaterialized(train, "text", 6)
        .orderBy($"step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val topk = TextAnalysis.topPairTable(train, "text", 16)
      for (table <- Seq(learned, topk); docs <- Seq(train, apply)) {
        assert(
          rows(TextAnalysis.bpeEncodeIndexed(docs, "doc_id", "text", table))
            === rows(TextAnalysis.bpeEncode(docs, "doc_id", "text", table)),
          s"trial=$trial tableSize=${table.size}")
      }
    }
  }

  test("bpeMergesMaterialized releases every checkpointed generation") {
    val sc = spark.sparkContext
    val docs = Seq("a b c d e f g h", "a b c d x y", "b c d e q r")
      .toDF("text")
    val before = sc.getPersistentRDDs.keySet
    val table = TextAnalysis.bpeMergesMaterialized(docs, "text", 5)
    assert(table.count() === 5)
    val pinned = sc.getPersistentRDDs.keySet -- before
    assert(pinned.isEmpty,
      s"merge generations still pinned after the call: ${pinned.toSeq.sorted}")
  }

  test("bpeEncodeIds: deterministic vocab ids (count desc, token asc -> " +
    "1..V), OOV -> 0, ArrayType(Int) schema, merged tokens get ids too") {
    val df = Seq(
      (1L, "b b b a a c"),
      (2L, "a b q"),
      (3L, " ")).toDF("doc_id", "text")
    // corpus counts: b=4, a=3, c=1, q=1 -> vocab 3 = b->1, a->2, c->3
    // (count desc, token asc puts c before q); q is OOV -> 0
    val got = TextAnalysis.bpeEncodeIds(df, "doc_id", "text", Nil, 3)
    got.schema("token_ids").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, _) => ()
      case other => fail(s"token_ids must be array<int>, got $other")
    }
    val m = got.as[(Long, Long, Long, Seq[Int])].collect()
      .map(r => r._1 -> r).toMap
    assert(m(1L) === ((1L, 6L, 0L, Seq(1, 1, 1, 2, 2, 3))))
    assert(m(2L) === ((2L, 3L, 1L, Seq(2, 1, 0))))
    assert(m(3L) === ((3L, 0L, 0L, Seq.empty[Int])))
    // merged tokens are first-class vocab entries: after (a,b) fires,
    // a⊕b (count 2) outranks c (count 1)
    val merged = TextAnalysis.bpeEncodeIds(
      Seq((1L, "a b a b c")).toDF("doc_id", "text"),
      "doc_id", "text", Seq(("a", "b")), 2)
      .as[(Long, Long, Long, Seq[Int])].collect().head
    assert(merged === ((1L, 3L, 0L, Seq(1, 1, 2))))
  }

  test("decodeTokenIds: decode∘encode equals the unkRewrite text — plain " +
    "and merged-table forms (the trainer handoff round trip)") {
    // plain (merges = Nil): decode of the id arrays must reproduce
    // unkRewrite's vocab-truncated text byte for byte
    val df = Seq((1L, "a b c a q z"), (2L, "b b a c")).toDF("doc_id", "text")
    val v = TextAnalysis.bpeVocabIds(df, "text", Nil, 3)
    val dec = TextAnalysis.bpeEncodeIds(df, "doc_id", "text", Nil, 3)
      .select(col("doc_id"),
        TextAnalysis.decodeTokenIds(col("token_ids"), v).as("t"))
      .as[(Long, String)].collect().toMap
    val unk = TextAnalysis.unkRewrite(df, "doc_id", "text", 3)
      .select(col("doc_id"), col("unk_text"))
      .as[(Long, String)].collect().toMap
    assert(dec === unk)
    // merged form: vocab over the ENCODED stream; decode == unkRewrite of
    // the bpe_text stream (whitespace tokens there ARE the bpe tokens)
    // with the U+0001 joiners restored to spaces
    val rng = new scala.util.Random(2026L)
    val words = Seq("a", "b", "c", "d", "e")
    val corpus = (1L to 40L).map(i => (i, (1 to 4 + rng.nextInt(6))
      .map(_ => words(rng.nextInt(words.size))).mkString(" "))).toDF("doc_id", "text")
    val table = TextAnalysis.bpeMergesMaterialized(corpus, "text", 2)
      .orderBy(col("step")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val v2 = TextAnalysis.bpeVocabIds(corpus, "text", table, 4)
    val dec2 = TextAnalysis.bpeEncodeIds(corpus, "doc_id", "text", table, 4)
      .select(col("doc_id"),
        TextAnalysis.decodeTokenIds(col("token_ids"), v2).as("t"))
      .as[(Long, String)].collect().toMap
    val unk2 = TextAnalysis.unkRewrite(
      TextAnalysis.bpeEncode(corpus, "doc_id", "text", table)
        .select(col("doc_id"), col("bpe_text").as("text")),
      "doc_id", "text", 4)
      .select(col("doc_id"),
        translate(col("unk_text"), "\u0001", " ").as("t"))
      .as[(Long, String)].collect().toMap
    assert(dec2 === unk2)
  }

  test("packSequenceIds: exact slicing across doc boundaries, padding, " +
    "loss mask, doc_starts; groups pack independently; empty arrays drop") {
    val df = Seq(
      ("g1", 1L, Seq(10, 11, 12)),
      ("g1", 2L, Seq(20, 21, 22)), // spans the seqLen=4 boundary: split
      ("g1", 3L, Seq.empty[Int]),  // zero-length: contributes nothing
      ("g2", 9L, Seq(7)))
      .toDF("g", "doc_id", "ids")
    val got = TextAnalysis.packSequenceIds(df, "doc_id", "ids", seqLen = 4,
        padId = -1, groupCols = Seq("g"))
      .select(col("g"), col("seq_idx"), col("input_ids"), col("loss_mask"),
        col("n_real"), col("n_doc_starts"), col("doc_starts"))
      .as[(String, Long, Seq[Int], Seq[Int], Long, Long, Seq[Int])]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(got.size === 3)
    // g1 token stream in doc order: 10 11 12 | 20 21 22
    assert(got(("g1", 0L)) ===
      (("g1", 0L, Seq(10, 11, 12, 20), Seq(1, 1, 1, 1), 4L, 2L, Seq(0, 3))))
    assert(got(("g1", 1L)) ===
      (("g1", 1L, Seq(21, 22, -1, -1), Seq(1, 1, 0, 0), 2L, 0L,
        Seq.empty[Int])))
    assert(got(("g2", 0L)) ===
      (("g2", 0L, Seq(7, -1, -1, -1), Seq(1, 0, 0, 0), 1L, 1L, Seq(0))))
    // every sequence is exactly seqLen wide and mask matches n_real
    got.values.foreach { case (_, _, ids, mask, nReal, _, _) =>
      assert(ids.size === 4 && mask.size === 4)
      assert(mask.map(_.toLong).sum === nReal)
    }
  }

  test("packSequenceIds: empty groupCols is a loud builder error pointing " +
    "at the shard pattern; a duplicate id within a group fails at runtime") {
    val df = Seq(("g1", 1L, Seq(10, 11))).toDF("g", "doc_id", "ids")
    // empty default would plan a single-partition window — must not plan
    val ex = intercept[IllegalArgumentException] {
      TextAnalysis.packSequenceIds(df, "doc_id", "ids", seqLen = 4)
    }
    assert(ex.getMessage.contains("single-partition window") &&
      ex.getMessage.contains("shard"))
    // duplicate id within a group: pack order is no longer a total order —
    // the deterministic-replay contract breaks, so the job fails loudly
    val dup = Seq(("g1", 1L, Seq(10)), ("g1", 1L, Seq(11)),
      ("g1", 2L, Seq(12))).toDF("g", "doc_id", "ids")
    val ex2 = intercept[Exception] {
      TextAnalysis.packSequenceIds(dup, "doc_id", "ids", seqLen = 4,
        groupCols = Seq("g")).count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex2).mkString("\n").contains("duplicate doc_id"))
    // the same ids under distinct ids pack fine (guard is not a false trip)
    val ok = Seq(("g1", 1L, Seq(10)), ("g1", 2L, Seq(11)))
      .toDF("g", "doc_id", "ids")
    assert(TextAnalysis.packSequenceIds(ok, "doc_id", "ids", seqLen = 4,
      groupCols = Seq("g")).count() === 1L)
  }

  test("validateVocabTable: duplicate tokens, duplicate ids, and " +
    "non-positive ids in a frozen vocab are loud builder errors") {
    val df = Seq((1L, "a b")).toDF("doc_id", "text")
    // well-formed table works in both directions
    TextAnalysis.bpeEncodeIdsWithVocab(df, "doc_id", "text", Nil,
      Seq(("a", 1), ("b", 2))).collect()
    df.select(TextAnalysis.decodeTokenIds(
      typedLit(Seq(1, 2)), Seq(("a", 1), ("b", 2)))).collect()
    // duplicate token: .toMap would silently keep one id
    val e1 = intercept[IllegalArgumentException] {
      TextAnalysis.bpeEncodeIdsWithVocab(df, "doc_id", "text", Nil,
        Seq(("a", 1), ("a", 2)))
    }
    assert(e1.getMessage.contains("duplicate token"))
    // duplicate id: decode would silently pick one token
    val e2 = intercept[IllegalArgumentException] {
      df.select(TextAnalysis.decodeTokenIds(
        typedLit(Seq(1)), Seq(("a", 1), ("b", 1))))
    }
    assert(e2.getMessage.contains("duplicate id"))
    // id 0 is reserved for OOV
    val e3 = intercept[IllegalArgumentException] {
      TextAnalysis.bpeEncodeIdsWithVocab(df, "doc_id", "text", Nil,
        Seq(("a", 0)))
    }
    assert(e3.getMessage.contains("reserved for OOV"))
  }

  test("bpeDecode: decode(encode(x)) == normalizeText(x) on fuzz corpora " +
    "(lossless round-trip, learned and top-k tables, both encode forms)") {
    val rng = new scala.util.Random(777L)
    val vocab = Seq("a", "b", "c", "ab", "xyz")
    val docs = (1L to 60L).map { i =>
      val len = rng.nextInt(10)
      (i, Seq.fill(len)(vocab(rng.nextInt(vocab.size))).mkString("  ") + " ")
    }.toDF("doc_id", "text") // ragged whitespace: normalize must own it
    val learned = TextAnalysis.bpeMergesMaterialized(docs, "text", 5)
      .orderBy($"step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val topk = TextAnalysis.topPairTable(docs, "text", 12)
    for (table <- Seq(learned, topk)) {
      for (enc <- Seq(
        TextAnalysis.bpeEncode(docs, "doc_id", "text", table),
        TextAnalysis.bpeEncodeIndexed(docs, "doc_id", "text", table))) {
        val bad = enc
          .join(docs, "doc_id")
          .filter(TextAnalysis.bpeDecode(col("bpe_text")) =!=
            graft.ops.Dedup.normalizeText(col("text")))
          .count()
        assert(bad === 0L, s"tableSize=${table.size}")
      }
    }
  }

  test("validateMergeTable: compound operand with no earlier defining " +
    "entry is rejected; learned order is accepted") {
    val df = Seq((1L, "a b c a b")).toDF("doc_id", "text")
    // valid: ("a","b") defines a⊕b before ("a⊕b","c") consumes it
    TextAnalysis.bpeEncode(df, "doc_id", "text",
      Seq(("a", "b"), ("a\u0001b", "c"))).collect()
    // invalid: the compound operand appears BEFORE its defining entry —
    // rank-order application would silently diverge from min-rank BPE
    intercept[IllegalArgumentException] {
      TextAnalysis.bpeEncodeIndexed(df, "doc_id", "text",
        Seq(("a\u0001b", "c"), ("a", "b")))
    }
    // invalid: compound operand never defined at all
    intercept[IllegalArgumentException] {
      TextAnalysis.bpeEncode(df, "doc_id", "text", Seq(("x\u0001y", "c")))
    }
  }

  test("unkRewrite: top-V cut with the (count desc, term asc) tiebreak, " +
    "positions intact, OOV counted") {
    // counts: a=3, b=2, c=2, d=1. vocabSize=2 -> boundary tie between b
    // and c at count 2; term asc keeps b, so c and d rewrite to <unk>.
    val df = Seq((1L, "a b c a"), (2L, "c b d a")).toDF("doc_id", "text")
    val got = TextAnalysis.unkRewrite(df, "doc_id", "text", vocabSize = 2)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 4L, 1L, "a b <unk> a")))
    assert(got(2L) === ((2L, 4L, 2L, "<unk> b <unk> a")))
    // vocabSize >= |vocab|: byte-identical no-op, zero unks
    val all = TextAnalysis.unkRewrite(df, "doc_id", "text", vocabSize = 10)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(all(1L) === ((1L, 4L, 0L, "a b c a")))
    // MG-backed variant, exact regime (capacity >= |vocab| -> the sketch
    // never decrements, estimates are true counts, same tiebreak):
    // byte-identical to the exact form, including the boundary-tie cut
    val mg = TextAnalysis.unkRewriteMG(df, "doc_id", "text",
      vocabSize = 2, capacity = 8)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(mg === got)
    // exact-regime BOUNDARY: the sketch keeps capacity-1 counters, so
    // capacity = |vocab| + 1 = 5 is the smallest exact capacity — all 4
    // terms keepable, byte-identical to the exact form at vocabSize 4
    val mgB = TextAnalysis.unkRewriteMG(df, "doc_id", "text",
      vocabSize = 4, capacity = 5)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    val exB = TextAnalysis.unkRewrite(df, "doc_id", "text", vocabSize = 4)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(mgB === exB)
    assert(mgB(1L)._3 === 0L) // all four terms in vocab: zero unks
    // capacity == vocabSize is loudly rejected: the sketch keeps
    // capacity-1 counters, so it could never fill the vocabulary
    intercept[IllegalArgumentException] {
      TextAnalysis.unkRewriteMG(df, "doc_id", "text",
        vocabSize = 2, capacity = 2)
    }
    // approx regime sanity (capacity-1 = 2 counters < |vocab| = 4): still
    // a valid rewrite — token counts intact, n_unk consistent with text
    val approx = TextAnalysis.unkRewriteMG(df, "doc_id", "text",
      vocabSize = 2, capacity = 3)
      .as[(Long, Long, Long, String)].collect()
    approx.foreach { case (_, nTok, nUnk, text) =>
      assert(text.split(" ").length.toLong === nTok)
      assert(text.split(" ").count(_ == "<unk>").toLong === nUnk)
    }
  }

  test("dedupPassages: ragged tail passage is its own unit; unique corpus " +
    "is a byte-identical no-op") {
    // 20 tokens -> one 16-token passage + one 4-token tail.
    val txt = (1 to 20).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, txt), (2L, "x1 x2 x3")).toDF("doc_id", "text")
    val got = TextAnalysis.dedupPassages(df, "doc_id", "text", size = 16)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 2L, 2L, txt)))
    assert(got(2L) === ((2L, 1L, 1L, "x1 x2 x3")))
  }

  private def naiveBfd(lens: Seq[Int], cap: Int): Seq[Int] = {
    // per-document best-fit-decreasing; returns sorted bin fills. The
    // multiset of fills is invariant to which of several equal-remaining
    // bins receives a doc, so it is the right differential target for the
    // count-space solver (whose tie-break differs).
    val bins = scala.collection.mutable.ArrayBuffer.empty[Int]
    lens.sorted(Ordering.Int.reverse).foreach { l =>
      val fit = bins.zipWithIndex.filter { case (s, _) => cap - s >= l }
      if (fit.isEmpty) bins += l
      else {
        val (_, i) = fit.minBy { case (s, _) => cap - s }
        bins(i) += l
      }
    }
    bins.sorted.toSeq
  }

  test("bfdHistogramPack: conservation + capacity on random histograms; " +
    "bin-fill multiset equals per-document BFD") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 20) {
      val cap = 32 + rnd.nextInt(97)
      val lens = Seq.fill(3 + rnd.nextInt(60))(1 + rnd.nextInt(cap))
      val hist = lens.groupBy(identity).view
        .mapValues(_.size.toLong).toSeq.sortBy(_._1)
      val solved = TextAnalysis.bfdHistogramPack(hist, cap)
      // capacity + conservation
      solved.foreach { case (comp, cnt) =>
        assert(cnt > 0)
        assert(comp.map { case (l, k) => l * k }.sum <= cap, s"trial $trial")
      }
      val placed = solved.flatMap { case (comp, cnt) =>
        comp.map { case (l, k) => l -> cnt * k }
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      assert(placed === hist.toMap, s"trial $trial: docs not conserved")
      // differential vs per-doc BFD: same bin-fill multiset
      val fillsSolver = solved.flatMap { case (comp, cnt) =>
        val fill = comp.map { case (l, k) => l * k }.sum.toInt
        Seq.fill(cnt.toInt)(fill)
      }.sorted
      assert(fillsSolver === naiveBfd(lens, cap), s"trial $trial")
    }
  }

  test("packDocsNoSplit: whole docs, exact-once placement, contiguous " +
    "offsets, capacity, determinism; overflow and empty-group guards") {
    val rnd = new scala.util.Random(7)
    val docs = (0 until 60).map { i =>
      val lang = if (i % 3 == 0) "en" else "de"
      val n = 1 + rnd.nextInt(16)
      (i.toLong, lang, Seq.fill(n)(rnd.nextInt(100)))
    }.toDF("doc_id", "lang", "token_ids")
    val packed = TextAnalysis.packDocsNoSplit(docs, "doc_id", "token_ids",
      seqLen = 16, padId = -1, groupCols = Seq("lang"))
      .collect().map { r =>
        (r.getString(0), r.getLong(1), r.getSeq[Int](2), r.getSeq[Int](3),
          r.getLong(4), r.getLong(5), r.getSeq[Int](6), r.getSeq[Long](7))
      }
    // (lang, bin_id, input_ids, loss_mask, n_real, n_docs, doc_starts, doc_ids)
    val inputDocs = docs.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getSeq[Int](2))).toSeq
    // every doc exactly once, in the right group
    val placedIds = packed.flatMap { case (lang, _, _, _, _, _, _, ids) =>
      ids.map(_ -> lang)
    }
    assert(placedIds.length === inputDocs.length)
    assert(placedIds.toMap === inputDocs.map(d => d._1 -> d._2).toMap)
    val byId = inputDocs.map(d => d._1 -> d._3).toMap
    packed.foreach { case (lang, bin, ids, mask, nReal, nDocs, starts, dids) =>
      assert(ids.length === 16 && mask.length === 16, s"$lang/$bin")
      assert(nReal <= 16 && nDocs === dids.length.toLong)
      assert(mask.count(_ == 1) === nReal)
      // contiguous canonical layout: starts are prefix sums of doc lens,
      // and the concatenated ids are exactly the docs in offset order
      val lens = dids.map(byId(_).length)
      val expStarts = lens.scanLeft(0)(_ + _).dropRight(1)
      assert(starts.toSeq === expStarts, s"$lang/$bin")
      assert(nReal === lens.sum.toLong)
      assert(ids.take(nReal.toInt) === dids.flatMap(byId(_)))
      assert(ids.drop(nReal.toInt).forall(_ === -1))
    }
    // determinism under repartition
    val packed2 = TextAnalysis.packDocsNoSplit(docs.repartition(7),
      "doc_id", "token_ids", seqLen = 16, padId = -1,
      groupCols = Seq("lang"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getSeq[Int](2), r.getSeq[Long](7))).sortBy(t => (t._1, t._2))
    assert(packed2.toSeq === packed.map(p => (p._1, p._2, p._3, p._8))
      .sortBy(t => (t._1, t._2)).toSeq)
    // doc longer than seqLen → loud driver error
    val err = intercept[IllegalArgumentException] {
      TextAnalysis.packDocsNoSplit(
        Seq((1L, "en", Seq.fill(20)(1))).toDF("doc_id", "lang", "token_ids"),
        "doc_id", "token_ids", seqLen = 16, groupCols = Seq("lang"))
    }
    assert(err.getMessage.contains("cannot pack without splitting"))
    // empty groupCols → loud builder error
    val err2 = intercept[IllegalArgumentException] {
      TextAnalysis.packDocsNoSplit(docs, "doc_id", "token_ids",
        seqLen = 16, groupCols = Nil)
    }
    assert(err2.getMessage.contains("shard"))
  }

  test("packDocsNoSplit: multi-column groupCols — bins never cross " +
    "(lang, shard) groups, placement still exact-once") {
    val rnd = new scala.util.Random(11)
    val docs = (0 until 80).map { i =>
      (i.toLong, if (i % 2 == 0) "en" else "de", i % 3,
        Seq.fill(1 + rnd.nextInt(10))(rnd.nextInt(50)))
    }.toDF("doc_id", "lang", "shard", "token_ids")
    val packed = TextAnalysis.packDocsNoSplit(docs, "doc_id", "token_ids",
      seqLen = 12, groupCols = Seq("lang", "shard"))
      .select("lang", "shard", "bin_id", "n_real", "doc_ids")
      .as[(String, Int, Long, Long, Seq[Long])].collect()
    val homeOf = docs.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    val placed = packed.flatMap { case (lang, shard, _, _, ids) =>
      ids.map(id => id -> ((lang, shard)))
    }
    assert(placed.length === 80)
    placed.foreach { case (id, grp) => assert(homeOf(id) === grp, s"doc $id") }
    packed.foreach { case (_, _, _, nReal, _) => assert(nReal <= 12) }
    // bin ids are a dense 0..k-1 namespace WITHIN each group
    packed.groupBy(p => (p._1, p._2)).foreach { case (g, bins) =>
      assert(bins.map(_._3).sorted.toSeq === (0L until bins.length).toSeq, s"$g")
    }
  }

  test("gopherRepetition: fuzz differential vs a naive in-memory reference " +
    "on random small-vocab docs (collision-heavy)") {
    def refMetrics(text: String, topNs: Seq[Int], dupNs: Seq[Int])
        : (Long, Seq[Long], Seq[Long]) = {
      val toks = text.toLowerCase.trim.replaceAll("\\s+", " ").split(" ", -1)
      val total = math.max(toks.map(_.length + 1).sum - 1, 0).toLong
      def grams(n: Int): Seq[(String, Long)] = // (gram, cstart)
        if (toks.length < n) Seq.empty
        else {
          val starts = toks.scanLeft(0L)((acc, t) => acc + t.length + 1)
          (0 to toks.length - n).map(p =>
            (toks.slice(p, p + n).mkString(" "), starts(p)))
        }
      def ppm(num: Long): Long = if (total == 0) 0L else num * 1000000L / total
      val tops = topNs.map { n =>
        val g = grams(n)
        if (g.isEmpty) 0L
        else {
          val (gram, cnt) = g.groupBy(_._1).view.mapValues(_.size.toLong)
            .toSeq.maxBy { case (s, c) => (c, s) }
          ppm(cnt * gram.length)
        }
      }
      val dups = dupNs.map { n =>
        val g = grams(n)
        val counts = g.groupBy(_._1).view.mapValues(_.size).toMap
        val dup = g.filter(o => counts(o._1) > 1).sortBy(_._2)
        var covered = 0L
        var prevEnd = 0L
        dup.foreach { case (gram, cs) =>
          val ce = cs + gram.length
          covered += math.max(0L, ce - math.max(cs, prevEnd))
          prevEnd = math.max(prevEnd, ce)
        }
        ppm(covered)
      }
      (total, tops, dups)
    }
    val rnd = new scala.util.Random(123)
    val vocab = Seq("a", "bb", "ccc", "dd", "e") // tiny: forces collisions
    val docs = (0 until 50).map { i =>
      val n = rnd.nextInt(30)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val got = TextAnalysis.gopherRepetition(
      docs.toDF("doc_id", "text"), "doc_id", "text",
      topNs = Seq(2, 3), dupNs = Seq(2, 4)).orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    docs.foreach { case (id, text) =>
      val (total, tops, dups) = refMetrics(text, Seq(2, 3), Seq(2, 4))
      val row = got(id.toInt)
      assert(row === ((id, total, tops(0), tops(1), dups(0), dups(1))),
        s"doc $id text='$text'")
    }
  }

  test("gopherRepetition: char-fraction goldens — overlap union counted " +
    "once, top-gram product may exceed 1e6, short/empty docs are 0") {
    val df = Seq(
      (1L, "a b a b c"), // "a b" ×2 non-overlapping; no 3-gram dups
      (2L, "x x x x"),   // "x x" ×3 overlapping — union = whole doc
      (3L, "q"),         // shorter than any n: no grams, not "100% covered"
      (4L, "")).toDF("doc_id", "text")
    val r = TextAnalysis.gopherRepetition(df, "doc_id", "text",
      topNs = Seq(2, 3), dupNs = Seq(2, 3)).orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    // (doc_id, total_chars, top2gram_ppm, top3gram_ppm, dup2gram_ppm, dup3gram_ppm)
    assert(r(0) === ((1L, 9L, 666666L, 555555L, 666666L, 0L)))
    // top2: cnt 3 × len 3 over 7 chars = 1285714 ppm (>1e6 by design);
    // dup2 union [0,3)∪[2,5)∪[4,7) = 7 of 7 chars = exactly 1e6
    assert(r(1) === ((2L, 7L, 1285714L, 1428571L, 1000000L, 1000000L)))
    assert(r(2) === ((3L, 1L, 0L, 0L, 0L, 0L)))
    assert(r(3) === ((4L, 0L, 0L, 0L, 0L, 0L)))
    // partitioning-independence: per-doc windows, no order sensitivity
    val rp = TextAnalysis.gopherRepetition(df.repartition(7), "doc_id",
      "text", topNs = Seq(2, 3), dupNs = Seq(2, 3)).orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(rp.toSeq === r.toSeq)
  }
}
