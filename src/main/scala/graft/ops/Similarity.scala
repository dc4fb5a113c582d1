package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.functions.Vectors._
import graft.functions.expr.NearestKernel

/** Similarity search over embedding columns (SURVEY §2.9 R2–R4, R9;
  * builder-brief ANN component).
  *
  * Two tiers, mirroring the reference's Flat-vs-IVF split
  * (`src/serving/retrieval.py:88-120`):
  *  - [[bruteForceTopK]] — exact: broadcast the (small) item side, score with
  *    HOF dot/cosine, per-query top-k via `row_number` (rides Spark's
  *    WindowGroupLimit rank-limit pushdown). The baseline and the
  *    correctness oracle.
  *  - [[clusterPrunedTopK]] — the 100 TB path: IVF-style k-means-lite
  *    partition pruning. Items are assigned to the nearest of `nlist`
  *    deterministic centroids; a query probes only its `nprobe` nearest
  *    clusters, so scored pairs shrink by ~nprobe/nlist (the reference
  *    probes 20 of 1024 — `retrieval.py:60-62,104-108`).
  */
object Similarity {

  /** Last cosine-floor warning emitted by [[lshTopK]] (None when the most
    * recent call had no floor). TEST hook — lets a spec assert the warning
    * FIRES without scraping logs; also a debugging breadcrumb. Shared
    * process state: meaningful only for sequential callers (the suites
    * run sequentially in one JVM); concurrent production callers should
    * treat it as advisory, the stderr line is the durable signal. */
  @volatile private[graft] var lastLshFloorWarning: Option[String] = None

  /** maxDistance values whose floor warning already went to stderr — the
    * warning prints once per distinct config per JVM, not once per call
    * (repeat calls with an already-validated config shouldn't spam). */
  private val printedFloorConfigs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.lang.Double]()

  /** Stage-local materialization barrier: routes the frame through a
    * Generate (explode of a one-element array) so every column is
    * EVALUATED once per row at the barrier instead of deferred into the
    * consumer's loop. Whole-stage codegen defers project outputs to
    * their use sites; under a (broadcast) nested-loop or multi-match
    * hash join that turns an O(rows) stream-side projection into
    * O(rows × matches) — measured on pqTopK: the m native encode
    * projections re-ran per PAIR, 17.9 s for 50×2 K pairs vs 0.6 s
    * barriered. Unlike localCheckpoint this is pure-plan, streams, and
    * holds nothing in memory — usable on CATALOG-sized sides. Caveat:
    * a Generate blocks filter/column pushdown across it, so barrier
    * only terminal, already-narrow projections. */
  private[graft] def evalBarrier(df: DataFrame): DataFrame = {
    val cols = df.columns
    require(!cols.contains("__eb"),
      "evalBarrier: input already has a __eb column")
    require(cols.distinct.length == cols.length,
      "evalBarrier: duplicate column names — the struct round-trip " +
        "cannot resolve them unambiguously")
    require(cols.forall(!_.contains("`")),
      "evalBarrier: backtick in a column name breaks the quoted parse")
    // backtick-quote BOTH sides of the round-trip: a bare col("a.b")
    // parses '.' as nested-field traversal, so a dotted column name
    // would silently resolve to a sibling struct's field (or fail)
    df.select(explode(array(struct(cols.map(c => col(s"`$c`")): _*)))
        .as("__eb"))
      .select(cols.map(c => col(s"__eb.`$c`").as(c)): _*)
  }

  /** The metric prep every search path applies to each side: select
    * (idCol as outId, vecCol as outVec, extra…) and, for "cosine",
    * L2-normalize the vector ONCE below any join (O(n) norms), so the
    * per-pair work is a bare dot product instead of a per-pair norm. */
  private[graft] def metricPrep(df: DataFrame, idCol: String,
                                vecCol: String, outId: String,
                                outVec: String, metric: String,
                                extra: Seq[Column] = Nil): DataFrame = {
    val sel = df.select(Seq(col(idCol).as(outId), col(vecCol).as(outVec)) ++
      extra: _*)
    if (metric == "cosine") normalized(sel, outVec, outVec) else sel
  }

  /** The shared rank-and-limit tail: per (armCols…, query_id), the top `k`
    * rows by (score desc, item_id) — ties by item id ascending (FIXTURES §3
    * determinism rule). Rides Spark's WindowGroupLimit rank-limit pushdown.
    * Returns (armCols…, query_id, rank, item_id, score). */
  private def topKPerQuery(scored: DataFrame, k: Int,
                           armCols: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy((armCols :+ "query_id").map(col): _*)
      .orderBy(col("score").desc, col("item_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(armCols.map(col) ++
        Seq(col("query_id"), col("rank"), col("item_id"), col("score")): _*)
  }

  /** Like bruteForceTopK's excludeSelf: when queries ⊆ items on shared ids,
    * the query's own vector would otherwise take a top-k slot
    * (recall-vs-exact harnesses read as a systematic 1/k miss). */
  private def dropSelf(cand: DataFrame, excludeSelf: Boolean): DataFrame =
    if (excludeSelf) cand.filter(col("query_id") =!= col("item_id"))
    else cand

  /** Collected array<float|double> cell → doubles (driver-side literals). */
  private def toDoubles(v: Seq[Any]): Array[Double] = v.map {
    case f: java.lang.Float => f.toDouble
    case n: Number => n.doubleValue()
  }.toArray

  /** R3: exact top-k neighbors for every query vector.
    * `queries`/`items`: (idCol, vecCol) frames. Output:
    * (query_id, rank, item_id, score). Ties broken by item id ascending
    * (FIXTURES §3 determinism rule). Set `excludeSelf` when querying a
    * corpus against itself (the reference filters the query point —
    * `retrieval.py:170-197` R5). */
  def bruteForceTopK(queries: DataFrame, items: DataFrame, queryId: String,
                     itemId: String, vecCol: String, k: Int,
                     metric: String = "cosine",
                     excludeSelf: Boolean = false): DataFrame = {
    // barrier the STREAM side: its normalize projection would otherwise
    // re-evaluate per PAIR inside the nested-loop consume (see
    // evalBarrier; the broadcast build side materializes at the exchange)
    val q = evalBarrier(
      metricPrep(queries, queryId, vecCol, "query_id", "__qv", metric))
    val it = metricPrep(items, itemId, vecCol, "item_id", "__iv", metric)
    val scoreCol = metric match {
      case "cosine" => vecDotNative(col("__qv"), col("__iv"))
      case "dot"    => vecDotNative(col("__qv"), col("__iv"))
      case "l2"     => -l2Distance(col("__qv"), col("__iv"))
      case m        => throw new IllegalArgumentException(s"metric $m")
    }
    val pairs0 = q.join(broadcast(it),
      if (excludeSelf) col("query_id") =!= col("item_id") else lit(true))
    topKPerQuery(pairs0.withColumn("score", scoreCol), k)
  }

  /** Deterministic centroid pick: the first `nlist` item vectors by a seeded
    * hash order — a k-means-lite seeding (kmeans iterations can refine these
    * offline; pruning correctness only needs consistent assignment). */
  def pickCentroids(items: DataFrame, itemId: String, vecCol: String,
                    nlist: Int, seed: Long = 42): DataFrame =
    // The centroid ids are recovered by sorting the nlist survivors inside
    // one array and posexploding, NOT via row_number over an unpartitioned
    // window — the frame is only nlist rows either way, but the window
    // form plans a single-partition WindowExec (and logs Spark's "No
    // Partition Defined for Window" warning) in every ANN query.
    items.select(col(itemId), col(vecCol))
      .withColumn("__h", xxhash64(col(itemId), lit(seed)))
      .orderBy(col("__h"), col(itemId)).limit(nlist)
      .agg(sort_array(collect_list(struct(
        col("__h"), col(itemId).as("__id"), col(vecCol).as("__v"))))
        .as("__t"))
      .select(posexplode(col("__t")).as(Seq("__p", "__s")))
      .select(col("__p").as("centroid_id"), col("__s.__v").as("centroid_vec"))

  /** Optional Lloyd refinement of [[pickCentroids]] (the reference trains
    * real k-means centroids via faiss `IVF…` index factories —
    * `src/serving/retrieval.py:88-120`; hash-picked seeds leave recall on
    * the table at a given nprobe). `iters` rounds of assign → per-cluster
    * mean → reassign. Each round is linear: one broadcast-centroid argmin
    * pass plus one (cluster, dim)-keyed mean whose map-side combine keeps
    * shuffle state at nlist·dim cells — never all-pairs, centroids stay
    * broadcast-sized. Empty clusters keep their previous centroid, so the
    * centroid count is stable. The tiny per-iteration frame is
    * localCheckpointed so iteration k+1's plan doesn't re-run iteration k. */
  def refineCentroids(items: DataFrame, vecCol: String, centroids: DataFrame,
                      iters: Int): DataFrame = {
    var c = centroids
    for (_ <- 1 to iters) {
      val assigned = assignClusters(
        items.select(col(vecCol).as("__v")), "__v", c)
      val means = assigned
        .select(col("centroid_id"), posexplode(col("__v")).as(Seq("__d", "__x")))
        .groupBy(col("centroid_id"), col("__d"))
        .agg(avg(col("__x")).as("__m"))
        .groupBy(col("centroid_id"))
        .agg(transform(
          sort_array(collect_list(struct(col("__d"), col("__m")))),
          x => x.getField("__m").cast("float")).as("__new"))
      // EAGER checkpoint (r18): a LAZY localCheckpoint that reaches the
      // caller's final plan unmaterialized deadlocks under concurrency —
      // RDDCheckpointData's companion-object lock is GLOBAL, and a
      // broadcast-exchange thread running the first materialization
      // inverts lock order against the DAG scheduler's getCacheLocs
      // (jstack'd live: dag-scheduler-event-loop <-> broadcast-exchange,
      // BENCH_SF10 r18 addendum 5). Eager runs the nlist-row job on the
      // single construction thread, where no second job can race it.
      c = c.join(means, Seq("centroid_id"), "left")
        .select(col("centroid_id"),
          coalesce(col("__new"), col("centroid_vec")).as("centroid_vec"))
        .localCheckpoint(true)
    }
    c
  }

  /** Hard ceiling for any driver-collected centroid-table-shaped frame
    * (r20, VERDICT r19 #9): nlist is config-sized by every caller's
    * contract (n/500–n/1000 sizing rules top out in the thousands); 2²⁰
    * ids is ~3 orders of magnitude above any real config and ~100 MB of
    * vectors — past it the collect is a bug, not a configuration. */
  private[graft] val MaxCollectedCentroids: Int = 1 << 20

  /** Driver-collect a centroid table for the native assignment kernels.
    * BOUNDED collect: the frame is nlist rows (config-sized — the same
    * argument that justified `broadcast(centroids)` in the old join form,
    * and the same contract as the numBuckets-bounded store-pruning
    * collects). Sorted by id so the reference arrays are deterministic
    * regardless of collect order. Memoized per frame when the frame's
    * leaves are fixed — a checkpointed `LogicalRDD` or a local relation,
    * like the frozen table [[graft.streaming.StreamingJobs.rebuildIvfStore]]
    * returns ([[ServingSnapshot.memoCentroids]]); any other frame is
    * collected per call. */
  private def collectCentroids(
      centroids: DataFrame): (Array[Long], Array[Array[Double]]) =
    ServingSnapshot.memoCentroids(centroids) {
      // BOUNDED collect, RUNTIME-ENFORCED (r20): limit-gated at the shared
      // ceiling so an accidentally data-sized "centroid" frame fails
      // loudly instead of OOMing the driver.
      val rows = centroids
        .select(col("centroid_id").cast("long"), col("centroid_vec"))
        .limit(MaxCollectedCentroids + 1).collect().sortBy(_.getLong(0))
      require(rows.length <= MaxCollectedCentroids,
        s"collectCentroids: centroid table exceeds the config-sized bound " +
          s"($MaxCollectedCentroids rows)")
      (rows.map(_.getLong(0)), rows.map(r => toDoubles(r.getSeq[Any](1))))
    }

  private def idTypeOf(centroids: DataFrame) =
    centroids.schema("centroid_id").dataType

  /** Shared projection tail for the native assignment forms: probe = 1
    * appends `centroid_id` (the [[assignClusters]] contract); probe > 1
    * posexplodes into one row per probed centroid with `centroid_rank`
    * (1 = nearest). */
  private def probeTail(df: DataFrame, nearest: Column,
                        idType: org.apache.spark.sql.types.DataType,
                        probe: Int): DataFrame =
    if (probe == 1)
      df.withColumn("centroid_id", element_at(nearest, 1).cast(idType))
    else
      df.select(col("*"), posexplode(nearest).as(Seq("__p", "__cid")))
        .withColumn("centroid_id", col("__cid").cast(idType))
        .withColumn("centroid_rank", (col("__p") + 1).cast("int"))
        .drop("__p", "__cid")

  /** Assign each row to its nearest centroid. Adds `centroid_id`.
    *
    * Implementation (r12): a native codegen'd expression
    * ([[graft.functions.expr.NearestCentroids]]) over the
    * driver-collected centroid table — assignment is a pure PROJECTION:
    * no join, no shuffle, no n·nlist intermediate rows. The previous
    * `crossJoin(broadcast(centroids))` + window-argmin form materialized
    * and sorted n·nlist array-bearing rows map-side, which at a
    * 1 M-item × nlist=1000 catalog is ~10⁹ rows — the measured wall in
    * `c5_serving_ivf`'s first build. Ordering contract is unchanged
    * (distance = the `l2Distance` double fold incl. the sqrt, ties by
    * centroid id, NaN last — differentially pinned against the window
    * form in VectorSpec). Divergence: rows with a NULL vector (or null
    * lane) now get a null `centroid_id` instead of an arbitrary
    * deterministic one; no graft call site feeds nulls.
    *
    * `probe` > 1 (multi-probe) keeps the `probe` NEAREST centroids — one
    * output row per (input row, probed centroid), with `centroid_rank`
    * (1 = nearest) added so callers can recover the single-assignment
    * view (`centroid_rank === 1`). probe = 1 keeps the original
    * input-plus-`centroid_id` schema exactly. */
  def assignClusters(df: DataFrame, vecCol: String,
                     centroids: DataFrame, probe: Int = 1): DataFrame = {
    require(probe >= 1, s"assignClusters: probe=$probe")
    val (ids, vecs) = collectCentroids(centroids)
    val nearest = ColumnBridge.column(
      graft.functions.expr.NearestCentroids(
        ColumnBridge.expression(col(vecCol)), ids, vecs, probe))
    probeTail(df, nearest, idTypeOf(centroids), probe)
  }

  /** Two-level (coarse → fine) centroid assignment — the IVF escalation
    * for nlist past ~10³ where flat assignment's Θ(n·nlist) scoring term
    * dominates (BENCH_SF10.md analysis #4). ~√nlist coarse centroids are
    * hash-picked FROM the fine centroids; each fine centroid maps to its
    * nearest coarse cell (a centroids-sized job), and each data row then
    * scores only √nlist coarse + the matched cell's ~√nlist fine
    * centroids — Θ(n·2√nlist) total. `coarseProbe` > 1 scores fine
    * candidates from the p nearest coarse cells, trading back some of
    * the saved work for assignments closer to flat's (a row whose true
    * fine centroid hides in the SECOND-nearest coarse cell is the one
    * divergence mode vs [[assignClusters]]). Same output contract as
    * [[assignClusters]]: input plus `centroid_id`; `fineProbe` > 1 keeps
    * the `fineProbe` nearest fine centroids within the probed coarse
    * cells and adds `centroid_rank` (the [[assignClusters]] multi-probe
    * contract). */
  def assignClustersTwoLevel(df: DataFrame, vecCol: String,
                             centroids: DataFrame, nlist: Int,
                             coarseProbe: Int = 2,
                             seed: Long = 42,
                             fineProbe: Int = 1): DataFrame = {
    require(fineProbe >= 1, s"assignClustersTwoLevel: fineProbe=$fineProbe")
    val nCoarse = math.max(1, math.round(math.sqrt(nlist.toDouble)).toInt)
    val coarse = pickCentroids(centroids, "centroid_id", "centroid_vec",
      nCoarse, seed)
    // Native two-stage projection (r12 — same rewrite as assignClusters):
    // the fine→coarse cell map is built ON THE DRIVER over the two
    // collected (config-bounded) centroid tables — nlist·√nlist·d flops,
    // trivially driver-sized — with the same (sqrt-dist, id) ordering
    // kernel the expressions use. Each row then evaluates two chained
    // native expressions: coarse cells (√nlist scored) → top-fineProbe
    // fine within those cells (~coarseProbe·√nlist scored). No joins, no
    // windows, no materialized candidate rows.
    val (cIds, cVecs) = collectCentroids(coarse)
    val (fIds, fVecs) = collectCentroids(centroids)
    val byCell = fIds.indices.groupBy(i =>
      NearestKernel.nearestId(fVecs(i), cIds, cVecs))
    val cellKeys = byCell.keys.toArray.sorted
    val gIds = cellKeys.map(k => byCell(k).map(fIds).toArray)
    val gVecs = cellKeys.map(k => byCell(k).map(fVecs).toArray)
    val cellsExpr = graft.functions.expr.NearestCentroids(
      ColumnBridge.expression(col(vecCol)), cIds, cVecs, coarseProbe)
    val nearest = ColumnBridge.column(
      graft.functions.expr.NearestCentroidsInCells(
        ColumnBridge.expression(col(vecCol)), cellsExpr,
        cellKeys, gIds, gVecs, fineProbe))
    probeTail(df, nearest, idTypeOf(centroids), fineProbe)
  }

  /** R4: IVF-style approximate top-k — probe only the query's `nprobe`
    * nearest clusters. Recall < 1 by construction; invariants (vs exact)
    * are asserted in tests rather than a SQL oracle.
    *
    * Large catalogs: once `nlist` crosses `twoLevelNlistAbove` (the
    * n/1000 sizing rule puts a 1 M-item catalog at nlist=1000+), item
    * assignment escalates to [[assignClustersTwoLevel]] — flat
    * assignment's Θ(n·nlist) scoring term is the wall at that size. The
    * QUERY side stays flat (Θ(q·nlist), q = request batch, always
    * small). The serving flagship `c5_serving_ivf` gates this path with
    * an in-query recall-vs-exact measurement on a ≥1 M-item catalog.
    *
    * Building the frame RUNS SPARK JOBS: the nlist-row seed centroid table
    * is eagerly `localCheckpoint(true)`ed when this is called, before the
    * returned frame is executed (or even if it never is). The checkpoint
    * blocks are not released by this call; they stay pinned in executor
    * storage until their RDD is garbage-collected, so a long-lived session
    * that builds many indexes holds one such table per build. */
  def clusterPrunedTopK(queries: DataFrame, items: DataFrame, queryId: String,
                        itemId: String, vecCol: String, k: Int,
                        nlist: Int = 64, nprobe: Int = 8,
                        seed: Long = 42, refineIters: Int = 0,
                        excludeSelf: Boolean = false,
                        twoLevelNlistAbove: Int = 1000): DataFrame = {
    // EAGER checkpoint of the nlist-row centroid table (r20, guide §2.4
    // duplicate-subtree elimination): the seeds subtree ends in a
    // full-catalog scan (pickCentroids' ordered limit), and unchecked it
    // EXECUTES once per consumer — the driver collect inside
    // assignClusters (twice for the two-level form: coarse pick + fine
    // table) plus qProbe's broadcast build, i.e. 2–3 catalog scans that
    // all recompute the identical 2 000-row table. Checkpointing holds
    // nlist rows (config-sized) and leaves every value bit-identical;
    // measured on c5b's dequantized 1 M-item catalog it is half of the
    // 5.6 → 3.7 s cut (V0 vs V3 of the ScratchC5b harness, last in
    // commit 65b4b15). Eager, not lazy — the lazy form deadlocks under
    // concurrent materialization (r18, see refineCentroids).
    // refineCentroids' own output is already checkpointed per round;
    // seeding it with the checkpointed frame also spares iteration 1's
    // second scan of the seed subtree.
    val seeds = pickCentroids(items, itemId, vecCol, nlist, seed)
      .localCheckpoint(true)
    val centroids =
      if (refineIters > 0) refineCentroids(items, vecCol, seeds, refineIters)
      else seeds
    val itemsIded =
      items.select(col(itemId).as("item_id"), col(vecCol).as("__iv"))
    val itemsC =
      if (nlist > twoLevelNlistAbove)
        assignClustersTwoLevel(itemsIded, "__iv", centroids, nlist,
          seed = seed)
      else assignClusters(itemsIded, "__iv", centroids)
    // each query probes its nprobe nearest centroids with its RAW vector
    // (the items were assigned raw too); both sides normalize afterwards
    val qProbe = probeNearestCentroids(
      queries.select(col(queryId).as("query_id"), col(vecCol).as("__qv")),
      centroids, nprobe)
      .select(col("query_id"), col("__qv"), col("centroid_id"))
    // The probe side is EXPLICITLY the broadcast build: the catalog's
    // static size estimate is explode-derived and survives the caller's
    // checkpoint, so at a 1M+-item catalog the planner otherwise picks
    // the ITEM side to broadcast — measured: a silent ~500 MB broadcast
    // at 1M items and a maxResultSize abort at 10M. The probe frame is
    // requests x nprobe rows (request-batch-sized by construction), the
    // right build side at ANY catalog scale.
    // evalBarrier on the stream side: the normalize + native centroid
    // assignment would otherwise defer into the hash-probe consume and
    // re-evaluate per matching probe row (see evalBarrier scaladoc)
    val pairs = broadcast(normalized(qProbe, "__qv", "__qn").drop("__qv"))
      .join(evalBarrier(normalized(itemsC, "__iv", "__in").drop("__iv")),
        Seq("centroid_id"))
    topKPerQuery(dropSelf(
      pairs.withColumn("score", vecDotNative(col("__qn"), col("__in"))),
      excludeSelf), k)
  }

  /** R4 (MLlib path — SURVEY §7.3 option (a)): approximate top-k using
    * `BucketedRandomProjectionLSH`'s hash family, executed through an
    * explicitly CANDIDATE-BOUNDED bucket join instead of MLlib's
    * `approxSimilarityJoin` (whose candidate volume densifies with
    * true-neighbor density and has no per-query bound — the detonation
    * class `bandJoin` had before `bandJoinNearestK`). Inputs are
    * L2-normalized so Euclidean distance is monotone in cosine
    * (d² = 2 − 2cos for unit vectors); the returned `score` is the exact
    * cosine of each surviving candidate (candidates are re-scored
    * exactly, so LSH only affects WHICH pairs are considered, never the
    * score of a reported pair). Complements [[clusterPrunedTopK]] (the
    * IVF-semantics path, and the recommended serving path at scale).
    *
    * Bounding devices, both deterministic:
    *  - AND-amplification: the `bands × bandSize` hash tables are grouped
    *    into `bands` compound keys of `bandSize` concatenated bucket ids
    *    (classic banding, as in the MinHash-LSH dedup path). A single
    *    projection bucket of occupancy fraction p shrinks to p^bandSize
    *    per band — the multiplicative cut MLlib's OR-only join lacks.
    *  - `maxBucketSize`: within each (band, compound-bucket), items
    *    beyond the cap are dropped in seeded-hash order (the
    *    `maxPostingSize` pattern from the token-Jaccard path). Candidates
    *    per query are then ≤ bands·maxBucketSize REGARDLESS of corpus
    *    density — lossy past the cap by design; measure the loss with
    *    the `ann_mllib_lsh_recall` harness before trusting a config.
    *
    * Knob physics (unit vectors; MLlib projects onto UNNORMALIZED
    * N(0,1)^d directions, so a unit vector's projection is N(0,1)):
    * `bucketLength` ≈ the projection gap of a true near pair — a pair at
    * distance d projects Δ ~ N(0, d²), so buckets of ~1.0 separate far
    * pairs (bucketLength 2.0 had ~everything colliding in every table —
    * a disguised all-pairs join). `maxDistance` must cover the true
    * top-k distance spectrum: the reachable cosine floor is
    * 1 − maxDistance²/2 (1.5 ⇒ cosine ≥ −0.125 covers this corpus;
    * 1.0 ⇒ cosine ≥ 0.5 dropped its real neighbors to 0.004 recall) —
    * callers lowering maxDistance on a new corpus should check that
    * floor against the corpus's true neighbor spectrum first. */
  def lshTopK(queries: DataFrame, items: DataFrame, queryId: String,
              itemId: String, vecCol: String, k: Int,
              bucketLength: Double = 1.0, bands: Int = 6,
              bandSize: Int = 1, maxDistance: Double = 1.5,
              maxBucketSize: Int = 4096, seed: Long = 42): DataFrame = {
    import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    require(bands >= 1 && bandSize >= 1 && maxBucketSize >= 1,
      s"lshTopK: bands=$bands bandSize=$bandSize maxBucketSize=$maxBucketSize")
    // The cosine-floor cliff, made LOUD (VERDICT r10 "What's wrong" #4):
    // any maxDistance < 2.0 silently excludes every candidate below
    // cosine 1 − maxDistance²/2, and the retuned 1.5 default (floor
    // −0.125) is corpus-dependent — on a corpus whose true top-k
    // neighbors sit below the floor, recall craters with no error
    // (measured: maxDistance=1.0 ⇒ floor 0.5 ⇒ 0.004 recall on the
    // driver testdata). Warn once per call so default-parameter callers
    // on a NEW corpus are pointed at the recall harness before trusting
    // a config.
    if (maxDistance < 2.0) {
      val floor = 1.0 - maxDistance * maxDistance / 2.0
      val msg = f"lshTopK: maxDistance=$maxDistance%.3f bounds reachable " +
        f"cosine at >= $floor%.4f — neighbors below that floor are " +
        "UNREACHABLE at any bands/bucket setting. Validate against the " +
        "ann_mllib_lsh_recall harness (or exact bruteForceTopK on a " +
        "sample) before trusting this config on a new corpus; " +
        "maxDistance=2.0 disables the floor."
      lastLshFloorWarning = Some(msg)
      if (printedFloorConfigs.add(maxDistance))
        System.err.println(s"[graft][warn] $msg")
    } else lastLshFloorWarning = None
    def featurized(df: DataFrame, idC: String, outId: String) =
      metricPrep(df, idC, vecCol, outId, "__v", "cosine")
        .withColumn("features", array_to_vector(col("__v")))
    val qn = featurized(queries, queryId, "query_id")
    val in = featurized(items, itemId, "item_id")
    val lsh = new BucketedRandomProjectionLSH()
      .setBucketLength(bucketLength)
      .setNumHashTables(bands * bandSize)
      .setInputCol("features")
      .setOutputCol("hashes")
      .setSeed(seed)
    val model = lsh.fit(in)
    // (band, key) per row: key = one 64-bit hash of the band's bandSize
    // bucket ids (a key collision only ever ADDS a candidate, which exact
    // re-scoring then filters — never drops one). hashes is
    // array<vector>, one single-element vector per hash table.
    def banded(df: DataFrame, idC: String) =
      model.transform(df)
        .withColumn("__b",
          transform(col("hashes"), h => vector_to_array(h)(0).cast("long")))
        .select(col(idC), col("__v"), col("__b"),
          explode(sequence(lit(0), lit(bands - 1))).as("__band"))
        .withColumn("__key", xxhash64(
          col("__band"),
          slice(col("__b"), col("__band") * bandSize + 1, lit(bandSize))))
        .select(col(idC), col("__v"), col("__band"), col("__key"))
    val qb = banded(qn, "query_id")
    val ib0 = banded(in, "item_id")
    // deterministic per-(band,bucket) cap — seeded-hash order, so the
    // retained sample is stable across runs and partitionings
    val wCap = Window.partitionBy(col("__band"), col("__key"))
      .orderBy(xxhash64(col("item_id"), col("__key"), lit(seed)),
        col("item_id"))
    val ib = ib0.withColumn("__rn", row_number().over(wCap))
      .filter(col("__rn") <= maxBucketSize)
      .select(col("item_id"), col("__v").as("__iv"),
        col("__band"), col("__key"))
    val candidates = qb.join(ib, Seq("__band", "__key"))
      .filter(col("query_id") =!= col("item_id"))
      .select(col("query_id"), col("item_id"),
        col("__v").as("__qv"), col("__iv"))
      .dropDuplicates("query_id", "item_id")
    val scored = candidates
      .withColumn("score", vecDotNative(col("__qv"), col("__iv")))
      .filter(col("score") >= lit(1.0) - lit(maxDistance * maxDistance) / 2.0)
    topKPerQuery(scored, k)
  }

  /** R9: intra-list diversity — mean pairwise cosine DISTANCE among each
    * user's top-N recommended item embeddings (`metrics.py:402-446`).
    * Input: recs (userCol, array of item ids, ranked), embeddings
    * (itemId, vecCol). Self-join on position pairs i < j. */
  def intraListDiversity(recs: DataFrame, userCol: String, predCol: String,
                         topN: Int, embeddings: DataFrame, itemId: String,
                         vecCol: String): DataFrame = {
    val normEmb =
      metricPrep(embeddings, itemId, vecCol, "__item", "__v", "cosine")
    val exploded = recs.select(col(userCol),
      posexplode(slice(col(predCol), 1, topN)).as(Seq("pos", "__item")))
      .join(broadcast(normEmb), Seq("__item"))
    val a = exploded.select(col(userCol), col("pos").as("p1"),
      col("__v").as("v1"))
    val b = exploded.select(col(userCol), col("pos").as("p2"),
      col("__v").as("v2"))
    a.join(b, Seq(userCol))
      .filter(col("p1") < col("p2"))
      .groupBy(col(userCol))
      .agg(avg(lit(1.0) - vecDotNative(col("v1"), col("v2"))).as("diversity"))
  }

  /** Embedding near-duplicate pairs at scale: cluster-prune then verify
    * cosine >= threshold within clusters (never all-pairs).
    *
    * Sizing nlist: choose nlist ∝ n (e.g. n/1000) so per-cluster size —
    * and with it the within-cluster pair join — stays CONSTANT per row;
    * a fixed nlist at growing n is quadratic (measured 40× time at 10×
    * vectors, BENCH_SF10.md). The Θ(n·nlist) centroid-assignment term
    * then grows n²/1000, which stays minor below ~1 M vectors; past that
    * — i.e. once nlist crosses `twoLevelNlistAbove` under the n/1000
    * rule — assignment switches to [[assignClustersTwoLevel]]
    * (√nlist coarse cells, fine within the probed cells, Θ(n·2√nlist)),
    * the standard IVF escalation. The switch changes WHICH boundary
    * rows land in which cluster; VectorSpec pins planted-pair PARITY
    * (two-level recall ≥ flat's, within tolerance). Neither mode is
    * lossless — hash-seeded clustering can split an ε-close pair when
    * both members are picked as centroids or their cluster gets no
    * centroid — which is why this is the scale path while the
    * SimHash/MinHash families remain the exactness references.
    *
    * `multiProbe` > 1 is the recall knob for exactly those split modes:
    * each row ALSO probes its 2nd..p-th nearest clusters, and a pair is
    * a candidate when either member's probe set contains the other's
    * ASSIGNED cluster (probe ⋈ assign — candidate volume grows ~p×, not
    * p²). A boundary-split ε-pair's second-nearest centroid is almost
    * always its partner's nearest, so p = 2 recovers most splits
    * (measured on the planted geometric corpus — d_semantic_recall_geo).
    * The p = 1 pair set is a subset of every p > 1 set by construction.
    *
    * Building the frame RUNS SPARK JOBS: the nlist-row centroid table is
    * eagerly `localCheckpoint(true)`ed when this is called, before the
    * returned frame is executed (or even if it never is), and its blocks
    * stay pinned in executor storage until their RDD is garbage-collected
    * — the same side effect as [[clusterPrunedTopK]]. */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, nlist: Int = 64,
                        seed: Long = 42,
                        twoLevelNlistAbove: Int = 1000,
                        multiProbe: Int = 1): DataFrame = {
    require(multiProbe >= 1, s"embeddingNearDups: multiProbe=$multiProbe")
    // same eager nlist-row checkpoint as clusterPrunedTopK (r20): the
    // two-level assignment otherwise re-runs the full-scan pick subtree
    // for each of its two driver collects
    val centroids = pickCentroids(df, idCol, vecCol, nlist, seed)
      .localCheckpoint(true)
    val ided = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val flat =
      if (nlist > twoLevelNlistAbove)
        assignClustersTwoLevel(ided, "__v", centroids, nlist, seed = seed,
          fineProbe = multiProbe)
      else assignClusters(ided, "__v", centroids, probe = multiProbe)
    if (multiProbe == 1) {
      val assigned = normalized(flat, "__v", "__nv").drop("__v")
      val a = assigned.select(col("__id").as("id1"), col("__nv").as("v1"),
        col("centroid_id"))
      val b = assigned.select(col("__id").as("id2"), col("__nv").as("v2"),
        col("centroid_id"))
      a.join(b, Seq("centroid_id"))
        .filter(col("id1") < col("id2"))
        .withColumn("cosine", vecDotNative(col("v1"), col("v2")))
        .filter(col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
    } else {
      // probe ⋈ assign: one assignment pass produced both views (rank 1 =
      // the assignment). Candidates are id pairs; vectors re-joined after
      // the distinct so the p-way fanout never carries arrays.
      val probed = flat.select(col("__id"), col("centroid_id"),
        col("centroid_rank"))
      val assignedIds = probed.filter(col("centroid_rank") === 1)
        .select(col("__id").as("__ida"), col("centroid_id"))
      val cand = probed.select(col("__id").as("__idp"), col("centroid_id"))
        .join(assignedIds, Seq("centroid_id"))
        .filter(col("__idp") =!= col("__ida"))
        .select(least(col("__idp"), col("__ida")).as("id1"),
          greatest(col("__idp"), col("__ida")).as("id2"))
        .distinct()
      val vecs = normalized(ided, "__v", "__nv").drop("__v")
      cand
        .join(vecs.select(col("__id").as("id1"), col("__nv").as("v1")),
          Seq("id1"))
        .join(vecs.select(col("__id").as("id2"), col("__nv").as("v2")),
          Seq("id2"))
        .withColumn("cosine", vecDotNative(col("v1"), col("v2")))
        .filter(col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
    }
  }

  /** Semantic dedup, resolved — the SemDeDup recipe (Abbas et al. 2023):
    * partition the corpus into buckets, connect every within-bucket pair
    * whose cosine clears `threshold`, and keep exactly one member (min id)
    * per connected semantic group. Returns the kept rows of `df` (all
    * columns, non-keepers dropped) — the embedding-space sibling of the
    * token-level `x16` resolution.
    *
    * `bucketCol` is the blocking key: a kmeans cluster id
    * ([[assignClusters]] / [[assignClustersTwoLevel]]) at scale — pair
    * work is Σ per-bucket n², linear when buckets are size-bounded — or a
    * semantic label/partition column when one exists. Pairs never cross
    * buckets (the SemDeDup approximation; its measured cost is the
    * cross-cluster recall loss, bounded the same way embeddingNearDups'
    * is). Cosines are rounded to 6 decimals BEFORE thresholding so the
    * keep/drop boundary is reproducible across engines and reassociation
    * orders.
    *
    * DECISION RULE for the blocking key at scale:
    *  1. A trusted semantic partition column exists (language, source,
    *     shard with no cross-shard dups) → use it directly.
    *  2. Otherwise block on kmeans clusters ([[assignClusters]] /
    *     [[assignClustersTwoLevel]]), nlist ∝ n (n/1000) so bucket size
    *     stays constant. Cluster blocking is only sound when near-dups
    *     are GEOMETRICALLY tight (cosine ≫ the background spectrum):
    *     on the planted geometric corpus it measures ≥0.9 pair recall
    *     (`d_semantic_recall_geo`), while against a NON-geometric
    *     labeling it measures ~0.35 (`d_semantic_recall` on the driver
    *     testdata, whose labels don't correlate with geometry) — the
    *     two numbers bracket what the approximation does and doesn't
    *     promise.
    *  3. Validate on YOUR corpus with [[semanticBlockingRecall]] on a
    *     sample before trusting a config; if recall falls short of
    *     target, raise `multiProbe` to 2 (recovers boundary/centroid
    *     splits at ~2x candidate volume) before raising nlist density. */
  def semanticDedupResolve(df: DataFrame, idCol: String, vecCol: String,
                           bucketCol: String,
                           threshold: Double): DataFrame = {
    val e = normalized(
      df.select(col(idCol), col(bucketCol), col(vecCol)), vecCol, "__nv")
    val a = e.select(col(bucketCol), col(idCol).as("__id1"),
      col("__nv").as("__v1"))
    val b = e.select(col(bucketCol), col(idCol).as("__id2"),
      col("__nv").as("__v2"))
    val pairs = a.join(b, Seq(bucketCol))
      .filter(col("__id1") < col("__id2"))
      .filter(round(vecDotNative(col("__v1"), col("__v2")), 6)
        >= lit(threshold))
      .select(col("__id1"), col("__id2"))
    val cc = Dedup.connectedComponents(pairs, "__id1", "__id2")
    val drop = cc.filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Deterministic planted GEOMETRIC near-dup corpus — the evidence
    * fixture for the cluster-blocking scale path: every input vector
    * spawns `copies` variants (copy 0 = the original; copies 1.. get
    * per-lane jitter `eps`·u, u ∈ [−1, 1) hash-derived from
    * (group, copy, lane) — no RNG, same rows every run). Each group is
    * an ε-ball: for unit-norm d-dim inputs, within-group cosine ≈
    * 1 − d·eps²/3, far above the random-pair background (σ ≈ 1/√d), so
    * `geo_group` is a GEOMETRIC ground-truth blocking — what
    * [[semanticBlockingRecall]]'s refBucketCol needs to measure cluster
    * blocking on the regime SemDeDup actually targets (near-dups that
    * are tight in embedding space). Requires a numeric id; output ids
    * are `id·copies + copy` (disjoint across groups). Returns
    * (vec_id, geo_group, vec). */
  def plantedGeometricCorpus(df: DataFrame, idCol: String, vecCol: String,
                             copies: Int = 3,
                             eps: Double = 0.02): DataFrame = {
    require(copies >= 2 && eps > 0,
      s"plantedGeometricCorpus: copies=$copies eps=$eps")
    df.select(col(idCol).cast("long").as("geo_group"),
        col(vecCol).as("__base"))
      .select(col("geo_group"), col("__base"),
        explode(sequence(lit(0), lit(copies - 1))).as("__c"))
      .select(
        (col("geo_group") * copies + col("__c")).as("vec_id"),
        col("geo_group"),
        when(col("__c") === 0, col("__base"))
          .otherwise(transform(col("__base"), (x, i) =>
            (x + lit(eps) *
              (pmod(xxhash64(col("geo_group"), col("__c"), i),
                lit(2000000L)).cast("double") / 1000000.0 - 1.0))
              .cast("float"))).as("vec"))
  }

  /** Measures the SemDeDup blocking approximation: pair recall of the
    * kmeans-cluster-blocked semantic pair set against the
    * `refBucketCol`-blocked reference pair set at the same cosine
    * threshold (the [[semanticDedupResolve]] semantics). One row:
    * (n_ref_pairs, n_cluster_pairs, n_found, recall) — the number that
    * turns "pairs never cross clusters" from a scaladoc caveat into a
    * per-round measurement, same shape as the MinHash-cap and ANN recall
    * harnesses. Both pair generators are equi-joins (bucket key /
    * centroid id); nothing here is all-pairs. With nlist = 1 every
    * vector shares one cluster, so recall is exactly 1.0 — the spec's
    * structural anchor. */
  def semanticBlockingRecall(df: DataFrame, idCol: String, vecCol: String,
                             refBucketCol: String, threshold: Double,
                             nlist: Int, seed: Long = 42,
                             multiProbe: Int = 1): DataFrame = {
    val e = normalized(
      df.select(col(idCol), col(refBucketCol), col(vecCol)), vecCol, "__nv")
    val a = e.select(col(refBucketCol), col(idCol).as("id1"),
      col("__nv").as("__v1"))
    val b = e.select(col(refBucketCol), col(idCol).as("id2"),
      col("__nv").as("__v2"))
    val ref = a.join(b, Seq(refBucketCol))
      .filter(col("id1") < col("id2"))
      .filter(round(vecDotNative(col("__v1"), col("__v2")), 6)
        >= lit(threshold))
      .select(col("id1"), col("id2"))
    // Candidate filter runs 1e-6 BELOW the threshold, then the rounded
    // threshold is applied — so the cluster path's keep/drop boundary is
    // identical to the reference's (a raw >= t filter would drop a pair
    // whose unrounded cosine sits a hair under t while round(·,6) >= t).
    val clus = embeddingNearDups(df.select(col(idCol), col(vecCol)),
      idCol, vecCol, threshold = threshold - 1e-6, nlist = nlist,
      seed = seed, multiProbe = multiProbe)
      .filter(round(col("cosine"), 6) >= lit(threshold))
      .select(col("id1"), col("id2"))
    // ONE execution of each pair generator (r19, guide §2.4): the old
    // three-subtree form (semi-join numerator + two counts) ran `ref`
    // twice and `clus` twice — both are the expensive within-bucket
    // cosine joins. Both emit each (id1, id2) at most once (single
    // rank-1 assignment / explicit distinct), so a full-outer join +
    // one aggregate computes all three counts in a single pass of each.
    ref.withColumn("__r", lit(1))
      .join(clus.withColumn("__c", lit(1)), Seq("id1", "id2"), "full")
      .agg(count(col("__r")).as("n_ref_pairs"),
        count(col("__c")).as("n_cluster_pairs"),
        count(when(col("__r").isNotNull && col("__c").isNotNull, 1))
          .as("n_found"))
      .select(col("n_ref_pairs"), col("n_cluster_pairs"), col("n_found"),
        round(when(col("n_ref_pairs") === 0, 1.0)
          .otherwise(col("n_found").cast("double") / col("n_ref_pairs")), 4)
          .as("recall"))
  }

  /** SEMANTIC decontamination — the embedding-level sibling of the n-gram
    * report ([[TextAnalysis.decontaminationReport]]): flag every training
    * document whose embedding sits within cosine `threshold` of ANY
    * benchmark/test embedding (the leakage n-gram matching misses —
    * paraphrases, translations, format-shifted copies). Output: one row
    * per train row — (idCol, max_sim, contaminated), `max_sim` the
    * maximum per-pair cosine rounded to 6 before the threshold so
    * keep/drop is engine-reproducible (the d_semantic_resolve rule;
    * round is monotone, so round-after-max equals max-of-rounded to the
    * bit — the oracle computes the latter).
    *
    * Scale shape, exact path: the test side is small by definition — its
    * normalized vectors are driver-collected (the centroid-table bound)
    * and every train vector folds over the whole set inside ONE
    * whole-stage-codegen'd kernel
    * ([[graft.functions.expr.MaxVectorDot]]) — a pure projection. The
    * corpus is scanned once; zero shuffles, zero joins on the train
    * side; work is Θ(|train|·|test|·d). That term is only cheap while
    * the test side stays benchmark-shaped: at the old 200 K-vector cap
    * with d = 50 the collected literal is an ~80 MB task-closure object
    * and the per-train-row cost is 2·10⁷ flops — 10× a 10⁴-vector
    * suite — which is why `nlist = 0` now means "choose for me", not
    * "always exact":
    *
    * `nlist = 0` (auto): the exact path is taken only when the REAL
    * collected size passes a shape gate (the
    * [[TextAnalysis.decontaminationReportFromTokens]] lesson, adapted):
    * collected bytes ≤ 16 MB, and — once past 1 MB, where the per-row
    * flop term starts to matter — collected·16 ≤ train's Catalyst size
    * estimate (`optimizedPlan.stats`). The absolute arm deliberately
    * does NOT use the test side's plan stats: size-only estimation
    * propagates a Filter unchanged, so a `vec_id < 50` benchmark slice
    * of a corpus-sized table is "estimated" at full-table size — the
    * gate instead probes one row for the dimension, derives a row cap
    * from the 16 MB budget, and collects at most cap+1 rows (bounded
    * driver memory even when the test side IS the corpus). A test side
    * failing either arm auto-escalates to the cluster-blocked path with
    * `nlist = clamp(trainBytes / 64 KB, 64, 4096)` (≈ a few hundred
    * rows per cluster at typical dims) — note the escalated result is
    * the blocked path's, i.e. recall < 1 by construction.
    *
    * `nlist > 0` (cluster-blocked, pinned): the IVF escalation when
    * |train|·|test| stops being affordable — train rows score only
    * against test vectors probing their cluster (centroids picked from
    * the train corpus; test probes its `multiProbe` nearest, the
    * [[semanticBlockingRecall]] recall knob). A train row in no probed
    * cluster scores against nothing (null max_sim, clean) — recall < 1
    * by construction; the spec pins blocked ⊆ exact and equality on the
    * geometric regime. Per-cluster test vectors are pre-grouped into one
    * array row per cluster, so the block join is 1:≤1 broadcast — still
    * no train-side shuffle.
    *
    * Null rule: test vectors that are null or contain a null lane are
    * DROPPED before scoring (they carry no similarity evidence); train
    * rows keep the kernel's null-propagation — null/null-lane train
    * vector → null max_sim → `contaminated = false`.
    *
    * Engine-reproducibility note: cosines are computed as
    * dot(a/|a|, b/|b|) with per-element normalization; an oracle
    * computing dot(a,b)/(|a|·|b|) agrees to within float ulps, so a true
    * cosine landing within ~1e-15 of a round-6 boundary can in principle
    * flip `max_sim`/`contaminated` across engines, and a zero-norm
    * vector yields 0.0 here vs NaN under the divide-by-norm form. */
  def semanticDecontaminate(train: DataFrame, test: DataFrame, idCol: String,
                            vecCol: String, threshold: Double,
                            nlist: Int = 0, multiProbe: Int = 2,
                            seed: Long = 42): DataFrame = {
    require(nlist >= 0 && multiProbe >= 1,
      s"semanticDecontaminate: nlist=$nlist multiProbe=$multiProbe")
    val trn = deconTrain(train, idCol, vecCol)
    val tn = deconTest(test, vecCol)
    val scored =
      if (nlist > 0) blockedScore(trn, tn, idCol, nlist, multiProbe, seed)
      else {
        val (got, rowCap, dim) = collectTestCapped(tn)
        val bytes = math.min(got.length, rowCap).toLong * dim * 8L
        val trainBytes = trn.queryExecution.optimizedPlan.stats.sizeInBytes
        if (got.length <= rowCap &&
          exactDeconAffordable(bytes, trainBytes))
          exactScoreFromRows(trn, got, idCol)
        else
          blockedScore(trn, tn, idCol, autoDeconNlist(trainBytes),
            multiProbe, seed)
      }
    flagContaminated(scored, idCol, threshold)
  }

  /** Exact-path byte budget for the collected test-vector literal: 16 MB
    * keeps the task-closure object and the per-train-row flop term both
    * an order of magnitude under the measured degeneration point (80 MB /
    * 2·10⁷ flops at the old 200 K-row cap, d = 50). */
  private[graft] val ExactDeconByteCap: Long = 1L << 24

  /** The exact-vs-blocked shape gate, pure so the spec can pin it:
    * affordable = under the absolute byte cap AND (still small in
    * absolute terms, OR ≤ 1/16 of the train size estimate — the same
    * ratio the n-gram twin derives from Catalyst stats). The 1 MB floor
    * keeps tiny fixtures (where test ≈ train ≈ kilobytes) on the exact
    * path: the ratio arm models the |train|·|test| flop blow-up, which
    * needs an absolutely-large test side to exist at all. */
  private[graft] def exactDeconAffordable(testBytes: BigInt,
                                          trainBytes: BigInt): Boolean =
    testBytes <= ExactDeconByteCap &&
      (testBytes <= (1L << 20) || testBytes * 16 <= trainBytes)

  /** Auto-escalation nlist: one centroid per 64 KB of estimated train
    * bytes, clamped to [64, 4096] — a few hundred rows per cluster at
    * typical dims, the regime [[semanticBlockingRecall]] measured. */
  private[graft] def autoDeconNlist(trainBytes: BigInt): Int = {
    val raw = trainBytes / (1L << 16)
    math.max(64, math.min(4096, raw.min(BigInt(4096)).toInt))
  }

  /** Exact path, pinned (no shape gate) — the differential spec's handle
    * and the escape hatch for a caller who knows the test side is
    * benchmark-shaped regardless of what a bounded probe would decide. */
  private[graft] def semanticDecontaminateExact(
      train: DataFrame, test: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val trn = deconTrain(train, idCol, vecCol)
    // BOUNDED collect, now RUNTIME-ENFORCED (r20, VERDICT r19 #9): the
    // public path reaches here only through the rowCap limit-probe above
    // (nlist = 0 auto), but direct callers used to be review-trusted. The
    // same byte-derived rowCap is asserted here via a limit-gated collect,
    // so a test side past the exact-path budget fails loudly instead of
    // OOMing the driver.
    val (got, rowCap, dim) = collectTestCapped(deconTest(test, vecCol))
    require(got.length <= rowCap,
      s"semanticDecontaminateExact: test side exceeds the exact-path " +
        s"budget ($rowCap rows at dim=$dim) — use semanticDecontaminate " +
        "(auto-dispatch) or a blocked nlist > 0")
    flagContaminated(exactScoreFromRows(trn, got, idCol), idCol, threshold)
  }

  /** The exact path's bounded collect of the normalized test side: probe
    * one row for the dimension, derive the row cap from
    * [[ExactDeconByteCap]], and collect at most cap+1 rows — so
    * `rows.length > rowCap` means "over budget" without ever holding
    * more than the budget on the driver. Returns (rows, rowCap, dim). */
  private def collectTestCapped(
      tn: DataFrame): (Array[org.apache.spark.sql.Row], Int, Int) = {
    val dim = tn.limit(1).collect().headOption
      .map(_.getSeq[Any](0).length).getOrElse(1)
    val rowCap = math.max(1, (ExactDeconByteCap / (dim.toLong * 8L)).toInt)
    (tn.limit(rowCap + 1).collect(), rowCap, dim)
  }

  /** Output shape shared by both decontamination paths: `max_sim`
    * rounded to 6 decimals, and `contaminated` false for a null max. */
  private def flagContaminated(scored: DataFrame, idCol: String,
                               threshold: Double): DataFrame =
    scored
      .select(col(idCol), round(col("__rawmax"), 6).as("max_sim"))
      .withColumn("contaminated",
        coalesce(col("max_sim") >= threshold, lit(false)))

  private def deconTrain(train: DataFrame, idCol: String,
                         vecCol: String): DataFrame =
    metricPrep(train, idCol, vecCol, idCol, "__v", "cosine")

  /** Normalized test side with degenerate rows dropped: a null vector or
    * a null lane would NPE / MatchError the driver-side collect while
    * the train side handles both via the kernel's null rule — dropping
    * them makes the two sides' null semantics symmetric (a vector with
    * no value carries no similarity evidence). */
  private def deconTest(test: DataFrame, vecCol: String): DataFrame =
    normalized(
      test.select(col(vecCol).as("__tv"))
        .filter(col("__tv").isNotNull &&
          !exists(col("__tv"), x => x.isNull)),
      "__tv", "__tv")

  /** Exact scoring from already-collected normalized test rows: every
    * train row folds over the whole set inside ONE whole-stage-codegen'd
    * kernel ([[graft.functions.expr.MaxVectorDot]]). The per-pair dot
    * and the NaN-greatest max are bit-equal to the HOF
    * `array_max(transform(...))` form (spec-pinned), which this
    * replaces: the interpreted per-element lambda measured 11.5 s for
    * 200 K × 50 at sf10 — the kernel is the same data in a fused
    * primitive loop. round() is monotone, so rounding AFTER the max
    * equals the old max-of-rounded to the bit. */
  private def exactScoreFromRows(trn: DataFrame,
                                 rows: Array[org.apache.spark.sql.Row],
                                 idCol: String): DataFrame = {
    val testVecs = rows.map(r => toDoubles(r.getSeq[Any](0)))
    if (testVecs.isEmpty)
      trn.select(col(idCol),
        lit(null).cast("double").as("__rawmax"))
    else
      trn.select(col(idCol), ColumnBridge.column(
        graft.functions.expr.MaxVectorDot(
          ColumnBridge.expression(col("__v")), testVecs))
        .as("__rawmax"))
  }

  private def blockedScore(trn: DataFrame, tn: DataFrame, idCol: String,
                           nlist: Int, multiProbe: Int,
                           seed: Long): DataFrame = {
    val cents = pickCentroids(trn, idCol, "__v", nlist, seed)
    val perCluster = assignClusters(tn, "__tv", cents, probe = multiProbe)
      .groupBy(col("centroid_id"))
      .agg(collect_list(col("__tv")).as("__tvs"))
    assignClusters(trn, "__v", cents)
      .join(broadcast(perCluster), Seq("centroid_id"), "left")
      .select(col(idCol),
        array_max(transform(col("__tvs"), tv =>
          vecDotNative(col("__v"), tv))).as("__rawmax"))
  }

  // =====================================================================
  // Product quantization (Jégou et al. 2011 — the PQ half of the faiss
  // `IVFx,PQy` factory strings the reference's index config space allows,
  // `src/serving/retrieval.py:88-120`; the int8 path (c5b) cuts memory
  // 4×, PQ cuts it 4·dsub× — dim 64 float vectors become m one-byte
  // codes, 256 B → 8 B at m=8)
  // =====================================================================

  /** Trained product-quantization codebook ([[pqTrain]]): the `dim`-d
    * space split into `m` contiguous `dsub = dim/m`-wide subspaces, each
    * with its own `ksub`-centroid table; `cents(j)(c)` = sub-centroid c
    * of subspace j. `metric` records the training-side normalization
    * contract ("cosine" = inputs L2-normalized before slicing, distances
    * then rank identically to cosine; "l2" = raw vectors) — encode and
    * search must match it, enforced by [[pqTopK]]. Driver-sized by
    * construction: m·ksub·dsub doubles (8·256·8 = 16 K at dim 64), the
    * same config-bounded contract as `collectCentroids`. */
  final case class PqCodebook(dim: Int, m: Int, ksub: Int, metric: String,
                              cents: Array[Array[Array[Double]]]) {
    require(m >= 1 && dim % m == 0,
      s"PqCodebook: dim=$dim not divisible by m=$m")
    require(cents.length == m && cents.forall(_.length == ksub),
      s"PqCodebook: expected $m x $ksub centroid tables")
    val dsub: Int = dim / m
    /** Row-major (j·ksub + c)·dsub + t layout for the LUT literal. */
    private[graft] lazy val flat: Array[Double] = {
      val out = new Array[Double](m * ksub * dsub)
      var j = 0
      while (j < m) {
        var c = 0
        while (c < ksub) {
          System.arraycopy(cents(j)(c), 0, out, (j * ksub + c) * dsub, dsub)
          c += 1
        }
        j += 1
      }
      out
    }
  }

  /** Train a PQ codebook — ALL m subspaces in one plan: the vectors are
    * exploded once into (subspace, subvector) rows, seeds are the first
    * ksub subvectors per subspace in seeded-hash order (pickCentroids'
    * device, salt varies by subspace, realized as ONE ranked window
    * instead of m sort-limits), and each Lloyd round is one
    * broadcast-argmin + one (subspace, centroid, dim)-keyed mean over
    * the whole exploded frame. The per-subspace form paid m·(1+2·iters)
    * separate job chains (~80 jobs at m=16 — measured 32.6 s of pure
    * job overhead on a 2 K-vector corpus); this form is
    * seeds + refineIters checkpoints regardless of m.
    *
    * Scale contract: the Lloyd argmin joins the exploded sample against
    * the broadcast (subspace, centroid) table — n·m·ksub candidate rows,
    * the blow-up the native [[assignClusters]] kernel avoids for
    * CATALOG-side assignment. Training is therefore meant to run on
    * `trainSampleN` rows at scale (the faiss practice — codebooks
    * converge on a fraction of the corpus; the sample is
    * seeded-hash-picked so the codebook is reproducible); ENCODING the
    * full catalog stays the native no-join projection ([[pqEncode]]). */
  def pqTrain(items: DataFrame, itemId: String, vecCol: String,
              m: Int, ksub: Int, metric: String = "cosine",
              seed: Long = 42, refineIters: Int = 2,
              trainSampleN: Int = 0): PqCodebook = {
    require(metric == "cosine" || metric == "l2", s"pqTrain: metric=$metric")
    require(m >= 1 && ksub >= 1, s"pqTrain: m=$m ksub=$ksub")
    val base0 = metricPrep(items, itemId, vecCol, "__id", "__v", metric)
    val base =
      if (trainSampleN > 0)
        base0.withColumn("__h", xxhash64(col("__id"), lit(seed)))
          .orderBy(col("__h"), col("__id")).limit(trainSampleN).drop("__h")
      else base0
    // lazy checkpoint is SAFE here only because the very next line's
    // .head materializes it synchronously on this thread — the lazy-
    // checkpoint deadlock (refineCentroids comment / BENCH_SF10 r18
    // addendum 5) needs an UNMATERIALIZED checkpoint reaching a
    // concurrent final plan
    val cached = base.localCheckpoint(false)
    val dim = cached.select(
      org.apache.spark.sql.functions.size(col("__v"))).head.getInt(0)
    require(dim % m == 0, s"pqTrain: dim=$dim not divisible by m=$m")
    val dsub = dim / m
    // seeds: first ksub per subspace in (hash(id, seed + j), id) order —
    // pickCentroids' pick, one windowed pass over the exploded
    // subvectors, collected (m·ksub rows — the centroid-table bound)
    val wSeed = Window.partitionBy(col("__j"))
      .orderBy(xxhash64(col("__id"), col("__j") + lit(seed)), col("__id"))
    val seedRows = cached.select(col("__id"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        j => slice(col("__v"), (j * dsub + 1).cast("int"), lit(dsub))))
        .as(Seq("__j", "__sv")))
      .withColumn("__c", row_number().over(wSeed) - 1)
      .filter(col("__c") < ksub)
      .select(col("__j"), col("__c"), col("__sv")).collect()
    val byJ = seedRows.groupBy(_.getInt(0))
    val kEff = byJ.values.map(_.length).min
    var cents: Array[Array[Array[Double]]] = Array.tabulate(m)(j =>
      byJ(j).sortBy(_.getInt(1)).take(kEff)
        .map(r => toDoubles(r.getSeq[Any](2))))
    // Lloyd rounds with DRIVER-side centroid state: assignment is the
    // native no-join projection (the pqEncode kernel chain) and the
    // per-(subspace, code, dim) means are ONE map-combined aggregation —
    // a BOUNDED collect of m·ksub·dsub cells per round — no n·ksub
    // candidate materialization, no window shuffle (the join+argmin form shuffled
    // n·m candidate-array rows per round; measured 5.5 s warm on a
    // 2 K-vector corpus vs ~1 s for this form).
    for (_ <- 1 to refineIters) {
      val ids = Array.tabulate(kEff)(_.toLong)
      val perJ = (0 until m).map { j =>
        cached.select(
          lit(j).as("__j"),
          element_at(ColumnBridge.column(
            graft.functions.expr.NearestCentroids(
              ColumnBridge.expression(slice(col("__v"),
                j * dsub + 1, dsub)), ids, cents(j), 1)), 1)
            .cast("int").as("__c"),
          posexplode(slice(col("__v"), j * dsub + 1, dsub))
            .as(Seq("__t", "__x")))
      }.reduce(_ unionAll _)
      val meanRows = perJ
        .groupBy(col("__j"), col("__c"), col("__t"))
        .agg(avg(col("__x").cast("double")).as("__m"))
        .collect()
      val next = cents.map(_.map(_.clone()))
      meanRows.groupBy(r => (r.getInt(0), r.getInt(1))).foreach {
        case ((j, c), rs) =>
          if (c >= 0 && c < kEff)
            rs.foreach(r => next(j)(c)(r.getInt(2)) = r.getDouble(3))
      }
      cents = next // empty (j, c) cells keep their previous centroid
    }
    PqCodebook(dim, m, kEff, metric, cents)
  }

  /** Encode vectors to `m` PQ codes (ints in [0, ksub)): per subspace,
    * the nearest sub-centroid via the native [[assignClusters]] kernel
    * chain — m codegen'd projections over slices of ONE materialized
    * (optionally normalized) vector column; no joins, no shuffles, no
    * candidate rows. The codes array is the 4·dsub×-smaller payload the
    * search side moves around. */
  def pqEncode(df: DataFrame, vecCol: String, cb: PqCodebook,
               outCol: String = "pq_codes"): DataFrame = {
    val tmp = "__pq_nv"
    val withV =
      if (cb.metric == "cosine")
        normalized(df, vecCol, tmp)
      else df.withColumn(tmp, col(vecCol))
    pqEncodeNoNorm(withV, tmp, cb, outCol).drop(tmp)
  }

  /** Per-query ADC lookup table (asymmetric distance computation): a flat
    * m·ksub array where slot j·ksub + c is ||q_j − cent(j)(c)||² — built
    * ONCE per query row from the codebook literal, so per-pair scoring
    * is m array lookups instead of a d-wide float walk. `qVec` MUST be a
    * materialized column attribute (HOF lambdas re-evaluate referenced
    * subtrees per element — the wordShingles O(L²) trap). */
  private[graft] def pqLut(qVec: Column, cb: PqCodebook): Column = {
    val cbLit = typedLit(cb.flat.toSeq)
    transform(sequence(lit(0), lit(cb.m * cb.ksub - 1)), i => {
      val j = floor(i.cast("double") / cb.ksub).cast("int")
      aggregate(sequence(lit(0), lit(cb.dsub - 1)), lit(0.0), (acc, t) => {
        val q = element_at(qVec, j * cb.dsub + t + 1).cast("double")
        val c = element_at(cbLit, i * cb.dsub + t + 1)
        acc + (q - c) * (q - c)
      })
    })
  }

  /** ADC distance of one (query LUT, item codes) pair: Σ_j lut[j·ksub +
    * codes_j] — m lookups, no vector math. */
  private[graft] def pqAdcDist(lut: Column, codes: Column, ksub: Int): Column =
    aggregate(zip_with(codes, sequence(lit(0), size(codes) - 1),
      (c, j) => element_at(lut, j * ksub + c + 1)),
      lit(0.0), (acc, x) => acc + x)

  /** ADC-scores every (`__lut`, `__codes`) candidate: `__d` is the
    * [[pqAdcDist]] distance and `score` its metric form — 1 − d/2 for
    * cosine (on unit vectors ||q−x||² = 2 − 2·cos, so recall harnesses
    * compare ranks directly against the exact baseline), −d for l2. */
  private def withAdcScore(cand: DataFrame, ksub: Int,
                           metric: String): DataFrame =
    cand.withColumn("__d", pqAdcDist(col("__lut"), col("__codes"), ksub))
      .withColumn("score",
        if (metric == "cosine") lit(1.0) - col("__d") / 2.0
        else -col("__d"))

  /** The codes-only catalog [[pqTopK]] scans — (item_id, __codes). A pure
    * deterministic function of (items, cb), so a multi-arm recall harness
    * encodes it ONCE (localCheckpoint it) and passes it to every arm. The
    * evalBarrier keeps the m encode projections from re-evaluating per
    * PAIR in pqTopK's nested-loop consume (measured: 17.9 s for 50×2 K
    * pairs vs 0.6 s barriered, m=16/ksub=64). */
  def pqEncodedItems(items: DataFrame, itemId: String, vecCol: String,
                     cb: PqCodebook): DataFrame =
    evalBarrier(pqEncode(items.select(col(itemId).as("item_id"),
      col(vecCol).as("__iv")), "__iv", cb, "__codes").drop("__iv"))

  /** R4 (PQ form): approximate top-k via PQ/ADC — items carry only their
    * m-byte codes (`encodedItems`, the [[pqEncodedItems]] catalog of the
    * same `cb`); each query builds its LUT once and every candidate costs
    * m lookups. Output contract matches [[bruteForceTopK]]:
    * (query_id, rank, item_id, score), ties by item id; `score` is the
    * ADC approximation (see [[withAdcScore]]). For exact scores on the
    * survivors (the faiss `refine` pattern), shortlist k·R here and
    * re-score with [[rerankExactTopK]].
    *
    * Scale shape: same request-batch-bounded BNLJ contract as
    * [[bruteForceTopK]] — the BROADCAST side is the query batch
    * (requests × (lut: m·ksub doubles)), the stream side scans codes-only
    * item rows (4·dsub× smaller than the float vectors the exact form
    * streams); at catalog scale compose with IVF pruning —
    * [[clusterPrunedTopKPq]], recall-gated by `r14b_ivfpq_recall`. */
  def pqTopK(queries: DataFrame, encodedItems: DataFrame, queryId: String,
             vecCol: String, k: Int, cb: PqCodebook,
             excludeSelf: Boolean = false): DataFrame = {
    // the broadcast build side materializes the LUT at the exchange
    val q = metricPrep(queries, queryId, vecCol, "query_id", "__qv",
      cb.metric).withColumn("__lut", pqLut(col("__qv"), cb)).drop("__qv")
    val pairs = broadcast(q).join(encodedItems,
      if (excludeSelf) col("query_id") =!= col("item_id") else lit(true))
    topKPerQuery(withAdcScore(pairs, cb.ksub, cb.metric), k)
  }

  /** The deterministic (centroids, encoded catalog) pair of the raw-vector
    * IVF∘PQ index: [[clusterPrunedTopKPq]] builds it internally, and a
    * caller measuring several operating points of the SAME index builds
    * it ONCE (localCheckpoint it) for [[clusterPrunedShortlistPqMulti]].
    * Returns (centroids: (centroid_id, centroid_vec),
    *  itemsC: (item_id, centroid_id, __codes)); itemsC is eval-barriered
    * for the multi-match probe join. */
  def pqPrunedCatalog(items: DataFrame, itemId: String, vecCol: String,
                      cb: PqCodebook, nlist: Int, seed: Long = 42,
                      refineIters: Int = 0): (DataFrame, DataFrame) = {
    val it0 = metricPrep(items, itemId, vecCol, "item_id", "__iv", cb.metric)
    val seeds = pickCentroids(it0, "item_id", "__iv", nlist, seed)
    val centroids =
      if (refineIters > 0) refineCentroids(it0, "__iv", seeds, refineIters)
      else seeds
    // evalBarrier: the encode+assign projections sit on the STREAM side
    // of a multi-match hash join (an item's centroid matches every
    // probing query) — deferred eval would re-run them per match
    val itemsC = evalBarrier(assignClusters(
      pqEncodeNoNorm(it0, "__iv", cb, "__codes"), "__iv", centroids)
      .select(col("item_id"), col("centroid_id"), col("__codes")))
    (centroids, itemsC)
  }

  /** IVF∘PQ — the faiss `IVFx,PQy` composition and the catalog-scale
    * serving form of [[pqTopK]]: cluster pruning bounds WHICH items are
    * scored (the [[clusterPrunedTopK]] centroid_id equi-join — scored
    * pairs shrink by ~nprobe/nlist) while PQ bounds WHAT each scored
    * item costs (m-code ADC lookups over a dim·4/m-compressed payload).
    * Builds its [[pqPrunedCatalog]] internally; `score` is the ADC
    * score. Two broadcast joins keep the per-query LUT out of the
    * candidate stream: the (query, centroid) probe frame and the
    * (query, lut) frame broadcast separately — candidates reference the
    * LUT from the hash table instead of materializing m·ksub doubles per
    * pair. Recall gated per round by `r14b_ivfpq_recall` (through
    * [[clusterPrunedShortlistPqMulti]], pinned equal to this function
    * arm by arm); both loss terms (pruning, quantization) are measured
    * against the same exact baseline there. */
  def clusterPrunedTopKPq(queries: DataFrame, items: DataFrame,
                          queryId: String, itemId: String, vecCol: String,
                          k: Int, cb: PqCodebook, nlist: Int = 64,
                          nprobe: Int = 8, seed: Long = 42,
                          refineIters: Int = 0,
                          excludeSelf: Boolean = false): DataFrame = {
    val (centroids, itemsC) =
      pqPrunedCatalog(items, itemId, vecCol, cb, nlist, seed, refineIters)
    val q0 = metricPrep(queries, queryId, vecCol, "query_id", "__qv",
      cb.metric)
    val qProbe = probeNearestCentroids(q0, centroids, nprobe)
      .select(col("query_id"), col("centroid_id"))
    val qLut = q0.withColumn("__lut", pqLut(col("__qv"), cb))
      .select(col("query_id"), col("__lut"))
    val cand = itemsC.join(broadcast(qProbe), Seq("centroid_id"))
      .join(broadcast(qLut), Seq("query_id"))
    topKPerQuery(
      withAdcScore(dropSelf(cand, excludeSelf), cb.ksub, cb.metric), k)
  }

  /** Multi-operating-point arm fan-out: every ADC-scored candidate joins
    * exactly the `nprobes` arms whose window admits its probe rank `__rn`
    * (`nprobe >= __rn` — the probe's (distance, centroid_id) order is
    * deterministic, so arm np's candidate set is the __rn ≤ np prefix,
    * bit-identical to a solo run at that nprobe). Returns
    * (nprobe, query_id, item_id, score). */
  private def probeArms(scored: DataFrame, nprobes: Seq[Int]): DataFrame = {
    val npLit = array(nprobes.sorted.map(lit(_)): _*)
    scored
      .withColumn("nprobe",
        explode(filter(npLit, np => np >= col("__rn"))))
      .select(col("nprobe"), col("query_id"), col("item_id"), col("score"))
  }

  /** Multi-operating-point ADC shortlist over ONE candidate pass (r20,
    * guide §2.4 — VERDICT r19 next #1): a recall harness measuring several
    * `nprobe` points of the SAME index previously built one probe window +
    * one LUT broadcast + one codes-catalog scan + one rank window PER ARM
    * (separate crossJoined subtrees share nothing). Here the probe runs
    * once at max(nprobes) KEEPING each centroid's probe rank `__rn`, every
    * candidate fans into its arms ([[probeArms]]), and ONE window ranked
    * per (nprobe, query) yields each arm's ADC shortlist. `prepared` is
    * the index's [[pqPrunedCatalog]], built once by the caller. Returns
    * (nprobe, query_id, rank, item_id, score) for rank ≤ shortK; for any
    * np in `nprobes`, filter(nprobe = np && rank ≤ k) equals
    * [[clusterPrunedTopKPq]](…, nprobe = np) on the same catalog at k ≤
    * shortK (differential pin in VectorSpec). Feed rank ≤ k·R to
    * [[rerankExactTopK]] for the refined arms. */
  def clusterPrunedShortlistPqMulti(queries: DataFrame,
                                    prepared: (DataFrame, DataFrame),
                                    queryId: String, vecCol: String,
                                    shortK: Int, cb: PqCodebook,
                                    nprobes: Seq[Int],
                                    excludeSelf: Boolean = false)
      : DataFrame = {
    require(shortK >= 1, s"clusterPrunedShortlistPqMulti: shortK=$shortK")
    require(nprobes.nonEmpty && nprobes.forall(_ >= 1) &&
      nprobes.distinct.length == nprobes.length,
      s"clusterPrunedShortlistPqMulti: nprobes=$nprobes")
    val (centroids, itemsC) = prepared
    val q0 = metricPrep(queries, queryId, vecCol, "query_id", "__qv",
      cb.metric)
    val qProbe = probeNearestCentroids(q0, centroids, nprobes.max)
      .select(col("query_id"), col("centroid_id"), col("__rn"))
    val qLut = q0.withColumn("__lut", pqLut(col("__qv"), cb))
      .select(col("query_id"), col("__lut"))
    val cand = itemsC.join(broadcast(qProbe), Seq("centroid_id"))
      .join(broadcast(qLut), Seq("query_id"))
    topKPerQuery(probeArms(withAdcScore(dropSelf(cand, excludeSelf),
      cb.ksub, cb.metric), nprobes), shortK, Seq("nprobe"))
  }

  /** Exact score of a (`__qv`, `__iv`) pair on metric-prepped vectors. */
  private def exactScore(metric: String): Column =
    if (metric == "cosine") vecDotNative(col("__qv"), col("__iv"))
    else -l2Distance(col("__qv"), col("__iv"))

  /** Exact re-rank of an ADC shortlist — the faiss `refine`/`RFlat`
    * pattern: ADC shortlists R·k candidates per query from the codes-only
    * scan ([[pqTopK]] at k·R, or a multi-arm shortlist's rank ≤ k·R),
    * then ONLY those candidates are re-scored with their full float
    * vectors and the exact top-k returned. Recall becomes "did the true
    * top-k survive into the ADC top-R" — far laxer than ADC ordering the
    * top-k itself (measured on the sf0.01 `embeddings` table: m=8/ksub=16
    * ADC-only 0.20 recall@5 → 0.69 at R=10; m=16/ksub=64 0.56 → 0.98) —
    * while the full-vector reads drop from the whole catalog to
    * requests·R rows. `short` carries (armCols…, query_id, item_id), so
    * a MULTI-ARM harness re-scores every arm's shortlist in ONE catalog
    * scan + one broadcast (r20, guide §2.4); full vectors never shuffle
    * (candidates + their query vectors are the broadcast build, the item
    * scan streams). Returns (armCols…, query_id, rank, item_id, score)
    * with rank ≤ k per (armCols…, query_id) and `score` the exact metric
    * score, so consumers see [[bruteForceTopK]] semantics on the
    * survivors. */
  def rerankExactTopK(short: DataFrame, queries: DataFrame,
                      items: DataFrame, queryId: String, itemId: String,
                      vecCol: String, k: Int, metric: String,
                      armCols: Seq[String] = Nil): DataFrame = {
    require(metric == "cosine" || metric == "l2",
      s"rerankExactTopK: metric=$metric")
    val q = metricPrep(queries, queryId, vecCol, "query_id", "__qv", metric)
    // evalBarrier: the normalize projection streams against a
    // multi-match broadcast probe — deferred eval re-runs it per match
    val it = evalBarrier(
      metricPrep(items, itemId, vecCol, "item_id", "__iv", metric))
    val candQ = broadcast(short.join(q, Seq("query_id")))
    topKPerQuery(it.join(candQ, Seq("item_id"))
      .withColumn("score", exactScore(metric)), k, armCols)
  }

  /** [[pqEncode]] minus the normalization — for callers that already hold
    * the metric-normalized vector column (the IVF∘PQ path normalizes once
    * and feeds both centroid assignment and encoding). */
  private def pqEncodeNoNorm(df: DataFrame, vecCol: String, cb: PqCodebook,
                             outCol: String): DataFrame = {
    val ids = Array.tabulate(cb.ksub)(_.toLong)
    val codes = array((0 until cb.m).map { j =>
      element_at(ColumnBridge.column(graft.functions.expr.NearestCentroids(
        ColumnBridge.expression(slice(col(vecCol), j * cb.dsub + 1, cb.dsub)),
        ids, cb.cents(j), 1)), 1).cast("int")
    }: _*)
    df.withColumn(outCol, codes)
  }

  /** The IVF probe, the one place it is built as a plan: per query, its
    * `nprobe` nearest centroids by l2 distance (request-sized cross
    * against the nlist-bounded table; ties broken by centroid_id so the
    * probed set is DETERMINISTIC — the multi-arm shortlists on arm np
    * being the `__rn` ≤ np prefix; [[probeOnDriver]] is its driver
    * twin). `q` is the already-prepped (query_id, __qv) frame. Returns
    * q's columns plus the centroid's, `__d` and the probe rank `__rn`
    * (1 = nearest); callers select what they need. */
  private[graft] def probeNearestCentroids(q: DataFrame,
                                           centroids: DataFrame,
                                           nprobe: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__d"), col("centroid_id"))
    q.crossJoin(broadcast(centroids))
      .withColumn("__d", l2Distance(col("__qv"), col("centroid_vec")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= nprobe)
  }

  /** [[probeNearestCentroids]] on the driver, over collected prepped
    * query rows (query_id, __qv) and a collected centroid table: the
    * same `l2Distance` (Double accumulation in array order, then sqrt;
    * null when either vector or a lane is null or the lengths differ),
    * the same order per query_id — distance ascending with nulls first
    * and NaN last, then centroid_id — and the same `nprobe` cut. Returns
    * (query_id, centroid_id, __qv) per probe, __qv as collected. */
  private[graft] def probeOnDriver(queries: Seq[Row], ids: Array[Long],
                                   vecs: Array[Array[Double]],
                                   nprobe: Int): Seq[Row] = {
    def dist(qv: Seq[Any], cv: Array[Double]): Option[Double] =
      if (qv == null || qv.length != cv.length || qv.contains(null)) None
      else {
        val q = toDoubles(qv)
        var acc = 0.0
        var j = 0
        while (j < q.length) { val d = q(j) - cv(j); acc += d * d; j += 1 }
        Some(math.sqrt(acc))
      }
    queries.groupBy(_.get(0)).values.toSeq.flatMap { rows =>
      rows.flatMap(r => ids.indices.map(c =>
          (dist(r.getSeq[Any](1), vecs(c)), ids(c), r)))
        .sortBy { case (d, id, _) => (d.isDefined, d.getOrElse(0.0), id) }(
          Ordering.Tuple3(Ordering.Boolean, Ordering.Double.TotalOrdering,
            Ordering.Long))
        .take(nprobe)
        .map { case (_, id, r) => Row(r.get(0), id, r.get(1)) }
    }
  }

  /** R4, STORED-ASSIGNMENT serving form (r17 — the probe half of the
    * streaming index-maintenance composition): top-k retrieval over a
    * catalog that already carries its `centroid_id` — the
    * incrementally-maintained base+delta store
    * ([[graft.streaming.StreamingJobs.ivfIndexedAppendStream]] /
    * `rebuildIvfStore`) — so serving never re-assigns the catalog: the
    * query probes its `nprobe` nearest centroids (request-sized cross
    * against the nlist-bounded table) and the candidate set is ONE
    * broadcast hash join on `centroid_id`, the store's partition
    * column. NOTE the join alone prunes COMPUTE, not I/O: when
    * `catalog` is the assembled serving view
    * ([[graft.streaming.StreamingJobs.ivfServingCatalog]]) its dedup
    * shuffle and the eval barrier here block the join key from
    * reaching the parquet scan, so every partition is LISTED and READ —
    * use [[servedTopKFromStore]] to get file-listing pruning (it
    * passes the probed centroid set below the catalog's dedup).
    * `centroids` must be the SAME frozen table the store was assigned
    * with (the frozen-tokenizer contract); `metric` must match the
    * vector space the assignment ran in ("l2" raw / "cosine"
    * pre-normalized). Output contract matches [[bruteForceTopK]]. With
    * nprobe = nlist every partition is probed and the result equals the
    * exact ranking regardless of stored assignments. */
  def clusterPrunedTopKStored(queries: DataFrame, catalog: DataFrame,
                              queryId: String, itemId: String,
                              vecCol: String, k: Int, centroids: DataFrame,
                              nprobe: Int, metric: String = "l2",
                              excludeSelf: Boolean = false): DataFrame = {
    require(nprobe >= 1, s"clusterPrunedTopKStored: nprobe=$nprobe")
    require(metric == "cosine" || metric == "l2",
      s"clusterPrunedTopKStored: metric=$metric")
    val qProbe = probeNearestCentroids(
      metricPrep(queries, queryId, vecCol, "query_id", "__qv", metric),
      centroids, nprobe)
      .select(col("query_id"), col("centroid_id"), col("__qv"))
    storedTopK(catalog, qProbe, itemId, vecCol, k, metric, excludeSelf)
  }

  /** The scoring tail of the stored-assignment forms: the catalog's
    * rows join the (query_id, centroid_id, __qv) probe rows on
    * centroid_id, exact scores, top `k` per query. */
  private def storedTopK(catalog: DataFrame, qProbe: DataFrame,
                         itemId: String, vecCol: String, k: Int,
                         metric: String, excludeSelf: Boolean): DataFrame = {
    val it = evalBarrier(metricPrep(catalog, itemId, vecCol, "item_id",
      "__iv", metric, Seq(col("centroid_id"))))
    val cand = it.join(broadcast(qProbe), Seq("centroid_id"))
    topKPerQuery(dropSelf(cand, excludeSelf)
      .withColumn("score", exactScore(metric)), k)
  }

  /** Most query rows [[servedTopKFromStore]] collects to probe on the
    * driver: it serves requests, not batches. */
  private[graft] val MaxServedQueries: Int = 1 << 16

  /** [[clusterPrunedTopKStored]] answered from the base+delta store, sized
    * to a request: the prepped query rows (at most [[MaxServedQueries]];
    * no job when they are a local relation) and the centroid table
    * ([[collectCentroids]]) are collected, and [[probeOnDriver]] probes
    * on the driver — the same probe rows the Spark probe computes. The
    * catalog reads only the probed cells
    * ([[graft.streaming.StreamingJobs.ivfServingCatalog]]'s
    * `probedCentroids`: directories resolved with Hadoop FS calls, schema
    * from one footer, centroid_id partition filter on each scan) with
    * the delta-wins dedup and the cell-straddle anti-join, so it equals
    * the unpruned catalog filtered to the probed cells; its rows join a
    * broadcast local relation of the (query_id, centroid_id, __qv) probe
    * rows on centroid_id. Results are identical to
    * [[clusterPrunedTopKStored]] over the full catalog. Returns the
    * [[bruteForceTopK]] output contract.
    *
    * When the store's halves fit the [[ServingSnapshot]] bound, the
    * request reads nothing: each half is held on the driver under the
    * file statuses [[graft.streaming.StreamingJobs.ivfCells]] lists, the
    * probed catalog is assembled from the held rows with the same
    * delta-wins dedup and cell-straddle guard
    * ([[graft.streaming.StreamingJobs.ivfServingSnapshot]]), and the
    * same scoring tail runs on the driver
    * ([[ServingSnapshot.collectOnDriver]]): an unchanged store with a
    * frozen centroid table answers with no Spark job, as a local
    * relation equal to the scan's. An append or a rebuild changes the
    * listing, so the next request sees it. */
  def servedTopKFromStore(queries: DataFrame, basePath: String,
                          deltaPath: String, queryId: String,
                          itemId: String, vecCol: String, k: Int,
                          centroids: DataFrame, nprobe: Int,
                          metric: String = "l2",
                          excludeSelf: Boolean = false): DataFrame =
    serveFromStore(queries, basePath, deltaPath, queryId, itemId, vecCol, k,
      centroids, nprobe, metric, excludeSelf, ServingSnapshot.MaxRootBytes)

  /** [[servedTopKFromStore]] with the serving snapshot's byte bound: a
    * store half whose listed files or decoded rows exceed
    * `maxSnapshotBytes` is scanned. */
  private[graft] def serveFromStore(queries: DataFrame, basePath: String,
                                    deltaPath: String, queryId: String,
                                    itemId: String, vecCol: String, k: Int,
                                    centroids: DataFrame, nprobe: Int,
                                    metric: String, excludeSelf: Boolean,
                                    maxSnapshotBytes: Long): DataFrame = {
    require(nprobe >= 1, s"servedTopKFromStore: nprobe=$nprobe")
    require(metric == "cosine" || metric == "l2",
      s"servedTopKFromStore: metric=$metric")
    val spark = queries.sparkSession
    val q = metricPrep(queries, queryId, vecCol, "query_id", "__qv", metric)
    val qRows = q.limit(MaxServedQueries + 1).collect()
    require(qRows.length <= MaxServedQueries,
      s"servedTopKFromStore: more than $MaxServedQueries query rows")
    val (ids, vecs) = collectCentroids(centroids)
    val probes = probeOnDriver(qRows.toSeq, ids, vecs, nprobe)
    val qProbe = spark.createDataFrame(probes.asJava,
      StructType(Seq(q.schema("query_id"),
        StructField("centroid_id", LongType, nullable = false),
        q.schema("__qv"))))
    val probed = probes.map(_.getLong(1)).distinct.sorted
    def topK(catalog: DataFrame) =
      storedTopK(catalog, qProbe, itemId, vecCol, k, metric, excludeSelf)
    graft.streaming.StreamingJobs.ivfServingSnapshot(spark, basePath,
        deltaPath, itemId, probed, maxSnapshotBytes) match {
      case Some(catalog) => ServingSnapshot.collectOnDriver(topK(catalog))
      case None => topK(graft.streaming.StreamingJobs.ivfServingCatalog(
        spark, basePath, deltaPath, itemId, Some(probed)))
    }
  }

  // =====================================================================
  // Residual-encoded IVF∘PQ (faiss `IVFx,PQy` parity — faiss encodes
  // RESIDUALS vec − coarse_centroid, not raw vectors, which is why its
  // ADC recall holds up at small m: within a probed cell the residual
  // variance is what's left AFTER the coarse quantizer, so the same
  // m·ksub codebook budget resolves much finer distances. The reference's
  // index factory family is exactly this — `src/serving/retrieval.py:
  // 88-120` builds `IVFx,PQy` strings whose faiss realization is
  // residual-encoded.)
  // =====================================================================

  /** Trained residual IVF∘PQ index: the FROZEN coarse centroid table
    * (driver-side — nlist·dim doubles, the collectCentroids bound) plus a
    * PQ codebook trained on residuals (vec − assigned centroid). Freezing
    * the centroids in the index (rather than re-deriving them at search
    * time) is what makes residual encode/decode coherent: the SAME table
    * quantizes coarse cells at train, encode and probe time — the
    * frozen-tokenizer contract applied to ANN. `metric` is the OUTER
    * contract ("cosine" = inputs L2-normalized before any of this, then
    * L2 on unit vectors ranks as cosine); the embedded codebook is always
    * trained with metric "l2" on residuals, which are NOT re-normalized
    * (a residual is a displacement, not a direction). `centroid_id` is
    * the 0-based row index into `centVecs`. */
  final case class IvfPqIndex(metric: String, dim: Int,
                              centVecs: Array[Array[Double]],
                              cb: PqCodebook) {
    require(metric == "cosine" || metric == "l2",
      s"IvfPqIndex: metric=$metric")
    require(centVecs.nonEmpty && centVecs.forall(_.length == dim),
      s"IvfPqIndex: centroid dims must all equal $dim")
    require(cb.dim == dim,
      s"IvfPqIndex: codebook dim ${cb.dim} != $dim")
    require(cb.metric == "l2",
      "IvfPqIndex: residual codebooks are always l2-trained")
    val nlist: Int = centVecs.length
    /** The frozen table as one literal for the residual kernels. */
    private[graft] lazy val coarseLit: Column = coarseLiteral(centVecs)
  }

  /** A centroid table as ONE row-major literal — slot centroid_id·dim + t
    * — so a residual is a slice lookup, not a join. */
  private def coarseLiteral(centVecs: Array[Array[Double]]): Column =
    typedLit(centVecs.flatten.toSeq)

  /** Rebuild a (centroid_id, centroid_vec) frame from driver arrays —
    * nlist rows, so search never re-derives centroids (and never re-runs
    * the seeding plan); ids are the 0-based array positions. */
  private def centroidFrame(spark: org.apache.spark.sql.SparkSession,
                            centVecs: Array[Array[Double]]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows: java.util.List[org.apache.spark.sql.Row] =
      centVecs.indices.map(i => org.apache.spark.sql.Row(
        i.toLong, centVecs(i).toSeq)).asJava
    spark.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("centroid_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("centroid_vec",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType), nullable = false))))
  }

  /** Train a residual IVF∘PQ index: coarse centroids exactly as the
    * non-residual IVF path picks them ([[pickCentroids]] seeds, optional
    * [[refineCentroids]] Lloyd rounds — `coarseIters` 0 keeps them
    * IDENTICAL to [[clusterPrunedTopKPq]]'s at the same (nlist, seed),
    * so a raw-vs-residual recall comparison isolates the quantization
    * term), then [[pqTrain]] on the residual frame (vec − assigned
    * centroid, metric "l2", never re-normalized).
    *
    * Scale shape: the residual projection is a per-row zip_with against
    * the BROADCAST-LITERAL centroid table slice — no join, no shuffle on
    * the catalog; training itself runs on `trainSampleN` rows at scale
    * (the pqTrain sampling contract). */
  def ivfPqTrain(items: DataFrame, itemId: String, vecCol: String,
                 m: Int, ksub: Int, nlist: Int, metric: String = "cosine",
                 seed: Long = 42, coarseIters: Int = 0, pqIters: Int = 2,
                 trainSampleN: Int = 0): IvfPqIndex = {
    require(metric == "cosine" || metric == "l2", s"ivfPqTrain: $metric")
    val it0 = metricPrep(items, itemId, vecCol, "__id", "__v", metric)
    val seeds = pickCentroids(it0, "__id", "__v", nlist, seed)
    val cents =
      if (coarseIters > 0) refineCentroids(it0, "__v", seeds, coarseIters)
      else seeds
    val (ids, centVecs) = collectCentroids(cents)
    require(ids.indices.forall(i => ids(i) == i.toLong),
      "ivfPqTrain: centroid ids must be the contiguous 0-based range")
    val dim = centVecs.head.length
    val coarseLit = coarseLiteral(centVecs)
    // residual frame over the frozen table (literal lookup by id — the
    // centroids are already driver-side, a join would re-shuffle nothing
    // but still plan an exchange)
    val resid = assignClusters(it0, "__v",
      centroidFrame(it0.sparkSession, centVecs))
      .select(col("__id"),
        zip_with(col("__v"),
          slice(coarseLit,
            (col("centroid_id").cast("long") * dim + 1).cast("int"),
            lit(dim)),
          (a, b) => a.cast("double") - b).as("__rv"))
    val cb = pqTrain(resid, "__id", "__rv", m, ksub, metric = "l2",
      seed = seed, refineIters = pqIters, trainSampleN = trainSampleN)
    IvfPqIndex(metric, dim, centVecs, cb)
  }

  /** Per-subspace residual PQ codes — the encode projection of the
    * residual path: subspace j's code is the nearest sub-centroid of
    * (vec[j·dsub..] − coarse[cid·dim + j·dsub..]), residual computed
    * SLICE-WISE so the arithmetic stays m·dsub = dim ops per row (a
    * whole-vector residual column re-sliced m times would pay m·dim).
    * `cidCol` MUST be a materialized attribute (evaluate the assignment
    * in a prior barriered projection) — projection collapse would
    * otherwise inline the assignment kernel into every subspace. */
  private def pqEncodeResidualCol(vecCol: Column, cidCol: Column,
                                  idx: IvfPqIndex): Column = {
    val cb = idx.cb
    val ids = Array.tabulate(cb.ksub)(_.toLong)
    val coarseLit = idx.coarseLit
    array((0 until cb.m).map { j =>
      val sub = zip_with(
        slice(vecCol, j * cb.dsub + 1, cb.dsub),
        slice(coarseLit,
          (cidCol.cast("long") * idx.dim + j * cb.dsub + 1).cast("int"),
          lit(cb.dsub)),
        (a, b) => a.cast("double") - b)
      element_at(ColumnBridge.column(graft.functions.expr.NearestCentroids(
        ColumnBridge.expression(sub), ids, cb.cents(j), 1)), 1).cast("int")
    }: _*)
  }

  /** Per-(query, probed centroid) residual ADC lookup table: slot
    * j·ksub + c is ||(q − coarse_cid)_j − subcent(j)(c)||². THE residual-
    * PQ law: the LUT is per PROBE PAIR, not per query — the same query
    * has a different residual in every probed cell. The coarse component
    * is folded in as a literal lookup (element_at on the frozen flat
    * table), so no residual vector is materialized. `qVec`/`cidCol` MUST
    * be attributes (the pqLut HOF re-evaluation contract). */
  private def pqLutResidual(qVec: Column, cidCol: Column,
                            idx: IvfPqIndex): Column = {
    val cb = idx.cb
    val cbLit = typedLit(cb.flat.toSeq)
    val coarseLit = idx.coarseLit
    transform(sequence(lit(0), lit(cb.m * cb.ksub - 1)), i => {
      val j = floor(i.cast("double") / cb.ksub).cast("int")
      aggregate(sequence(lit(0), lit(cb.dsub - 1)), lit(0.0), (acc, t) => {
        val pos = j * cb.dsub + t + 1
        val q = element_at(qVec, pos).cast("double") -
          element_at(coarseLit,
            (cidCol.cast("long") * idx.dim + pos.cast("long")).cast("int"))
        val c = element_at(cbLit, i * cb.dsub + t + 1)
        acc + (q - c) * (q - c)
      })
    })
  }

  /** The deterministic residual-encoded catalog — (item_id, centroid_id,
    * __codes) — that [[clusterPrunedTopKPqResidual]] builds internally; a
    * caller measuring several operating points of the SAME index encodes
    * it ONCE (localCheckpoint it) for
    * [[clusterPrunedShortlistPqResidualMulti]]. The coarse table lives in
    * `idx` (driver-side), so unlike the raw-PQ form there is no centroid
    * frame to share — only the catalog side. */
  def residualEncodedCatalog(items: DataFrame, itemId: String,
                             vecCol: String, idx: IvfPqIndex): DataFrame = {
    val cents = centroidFrame(items.sparkSession, idx.centVecs)
    val it0 = metricPrep(items, itemId, vecCol, "item_id", "__iv", idx.metric)
    // barrier 1: assignment kernel evaluated once per item (projection
    // collapse would otherwise inline it into all m encode slices);
    // barrier 2: codes evaluated once before the multi-match probe join
    val itemsA = evalBarrier(assignClusters(it0, "__iv", cents))
    evalBarrier(itemsA
      .select(col("item_id"), col("centroid_id"),
        pqEncodeResidualCol(col("__iv"), col("centroid_id"), idx)
          .as("__codes")))
  }

  /** R4, residual IVF∘PQ form (faiss `IVFx,PQy` semantics): cluster
    * pruning bounds WHICH items are scored (centroid_id equi-join), PQ
    * over RESIDUALS bounds WHAT each scored item costs — and because the
    * codebook only has to span the within-cell displacement (not the
    * whole space), ADC distances are far closer to exact than
    * [[clusterPrunedTopKPq]]'s raw-vector codes at identical
    * (nlist, nprobe, m, ksub). Output contract matches
    * [[bruteForceTopK]]; `score` is the ADC score.
    *
    * Plan shape: items are assigned (native kernel), residual-encoded
    * slice-wise ([[residualEncodedCatalog]]), and eval-barriered BEFORE
    * the multi-match probe join; the broadcast build side is the (query,
    * probed centroid, LUT) frame — requests·nprobe rows of m·ksub doubles
    * (the per-probe LUT is the price of residual encoding; at
    * requests=50, nprobe=8, m=16, ksub=64 that is 3 MB). One broadcast
    * hash join on centroid_id then streams the codes-only catalog; ADC is
    * m lookups per candidate.
    *
    * For cosine, ADC approximates ||q − x||² directly (q − x =
    * (q − c) − (x − c) within the probed cell), so score = 1 − d²/2 on
    * unit vectors, same as the raw-PQ path. */
  def clusterPrunedTopKPqResidual(queries: DataFrame, items: DataFrame,
                                  queryId: String, itemId: String,
                                  vecCol: String, k: Int, idx: IvfPqIndex,
                                  nprobe: Int = 8,
                                  excludeSelf: Boolean = false): DataFrame = {
    require(nprobe >= 1, s"clusterPrunedTopKPqResidual: nprobe=$nprobe")
    val itemsC = residualEncodedCatalog(items, itemId, vecCol, idx)
    val q0 = metricPrep(queries, queryId, vecCol, "query_id", "__qv",
      idx.metric)
    val qProbe = probeNearestCentroids(q0,
      centroidFrame(queries.sparkSession, idx.centVecs), nprobe)
      .select(col("query_id"), col("centroid_id"), col("__qv"))
    // per-probe LUT on the request-sized frame; materializes at the
    // broadcast exchange
    val qLut = qProbe.select(col("query_id"), col("centroid_id"),
      pqLutResidual(col("__qv"), col("centroid_id"), idx).as("__lut"))
    val cand = itemsC.join(broadcast(qLut), Seq("centroid_id"))
    topKPerQuery(
      withAdcScore(dropSelf(cand, excludeSelf), idx.cb.ksub, idx.metric), k)
  }

  /** Residual twin of [[clusterPrunedShortlistPqMulti]] (r20, guide §2.4):
    * several `nprobe` operating points of the SAME residual IVF∘PQ index
    * shortlisted in ONE candidate pass over `encodedItems` (the index's
    * [[residualEncodedCatalog]], built once by the caller). The
    * per-PROBE-PAIR LUT (the residual-PQ law) is built once on the
    * max(nprobes) probe frame with the probe rank `__rn` kept; each
    * candidate fans into its arms ([[probeArms]]), then ONE
    * (nprobe, query) window ranks every arm. filter(nprobe = np &&
    * rank ≤ k) equals [[clusterPrunedTopKPqResidual]](…, nprobe = np) at
    * k ≤ shortK (differential pin in VectorSpec); feed rank ≤ k·R to
    * [[rerankExactTopK]] for the refined arms. */
  def clusterPrunedShortlistPqResidualMulti(queries: DataFrame,
                                            encodedItems: DataFrame,
                                            queryId: String, vecCol: String,
                                            shortK: Int, idx: IvfPqIndex,
                                            nprobes: Seq[Int],
                                            excludeSelf: Boolean = false)
      : DataFrame = {
    require(shortK >= 1,
      s"clusterPrunedShortlistPqResidualMulti: shortK=$shortK")
    require(nprobes.nonEmpty && nprobes.forall(_ >= 1) &&
      nprobes.distinct.length == nprobes.length,
      s"clusterPrunedShortlistPqResidualMulti: nprobes=$nprobes")
    val q0 = metricPrep(queries, queryId, vecCol, "query_id", "__qv",
      idx.metric)
    val qProbe = probeNearestCentroids(q0,
      centroidFrame(queries.sparkSession, idx.centVecs), nprobes.max)
      .select(col("query_id"), col("centroid_id"), col("__qv"), col("__rn"))
    val qLut = qProbe.select(col("query_id"), col("centroid_id"),
      col("__rn"), pqLutResidual(col("__qv"), col("centroid_id"), idx)
        .as("__lut"))
    val cand = encodedItems.join(broadcast(qLut), Seq("centroid_id"))
    topKPerQuery(probeArms(withAdcScore(dropSelf(cand, excludeSelf),
      idx.cb.ksub, idx.metric), nprobes), shortK, Seq("nprobe"))
  }
}
