package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge

/** Large-scale deduplication operators (builder-brief north-star components;
  * no direct reference analog — designed for the 100 TB training-data
  * pipeline posture).
  *
  * Scale design rules applied throughout:
  *  - NEVER all-pairs: candidate generation is always bucketed (hash group,
  *    LSH band buckets, shared-token inverted index) so the quadratic blowup
  *    is confined to within-bucket comparisons.
  *  - Signatures (minhash/simhash) are per-row HOF expressions — no UDFs, no
  *    shuffle until the bucket join.
  */
object Dedup {

  /** Canonical text normalization for dedup keys: lowercase, collapse
    * whitespace, trim. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Exact dedup: group by content hash of normalized text, keep the row
    * with the minimum id. One map-side-combined aggregation — scales
    * linearly; the md5 group key shuffles uniformly. Returns
    * (hash, keep_id, dup_count). */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    exactDupGroupsFromNorm(
      df.select(col(idCol), normalizeText(col(textCol)).as("__norm")),
      idCol, "__norm")

  /** [[exactDupGroups]] over an already-normalized text column — pipelines
    * that materialized `normalizeText` once (single-tokenization threading,
    * e.g. `c2_corpus_pipeline`) skip re-normalizing here. */
  def exactDupGroupsFromNorm(df: DataFrame, idCol: String,
                             normCol: String): DataFrame =
    df.select(col(idCol), md5(col(normCol)).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Exact dedup applied: keep only min-id row per normalized-content hash. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactDupGroups(df, idCol, textCol)
      .select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** [[exactDedup]] over an already-normalized text column. */
  def exactDedupFromNorm(df: DataFrame, idCol: String,
                         normCol: String): DataFrame = {
    val keep = exactDupGroupsFromNorm(df, idCol, normCol)
      .select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Whitespace tokens of normalized text. */
  def tokens(c: Column): Column = split(normalizeText(c), " ")

  /** Word n-gram shingles: sliding windows of `n` tokens joined by space.
    *
    * Implementation note (the O(L²) trap): the obvious form —
    * `transform(sequence(0, L-n), i => concat_ws(" ", slice(t, i+1, n)))` —
    * embeds the token-array subtree `t` INSIDE the lambda, and interpreted
    * HOF lambdas re-evaluate their whole body per element, so the
    * normalize+split ran once per shingle position: O(L²) characters per
    * document (measured 14.7 s for one pass over the sf0.1 corpus). This
    * form zips `n` same-length slices of the token array OUTSIDE the
    * lambda; the lambda touches only its own struct variable, so
    * tokenization is per-row, not per-element (same pass: 2.5 s). */
  def wordShingles(c: Column, n: Int): Column =
    wordShinglesFromTokens(tokens(c), n)

  /** [[wordShingles]] from an already-computed token array — callers that
    * materialized tokens as a column skip the extra per-row tokenizations
    * in the `when` guard and slices. */
  def wordShinglesFromTokens(t: Column, n: Int): Column =
    if (n == 1) t
    else {
      // n aligned slices of identical length L-n+1: position i of the
      // zipped array sees tokens i, i+1, …, i+n-1
      val win = greatest(size(t) - n + 1, lit(0))
      val slices = (0 until n).map(j => slice(t, lit(j + 1), win))
      val zipped = arrays_zip(slices: _*)
      when(size(t) < n, array(concat_ws(" ", t)))
        .otherwise(transform(zipped,
          x => concat_ws(" ", (0 until n).map(j => x.getField(s"$j")): _*)))
    }

  /** The modulus `p` of the MinHash permutations
    * `h_j(x) = (a_j * xxhash64(x) + b_j) mod p`; signature_j = min over a
    * row's shingles, deterministic per seed ([[minHashSignatureNative]]). */
  private[graft] val MinHashPrime = 2147483647L // 2^31 - 1 (Mersenne)

  /** Affine permutation parameters for [[minHashSignatureNative]] /
    * the SQL `min_hash_signature` builder (GraftExtensions). */
  private[graft] def minHashParamsFor(numHashes: Int,
                                      seed: Long): Seq[(Long, Long)] =
    minHashParams(numHashes, seed)

  private def minHashParams(numHashes: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numHashes)(
      (math.abs(rnd.nextLong()) % (MinHashPrime - 1) + 1,
        math.abs(rnd.nextLong()) % MinHashPrime))
  }

  /** Base hash of each shingle — computed ONCE per shingle; the per-
    * permutation signature then only does affine arithmetic over these.
    * Callers should materialize this as its own column so Catalyst doesn't
    * re-inline the xxhash into every permutation expression. */
  def shingleHashes(shingles: Column): Column =
    transform(shingles, s => pmod(xxhash64(s), lit(MinHashPrime)))

  /** Native codegen'd signature: ONE pass over the hash array maintaining
    * all `numHashes` lane minimums in a local long[]
    * (graft.functions.expr.MinHashSignature). Bit-for-bit equal to
    * [[minHashSignatureFromHashes]] — asserted in DedupTextSpec — and
    * several-fold faster (the HOF form re-traverses the array once per
    * permutation). */
  def minHashSignatureNative(hashed: Column, numHashes: Int,
                             seed: Long = 42): Column = {
    val params = minHashParams(numHashes, seed)
    org.apache.spark.sql.graftshim.ColumnBridge.column(
      graft.functions.expr.MinHashSignature(
        org.apache.spark.sql.graftshim.ColumnBridge.expression(hashed),
        params.map(_._1), params.map(_._2)))
  }

  /** Reference HOF form — `numHashes` interpreted folds; kept as the
    * independent implementation the native kernel is differentially
    * tested against. Signature from pre-hashed shingles: sig_j = min over
    * hashes of (a_j*h + b_j) mod p. */
  def minHashSignatureFromHashes(hashed: Column, numHashes: Int,
                                 seed: Long = 42): Column = {
    val hashCols = minHashParams(numHashes, seed).map { case (a, b) =>
      array_min(transform(hashed, h => pmod(h * a + b, lit(MinHashPrime))))
    }
    // null input array → null signature (matches the native expression;
    // bare array(...) would instead yield a non-null array of null lanes)
    when(hashed.isNotNull, array(hashCols: _*))
  }

  /** LSH banding: split a minhash signature into `bands` bands of
    * `rowsPerBand` values; each band → (band_idx, band_hash) bucket key.
    * Docs sharing any bucket are near-dup candidates. */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",",
          slice(sig, b * rowsPerBand + 1, rowsPerBand)), lit(b)).as("bucket"))
    }: _*)

  /** MinHash-LSH near-duplicate candidate pairs: shingle → signature → band
    * → bucket self-join (id1 < id2) → exact Jaccard verification on the
    * shingle sets. Only within-bucket pairs are ever scored. Returns
    * (id1, id2, jaccard) with jaccard >= threshold.
    *
    * Skew guard: low-entropy corpora (boilerplate, templated text) produce
    * hot band buckets whose within-bucket self-join is quadratic and
    * serializes a whole stage at scale. `maxBucketSize` caps each
    * (band, bucket) to a deterministic hash-ordered sample of members
    * (standard MinHash-LSH practice). Recall consequence: a true pair is
    * lost only if at least one member is evicted from EVERY band the pair
    * collides in — near-dups collide in many of the `bands` bands, so the
    * planted-dup recall test stays green; the cap is the documented
    * trade-off for bounded stage time. The eviction order is salted with
    * the band, so an id unlucky in one band's hash is NOT preferentially
    * evicted in the others (evictions decorrelate across bands — the
    * "every band" mitigation actually holds). Default 0 = off (exact
    * recall); opt in at scale on skew-prone corpora. */
  def minHashNearDups(df: DataFrame, idCol: String, textCol: String,
                      shingleLen: Int = 3, numHashes: Int = 64,
                      bands: Int = 16, threshold: Double = 0.7,
                      seed: Long = 42, maxBucketSize: Int = 0): DataFrame = {
    val withSets = df.select(
      col(idCol),
      wordShingles(col(textCol), shingleLen).as("__sh"))
      .withColumn("__set", array_distinct(col("__sh")))
      // materialized so the xxhash pass runs once, not once per permutation
      .withColumn("__hs", shingleHashes(col("__set")))
      .select(col(idCol), col("__set"), col("__hs"))
    minHashNearDupsFromSets(withSets, idCol, numHashes, bands, threshold,
      seed, maxBucketSize)
  }

  /** The MinHash-LSH pipeline over arbitrary PRECOMPUTED element sets —
    * everything [[minHashNearDups]] does after shingling (signature,
    * banding, hot-bucket cap, exact-Jaccard verify), shared with
    * [[graft.multimodal.Multimodal.mediaNearDupsCdc]]'s content-defined
    * chunk hashes: any set-valued representation whose Jaccard tracks
    * similarity gets the same banding machinery. `withSets` must be
    * (idCol, `__set`: the DISTINCT verification elements, `__hs`: their
    * pre-reduced (< p) 64-bit hashes — same length/order irrelevant,
    * sets). */
  private[graft] def minHashNearDupsFromSets(
      withSets: DataFrame, idCol: String, numHashes: Int, bands: Int,
      threshold: Double, seed: Long, maxBucketSize: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    val base = withSets
      .withColumn("__sig",
        minHashSignatureNative(col("__hs"), numHashes, seed))
    // Candidate generation ships ONLY (id, band, bucket) through the
    // explode+join — never the shingle arrays (a 16× payload blowup
    // otherwise); the exact-Jaccard verify then joins shingles back ONCE
    // per distinct candidate pair.
    val bucketsAll = base
      .select(col(idCol),
        explode(lshBands(col("__sig"), bands, rowsPerBand)).as("__band"))
      .select(col(idCol), col("__band.band").as("band"),
        col("__band.bucket").as("bucket"))
    // Hot-bucket cap: deterministic hash-ordered row_number per
    // (band, bucket); only (id, band, bucket) flows through the window, and
    // the exchange it introduces is reused by both sides of the self-join.
    val buckets =
      if (maxBucketSize <= 0) bucketsAll
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bucket"))
          .orderBy(xxhash64(col(idCol), col("band"), lit(seed)), col(idCol))
        bucketsAll.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= maxBucketSize).drop("__rn")
      }
    val cand = buckets.select(col(idCol).as("id1"), col("band"), col("bucket"))
      .join(buckets.select(col(idCol).as("id2"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    val sh = base.select(col(idCol), col("__set"))
    cand
      .join(sh.select(col(idCol).as("id1"), col("__set").as("sh1")), Seq("id1"))
      .join(sh.select(col(idCol).as("id2"), col("__set").as("sh2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        (size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Dup-pair edges → dup GROUPS: connected components by iterative
    * min-label propagation. Each node starts labeled with itself; every
    * iteration each node takes the min of its own label and its
    * neighbors' labels — after diameter(component) iterations every node
    * carries its component's minimum id. Near-dup graphs are
    * small-diameter (dup clusters are dense), so this converges in a
    * handful of shuffles; the loop stops early when an iteration changes
    * nothing (the convergence check is one count() job per iteration — a
    * deliberate driver-side action, same rationale as the k-core loop).
    * Each iteration persists its frame and unpersists the previous one,
    * so lineage stays O(1) deep. At extreme scale swap in a
    * large-star/small-star variant; min-label is the right tool for the
    * bounded-diameter dedup case. Returns (id, component) for every node
    * that appears in `edges` — component = min id in the component.
    *
    * DRIVER FAST PATH (r18, the x1 `maxExactCatalog` dispatch pattern):
    * when the edge list holds ≤ `maxDriverEdges` LONG-id edges the
    * whole loop is replaced by one collect + a union-find (path-halving
    * DSU, then per-root min relabel) — the iterative form pays ~5
    * actions and 3 shuffles PER ROUND, a fixed multi-second floor that
    * dominates every measured corpus (the dup GRAPH is tiny even when
    * the corpus is not: 500 K docs at sf10 produce ~900 verified media
    * pairs). The dispatch is a LIMIT-PROBE collect, not a count: for
    * the small case the probe IS the collect (one action total), and
    * for the big case CollectLimit stops after 2·maxDriverEdges+1 rows
    * instead of materializing the full edge generation up front (the
    * count-based dispatch measured +3 s on d_dup_groups at sf10 by
    * serializing pair-gen against the loop's first join — A/B'd). The
    * bound is the honest scale gate: the probe collects ≤ 2·bound+1
    * rows as primitive-encoded (Long, Long) tuples — ~32-40 B of heap
    * each, so ~70-90 MB at the default 1M bound (NOT the 16 MB two
    * raw-long arrays would take; ADVICE r18 — the earlier GenericRow
    * collect was ~2-3× heavier still), and the BIG-graph path pays the
    * same probe before falling back to the loop. A true 100 TB dup
    * graph with more edges takes the distributed loop unchanged, and
    * non-long id types always take the loop (the collect path reads
    * longs). Identical
    * output by construction — both label every node with its
    * component's min id — and differential-pinned three ways in
    * DedupTextSpec. Long-id graphs OVER the bound contract ONCE (one
    * distributed min-label round, quotient graph re-probed — see the
    * inline r19 comment) before any loop runs: dup clusters are dense,
    * so the quotient usually fits the driver path and the dispatch
    * boundary has no cliff; only a quotient still over the bound pays
    * the full loop, on the smaller graph. Set `maxDriverEdges = 0` to
    * force the loop. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 20,
                          maxDriverEdges: Int = 1000000): DataFrame = {
    // No dedup of the doubled edge list: the neighbor-min aggregation is
    // duplicate-tolerant, so a distinct() here would only add a shuffle.
    val und = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .unionByName(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val longIds = und.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    val probed = longIds && maxDriverEdges > 0 &&
      maxDriverEdges <= Int.MaxValue / 2 - 1
    val probe: Array[(Long, Long)] =
      if (probed) probeCollect(und, 2 * maxDriverEdges + 1)
      else Array.empty
    if (probed && probe.length <= 2 * maxDriverEdges) {
      und.unpersist(false)
      return dsuLabelFrame(edges.sparkSession, probe)
    }
    // --- CONTRACT-THEN-REPROBE escalation (r19, the VERDICT r18 #5
    // boundary measurement: the fast-path/loop dispatch had a real step
    // at the 1M-edge crossover — sf1.5 7.4 s vs sf2 17.8 s on 1.33× the
    // pairs — because the loop starts from scratch on the full graph).
    // For a big LONG-id graph, ONE distributed min-label round first:
    // L0(v) = min(v ∪ Γ(v)) (a single groupBy over the already-persisted
    // doubled edges — no label table yet, so no join), then the QUOTIENT
    // graph E1 = {(L0(a), L0(b)) | (a,b) ∈ E, L0(a) ≠ L0(b)} is
    // re-probed with the same bound. Dup graphs are dense clusters, so
    // one contraction typically collapses them orders of magnitude —
    // the driver path then fires on E1 and the cliff flattens; a graph
    // still over the bound runs the loop on the SMALLER E1. Soundness:
    // L0(v) is a node in v's component, quotient components biject onto
    // original components, and the original component's min m satisfies
    // L0(m) = m (m is the min of its own closed neighborhood), so m is a
    // quotient node and the quotient component's min — labeling v with
    // comp1(L0(v)) reproduces min-label output exactly (differential-
    // pinned against the pure loop in DedupTextSpec). Non-long ids skip
    // both probes and run the loop unchanged. ---
    if (probed) {
      val ss = edges.sparkSession
      import ss.implicits._
      val l0 = und.groupBy(col("a").as("id"))
        .agg(min(col("b")).as("__nmin"))
        .select(col("id"), least(col("id"), col("__nmin")).as("l0"))
        .localCheckpoint(true)
      val e1 = und
        .join(l0.select(col("id").as("a"), col("l0").as("la")), Seq("a"))
        .join(l0.select(col("id").as("b"), col("l0").as("lb")), Seq("b"))
        .filter(col("la") =!= col("lb"))
        .select(col("la").as("a"), col("lb").as("b"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val probe2 = probeCollect(e1, 2 * maxDriverEdges + 1)
      val comp1 =
        if (probe2.length <= 2 * maxDriverEdges) {
          // CollectLimit scanned every partition (total < limit), so e1
          // is fully on the driver; both cached frames can go now.
          e1.unpersist(false)
          und.unpersist(false)
          dsuLabelFrame(ss, probe2)
        } else {
          // the loop re-scans e1 fully — keep und cached until it has
          // (uncached e1 partitions recompute through und, not pair-gen)
          val r = ccLoopLabels(e1, maxIter)
          und.unpersist(false)
          r
        }
      // isolated quotient nodes (clusters that contracted completely)
      // have no e1 row — their label IS l0
      return l0.join(comp1.withColumnRenamed("id", "l0"), Seq("l0"), "left")
        .select(col("id"),
          coalesce(col("component"), col("l0")).as("component"))
    }
    ccLoopLabels(und, maxIter)
  }

  /** Limit-probe collect (primitive tuple encoding — ADVICE r18). The
    * default CollectLimit ramp (1 → 4 → 16 → … result partitions) is
    * KEPT deliberately: an r19 A/B set
    * `spark.sql.limit.initialNumPartitions = 32` on the theory that the
    * ramp serializes expensive verify partitions, and it was REJECTED —
    * d_dup_groups at sf3 went 18.2 → 43–50 s reproducibly (the wide
    * wave forces every result partition's verify work plus a much
    * larger driver accumulation, while the shuffle-map side of pair-gen
    * runs fully under either policy — the probe's apparent cost is
    * pair-gen itself, paid once into the persisted frame). */
  private def probeCollect(df: DataFrame, limit: Int): Array[(Long, Long)] = {
    val ss = df.sparkSession
    import ss.implicits._
    df.limit(limit).as[(Long, Long)].collect()
  }

  /** Driver union-find (path-halving DSU + per-root min relabel) over a
    * collected long-id edge list — the small-graph arm of
    * [[connectedComponents]]'s dispatch. Returns the (id, component)
    * frame for every node in `pairs`. */
  private def dsuLabelFrame(spark: org.apache.spark.sql.SparkSession,
                            pairs: Array[(Long, Long)]): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) {
        // path halving: point r at its grandparent as we walk
        parent(r) = parent(parent(r))
        r = parent(r)
      }
      r
    }
    var i = 0
    while (i < pairs.length) {
      val a = pairs(i)._1; val b = pairs(i)._2
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra) = rb
      i += 1
    }
    // min id per root, then every node labeled with its root's min
    val nodes = parent.keys.toArray
    val rootMin = scala.collection.mutable.LongMap.empty[Long]
    nodes.foreach { n =>
      val r = find(n)
      rootMin(r) = math.min(rootMin.getOrElse(r, n), n)
    }
    import scala.jdk.CollectionConverters._
    val rows: java.util.List[org.apache.spark.sql.Row] =
      nodes.map(n => org.apache.spark.sql.Row(n, rootMin(find(n))))
        .toSeq.asJava
    spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("component",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** The distributed min-label + pointer-jumping loop over a PERSISTED
    * doubled edge list (consumed and unpersisted here) — the big-graph
    * arm of [[connectedComponents]]'s dispatch. */
  private def ccLoopLabels(und: DataFrame, maxIter: Int): DataFrame = {
    // Iterative loops MUST truncate lineage each round: a persist/unpersist
    // chain leaves every iteration's plan referencing its (by then
    // unpersisted) parents, and re-planning walks — and can re-execute —
    // the whole history (measured: the naive chain went quadratic, then
    // OOMed the driver). localCheckpoint materializes AND cuts the plan,
    // so each iteration is flat-cost over ~|V| rows.
    var labels = und.select(col("a").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    // Superseded checkpoints from the previous iteration — freed once the
    // current iteration's frames are materialized (each round checkpoints
    // ~2·|V| rows; without the release an N-round run holds 2N copies).
    var retired: Seq[DataFrame] = Nil
    while (!converged && iter < maxIter) {
      val neighborMin = und
        .join(labels.withColumnRenamed("id", "b"), Seq("b"))
        .groupBy(col("a").as("id"))
        .agg(min(col("component")).as("__nmin"))
      // Carry the incoming label as __old so convergence is a filter over
      // the checkpointed frame, not another |V|-vs-|V| shuffle join.
      val hop = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("component").as("__old"),
          least(col("component"), coalesce(col("__nmin"), col("component")))
            .as("component"))
        .localCheckpoint(true)
      // Pointer jumping: also take the label OF the label (components are
      // always real node ids, so the self-join hits). One extra join per
      // iteration turns O(diameter) convergence into O(log diameter).
      val next = hop
        .join(hop.select(col("id").as("component"), col("component").as("__cc")),
          Seq("component"), "left")
        .select(col("id"), col("__old"),
          coalesce(col("__cc"), col("component")).as("component"))
        .localCheckpoint(true)
      val changed = next.filter(col("component") =!= col("__old")).count()
      // `next` is eagerly materialized above, so everything it was derived
      // from (last round's labels and this round's hop) can be released.
      retired.foreach(ColumnBridge.unpersistCheckpoint)
      retired = Seq(labels, hop)
      labels = next.select(col("id"), col("component"))
      converged = changed == 0
      iter += 1
    }
    und.unpersist(false)
    retired.foreach(ColumnBridge.unpersistCheckpoint)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations — " +
          "with pointer jumping that needs a component of diameter " +
          s"> 2^$maxIter; raise maxIter or check the edge generator")
    labels
  }

  /** Connected components by ALTERNATING large-star / small-star edge
    * rewrites (Kiveris et al. 2014, "Connected Components in MapReduce
    * and Beyond") — the scale path for dup graphs whose diameter or
    * degree distribution defeats min-label propagation:
    *
    *  - large-star: per node u with full neighborhood Γ(u), connect every
    *    neighbor LARGER than u directly to m = min(Γ(u) ∪ u) — hubs fan
    *    their neighbors down to their minimum without the hub's whole
    *    neighborhood ever sitting in one task (the per-u min is an
    *    aggregate; the emit is a join, both streaming).
    *  - small-star: per node u over only its smaller neighbors N(u),
    *    re-hang u and all of N(u) under min(N(u)).
    *
    * Each round is two (groupBy + join) stages over the edge set, which
    * only ever shrinks toward the final star; rounds needed = O(log²n)
    * worst-case, 2-4 in practice. No per-node label table is carried, so
    * unlike min-label the memory high-water is the (shrinking) edge list.
    * Convergence = edge-set fixpoint, detected by a (count, bit_xor of
    * pair-hash) signature — one agg job, no |E|-vs-|E| anti-join; a false
    * stop needs a 64-bit xor collision at equal counts.
    *
    * Same contract as [[connectedComponents]]: returns (id, component =
    * min id) for every node appearing in `edges`; differential-tested
    * against the min-label form. */
  def connectedComponentsAlternating(edges: DataFrame, srcCol: String,
                                     dstCol: String,
                                     maxIter: Int = 30): DataFrame = {
    var e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    def largeStar(df: DataFrame): DataFrame = {
      val sym = df.unionByName(df.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(min(least(col("v"), col("u"))).as("m"))
      sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }
    def smallStar(df: DataFrame): DataFrame = {
      val or = df.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = or.groupBy(col("u")).agg(min(col("v")).as("m"))
      or.join(mins, Seq("u"))
        .select(col("v").as("node"), col("m"))
        .unionByName(mins.select(col("u").as("node"), col("m")))
        .filter(col("node") =!= col("m"))
        .select(col("node").as("u"), col("m").as("v")).distinct()
    }
    var sig = signature(e)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(e)).localCheckpoint(true)
      val nextSig = signature(next)
      ColumnBridge.unpersistCheckpoint(e)
      e = next
      converged = nextSig == sig
      sig = nextSig
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsAlternating did not converge in $maxIter rounds")
    // Converged star: every edge is (node, component-min); roots appear
    // only on the v side.
    e.select(col("u").as("id"), col("v").as("component"))
      .unionByName(e.select(col("v").as("id"), col("v").as("component")))
      .distinct()
  }

  /** Shared posting-list builder for the token-overlap pair generators:
    * (id, __n, __tok, buckets…) with one row per distinct doc token.
    * `maxPostingSize > 0` enables STOP-TOKEN pruning — tokens whose
    * bucket-local posting list exceeds the cap are dropped from the token
    * sets and `__n` is recomputed on the filtered sets (the classic
    * dedup-pipeline stopword cut, made deterministic). A token shared by
    * g docs contributes C(g,2) candidate rows, so one corpus-wide token
    * turns the join quadratic; the cap bounds it at C(cap,2) per token.
    * Scores are then over the filtered sets — consistent, documented
    * semantics, tested against the uncapped form. */
  private def tokenPostings(df: DataFrame, idCol: String, textCol: String,
                            bucketCols: Seq[String],
                            maxPostingSize: Int): DataFrame =
    tokenPostingsFromTokens(
      df.select((Seq(col(idCol), tokens(col(textCol)).as("__t0")) ++
        bucketCols.map(col)): _*),
      idCol, "__t0", bucketCols, maxPostingSize)

  /** [[tokenPostings]] from a precomputed token-array column. */
  private def tokenPostingsFromTokens(df: DataFrame, idCol: String,
                                      tokensCol: String,
                                      bucketCols: Seq[String],
                                      maxPostingSize: Int): DataFrame = {
    val toks = df.select((Seq(col(idCol),
      array_distinct(col(tokensCol)).as("__t")) ++ bucketCols.map(col)): _*)
    if (maxPostingSize <= 0) {
      toks.withColumn("__n", size(col("__t")))
        .select((Seq(col(idCol), col("__n"), explode(col("__t")).as("__tok")) ++
          bucketCols.map(col)): _*)
    } else {
      val exploded = toks.select(
        (Seq(col(idCol), explode(col("__t")).as("__tok")) ++
          bucketCols.map(col)): _*)
      val wTok = org.apache.spark.sql.expressions.Window
        .partitionBy(("__tok" +: bucketCols).map(col): _*)
      val wDoc = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
      exploded.withColumn("__pc", count(lit(1)).over(wTok))
        .filter(col("__pc") <= maxPostingSize).drop("__pc")
        .withColumn("__n", count(lit(1)).over(wDoc))
    }
  }

  /** Inverted-index n-gram Jaccard: candidate pairs are generated by an
    * explode-join on shared tokens (docs sharing >= 1 token), then Jaccard =
    * common / (|A| + |B| − common). Linear in posting-list sizes, not in
    * doc-pairs. `maxPostingSize` (opt-in) drops corpus-hot tokens from the
    * token sets before the join — see [[tokenPostings]] — bounding any one
    * token's candidate contribution at C(cap,2). Returns
    * (id1, id2, jaccard >= threshold).
    *
    * CONTRACT: `idCol` must be unique across the WHOLE input — including
    * across `bucketCols` values. A duplicate id silently corrupts the
    * default (prefix-filtered) path: per-doc prefix row_numbers interleave
    * (pairs dropped) and the exact-verify join on id fans out (wrong
    * rows). Set `spark.graft.dedupIdGuard=true` to enforce at runtime
    * (one extra count job; on in the test suites). */
  def tokenJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double,
                        bucketCols: Seq[String] = Nil,
                        maxPostingSize: Int = 0): DataFrame =
    tokenJaccardPairsFromTokens(
      df.select((Seq(col(idCol), tokens(col(textCol)).as("__tjp")) ++
        bucketCols.map(col)): _*),
      idCol, "__tjp", threshold, bucketCols, maxPostingSize)

  /** [[tokenJaccardPairs]] from a precomputed token-array column (the
    * single-tokenization entry point for multi-stage pipelines).
    * Default (no cap): the LOSSLESS prefix-filtered join
    * ([[jaccardViaPrefix]]) — identical output to the full posting join
    * with the hot-token quadratic candidate term pruned by construction.
    * `maxPostingSize > 0` keeps the explicitly-lossy capped posting join
    * (drops corpus-hot tokens from the token SETS — different, documented
    * semantics). Same unique-id CONTRACT as [[tokenJaccardPairs]]. */
  def tokenJaccardPairsFromTokens(df: DataFrame, idCol: String,
                                  tokensCol: String, threshold: Double,
                                  bucketCols: Seq[String] = Nil,
                                  maxPostingSize: Int = 0): DataFrame =
    if (maxPostingSize <= 0)
      jaccardViaPrefix(
        df.select((Seq(col(idCol),
          array_distinct(col(tokensCol)).as("__t")) ++
          bucketCols.map(col)): _*),
        idCol, threshold, bucketCols)
    else jaccardFromPostings(
      tokenPostingsFromTokens(df, idCol, tokensCol, bucketCols,
        maxPostingSize),
      idCol, threshold, bucketCols)

  /** Debug/test enforcement of the prefix-join family's id-uniqueness
    * contract: with `spark.graft.dedupIdGuard=true` (set in the test
    * suites), pays one extra count job to turn a duplicate id — which
    * would otherwise silently drop pairs (interleaved prefix
    * row_numbers) and duplicate verify rows (array join on id) — into an
    * assertion error naming the operator. Off by default: production
    * corpora carry unique doc ids and the check is a full scan. */
  private def uniqueIdGuard(toks: DataFrame, idCol: String,
                            op: String): Unit = {
    val guard = toks.sparkSession.conf
      .getOption("spark.graft.dedupIdGuard").contains("true")
    if (guard) {
      val Row(n, d) = toks.agg(count(lit(1)), count_distinct(col(idCol))).head()
      require(n == d,
        s"$op: id column '$idCol' must be unique across the whole input " +
          s"(including across buckets) — $n rows but $d distinct ids. " +
          "Duplicate ids silently corrupt prefix-filtered candidate " +
          "generation and the verify join; dedupe or re-key first.")
    }
  }

  /** Prefix postings + distinct candidate pairs for the lossless Jaccard
    * prefix join — the stage split shared by [[jaccardViaPrefix]] and
    * [[prefixJoinStats]] (per-round candidate-volume observability). */
  private def jaccardPrefixCandidates(toks: DataFrame, idCol: String,
                                      threshold: Double,
                                      bucketCols: Seq[String])
      : (DataFrame, DataFrame) = {
    val joinKeys = "__tok" +: bucketCols
    val exploded = toks
      .withColumn("__n", size(col("__t")))
      .select((Seq(col(idCol), col("__n"), explode(col("__t")).as("__tok")) ++
        bucketCols.map(col)): _*)
    val wTok = org.apache.spark.sql.expressions.Window
      .partitionBy(joinKeys.map(col): _*)
    // CONTRACT: ids are unique across the whole input, including across
    // buckets ([[uniqueIdGuard]]; loud scaladoc on the public entries).
    // Under that contract partitionBy(id) ≡ partitionBy(id, bucketCols),
    // and the narrower key is measurably cheaper (~45% on the sf0.1
    // Jaccard family — the r11 (id, bucketCols) hardening cost
    // d_token_jaccard 3.6→5.1-5.6 s isolated). Widening the key alone
    // could not lift the contract anyway: the verify stage below joins
    // the full token arrays on id, so a duplicate id would still produce
    // wrong verify rows — hence contract + guard, not a wider window.
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("__df").asc, col("__tok").asc)
    val prefix = exploded
      .withColumn("__df", count(lit(1)).over(wTok))
      .withColumn("__rn", row_number().over(wDoc))
      .filter(col("__rn") <=
        col("__n") - ceil(lit(threshold) * col("__n") - 1e-9) + 1)
      .select((Seq(col(idCol), col("__tok")) ++ bucketCols.map(col)): _*)
    val p1 = prefix.withColumnRenamed(idCol, "id1")
    val p2 = prefix.withColumnRenamed(idCol, "id2")
    // Explicit fixed-width exchange before the verify stage (r20 — the
    // editSimilarityPairs device, guide §2.5): candidate pairs are a few
    // MB, so AQE's bytes-based coalescing folds the downstream
    // array_intersect verify join onto 1–2 tasks while the work is
    // per-PAIR token-array intersection (measured: d_containment spent
    // 2.8 of 4.6 s in two single-task verify stages). REPARTITION_BY_NUM
    // pins the width; placed BEFORE the distinct so the dedup aggregate
    // reuses the same exchange (hash(id1,id2) satisfies its clustering)
    // and the verify join runs in the pinned-width stage.
    val nPart =
      prefix.sparkSession.sessionState.conf.defaultNumShufflePartitions
    val cand = p1.join(p2, joinKeys)
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
      .repartition(nPart, col("id1"), col("id2"))
      .distinct()
    (prefix, cand)
  }

  /** Lossless prefix-filtered Jaccard join (Bayardo et al. 2007,
    * "Scaling Up All Pairs Similarity Search"): order every document's
    * distinct tokens by a global (df asc, token asc) canonical order and
    * post only the first |A| − ⌈t·|A|⌉ + 1 — any pair with Jaccard ≥ t
    * provably shares its lowest-ordered common token inside BOTH
    * prefixes, so the equi-join on prefix postings generates a candidate
    * superset of the answer; exact Jaccard is then verified on the full
    * token arrays. This replaces the full posting join whose candidate
    * volume is Σ_token C(df,2): corpus-hot tokens (df ∝ corpus) sit LAST
    * in the canonical order and almost never enter a prefix, so the
    * quadratic term vanishes without the lossy `maxPostingSize` cut
    * (measured on the 100× corpus: distinct candidates 50.7 M → linear,
    * output identical — the full-registry sf10 sweep found this).
    *
    * ⌈t·n⌉ is computed as ceil(t·n − 1e-9): double noise pushing t·n a
    * hair ABOVE an exact integer would otherwise shorten the prefix and
    * silently lose pairs (an undershoot merely admits extra candidates,
    * which the verify stage discards). */
  private def jaccardViaPrefix(toks: DataFrame, idCol: String,
                               threshold: Double,
                               bucketCols: Seq[String]): DataFrame = {
    uniqueIdGuard(toks, idCol, "jaccardViaPrefix")
    val (_, cand) = jaccardPrefixCandidates(toks, idCol, threshold, bucketCols)
    val f1 = toks.select(col(idCol).as("id1"), col("__t").as("__t1"))
    val f2 = toks.select(col(idCol).as("id2"), col("__t").as("__t2"))
    cand.join(f1, Seq("id1")).join(f2, Seq("id2"))
      .withColumn("common",
        size(array_intersect(col("__t1"), col("__t2"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("__t1")) + size(col("__t2")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Asymmetric prefix filter for containment (the [[jaccardViaPrefix]]
    * theorem ported to a two-sided threshold): a directed pair qualifies
    * with common ≥ t·|source|, and in EITHER direction common ≥
    * t·min(|A|,|B|) — so the SMALLER document's (df, token)-ordered
    * prefix always shares its lowest-ordered common token with the
    * larger document's FULL posting set. Candidates therefore come from
    * prefix(smaller) ⋈ full(larger-or-equal); corpus-hot tokens have
    * full-side postings ∝ corpus but near-zero prefix-side presence, so
    * the Σdf² candidate quadratic collapses while staying lossless (the
    * larger side's own prefix bound t·|L| would be WRONG here — its
    * partner may only clear t·|S| — which is why Jaccard's symmetric
    * prefix⋈prefix join does not port directly). Exact containment is
    * verified on the full arrays; output matches the posting-join form
    * bit-for-bit (same integer common, same division). */
  private def containmentViaPrefix(toks: DataFrame, idCol: String,
                                   threshold: Double,
                                   bucketCols: Seq[String]): DataFrame = {
    val joinKeys = "__tok" +: bucketCols
    val exploded = toks
      .withColumn("__n", size(col("__t")))
      .select((Seq(col(idCol), col("__n"), explode(col("__t")).as("__tok")) ++
        bucketCols.map(col)): _*)
    val wTok = org.apache.spark.sql.expressions.Window
      .partitionBy(joinKeys.map(col): _*)
    // partitionBy(id) under the unique-id contract — same rationale and
    // guard as jaccardViaPrefix (the verify stage joins arrays on id, so
    // only globally-unique ids are supportable regardless of window key).
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("__df").asc, col("__tok").asc)
    uniqueIdGuard(toks, idCol, "containmentViaPrefix")
    val prefix = exploded
      .withColumn("__df", count(lit(1)).over(wTok))
      .withColumn("__rn", row_number().over(wDoc))
      .filter(col("__rn") <=
        col("__n") - ceil(lit(threshold) * col("__n") - 1e-9) + 1)
      .select((Seq(col(idCol).as("__ids"), col("__n").as("__ns"),
        col("__tok")) ++ bucketCols.map(col)): _*)
    val fullSide = exploded
      .select((Seq(col(idCol).as("__idl"), col("__n").as("__nl"),
        col("__tok")) ++ bucketCols.map(col)): _*)
    // same explicit fixed-width exchange as jaccardPrefixCandidates (r20):
    // pin the verify join's width against AQE's bytes-based coalescing
    val nPart =
      prefix.sparkSession.sessionState.conf.defaultNumShufflePartitions
    val cand = prefix.join(fullSide, joinKeys)
      .filter(col("__ns") < col("__nl") ||
        (col("__ns") === col("__nl") && col("__ids") =!= col("__idl")))
      .select(least(col("__ids"), col("__idl")).as("__ida"),
        greatest(col("__ids"), col("__idl")).as("__idb"))
      .repartition(nPart, col("__ida"), col("__idb"))
      .distinct()
    val f1 = toks.select(col(idCol).as("__ida"), col("__t").as("__ta"))
    val f2 = toks.select(col(idCol).as("__idb"), col("__t").as("__tb"))
    cand.join(f1, Seq("__ida")).join(f2, Seq("__idb"))
      .withColumn("common",
        size(array_intersect(col("__ta"), col("__tb"))))
      .select(explode(array(
        struct(col("__ida").as("a"), col("__idb").as("b"),
          (col("common").cast("double") / size(col("__ta"))).as("c")),
        struct(col("__idb").as("a"), col("__ida").as("b"),
          (col("common").cast("double") / size(col("__tb"))).as("c"))))
        .as("p"))
      .select(col("p.a").as("id1"), col("p.b").as("id2"),
        col("p.c").as("containment"))
      .filter(col("containment") >= threshold)
  }

  private def jaccardFromPostings(posting: DataFrame, idCol: String,
                                  threshold: Double,
                                  bucketCols: Seq[String]): DataFrame = {
    val joinKeys = "__tok" +: bucketCols
    val p1 = posting.withColumnRenamed(idCol, "id1")
      .withColumnRenamed("__n", "n1")
    val p2 = posting.withColumnRenamed(idCol, "id2")
      .withColumnRenamed("__n", "n2")
    p1.join(p2, joinKeys)
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard", col("common").cast("double") /
        (col("n1") + col("n2") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Inverted-index token CONTAINMENT (Broder): c(A→B) = |A∩B| / |A| — the
    * asymmetric near-dup score that catches subset duplication (quoted
    * passages, boilerplate wrappers, truncated copies) which Jaccard
    * under-scores when |B| ≫ |A|. Same posting-list candidate join as
    * [[tokenJaccardPairs]] — linear in posting sizes, never all-pairs —
    * but pairs are DIRECTED (id1 ≠ id2, score = containment of id1's
    * token set in id2's).
    *
    * CONTRACT: `idCol` must be unique across the WHOLE input (including
    * across `bucketCols`) — see [[tokenJaccardPairs]];
    * `spark.graft.dedupIdGuard=true` enforces at runtime. */
  def tokenContainmentPairs(df: DataFrame, idCol: String, textCol: String,
                            threshold: Double,
                            bucketCols: Seq[String] = Nil,
                            maxPostingSize: Int = 0): DataFrame = {
    if (maxPostingSize <= 0)
      return containmentViaPrefix(
        df.select((Seq(col(idCol),
          array_distinct(tokens(col(textCol))).as("__t")) ++
          bucketCols.map(col)): _*),
        idCol, threshold, bucketCols)
    val posting = tokenPostings(df, idCol, textCol, bucketCols, maxPostingSize)
    val joinKeys = "__tok" +: bucketCols
    val p1 = posting.withColumnRenamed(idCol, "id1")
      .withColumnRenamed("__n", "n1")
    val p2 = posting.withColumnRenamed(idCol, "id2")
      .withColumnRenamed("__n", "n2")
    // Join each unordered pair ONCE (id1 < id2 halves the candidate rows
    // and the aggregate) and fan out both directed scores from the single
    // grouped row — same output as joining both orders at twice the cost.
    p1.join(p2, joinKeys)
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("common"))
      .select(explode(array(
        struct(col("id1").as("a"), col("id2").as("b"),
          (col("common").cast("double") / col("n1")).as("c")),
        struct(col("id2").as("a"), col("id1").as("b"),
          (col("common").cast("double") / col("n2")).as("c")))).as("p"))
      .select(col("p.a").as("id1"), col("p.b").as("id2"),
        col("p.c").as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Candidate-volume observability for the prefix-filtered Jaccard join
    * (the sweep-reporter hook VERDICT r11 asked for: the r11 window
    * regression was caught by a manual A/B, not tooling). One row —
    * (n_docs, prefix_rows, candidates, output_pairs, cand_per_output) —
    * from the SAME stages [[tokenJaccardPairs]]' default path runs, so a
    * candidate-volume or prefix-length change in the hottest dedup
    * family shows up as a per-leg NUMBER in `graft.DedupStats` /
    * `tools/fullreg_report.py` instead of a wall-clock mystery. */
  def prefixJoinStats(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double,
                      bucketCols: Seq[String] = Nil): DataFrame = {
    val toks = df.select((Seq(col(idCol),
      array_distinct(tokens(col(textCol))).as("__t")) ++
      bucketCols.map(col)): _*)
    val (prefix, cand) =
      jaccardPrefixCandidates(toks, idCol, threshold, bucketCols)
    val out = tokenJaccardPairsFromTokens(
      df.select((Seq(col(idCol), tokens(col(textCol)).as("__pjs")) ++
        bucketCols.map(col)): _*),
      idCol, "__pjs", threshold, bucketCols)
    toks.agg(count(lit(1)).as("n_docs"))
      .crossJoin(prefix.agg(count(lit(1)).as("prefix_rows")))
      .crossJoin(cand.agg(count(lit(1)).as("candidates")))
      .crossJoin(out.agg(count(lit(1)).as("output_pairs")))
      .withColumn("cand_per_output",
        round(col("candidates") /
          greatest(col("output_pairs").cast("double"), lit(1.0)), 2))
  }

  /** SimHash 64-bit fingerprint (packed Long). Per-token xxhash64; bit i of
    * the fingerprint is 1 iff the sum over tokens of (+1 if token-hash bit i
    * set else −1) is positive. All per-row HOFs — no UDF, no shuffle.
    * Callers doing bulk work should hash tokens into their own column first
    * ([[tokenHashes]] + [[simHash64FromHashes]]) so the hash pass isn't
    * re-inlined into all 64 bit expressions. */
  def tokenHashes(textCol: Column): Column =
    transform(array_distinct(tokens(textCol)), t => xxhash64(t))

  def simHash64(textCol: Column): Column =
    simHash64Native(tokenHashes(textCol))

  /** Native codegen'd fingerprint: ONE pass over the hash array, 64 bit
    * lanes counted in a local int[] (graft.functions.expr.SimHash64).
    * Bit-for-bit equal to [[simHash64FromHashes]] — asserted in
    * DedupTextSpec — and several-fold faster (the HOF form re-traverses
    * the array once per output bit). */
  def simHash64Native(th: Column): Column =
    org.apache.spark.sql.graftshim.ColumnBridge.column(
      graft.functions.expr.SimHash64(
        org.apache.spark.sql.graftshim.ColumnBridge.expression(th)))

  /** Reference HOF form — 64 interpreted folds; kept as the independent
    * implementation the native kernel is differentially tested against.
    * Null input array → null fingerprint (same as the native expression;
    * without the guard the per-bit `otherwise(0)` would turn null into 0). */
  def simHash64FromHashes(th: Column): Column = {
    val fp = (0 until 64).map { i =>
      val bitSum = aggregate(th, lit(0L), (a, h) =>
        a + when(shiftright(h, i).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L))
      when(bitSum > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    when(th.isNotNull, fp)
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** All banding combo keys in one native expression
    * ([[graft.functions.expr.SimHashBands]]): element `ci` of the result is
    * combo `ci`'s packed key, so `posexplode` recovers the (block, key)
    * rows. Replaces the `explode(array(<C(b,c) fold-packed structs>))`
    * column form, whose generated `doConsume` exceeded janino's 64 KB
    * method limit at radius-16-class configs (153 combos) and silently
    * dropped the banding stage to interpreted eval; the native kernel's
    * generated code is a constant-size data loop. Key packing is
    * bit-for-bit the old fold (asserted across configs in DedupTextSpec).
    * A null lane array — or any null lane ELEMENT a block references —
    * yields a null key array (posexplode then emits no banding rows), so
    * null-fingerprint docs can never be banded together. */
  def simHashBandsNative(lanes: Column, blocks: Seq[(Int, Int, Int)],
                         combos: Seq[Seq[Int]]): Column =
    ColumnBridge.column(graft.functions.expr.SimHashBands(
      ColumnBridge.expression(lanes), blocks, combos))

  /** SimHash near-dup candidates: split the 64-bit fingerprint into
    * `maxHamming + 1` sub-blocks — a pair within Hamming distance
    * `maxHamming` has fewer differing bits than blocks, so by pigeonhole it
    * must agree EXACTLY on at least one block (complete candidate recall) —
    * then verify true Hamming within buckets.
    *
    * Block count is derived from the radius, so the guarantee always holds
    * (the round-2 version fixed 4 blocks, which is only sound for radius
    * <= 3). Trade-off: larger radii mean more, narrower blocks (radius 15 →
    * 16 four-bit blocks), whose coarse keys collide more — candidate
    * volume grows toward all-pairs as the radius approaches 63. Radii above
    * 15 are rejected rather than silently exploding.
    *
    * Hot-group posture: the banded candidate join runs over DISTINCT
    * fingerprints only — a group of g identical-fingerprint docs (the
    * dup-heavy case that dominates real corpora) contributes ONE row per
    * block to the join, not g, so candidate generation never goes quadratic
    * in dup-group size. Identical-fingerprint pairs are emitted directly
    * from each group's member list (exact-dedup shape — no banding
    * multiplier, no distinct). The OUTPUT pair set is still C(g,2) per
    * identical group by definition; callers wanting a linear representation
    * at extreme scale should group on the fingerprint itself
    * (`groupBy(simHash64(text))`, the [[exactDupGroups]] shape) instead of
    * materializing pairs.
    *
    * `maxBucketSize` (default 0 = off) additionally caps each residual
    * (block, key) bucket to a deterministic hash-ordered sample of DISTINCT
    * fingerprints, the same knob as [[minHashNearDups]] — for corpora where
    * many *near*-identical fingerprints share a coarse block key. Recall
    * consequence mirrors MinHash's: a true pair is lost only if evicted
    * from every block it collides in; eviction order is salted per block so
    * evictions decorrelate across blocks. The pipeline is
    * [[bandedNearDups]] over one lane. */
  def simHashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, blockCombos: Int = 1,
                      maxBucketSize: Int = 0): DataFrame =
    bandedNearDups(df.select(col(idCol), tokenHashes(col(textCol)).as("__th"))
      .select(col(idCol), simHash64Native(col("__th")).as("l0")),
      idCol, maxHamming, blockCombos, maxBucketSize)

  /** Lex-first-witness predicate for UNCAPPED banded self-joins (r20,
    * guide §2.3 "shuffle fewer bytes"): with combination banding, a
    * surviving pair is emitted once per AGREEING block combo — a
    * hamming-h pair agrees on (numBlocks − h) blocks, so low-hamming
    * near-dups are re-emitted C(agree, c) ≈ tens of times, and ALL of it
    * crosses the distinct()'s exchange (measured at sf1: ~10⁹ emission
    * rows ≈ 2 000 CPU-seconds of shuffle for 20.3 M distinct pairs).
    * When no bucket cap drops members, every fingerprint posts to every
    * combo, so the pair's witnessing combos are EXACTLY the combos whose
    * blocks all agree — and the lexicographically first of those is the
    * combo whose block set is the c lowest agreeing block indices. This
    * predicate keeps a surviving row iff its combo IS that first
    * witness: each pair then crosses the exchange exactly once. Pure
    * bit-ops per surviving row (one shift/mask compare per block + c
    * lowest-set-bit extractions), evaluated only on candidates that
    * already passed the hamming filter. NOT valid for capped banding —
    * a cap can evict a member from the lex-first agreeing bucket while
    * the pair still meets in a later one, so the capped path keeps the
    * witness-redundant distinct. `lanes(i)` = the pair's i-th 64-bit
    * lane columns; `blocks` as in the callers ((lane, offset, width));
    * the hamming ≤ maxHamming filter upstream guarantees ≥ c agreeing
    * blocks (the pigeonhole bound), so the c extractions never run dry. */
  private def firstWitnessPredicate(blocks: Seq[(Int, Int, Int)],
                                    combos: Seq[Seq[Int]],
                                    lanesA: Column, lanesB: Column,
                                    blockCol: Column): Column = {
    // The agree-mask is a NATIVE kernel (AgreeLowestMask — the
    // SimHashBands constant-code-size device): an unrolled per-block
    // expression chain overflowed janino's 64 KB method limit inside the
    // shuffled-hash-join consume at the C(18,3) = 816-combo geometry
    // (DedupTextSpec's no-fallback pin caught it).
    val comboMasks = combos.map(_.map(b => 1L << b).sum).toArray
    val ideal = ColumnBridge.column(
      graft.functions.expr.AgreeLowestMask(
        ColumnBridge.expression(lanesA),
        ColumnBridge.expression(lanesB),
        blocks, combos.head.length))
    element_at(typedlit(comboMasks), (blockCol + 1).cast("int")) === ideal
  }

  /** The one banded near-dup operator behind [[simHashNearDups]],
    * [[simHashNearDups128]] and
    * [[graft.multimodal.Multimodal.mediaNearDups]]: pigeonhole banding
    * over DISTINCT fingerprints, identical-fingerprint groups emitted
    * directly, an optional bucket cap, a depth-salted self-join and the
    * within-bucket Hamming verify. Any fingerprint whose Hamming distance
    * tracks similarity gets the same complete-candidate-recall guarantee.
    * `withLanes` is (idCol, l0[, l1]): one or two flat 64-bit lanes; a
    * fingerprint with a null lane never pairs. The radius ceiling is
    * 16·lanes − 1 (15 of 64, 31 of 128). `saltTau` bounds the rows of
    * every (block, key, cell) group on the join's build side. Returns
    * (id1, id2, hamming), id1 < id2. */
  private[graft] def bandedNearDups(withLanes: DataFrame, idCol: String,
                                    maxHamming: Int, blockCombos: Int,
                                    maxBucketSize: Int,
                                    saltTau: Int = 256): DataFrame = {
    val numLanes = withLanes.columns.length - 1
    val laneNames = (0 until numLanes).map(i => s"l$i")
    require(Seq(1, 2).contains(numLanes) &&
      withLanes.columns.toSeq == idCol +: laneNames,
      s"expected ($idCol, l0[, l1]), got ${withLanes.columns.mkString(", ")}")
    val maxRadius = 16 * numLanes - 1
    require(maxHamming >= 0 && maxHamming <= maxRadius,
      s"maxHamming=$maxHamming outside [0, $maxRadius]: past it the " +
        s"${64 * numLanes}-bit banding keys get too coarse to prune")
    require(blockCombos >= 1 && blockCombos <= 3,
      s"blockCombos=$blockCombos outside [1, 3]")
    require(saltTau >= 1, s"saltTau=$saltTau must be >= 1")
    // Pigeonhole with combinations (Manku et al., WWW'07 §3): with
    // b = maxHamming + c blocks, a pair within Hamming radius maxHamming
    // differs in ≤ maxHamming blocks, so it AGREES on ≥ c blocks — at least
    // one c-subset of blocks matches exactly. Bucketing on every c-subset
    // (key = the c block values packed into one long) keeps candidate
    // recall complete while widening the bucket key from 64/(r+1) bits to
    // c·64/(r+c) bits. Regime guidance (measured at sf0.1, r=8, 64 bits):
    //  - uniform fingerprints, rare dups → c=2 shrinks bucket-accidental
    //    candidates exponentially (2^7 → 2^13 key space) and wins;
    //  - near-dup-heavy corpora → candidates are mostly TRUE collisions,
    //    which c>1 re-emits in C(b,c) buckets instead of b before the
    //    distinct (6s → 15s on the driver testdata) — keep c=1.
    // c=1 is exactly classic banding.
    val numBlocks = maxHamming + blockCombos
    require(numBlocks >= numLanes, "need at least one block per lane " +
      "(raise blockCombos)")
    // Blocks never cross a lane boundary: the first (b mod lanes) lanes get
    // one block more, and each lane's 64 bits split as evenly as possible
    // (first 64 mod k blocks one bit wider). Any disjoint cover preserves
    // the pigeonhole guarantee; per-lane blocks keep every block a single
    // shift-and-mask. (lane, offset, width) per global block index.
    val blocks: Seq[(Int, Int, Int)] = (0 until numLanes).flatMap { lane =>
      val k = numBlocks / numLanes + (if (lane < numBlocks % numLanes) 1 else 0)
      val baseW = 64 / k
      val ws = Seq.tabulate(k)(i => if (i < 64 % k) baseW + 1 else baseW)
      ws.zip(ws.scanLeft(0)(_ + _).init).map { case (w, o) => (lane, o, w) }
    }
    val combos = (0 until numBlocks).combinations(blockCombos).toSeq
    combos.foreach { c =>
      // The packed key must fit one long: the fold shifts by each block's
      // width before OR-ing, so total bits used = sum of widths (exactly 64
      // is fine — the first shift acts on a zero accumulator).
      require(c.map(blocks(_)._3).sum <= 64,
        s"combo key ${c.mkString("+")} exceeds 64 bits — lower blockCombos " +
          "for this radius")
    }
    val lanes = laneNames.map(col)
    // One shuffle by fingerprint; every branch below hangs off this same
    // subplan, so the exchange is planned once and reused (ReuseExchange).
    val fpGroups = withLanes.filter(lanes.map(_.isNotNull).reduce(_ && _))
      .groupBy(lanes: _*).agg(collect_list(col(idCol)).as("__ids"))
    // Identical fingerprints: all within-group pairs at hamming 0, emitted
    // directly from the member array — no banding, no distinct, no join.
    val identical = fpGroups
      .filter(size(col("__ids")) > 1)
      .select(explode(col("__ids")).as("ida"), col("__ids"))
      .select(col("ida"), explode(col("__ids")).as("idb"))
      .filter(col("ida") < col("idb"))
      .select(col("ida").as("id1"), col("idb").as("id2"),
        lit(0).as("hamming"))
    // Banded candidate join over DISTINCT fingerprints only. All combo
    // keys come from ONE native SimHashBands kernel (constant generated
    // code size at any radius — the unrolled struct-array form overflowed
    // janino's 64 KB method limit at high-radius configs).
    val bandedAll = fpGroups.select(lanes :+
      posexplode(simHashBandsNative(array(lanes: _*), blocks, combos)): _*)
      .select(lanes ++ Seq(col("pos").as("block"), col("col").as("key")): _*)
    // Bucket order: the lanes' hash salted with the block (so cap evictions
    // decorrelate across blocks), the lanes as tie-break — a total order,
    // since a bucket holds each distinct fingerprint once. The hash is a
    // column, so the rank and depth windows below share one sort.
    val byBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("block"), col("key"))
      .orderBy(col("__h") +: lanes: _*)
    val ranked = bandedAll
      .withColumn("__h", xxhash64(lanes :+ col("block"): _*))
      .withColumn("__rn", row_number().over(byBucket))
    val banded =
      if (maxBucketSize <= 0) ranked
      else ranked.filter(col("__rn") <= maxBucketSize)
    // Depth-proportional SALTED self-join. Natural-language SimHash bits
    // are correlated (head tokens vote identically across a corpus), so
    // band buckets are heavily skewed — measured at 50 K docs (128 bits):
    // p50 depth 2, max 2222, Σd² ≈ 4.3×10⁸ candidate pairs, and a plain
    // (block,key) join serializes the deepest buckets onto one task (AQE's
    // skew split keys off input BYTES and never sees compute skew). Each
    // bucket of depth d is split into S = ⌈d/τ⌉ cells: the LEFT row of
    // rank n lands in cell (n−1) mod S, so every cell holds at most τ rows
    // at every depth; the RIGHT side is replicated to all S cells, so cell
    // work is ≤ τ·d pairs and the extra shuffle is Σd·S ≈ Σd²/τ, below the
    // Σd²/2 candidates the buckets produce anyway. Cold buckets (d ≤ τ)
    // keep S = 1. Coverage: pair (a,b) meets exactly once per witnessing
    // bucket, in a's cell.
    val cells = banded.withColumn("__s",
      ceil(count(lit(1)).over(byBucket.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)) /
        saltTau).cast("int"))
    // The path below runs once per CANDIDATE (Σd² — measured 4.3×10⁸ at
    // 50 K docs / 5.0×10⁹ at 500 K), so every joined and filtered column
    // is a primitive long: flat lanes keep the join keys, the pair-order
    // predicate and the bit_count filter in whole-stage codegen.
    def side(p: String) = lanes.indices.map(i => col(s"l$i").as(s"$p$i"))
    val a = lanes.indices.map(i => col(s"a$i"))
    val b = lanes.indices.map(i => col(s"b$i"))
    val left = cells.select(side("a") ++ Seq(col("block"), col("key"),
      ((col("__rn") - 1) % col("__s")).cast("int").as("__cell")): _*)
    val right = cells.select(side("b") ++ Seq(col("block"), col("key"),
      explode(sequence(lit(0), col("__s") - 1)).as("__cell")): _*)
    // Signed-lexicographic pair order over the lanes.
    val aBeforeB = lanes.indices.init.foldRight(a.last < b.last) {
      (i, later) => a(i) < b(i) || (a(i) === b(i) && later)
    }
    // Hamming filter BEFORE distinct: the candidate join streams its pairs
    // straight through the codegen'd bit_count filter with no shuffle, so
    // distinct() (the same pair witnessed by several combos) pays only for
    // SURVIVORS, not for the skewed candidate volume.
    // SHUFFLE_HASH on the LEFT/build side (r20): the planner's
    // default sort-merge buffers every duplicate-key group of the replica
    // side per key (hot buckets run to 10³–10⁴ rows) and sorts both
    // multi-million-row banded sides — measured ~1 700 CPU-seconds for
    // the sf1 128-bit candidate enumeration, and the strategy was
    // RUN-VOLATILE (35.9 s vs 102.5 s bench legs). The left side is the
    // right build: one row per banded entry and at most τ rows per
    // (block, key, cell), so the per-partition hash relation is bounded;
    // the replicated right side streams and probes. Values are
    // join-strategy-independent.
    val fpPairs = left.hint("shuffle_hash")
      .join(right, Seq("block", "key", "__cell"))
      .filter(aBeforeB)
      .withColumn("hamming",
        a.zip(b).map { case (x, y) => hamming64(x, y) }.reduce(_ + _)
          .cast("int"))
      .filter(col("hamming") <= maxHamming)
      // Uncapped: keep each surviving pair only at its lex-first agreeing
      // combo (firstWitnessPredicate) — measured at sf1 (128 bits), the
      // distinct's exchange otherwise carries ~10⁹ witness-redundant
      // emission rows for 20.3 M distinct pairs. Capped banding keeps the
      // redundant form (a cap can evict the first witness).
      .transform(df =>
        if (maxBucketSize <= 0)
          df.filter(firstWitnessPredicate(blocks, combos, array(a: _*),
            array(b: _*), col("block")))
        else df)
      .select(a ++ b :+ col("hamming"): _*)
      .distinct()
    // Expand distinct-fingerprint pairs to member id pairs (g1 × g2 — the
    // output size itself, nothing more).
    def members(p: String, ids: String) =
      fpGroups.select(side(p) :+ col("__ids").as(ids): _*)
    val cross = fpPairs
      .join(members("a", "ids1"), lanes.indices.map(i => s"a$i"))
      .join(members("b", "ids2"), lanes.indices.map(i => s"b$i"))
      .select(explode(col("ids1")).as("ida"), col("ids2"), col("hamming"))
      .select(col("ida"), explode(col("ids2")).as("idb"), col("hamming"))
      .select(least(col("ida"), col("idb")).as("id1"),
        greatest(col("ida"), col("idb")).as("id2"), col("hamming"))
    identical.unionByName(cross)
  }

  /** 128-bit SimHash fingerprint as a struct of two independent 64-bit
    * lanes. Lane 0 is [[simHash64]]'s fingerprint of the token hashes;
    * lane 1 re-hashes each token hash (`xxhash64(h)`) so its 64 bit
    * votes are independent of lane 0's. Null text → struct of null
    * lanes.
    *
    * Why widen: the pigeonhole banding guarantee needs `radius + combos`
    * disjoint blocks, so at 64 bits a radius-8 band key is only ~7 bits
    * wide — bucket depth then grows with corpus density and candidate
    * generation goes quadratic (measured 14.8× time at 10× docs,
    * BENCH_SF1.md). 128 bits doubles every block's width at the same
    * RELATIVE radius: the same cosine-similarity threshold that meant
    * Hamming ≤ 8 of 64 means Hamming ≤ 16 of 128 (each bit flips
    * independently with the same probability), and 18 blocks × 2-block
    * combo keys are ~15 bits — 2¹⁵ bucket keys instead of 2⁷. */
  def simHash128(textCol: Column): Column =
    simHash128FromHashes(tokenHashes(textCol))

  def simHash128FromHashes(th: Column): Column = struct(
    simHash64Native(th).as("l0"),
    simHash64Native(transform(th, h => xxhash64(h))).as("l1"))

  /** Hamming distance between two 128-bit fingerprints (structs from
    * [[simHash128]]). */
  def hamming128(a: Column, b: Column): Column =
    bit_count(a.getField("l0").bitwiseXOR(b.getField("l0"))) +
      bit_count(a.getField("l1").bitwiseXOR(b.getField("l1")))

  /** [[simHashNearDups]] over the 128-bit fingerprint — the LOSSLESS
    * scale path for radius-8-equivalent near-dup detection: the same
    * [[bandedNearDups]] operator over two lanes, with `maxHamming`
    * measured over 128 bits: radius 2r of 128 selects (in expectation)
    * the same similarity threshold as radius r of 64. Defaults are the
    * radius-8-equivalent configuration: maxHamming=16, blockCombos=2 → 18
    * blocks split 9/9 across the lanes, ~7-bit blocks, C(18,2)=153
    * two-block combo keys of ~14-15 bits. The 153× replication of each
    * DISTINCT fingerprint is linear in the corpus and buys a 2⁸× larger
    * bucket-key space — the quadratic accidental-collision regime of the
    * 64-bit radius-8 banding (BENCH_SF1.md: 14.8× at 10×) is gone without
    * any lossy bucket cap. Returns (id1, id2, hamming).
    *
    * SCALE DECISION RULE (measured, DEDUP_RECALL.md): past ~10⁶ docs the
    * uncapped form's residual accidental-collision volume still grows
    * superlinearly (11.1× at the 2nd decade, BENCH_SF10.md) — set
    * `maxBucketSize = 1024`. At sf1 that kept pair recall 0.999994
    * (127 of 20.3 M pairs) at 7.8× less wall-clock, and it bounds any
    * bucket's candidate contribution at C(1024,2) regardless of corpus
    * size. Do NOT substitute the 64-bit form at this radius: its
    * signature alone misses ~18% of the 128-bit pair set (hyperplane
    * noise at the radius boundary — no cap or compute fixes it). */
  def simHashNearDups128(df: DataFrame, idCol: String, textCol: String,
                         maxHamming: Int = 16, blockCombos: Int = 2,
                         maxBucketSize: Int = 0): DataFrame =
    bandedNearDups(df.select(col(idCol), tokenHashes(col(textCol)).as("__th"))
      .select(col(idCol), simHash128FromHashes(col("__th")).as("fp"))
      .select(col(idCol), col("fp.l0"), col("fp.l1")),
      idCol, maxHamming, blockCombos, maxBucketSize)

  /** Edit-distance (Levenshtein) near-dup verify over bucketed candidates —
    * the fuzzy-dedup verifier for corpora where token-set overlap misses
    * character-level variants (OCR noise, diacritics, small in-place
    * edits). Levenshtein is O(len²) per pair, far too hot to run all-pairs:
    * candidates come from the linear inverted-index Jaccard join at a
    * permissive `candidateThreshold`, and only those pairs pay the exact
    * verify. Similarity = 1 − dist/max(len) on normalized text. Returns
    * (id1, id2, lev, edit_sim ≥ minSim).
    *
    * The candidate threshold bounds the miss-space deterministically: a
    * pair with edit_sim ≥ s has token-Jaccard ≥ roughly (2s−1)/(2−s) in the
    * worst case of single-char edits all landing in distinct tokens, so
    * candidateThreshold ≈ 0.5 is complete-enough for minSim ≈ 0.8 at a
    * fraction of all-pairs cost.
    *
    * Pathological corpora: a flood of IDENTICAL texts makes every token
    * corpus-hot and the candidate set quadratic — that load belongs to
    * [[exactDedup]] (linear, run it first); `maxPostingSize` keeps this
    * path bounded regardless (hot tokens drop from the candidate index,
    * DedupTextSpec pins the behavior). */
  def editSimilarityPairs(df: DataFrame, idCol: String, textCol: String,
                          minSim: Double, candidateThreshold: Double = 0.5,
                          bucketCols: Seq[String] = Nil,
                          maxPostingSize: Int = 0): DataFrame = {
    // Explicit fixed-width exchange between candidate generation and the
    // O(len²) verify stage: candidate pairs are only a few MB, so AQE
    // plans the downstream stage's width by BYTE size and coalesces it to
    // ~1 partition — the DP work then runs serially (measured 57 s for a
    // 65 K-pair verify that takes ~2 s spread over 32 slots). CPU-heavy
    // stages must be width-planned by ROW cost, not bytes; the explicit
    // numPartitions (REPARTITION_BY_NUM) pins the width against AQE
    // coalescing, and the two text-lookup broadcast joins + the DP all
    // execute in the 32-wide stage this exchange opens. (The sim filter
    // still pushes the DP into the join condition — that doubles the
    // per-pair DP, which parallelism absorbs; pinning evaluation to once
    // would need an optimizer barrier that costs more than it saves.)
    val nPart = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // Single normalization: __norm is materialized once and both the
    // candidate tokens (split of __norm) and the verify-side text lookups
    // derive from it, instead of each stage re-running
    // lower+regexp_replace+trim over the raw text.
    val base = df.select((Seq(col(idCol),
      normalizeText(col(textCol)).as("__norm")) ++ bucketCols.map(col)): _*)
      .withColumn("__toks", split(col("__norm"), " "))
    val cand = tokenJaccardPairsFromTokens(base, idCol, "__toks",
      candidateThreshold, bucketCols, maxPostingSize)
      .select(col("id1"), col("id2"))
      .repartition(nPart, col("id1"), col("id2"))
    val norm = base.select(col(idCol), col("__norm"))
    // The explicit broadcast of the full normalized corpus (twice) bypasses
    // Spark's size thresholds — fine at bench scale, but past the 8 GB
    // broadcast / driver-memory budget it fails despite this module's
    // 100 TB framing. Gate it on Catalyst's own size estimate: beyond
    // 1 GiB estimated, fall back to shuffled joins on id (two corpus
    // shuffles — the standard scale plan; the candidate side is a few MB
    // either way and keeps the pinned 32-wide stage).
    val normHint: DataFrame => DataFrame =
      if (norm.queryExecution.optimizedPlan.stats.sizeInBytes <= (1L << 30))
        broadcast _
      else identity _
    val mx = greatest(length(col("__n1")), length(col("__n2")))
    cand
      .join(normHint(norm.select(col(idCol).as("id1"), col("__norm").as("__n1"))), Seq("id1"))
      .join(normHint(norm.select(col(idCol).as("id2"), col("__norm").as("__n2"))), Seq("id2"))
      // Length-band prefilter — semantics-preserving (never changes the
      // output): lev ≥ |len₁−len₂| always, so a pair whose length gap
      // alone exceeds (1−minSim)·max can't reach minSim; evaluated before
      // the sim predicate, it short-circuits the O(len²) DP entirely. On
      // near-dup-sparse corpora this kills most candidates cheaply.
      .filter(abs(length(col("__n1")) - length(col("__n2"))) <=
        (lit(1.0) - minSim) * mx)
      // BIT-PARALLEL bounded Levenshtein (Myers/Hyyrö — see
      // functions.expr.MyersLevenshtein): same value and same −1-beyond-
      // bound contract as Spark's banded `Levenshtein(l, r, t)` (fuzz-
      // differential-pinned incl. code-point semantics), but the pattern
      // rows are packed 64 per machine word — O(n·⌈m/64⌉) per pair
      // instead of the band's O((t+1)·min(m,n)). The band was measured
      // NEUTRAL at this row's permissive minSim=0.35 (band ≈ 0.65·max is
      // most of the matrix — r11); Myers' cut is threshold-independent.
      // The +1 bound slack covers the round(…, 6) boundary (a raw sim up
      // to 5e-7 below minSim still rounds up to it), so the kept pair
      // set stays bit-identical to the unbounded form; −1 rows are
      // rejected in the SAME pinned filter below (a separate filter on
      // the derived column would be pushed into the join condition and
      // run the kernel twice).
      .withColumn("lev", ColumnBridge.column(
        graft.functions.expr.MyersLevenshtein(
          ColumnBridge.expression(col("__n1")),
          ColumnBridge.expression(col("__n2")),
          ColumnBridge.expression(
            (floor((lit(1.0) - minSim) * mx) + 1).cast("int")))))
      // __pin + the always-true conjunct pin the DP to ONE evaluation
      // here: PushDownPredicates would otherwise substitute edit_sim's
      // definition into the filter and slide it into the join condition,
      // running the DP a second time per pair. A filter does not push
      // through a projection with a nondeterministic field — and the
      // field must be REFERENCED by the filter or column pruning deletes
      // it (and with it the barrier) before pushdown runs.
      .withColumn("__pin", monotonically_increasing_id())
      .withColumn("edit_sim",
        when(mx === 0, 1.0)
          .otherwise(round(lit(1.0) - col("lev").cast("double") / mx, 6)))
      .filter(col("lev") >= 0 && col("edit_sim") >= minSim &&
        col("__pin") >= Long.MinValue)
      .select(col("id1"), col("id2"), col("lev").cast("long").as("lev"),
        col("edit_sim"))
  }
}
