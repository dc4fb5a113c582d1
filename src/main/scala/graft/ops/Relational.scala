package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator library (SURVEY §2.2–2.7): the reference's pandas/polars
  * dataflow steps as composable `DataFrame => DataFrame` functions.
  *
  * Scale posture: every function here is expressed declaratively so Catalyst
  * plans pushdown/pruning/broadcast; the only intentionally-global constructs
  * (exact ordered splits, sorted dense-rank encoding) document their
  * single-partition window and ship an approximate scale-safe variant.
  */
object Relational {

  /** P4: implicit-feedback labeling — `label = rating >= threshold`
    * (ref `src/data/movielens.py:238-261`, core line 256). */
  def implicitLabels(df: DataFrame, ratingCol: String,
                     threshold: Double = 4.0): DataFrame =
    df.withColumn("label",
      when(col(ratingCol) >= threshold, 1).otherwise(0))

  /** J5: k-core filtering — keep rows whose user and item both appear at
    * least `minCount` times, for a FIXED number of iterations (the reference
    * runs exactly 3, not to convergence — `src/data/movielens.py:345-382`).
    * Each iteration filters users first, then items; duplicate rows count
    * and are kept; rows with a null user or item key are dropped.
    *
    * Each half-iteration is a windowed count over its key followed by a
    * filter, so the plan is one linear chain of `2 · iterations` key
    * shuffles over a single read of `df`, with no join. (A semi-join
    * against the qualifying keys would read the running frame on both of
    * its sides, and three iterations would plan 4³ = 64 copies of the
    * input.) The shuffles carry whole rows, not distinct keys; measured
    * 1.5–2.8× faster than the semi-join form from 30.9 K to 3.1 M pairs
    * (OPTIMIZATION_r20.md, correction to "left alone").
    */
  def kCore(df: DataFrame, userCol: String, itemCol: String,
            minUserCount: Int = 5, minItemCount: Int = 5,
            iterations: Int = 3): DataFrame = {
    def keep(cur: DataFrame, key: String, minCount: Int): DataFrame =
      cur.filter(col(key).isNotNull)
        .withColumn("__kc_n", count(lit(1)).over(Window.partitionBy(col(key))))
        .filter(col("__kc_n") >= minCount)
        .drop("__kc_n")
    (1 to iterations).foldLeft(df) { (cur, _) =>
      keep(keep(cur, userCol, minUserCount), itemCol, minItemCount)
    }
  }

  /** Rows one boundary lookup of [[timeSplit]] may return: each of its two
    * ranks falls in one ts group and has one tiebreak key. */
  private val MaxBoundaryRows = 2

  /** W2: global ordered fractional split (ref `src/data/movielens.py:162-202`):
    * sort by (ts, tiebreak), first `trainFrac` → train, next `valFrac` →
    * val, rest test — row for row the [[timeSplitRank]] labels, where row
    * `rn` is train iff `rn <= n·trainFrac` and val iff
    * `rn <= n·(trainFrac + valFrac)`.
    *
    * This function RUNS SPARK ACTIONS WHEN IT IS CALLED, before it returns:
    *
    *   1. `n = df.count()`; the two cut ranks `r = floor(n·frac)` follow
    *      on the driver, in the rank form's double arithmetic;
    *   2. for each cut rank inside `(0, n)`, one limit-gated collect off a
    *      (ts → count) histogram with exact cumulative counts
    *      ([[globalCumSum]]) returns the ts group that holds it — at most
    *      two rows;
    *   3. for a rank that falls inside its group rather than on its last
    *      row, one more limit-gated collect ranks only those groups' rows
    *      by the tiebreak (a per-ts window) and returns the tiebreak key at
    *      that rank — at most two rows, one query for both ranks.
    *
    * The returned frame is then a single projection over `df`: a row is
    * train iff `(ts, tiebreak) <= (g1, k1)` and val iff it is `<= (g2, k2)`
    * in ascending nulls-first order, with the cut keys as literals. The fact
    * rows are never shuffled, joined or windowed; only the histogram and
    * the (at most two) boundary ts groups are.
    *
    * `tiebreakCol` must make (ts, tiebreak) a total order for boundary
    * labels to be well-defined — the same contract as the rank form. The
    * boundary window puts one ts group on one task: fine unless a single
    * timestamp holds a cluster-breaking share of the corpus, in which
    * case [[timeSplitRank]] is the fallback.
    */
  def timeSplit(df: DataFrame, tsCol: String, tiebreakCol: String,
                trainFrac: Double = 0.8, valFrac: Double = 0.1): DataFrame = {
    val ts = col(tsCol)
    val tb = col(tiebreakCol)
    def literal(v: Any, c: String): Column =
      lit(v).cast(df.select(col(c)).schema.head.dataType)
    val n = df.count()
    // `rn <= n * frac` ⟺ `rn <= floor(n * frac)`; NaN sorts above every
    // rank in Spark's double order
    def cutRank(x: Double): Long =
      if (x.isNaN) n else math.max(0L, math.min(n, math.floor(x).toLong))
    val r1 = cutRank(n * trainFrac)
    val r2 = cutRank(n * (trainFrac + valFrac))
    val inside = Seq(r1, r2).distinct.filter(r => r > 0 && r < n)
    // (ts, cum - count, cum) of the group holding each inside rank
    val groups: Map[Long, (Any, Long, Long)] =
      if (inside.isEmpty) Map.empty
      else {
        val hist = df.groupBy(ts.as("__g_ts")).agg(count(lit(1)).as("__g_c"))
        val rows = globalCumSum(hist, Seq(col("__g_ts")), "__g_c", "__g_cum")
          .withColumn("__g_prev", col("__g_cum") - col("__g_c"))
          .filter(inside.map(r =>
            col("__g_prev") < r && col("__g_cum") >= r).reduce(_ || _))
          .select(col("__g_ts"), col("__g_prev"), col("__g_cum"))
          .limit(MaxBoundaryRows + 1).collect()
        require(rows.length <= MaxBoundaryRows,
          s"timeSplit: ${rows.length} boundary ts groups for two ranks")
        val found = rows.map(g => (g.get(0), g.getLong(1), g.getLong(2)))
        inside.map(r => r -> found.find { case (_, prev, cum) =>
          prev < r && r <= cum }.get).toMap
      }
    // tiebreak key at each rank that falls strictly inside its group
    val inner = inside.filter(r => r < groups(r)._3)
    val keys: Map[Long, Any] =
      if (inner.isEmpty) Map.empty
      else {
        def inGroup(r: Long) = ts <=> literal(groups(r)._1, tsCol)
        val rows = df.filter(inner.map(inGroup).reduce(_ || _))
          .withColumn("__g_rn",
            row_number().over(Window.partitionBy(ts).orderBy(tb)))
          .select(coalesce(inner.map(r => when(inGroup(r) &&
              col("__g_rn") === r - groups(r)._2, lit(r))): _*).as("__g_r"),
            tb.as("__g_tb"))
          .filter(col("__g_r").isNotNull)
          .limit(MaxBoundaryRows + 1).collect()
        require(rows.length <= MaxBoundaryRows,
          s"timeSplit: ${rows.length} boundary keys for two ranks")
        rows.map(k => k.getLong(0) -> k.get(1)).toMap
      }
    // x < y and x <= y in ascending nulls-first order
    def lt(x: Column, y: Column) = coalesce(x < y, x.isNull && y.isNotNull)
    def le(x: Column, y: Column) = (x <=> y) || lt(x, y)
    // (ts, tiebreak) <= the key at rank r
    def upTo(r: Long): Column =
      if (r <= 0) lit(false)
      else if (r >= n) lit(true)
      else {
        val g = literal(groups(r)._1, tsCol)
        keys.get(r).fold(le(ts, g))(k =>
          lt(ts, g) || (ts <=> g && le(tb, literal(k, tiebreakCol))))
      }
    df.withColumn("split",
      when(upTo(r1), "train").when(upTo(r2), "val").otherwise("test"))
  }

  /** The pre-r16 [[timeSplit]] body: exact split via a full-corpus
    * parallel rank ([[globalRowNumber]]) plus a broadcast total. Kept as
    * the differential-testing twin — SplitDifferentialSpec pins
    * `timeSplit` ≡ `timeSplitRank` row-for-row on random multisets with
    * boundary-straddling ties — and as the fallback when a single ts
    * group is too large for the histogram form's per-group boundary
    * window. */
  def timeSplitRank(df: DataFrame, tsCol: String, tiebreakCol: String,
                    trainFrac: Double = 0.8, valFrac: Double = 0.1): DataFrame = {
    val total = df.select(count(lit(1)).as("__n"))
    globalRowNumber(df, Seq(col(tsCol), col(tiebreakCol)), rnCol = "__rn")
      .crossJoin(broadcast(total))
      .withColumn("split",
        when(col("__rn") <= col("__n") * trainFrac, "train")
          .when(col("__rn") <= col("__n") * (trainFrac + valFrac), "val")
          .otherwise("test"))
      .drop("__rn", "__n")
  }

  /** Exact global `row_number` WITHOUT the single-partition window.
    * `row_number().over(Window.orderBy(...))` moves every row to one task —
    * the scale-killer this round hunted down elsewhere. This device keeps
    * the ranking exact AND parallel:
    *
    *   1. range-partition on the sort order (parallel total order across
    *      partitions — partition i's rows all sort before partition i+1's);
    *   2. rank within each partition with a PARTITIONED window (parallel);
    *   3. add each partition's global start offset, computed from the
    *      per-partition counts.
    *
    * The offsets frame is #partitions rows — bounded by cluster
    * configuration, not by data — so its prefix-sum window and broadcast
    * are O(config), the same documented bound as `fitEncoder`'s
    * vocabulary-sized window. Both data-sized branches hang off ONE range
    * exchange (Catalyst's ReuseExchange dedupes them in the single plan);
    * the per-pid window re-clusters by `__pid`, a second parallel shuffle —
    * two parallel shuffles in place of one serial task.
    *
    * `sortCols` must be a total order (unique tiebreak) for the ranks to be
    * well-defined; ties crossing a range boundary would otherwise make
    * ranks partition-placement-dependent.
    *
    * CONSTRAINT — do not persist/localCheckpoint between this call and the
    * action: correctness hinges on `spark_partition_id()` agreeing between
    * the offsets subtree and the main subtree, i.e. on ReuseExchange
    * deduping the single range shuffle and AQE coalescing both reads
    * identically. A caller-inserted persist between the branches would
    * split them into two independently-coalesced exchanges and silently
    * corrupt ranks rather than fail. Set `spark.graft.rankGuard=true`
    * (done in the test suites) to pay two extra jobs per call for a
    * runtime invariant check (`max(rn) == count` and `min(rn) == 1`) that
    * turns that silent corruption into an assertion error. */
  def globalRowNumber(df: DataFrame, sortCols: Seq[Column],
                      rnCol: String = "rn"): DataFrame = {
    val parted = df.repartitionByRange(sortCols: _*)
      .withColumn("__pid", spark_partition_id())
    // The prefix sum runs on ONE partition by construction — the frame is
    // #partitions rows (config-bounded, not data-sized). The constant
    // partition key states that intent explicitly instead of tripping
    // WindowExec's "no partition defined" warning on every run; it must be
    // column-derived (pid % 1, always 0) because a foldable literal would
    // be optimized out of the partition spec, resurrecting the warning.
    val offsets = parted.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__offset",
        coalesce(sum(col("__n")).over(
          Window.partitionBy(pmod(col("__pid"), lit(1))).orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__offset"))
    val wLocal = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
    val ranked = parted.join(broadcast(offsets), Seq("__pid"))
      .withColumn(rnCol,
        row_number().over(wLocal).cast("long") + col("__offset"))
      .drop("__pid", "__offset")
    val guard = df.sparkSession.conf
      .getOption("spark.graft.rankGuard").contains("true")
    if (guard) {
      // Debug/test invariant (see scaladoc): a dense 1..n rank proves the
      // offsets subtree and main subtree observed the same partitioning.
      val Row(mn, mx, n) = ranked
        .agg(min(col(rnCol)), max(col(rnCol)), count(lit(1))).head()
      require(n == java.lang.Long.valueOf(0L) ||
        (mn == java.lang.Long.valueOf(1L) && mx == n),
        s"globalRowNumber invariant violated: min=$mn max=$mx n=$n — " +
          "the range exchange was not reused identically across subtrees")
    }
    ranked
  }

  /** Exact global running SUM of `valueCol` in `sortCols` order WITHOUT a
    * single-partition window — [[globalRowNumber]]'s device generalized
    * from row counting to value accumulation (row_number is the
    * valueCol=1 special case). Same three steps: range-partition on the
    * sort order, per-partition running sum with a PARTITIONED window,
    * add each partition's global start offset (a #partitions-row frame —
    * config-bounded). `cumCol` is INCLUSIVE of the current row.
    *
    * Same contract and the same ReuseExchange CONSTRAINT as
    * [[globalRowNumber]] (see its scaladoc): `sortCols` must be a total
    * order, and no persist/localCheckpoint may be inserted between this
    * call and the action. `spark.graft.rankGuard=true` buys the runtime
    * invariant check (`max(cum) == sum(value)`) here too. */
  def globalCumSum(df: DataFrame, sortCols: Seq[Column], valueCol: String,
                   cumCol: String): DataFrame = {
    val parted = df.repartitionByRange(sortCols: _*)
      .withColumn("__pid", spark_partition_id())
    // #partitions-row prefix sum; constant column-derived partition key
    // for the same WindowExec-warning reason documented in globalRowNumber.
    val offsets = parted.groupBy(col("__pid"))
      .agg(sum(col(valueCol)).as("__s"))
      .withColumn("__offset",
        coalesce(sum(col("__s")).over(
          Window.partitionBy(pmod(col("__pid"), lit(1))).orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__offset"))
    val wLocal = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val summed = parted.join(broadcast(offsets), Seq("__pid"))
      .withColumn(cumCol, sum(col(valueCol)).over(wLocal) + col("__offset"))
      .drop("__pid", "__offset")
    val guard = df.sparkSession.conf
      .getOption("spark.graft.rankGuard").contains("true")
    if (guard) {
      val Row(mx, tot) = summed
        .agg(max(col(cumCol)), sum(col(valueCol))).head()
      require(tot == null || mx == tot,
        s"globalCumSum invariant violated: max($cumCol)=$mx total=$tot — " +
          "the range exchange was not reused identically across subtrees")
    }
    summed
  }

  /** W1 (+J4): leave-last-N-per-user split (ref `src/data/movielens.py:204-236`):
    * the N most recent interactions per user → test, remainder → train.
    * One shuffle on `userCol`; rides `WindowGroupLimit` when filtered to
    * `__rn <= n` forms. */
  def leaveLastN(df: DataFrame, userCol: String, tsCol: String,
                 tiebreakCol: String, n: Int = 1): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).desc, col(tiebreakCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("split", when(col("__rn") <= n, "test").otherwise("train"))
      .drop("__rn")
  }

  /** P11: label/ID encoding with sklearn-`LabelEncoder` parity — indices
    * assigned by SORTED key order (ref `src/data/movielens.py:299-303`;
    * SURVEY §7.4.6: StringIndexer's frequency order does NOT match).
    * On the distinct-key frame dense_rank equals row_number, so the rank
    * comes from [[globalRowNumber]] — parallel even when the vocabulary
    * itself is huge ([[hashedFeatures]] remains the dictionary-free
    * escape for unbounded vocabs). Unseen keys on [[encodeWith]] get
    * `unknownIndex` (ref `feature_engineering.py:370-377`). */
  def fitEncoder(df: DataFrame, keyCol: String, idxCol: String): DataFrame =
    globalRowNumber(df.select(keyCol).distinct(), Seq(col(keyCol)),
      rnCol = idxCol)
      .withColumn(idxCol, col(idxCol) - 1)

  def encodeWith(df: DataFrame, encoder: DataFrame, keyCol: String,
                 idxCol: String, unknownIndex: Int = -1): DataFrame =
    df.join(broadcast(encoder), Seq(keyCol), "left")
      .withColumn(idxCol, coalesce(col(idxCol), lit(unknownIndex)))

  /** J6/F23: map-side dictionary lookup (OCCUPATION_MAP / AGE_MAP, ref
    * `src/data/movielens.py:47-59,123-124`) as a map-literal `element_at` —
    * no join, no shuffle. */
  def mapLookup(keyCol: Column, mapping: Map[Int, String],
                default: String): Column = {
    val entries = mapping.toSeq.sortBy(_._1)
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }
    coalesce(element_at(map(entries: _*), keyCol.cast("int")), lit(default))
  }

  /** Deterministic per-group down-sampling (class cap) for training-data
    * mixes: keep at most `n` rows per group, chosen by a multiplicative
    * hash over a unique row id — unbiased w.r.t. storage order, identical
    * on every engine/run/partitioning (unlike `sampleBy`, whose RNG is
    * partition-order-dependent), and skew-proof: one shuffle on the group
    * key, `WindowGroupLimit` prunes each partition to `n` before the final
    * sort. Hash is `((id mod 1000003) * 2654435761) mod (2^31−1)` — every
    * intermediate < 2.7e15, so it never overflows 64-bit math on any
    * engine (a bare `id * prime` would at real-scale ids). */
  def capPerGroup(df: DataFrame, groupCols: Seq[String], n: Int,
                  idCol: Column): DataFrame = {
    val h = pmod(pmod(idCol, lit(1000003L)) * lit(2654435761L),
      lit(2147483647L))
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(h, idCol)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n).drop("__rn")
  }

  /** Deterministic fractional split assignment (train/val/test) by content
    * hash — the engine-portable alternative to `randomSplit`, whose RNG is
    * partition-order-dependent and irreproducible across engines. The first
    * 32 bits of `md5(key)` are compared lexicographically (as lowercase hex)
    * against cumulative-fraction thresholds rendered as 8-hex-digit strings:
    * string order on fixed-width lowercase hex IS numeric order, so any
    * engine with md5 reproduces the assignment bit-for-bit. Per-row, no
    * shuffle; a doc's split never changes when the corpus grows — the
    * property training pipelines need for incremental re-runs. Null keys
    * are an error (`raise_error` at eval time): md5(null) is null, which
    * would silently fall through every threshold into the last split. */
  def hashSplit(df: DataFrame, keyCol: String,
                splits: Seq[(String, Double)]): DataFrame = {
    require(splits.size >= 2, "need at least two splits")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val key = when(col(keyCol).isNull,
        raise_error(lit(s"hashSplit: null key in column $keyCol")))
      .otherwise(col(keyCol).cast("string"))
    val h = substring(md5(key), 1, 8)
    val cum = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    val thresholds = cum.init.map(f => f"${(f * 4294967296.0).toLong}%08x")
    val first = when(h < lit(thresholds.head), lit(splits.head._1))
    val assign = thresholds.tail.zip(splits.tail.map(_._1)).foldLeft(first) {
      case (acc, (th, nm)) => acc.when(h < lit(th), lit(nm))
    }.otherwise(lit(splits.last._1))
    df.withColumn("split", assign)
  }

  /** Deterministic stratified sampling: each stratum is kept at its own
    * rate, decided per row by the same md5-hex threshold device as
    * [[hashSplit]] (content-pure — no RNG, no partition-order dependence,
    * rerunnable, and an engine with md5 reproduces it exactly). The
    * per-stratum alternative to `df.stat.sampleBy`, whose Bernoulli draws
    * change with partitioning. Per-row filter, no shuffle; rates are
    * capped at `(2^32−1)/2^32` (a rate of exactly 1.0 keeps all but the
    * one-in-4-billion key hashing to ffffffff). Null keys error loudly
    * (same rationale as hashSplit); null strata take `defaultRate`. */
  def stratifiedSample(df: DataFrame, strataCol: String, keyCol: String,
                       rates: Map[String, Double],
                       defaultRate: Double): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0 && r <= 1),
      "rates must be in [0, 1]")
    val key = when(col(keyCol).isNull,
        raise_error(lit(s"stratifiedSample: null key in column $keyCol")))
      .otherwise(col(keyCol).cast("string"))
    val h = substring(md5(key), 1, 8)
    val threshold = rates.toSeq.sortBy(_._1).foldLeft(lit(null).cast("string")) {
      case (acc, (stratum, r)) =>
        when(col(strataCol) === stratum, lit(rateThreshold(r))).otherwise(acc)
    }
    df.filter(h < coalesce(threshold, lit(rateThreshold(defaultRate))))
  }

  /** A sampling rate as the 8-hex-digit md5-prefix threshold it implies. */
  private[graft] def rateThreshold(r: Double): String =
    f"${math.min((r * 4294967296.0).toLong, 4294967295L)}%08x"

  /** Numeric band self-join: all unordered pairs with |vA − vB| ≤ delta,
    * WITHOUT the O(n²) theta-join a naive `abs(a.v - b.v) <= delta`
    * condition plans (BroadcastNestedLoop/cartesian — the classic
    * similarity-join scale killer). Rows are bucketed at width `delta`;
    * a qualifying pair is always in the same or adjacent buckets, so one
    * side joins on its bucket and the other is replicated to (b, b+1) —
    * a plain shuffled equi-join whose cost is candidate pairs, not n².
    * Each unordered pair survives exactly once structurally (same-bucket
    * via id<, adjacent via the +1 replica only) — no distinct needed.
    * Emits (id1, id2, v1, v2) with id1 < id2 for same-bucket pairs and
    * bucket order otherwise; callers wanting id order normalize with
    * least/greatest. Skew note: a bucket holding k rows contributes
    * O(k²) candidates — for value-concentrated data shrink delta or
    * pre-aggregate exact ties.
    *
    * Density guard (safe-by-default): the fixed-δ form is
    * output-quadratic in value density BY ITS SEMANTICS — on a dense
    * corpus it detonates no matter how well the plan shuffles
    * (BENCH_SF1.md measured ~100× pairs at 10× rows). Per-bucket
    * candidate counts are therefore pre-computed from a map-combined
    * bucket histogram (buckets-sized, not data-sized), and any bucket
    * whose candidate pairs exceed `maxPairsPerBucket` fails the job
    * LOUDLY — with the measured density and a pointer to
    * [[bandJoinNearestK]] — via an assert that trips on the first
    * candidate row, BEFORE the blowup materializes. Callers choosing
    * the blast radius explicitly pass a higher cap or 0 (off). */
  def bandJoin(df: DataFrame, idCol: String, valCol: String,
               delta: Double,
               maxPairsPerBucket: Long = 10000000L): DataFrame = {
    require(delta > 0, "bandJoin needs a positive delta")
    val b = floor(col(valCol) / delta).cast("long")
    // Repartition the PROBE side by the bucket key (r20, guide §2.5/§2.6):
    // the replica side broadcasts, so the probe inherits the SCAN's split
    // count — and a band join's work is its CANDIDATE volume (quadratic in
    // bucket depth), which bytes-based split sizing cannot see. Measured
    // on j11_band_join at sf0.1: part.parquet is one 20 K-row split with
    // ~100 rows per 0.5-bucket, so ~2M same-bucket candidates streamed on
    // ONE task (~1.4 s/pass × 2 passes — the orderBy's range sampler runs
    // the probe subtree twice) while 31 cores idled. Hashing on __b
    // spreads probes across the cluster at any scale; the exchange moves
    // only (id, v, bucket) rows — strictly smaller than the candidate
    // stream it parallelizes wherever a fixed-δ band join is viable at
    // all (dense-value corpora must use bandJoinNearestK regardless — the
    // density guard below still fires first). The partition count is
    // EXPLICIT (cluster-sized via spark.sql.shuffle.partitions): a
    // keyed repartition without a count is AQE-coalescible, and AQE's
    // bytes-based coalescing folded these ~500 KB of probe rows straight
    // back onto one task (measured — same two single-task stages).
    val left = df.select(col(idCol).as("id1"), col(valCol).as("v1"),
      b.as("__b"))
      .repartition(df.sparkSession.sessionState.conf.defaultNumShufflePartitions,
        col("__b"))
    val right = df.select(col(idCol).as("id2"), col(valCol).as("v2"),
      b.as("__ob"),
      explode(array(b, b + 1)).as("__b"))
    val joined = left.join(right, Seq("__b"))
      .filter(
        (col("__ob") === col("__b") && col("id1") < col("id2")) ||
          col("__ob") === col("__b") - 1)
      .filter(abs(col("v1") - col("v2")) <= delta)
      .filter(col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"), col("v1"), col("v2"))
    if (maxPairsPerBucket <= 0) joined
    else {
      // candidate pairs touching bucket __b: C(c_b, 2) same-bucket +
      // c_b · c_{b+1} adjacent — exact, from the histogram alone
      val counts = df.filter(col(valCol).isNotNull)
        .groupBy(b.as("__b")).agg(count(lit(1)).as("__c"))
      val nextC = counts.select((col("__b") - lit(1L)).as("__b"),
        col("__c").as("__cn"))
      val worst = counts.join(nextC, Seq("__b"), "left")
        .select(col("__b"),
          (col("__c") * (col("__c") - 1) / 2 +
            col("__c") * coalesce(col("__cn"), lit(0L))).as("__pairs"))
        .filter(col("__pairs") > maxPairsPerBucket)
        .orderBy(col("__pairs").desc).limit(1)
        .select(concat(
          lit("bandJoin density guard: bucket "), col("__b"),
          lit(" yields "), col("__pairs"),
          lit(s" candidate pairs > maxPairsPerBucket=$maxPairsPerBucket. " +
            "Fixed-delta band joins are output-quadratic in value " +
            "density; use bandJoinNearestK (output-bounded, Theta(n*k)), " +
            "shrink delta, pre-aggregate exact ties, or pass a higher " +
            "cap / maxPairsPerBucket=0 to accept the blast radius."))
          .as("__guard"))
      // 0-row guard frame normally; on violation the assert trips on the
      // first candidate row flowing up, failing fast. The broadcast BNLJ
      // build side is limit(1)-gated — structurally bounded for the audit.
      joined.join(broadcast(worst), lit(true), "left")
        .filter(assert_true(col("__guard").isNull, col("__guard")).isNull)
        .drop("__guard")
    }
  }

  /** R12 core: item-item co-occurrence pair counts within baskets — the
    * classic market-basket candidate generator. Input is one row per
    * (basket, item) — callers dedupe upstream if the fact table repeats
    * pairs. Emits (it1, it2, c) with it1 < it2, one row per unordered
    * item pair, c = number of baskets containing both.
    *
    * Density guard (safe-by-default, the [[bandJoin]] convention): the
    * per-basket self-join is C(basket, 2) — bounded on order-shaped data
    * (TPC-H baskets ≤ 7 items) but quadratic on HUB baskets (crawl
    * sessions, power users: one 100K-item basket is a 5·10⁹-pair key).
    * Basket sizes are pre-measured from a map-combined histogram
    * (baskets-sized, not pairs-sized); any basket above `maxBasketSize`
    * fails the job LOUDLY with the measured size BEFORE the fan-out
    * materializes, via an assert tripping on the first candidate row.
    * Callers choosing the blast radius pass a higher cap or 0 (off);
    * callers wanting best-effort instead pre-cap deterministically with
    * [[capPerGroup]] (the x6 device) and keep the guard as a backstop. */
  def coOccurrencePairs(df: DataFrame, basketCol: String, itemCol: String,
                        maxBasketSize: Long = 1000L): DataFrame = {
    val a = df.select(col(basketCol).as("__bk"), col(itemCol).as("it1"))
    val b = df.select(col(basketCol).as("__bk"), col(itemCol).as("it2"))
    val pairs = a.join(b, Seq("__bk")).filter(col("it1") < col("it2"))
    val guarded =
      if (maxBasketSize <= 0) pairs
      else {
        val worst = df.groupBy(col(basketCol).as("__bk"))
          .agg(count(lit(1)).as("__c"))
          .filter(col("__c") > maxBasketSize)
          .orderBy(col("__c").desc).limit(1)
          .select(concat(
            lit("coOccurrencePairs density guard: basket "), col("__bk"),
            lit(" holds "), col("__c"),
            lit(s" items > maxBasketSize=$maxBasketSize — the per-basket " +
              "self-join is C(n,2) pairs and a hub basket detonates it. " +
              "Pre-cap baskets deterministically with capPerGroup, or " +
              "pass a higher cap / maxBasketSize=0 to accept the blast " +
              "radius.")).as("__guard"))
        // 0-row guard frame normally; limit(1)-gated broadcast build side
        // (structurally bounded for the plan audit), like bandJoin's.
        pairs.join(broadcast(worst), lit(true), "left")
          .filter(assert_true(col("__guard").isNull, col("__guard")).isNull)
          .drop("__guard")
      }
    guarded.groupBy(col("it1"), col("it2")).agg(count(lit(1)).as("c"))
  }

  /** Output- AND WORK-bounded band join: for every row, its `k` nearest
    * neighbors by |v − v'| among the rows within `delta` — the variant
    * of [[bandJoin]] a careless caller can't detonate. A band join at
    * fixed δ is output-quadratic in value density (BENCH_SF1.md measured
    * ~100× pairs for 10× rows), and even a top-k prune over δ-bucketed
    * candidates still PAYS n·(bucket depth) candidate work — measured
    * blowing past 5×10⁹ intermediate rows at a 2 M-row / dense-value
    * corpus (BENCH_SF10.md, r8). This form is Θ(n·k) end to end.
    *
    * Algorithm: nearest neighbors on a LINE are contiguous in sort
    * order. Sort by (v, id) via the parallel [[globalRowNumber]] device,
    * then each row's within-δ nearest-k are necessarily among its ±k
    * POSITIONAL neighbors: on either side of a row, |Δv| is monotone in
    * position distance, so the candidates are an offset equi-join on
    * position (2k rows per probe, no density term, no hot buckets).
    *
    * Ranking order is (|Δv|, position distance, position): among equal
    * |Δv| the positionally closer neighbor wins, then the earlier one —
    * deterministic, engine-reproducible, and exactly computable by a SQL
    * oracle that derives the same row_number positions. (A pure
    * (|Δv|, id) tie-break would NOT be positionally local for fat ties —
    * the k smallest ids of a 100-row tie class can sit anywhere in the
    * class — which is why the contract ties by position.) Emits
    * (id1, id2, v1, v2, rnk) with rnk 1..k; null values and rows with no
    * within-δ neighbor emit nothing (inner-join semantics, like
    * bandJoin). */
  def bandJoinNearestK(df: DataFrame, idCol: String, valCol: String,
                       delta: Double, k: Int): DataFrame = {
    require(delta > 0, "bandJoinNearestK needs a positive delta")
    require(k >= 1, "bandJoinNearestK needs k >= 1")
    val rn = globalRowNumber(
      df.filter(col(valCol).isNotNull).select(col(idCol), col(valCol)),
      Seq(col(valCol), col(idCol)), rnCol = "__pos")
    val probe = rn.select(col(idCol).as("id1"), col(valCol).as("v1"),
      col("__pos").as("__p1"))
    val build = rn.select(col(idCol).as("id2"), col(valCol).as("v2"),
      col("__pos").as("__p2"))
    val offsets = ((-k to k).filterNot(_ == 0)).map(o => lit(o))
    val w = Window.partitionBy(col("id1"))
      .orderBy(abs(col("v1") - col("v2")),
        abs(col("__p1") - col("__p2")), col("__p2"))
    probe
      .withColumn("__o", explode(array(offsets: _*)))
      .withColumn("__p2", col("__p1") + col("__o"))
      .drop("__o")
      .join(build, Seq("__p2"))
      .filter(abs(col("v1") - col("v2")) <= delta)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("id1"), col("id2"), col("v1"), col("v2"),
        col("rnk").cast("long").as("rnk"))
  }

  /** Exact SQL `rank()` within LOW-cardinality groups, in parallel.
    * `rank().over(Window.partitionBy(g).orderBy(v))` with a 3-value group
    * key plans 3 single-task sorts of n/3 rows each — the per-group twin
    * of the unpartitioned-window scale killer (parallelism = #groups, not
    * #cores). Here the rank is counted: rank = 1 + (rows before the row's
    * (g, v) tie class) − (rows before its group), in (g, v) order. The
    * distinct (g, v) tie classes, each with its size, are a total order,
    * so one [[globalCumSum]] of the sizes over them counts the rows
    * before every class in parallel, whatever the group sizes; the rows
    * before each group are the group sizes' running sum over a #groups
    * frame, broadcast. The ranked classes join back to the rows once. */
  def rankInGroups(df: DataFrame, groupCol: String, valueCol: String,
                   rankCol: String): DataFrame = {
    val keys = Seq(col(groupCol), col(valueCol))
    val ties = df.groupBy(keys: _*).agg(count(lit(1)).as("__c"))
    // #groups rows; the constant partition key as in globalRowNumber
    val grpStart = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
      .withColumn("__gs", coalesce(sum(col("__n")).over(
        Window.partitionBy(pmod(col("__n"), lit(1))).orderBy(col(groupCol))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__n")
    val ranked = globalCumSum(ties, keys, "__c", "__cum")
      .join(broadcast(grpStart), Seq(groupCol))
      .select(keys :+
        (col("__cum") - col("__c") - col("__gs") + 1).as(rankCol): _*)
    df.join(ranked, Seq(groupCol, valueCol))
  }

  /** J14: interval-containment join — every (point, interval) pair with
    * `startCol <= point <= endCol`, with NO equality key available. The
    * naive theta form plans a BroadcastNestedLoop/cartesian (O(|P|·|I|)
    * comparisons); this form discretizes the domain into `bucketWidth`
    * cells, explodes each interval into the cells it covers (`sequence`),
    * equi-joins points to cells, and verifies exact containment on the
    * candidates. A point occupies exactly one cell, so no pair is emitted
    * twice. Cost is O(|P| + Σ cells-per-interval + candidates) — the
    * asymmetric [start, end] sibling of [[bandJoin]]'s symmetric
    * |a−b| ≤ δ buckets. Intervals wider than `maxCellsPerInterval` cells
    * are a loud eval-time error (one open-ended interval would otherwise
    * silently explode the build side — pick `bucketWidth` near the
    * typical interval span); inverted intervals (end < start) match
    * nothing and are dropped up front. */
  def intervalJoin(points: DataFrame, pointCol: String,
                   intervals: DataFrame, startCol: String, endCol: String,
                   bucketWidth: Long,
                   maxCellsPerInterval: Int = 64): DataFrame = {
    require(bucketWidth > 0, "intervalJoin needs a positive bucketWidth")
    val sCell = floor(col(startCol) / bucketWidth).cast("long")
    val eCell = floor(col(endCol) / bucketWidth).cast("long")
    val guardedStart = when(eCell - sCell >= maxCellsPerInterval.toLong,
        raise_error(lit(s"intervalJoin: interval spans >= $maxCellsPerInterval " +
          s"cells of width $bucketWidth — widen bucketWidth or split the interval")))
      .otherwise(sCell)
    val cells = intervals
      .filter(col(endCol) >= col(startCol))
      .withColumn("__cell", explode(sequence(guardedStart, eCell)))
    points
      .withColumn("__cell", floor(col(pointCol) / bucketWidth).cast("long"))
      .join(cells, Seq("__cell"))
      .filter(col(pointCol) >= col(startCol) && col(pointCol) <= col(endCol))
      .drop("__cell")
  }

  /** Deterministic WEIGHTED Bernoulli sampling: each row is kept with its
    * own probability `prob` (any per-row expression in [0,1] — an
    * importance weight, a quality score, a per-domain mix rate), decided
    * by the same content-pure md5-prefix device as [[stratifiedSample]]
    * but with the threshold rendered per row (`format_string("%08x", …)`)
    * instead of per stratum. The continuous generalization: stratified
    * sampling is the special case of a per-stratum-constant `prob`.
    * Per-row filter — no shuffle, no RNG, partition-order independent,
    * rerunnable, and reproducible by any engine with md5/printf.
    * Probabilities clamp to [0, (2³²−1)/2³²] (the hex compare needs an
    * 8-digit threshold, so exactly-1.0 drops the one-in-4-billion key
    * hashing to ffffffff — same cap as [[rateThreshold]]). `key` must be
    * non-null and row-unique for the draws to be independent. */
  def weightedSample(df: DataFrame, key: Column, prob: Column): DataFrame = {
    val thLong = least(
      floor(greatest(prob, lit(0.0)) * 4294967296.0), lit(4294967295.0))
      .cast("long")
    df.filter(
      substring(md5(key.cast("string")), 1, 8) <
        format_string("%08x", thLong))
  }

  /** Deterministic global training-order shuffle (the last trainer-handoff
    * step, VERDICT r15 next #7): packed sequences must be globally
    * shuffled before training, and an RNG shuffle is partition-order-
    * dependent and irreproducible across engines/runs. This orders by
    * md5 of a caller-built key (the [[hashSplit]]/[[weightedSample]]
    * device) and assigns a dense 1..n `posCol` via the PARALLEL
    * [[globalRowNumber]] rank — content-pure: the same corpus yields the
    * same order on any engine with md5, regardless of partitioning. The
    * key must be unique and non-null per row; it rides along as the rank
    * tiebreak so the order stays total even under a hash collision. A
    * null key is a loud eval-time error (the [[hashSplit]] convention):
    * md5(null) is null, and null-keyed rows would tie on both sort
    * columns — a silently nondeterministic order. */
  def deterministicShuffle(df: DataFrame, key: Column,
                           posCol: String = "shuffle_pos"): DataFrame = {
    val safeKey = when(key.isNull,
        raise_error(lit("deterministicShuffle: null shuffle key")))
      .otherwise(key.cast("string"))
    globalRowNumber(df.withColumn("__shk", md5(safeKey)),
      Seq(col("__shk"), key), rnCol = posCol).drop("__shk")
  }

  /** Deterministic UPsampling by a per-row repeat weight `w >= 0` — the
    * epochs-per-source mixing primitive (Pile/LLaMA-style mixes run
    * high-quality sources for MORE than one epoch; [[weightedSample]]
    * only thins). Each row yields `floor(w)` full copies plus one more
    * where the md5 coin of its key lands under `frac(w)`: a source
    * weighted 2.3 contributes every document twice and a content-pure,
    * reproducible ~30% subset a third time — in expectation exactly
    * `Σ wᵢ` output rows. Adds `epoch` (1..copies) so downstream
    * splits/packing can tell copies apart; `w <= 1` reduces exactly to
    * [[weightedSample]] with epoch = 1, and the kept multiset is
    * MONOTONE in the weight (raising a source's w never un-keeps an
    * existing copy — mix retuning stays incremental). Same determinism
    * contract as every sampler here: no RNG, rerun-stable,
    * partition-independent, engine-reproducible from md5/printf. Scale:
    * `explode(sequence)` is per-row — no shuffle; copies land in the
    * producing task (consumers needing spread repartition afterwards). */
  def upsampleMix(df: DataFrame, key: Column, weight: Column,
                  maxCopies: Int = 1000): DataFrame = {
    val w = greatest(weight, lit(0.0))
    val thLong = least(floor((w - floor(w)) * 4294967296.0),
      lit(4294967295.0)).cast("long")
    val extra = when(
      substring(md5(key.cast("string")), 1, 8) <
        format_string("%08x", thLong), 1L).otherwise(0L)
    df.withColumn("__copies", floor(w).cast("long") + extra)
      .filter(col("__copies") > 0)
      // Loud bound, not a silent cap: a runaway weight (a upstream rate
      // where a count belonged) would materialize a `sequence` of w
      // elements IN ONE ROW — fail with the offending value instead of
      // OOMing an executor. Real mixes run single-digit epochs.
      .withColumn("__copies",
        when(col("__copies") > maxCopies, raise_error(concat(
          lit(s"upsampleMix: copies > maxCopies=$maxCopies for key "),
          key.cast("string"),
          lit(" (weight "), weight.cast("string"),
          lit(") — wrong weight column, or raise maxCopies"))).cast("long"))
          .otherwise(col("__copies")))
      .withColumn("epoch", explode(sequence(lit(1L), col("__copies"))))
      .drop("__copies")
  }

  /** Hashing-trick feature vectorizer (Weinberger et al. 2009): token →
    * dimension `pmod(murmur3(token), dim)` with a ±1 sign from a second
    * hash, summed per (row, slot). The dictionary-FREE encode: P11's
    * [[fitEncoder]] needs a fitted vocabulary (a full corpus pass + a
    * broadcast dict); this needs neither, which is what survives at
    * 100 TB with an unbounded vocab. Output is sparse (id, slot, value)
    * triples — the layout downstream training shards want; zero-sum
    * collision cancellations are dropped. Murmur3 is deterministic
    * across runs/partitions but has no DuckDB analog, so the op is
    * invariant-tested rather than oracle-checked (same treatment as the
    * xxhash64-seeded sketches). */
  def hashedFeatures(df: DataFrame, idCol: String, textCol: String,
                     dim: Int): DataFrame = {
    require(dim > 0, "dim must be positive")
    df.select(col(idCol),
        explode(TextAnalysis.tokens(col(textCol))).as("__tok"))
      .withColumn("slot", pmod(hash(col("__tok")), lit(dim)))
      .withColumn("__sign",
        when(pmod(hash(col("__tok"), lit(1)), lit(2)) === 0, 1L).otherwise(-1L))
      .groupBy(col(idCol), col("slot"))
      .agg(sum(col("__sign")).cast("double").as("value"))
      .filter(col("value") =!= 0.0)
  }

  /** X1: per-user negative sampling — sample `n` items per user from the
    * catalog excluding that user's positives (ref `src/data/movielens.py:488-512`).
    *
    * Two paths, dispatched on catalog size (one cheap `count` action):
    *  - catalog <= `maxExactCatalog`: exact full-complement form — users ×
    *    catalog (the reference also enumerates the full complement),
    *    anti-joined against positives, then a seeded hash-ordered
    *    `row_number <= n` per user: a uniform-ish pseudo-random sample,
    *    fully deterministic per seed.
    *  - larger catalogs: [[negativeSampleBucketed]] — NO cross join. The
    *    enumeration of |users|x|catalog| pairs (even as a filtered
    *    broadcast-nested-loop) is the one true cartesian at 100 TB, so the
    *    bounded path replaces it with a hash-bucketed EQUI-join: items are
    *    assigned to `k` deterministic buckets, each user probes `probes`
    *    seeded buckets, giving an expected candidate pool of
    *    `probes * |catalog| / k ~= oversample * n` per user before the
    *    anti-join and window. */
  def negativeSample(positives: DataFrame, userCol: String, itemCol: String,
                     items: DataFrame, n: Int, seed: Long = 42,
                     maxExactCatalog: Long = 100000,
                     knownCatalogSize: Option[Long] = None): DataFrame = {
    // Path dispatch needs the catalog size; counting is an eager action in
    // an otherwise-lazy builder, so callers that know their scale pass it
    // via `knownCatalogSize` and skip the scan.
    val catalogSize = knownCatalogSize.getOrElse(items.count())
    if (catalogSize <= maxExactCatalog) {
      val users = positives.select(userCol).distinct()
      val cand = users.crossJoin(items)
      val notPos = cand.join(positives.select(userCol, itemCol).distinct(),
        Seq(userCol, itemCol), "left_anti")
      val w = Window.partitionBy(col(userCol))
        .orderBy(xxhash64(col(userCol), col(itemCol), lit(seed)), col(itemCol))
      notPos.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= n).drop("__rn")
    } else negativeSampleBucketed(positives, userCol, itemCol, items, n,
      catalogSize, seed)
  }

  /** Bounded X1 for large catalogs: hash-bucketed equi-join candidate
    * generation — linear in |users| * pool, never |users| x |catalog|.
    *
    * Items get bucket `pmod(xxhash64(item, seed), k)`; each user probes the
    * `probes` buckets `pmod(xxhash64(user, seed, j), k)`. The join is a
    * plain shuffled/broadcast HASH join on the bucket id (no
    * CartesianProduct / BroadcastNestedLoopJoin in the plan — asserted in
    * RelationalSpec). Trade-offs, documented: users sharing all probe
    * buckets draw from the same candidate pool (mitigated by `probes` > 1
    * and by the per-(user,item) hash sample order), and a user whose pool
    * is exhausted by positives may get < n negatives (the `oversample`
    * head-room makes that vanishingly rare for pools >> positives/user). */
  def negativeSampleBucketed(positives: DataFrame, userCol: String,
                             itemCol: String, items: DataFrame, n: Int,
                             catalogSize: Long, seed: Long = 42,
                             oversample: Int = 8,
                             probes: Int = 4): DataFrame = {
    val k = math.max(probes.toLong,
      probes.toLong * catalogSize / math.max(1L, oversample.toLong * n))
    val users = positives.select(userCol).distinct()
    val userProbes = users.select(col(userCol),
      explode(array((0 until probes).map(j =>
        pmod(xxhash64(col(userCol), lit(seed), lit(j)), lit(k))): _*))
        .as("__bucket")).distinct()
    val itemBuckets = items.withColumn("__bucket",
      pmod(xxhash64(col(itemCol), lit(seed)), lit(k)))
    val cand = userProbes.join(itemBuckets, Seq("__bucket")).drop("__bucket")
    val notPos = cand.join(positives.select(userCol, itemCol).distinct(),
      Seq(userCol, itemCol), "left_anti")
    val w = Window.partitionBy(col(userCol))
      .orderBy(xxhash64(col(userCol), col(itemCol), lit(seed)), col(itemCol))
    notPos.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n).drop("__rn")
  }
}
