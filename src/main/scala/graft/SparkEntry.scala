package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Features, FeatureStore, Graph, Layout, Relational, Similarity, TextAnalysis}
import graft.eval.RankingMetrics
import graft.functions.{Vectors => V}
import graft.sources.SyntheticData

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] exercises one-or-more SURVEY §2 operator rows via
  * the graft operator library; [[oracleSql]] carries the DuckDB-equivalent SQL
  * for the driver's differential correctness gate. Determinism rules
  * (FIXTURES.md §3): explicit total ORDER BY everywhere, aggregate doubles
  * rounded, aliases identical on both sides, injected anchor timestamps.
  */
object SparkEntry {

  private[graft] def T(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    // Scan-parallelism floor for the CPU-DENSE payload tables (r20, guide
    // §2 "make partitioning scale-adaptive — derive from input size" and
    // §6 minPartitionNum): documents/embeddings rows are tiny on disk but
    // carry text/vector payloads whose downstream per-row compute
    // (tokenize, shingle, hash, BPE replace, per-lane float math) is
    // orders of magnitude above scan cost, and the testdata files are
    // single-row-group parquet — bytes-based split sizing therefore runs
    // that compute on ONE task while the rest of the box idles (measured:
    // c4_text_features spent 3.4 of its 3.9 s in two single-task stages;
    // d_containment 3.3 of 4.6 s). The floor is CONDITIONAL on the
    // byte-derived split count, so at any real scale (file bytes >>
    // cores × maxPartitionBytes) it is a no-op and adds no shuffle; the
    // relational tables are excluded because their queries reach a
    // parallelizing exchange within one cheap projection of the scan.
    // Filters/pruning push through a Repartition node, so PushedFilters
    // at the scan are unchanged.
    if (name == "documents" || name == "embeddings") {
      val want = s.sparkContext.defaultParallelism
      val bytes = tableBytes(s, s"$dir/$name.parquet")
      val maxSplit = s.sessionState.conf.filesMaxPartitionBytes
      val scanParts = math.max(1L, (bytes + maxSplit - 1) / maxSplit)
      if (scanParts < want) df.repartition(want) else df
    } else df
  }

  /** On-disk bytes of a table path (a file, or a directory summed
    * recursively), resolved through the path's own Hadoop FileSystem so
    * a plain path and its `file:`/`hdfs:`/`s3a:` URI size the same —
    * `java.io.File` reads any URI-form path as absent, 0 bytes. */
  private[graft] def tableBytes(s: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(s.sessionState.newHadoopConf())
      .getContentSummary(p).getLength
  }

  /** Memoized table row count, keyed by parquet path. Sizing decisions
    * (e.g. corpus-proportional nlist in `d_embedding_neardup`) need a
    * count at query-CONSTRUCTION time; an eager `df.count()` there is an
    * extra full action silently re-paid on every invocation and folded
    * into that query's measured time (r8 ADVICE). Parquet footers answer
    * it in milliseconds; the cache makes repeat invocations free. */
  private val rowCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private[graft] def rowCount(s: SparkSession, dir: String, name: String): Long =
    rowCountCache.computeIfAbsent(s"$dir/$name.parquet",
      p => java.lang.Long.valueOf(s.read.parquet(p).count()))

  /** Events table loader: [[eventsRange]] with no time bounds. */
  private[graft] def E(s: SparkSession, dir: String): DataFrame =
    eventsRange(s, dir, None, None)

  /** Drop catalog tables AND their stale warehouse directories — across
    * JVMs the in-memory catalog is gone but the directories remain, and
    * `saveAsTable` refuses a location it didn't create
    * (LOCATION_ALREADY_EXISTS). Used by the bucketed-layout queries before
    * their write-once-per-(JVM, sf dir) table builds. */
  private def dropWarehouseTables(s: SparkSession, names: Seq[String]): Unit =
    names.foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS $t")
      val wh = s.conf.get("spark.sql.warehouse.dir")
      val base = if (wh.startsWith("file:"))
        new java.io.File(new java.net.URI(wh).getPath)
      else new java.io.File(wh)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      val dir = new java.io.File(base, t)
      if (dir.exists) rm(dir)
    }

  /** Events table loader with an optional time range. The testdata's
    * events.parquet has carried three `ts` encodings, all normalized to a
    * session-local (UTC) TIMESTAMP column: TIMESTAMP(NANOS), which Spark's
    * vectorized parquet reader rejects, is read as a long (legacy conf)
    * and converted losslessly to microseconds (the testdata has no sub-µs
    * values); TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as NTZ and
    * is cast so downstream cast-to-long / unix_micros keep resolving; an
    * LTZ column passes through.
    *
    * The range predicate applies on the RAW nanos long, BEFORE the
    * timestamp conversion: a filter on the derived µs column can never
    * reach the parquet scan (the conversion expression blocks
    * pushdown), so at 100 TB a time-sliced events job would full-scan.
    * Filtering the underlying long pushes as an ordinary range predicate
    * (and prunes row groups via min/max stats); the conversion then runs
    * on survivors only. Bounds are UTC "yyyy-MM-dd[ HH:mm:ss]" strings,
    * lower inclusive, upper exclusive; either may be None. */
  private[graft] def eventsRange(s: SparkSession, dir: String,
                                 from: Option[String],
                                 until: Option[String]): DataFrame = {
    def nanosOf(d: String): Long = {
      val norm = if (d.contains(" ") || d.contains("T")) d.replace(' ', 'T')
        else d + "T00:00:00"
      java.time.LocalDateTime.parse(norm)
        .toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000000L
    }
    try s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case _: Throwable => () }
    val raw = s.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        val lo = from.map(d => raw("ts") >= nanosOf(d))
        val hi = until.map(d => raw("ts") < nanosOf(d))
        (lo ++ hi).reduceOption(_ && _).map(raw.filter).getOrElse(raw)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // NTZ scan: filter on the NTZ column with NTZ literals (the
      // predicate stays pushable to the parquet scan), THEN normalize
      // to session-local (UTC) TIMESTAMP for downstream arithmetic.
      case org.apache.spark.sql.types.TimestampNTZType =>
        val lo = from.map(d => raw("ts") >= lit(d).cast("timestamp_ntz"))
        val hi = until.map(d => raw("ts") < lit(d).cast("timestamp_ntz"))
        (lo ++ hi).reduceOption(_ && _).map(raw.filter).getOrElse(raw)
          .withColumn("ts", col("ts").cast("timestamp"))
      case _ =>
        val lo = from.map(d => col("ts") >= lit(d).cast("timestamp"))
        val hi = until.map(d => col("ts") < lit(d).cast("timestamp"))
        (lo ++ hi).reduceOption(_ && _).map(raw.filter).getOrElse(raw)
    }
  }

  /** Injected "now" anchor for trailing-window queries (events span Jan 2024). */
  private val Anchor = "2024-01-31 00:00:00"

  /** 3-iteration PageRank oracle over the item co-occurrence graph, shared
    * by g1_pagerank (unrolled form) and g1b_pagerank_ckpt (checkpoint-per-
    * round form) — the two must produce the IDENTICAL ranks, so they hash
    * against the identical SQL. */
  private val PageRank3Oracle: String =
    """WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      |nn AS (SELECT count(*) AS n FROM nodes),
      |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
      |p0 AS (SELECT id, 1.0 / n AS pr FROM nodes CROSS JOIN nn),
      |c1 AS (SELECT e.dst AS id, sum(p0.pr / od.outdeg) AS s
      |  FROM e JOIN p0 ON e.src = p0.id JOIN od ON e.src = od.src GROUP BY e.dst),
      |p1 AS (SELECT nodes.id, (1.0 - 0.85) / nn.n + 0.85 * coalesce(c1.s, 0.0) AS pr
      |  FROM nodes CROSS JOIN nn LEFT JOIN c1 ON nodes.id = c1.id),
      |c2 AS (SELECT e.dst AS id, sum(p1.pr / od.outdeg) AS s
      |  FROM e JOIN p1 ON e.src = p1.id JOIN od ON e.src = od.src GROUP BY e.dst),
      |p2 AS (SELECT nodes.id, (1.0 - 0.85) / nn.n + 0.85 * coalesce(c2.s, 0.0) AS pr
      |  FROM nodes CROSS JOIN nn LEFT JOIN c2 ON nodes.id = c2.id),
      |c3 AS (SELECT e.dst AS id, sum(p2.pr / od.outdeg) AS s
      |  FROM e JOIN p2 ON e.src = p2.id JOIN od ON e.src = od.src GROUP BY e.dst),
      |p3 AS (SELECT nodes.id, (1.0 - 0.85) / nn.n + 0.85 * coalesce(c3.s, 0.0) AS pr
      |  FROM nodes CROSS JOIN nn LEFT JOIN c3 ON nodes.id = c3.id)
      |SELECT id, round(pr, 6) AS pr FROM p3 ORDER BY id""".stripMargin
  private def anchorTs: Column = lit(Anchor).cast("timestamp")

  // ====================================================================
  // Tranche 1: relational core (P/J/A/W/O/X rows)
  // ====================================================================

  /** (name, spark query, optional DuckDB oracle) triples — single source of
    * truth so `queries` and `oracleSql` can never drift apart. */
  private lazy val registry: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // --- S3/P1/P2/O2: scan → filter → project, pushdown-friendly ---
    ("p_scan_filter_project", (s, d) =>
      T(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("2000-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("2000-02-01").cast("timestamp") &&
          col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '2000-01-01' AND l_shipdate < TIMESTAMP '2000-02-01' AND l_quantity > 45
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // --- P4/P5: implicit-feedback labeling (movielens.py:238-261) ---
    ("p_implicit_labels", (s, d) => {
      val labeled = Relational.implicitLabels(E(s, d), "value", 100.0)
      labeled.groupBy(col("label"))
        .agg(count(lit(1)).as("cnt"),
          (round(sum(col("value")), 2) / count(lit(1))).as("avg_value"))
        .orderBy(col("label"))
    },
      Some("""SELECT CASE WHEN value >= 100.0 THEN 1 ELSE 0 END AS label,
             |count(*) AS cnt, round(sum(value), 2) / count(*) AS avg_value
             |FROM events GROUP BY 1 ORDER BY label""".stripMargin)),

    // --- P6/P9/F17: derived arithmetic columns ---
    ("p_derived_cols", (s, d) =>
      T(s, d, "lineitem").filter(col("l_orderkey") < 200)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net_price"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("charge"),
          (col("l_quantity") / 50.0).as("qty_norm"),
          Features.safeDiv(col("l_discount"), col("l_tax")).as("disc_tax_ratio"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      Some("""SELECT l_orderkey, l_linenumber,
             |l_extendedprice * (1 - l_discount) AS net_price,
             |l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
             |l_quantity / 50.0 AS qty_norm,
             |l_discount / (l_tax + 1e-6) AS disc_tax_ratio
             |FROM lineitem WHERE l_orderkey < 200 ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // --- P10: z-score normalize, two-phase agg + broadcast (movielens.py:421-422).
    // Oracle-safe arithmetic: moments are rounded at the source's true decimal
    // precision (acctbal has 2 decimals → sum exact at 2, sum-of-squares at 4),
    // then mean/std derive identically on both engines — bit-identical output,
    // no final rounding.
    ("p_zscore", (s, d) => {
      val cust = T(s, d, "customer")
      val stats = cust.agg(
        round(sum(col("c_acctbal")), 2).as("__s"),
        round(sum(col("c_acctbal") * col("c_acctbal")), 4).as("__ss"),
        count(lit(1)).as("__n"))
      cust.crossJoin(broadcast(stats))
        .select(col("c_custkey"),
          ((col("c_acctbal") - col("__s") / col("__n")) /
            (sqrt((col("__ss") - col("__s") * col("__s") / col("__n")) /
              (col("__n") - 1)) + 1e-8)).as("acctbal_z"))
        .orderBy(col("c_custkey"))
    },
      Some("""WITH st AS (SELECT round(sum(c_acctbal), 2) AS s, round(sum(c_acctbal * c_acctbal), 4) AS ss, count(*) AS n FROM customer)
             |SELECT c_custkey,
             |(c_acctbal - s / n) / (sqrt((ss - s * s / n) / (n - 1)) + 1e-8) AS acctbal_z
             |FROM customer, st ORDER BY c_custkey""".stripMargin)),

    // --- P11: sorted dense-rank id encoding, sklearn LabelEncoder parity ---
    ("p_id_encode", (s, d) => {
      val cust = T(s, d, "customer")
      val enc = Relational.fitEncoder(cust, "c_mktsegment", "seg_idx")
      Relational.encodeWith(cust, enc, "c_mktsegment", "seg_idx")
        .select(col("c_custkey"), col("c_mktsegment"),
          col("seg_idx").cast("long").as("seg_idx"))
        .orderBy(col("c_custkey"))
    },
      Some("""SELECT c_custkey, c_mktsegment,
             |dense_rank() OVER (ORDER BY c_mktsegment) - 1 AS seg_idx
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    // --- J1/P7/P8: left equi-join enrichment + null fill + alias ---
    ("j1_left_join_enrich", (s, d) =>
      T(s, d, "orders")
        .join(broadcast(T(s, d, "customer")),
          col("o_custkey") === col("c_custkey"), "left")
        .groupBy(coalesce(col("c_mktsegment"), lit("unknown")).as("segment"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
        .orderBy(col("segment")),
      Some("""SELECT coalesce(c_mktsegment, 'unknown') AS segment,
             |count(*) AS cnt, round(sum(o_totalprice), 2) AS total_price
             |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
             |GROUP BY 1 ORDER BY segment""".stripMargin)),

    // --- J2: multi-way inner join (revenue per region/nation) ---
    ("j2_multiway_join", (s, d) =>
      T(s, d, "lineitem")
        .join(T(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .join(T(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(T(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(T(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
          count(lit(1)).as("cnt"))
        .orderBy(col("r_name"), col("n_name")),
      Some("""SELECT r_name, n_name,
             |round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue, count(*) AS cnt
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
             |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)),

    // --- J4: left-anti join (split complement idiom, movielens.py:228) ---
    ("j4_anti_join", (s, d) => {
      val bigOrders = T(s, d, "orders").filter(col("o_totalprice") > 450000)
      T(s, d, "customer")
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 450000)
             |ORDER BY c_custkey""".stripMargin)),

    // --- J5: k-core windowed-count chain, fixed 3 iterations (movielens.py:345-382) ---
    ("j5_kcore", (s, d) => {
      val li = T(s, d, "lineitem").select(col("l_partkey"), col("l_suppkey"))
      Relational.kCore(li, "l_partkey", "l_suppkey", 30, 590, 3)
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
    },
      Some("""WITH i0 AS (SELECT l_partkey, l_suppkey FROM lineitem),
             |p1 AS (SELECT * FROM i0 WHERE l_partkey IN (SELECT l_partkey FROM i0 GROUP BY 1 HAVING count(*) >= 30)),
             |s1 AS (SELECT * FROM p1 WHERE l_suppkey IN (SELECT l_suppkey FROM p1 GROUP BY 1 HAVING count(*) >= 590)),
             |p2 AS (SELECT * FROM s1 WHERE l_partkey IN (SELECT l_partkey FROM s1 GROUP BY 1 HAVING count(*) >= 30)),
             |s2 AS (SELECT * FROM p2 WHERE l_suppkey IN (SELECT l_suppkey FROM p2 GROUP BY 1 HAVING count(*) >= 590)),
             |p3 AS (SELECT * FROM s2 WHERE l_partkey IN (SELECT l_partkey FROM s2 GROUP BY 1 HAVING count(*) >= 30)),
             |s3 AS (SELECT * FROM p3 WHERE l_suppkey IN (SELECT l_suppkey FROM p3 GROUP BY 1 HAVING count(*) >= 590))
             |SELECT count(*) AS cnt, count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps FROM s3""".stripMargin)),

    // --- J6/F23: map-literal lookup join (movielens.py:47-59) ---
    ("j6_map_lookup", (s, d) => {
      val zones = Map(0 -> "ZONE-AMERICAS", 1 -> "ZONE-EMEA", 2 -> "ZONE-APAC")
      T(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"),
          Relational.mapLookup(col("n_regionkey"), zones, "ZONE-OTHER").as("zone"))
        .orderBy(col("n_nationkey"))
    },
      Some("""SELECT n_nationkey, n_name,
             |CASE n_regionkey WHEN 0 THEN 'ZONE-AMERICAS' WHEN 1 THEN 'ZONE-EMEA' WHEN 2 THEN 'ZONE-APAC' ELSE 'ZONE-OTHER' END AS zone
             |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // --- S9/J8: as-of TTL join (simple_feature_store.py:52-71 contract) ---
    ("j8_asof_ttl_join", (s, d) => {
      val ev = E(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val view = FeatureStore.FeatureView("clicks", Seq("user_id"), "ts", 3600L)
      FeatureStore.asOfJoin(purchases, Seq("user_id"), "ts", clicks, view, "event_id")
        .select(col("event_id"), col("f_event_id").as("click_event_id"))
        .orderBy(col("event_id"))
    },
      Some("""SELECT p.event_id,
             |(SELECT c.event_id FROM events c
             | WHERE c.event_type = 'click' AND c.user_id = p.user_id
             |   AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 3600 SECONDS
             | ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS click_event_id
             |FROM events p WHERE p.event_type = 'purchase' ORDER BY p.event_id""".stripMargin)),

    // --- S9/J8 scale path: same as-of semantics via union + one window
    //     pass (no range-join fan-out); SAME oracle as j8 — both
    //     implementations must produce identical rows ---
    ("j8b_asof_sorted", (s, d) => {
      val ev = E(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val view = FeatureStore.FeatureView("clicks", Seq("user_id"), "ts", 3600L)
      FeatureStore.asOfJoinSorted(purchases, Seq("user_id"), "ts", clicks,
        view, "event_id")
        .select(col("event_id"), col("f_event_id").as("click_event_id"))
        .orderBy(col("event_id"))
    },
      Some("""SELECT p.event_id,
             |(SELECT c.event_id FROM events c
             | WHERE c.event_type = 'click' AND c.user_id = p.user_id
             |   AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 3600 SECONDS
             | ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS click_event_id
             |FROM events p WHERE p.event_type = 'purchase' ORDER BY p.event_id""".stripMargin)),

    // --- A1/A4/A7: grouped count + distinct count (value_counts idiom) ---
    ("a1_grouped_counts", (s, d) =>
      E(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("event_type")).as("n_types"))
        .orderBy(col("user_id")),
      Some("""SELECT user_id, count(*) AS cnt, count(DISTINCT event_type) AS n_types
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // --- A2/A3/A5/F17: conditional counts + CTR (feature_engineering.py:201-228) ---
    ("a2_conditional_ctr", (s, d) => {
      val ev = E(s, d)
      ev.groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"),
          (round(sum(col("value")), 2) / count(lit(1))).as("avg_value"))
        .withColumn("ctr", Features.safeDiv(col("clicks"), col("views")))
        .orderBy(col("user_id"))
    },
      Some("""SELECT user_id,
             |count(*) FILTER (WHERE event_type = 'click') AS clicks,
             |count(*) FILTER (WHERE event_type = 'view') AS views,
             |round(sum(value), 2) / count(*) AS avg_value,
             |(count(*) FILTER (WHERE event_type = 'click')) / ((count(*) FILTER (WHERE event_type = 'view')) + 1e-6) AS ctr
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // --- A6/T5: multi-horizon trailing windows, single-pass conditional agg ---
    ("a6_multiwindow_agg", (s, d) => {
      val horizons = Seq(("24h", 86400L), ("7d", 604800L), ("30d", 2592000L))
      val agg = Features.multiWindowAggs(E(s, d), "user_id", "ts",
        "event_type", "value", anchorTs, horizons)
      // oracle-safe mean: round the (exactly-2-decimal) sum, divide by count
      val safe = horizons.foldLeft(agg) { case (df, (sfx, _)) =>
        df.withColumn(s"avg_value_$sfx",
          round(col(s"sum_value_$sfx"), 2) / col(s"events_$sfx"))
          .drop(s"sum_value_$sfx")
      }
      safe.orderBy(col("user_id"))
    }, {
      def win(sfx: String, secs: Long): String = {
        val in = s"ts >= TIMESTAMP '$Anchor' - INTERVAL $secs SECONDS AND ts <= TIMESTAMP '$Anchor'"
        s"""count(*) FILTER (WHERE $in AND event_type = 'click') AS clicks_$sfx,
           |count(*) FILTER (WHERE $in AND event_type = 'view') AS views_$sfx,
           |count(*) FILTER (WHERE $in) AS events_$sfx,
           |round(sum(value) FILTER (WHERE $in), 2) / (count(*) FILTER (WHERE $in)) AS avg_value_$sfx,
           |(count(*) FILTER (WHERE $in AND event_type = 'click')) / ((count(*) FILTER (WHERE $in AND event_type = 'view')) + 1e-6) AS ctr_$sfx""".stripMargin
      }
      Some(s"""SELECT user_id,
              |${win("24h", 86400L)},
              |${win("7d", 604800L)},
              |${win("30d", 2592000L)}
              |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
    }),

    // --- A8/W3/O5/U1: per-group top-k collected to ordered list ---
    ("a8_collect_topk", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      E(s, d)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .groupBy(col("user_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("rnk"), col("event_id")))),
          x => x.getField("event_id").cast("string")), ",").as("top_events"))
        .orderBy(col("user_id"))
    },
      Some("""WITH ranked AS (
             |  SELECT user_id, event_id,
             |         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rnk
             |  FROM events)
             |SELECT user_id, string_agg(event_id::VARCHAR, ',' ORDER BY rnk) AS top_events
             |FROM ranked WHERE rnk <= 5 GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // --- A9: global scalar aggregates ---
    ("a9_global_aggs", (s, d) =>
      T(s, d, "lineitem").agg(
        count(lit(1)).as("cnt"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        (round(sum(col("l_extendedprice")), 2) / count(lit(1))).as("avg_price"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        sqrt((round(sum(col("l_discount") * col("l_discount")), 4) -
          round(sum(col("l_discount")), 2) * round(sum(col("l_discount")), 2) / count(lit(1))) /
          (count(lit(1)) - 1)).as("std_discount")),
      Some("""SELECT count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty,
             |round(sum(l_extendedprice), 2) / count(*) AS avg_price,
             |min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
             |sqrt((round(sum(l_discount * l_discount), 4) - round(sum(l_discount), 2) * round(sum(l_discount), 2) / count(*)) / (count(*) - 1)) AS std_discount
             |FROM lineitem""".stripMargin)),

    // --- W1/J4: leave-last-N-per-user split (movielens.py:204-236) ---
    ("w1_leave_last_n", (s, d) =>
      Relational.leaveLastN(E(s, d), "user_id", "ts", "event_id", 1)
        .filter(col("split") === "test")
        .select(col("user_id"), col("event_id"))
        .orderBy(col("user_id")),
      Some("""SELECT user_id, event_id FROM (
             |  SELECT user_id, event_id,
             |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events) t
             |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // --- W2/O1: global ordered fractional time split (movielens.py:162-202) ---
    ("w2_time_split", (s, d) =>
      Relational.timeSplit(E(s, d), "ts", "event_id", 0.8, 0.1)
        .groupBy(col("split")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("split")),
      Some("""WITH s AS (
             |  SELECT row_number() OVER (ORDER BY ts, event_id) AS rn, count(*) OVER () AS n
             |  FROM events)
             |SELECT CASE WHEN rn <= n * 0.8 THEN 'train' WHEN rn <= n * 0.9 THEN 'val' ELSE 'test' END AS split,
             |count(*) AS cnt FROM s GROUP BY 1 ORDER BY split""".stripMargin)),

    // --- W3: per-group top-k by score (evaluate_model.py:231) ---
    ("w3_topk_per_group", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      E(s, d)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("user_id"), col("rnk").cast("long").as("rnk"),
          col("event_id"), col("value"))
        .orderBy(col("user_id"), col("rnk"))
    },
      Some("""SELECT user_id, rnk, event_id, value FROM (
             |  SELECT user_id, event_id, value,
             |         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rnk
             |  FROM events) t
             |WHERE rnk <= 3 ORDER BY user_id, rnk""".stripMargin)),

    // --- W6: running prefix aggregation (metrics.py:202-228 shape) ---
    ("w6_running_sum", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      E(s, d).filter(col("user_id") < 10)
        .select(col("user_id"), col("event_id"),
          round(sum(col("value")).over(w), 4).as("run_sum"),
          count(lit(1)).over(w).as("run_cnt"))
        .orderBy(col("user_id"), col("event_id"))
    },
      Some("""SELECT user_id, event_id,
             |round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING), 4) AS run_sum,
             |count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS run_cnt
             |FROM events WHERE user_id < 10 ORDER BY user_id, event_id""".stripMargin)),

    // --- W7/S8: latest-per-key (online store semantics) ---
    ("w7_latest_per_key", (s, d) =>
      FeatureStore.latestPerKey(E(s, d), Seq("user_id"), "ts", "event_id")
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .orderBy(col("user_id")),
      Some("""SELECT user_id, event_id, event_type, value FROM (
             |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events) t
             |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // --- W10: SCD2 validity intervals from a change log — each event's
    //     state is valid [ts, next ts); the open (current) version has no
    //     end. The warehouse-dimension sibling of the as-of join (j8
    //     answers "state at time T" against exactly these intervals).
    //     Durations summed in LONG microseconds (unix_micros ↔ epoch_us)
    //     so the aggregate is integer-exact in both engines — a float
    //     seconds sum could land exactly on a rounding-digit .5. ---
    ("w10_scd2_intervals", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      E(s, d)
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("valid_to", lead(col("ts"), 1).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_versions"),
          count(when(col("valid_to").isNull, 1)).as("n_current"),
          sum(unix_micros(col("valid_to")) - unix_micros(col("ts")))
            .as("closed_dur_us"))
        .orderBy(col("user_id"))
    },
      Some("""WITH v AS (SELECT user_id, ts,
             |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
             |  FROM events)
             |SELECT user_id, count(*) AS n_versions,
             |CAST(count(*) FILTER (WHERE valid_to IS NULL) AS BIGINT) AS n_current,
             |CAST(sum(epoch_us(valid_to) - epoch_us(ts)) AS BIGINT) AS closed_dur_us
             |FROM v GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // --- X24: K-fold cross-validation assignment — deterministic fold id
    //     from the md5-prefix device (fold = hash64(key) mod k): content-
    //     pure, partition-independent, stable under corpus growth (a
    //     doc's fold never changes when data is added — the property CV
    //     over a growing corpus needs). Emits the fold histogram; exact
    //     in both engines because the 8-hex prefix is integer arithmetic.
    //     The x8 hashSplit is the fractional sibling; this is the
    //     equal-k variant. ---
    ("x24_kfold", (s, d) =>
      T(s, d, "documents")
        .select(pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 8),
          16, 10).cast("long"), lit(5L)).as("fold"))
        .groupBy(col("fold")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("fold")),
      Some("""SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 5 AS BIGINT) AS fold,
             |count(*) AS n_docs FROM documents
             |GROUP BY 1 ORDER BY fold""".stripMargin)),

    // --- X23: data-contract expectations — the declarative validation
    //     pass (null rate, domain membership, range, decodability) every
    //     ingest runs before publishing; one linear scan, violations as
    //     conditional counts (the x18/x19 audit family's generic form) ---
    ("x23_expectations", (s, d) =>
      E(s, d).agg(
        count(lit(1)).as("n"),
        count(when(col("user_id").isNull, 1)).as("null_user"),
        count(when(col("value") < 0, 1)).as("neg_value"),
        count(when(!col("event_type").isin(
          "click", "view", "purchase", "signup", "error"), 1))
          .as("unknown_type"),
        count(when(get_json_object(col("props"), "$.k").isNull, 1))
          .as("undecodable_props")),
      Some("""SELECT count(*) AS n,
             |CAST(count(*) FILTER (WHERE user_id IS NULL) AS BIGINT) AS null_user,
             |CAST(count(*) FILTER (WHERE value < 0) AS BIGINT) AS neg_value,
             |CAST(count(*) FILTER (WHERE event_type NOT IN
             |  ('click', 'view', 'purchase', 'signup', 'error')) AS BIGINT) AS unknown_type,
             |CAST(count(*) FILTER (WHERE props->>'$.k' IS NULL) AS BIGINT) AS undecodable_props
             |FROM events""".stripMargin)),

    // --- S8: online point lookup with TTL freshness ---
    ("s8_online_lookup", (s, d) => {
      val keys = s.range(10).select(col("id").as("user_id"))
      val view = FeatureStore.FeatureView("user_events", Seq("user_id"), "ts", 604800L)
      FeatureStore.onlineLookup(E(s, d), view, keys, anchorTs, "event_id")
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .orderBy(col("user_id"))
    },
      Some(s"""SELECT user_id, event_id, event_type, value FROM (
              |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
              |  FROM events
              |  WHERE user_id < 10 AND ts <= TIMESTAMP '$Anchor'
              |    AND ts >= TIMESTAMP '$Anchor' - INTERVAL 604800 SECONDS) t
              |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // --- O3: global top-k by score ---
    ("o3_global_topk", (s, d) =>
      T(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),

    // --- O7: exact global row_number WITHOUT a single-partition window —
    //     range-partitioned parallel ranking via partition offsets
    //     (Relational.globalRowNumber). The general device behind this
    //     round's unpartitioned-window kills, oracle-proven exact against
    //     DuckDB's true global row_number. ---
    ("o7_global_rownumber", (s, d) =>
      Relational.globalRowNumber(
        T(s, d, "orders").filter(col("o_totalprice") > 150000.0),
        Seq(col("o_totalprice").desc, col("o_orderkey")))
        .select(col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy(col("rn")),
      Some("""SELECT o_orderkey, o_totalprice,
             |row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |FROM orders WHERE o_totalprice > 150000.0 ORDER BY rn""".stripMargin)),

    // --- O8: the o3 global-top-k semantics routed through TopKByScore's
    //     EMPTY-grouping form (partial per-partition heaps → AllTuples →
    //     one final heap — the TakeOrdered shape expressed by the custom
    //     operator, third green query plan-asserting the exec). Score
    //     folds the o_orderkey-ASC tiebreak in (minus epsilon, exact at
    //     these magnitudes and identical in the oracle) because heap ties
    //     at the cut are otherwise arbitrary. ---
    ("o8_global_topk_strategy", (s, d) => {
      val scored = T(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          (col("o_totalprice") - col("o_orderkey") * 1.0e-9).as("__score"))
      val top = graft.plans.TopK.topKByScore(scored, Seq.empty, "__score", 100)
      val plan = top.queryExecution.executedPlan.toString
      require(plan.contains("TopKPerGroup"),
        s"o8_global_topk_strategy: TopKByScore exec missing from plan:\n$plan")
      top.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM (
             |  SELECT * FROM orders
             |  ORDER BY o_totalprice - o_orderkey * 1.0e-9 DESC LIMIT 100) t
             |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin)),

    // --- J3/P7: per-window agg frames full-outer combined + fill (A-fanout alt) ---
    ("j3_outer_join_fill", (s, d) => {
      val ev = E(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(count(lit(1)).as("cnt_clicks"))
      val purch = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(round(sum(col("value")), 2).as("sum_purchase"))
      clicks.join(purch, Seq("user_id"), "full")
        .na.fill(0L, Seq("cnt_clicks")).na.fill(0.0, Seq("sum_purchase"))
        .orderBy(col("user_id"))
    },
      Some("""WITH c AS (SELECT user_id, count(*) AS cnt_clicks FROM events WHERE event_type = 'click' GROUP BY 1),
             |p AS (SELECT user_id, round(sum(value), 2) AS sum_purchase FROM events WHERE event_type = 'purchase' GROUP BY 1)
             |SELECT coalesce(c.user_id, p.user_id) AS user_id,
             |coalesce(cnt_clicks, 0) AS cnt_clicks, coalesce(sum_purchase, 0.0) AS sum_purchase
             |FROM c FULL OUTER JOIN p ON c.user_id = p.user_id ORDER BY user_id""".stripMargin)),

    // --- X1..X4: per-user array set operations over json-decoded item keys ---
    ("x_array_set_ops", (s, d) => {
      val ev = E(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      ev.groupBy(col("user_id"))
        .agg(
          collect_set(when(col("event_type") === "click", col("k"))).as("ck"),
          collect_set(when(col("event_type") === "view", col("k"))).as("vk"))
        .select(col("user_id"),
          size(col("ck")).as("n_clicked"),
          size(col("vk")).as("n_viewed"),
          size(array_intersect(col("ck"), col("vk"))).as("n_both"),
          size(array_except(col("ck"), col("vk"))).as("n_click_only"))
        .orderBy(col("user_id"))
    },
      Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
             |ck AS (SELECT DISTINCT user_id, CAST(props->>'$.k' AS INTEGER) AS k FROM events WHERE event_type = 'click'),
             |vk AS (SELECT DISTINCT user_id, CAST(props->>'$.k' AS INTEGER) AS k FROM events WHERE event_type = 'view'),
             |j AS (SELECT coalesce(ck.user_id, vk.user_id) AS user_id, ck.k AS ck_k, vk.k AS vk_k
             |      FROM ck FULL OUTER JOIN vk ON ck.user_id = vk.user_id AND ck.k = vk.k)
             |SELECT u.user_id,
             |CAST(count(*) FILTER (WHERE j.ck_k IS NOT NULL) AS INTEGER) AS n_clicked,
             |CAST(count(*) FILTER (WHERE j.vk_k IS NOT NULL) AS INTEGER) AS n_viewed,
             |CAST(count(*) FILTER (WHERE j.ck_k IS NOT NULL AND j.vk_k IS NOT NULL) AS INTEGER) AS n_both,
             |CAST(count(*) FILTER (WHERE j.ck_k IS NOT NULL AND j.vk_k IS NULL) AS INTEGER) AS n_click_only
             |FROM u LEFT JOIN j ON u.user_id = j.user_id GROUP BY u.user_id ORDER BY u.user_id""".stripMargin)),

    // --- X5: frame union append ---
    ("x5_union_append", (s, d) => {
      val ev = E(s, d)
      ev.filter(col("event_type") === "click")
        .unionByName(ev.filter(col("event_type") === "signup"))
        .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("event_type"))
    },
      Some("""SELECT event_type, count(*) AS cnt FROM (
             |  SELECT * FROM events WHERE event_type = 'click'
             |  UNION ALL SELECT * FROM events WHERE event_type = 'signup') t
             |GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // --- X6 (scale op): deterministic per-group down-sampling — cap each
    //     class to n rows by multiplicative-hash order (training-mix
    //     rebalancing; engine-independent unlike RNG sampleBy) ---
    ("x6_group_cap", (s, d) => {
      val li = T(s, d, "lineitem")
        .withColumn("rid", col("l_orderkey") * 8 + col("l_linenumber"))
      Relational.capPerGroup(li, Seq("l_returnflag"), 500, col("rid"))
        .select(col("l_returnflag"), col("rid").cast("long").as("rid"))
        .orderBy(col("l_returnflag"), col("rid"))
    },
      Some("""WITH t AS (SELECT l_returnflag,
             |  l_orderkey * 8 + l_linenumber AS rid,
             |  ((l_orderkey * 8 + l_linenumber) % 1000003) * 2654435761 % 2147483647 AS h
             |  FROM lineitem),
             |r AS (SELECT l_returnflag, rid,
             |  row_number() OVER (PARTITION BY l_returnflag ORDER BY h, rid) AS rn FROM t)
             |SELECT l_returnflag, CAST(rid AS BIGINT) AS rid FROM r
             |WHERE rn <= 500 ORDER BY l_returnflag, rid""".stripMargin)),

    // --- P12: feature-vector assembly + padding (movielens.py feature
    //     matrices / VectorAssembler idiom) — arrays hash-match fine ---
    ("p_vector_assembly", (s, d) =>
      T(s, d, "customer").select(
        col("c_custkey"),
        graft.functions.Vectors.padTo(
          array(col("c_acctbal"),
            col("c_nationkey").cast("double"),
            (col("c_custkey") % 7).cast("double")), 6)
          .as("fvec"))
        // exploded to scalar rows: the harness compares cell values, and
        // padding correctness shows up as the (pos, v) pairs per key
        .select(col("c_custkey"), posexplode(col("fvec")).as(Seq("pos", "v")))
        .select(col("c_custkey"), col("pos").cast("long").as("pos"), col("v"))
        .orderBy(col("c_custkey"), col("pos")),
      Some("""WITH f AS (SELECT c_custkey,
             |  [c_acctbal, CAST(c_nationkey AS DOUBLE),
             |   CAST(c_custkey % 7 AS DOUBLE), 0.0, 0.0, 0.0] AS fvec
             |  FROM customer)
             |SELECT c_custkey, CAST(pos - 1 AS BIGINT) AS pos, v
             |FROM (SELECT c_custkey, unnest(fvec) AS v,
             |      generate_subscripts(fvec, 1) AS pos FROM f) t
             |ORDER BY c_custkey, pos""".stripMargin)),

    // --- F1-F6: string/regex scalar functions ---
    ("f_string_ops", (s, d) =>
      T(s, d, "part").select(
        col("p_partkey"),
        element_at(split(col("p_name"), " "), 1).as("name_word1"),
        size(split(col("p_name"), " ")).as("n_words"),
        regexp_extract(col("p_brand"), "(\\d+)", 1).cast("int").as("brand_num"),
        lower(col("p_type")).as("type_lower"),
        concat(lit("part_"), col("p_partkey").cast("string")).as("part_tag"),
        regexp_replace(col("p_name"), "\\s+", "_").as("name_slug"))
        .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey,
             |split_part(p_name, ' ', 1) AS name_word1,
             |CAST(len(string_split(p_name, ' ')) AS INTEGER) AS n_words,
             |CAST(regexp_extract(p_brand, '(\d+)', 1) AS INTEGER) AS brand_num,
             |lower(p_type) AS type_lower,
             |'part_' || p_partkey AS part_tag,
             |regexp_replace(p_name, '\s+', '_', 'g') AS name_slug
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // --- F7-F10: date/time scalar functions ---
    ("f_date_ops", (s, d) =>
      T(s, d, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        dayofweek(col("o_orderdate")).as("dow"),
        quarter(col("o_orderdate")).as("qtr"),
        datediff(lit("2002-01-01").cast("timestamp"), col("o_orderdate")).as("days_to_2002"))
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey,
             |CAST(year(o_orderdate) AS INTEGER) AS yr,
             |CAST(month(o_orderdate) AS INTEGER) AS mo,
             |CAST(day(o_orderdate) AS INTEGER) AS dom,
             |CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
             |CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
             |CAST(datediff('day', o_orderdate, TIMESTAMP '2002-01-01') AS INTEGER) AS days_to_2002
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // --- F11-F17: math scalar functions (decay, clip, log2, sqrt, blend) ---
    ("f_math_ops", (s, d) =>
      T(s, d, "lineitem").filter(col("l_orderkey") < 300).select(
        col("l_orderkey"), col("l_linenumber"),
        round(Features.expDecay(col("l_quantity"), 50.0), 6).as("decay"),
        Features.clip(col("l_extendedprice") / 100000.0, 0.0, 1.0).as("clipped"),
        round(log2(col("l_quantity") + 1), 6).as("lg"),
        sqrt(col("l_extendedprice")).as("rt"),
        (col("l_discount") * 0.3 + col("l_tax") * 0.7).as("blend"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      Some("""SELECT l_orderkey, l_linenumber,
             |round(exp(-l_quantity / 50.0), 6) AS decay,
             |least(greatest(l_extendedprice / 100000.0, 0.0), 1.0) AS clipped,
             |round(log2(l_quantity + 1), 6) AS lg,
             |sqrt(l_extendedprice) AS rt,
             |l_discount * 0.3 + l_tax * 0.7 AS blend
             |FROM lineitem WHERE l_orderkey < 300 ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // --- F18: JSON decode + group on extracted key ---
    ("f_json_decode", (s, d) =>
      E(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("cnt"),
          (round(sum(col("value")), 2) / count(lit(1))).as("avg_value"))
        .orderBy(col("k")),
      Some("""SELECT CAST(props->>'$.k' AS INTEGER) AS k, count(*) AS cnt,
             |round(sum(value), 2) / count(*) AS avg_value
             |FROM events GROUP BY 1 ORDER BY k""".stripMargin)),

    // --- F20: md5 content hashing ---
    ("f_md5_hash", (s, d) =>
      T(s, d, "documents")
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          length(col("text")).as("text_len"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, md5(text) AS text_md5,
             |CAST(length(text) AS INTEGER) AS text_len
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // --- F24: Morton/Z-value computation (Layout.zValue2) — a Z-order
    //     cluster key, oracle-proven bit-exact against the same
    //     parallel-prefix bit spread written in DuckDB integer arithmetic.
    //     Dimensions here: p_size (small int) × a 16-bit key bucket. ---
    ("f_zorder", (s, d) =>
      T(s, d, "part")
        .select(col("p_partkey"), col("p_size"),
          pmod(col("p_partkey"), lit(65536L)).as("kb"))
        .withColumn("z", Layout.zValue2(col("p_size"), col("kb")))
        .select(col("p_partkey"), col("p_size"), col("z"))
        .orderBy(col("p_partkey")),
      Some("""WITH base AS (SELECT p_partkey, p_size, p_partkey % 65536 AS kb FROM part),
             |sa AS (SELECT *, p_size & 65535 AS a0 FROM base),
             |sb AS (SELECT *, (a0 | (a0 << 8)) & 16711935 AS a1 FROM sa),
             |sc AS (SELECT *, (a1 | (a1 << 4)) & 252645135 AS a2 FROM sb),
             |sd AS (SELECT *, (a2 | (a2 << 2)) & 858993459 AS a3 FROM sc),
             |se AS (SELECT *, (a3 | (a3 << 1)) & 1431655765 AS a4 FROM sd),
             |ta AS (SELECT *, kb & 65535 AS b0 FROM se),
             |tb AS (SELECT *, (b0 | (b0 << 8)) & 16711935 AS b1 FROM ta),
             |tc AS (SELECT *, (b1 | (b1 << 4)) & 252645135 AS b2 FROM tb),
             |td AS (SELECT *, (b2 | (b2 << 2)) & 858993459 AS b3 FROM tc),
             |te AS (SELECT *, (b3 | (b3 << 1)) & 1431655765 AS b4 FROM td)
             |SELECT p_partkey, p_size, (a4 | (b4 << 1)) AS z
             |FROM te ORDER BY p_partkey""".stripMargin)),

    // --- T3/T4: tumbling 5-min window features (batch form) ---
    ("t3_window_5min", (s, d) => {
      val wf = Features.windowedActivity(E(s, d), "user_id", "ts",
        "event_type", "value", "5 minutes")
      wf.select(col("user_id"),
        col("window_start").cast("long").as("win_start"),
        col("clicks"), col("views"), col("events"),
        (round(col("sum_value"), 2) / col("events")).as("avg_value"),
        col("ctr"))
        .orderBy(col("user_id"), col("win_start"))
    },
      Some("""SELECT user_id, CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS win_start,
             |count(*) FILTER (WHERE event_type = 'click') AS clicks,
             |count(*) FILTER (WHERE event_type = 'view') AS views,
             |count(*) AS events,
             |round(sum(value), 2) / count(*) AS avg_value,
             |(count(*) FILTER (WHERE event_type = 'click')) / ((count(*) FILTER (WHERE event_type = 'view')) + 1e-6) AS ctr
             |FROM events GROUP BY 1, 2 ORDER BY user_id, win_start""".stripMargin)),

    // --- T3 exact-trailing semantics: per-event RANGE-frame window ---
    ("t3_trailing_5min", (s, d) =>
      Features.trailingActivity(E(s, d), "user_id", "ts", "event_type", 300L)
        .select(col("user_id"), col("event_id"),
          col("clicks_w").as("clicks_5min"),
          col("views_w").as("views_5min"),
          col("events_w").as("events_5min"))
        .orderBy(col("user_id"), col("event_id")),
      Some("""SELECT user_id, event_id,
             |CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER w AS BIGINT) AS clicks_5min,
             |CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER w AS BIGINT) AS views_5min,
             |count(*) OVER w AS events_5min
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY floor(epoch(ts))
             |             RANGE BETWEEN 300 PRECEDING AND CURRENT ROW)
             |ORDER BY user_id, event_id""".stripMargin)),

    // --- T11: gap-based sessionization (batch) ---
    ("t11_sessionize", (s, d) =>
      Features.sessionize(E(s, d), "user_id", "ts", 1800L)
        .groupBy(col("user_id"))
        .agg(max(col("session_idx")).as("n_sessions"))
        .orderBy(col("user_id")),
      Some("""WITH l AS (
             |  SELECT user_id,
             |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             |                   OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))) > 1800
             |              THEN 1 ELSE 0 END AS brk
             |  FROM events)
             |SELECT user_id, CAST(sum(brk) AS BIGINT) AS n_sessions
             |FROM l GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // --- W8: per-user EWMA of event values (decayed activity; ordered
    //     fold per key, oracle = DuckDB list_reduce over the same order).
    //     1−α spelled as (1.0 − 0.1) in BOTH engines so the fold constants
    //     are bit-identical. ---
    ("w8_ewma", (s, d) =>
      Features.ewma(E(s, d), "user_id", "ts", "event_id", "value", 0.1)
        .orderBy(col("user_id")),
      Some("""WITH o AS (SELECT user_id,
             |  list(value ORDER BY ts, event_id) AS vs
             |  FROM events GROUP BY user_id)
             |SELECT user_id, CAST(len(vs) AS BIGINT) AS n_events,
             |round(list_reduce(vs,
             |  (acc, x) -> 0.1::DOUBLE * x + (1.0::DOUBLE - 0.1::DOUBLE) * acc), 6) AS ewma
             |FROM o ORDER BY user_id""".stripMargin)),

    // --- S10: deterministic synthetic generator (rows-only; Spark RNG) ---
    ("s10_synthetic_gen", (s, d) => {
      val inter = SyntheticData.interactions(s, 100, 50, 10000, 0.3, 42)
      inter.groupBy(col("label")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("label"))
    }, None),

    // --- X1: negative sampling (rows-only; invariants in ScalaTest) ---
    ("x1_negative_sample", (s, d) => {
      val ev = E(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      val positives = ev.filter(col("event_type") === "click" && col("user_id") < 20)
        .select(col("user_id"), col("k"))
      val items = ev.select(col("k")).distinct()
      Relational.negativeSample(positives, "user_id", "k", items, 5, 42)
        .orderBy(col("user_id"), col("k"))
    }, None),

    // --- A11: exact grouped percentiles (single sort-based agg; the
    //     summary-statistics row the reference computes per feature —
    //     feature_engineering.py percentile-style stats). Quantities are
    //     integer-valued doubles and the probe points are binary
    //     fractions, so the linear interpolation is exact on both
    //     engines — no rounding needed. ---
    ("a11_percentiles", (s, d) =>
      T(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.25)").as("p25"),
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.75)").as("p75"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |quantile_cont(l_quantity, 0.25) AS p25,
             |quantile_cont(l_quantity, 0.5) AS p50,
             |quantile_cont(l_quantity, 0.75) AS p75,
             |count(*) AS cnt
             |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    // --- A13: pivot (wide conditional aggregation) — one shuffle on the
    //     row key; the pivoted statuses are a fixed small domain given
    //     up front, so no extra values-discovery job runs. ---
    ("a13_pivot", (s, d) =>
      T(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
        .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority,
             |count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
             |count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
             |count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
             |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)),

    // --- A14: rollup (hierarchical subtotals in ONE pass — Spark plans
    //     a single Expand + aggregate, not one job per level). 'ALL'
    //     sentinels are safe: flag/status columns are non-null enums. ---
    ("a14_rollup", (s, d) =>
      T(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("cnt"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("sum_qty"), col("cnt"))
        .orderBy(col("rflag"), col("lstatus")),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rflag,
             |coalesce(l_linestatus, 'ALL') AS lstatus,
             |round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
             |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY rflag, lstatus""".stripMargin)),

    // --- A12: event funnel (view → click-after-view → purchase-after-
    //     click). Each stage is a keyed min-timestamp aggregation joined
    //     forward — shuffles only on user_id, stage frames shrink
    //     monotonically, final counts are three broadcastable scalars. ---
    ("a12_funnel", (s, d) => {
      val e = E(s, d)
      val views = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("view_ts"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"))
        .join(views, Seq("user_id"))
        .filter(col("ts") >= col("view_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("click_ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"))
        .join(clicks, Seq("user_id"))
        .filter(col("ts") >= col("click_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("purchase_ts"))
      views.agg(count(lit(1)).as("users_view"))
        .crossJoin(clicks.agg(count(lit(1)).as("users_click")))
        .crossJoin(purchases.agg(count(lit(1)).as("users_purchase")))
    },
      Some("""WITH v AS (SELECT user_id, min(ts) AS view_ts FROM events
             |          WHERE event_type = 'view' GROUP BY 1),
             |c AS (SELECT e.user_id, min(e.ts) AS click_ts FROM events e
             |      JOIN v ON e.user_id = v.user_id AND e.ts >= v.view_ts
             |      WHERE e.event_type = 'click' GROUP BY 1),
             |p AS (SELECT e.user_id, min(e.ts) AS purchase_ts FROM events e
             |      JOIN c ON e.user_id = c.user_id AND e.ts >= c.click_ts
             |      WHERE e.event_type = 'purchase' GROUP BY 1)
             |SELECT (SELECT count(*) FROM v) AS users_view,
             |(SELECT count(*) FROM c) AS users_click,
             |(SELECT count(*) FROM p) AS users_purchase""".stripMargin)),

    // --- X11: deterministic stratified sampling (per-segment rates; the
    //     class-rebalancing primitive for training-data mixes). Content-
    //     pure md5 thresholds — the oracle reproduces the exact row set,
    //     not just the proportions. ---
    ("x11_stratified_sample", (s, d) =>
      Relational.stratifiedSample(T(s, d, "customer"), "c_mktsegment",
          "c_custkey", Map("AUTOMOBILE" -> 0.5, "BUILDING" -> 0.25), 0.1)
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey")),
      Some(s"""SELECT c_custkey, c_mktsegment FROM customer
             |WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8) <
             |  CASE c_mktsegment
             |    WHEN 'AUTOMOBILE' THEN '${graft.ops.Relational.rateThreshold(0.5)}'
             |    WHEN 'BUILDING' THEN '${graft.ops.Relational.rateThreshold(0.25)}'
             |    ELSE '${graft.ops.Relational.rateThreshold(0.1)}' END
             |ORDER BY c_custkey""".stripMargin)),

    // --- A14 family completion: CUBE — all 2^k grouping combinations in
    //     one Expand+aggregate pass (no per-combination re-scan). avg as
    //     exact-sum/count so both engines derive the identical double. ---
    ("a15_cube", (s, d) =>
      T(s, d, "documents")
        .cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("cnt"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
        .select(coalesce(col("lang"), lit("ALL")).as("lang_g"),
          coalesce(col("source"), lit("ALL")).as("source_g"),
          col("cnt"), col("avg_chars"))
        .orderBy(col("lang_g"), col("source_g")),
      Some("""SELECT coalesce(lang, 'ALL') AS lang_g,
             |coalesce(source, 'ALL') AS source_g,
             |count(*) AS cnt,
             |CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
             |FROM documents GROUP BY CUBE(lang, source)
             |ORDER BY lang_g, source_g""".stripMargin)),

    // --- A16: fixed-width histogram (data-independent bin edges — no
    //     min/max pre-scan, so binning stays one linear pass at any
    //     scale; round(sum,2) exact at the source's decimal precision) ---
    ("a16_histogram", (s, d) =>
      T(s, d, "orders")
        .groupBy(least(floor(col("o_totalprice") / 25000.0), lit(19.0))
          .cast("long").as("bin"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy(col("bin")),
      Some("""SELECT CAST(least(floor(o_totalprice / 25000.0), 19.0) AS BIGINT) AS bin,
             |count(*) AS cnt, round(sum(o_totalprice), 2) AS sum_price
             |FROM orders GROUP BY 1 ORDER BY bin""".stripMargin)),

    // --- A17: Misra-Gries heavy hitters (native TypedImperativeAggregate,
    //     functions/expr/HeavyHittersAgg.scala — the custom-AGGREGATE
    //     Catalyst surface). O(k) state per partition, one k-entry summary
    //     per partition on the shuffle — the scalable replacement for a
    //     full groupBy(term).count() when only frequent items matter.
    //     Exact regime here: distinct event_types < k−1, so no decrement
    //     ever fires, counts are exact and order-independent →
    //     DuckDB-oracle-gated. The approximate regime's n/k guarantee is
    //     measured by a18. ---
    ("a17_heavy_hitters", (s, d) =>
      E(s, d)
        .agg(graft.functions.expr.HeavyHittersAgg
          .heavyHitters(col("event_type"), 16).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.item").as("item"), col("e.est").as("est"))
        .orderBy(col("est").desc, col("item")),
      Some("""SELECT event_type AS item, count(*) AS est FROM events
             |GROUP BY 1 ORDER BY est DESC, item""".stripMargin)),

    // --- A17b: the SAME custom aggregate GROUPED — per-day event-type
    //     heavy hitters. Exercises the partial/merge path under hash
    //     aggregation keys (one MG summary per (day, partition), merged
    //     per day); exact regime per group, so oracle-gated. ---
    ("a17b_heavy_hitters_grouped", (s, d) =>
      E(s, d)
        .groupBy(date_trunc("day", col("ts")).cast("long").as("day_epoch"))
        .agg(graft.functions.expr.HeavyHittersAgg
          .heavyHitters(col("event_type"), 16).as("hh"))
        .select(col("day_epoch"), explode(col("hh")).as("e"))
        .select(col("day_epoch"), col("e.item").as("item"),
          col("e.est").as("est"))
        .orderBy(col("day_epoch"), col("est").desc, col("item")),
      Some("""SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_epoch,
             |event_type AS item, count(*) AS est
             |FROM events GROUP BY 1, 2
             |ORDER BY day_epoch, est DESC, item""".stripMargin)),

    // --- A18: the heavy-hitters GUARANTEE measured (same shape as
    //     x7_sketch_accuracy): a planted hot key (~half the stream) plus
    //     the per-user tail, k far below the distinct count so decrements
    //     fire. Emits: heavy items missed (contract: 0), overestimates
    //     (contract: 0 — MG estimates are lower bounds), worst
    //     underestimate vs the n/k bound (contract: under ≤ bound).
    //     HeavyHittersSpec asserts the contracts; this query surfaces the
    //     numbers per round. ---
    ("a18_heavy_hitters_guarantee", (s, d) => {
      val k = 32
      val keyed = E(s, d).select(
        when(pmod(col("user_id"), lit(2)) === 0, lit("HOT"))
          .otherwise(concat(lit("u"), col("user_id").cast("string")))
          .as("ky"))
      val hh = keyed
        .agg(graft.functions.expr.HeavyHittersAgg
          .heavyHitters(col("ky"), k).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.item").as("ky"), col("e.est").as("est"))
      val exact = keyed.groupBy(col("ky")).agg(count(lit(1)).as("freq"))
      val tot = keyed.agg(count(lit(1)).as("n"))
      exact.join(hh, Seq("ky"), "left")
        .crossJoin(broadcast(tot))
        .agg(
          max(col("n")).as("n"),
          lit(k.toLong).as("k"),
          count(when(col("freq") > col("n") / k, 1)).as("n_heavy"),
          count(when(col("freq") > col("n") / k && col("est").isNull, 1))
            .as("heavy_missed"),
          count(when(col("est") > col("freq"), 1)).as("overestimates"),
          max(when(col("est").isNotNull, col("freq") - col("est")))
            .as("worst_underestimate"),
          max(col("n") / k).as("bound"))
    }, None),

    // --- P13: quantile binning (decile discretization) over a total
    //     order (value, key) so tie assignment is deterministic. Exact
    //     ntile WITHOUT the single-partition sort: rank in parallel
    //     (globalRowNumber), then apply ntile's published bucket rule
    //     arithmetically — the first n%k buckets get ⌊n/k⌋+1 rows, the
    //     rest ⌊n/k⌋ (degenerates correctly to one row per bucket when
    //     n < k). ---
    ("p_quantile_bin", (s, d) => {
      val ranked = Relational.globalRowNumber(
        T(s, d, "orders").select(col("o_orderkey"), col("o_totalprice")),
        Seq(col("o_totalprice"), col("o_orderkey")), rnCol = "__rn")
        .crossJoin(broadcast(
          T(s, d, "orders").agg(count(lit(1)).as("__n"))))
      val k = lit(10L)
      val sz = floor(col("__n") / k)
      val rem = col("__n") % k
      val headRows = rem * (sz + 1)
      val decile = when(col("__rn") <= headRows,
          floor((col("__rn") - 1) / (sz + 1)) + 1)
        .otherwise(rem + floor((col("__rn") - 1 - headRows) / sz) + 1)
      ranked
        .select(col("o_totalprice"), decile.cast("long").as("decile"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("cnt"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
        .orderBy(col("decile"))
    },
      Some("""WITH t AS (SELECT o_orderkey, o_totalprice,
             |  ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
             |  FROM orders)
             |SELECT decile, count(*) AS cnt, min(o_totalprice) AS lo,
             |max(o_totalprice) AS hi
             |FROM t GROUP BY decile ORDER BY decile""".stripMargin)),

    // --- W9: per-key activity anomalies — daily event counts z-scored
    //     within each user's own history (two keyed aggregations, no
    //     global state; integer sums keep both engines' doubles
    //     bit-identical before the single rounded division chain) ---
    ("w9_anomaly", (s, d) => {
      val daily = E(s, d)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val stats = daily.groupBy(col("user_id"))
        .agg(sum(col("cnt")).as("s"),
          sum(col("cnt") * col("cnt")).as("ss"),
          count(lit(1)).as("n"))
      val z = (col("cnt") - col("s").cast("double") / col("n")) /
        sqrt((col("ss").cast("double") - col("s").cast("double") * col("s") / col("n")) /
          (col("n") - 1))
      daily.join(stats, Seq("user_id"))
        // ss·n ≠ s² (exact integer algebra) excludes zero-variance
        // histories, where z = 0/0 = NaN and NaN > 2.0 is true in both
        // engines' NaN-greatest orderings — mirrors w9b's mad > 0 guard.
        .filter(col("n") >= 3 && col("ss") * col("n") =!= col("s") * col("s"))
        .withColumn("z", round(z, 6))
        .filter(abs(col("z")) > lit(2.0))
        .select(col("user_id"), col("day").cast("long").as("day_epoch"),
          col("cnt"), col("z"))
        .orderBy(col("user_id"), col("day_epoch"))
    },
      Some("""WITH daily AS (SELECT user_id,
             |  CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
             |  count(*) AS cnt FROM events GROUP BY 1, 2),
             |st AS (SELECT user_id, CAST(sum(cnt) AS BIGINT) AS s,
             |  CAST(sum(cnt * cnt) AS BIGINT) AS ss, count(*) AS n
             |  FROM daily GROUP BY 1),
             |z AS (SELECT d.user_id, d.day_epoch, d.cnt,
             |  round((d.cnt - CAST(s AS DOUBLE) / n) /
             |    sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)), 6) AS z
             |  FROM daily d JOIN st USING (user_id)
             |  WHERE n >= 3 AND ss * n <> s * s)
             |SELECT user_id, day_epoch, cnt, z FROM z
             |WHERE abs(z) > 2.0 ORDER BY user_id, day_epoch""".stripMargin)),

    // --- X13: deterministic weighted Bernoulli sampling — per-row keep
    //     probability ∝ l_quantity (importance/mix weighting, the
    //     continuous generalization of x11's per-stratum rates); md5
    //     draw vs a per-row hex-rendered threshold, so the oracle
    //     reproduces the exact row set ---
    ("x13_weighted_sample", (s, d) =>
      Relational.weightedSample(T(s, d, "lineitem"),
          concat(col("l_orderkey").cast("string"), lit("-"),
            col("l_linenumber").cast("string")),
          col("l_quantity") / 100.0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE substring(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
             |    CAST(l_linenumber AS VARCHAR)), 1, 8) <
             |  printf('%08x', CAST(least(floor(greatest(l_quantity / 100.0, 0.0)
             |    * 4294967296.0), 4294967295.0) AS BIGINT))
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // --- J11: numeric band self-join — all part pairs priced within
    //     ±0.50 of each other, via delta-width bucketing + adjacent-
    //     bucket replication (a shuffled equi-join; the naive
    //     abs(a-b)<=δ theta form plans a nested-loop cross product).
    //     Oracle runs the inequality join directly — same pair set. ---
    ("j11_band_join", (s, d) =>
      Relational.bandJoin(
          T(s, d, "part").select(col("p_partkey"), col("p_retailprice")),
          "p_partkey", "p_retailprice", 0.5)
        .select(least(col("id1"), col("id2")).as("k1"),
          greatest(col("id1"), col("id2")).as("k2"),
          round(abs(col("v1") - col("v2")), 2).as("price_diff"))
        .orderBy(col("k1"), col("k2")),
      Some("""SELECT a.p_partkey AS k1, b.p_partkey AS k2,
             |round(abs(a.p_retailprice - b.p_retailprice), 2) AS price_diff
             |FROM part a JOIN part b
             |ON a.p_partkey < b.p_partkey
             |  AND abs(a.p_retailprice - b.p_retailprice) <= 0.5
             |ORDER BY k1, k2""".stripMargin)),

    // --- J11c: the OUTPUT-BOUNDED band join — each part's 3 nearest
    //     same-band (±0.50) neighbors by price. The fixed-δ forms above
    //     are output-quadratic in value density by their own semantics
    //     (BENCH_SF1.md: ~100× pairs for 10× rows); this is the variant
    //     whose result is capped at k·n regardless of density, executed
    //     POSITIONALLY (Θ(n·k), BENCH_SF10.md): rank rows by (value, id)
    //     with the parallel globalRowNumber, join each row to its ±k
    //     positional window, keep |Δv| ≤ δ, and rank candidates by
    //     (|Δv|, position distance, position) — the tie-break the oracle
    //     reproduces below. ---
    ("j11c_band_topk", (s, d) =>
      Relational.bandJoinNearestK(
          T(s, d, "part").select(col("p_partkey"), col("p_retailprice")),
          "p_partkey", "p_retailprice", 0.5, 3)
        .select(col("id1"), col("id2"),
          round(abs(col("v1") - col("v2")), 2).as("price_diff"), col("rnk"))
        .orderBy(col("id1"), col("rnk")),
      // Same (|Δv|, position distance, position) contract as the
      // operator: the oracle derives identical sort positions, takes the
      // ±k positional window, and ranks with the same tie-break.
      Some("""WITH p AS (SELECT p_partkey AS id, p_retailprice AS v,
             |  row_number() OVER (ORDER BY p_retailprice, p_partkey) AS pos FROM part),
             |c AS (SELECT a.id AS id1, b.id AS id2, a.v AS v1, b.v AS v2, a.pos AS p1, b.pos AS p2
             |  FROM p a JOIN p b ON b.pos BETWEEN a.pos - 3 AND a.pos + 3 AND b.pos <> a.pos
             |  WHERE abs(a.v - b.v) <= 0.5),
             |r AS (SELECT id1, id2, round(abs(v1 - v2), 2) AS price_diff,
             |  row_number() OVER (PARTITION BY id1
             |    ORDER BY abs(v1 - v2), abs(p1 - p2), p2) AS rnk FROM c)
             |SELECT id1, id2, price_diff, CAST(rnk AS BIGINT) AS rnk
             |FROM r WHERE rnk <= 3 ORDER BY id1, rnk""".stripMargin)),

    // --- O6: per-group top-k THROUGH the custom TopKByScore operator
    //     (logical node + SparkStrategy + partial/final heap execs) —
    //     the §7.3 escalation path proven in the oracle gate. Scores are
    //     made strictly unique (price + key·1e-9, identically in both
    //     engines) so heap and row_number selection agree exactly. ---
    ("o6_topk_strategy", (s, d) => {
      val scored = T(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          (col("o_totalprice") + col("o_orderkey") * 1.0e-9).as("score"))
      graft.plans.TopK.topKByScore(scored, Seq("o_orderpriority"), "score", 3)
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    },
      Some("""WITH s AS (SELECT o_orderkey, o_orderpriority,
             |  o_totalprice + o_orderkey * 1.0e-9 AS score FROM orders),
             |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
             |  ORDER BY score DESC) AS rn FROM s)
             |SELECT o_orderkey, o_orderpriority, score FROM r WHERE rn <= 3
             |ORDER BY o_orderpriority, o_orderkey""".stripMargin)),

    // --- X17: incremental aggregate maintenance — yesterday's snapshot
    //     partials merged with today's delta partials instead of a full
    //     recompute: counts/sums/maxes are mergeable, avg derives from
    //     the merged moments. THE incremental-ETL pattern at 100 TB
    //     (history is never rescanned); merge ≡ recompute asserted in
    //     RelationalSpec, the oracle pins the merge path itself. ---
    ("x17_incremental_agg", (s, d) => {
      def partials(df: DataFrame) = df.groupBy(col("user_id"))
        .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sv"),
          max(col("ts")).as("mx"))
      // each side's time bound pushes to its scan (raw-nanos predicate);
      // in the real incremental pattern the snapshot side is a stored
      // partial table, not a rescan — this pins the merge algebra
      val merged = partials(eventsRange(s, d, None, Some("2024-01-15")))
        .unionByName(partials(eventsRange(s, d, Some("2024-01-15"), None)))
        .groupBy(col("user_id"))
        .agg(sum(col("cnt")).as("cnt"),
          round(sum(col("sv")), 2).as("sum_value"),
          max(col("mx")).as("mx"))
      merged.select(col("user_id"), col("cnt"), col("sum_value"),
          (col("sum_value") / col("cnt")).as("avg_value"),
          col("mx").cast("long").as("last_ts"))
        .orderBy(col("user_id"))
    },
      Some("""WITH snap AS (SELECT user_id, count(*) AS cnt, sum(value) AS sv,
             |  max(ts) AS mx FROM events WHERE ts < TIMESTAMP '2024-01-15' GROUP BY 1),
             |delta AS (SELECT user_id, count(*) AS cnt, sum(value) AS sv,
             |  max(ts) AS mx FROM events WHERE ts >= TIMESTAMP '2024-01-15' GROUP BY 1),
             |u AS (SELECT * FROM snap UNION ALL SELECT * FROM delta),
             |m AS (SELECT user_id, CAST(sum(cnt) AS BIGINT) AS cnt,
             |  round(sum(sv), 2) AS sum_value, max(mx) AS mx FROM u GROUP BY 1)
             |SELECT user_id, cnt, sum_value, sum_value / cnt AS avg_value,
             |CAST(floor(epoch(mx)) AS BIGINT) AS last_ts
             |FROM m ORDER BY user_id""".stripMargin)),

    // --- X21: salted two-phase aggregation (Layout.saltedSumCount) in the
    //     oracle gate. event_type has ~6 values over 100 K events — at
    //     100 TB one hot key serializes the final reduce; the salt spreads
    //     each key over 16 partial groups first, and the oracle proves the
    //     two-phase result equals a direct GROUP BY (salting reshapes the
    //     shuffle, never the algebra). round(...,2) absorbs the partial-
    //     sum reassociation ulps, as everywhere else in the suite. ---
    ("x21_salted_agg", (s, d) =>
      Layout.saltedSumCount(E(s, d), Seq("event_type"), "value", 16)
        .select(col("event_type"),
          round(col("sum_value"), 2).as("sum_value"), col("cnt"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type, round(sum(value), 2) AS sum_value,
             |count(*) AS cnt FROM events
             |GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // --- X22: skew-proof exact distinct — the two-stage expansion
    //     (groupBy(key, value) partial, then groupBy(key)) that keeps an
    //     exact COUNT(DISTINCT) scalable when one key holds most of the
    //     data: stage 1 dedupes on (key, value) with map-side combine, so
    //     the hot key's final group sees only its DISTINCT values, not its
    //     rows. The form to reach for before approx_count_distinct gives
    //     up exactness. ---
    ("x22_skew_distinct", (s, d) =>
      E(s, d).groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("__n"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"), sum(col("__n")).as("n_events"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_users,
             |CAST(count(*) AS BIGINT) AS n_events FROM events
             |GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // --- X18: referential-integrity audit — orphaned foreign keys
    //     counted across the star schema in one pass of left-anti joins
    //     (each shuffles only the key column; dims broadcast). The
    //     data-quality gate every ingest pipeline runs before publishing
    //     a snapshot. ---
    ("x18_fk_orphans", (s, d) => {
      def orphans(fact: DataFrame, fk: String, dim: DataFrame,
                  pk: String, as: String): DataFrame =
        fact.select(col(fk).as(pk))
          .join(dim.select(col(pk)), Seq(pk), "left_anti")
          .agg(count(lit(1)).as(as))
      val li = T(s, d, "lineitem"); val o = T(s, d, "orders")
      orphans(li, "l_orderkey", o, "o_orderkey", "li_order_orphans")
        .crossJoin(orphans(li, "l_partkey", T(s, d, "part"), "p_partkey",
          "li_part_orphans"))
        .crossJoin(orphans(li, "l_suppkey", T(s, d, "supplier"), "s_suppkey",
          "li_supp_orphans"))
        .crossJoin(orphans(o, "o_custkey", T(s, d, "customer"), "c_custkey",
          "o_cust_orphans"))
    },
      Some("""SELECT
             |(SELECT count(*) FROM lineitem l WHERE NOT EXISTS
             |  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS li_order_orphans,
             |(SELECT count(*) FROM lineitem l WHERE NOT EXISTS
             |  (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)) AS li_part_orphans,
             |(SELECT count(*) FROM lineitem l WHERE NOT EXISTS
             |  (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)) AS li_supp_orphans,
             |(SELECT count(*) FROM orders o WHERE NOT EXISTS
             |  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS o_cust_orphans""".stripMargin)),

    // --- X19: continuity audit — calendar days inside the event span
    //     with NO events (ingest-gap detection). The expected-day frame
    //     is generated, not scanned (sequence over the observed min/max);
    //     observed days anti-join against it. ---
    ("x19_day_gaps", (s, d) => {
      val days = E(s, d).select(to_date(col("ts")).as("day")).distinct()
      val bounds = days.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val expected = bounds.select(
        explode(sequence(col("lo"), col("hi"))).as("day"))
      val gaps = expected.join(days, Seq("day"), "left_anti")
      gaps.agg(count(lit(1)).as("n_gap_days"))
        .crossJoin(days.agg(count(lit(1)).as("n_active_days")))
    },
      Some("""WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
             |b AS (SELECT min(day) AS lo, max(day) AS hi FROM days),
             |exp AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day FROM b),
             |gaps AS (SELECT e.day FROM exp e WHERE e.day NOT IN (SELECT day FROM days))
             |SELECT (SELECT count(*) FROM gaps) AS n_gap_days,
             |(SELECT count(*) FROM days) AS n_active_days""".stripMargin)),

    // --- X20: bucketed CO-LOCATED join, oracle-gated — the Layout.scala
    //     posture promoted from a plan-only test into the correctness
    //     gate. Both sides are written bucketBy(8, custkey) (the shuffle
    //     paid once, at write time), read back through the catalog and
    //     joined on the bucket key; the query itself REQUIREs the join
    //     subplan to be exchange-free before aggregating to a frame
    //     DuckDB reproduces from the original parquet (bucketing changes
    //     layout, never content). Broadcast is disabled on a session
    //     clone so the assert can't be satisfied by a broadcast join. ---
    ("x20_bucketed_join", (s0, d) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // Table names are keyed by the source dir so the tables are
      // write-once per (JVM, sf dir): repeat invocations (Bench's min-of-2
      // runs, Explain --audit sweeps) find them in the in-memory catalog
      // (SharedState — shared across newSession clones) and skip the
      // destructive drop/delete/rewrite entirely. Bucketing metadata
      // lives only in the catalog, so across JVMs a rewrite is
      // unavoidable — then stale warehouse directories must go first
      // (saveAsTable refuses a location it didn't create:
      // LOCATION_ALREADY_EXISTS).
      val key = java.lang.Long.toHexString(
        d.hashCode.toLong & 0xffffffffL)
      val custT = s"x20_customer_b_$key"
      val ordT = s"x20_orders_b_$key"
      if (!s.catalog.tableExists(custT) || !s.catalog.tableExists(ordT)) {
        dropWarehouseTables(s, Seq(custT, ordT))
        Layout.writeBucketed(
          T(s, d, "customer").select(col("c_custkey"), col("c_mktsegment")),
          custT, 8, Seq("c_custkey"))
        Layout.writeBucketed(
          T(s, d, "orders").select(col("o_custkey"), col("o_totalprice")),
          ordT, 8, Seq("o_custkey"))
      }
      val joined = s.table(custT)
        .join(s.table(ordT),
          col("c_custkey") === col("o_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange"),
        s"x20_bucketed_join: co-located join must be exchange-free:\n$plan")
      joined.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
        .orderBy(col("c_mktsegment"))
    },
      Some("""SELECT c_mktsegment, count(*) AS n_orders,
             |round(sum(o_totalprice), 2) AS total_price
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // --- C3: the layout surface composed into the serving flow — the
    //     online-store refresh + lookup path (W7 latestPerKey → S8 join)
    //     read THROUGH a bucketed store. The event log and the request
    //     entity table are both bucketBy(8, user_id) (write-once per
    //     (JVM, sf dir), as x20); the latest-per-key window needs
    //     ClusteredDistribution(user_id), which the bucketed scan already
    //     provides, and the request join needs the same — so the ENTIRE
    //     lookup (window + join) plans with ZERO exchanges, REQUIREd
    //     in-query. At 100 TB this is an online-store refresh that only
    //     sorts within buckets vs one that reshuffles the event log every
    //     run. Broadcast disabled on the session clone so the assert
    //     can't be satisfied by a broadcast join. ---
    ("c3_bucketed_lookup", (s0, d) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val key = java.lang.Long.toHexString(d.hashCode.toLong & 0xffffffffL)
      val evT = s"c3_events_b_$key"
      val reqT = s"c3_requests_b_$key"
      if (!s.catalog.tableExists(evT) || !s.catalog.tableExists(reqT)) {
        dropWarehouseTables(s, Seq(evT, reqT))
        Layout.writeBucketed(
          E(s, d).select(col("user_id"), col("event_id"), col("event_type"),
            col("value"), col("ts")),
          evT, 8, Seq("user_id"))
        Layout.writeBucketed(
          T(s, d, "customer").select(col("c_custkey").as("user_id"),
            col("c_mktsegment")),
          reqT, 8, Seq("user_id"))
      }
      val feats = FeatureStore.latestPerKey(
        s.table(evT), Seq("user_id"), "ts", "event_id")
      val lookup = feats.join(s.table(reqT), Seq("user_id"))
      val plan = lookup.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange"),
        s"c3_bucketed_lookup: bucketed lookup must be exchange-free:\n$plan")
      lookup.select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("c_mktsegment"))
        .orderBy(col("user_id"))
    },
      Some("""WITH latest AS (SELECT user_id, event_id, event_type, value,
             |  row_number() OVER (PARTITION BY user_id
             |    ORDER BY ts DESC, event_id DESC) AS rn FROM events)
             |SELECT l.user_id, l.event_id, l.event_type, l.value,
             |  c.c_mktsegment
             |FROM latest l JOIN customer c ON c.c_custkey = l.user_id
             |WHERE l.rn = 1 ORDER BY l.user_id""".stripMargin)),

    // --- J13: runtime bloom-filter join (Catalyst InjectRuntimeFilter).
    //     At 100 TB the fact join's probe side scans the FULL fact table
    //     before the join drops 97% of it; with runtime filtering Spark
    //     builds a bloom filter from the dim side's selective predicate at
    //     RUNTIME and pushes might_contain into the fact scan — rows (and
    //     whole row groups, via min/max + the semi-join filter) are
    //     dropped AT THE SCAN, not at the join. The local thresholds are
    //     lowered on a session clone (defaults target 10 GB+ scans);
    //     broadcast is disabled so the filter targets a real shuffle join,
    //     and the query REQUIREs the bloom filter in the optimized plan so
    //     a silent non-injection can't pass. ---
    ("j13_bloom_join", (s0, d) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = T(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_quantity"))
      val ord = T(s, d, "orders")
        .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 250000.0)
        .select(col("o_orderkey"), col("o_orderstatus"))
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      val opt = joined.queryExecution.optimizedPlan.toString
      require(opt.contains("bloom_filter") || opt.contains("might_contain"),
        s"j13_bloom_join: runtime bloom filter not injected:\n$opt")
      joined.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("o_orderstatus"))
    },
      Some("""SELECT o_orderstatus, count(*) AS n_items,
             |round(sum(l_extendedprice), 2) AS sum_price,
             |round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderstatus = 'F' AND o_totalprice > 250000.0
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // --- J14: interval-containment join with NO equality key
    //     (Relational.intervalJoin) — top-20 orders spawn ±7-day
    //     "promotion windows"; every order whose day falls inside a
    //     window is attributed to it. The naive BETWEEN theta form is a
    //     nested-loop cross product; the cell-explode rewrite keeps it an
    //     equi-join. Day numbers (date − epoch) on both sides so the
    //     bucket arithmetic is integer-exact in both engines. ---
    ("j14_interval_join", (s, d) => {
      val day = datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date"))
      val promos = T(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(20)
        .select(col("o_orderkey").as("promo_id"),
          (day - 7).cast("long").as("w_start"),
          (day + 7).cast("long").as("w_end"))
      val pts = T(s, d, "orders")
        .select(col("o_orderkey"), day.cast("long").as("o_day"))
      Relational.intervalJoin(pts, "o_day", promos, "w_start", "w_end",
          bucketWidth = 16L)
        .groupBy(col("promo_id"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("promo_id"))
    },
      Some("""WITH promo AS (SELECT o_orderkey AS promo_id,
             |  (CAST(o_orderdate AS DATE) - DATE '1970-01-01') - 7 AS w_start,
             |  (CAST(o_orderdate AS DATE) - DATE '1970-01-01') + 7 AS w_end
             |  FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20),
             |pts AS (SELECT o_orderkey,
             |  CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS o_day FROM orders)
             |SELECT promo_id, count(*) AS n_orders
             |FROM promo JOIN pts ON o_day BETWEEN w_start AND w_end
             |GROUP BY 1 ORDER BY promo_id""".stripMargin)),

    // --- X6b: the x6 group-cap semantics routed through the custom
    //     TopKByScore operator (plans/TopKByScore.scala) — makes the
    //     whole-operator Catalyst escalation load-bearing in a grouped
    //     rows+schema+hash query, not just the global o6 form. Score =
    //     first 13 hex digits of md5(key) as a number (52 bits — exact in
    //     the operator's double, collision-free at these group sizes), so
    //     "k highest scores per group" is reproducible in the oracle as a
    //     rank over the SAME fixed-width hex string (lowercase hex string
    //     order IS numeric order). The query asserts the custom exec is
    //     actually in the physical plan. ---
    ("x6b_group_cap_topk", (s, d) => {
      val hx = substring(md5(col("o_orderkey").cast("string")), 1, 13)
      val scored = T(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          conv(hx, 16, 10).cast("double").as("__score"))
      val capped = graft.plans.TopK.topKByScore(
        scored, Seq("o_custkey"), "__score", 3)
      val plan = capped.queryExecution.executedPlan.toString
      require(plan.contains("TopKPerGroup"),
        s"x6b_group_cap_topk: TopKByScore exec missing from plan:\n$plan")
      capped.select(col("o_custkey"), col("o_orderkey"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
      Some("""WITH r AS (SELECT o_custkey, o_orderkey, row_number() OVER (
             |  PARTITION BY o_custkey
             |  ORDER BY substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 13) DESC,
             |           o_orderkey) AS rn
             |  FROM orders)
             |SELECT o_custkey, o_orderkey FROM r WHERE rn <= 3
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // --- J11b: the SAME band join written as the naive theta form and
    //     re-planned by the BandJoinRewrite optimizer rule (installed on
    //     the session here; idempotent) — proves the rule end-to-end in
    //     the oracle gate, not just in plan asserts. Emits directed pairs
    //     incl. self-pairs (the raw join semantics; j11 is the
    //     unordered-pair operator form). ---
    ("j11b_band_rule", (s0, d) => {
      // Isolated session clone: installing the rule on the SHARED session
      // would re-plan every later query in the same JVM (and leak into the
      // suite's TestSpark session), making plans order-dependent. The clone
      // shares the SparkContext/conf but has its own optimizer list.
      val s = s0.newSession()
      s.experimental.extraOptimizations = Seq(graft.plans.BandJoinRewrite)
      val p = T(s, d, "part")
      val a = p.select(col("p_partkey").as("k1"), col("p_retailprice").as("v1"))
      val b = p.select(col("p_partkey").as("k2"), col("p_retailprice").as("v2"))
      a.join(b, abs(col("v1") - col("v2")) <= lit(0.5))
        .select(col("k1"), col("k2"),
          round(abs(col("v1") - col("v2")), 2).as("price_diff"))
        .orderBy(col("k1"), col("k2"))
    },
      Some("""SELECT a.p_partkey AS k1, b.p_partkey AS k2,
             |round(abs(a.p_retailprice - b.p_retailprice), 2) AS price_diff
             |FROM part a JOIN part b
             |ON abs(a.p_retailprice - b.p_retailprice) <= 0.5
             |ORDER BY k1, k2""".stripMargin)),

    // --- G1: fixed-iteration PageRank over the item co-occurrence graph
    //     (items sharing an order) — the authority-scoring member of the
    //     graph family beside j5_kcore and the CC forms. Three unrolled
    //     join+aggregate rounds, shuffles on node id only; oracle = the
    //     same three iterations as SQL CTEs, rounded once at the end ---
    ("g1_pagerank", (s, d) => {
      // Explicit-width basket key exchange (r20, guide §2.5): the co-occur
      // self-join + pair fan-out + distinct partial agg is the row's
      // dominant stage (~2.5–3 s of CPU) and AQE's bytes-based coalescing
      // ran it on 3 tasks — the per-order pair generation is quadratic in
      // basket size, work the byte coalescer can't see. One pinned
      // exchange co-partitions BOTH sides of the self-join (same frame),
      // so the join itself adds no further shuffle.
      val li = T(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey"))
        .repartition(s.sessionState.conf.defaultNumShufflePartitions,
          col("l_orderkey"))
      val e = li.join(li.withColumnRenamed("l_partkey", "p2"), Seq("l_orderkey"))
        .filter(col("l_partkey") =!= col("p2"))
        .select(col("l_partkey").as("src"), col("p2").as("dst"))
        .distinct()
      Graph.pageRank(e, "src", "dst", iters = 3)
        .select(col("id"), round(col("pr"), 6).as("pr"))
        .orderBy(col("id"))
    },
      Some(PageRank3Oracle)),

    // --- G1b: the SAME 3-iteration PageRank through the checkpoint-per-
    //     round form (pageRankCheckpointed — the k=50-capable path the
    //     unrolled form's 1..10 require() points at). Identical math and
    //     float-op ordering by construction, so it hashes against the
    //     identical oracle; GraphSpec pins exact double equality vs the
    //     unrolled form at k ≤ 10 and the PrScaleRun harness (last in
    //     commit 65b4b15) measured flat s/step to k = 50 at sf1
    //     (BENCH_SF10.md r14 addendum). ---
    ("g1b_pagerank_ckpt", (s, d) => {
      // same explicit-width basket key exchange as g1_pagerank (r20)
      val li = T(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey"))
        .repartition(s.sessionState.conf.defaultNumShufflePartitions,
          col("l_orderkey"))
      val e = li.join(li.withColumnRenamed("l_partkey", "p2"), Seq("l_orderkey"))
        .filter(col("l_partkey") =!= col("p2"))
        .select(col("l_partkey").as("src"), col("p2").as("dst"))
        .distinct()
      Graph.pageRankCheckpointed(e, "src", "dst", iters = 3)
        .select(col("id"), round(col("pr"), 6).as("pr"))
        .orderBy(col("id"))
    },
      Some(PageRank3Oracle)),

    // --- X14: training-mix rebalance — per-source keep rates DERIVED from
    //     the data (uniform target share, rate_s = min(1, (N/S)/n_s)) and
    //     applied through the deterministic weighted sampler: the
    //     composition a real mixing pipeline runs (measure → rate →
    //     content-pure sample) ---
    ("x14_mix_rebalance", (s, d) => {
      val docs = T(s, d, "documents")
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("ns"))
      val tot = counts.agg(sum(col("ns")).as("n"), count(lit(1)).as("s"))
      val rates = counts.crossJoin(broadcast(tot))
        .select(col("lang"),
          least(col("n").cast("double") / col("s") / col("ns"), lit(1.0))
            .as("rate"))
      Relational.weightedSample(
          docs.join(broadcast(rates), Seq("lang")),
          col("doc_id"), col("rate"))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      Some("""WITH c AS (SELECT lang, count(*) AS ns FROM documents GROUP BY 1),
             |t AS (SELECT CAST(sum(ns) AS BIGINT) AS n, count(*) AS s FROM c),
             |r AS (SELECT lang, least(CAST(n AS DOUBLE) / s / ns, 1.0) AS rate
             |      FROM c CROSS JOIN t)
             |SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
             |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
             |  printf('%08x', CAST(least(floor(greatest(rate, 0.0) * 4294967296.0),
             |    4294967295.0) AS BIGINT))
             |ORDER BY doc_id""".stripMargin)),

    // --- X14b: TEMPERATURE resampling (mT5/XLM-R α=0.5 language mix) —
    //     the standard multilingual-corpus generalization of x14's
    //     uniform target: p_lang ∝ share^α flattens the distribution
    //     without forcing uniformity, keep rate = min(1, n·p_lang/n_lang)
    //     = min(1, n / (sqrt(n_lang) · Σ_l sqrt(n_l))) at α = 0.5.
    //     Σ sqrt is computed as an ORDERED fold over the lang-sorted
    //     count list (HOF aggregate ↔ DuckDB list_reduce) so the float
    //     sum has one reassociation-free order in both engines and the
    //     md5-threshold sample stays bit-reproducible. ---
    ("x14b_temperature_mix", (s, d) => {
      val docs = T(s, d, "documents")
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("ns"))
      val tot = counts.agg(
        sum(col("ns")).as("n"),
        aggregate(
          transform(
            array_sort(collect_list(struct(col("lang"), col("ns")))),
            e => sqrt(e.getField("ns").cast("double"))),
          lit(0.0), (acc, x) => acc + x).as("ssq"))
      val rates = counts.crossJoin(broadcast(tot))
        .select(col("lang"),
          least(col("n").cast("double") /
            (sqrt(col("ns").cast("double")) * col("ssq")), lit(1.0))
            .as("rate"))
      Relational.weightedSample(
          docs.join(broadcast(rates), Seq("lang")),
          col("doc_id"), col("rate"))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      Some("""WITH c AS (SELECT lang, count(*) AS ns FROM documents GROUP BY 1),
             |t AS (SELECT CAST(sum(ns) AS BIGINT) AS n,
             |  list_reduce(list_prepend(0.0,
             |    list_transform(list(ns ORDER BY lang),
             |      x -> sqrt(CAST(x AS DOUBLE)))),
             |    (acc, x) -> acc + x) AS ssq FROM c),
             |r AS (SELECT lang,
             |  least(CAST(n AS DOUBLE) / (sqrt(CAST(ns AS DOUBLE)) * ssq), 1.0) AS rate
             |  FROM c CROSS JOIN t)
             |SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
             |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
             |  printf('%08x', CAST(least(floor(greatest(rate, 0.0) * 4294967296.0),
             |    4294967295.0) AS BIGINT))
             |ORDER BY doc_id""".stripMargin)),

    // --- X14c: epochs-per-source UPsampling — the other half of mix
    //     weighting (x14/x14b only thin): uniform-target weights left
    //     UNCAPPED, so underrepresented languages repeat (floor(w) full
    //     copies + an md5-coin extra for frac(w)), each copy tagged with
    //     its epoch. Deterministic — no RNG — so the oracle reproduces
    //     the exact multiset, epoch numbers included. ---
    ("x14c_upsample_mix", (s, d) => {
      val docs = T(s, d, "documents")
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("ns"))
      val tot = counts.agg(sum(col("ns")).as("n"), count(lit(1)).as("s"))
      val weights = counts.crossJoin(broadcast(tot))
        .select(col("lang"),
          (col("n").cast("double") / col("s") / col("ns")).as("w"))
      Relational.upsampleMix(
          docs.join(broadcast(weights), Seq("lang")),
          col("doc_id"), col("w"))
        .select(col("doc_id"), col("lang"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))
    },
      Some("""WITH c AS (SELECT lang, count(*) AS ns FROM documents GROUP BY 1),
             |t AS (SELECT CAST(sum(ns) AS BIGINT) AS n, count(*) AS s FROM c),
             |r AS (SELECT lang, CAST(n AS DOUBLE) / s / ns AS w FROM c CROSS JOIN t),
             |b AS (SELECT d.doc_id, d.lang,
             |  CAST(floor(w) AS BIGINT) + CASE WHEN
             |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
             |    printf('%08x', CAST(least(floor((w - floor(w)) * 4294967296.0),
             |      4294967295.0) AS BIGINT)) THEN 1 ELSE 0 END AS copies
             |  FROM documents d JOIN r USING (lang))
             |SELECT * FROM (SELECT doc_id, lang,
             |  unnest(range(1, copies + 1)) AS epoch FROM b WHERE copies > 0)
             |ORDER BY doc_id, epoch""".stripMargin)),

    // --- X15: partitioned-sketch reuse — per-day HLL sketches merged into
    //     one distinct-user estimate (hll_union_agg), vs the exact count.
    //     THE 100 TB counting pattern: daily partitions keep fixed-size
    //     sketches, any date range merges without rescanning raw events.
    //     DataSketches binary has no DuckDB analog → self-check query. ---
    ("x15_hll_merge", (s, d) => {
      val e = E(s, d)
      val daily = e.groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val merged = daily.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("nd_merged"))
      val exact = e.select(col("user_id")).distinct()
        .agg(count(lit(1)).as("nd_exact"))
      merged.crossJoin(exact)
        .select(col("nd_merged"), col("nd_exact"),
          round(abs(col("nd_merged") - col("nd_exact")) /
            col("nd_exact").cast("double"), 6).as("rel_err"))
    }, None),

    // --- W9b: robust (median/MAD) anomaly variant of w9 — outliers
    //     scored against the per-user median and median-absolute-
    //     deviation, immune to the mean/std masking that a single huge
    //     spike causes in the z-score form. Two keyed exact-percentile
    //     aggregations (approx_percentile is the 100 TB swap-in, same
    //     shape as a10/a11's note). ---
    ("w9b_mad_anomaly", (s, d) => {
      val daily = E(s, d)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("user_id"), col("day").cast("long").as("day_epoch"),
          col("cnt"))
      val med = daily.groupBy(col("user_id"))
        .agg(expr("percentile(cnt, 0.5)").as("med"), count(lit(1)).as("n"))
      val dev = daily.join(med, Seq("user_id"))
        .withColumn("dev", abs(col("cnt") - col("med")))
      val mad = dev.groupBy(col("user_id"))
        .agg(expr("percentile(dev, 0.5)").as("mad"))
      dev.join(mad, Seq("user_id"))
        .filter(col("n") >= 5 && col("mad") > 0 &&
          abs(col("cnt") - col("med")) > lit(3.0) * col("mad"))
        .select(col("user_id"), col("day_epoch"), col("cnt"),
          col("med"), col("mad"))
        .orderBy(col("user_id"), col("day_epoch"))
    },
      Some("""WITH daily AS (SELECT user_id,
             |  CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
             |  count(*) AS cnt FROM events GROUP BY 1, 2),
             |med AS (SELECT user_id, quantile_cont(cnt, 0.5) AS med,
             |  count(*) AS n FROM daily GROUP BY 1),
             |dev AS (SELECT d.*, med, n, abs(d.cnt - med) AS dev
             |  FROM daily d JOIN med USING (user_id)),
             |mad AS (SELECT user_id, quantile_cont(dev, 0.5) AS mad
             |  FROM dev GROUP BY 1)
             |SELECT dev.user_id, day_epoch, cnt, med, mad
             |FROM dev JOIN mad USING (user_id)
             |WHERE n >= 5 AND mad > 0 AND abs(cnt - med) > 3.0 * mad
             |ORDER BY user_id, day_epoch""".stripMargin)),

    // --- T4: hopping (sliding) window aggregation — 10-min windows every
    //     5 min; each event lands in exactly width/slide windows, the
    //     same assignment Structured Streaming's window() uses, so the
    //     batch form here is the stream job's backfill ---
    ("t4_hopping", (s, d) =>
      eventsRange(s, d, None, Some("2024-01-03"))
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").cast("long").as("w_start"),
          col("event_type"), col("cnt"), col("sum_value"))
        .orderBy(col("w_start"), col("event_type")),
      Some("""WITH e AS (SELECT ts, event_type, value FROM events
             |  WHERE ts < TIMESTAMP '2024-01-03'),
             |b AS (SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS b5,
             |  event_type, value FROM e),
             |w AS (SELECT b5 AS w_start, event_type, value FROM b
             |  UNION ALL SELECT b5 - 300, event_type, value FROM b)
             |SELECT w_start, event_type, count(*) AS cnt,
             |round(sum(value), 2) AS sum_value
             |FROM w GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin))
  )

  // ====================================================================
  // Driver contract surface
  // ====================================================================

  /** Flagship: the composed §3.3 recommend-request flow (lookup →
    * retrieve → exclude → re-rank → top-n → metadata) — the reference's
    * `POST /recommend` pipeline as one query. */
  def entry(spark: SparkSession): DataFrame =
    queries("c_recommend_request")(spark, "/root/testdata/sf0.001")

  private def allRegistries =
    registry ++ QueriesEval.registry ++ QueriesLlm.registry

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allRegistries.map { case (n, fn, _) => n -> fn }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allRegistries.collect { case (n, _, Some(sql)) => n -> sql }.toMap

  /** Oracles that embed a DRIVER-COMPUTED artifact for the ACTUAL sf
    * dir (e.g. x9e's BFD slot table as a VALUES literal) — rendered at
    * Verify time, merged over [[oracleSql]] into oracle_sql.json. A
    * builder that throws is logged and its query falls back to the
    * rows-only gate instead of failing the whole dump. */
  def oracleSqlDynamic(s: SparkSession, sfDir: String,
                       wanted: String => Boolean = _ => true)
      : Map[String, String] =
    Seq[(String, () => String)](
      "x9e_pack_nosplit" -> (() => QueriesLlm.x9eOracleSql(s, sfDir))
    ).filter { case (n, _) => wanted(n) }.flatMap { case (n, mk) =>
      try Some(n -> mk())
      catch { case e: Throwable =>
        System.err.println(s"[verify] dynamic oracle $n failed: " +
          s"${e.getMessage} — falling back to rows-only")
        None
      }
    }.toMap
}
