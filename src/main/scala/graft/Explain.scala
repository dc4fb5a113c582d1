package graft

/** Plan-audit utility: prints the formatted physical plan of one or more
  * SparkEntry queries (default: a pushdown/broadcast-sensitive sample),
  * or — with `--audit` — sweeps the WHOLE registry and prints summary
  * plan-invariant counts (cartesian products, nested-loop joins, pushed
  * filters, rank-limit pushdowns) plus the offending query names.
  * Usage: runMain graft.Explain [--audit] [sfDir] [queryName...]
  */
object Explain {

  /** BNLJ build sides the audit can NOT prove bounded statically, each
    * allowed by an explicit runtime-bound contract stated here. Anything
    * else with an open BNLJ build FAILS the audit — a future data-sized
    * cross can't hide behind a name whitelist, because membership here is
    * paired with the structural check (a named query whose BNLJ becomes
    * provably bounded simply drops off this list's usage). */
  val OpenBnljContracts: Map[String, String] = Map(
    "r3_vec_topk" ->
      "J9 small-catalog contract: bruteForceTopK broadcasts the item table by design; clusterPrunedTopK is the large-catalog form",
    "r13_int8_recall" ->
      "same bruteForceTopK small-catalog contract (int8 recall self-check needs the exact baseline)",
    "c_recommend_request" ->
      "same bruteForceTopK small-catalog contract (serving template; c5_serving_ivf IS that swap, measured at a 1M-item catalog)",
    "c5_serving_ivf" ->
      "exact-recall baseline streams the catalog once against the BROADCAST request batch (vec_id<32 — request-sized by construction); retrieval itself is the centroid_id equi-join, plan-REQUIREd in-query",
    "c5b_serving_ivf_int8" ->
      "same exact-baseline contract as c5_serving_ivf (float catalog streamed once against the broadcast request batch); the int8 retrieval itself is the centroid_id equi-join, plan-REQUIREd in-query",
    "ann_cluster_recall" ->
      "centroid frame is nlist(=64)-bounded by construction; localCheckpoint in refineCentroids truncates the provable lineage",
    "ann_mllib_lsh_recall" ->
      "exact-recall baseline uses the bruteForceTopK small-catalog contract",
    "t_kl_drift" ->
      "documented O(groups x vocab) design: vocab-sized broadcast, cappable upstream via heavy-hitters cut at open-vocab scale",
    "x1_negative_sample" ->
      "exact path runtime-gated to catalogs <= maxExactCatalog(100K); bucketed path dispatches beyond",
    "r14_pq_recall" ->
      "exact baseline uses the bruteForceTopK small-catalog contract; pqTopK at k*R broadcasts the REQUEST batch (vec_id<50 — request-sized by construction) and streams the codes-only catalog (dim*4/m smaller than the float scan); rerankExactTopK then re-scores that shortlist against the broadcast candidate+query frame; at catalog scale the composition is IVF centroid pruning, per the pqTopK scaladoc",
    "r14b_ivfpq_recall" ->
      "exact baseline uses the bruteForceTopK small-catalog contract; IVF-PQ retrieval itself is the centroid_id equi-join (the c5 shape) with the nlist-bounded centroid cross (the ann_cluster_recall contract) and request-sized probe/LUT broadcasts",
    "c5c_ivf_stream_refresh" ->
      "exact baseline uses the bruteForceTopK small-catalog contract; serving itself is answered from the serving snapshot (the probed cells of the held store, scored on the driver; REQUIREd in-query) or, over the snapshot bound, by the centroid_id equi-join over the stored assignment (plan-REQUIREd in-query), with the nlist-bounded frozen-centroid cross (the ann_cluster_recall contract)",
    "r14c_ivfpq_residual" ->
      "same contracts as r14b_ivfpq_recall: exact baseline = bruteForceTopK small-catalog; residual retrieval = centroid_id equi-join with the nlist-row LOCAL centroid frame crossed against the request batch (frame rebuilt from the frozen driver-side index, nlist-bounded by construction)",
    "r14d_ivfpq_residual_geo" ->
      "same contracts as r14c_ivfpq_residual on the CONSTANT 2000-row MoG mechanism corpus (size fixed in-query, not data-sized): exact baseline = bruteForceTopK small-catalog; both arms' retrieval = centroid_id equi-join with nlist-bounded centroid frames")

  /** Mis-placed evalBarrier detector: the barrier is a one-element
    * Explode(CreateArray(struct)) Generate, and a Generate blocks
    * predicate pushdown — a FilterExec sitting directly above one
    * (through Projects) with a SELECTIVE predicate not also applied
    * below it means a filter that SHOULD have been pushed past the
    * barrier got stuck, i.e. the barrier was placed before the frame
    * was terminal/narrow (the evalBarrier scaladoc contract). Two
    * benign shapes are excluded: (a) pure-IsNotNull conjunctions —
    * joins above the barrier PROPAGATE IsNotNull constraints onto
    * their inputs, which land right above the Generate by
    * construction; (b) a predicate whose identifier-erased shape AND
    * referenced column-name set both appear in a Filter below the
    * Generate — constraint propagation RE-INFERRING an already-pushed
    * predicate at a join (redundant, not lost). The name set matters
    * (ADVICE r17): shape alone erases `a < 10` and `b < 10` to the
    * same `_<10`, so a genuinely stranded predicate on one column was
    * suppressed by an unrelated below-barrier filter on another —
    * evalBarrier's struct round-trip preserves column names across the
    * Generate (struct-field reads resolve to the field name), and PURE
    * renames below the barrier (`vec_id AS query_id`) normalize to
    * their root so a re-inferred constraint on the renamed column
    * still matches its pushed twin; computed aliases (`(id*2) AS v`)
    * do NOT resolve — that would re-open the cross-column hole.
    * Tested with positive + negative controls (incl. the cross-column
    * and renamed cases) in ScaleAndGuardsSpec. */
  private[graft] def hasStrandedBarrierFilter(
      plan: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    def isBarrierGenerate(
        pl: org.apache.spark.sql.execution.SparkPlan): Boolean =
      pl match {
        case g: org.apache.spark.sql.execution.GenerateExec =>
          g.boundGenerator match {
            case e: org.apache.spark.sql.catalyst.expressions.Explode =>
              e.child match {
                case ca: org.apache.spark.sql.catalyst.expressions.CreateArray =>
                  ca.children.length == 1
                case _ => false
              }
            case _ => false
          }
        case _ => false
      }
    @annotation.tailrec
    def throughProjects(
        pl: org.apache.spark.sql.execution.SparkPlan):
        org.apache.spark.sql.execution.SparkPlan = pl match {
      case pr: org.apache.spark.sql.execution.ProjectExec =>
        throughProjects(pr.child)
      case x => x
    }
    def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression):
        Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
      e match {
        case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
          conjuncts(l) ++ conjuncts(r)
        case x => Seq(x)
      }
    def shape(e: org.apache.spark.sql.catalyst.expressions.Expression):
        String =
      e.sql.replaceAll("`", "")
        .replaceAll("[A-Za-z_][A-Za-z0-9_.]*", "_")
        .replaceAll("_(\\._)+", "_")
        .replaceAll("#\\d+", "").replaceAll("\\s+", "")
    // a conjunct's identity = erased shape + the SET of column names it
    // references (names survive the barrier's struct round-trip; exprIds
    // do not, so names are the strongest stable key available). An
    // above-barrier conjunct reads columns THROUGH the Generate's struct
    // output (`__eb.id < 5`), so struct-field accesses resolve to the
    // FIELD name, not the struct attribute's — otherwise every above
    // conjunct would key on {__eb} and never match its below twin.
    def effNames(e: org.apache.spark.sql.catalyst.expressions.Expression):
        Set[String] = e match {
      case g: org.apache.spark.sql.catalyst.expressions.GetStructField =>
        Set(g.extractFieldName)
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        Set(a.name)
      case _ => e.children.flatMap(effNames).toSet
    }
    plan.collect {
      case f: org.apache.spark.sql.execution.FilterExec
          if isBarrierGenerate(throughProjects(f.child)) =>
        val gen = throughProjects(f.child)
        // PURE renames below the barrier (`vec_id AS query_id`): a
        // re-inferred constraint above the barrier references the
        // renamed column, so names must normalize to their root before
        // matching. Only Alias-of-attribute (or of a struct field)
        // counts — a COMPUTED alias (`(id*2) AS v`) is a different
        // value, and resolving it would re-open the cross-column
        // suppression hole this keying exists to close.
        val renames: Map[String, Set[String]] = gen.collect {
          case pr: org.apache.spark.sql.execution.ProjectExec =>
            pr.projectList.flatMap {
              case a: org.apache.spark.sql.catalyst.expressions.Alias =>
                a.child match {
                  case ar: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
                    Some(a.name -> ar.name)
                  case g: org.apache.spark.sql.catalyst.expressions.GetStructField =>
                    Some(a.name -> g.extractFieldName)
                  case _ => None
                }
              case _ => None
            }
        }.flatten.groupBy(_._1)
          .map { case (k, vs) => k -> vs.map(_._2).toSet }
        def resolve(n: String, seen: Set[String]): Set[String] =
          if (seen(n)) Set(n)
          else renames.get(n) match {
            case Some(srcs) => srcs.flatMap(resolve(_, seen + n))
            case None => Set(n)
          }
        def key(e: org.apache.spark.sql.catalyst.expressions.Expression):
            (String, Set[String]) =
          (shape(e), effNames(e).flatMap(resolve(_, Set.empty)))
        val below = gen.collect {
          case bf: org.apache.spark.sql.execution.FilterExec =>
            conjuncts(bf.condition).map(key)
        }.flatten.toSet
        conjuncts(f.condition).exists {
          case _: org.apache.spark.sql.catalyst.expressions.IsNotNull =>
            false
          case c => !below.contains(key(c))
        }
    }.exists(identity)
  }

  /** VERDICT r18 #8: machine check that every `.collect()` in the ops/
    * library is visibly bounded. The CC fast path and x1's
    * maxExactCatalog made "driver collects are limit-gated or
    * config-bounded" a load-bearing property that previously held only
    * by review. Rule: a `.collect()` call site passes iff the 30 lines
    * ending at it contain a `limit(`, a `require(`, or an explicit
    * bound-contract word (`bound`/`bounded`/`BOUNDED collect` marker —
    * the collectCentroids/pqTrain/ivfPqTrain centroid-table contracts).
    * Anything else is reported as unbounded and FAILS the audit, so a
    * future data-sized collect cannot land silently.
    *
    * The sentinel idiom is held to more: a collect whose own call chain
    * is gated by `limit(N + 1)` passes only if the file compares a
    * `.length`/`.size` against that same `N` (the `require(rows.length <=
    * N, …)` after the collect, or a caller's over-budget branch). An
    * unchecked sentinel silently truncates at N + 1 rows, so it is
    * reported even though a `limit(` is in view. Positive + negative
    * controls in ScaleAndGuardsSpec. */
  private[graft] def unboundedCollects(srcDir: java.io.File): Seq[String] = {
    import java.util.regex.Pattern
    val okRx = Pattern.compile(
      "limit\\s*\\(|require\\s*\\(|\\bbound(ed)?\\b",
      Pattern.CASE_INSENSITIVE)
    val sentinelRx =
      Pattern.compile("limit\\s*\\(\\s*([\\w.]+)\\s*\\+\\s*1\\s*\\)")
    Option(srcDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".scala")).sortBy(_.getName)
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        val lines = try src.getLines().toVector finally src.close()
        val text = lines.mkString("\n")
        lines.zipWithIndex.flatMap { case (l, i) =>
          if (!l.contains(".collect()")) None
          else {
            // the collect's call chain: its line plus the `.`-continued
            // lines above it
            var from = i
            while (from > 0 && lines(from).trim.startsWith(".")) from -= 1
            val sentinel = sentinelRx.matcher(
              lines.slice(from, i + 1).mkString("\n"))
            val ok =
              if (sentinel.find())
                Pattern.compile("\\.(length|size)\\s*(<=|<|>=|>)\\s*" +
                  Pattern.quote(sentinel.group(1)) + "(?![\\w.])")
                  .matcher(text).find()
              else okRx.matcher(
                lines.slice(math.max(0, i - 29), i + 1).mkString("\n")).find()
            if (ok) None else Some(s"${f.getName}:${i + 1}")
          }
        }
      }.toSeq
  }

  def main(args: Array[String]): Unit = {
    val audit = args.contains("--audit")
    val rest = args.filterNot(_ == "--audit")
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (audit) {
      var cartesian = List.empty[String]
      var bnlj = List.empty[String]
      var bnljOpenAck = List.empty[String]
      var bnljOpenUnack = List.empty[String]
      var globalWin = List.empty[String]
      var barrierMisplaced = List.empty[String]
      var failed = List.empty[String]
      var pushed = 0
      var wgl = 0
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (n, fn) =>
        try {
          val qe = fn(spark, sfDir).queryExecution
          val p = qe.executedPlan.toString
          if (p.contains("CartesianProduct")) cartesian ::= n
          if (p.contains("BroadcastNestedLoopJoin")) bnlj ::= n
          // Every BNLJ's broadcast build side is classified STRUCTURALLY
          // (not by name whitelist): (a) proven scalar — some linked
          // logical node has maxRows <= 1 (global aggregate / LIMIT 1);
          // (b) limit-gated — an explicit Limit bounds the subtree by a
          // compile-time constant (centroid picks); (c) open — neither
          // provable, allowed ONLY with an acknowledged runtime-bound
          // contract in [[OpenBnljContracts]]. A new data-sized cross
          // fails the audit instead of hiding behind a name list.
          val openBnlj = qe.sparkPlan.collect {
            case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec =>
              val build = j.buildSide match {
                case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
                case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
              }
              val linked = build.collect { case q => q.logicalLink }.flatten
              val scalar = linked.exists(_.maxRows.exists(_ <= 1L))
              val gated = linked.exists {
                case _: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => true
                case _: org.apache.spark.sql.catalyst.plans.logical.LocalLimit => true
                case _ => false
              } || build.collect {
                case l: org.apache.spark.sql.execution.BaseLimitExec => l
              }.nonEmpty
              !(scalar || gated)
          }.exists(identity)
          if (openBnlj) {
            if (OpenBnljContracts.contains(n)) bnljOpenAck ::= n
            else bnljOpenUnack ::= n
          }
          // Structural check for THE scale killer this suite eliminated:
          // a full-rank window with no partition key moves every row to
          // one task (sparkPlan = pre-AQE tree, so WindowExec nodes are
          // visible un-wrapped). WindowGroupLimit-able rank-filters are
          // fine — they partial-limit before the exchange.
          val hasGlobalWindow = qe.sparkPlan.collect {
            case w: org.apache.spark.sql.execution.window.WindowExec
                if w.partitionSpec.isEmpty => w
          }.nonEmpty
          if (hasGlobalWindow) globalWin ::= n
          if (hasStrandedBarrierFilter(qe.sparkPlan)) barrierMisplaced ::= n
          pushed += "PushedFilters: \\[[^\\]]".r.findAllIn(p).length
          wgl += "WindowGroupLimit".r.findAllIn(p).length
        } catch { case e: Throwable => failed ::= s"$n (${e.getMessage})" }
      }
      // library-source collect audit (VERDICT r18 #8); -1 = sources not
      // present at the cwd (audit run outside the repo) — plan checks
      // above still apply
      val opsDir = new java.io.File("src/main/scala/graft/ops")
      val unbounded =
        if (opsDir.isDirectory) unboundedCollects(opsDir) else null
      println(s"[audit] queries=${SparkEntry.queries.size} " +
        s"cartesian=${cartesian.size} bnlj=${bnlj.size} " +
        s"bnlj_open_ack=${bnljOpenAck.size} " +
        s"bnlj_open_unack=${bnljOpenUnack.size} " +
        s"global_windows=${globalWin.size} " +
        s"barrier_misplaced=${barrierMisplaced.size} " +
        s"pushed_filters=$pushed window_group_limit=$wgl " +
        s"unbounded_collects=${if (unbounded == null) -1 else unbounded.size} " +
        s"plan_failures=${failed.size}")
      if (unbounded != null && unbounded.nonEmpty)
        println(s"[audit] UNBOUNDED-COLLECTS (ops/ collect sites with no " +
          s"visible limit/require/bound contract — must be none): " +
          unbounded.mkString(", "))
      if (cartesian.nonEmpty) println(s"[audit] CARTESIAN: ${cartesian.sorted.mkString(", ")}")
      if (bnlj.nonEmpty) println(s"[audit] BNLJ (build sides structurally verified scalar/limit-gated unless listed): ${bnlj.sorted.mkString(", ")}")
      if (bnljOpenAck.nonEmpty) {
        println(s"[audit] BNLJ-OPEN (acknowledged runtime-bound contracts):")
        bnljOpenAck.sorted.foreach(q =>
          println(s"[audit]   $q — ${OpenBnljContracts(q)}"))
      }
      if (bnljOpenUnack.nonEmpty) println(s"[audit] BNLJ-OPEN-UNACKNOWLEDGED (data-sized cross risk — must be none): ${bnljOpenUnack.sorted.mkString(", ")}")
      if (globalWin.nonEmpty) println(s"[audit] GLOBAL WINDOWS (single-partition rank — should be none): ${globalWin.sorted.mkString(", ")}")
      if (barrierMisplaced.nonEmpty) println(s"[audit] BARRIER-MISPLACED (Filter stuck above a one-element-Generate eval barrier — pushdown blocked; move the barrier after the filter): ${barrierMisplaced.sorted.mkString(", ")}")
      if (failed.nonEmpty) println(s"[audit] FAILED: ${failed.sorted.mkString(", ")}")
      if (cartesian.nonEmpty || bnljOpenUnack.nonEmpty || globalWin.nonEmpty || barrierMisplaced.nonEmpty || failed.nonEmpty ||
          (unbounded != null && unbounded.nonEmpty)) {
        spark.stop(); sys.exit(1) // audit FAILS on any structural violation
      }
    } else {
      val names = if (rest.length > 1) rest.drop(1).toSeq
        else Seq("p_scan_filter_project", "j2_multiway_join", "r3_vec_topk",
          "w3_topk_per_group", "a6_multiwindow_agg")
      names.foreach { n =>
        println(s"\n========== $n ==========")
        SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
