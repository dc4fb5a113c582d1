package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DataType

/** Feature-store semantics (SURVEY §2.1 S8/S9, §2.3 J8, §2.5 W7):
  * Feast-style feature views re-expressed as Spark relational contracts.
  *
  * A feature view is (entity key columns, event-time column, TTL); the
  * reference declares these in `src/features/feature_definitions.py:45-63`
  * and mocks the lookups in `src/features/simple_feature_store.py:17-90`.
  * Here the DECLARED contract is implemented for real:
  *  - online lookup  = latest row per entity within TTL of "now"
  *  - historical     = point-in-time-correct as-of join (no feature leakage:
  *    each entity row sees only feature rows at or before its own timestamp,
  *    and not older than ttl)
  */
object FeatureStore {

  /** A feature view registration (ref `feature_definitions.py:45-63`). */
  case class FeatureView(name: String, entityCols: Seq[String],
                         tsCol: String, ttlSeconds: Long)

  /** W7/S8: latest row per entity key — `row_number() = 1` over ts desc.
    * `tiebreakCol` makes latest-wins deterministic on ts ties. One shuffle
    * on the entity key; rides WindowGroupLimit (rank-limit pushdown). */
  def latestPerKey(df: DataFrame, keyCols: Seq[String], tsCol: String,
                   tiebreakCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).desc, col(tiebreakCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** How a bucketed store is laid out: each row sits in bucket
    * `__bucket = pmod(xxhash64(keyCols…), numBuckets)` ([[bucketOf]]), and
    * each bucket is one parquet file, [[bucketFile]], directly under the
    * store root, with `__bucket` as its last data column (no partition
    * directories, so a reader resolves the store by listing one
    * directory on the driver). The bucketed writers
    * (`StreamingJobs.upsertBucketedBatch` and the two dedup stores)
    * record it at the store root and refuse a batch that asks for
    * another layout; [[onlineLookup]] reads it to prune a lookup to the
    * requested keys' bucket files. */
  final case class BucketLayout(numBuckets: Int, keyCols: Seq[String])

  /** The file of bucket `b` under a bucketed store's root. */
  private[graft] def bucketFile(b: Int): String = f"bucket-$b%05d.parquet"

  /** The layout record under the store root: the bucket count on the
    * first line, one key column per line after it. The `_` prefix keeps
    * Spark's file listing from taking it for data. */
  private val LayoutFile = "_bucket_layout"

  /** The bucket column every bucketed writer adds. */
  private[graft] def bucketOf(keys: Seq[Column], numBuckets: Int): Column =
    pmod(xxhash64(keys: _*), lit(numBuckets)).cast("int")

  private[graft] def readLayout(spark: SparkSession,
                                root: String): Option[BucketLayout] = {
    val p = new Path(root, LayoutFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList finally in.close()
      Some(BucketLayout(lines.head.trim.toInt, lines.tail))
    }
  }

  /** Write the record beside the store's data: staged, then renamed, so
    * a reader never sees half a record. */
  private[graft] def writeLayout(spark: SparkSession, root: String,
                                 layout: BucketLayout): Unit = {
    val p = new Path(root, LayoutFile)
    val tmp = new Path(root, LayoutFile + ".tmp")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write(((layout.numBuckets.toString +: layout.keyCols)
      .mkString("", "\n", "\n")).getBytes("UTF-8"))
    finally out.close()
    require(fs.rename(tmp, p), s"writeLayout: rename $tmp -> $p failed")
  }

  /** Most request keys [[onlineLookup]] takes: the keys become literals
    * in the scan's filter, so a request is a request, not a batch join. */
  private[graft] val MaxLookupKeys: Int = 1 << 16

  /** S8: online point lookup — latest feature row per requested entity,
    * subject to TTL freshness vs the injected `now`
    * (ref `simple_feature_store.py:17-50`; TTLs `feature_definitions.py:48`).
    *
    * The request keys are collected to the driver (at most
    * [[MaxLookupKeys]]; no job when they are a local relation) and
    * become a literal filter on the key columns, typed to those columns
    * when the request's type up-casts to them, so Parquet can push it
    * down. A key with a null part matches nothing, as under equality.
    * When `features` reads a bucketed store directly — one flat file
    * relation whose root holds a [[BucketLayout]] record for
    * `view.entityCols`, with the key and `__bucket` columns unchanged —
    * the lookup also filters `__bucket` and `_metadata.file_name` to the
    * requested keys' buckets and their [[bucketFile]]s, computed on the
    * driver, and the scan reads only those files. Nothing is cached
    * between calls: every lookup reads the store as the caller's frame
    * lists it. Any other frame is read unpruned, with the same result. */
  def onlineLookup(features: DataFrame, view: FeatureView,
                   requestKeys: DataFrame, now: Column,
                   tiebreakCol: String): DataFrame = {
    val keyCols = view.entityCols
    val req = requestKeys.select(keyCols.map(col): _*)
    val rows = req.limit(MaxLookupKeys + 1).collect()
    require(rows.length <= MaxLookupKeys,
      s"onlineLookup: more than $MaxLookupKeys request keys")
    val keyTypes = features.select(keyCols.map(col): _*).schema
      .map(_.dataType)
    val lits = rows.filterNot(_.anyNull).distinct.toSeq.map(r =>
      keyCols.indices.map(i =>
        keyLiteral(r.get(i), req.schema(i).dataType, keyTypes(i))))
    val typed = lits.forall(_.map(_.dataType) == keyTypes)
    val fresh = freshOnly(features, view.tsCol, now, view.ttlSeconds)
    val buckets = storeLayout(features, keyCols).filter(_ => typed)
      .map { l =>
        val bs = lits.map(ls => java.lang.Math.floorMod(
          new XxHash64(ls).eval().asInstanceOf[Long], l.numBuckets.toLong)
          .toInt).distinct.sorted
        col("__bucket").isin(bs: _*) &&
          col("_metadata.file_name").isin(bs.map(bucketFile): _*)
      }
    val scoped = fresh.filter(buckets.foldLeft(keyFilter(keyCols, lits))(_ && _))
    latestPerKey(scoped, keyCols, view.tsCol, tiebreakCol)
  }

  /** A request value as a literal: of the key column's type when the
    * request's type up-casts to it (the cast the semi-join's equality
    * would apply), else of the request's own type, which the analyzer
    * then coerces against the column as equality does. */
  private def keyLiteral(v: Any, reqType: DataType,
                         keyType: DataType): Literal = {
    val l = Literal.create(v, reqType)
    if (reqType == keyType || !Cast.canUpCast(reqType, keyType)) l
    else Literal(Cast(l, keyType, Some(SQLConf.get.sessionLocalTimeZone))
      .eval(), keyType)
  }

  /** Rows whose key equals one of `lits`' tuples. Each column gets an
    * IN list (what Parquet pushes down); a composite key also matches
    * the tuple as a struct, so a row pairing the parts of two different
    * keys is dropped. */
  private def keyFilter(keyCols: Seq[String], lits: Seq[Seq[Literal]]): Column =
    if (lits.isEmpty) lit(false)
    else {
      val perCol = keyCols.indices.map(i => col(keyCols(i))
        .isin(lits.map(_(i)).distinct.map(ColumnBridge.column): _*))
        .reduce(_ && _)
      if (keyCols.length == 1) perCol
      else perCol && struct(keyCols.map(col): _*).isin(lits.map(ls =>
        struct(ls.zip(keyCols).map { case (l, c) =>
          ColumnBridge.column(l).as(c) }: _*)): _*)
    }

  /** The bucket layout of the store `features` reads directly: its one
    * leaf is an unpartitioned file relation with a single root holding a
    * layout record for `keyCols`, the key and `__bucket` columns are the
    * relation's own (not recomputed above it), and its `_metadata`
    * column still resolves on `features`. */
  private def storeLayout(features: DataFrame,
                          keyCols: Seq[String]): Option[BucketLayout] = {
    val plan = features.queryExecution.analyzed
    plan.collectLeaves() match {
      case Seq(lr: LogicalRelation) => lr.relation match {
        case h: HadoopFsRelation if h.location.rootPaths.size == 1 &&
            h.partitionSchema.isEmpty &&
            plan.metadataOutput.exists(_.name == "_metadata") =>
          val own = lr.output.map(_.exprId).toSet
          val resolve = SQLConf.get.resolver
          val kept = (keyCols :+ "__bucket").forall(c =>
            plan.output.find(a => resolve(a.name, c))
              .exists(a => own(a.exprId)))
          if (!kept) None
          else readLayout(features.sparkSession,
              h.location.rootPaths.head.toString)
            .filter(_.keyCols == keyCols)
        case _ => None
      }
      case _ => None
    }
  }

  /** S9/J8: historical (point-in-time) feature retrieval — the as-of join.
    * For each entity row (key, t), attach the latest feature row with
    * `feature.ts ∈ [t - ttl, t]`; nulls where none qualifies (left join).
    *
    * Implementation: range-condition join + latest-wins dedup keyed by a
    * unique entity row id. At scale the range predicate bounds the join
    * fan-out to ttl-width slices; skewed hot entities can be salted upstream.
    * (ref contract: `simple_feature_store.py:52-71` + `feature_definitions.py`
    * TTLs; this is the real semantics the reference mocks.)
    */
  def asOfJoin(entityDf: DataFrame, entityKeyCols: Seq[String],
               entityTsCol: String, features: DataFrame, view: FeatureView,
               featureTiebreak: String): DataFrame = {
    val entity = entityDf.withColumn("__row_id", monotonically_increasing_id())
    // Prefix feature columns so the joined schema is unambiguous.
    val feats = features.columns.foldLeft(features) { (f, c) =>
      f.withColumnRenamed(c, s"f_$c")
    }
    val joinCond = view.entityCols.zip(entityKeyCols)
      .map { case (fk, ek) => col(s"f_$fk") === col(ek) }
      .reduce(_ && _) &&
      col(s"f_${view.tsCol}") <= col(entityTsCol) &&
      col(s"f_${view.tsCol}") >= col(entityTsCol) -
        expr(s"INTERVAL ${view.ttlSeconds} SECONDS")
    val joined = entity.join(feats, joinCond, "left")
    val w = Window.partitionBy(col("__row_id"))
      .orderBy(col(s"f_${view.tsCol}").desc, col(s"f_$featureTiebreak").desc)
    joined.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__row_id")
      .drop(view.entityCols.map(c => s"f_$c"): _*)
  }

  /** S9/J8 at 100 TB: the as-of join as a union + single window pass ("sort
    * merge as-of") instead of a range-condition join. The range form's
    * fan-out is bounded only by the TTL width — a hot entity with a wide
    * TTL joins against every feature row in the window before dedup; this
    * form unions feature and entity rows per key, sorts once by
    * (ts, kind, tiebreak) with feature rows ordered before entity rows at
    * equal ts (as-of is inclusive), and takes the running `last_value`
    * (ignoring nulls) of the feature payload — each entity row sees exactly
    * the latest feature at-or-before its timestamp. One shuffle + sort,
    * zero join fan-out. TTL is applied afterward by nulling payloads older
    * than `entityTs − ttl`. Result row-for-row equal to [[asOfJoin]]
    * (asserted differentially in SourcesSpec; both forms are oracle-checked
    * by the same DuckDB SQL). */
  def asOfJoinSorted(entityDf: DataFrame, entityKeyCols: Seq[String],
                     entityTsCol: String, features: DataFrame,
                     view: FeatureView, featureTiebreak: String): DataFrame = {
    val featPayloadCols = features.columns
      .filterNot(view.entityCols.contains)
    // Entity rows carry their FULL original row through the union as a
    // struct — no row-id tagging, no re-attach join. (An earlier form
    // tagged with monotonically_increasing_id and self-joined on it; the
    // id is nondeterministic under re-evaluation after a shuffle, so the
    // two branches could disagree and drop/misattach payloads.)
    val payloadType = org.apache.spark.sql.types.StructType(
      featPayloadCols.map(c => features.schema(c)))
    val eTagged = entityDf.select(
      entityKeyCols.zip(view.entityCols).map { case (ek, fk) =>
        col(ek).as(fk)
      } ++ Seq(
        col(entityTsCol).as("__ts"),
        lit(null).cast(features.schema(featureTiebreak).dataType).as("__tb"),
        lit(1).as("__kind"),
        lit(null).cast(payloadType).as("__payload"),
        struct(entityDf.columns.map(col): _*).as("__erow")): _*)
    // Null-key feature rows are dropped before the union: the window
    // partitions group NULLs together, so a null-key feature payload could
    // otherwise attach to a null-key entity row — the range-join form's SQL
    // equality never matches on NULL, and the two forms must agree.
    val fTagged = features
      .filter(view.entityCols.map(col(_).isNotNull).reduce(_ && _))
      .select(
        view.entityCols.map(col) ++ Seq(
          col(view.tsCol).as("__ts"),
          col(featureTiebreak).as("__tb"),
          lit(0).as("__kind"),
          struct(featPayloadCols.map(col): _*).as("__payload"),
          lit(null).cast(eTagged.schema("__erow").dataType).as("__erow")): _*)
    val unioned = fTagged.unionByName(eTagged)
    // feature rows first at equal ts (inclusive as-of); among same-ts
    // features the highest tiebreak sorts last and wins last_value
    val w = Window
      .partitionBy(view.entityCols.map(col): _*)
      .orderBy(col("__ts").asc, col("__kind").asc, col("__tb").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned
      .withColumn("__f", last(
        when(col("__kind") === 0,
          struct(col("__ts").as("fts"), col("__payload").as("p"))),
        ignoreNulls = true).over(w))
      .filter(col("__kind") === 1)
      .withColumn("__fresh",
        col("__f").isNotNull &&
        col("__f.fts") >= col("__ts") -
          expr(s"INTERVAL ${view.ttlSeconds} SECONDS"))
    val withPayload = featPayloadCols.foldLeft(carried) { (df, c) =>
      df.withColumn(s"f_$c", when(col("__fresh"), col(s"__f.p.$c")))
    }
    // unpack the carried entity row; column order matches [[asOfJoin]]
    withPayload.select(
      entityDf.columns.map(c => col(s"__erow.$c").as(c)) ++
        featPayloadCols.map(c => col(s"f_$c")): _*)
  }

  /** T8: TTL freshness filter on read of an online store — keeps the rows
    * with `now − ttlSeconds ≤ ts ≤ now` (ref TTLs in
    * `feature_definitions.py`; cache expiry `retrieval.py:643-657`). */
  def freshOnly(store: DataFrame, tsCol: String, now: Column,
                ttlSeconds: Long): DataFrame =
    store.filter(col(tsCol) <= now &&
      col(tsCol) >= now - expr(s"INTERVAL $ttlSeconds SECONDS"))

  /** T10: materialization — recompute a view's feature table over an event
    * range and emit the latest-per-key online snapshot
    * (ref `simple_feature_store.py:82-90`). */
  def materialize(events: DataFrame, view: FeatureView, from: Column,
                  to: Column, tiebreakCol: String): DataFrame = {
    val ranged = events.filter(col(view.tsCol) >= from && col(view.tsCol) <= to)
    latestPerKey(ranged, view.entityCols, view.tsCol, tiebreakCol)
  }
}
