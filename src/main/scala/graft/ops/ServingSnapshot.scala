package graft.ops

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, BindReferences, BoundReference, Expression, GenericInternalRow, InterpretedMutableProjection, InterpretedOrdering, InterpretedUnsafeProjection, JoinedRow, Predicate, RowNumber, Unevaluable, UnsafeProjection, UnsafeRow, WindowExpression}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LeafNode, LocalRelation, LogicalPlan, Project, Statistics, Union, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.StructType

/** The driver-resident serving state (SURVEY §3.3: a request is a
  * low-latency query over precomputed state). It holds a store root's
  * decoded rows on the driver, keyed by the exact file statuses (path,
  * length, mtime) a request would read, so a request against an
  * unchanged store starts no Spark job: [[FeatureStore.onlineLookup]]
  * and [[Similarity.servedTopKFromStore]] answer from it with the same
  * operators their scan path plans, evaluated on the driver
  * ([[collectOnDriver]]).
  *
  *  - A request passes the statuses its own listing saw and the files
  *    it needs (a lookup its keys' bucket files, a retrieval its probed
  *    cells and the delta). When the held generation holds every needed
  *    file as listed, it is a hit. Otherwise it is a miss, which loads,
  *    in one job, the root's listed files on its first build and the
  *    needed files the generation lacks after that, and keeps the rows
  *    of the files still listed unchanged: a store rewritten under
  *    ingest costs a request the files it reads, as its scan would. The
  *    new generation replaces the old one only when a stat after the
  *    read shows that no file it read changed; else the request is
  *    served by its scan. Any swap, upsert or rebuild changes a status, so a
  *    snapshot is never stale against the caller's listing. This relies
  *    on a rewrite changing the length or the mtime, which the bucketed
  *    writers guarantee: each rewrite is a new file written by a Spark
  *    job and renamed in, far more than the file system's mtime
  *    granularity after the file it replaces.
  *  - A root is held only while it is small: its listed file bytes are
  *    checked against a bound before any read, its decoded bytes against
  *    the same bound after the read. Past either, its request is served
  *    by the scan path (a fallback). The decoded bytes per listed byte
  *    of a root's last build predict the next, so a root whose rows
  *    decoded over the bound is not read again while the prediction
  *    stays over it.
  *  - Each root holds one generation; a miss builds once per root
  *    (single-flight). The decoded bytes of all roots are bounded to
  *    [[HeldRoots]] roots at the bound, with least-recently-used
  *    eviction that never drops the generation just built: a request
  *    reads at most three roots (a feature store, an IVF base and its
  *    delta), so the roots of one request never evict each other.
  *    Everything is dropped with the SparkContext it was read by.
  *  - [[memoCentroids]] keeps the collected centroid table of a frame
  *    whose leaves are fixed (checkpointed or local).
  *
  * Hits, misses, fallbacks and bytes held are [[counters]]. */
private[graft] object ServingSnapshot {

  /** Largest store root a snapshot holds: its listed file bytes,
    * checked before any read, and its decoded bytes, checked after. Past
    * it the request is served by its scan. */
  private[graft] val MaxRootBytes: Long = 32L << 20

  /** Roots held at once at the bound: the held decoded bytes are kept
    * within `HeldRoots` times a request's bound. */
  private val HeldRoots = 8

  /** Centroid tables memoized at once; past it the memo starts over. */
  private val MaxMemoCentroids = 64

  /** How a root's files are decoded: the root, the data schema and the
    * options of the relation a request reads them through. Without a
    * data schema, a miss takes it from the footer of the root's first
    * file, as `spark.read.parquet` would infer it. */
  final case class Source(root: Path, dataSchema: Option[StructType],
                          options: Map[String, String])

  /** One file as a listing saw it. */
  final case class FileKey(path: Path, length: Long, mtime: Long)

  private def keyOf(st: FileStatus) =
    FileKey(st.getPath, st.getLen, st.getModificationTime)

  /** One generation of a root: the rows of each file it holds (a subset
    * of the root's listing), decoded with `dataSchema` under `schema`
    * (the data columns, then any partition columns). */
  final class Snapshot private[ServingSnapshot] (
      val source: Source, val dataSchema: StructType, val schema: StructType,
      val files: Map[FileKey, Array[UnsafeRow]]) {
    lazy val bytes: Long = files.valuesIterator.flatten
      .map(_.getSizeInBytes.toLong).sum
    /** This generation's rows of the `need`ed files alone. */
    def holding(need: Set[FileKey]): Snapshot =
      new Snapshot(source, dataSchema, schema, files.filter(f => need(f._1)))
    /** The rows of the files `keep` selects. */
    def rows(keep: Path => Boolean = _ => true): Seq[InternalRow] =
      files.iterator.filter(f => keep(f._1.path)).flatMap(_._2).toSeq
  }

  final case class Counters(hits: Long, misses: Long, fallbacks: Long,
                            bytesHeld: Long)

  private val hits = new AtomicLong
  private val misses = new AtomicLong
  private val fallbacks = new AtomicLong

  def counters: Counters =
    Counters(hits.get, misses.get, fallbacks.get, synchronized(held))

  /** A request served by its scan path: a frame no snapshot can key, a
    * root over the bound, or a file that changed while it was read. */
  def fallback(): Unit = { fallbacks.incrementAndGet(); () }

  private final class Slot {
    @volatile var snap: Snapshot = _
    @volatile var used: Long = 0L
    /** The listed and the decoded bytes of the root's last build. */
    @volatile var built: (Long, Long) = (1L, 0L)
  }

  private val slots = new ConcurrentHashMap[String, Slot]()
  private val clock = new AtomicLong
  // guarded by this object's lock
  private var held = 0L
  private var owner: SparkContext = _
  private val memo = new java.util.WeakHashMap[DataFrame, AnyRef]()

  /** Drop everything held for another (or a stopped) SparkContext. */
  private def own(sc: SparkContext): Unit = synchronized {
    if (owner ne sc) {
      slots.clear(); memo.clear(); held = 0L
      owner = sc
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          ServingSnapshot.synchronized {
            if (owner eq sc) {
              slots.clear(); memo.clear(); held = 0L; owner = null
            }
          }
      })
    }
  }

  /** The source and the listed files of `df` when it is exactly one
    * unpartitioned parquet relation over a single root: what the
    * request would read, from the statuses its own file index listed. */
  def sourceOf(df: DataFrame): Option[(Source, Seq[FileStatus])] =
    df.queryExecution.analyzed match {
      case lr @ LogicalRelation(h: HadoopFsRelation, _, _, _, _)
          if !lr.isStreaming =>
        (h.location, h.fileFormat) match {
          case (idx: PartitioningAwareFileIndex, _: ParquetFileFormat)
              if idx.rootPaths.size == 1 && h.partitionSchema.isEmpty &&
                h.bucketSpec.isEmpty =>
            Some((Source(idx.rootPaths.head, Some(h.dataSchema), h.options),
              idx.allFiles()))
          case _ => None
        }
      case _ => None
    }

  /** The snapshot of `source` holding the listed `files` that `needs`
    * selects: the held generation when it holds them as listed, else a
    * new one built by one job. None — the request takes its scan path —
    * when the files or their decoded rows exceed `maxBytes`, or one
    * changed while it was read. */
  def of(spark: SparkSession, source: Source, files: Seq[FileStatus],
         needs: Path => Boolean, maxBytes: Long): Option[Snapshot] = {
    val listed = files.iterator.map(_.getLen).sum
    if (listed > maxBytes) { fallback(); return None }
    own(spark.sparkContext)
    val want = files.map(keyOf).toSet
    val need = want.filter(k => needs(k.path))
    val name = source.root.toString
    val slot = slots.computeIfAbsent(name, _ => new Slot)
    slot.synchronized {
      slot.used = clock.incrementAndGet()
      val cur = Option(slot.snap).filter(_.source == source)
      if (cur.exists(c => need.forall(c.files.contains))) {
        hits.incrementAndGet(); cur.map(_.holding(need))
      }
      // the last build's decoded bytes per listed byte predict this one's
      else if (BigInt(listed) * slot.built._2 >
          BigInt(maxBytes) * slot.built._1) { fallback(); None }
      else {
        misses.incrementAndGet()
        val dataSchema = source.dataSchema.getOrElse(
          graft.streaming.StreamingJobs.footerSchema(spark,
            files.map(_.getPath).minBy(_.toString)))
        val prev = cur.filter(_.dataSchema == dataSchema)
        val kept = prev.fold(Map.empty[FileKey, Array[UnsafeRow]])(
          _.files.filter(f => want(f._1)))
        load(spark, source.root, dataSchema, source.options, files,
            (if (prev.isEmpty) want else need) -- kept.keySet)
          .map { case (schema, read) =>
            new Snapshot(source, dataSchema, schema, kept ++ read) } match {
          case Some(s) =>
            slot.built = (math.max(s.files.keysIterator.map(_.length).sum,
              1L), s.bytes)
            if (s.bytes > maxBytes) { fallback(); None }
            else {
              install(name, slot, s, HeldRoots * maxBytes)
              Some(s.holding(need))
            }
          case None => fallback(); None
        }
      }
    }
  }

  /** Read the `missing` files of `source` in one job, through a file
    * index that lists nothing (it serves the given statuses), and split
    * the rows by the file they came from. None when a stat after the
    * read shows a file changed since it was listed. */
  private def load(spark: SparkSession, root: Path, dataSchema: StructType,
                   options: Map[String, String], files: Seq[FileStatus],
                   missing: Set[FileKey])
      : Option[(StructType, Map[FileKey, Array[UnsafeRow]])] = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def unchanged = missing.forall(k =>
      Try(fs.getFileStatus(k.path)).toOption.exists(st => keyOf(st) == k))
    val index = new InMemoryFileIndex(spark, Seq(root), options,
      Some(dataSchema), new FileStatusCache {
        override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
          Some(files.toArray)
        override def putLeafFiles(path: Path, leaves: Array[FileStatus]): Unit = ()
        override def invalidateAll(): Unit = ()
      })
    val rel = spark.baseRelationToDataFrame(HadoopFsRelation(index,
      index.partitionSchema, dataSchema, None, new ParquetFileFormat,
      options)(spark))
    val schema = rel.schema
    // the file_path metadata value of each missing file
    val byPath = missing.map(k =>
      new Path(k.path.toString).toUri.toString -> k).toMap
    val all = rel.select(schema.fieldNames.map(c =>
        col("`" + c.replace("`", "``") + "`")) :+
      col("_metadata.file_path"): _*)
    val read = if (missing.size == files.size) all
      else all.filter(col("_metadata.file_path").isin(byPath.keys.toSeq: _*))
    val rows = if (missing.isEmpty) Try(Array.empty[InternalRow])
      else Try(read.queryExecution.executedPlan.executeCollect())
    // a failed read of unchanged files is a real failure: rows.get rethrows
    Option.when(unchanged) {
      val data = UnsafeProjection.create(schema.fields.toSeq.zipWithIndex.map {
        case (f, i) => BoundReference(i, f.dataType, f.nullable) })
      val n = schema.length
      val split = rows.get.groupBy(r => byPath(r.getUTF8String(n).toString))
      (schema, missing.map(k => k -> split.get(k).fold(Array.empty[UnsafeRow])(
        _.map(r => data(r).copy()))).toMap)
    }
  }

  /** Make `s` the generation of `slot` (unless the slot was dropped in
    * the meantime), then evict the least recently used other generations
    * until the held bytes fit `budget`. */
  private def install(name: String, slot: Slot, s: Snapshot,
                      budget: Long): Unit =
    synchronized {
      if (slots.get(name) eq slot) {
        slot.snap = s
        val gens = slots.values.asScala.toSeq.filter(_.snap != null)
          .sortBy(_.used)
        var total = gens.map(_.snap.bytes).sum
        gens.foreach { g =>
          if (total > budget && (g ne slot)) {
            total -= g.snap.bytes; g.snap = null
          }
        }
        held = total
      }
    }

  /** `collect`'s result for `df`, memoized while `df` lives when its
    * leaves are fixed — checkpointed `LogicalRDD`s or local relations —
    * and its plan deterministic, as a frozen centroid table is; any
    * other frame is collected per call. */
  def memoCentroids[A <: AnyRef](df: DataFrame)(collect: => A): A = {
    val plan = df.queryExecution.analyzed
    val fixed = plan.deterministic && plan.collectLeaves().forall {
      case r: LogicalRDD => r.rdd.isCheckpointed
      case _: LocalRelation => true
      case _ => false
    }
    if (!fixed) collect
    else {
      own(df.sparkSession.sparkContext)
      synchronized(Option(memo.get(df))).map(_.asInstanceOf[A]).getOrElse {
        val v = collect
        synchronized {
          if (memo.size >= MaxMemoCentroids) memo.clear()
          memo.put(df, v)
        }
        v
      }
    }
  }

  /** Rows held on the driver as a leaf of a logical plan. Spark's
    * optimizer cannot fold it the way it folds a `LocalRelation`, so
    * [[collectOnDriver]] evaluates the operators above it interpreted:
    * no predicate is compiled per request. */
  private[graft] final case class DriverRows(output: Seq[Attribute],
                                             rows: Seq[InternalRow])
      extends LeafNode {
    override def computeStats(): Statistics = Statistics(
      EstimationUtils.getSizePerRow(output) * rows.length)
    override def simpleString(maxFields: Int): String =
      s"DriverRows ${output.mkString("[", ", ", "]")}, ${rows.length} rows"
  }

  /** `rows` (of `schema`) as a frame over [[DriverRows]]. */
  def frame(spark: SparkSession, schema: StructType,
            rows: Seq[InternalRow]): DataFrame =
    ColumnBridge.dataFrame(spark,
      DriverRows(DataTypeUtils.toAttributes(schema), rows))

  /** `df`, a frame over [[frame]]s, evaluated on the driver and returned
    * as a local relation with `df`'s schema. The optimized plan's
    * projections and filters run as Catalyst's interpreted projections
    * and predicates, and a `row_number()` window as a group by its
    * partition keys sorted by Catalyst's ordering of its order spec (a
    * window group limit below it is only a pre-filter), an inner or
    * anti equi-join on byte-comparable keys as a hash join, a union and a
    * generator as Catalyst evaluates them. Any other operator fails the
    * request, naming it: the serving paths plan none. */
  def collectOnDriver(df: DataFrame): DataFrame =
    ColumnBridge.dataFrame(df.sparkSession,
      LocalRelation(DataTypeUtils.toAttributes(df.schema),
        eval(df.queryExecution.optimizedPlan)))

  private def eval(plan: LogicalPlan): Seq[InternalRow] = plan match {
    case DriverRows(_, rows) => rows
    case l: LocalRelation => l.data
    case Project(list, child) if evaluable(list) =>
      val p = new InterpretedMutableProjection(list, child.output)
      p.initialize(0)
      eval(child).map(r => p(r).copy())
    case Filter(cond, child) if evaluable(Seq(cond)) =>
      val p = Predicate.createInterpreted(
        BindReferences.bindReference(cond, child.output))
      p.initialize(0)
      eval(child).filter(p.eval)
    case w: WindowGroupLimit => eval(w.child)
    case w: Window if w.windowExpressions.forall {
          case Alias(WindowExpression(_: RowNumber, _), _) => true
          case _ => false
        } && evaluable(w.partitionSpec ++ w.orderSpec.map(_.child)) =>
      val in = w.child.output
      val key = InterpretedUnsafeProjection.createProjection(
        w.partitionSpec.map(BindReferences.bindReference(_, in)))
      val order = new InterpretedOrdering(w.orderSpec, in)
      val n = w.windowExpressions.length
      eval(w.child).groupBy(r => key(r).copy()).valuesIterator.flatMap {
        group => group.sorted(order).iterator.zipWithIndex.map {
          case (r, i) =>
            new JoinedRow(r, InternalRow.fromSeq(Seq.fill(n)(i + 1))).copy()
        }
      }.toSeq
    case u: Union if !u.byName => u.children.flatMap(eval)
    case g: Generate if evaluable(Seq(g.generator)) =>
      val gen = BindReferences.bindReference(g.generator: Expression,
        g.child.output)
      val keep = new InterpretedMutableProjection(g.requiredChildOutput,
        g.child.output)
      val none = Seq(new GenericInternalRow(g.generatorOutput.length))
      eval(g.child).flatMap { r =>
        val kept = keep(r).copy()
        val out = gen.eval(r).asInstanceOf[IterableOnce[InternalRow]]
          .iterator.toSeq
        (if (out.isEmpty && g.outer) none else out)
          .map(o => new JoinedRow(kept, o).copy())
      }
    // an equi-join of keys whose bytes decide equality: a hash join
    case ExtractEquiJoinKeys(jt @ (Inner | LeftAnti), lk, rk,
        other, _, left, right, _)
        if lk.forall(k => UnsafeRowUtils.isBinaryStable(k.dataType)) &&
          evaluable(lk ++ rk ++ other) =>
      val lKey = InterpretedUnsafeProjection.createProjection(
        lk.map(BindReferences.bindReference(_, left.output)))
      val rKey = InterpretedUnsafeProjection.createProjection(
        rk.map(BindReferences.bindReference(_, right.output)))
      val cond = other.map(c => Predicate.createInterpreted(
        BindReferences.bindReference(c, left.output ++ right.output)))
      // a null key part matches nothing, as under equality
      val table = eval(right).groupBy(r => rKey(r).copy())
        .filter(!_._1.anyNull)
      eval(left).flatMap { l =>
        val k = lKey(l)
        val hits = if (k.anyNull) Nil else table.getOrElse(k, Nil)
          .filter(r => cond.forall(_.eval(new JoinedRow(l, r))))
        if (jt == Inner) hits.map(r => new JoinedRow(l, r).copy())
        else if (hits.isEmpty) Seq(l) else Nil
      }
    case other => throw new IllegalArgumentException("collectOnDriver: " +
      s"no driver evaluation of ${other.nodeName}: ${other.simpleString(5)}")
  }

  /** Catalyst evaluates `es` row by row: no subquery or other
    * unevaluable expression. */
  private def evaluable(es: Seq[Expression]): Boolean =
    !es.exists(_.exists(e =>
      e.isInstanceOf[Unevaluable] && !e.isInstanceOf[Attribute]))
}
