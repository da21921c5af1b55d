package graft.table

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
  GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext,
  ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType,
  StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{IceSchema, NestedField, SchemaConv}
import graft.meta.{FileIO, Puffin}

/** Merge-on-read delete application inside the scan task (reference
  * `table/arrow_scanner.go:155-190,609-631`: the delete filter runs per
  * file between row-group pruning and the residual; Iceberg's Spark reader
  * does the same with its `DeleteFilter`).
  *
  * The driver ships one [[DeleteTable]] per scan in a broadcast variable
  * (which starts no job): for every data file, the parquet position
  * deletes, deletion vectors and equality deletes that [[DeleteIndex]]
  * matched to it at planning, sequence rules and partition scope already
  * resolved. The scan's rows then pass [[ApplyDeletes]], a Catalyst
  * predicate over `_metadata.data_file` (the data file path as the
  * manifest records it), `_metadata.row_index` and the equality key
  * columns. It resolves the file's deletes once per file,
  * drops a row whose position is deleted and a row whose key is in an
  * applicable equality-delete set, and decodes every delete file through
  * the JVM-wide [[DeleteCache]]. So a merge-on-read read or rewrite is one
  * scan stage: no join, no sequence map, no Spark scan of delete files.
  */
private[table] final class DeleteFilter private (
    keyFields: Seq[NestedField], table: Broadcast[DeleteTable]) {

  /** True for rows no delete kills. `keyOf` gives each equality key field's
    * value as the branch reads it (canonical type); the predicate must sit
    * directly over a file relation, where `_metadata` resolves.
    */
  def live(keyOf: NestedField => Column): Column =
    GraftShim.column(ApplyDeletes(
      (Seq(col("_metadata.data_file"), col("_metadata.row_index")) ++
        keyFields.map(keyOf)).map(GraftShim.expression).toIndexedSeq, table))
}

private[table] object DeleteFilter {
  /** Fixed read schema of parquet position-delete files (name-resolved:
    * Spark-written delete files carry no field ids).
    */
  val PositionDeleteSchema: StructType = StructType(Seq(
    StructField("file_path", StringType), StructField("pos", LongType)))

  /** The delete filter of `tasks`, or None when no task carries a delete.
    * Builds the per-file table and the Parquet reader functions on the
    * driver; submits no Spark job.
    */
  def apply(spark: SparkSession, tasks: Seq[FileScanTask],
      schema: IceSchema): Option[DeleteFilter] = {
    val withDeletes = tasks.filter(t =>
      t.deletes.nonEmpty || t.dvDeletes.nonEmpty || t.eqDeletes.nonEmpty)
    if (withDeletes.isEmpty) return None
    val posFiles = withDeletes.flatMap(_.deletes).distinctBy(_.filePath)
    val dvFiles = withDeletes.flatMap(_.dvDeletes)
      .distinctBy(f => (f.filePath, f.contentOffset))
    val eqFiles = withDeletes.flatMap(_.eqDeletes).map(_._1).distinctBy(_.filePath)
    // one key group per distinct equality-id set; the key children are
    // the sets' fields, deduplicated, in group order
    val groupIds = eqFiles.map(_.equalityIds).distinct.sortBy(_.mkString(","))
    val keyFields = groupIds.flatten.distinct.map(schema.byId)
    val keyOrdinal = keyFields.map(_.id).zipWithIndex.toMap
    val qualify = IceScan.qualifier(spark.sessionState.newHadoopConf())
    def url(path: String): String = SparkPath.fromPath(qualify(path)).urlEncoded
    // a conf per reader: the builder writes its read schema into the conf
    // it broadcasts, and a local executor sees that very object
    def reader(readSchema: StructType): PartitionedFile => Iterator[InternalRow] =
      new ParquetFileFormat().buildReaderWithPartitionValues(spark, readSchema,
        new StructType(), readSchema, Nil,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), spark.sessionState.newHadoopConf())
    val groups = groupIds.map { ids =>
      val fields = ids.map(schema.byId)
      val readSchema = StructType(fields.map(SchemaConv.toSparkField))
      EqGroup(ids.map(keyOrdinal).toArray, readSchema.map(_.dataType).toArray,
        fields.map(f => s"${f.id}:${readSchema(f.name).dataType.catalogString}")
          .mkString("eq:", ",", ""),
        reader(readSchema))
    }
    val groupOf = groupIds.zipWithIndex.toMap
    val posIdx = posFiles.map(_.filePath).zipWithIndex.toMap
    val dvIdx = dvFiles.map(f => (f.filePath, f.contentOffset)).zipWithIndex.toMap
    val eqIdx = eqFiles.map(_.filePath).zipWithIndex.toMap
    // data files of one sequence number share one equality list (the
    // index's memoized suffix), so the lists are interned: the table stays
    // O(data files + delete files) and tasks build each union once
    val eqLists = collection.mutable.LinkedHashMap.empty[Seq[Int], Int]
    val files = withDeletes.map { t =>
      val eq = t.eqDeletes.map(d => eqIdx(d._1.filePath)).distinct.sorted
      t.file.filePath -> FileDeletes(
        t.deletes.map(f => posIdx(f.filePath)).distinct.toArray,
        t.dvDeletes.map(f => dvIdx((f.filePath, f.contentOffset))).distinct.toArray,
        if (eq.isEmpty) -1 else eqLists.getOrElseUpdate(eq, eqLists.size))
    }.toMap
    val table = DeleteTable(files,
      posFiles.map(f => Source(url(f.filePath), f.fileSizeInBytes)).toArray,
      dvFiles.map(f => DvSource(f.filePath, f.contentOffset.getOrElse(0L),
        f.contentSizeInBytes.getOrElse(0L))).toArray,
      eqFiles.map(f => Source(url(f.filePath), f.fileSizeInBytes)).toArray,
      eqFiles.map(f => groupOf(f.equalityIds)).toArray,
      eqLists.keys.map(_.toArray).toArray,
      groups.toArray,
      if (posFiles.isEmpty) null else reader(PositionDeleteSchema),
      FileIO.sparkHadoopSettings)
    Some(new DeleteFilter(keyFields, spark.sparkContext.broadcast(table)))
  }

  /** Null-safe key projection to an `UnsafeRow`: byte equality of the
    * projected rows is Spark's `<=>` (null equals null), with floating
    * values normalized first the way Spark's join keys are (`-0.0` equals
    * `0.0`, every NaN equals NaN).
    */
  def keyProjection(refs: Seq[(Int, DataType)]): UnsafeProjection =
    UnsafeProjection.create(refs.map { case (i, dt) =>
      GraftShim.normalizeFloats(BoundReference(i, dt, nullable = true))
    })

  private[table] def partitionedFile(src: Source): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromUrlString(src.url), 0L, src.size,
      Array.empty[String], 0L, src.size)

  /** (data file path → sorted positions) of one parquet position-delete
    * file, with its weight in bytes.
    */
  private[table] def decodePositions(t: DeleteTable, i: Int)
      : (Map[String, Array[Long]], Long) = {
    val out = collection.mutable.HashMap.empty[String, collection.mutable.ArrayBuilder.ofLong]
    val it = t.posReader(partitionedFile(t.posFiles(i)))
    var last: UTF8String = null
    var cur: collection.mutable.ArrayBuilder.ofLong = null
    var n = 0L
    while (it.hasNext) {
      val row = it.next()
      if (!row.isNullAt(0) && !row.isNullAt(1)) {
        val p = row.getUTF8String(0)
        if (last == null || !p.equals(last)) {
          last = p.clone()
          cur = out.getOrElseUpdate(p.toString, new collection.mutable.ArrayBuilder.ofLong)
        }
        cur += row.getLong(1)
        n += 1
      }
    }
    val m = out.iterator.map { case (p, b) =>
      val a = b.result()
      java.util.Arrays.sort(a)
      p -> a
    }.toMap
    (m, 8L * n + 64L * m.size)
  }

  /** Sorted positions of one deletion vector, with its weight in bytes. */
  private[table] def decodeDV(t: DeleteTable, i: Int): (Array[Long], Long) = {
    FileIO.ensureApplied(t.ioSettings)
    val d = t.dvs(i)
    val a = Puffin.decodeDV(Puffin.readBlob(d.path, d.offset, d.length)).toArray
    (a, 8L * a.length + 64L)
  }

  /** Normalized key rows of one equality-delete file, with their weight in
    * bytes.
    */
  private[table] def decodeKeys(t: DeleteTable, i: Int)
      : (java.util.Set[UnsafeRow], Long) = {
    val g = t.groups(t.eqGroupOf(i))
    val proj = keyProjection(g.types.indices.map(k => (k, g.types(k))))
    val set = new java.util.HashSet[UnsafeRow]()
    var bytes = 64L
    val it = g.reader(partitionedFile(t.eqFiles(i)))
    while (it.hasNext) {
      val k = proj(it.next())
      if (!set.contains(k)) {
        val c = k.copy()
        set.add(c)
        bytes += c.getSizeInBytes + 80L
      }
    }
    (set, bytes)
  }
}

/** A delete file the task reads: its qualified URL and recorded size. */
private[table] final case class Source(url: String, size: Long)

/** A deletion-vector blob inside a Puffin file. */
private[table] final case class DvSource(path: String, offset: Long, length: Long)

/** One equality-id set: its fields' ordinals among the predicate's key
  * children, their types, the cache projection key, and the Parquet reader
  * of its delete files (field-id schema, so Spark resolves ids and types).
  */
private[table] final case class EqGroup(keyOrdinals: Array[Int], types: Array[DataType],
    projection: String, reader: PartitionedFile => Iterator[InternalRow])

/** The deletes matched to one data file: indexes into the table's position
  * files and deletion vectors, and the index of its equality list (-1 for
  * none).
  */
private[table] final case class FileDeletes(pos: Array[Int], dvs: Array[Int], eqList: Int)

/** What a scan ships to its tasks, keyed by the data file path strings
  * the manifests record: the form a row's `_metadata.data_file` carries
  * and position-delete files record.
  */
private[table] final case class DeleteTable(
    files: Map[String, FileDeletes],
    posFiles: Array[Source],
    dvs: Array[DvSource],
    eqFiles: Array[Source],
    eqGroupOf: Array[Int],
    eqLists: Array[Array[Int]],
    groups: Array[EqGroup],
    posReader: PartitionedFile => Iterator[InternalRow],
    ioSettings: Map[String, String])

/** One task's view of a [[DeleteTable]]: the current file's merged
  * positions and equality sets, resolved when the file path changes.
  * Rows of a split arrive in position order, so the position check
  * advances a cursor instead of searching.
  */
private[table] final class DeleteFilterState(t: DeleteTable) {
  private val dataKeys = t.groups.map(g =>
    DeleteFilter.keyProjection(g.keyOrdinals.toSeq.zip(g.types)))
  private val unions = new java.util.HashMap[Integer, Array[java.util.Set[UnsafeRow]]]()
  private var lastPath: UTF8String = null
  private var positions: Array[Long] = null
  private var cursor = 0
  private var eqSets: Array[java.util.Set[UnsafeRow]] = null

  def live(path: UTF8String, pos: Long, keys: InternalRow): Boolean = {
    if (lastPath == null || !path.equals(lastPath)) open(path)
    !(positions != null && positionDeleted(pos)) && !(eqSets != null && keyDeleted(keys))
  }

  private def open(path: UTF8String): Unit = {
    lastPath = path.clone()
    cursor = 0
    val dataPath = path.toString
    t.files.get(dataPath) match {
      case None =>
        positions = null
        eqSets = null
      case Some(fd) =>
        positions = mergedPositions(fd, dataPath)
        eqSets =
          if (fd.eqList < 0) null
          else unions.computeIfAbsent(fd.eqList, _ => union(fd.eqList))
    }
  }

  private def mergedPositions(fd: FileDeletes, dataPath: String): Array[Long] = {
    val parts = fd.pos.iterator.flatMap(i => DeleteCache.positions(t, i).get(dataPath)) ++
      fd.dvs.iterator.map(DeleteCache.dv(t, _))
    parts.filter(_.nonEmpty).toSeq match {
      case Seq() => null
      case Seq(one) => one
      case many =>
        val all = many.flatten.toArray
        java.util.Arrays.sort(all)
        all
    }
  }

  /** Per group, the union of the list's files of that group (null when the
    * group has none).
    */
  private def union(list: Int): Array[java.util.Set[UnsafeRow]] = {
    val byGroup = t.eqLists(list).groupBy(t.eqGroupOf(_))
    t.groups.indices.map { g =>
      byGroup.get(g) match {
        case None => null
        case Some(Array(one)) => DeleteCache.keys(t, one)
        case Some(fs) =>
          val u = new java.util.HashSet[UnsafeRow]()
          fs.foreach(f => u.addAll(DeleteCache.keys(t, f)))
          u: java.util.Set[UnsafeRow]
      }
    }.toArray
  }

  private def positionDeleted(pos: Long): Boolean = {
    val a = positions
    if (cursor > 0 && a(cursor - 1) >= pos) cursor = lowerBound(a, pos, 0, cursor)
    else if (cursor < a.length && a(cursor) < pos) {
      // a split that starts mid-file jumps; a sequential one steps
      if (cursor + 8 < a.length && a(cursor + 8) < pos)
        cursor = lowerBound(a, pos, cursor + 9, a.length)
      else while (cursor < a.length && a(cursor) < pos) cursor += 1
    }
    cursor < a.length && a(cursor) == pos
  }

  private def lowerBound(a: Array[Long], key: Long, from: Int, to: Int): Int = {
    val i = java.util.Arrays.binarySearch(a, from, to, key)
    if (i >= 0) i else -i - 1
  }

  private def keyDeleted(keys: InternalRow): Boolean = {
    var g = 0
    while (g < eqSets.length) {
      val s = eqSets(g)
      if (s != null && s.contains(dataKeys(g)(keys))) return true
      g += 1
    }
    false
  }
}

/** The scan-task delete predicate: true when no delete applicable to the
  * row's data file kills it. Children are `_metadata.data_file`,
  * `_metadata.row_index` and the equality key columns. Generated code
  * evaluates the children, packs the keys into one reused row and calls the
  * task's [[DeleteFilterState]]; no value is converted to a Scala type.
  */
private[table] final case class ApplyDeletes(children: IndexedSeq[Expression],
    deletes: Broadcast[DeleteTable]) extends Expression {
  override def nullable: Boolean = false
  override def dataType: DataType = BooleanType
  override def prettyName: String = "apply_deletes"
  // per-task mutable state: never shared or deduplicated
  override def stateful: Boolean = true
  override def toString: String = s"$prettyName(${children.mkString(", ")})"

  private def keys = children.drop(2)

  def newState(): DeleteFilterState = new DeleteFilterState(deletes.value)

  @transient private lazy val evalState = newState()
  @transient private lazy val evalKeys = new GenericInternalRow(keys.size)

  override def eval(input: InternalRow): Any = {
    var i = 0
    while (i < keys.size) { evalKeys.update(i, keys(i).eval(input)); i += 1 }
    evalState.live(children(0).eval(input).asInstanceOf[UTF8String],
      children(1).eval(input).asInstanceOf[Long], evalKeys)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("deletes", this, getClass.getName)
    val state = ctx.addMutableState(classOf[DeleteFilterState].getName, "deleteState",
      v => s"$v = $self.newState();", forceInline = true)
    val rowClass = classOf[GenericInternalRow].getName
    val keyRow = ctx.addMutableState(rowClass, "deleteKeys",
      v => s"$v = new $rowClass(${keys.size});", forceInline = true)
    val path = children(0).genCode(ctx)
    val pos = children(1).genCode(ctx)
    val setKeys = keys.zipWithIndex.map { case (k, i) =>
      val e = k.genCode(ctx)
      s"""${e.code}
         |if (${e.isNull}) $keyRow.setNullAt($i);
         |else ${CodeGenerator.setColumn(keyRow, k.dataType, i, e.value)};""".stripMargin
    }.mkString("\n")
    ev.copy(code = code"""
      ${path.code}
      ${pos.code}
      $setKeys
      boolean ${ev.value} = $state.live(${path.value}, ${pos.value}, $keyRow);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ApplyDeletes = copy(children = newChildren)
}

/** Bounded JVM-wide read-through cache of decoded delete files, modelled on
  * the manifest cache (`ManifestIO`). Delete files are immutable and
  * UUID-named, so a decoded file keyed by (path, projection) never goes
  * stale. Each one is decoded once per JVM instead of once per task and
  * per scan: loads are single-flight (a task that finds a load in flight
  * waits for it), IO runs outside the lock, and the LRU evicts by decoded
  * bytes against a fixed budget.
  */
private[table] object DeleteCache {
  /** Budget of decoded delete data, in approximate heap bytes. */
  val MaxBytes: Long = 64L << 20

  private final class Slot {
    val done = new java.util.concurrent.CountDownLatch(1)
    @volatile var value: AnyRef = _
    @volatile var failed = false
    var weight = 0L
  }
  private val slots = new java.util.LinkedHashMap[(String, String), Slot](64, 0.75f, true)
  private var bytes = 0L

  val hits = new java.util.concurrent.atomic.AtomicLong(0)
  val misses = new java.util.concurrent.atomic.AtomicLong(0)

  def positions(t: DeleteTable, i: Int): Map[String, Array[Long]] =
    get((t.posFiles(i).url, "pos"))(DeleteFilter.decodePositions(t, i))

  def dv(t: DeleteTable, i: Int): Array[Long] = {
    val d = t.dvs(i)
    get((d.path, s"dv:${d.offset}+${d.length}"))(DeleteFilter.decodeDV(t, i))
  }

  def keys(t: DeleteTable, i: Int): java.util.Set[UnsafeRow] =
    get((t.eqFiles(i).url, t.groups(t.eqGroupOf(i)).projection))(
      DeleteFilter.decodeKeys(t, i))

  private def get[V <: AnyRef](key: (String, String))(load: => (V, Long)): V = {
    var mine = false
    val slot = synchronized {
      val s = slots.get(key)
      if (s != null) s
      else {
        mine = true
        val n = new Slot
        slots.put(key, n)
        n
      }
    }
    if (mine) {
      misses.incrementAndGet()
      try {
        val (v, w) = load
        slot.value = v
        synchronized {
          if (slots.get(key) eq slot) {
            slot.weight = w
            bytes += w
            val it = slots.entrySet().iterator()
            while (bytes > MaxBytes && it.hasNext) {
              val e = it.next()
              // never evict what was just loaded, nor a load in flight
              if (e.getValue.ne(slot) && e.getValue.value != null) {
                bytes -= e.getValue.weight
                it.remove()
              }
            }
          }
        }
      } catch {
        case t: Throwable =>
          slot.failed = true
          synchronized { slots.remove(key, slot) }
          throw t
      } finally slot.done.countDown()
      slot.value.asInstanceOf[V]
    } else {
      slot.done.await()
      // the loader failed (or its task was killed): load again ourselves
      if (slot.failed) get(key)(load)
      else {
        hits.incrementAndGet()
        slot.value.asInstanceOf[V]
      }
    }
  }
}
