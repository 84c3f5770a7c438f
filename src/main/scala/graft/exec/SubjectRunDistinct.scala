package graft.exec

import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.memory.{MemoryConsumer, MemoryMode, TaskMemoryManager}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference,
  AttributeSet, BoundReference, Expression, JoinedRow, SortOrder, UnsafeArrayData, UnsafeProjection,
  UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution,
  Partitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.execution.{SortPrefixUtils, SparkPlan, SparkStrategy, UnaryExecNode,
  UnsafeExternalRowSorter}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods

/** The quad dedup over source rows sorted by subject: per row it evaluates
  * `quads` (an array of nullable `(p, o, g)` structs, one per candidate
  * quad), skips null elements and emits `(s, p, o, g)` for each key that is
  * new for the row's subject. Equal quads have equal subjects and sorted
  * input never brings a subject back, so a set of ONE subject's keys is
  * exact, and it is cleared when the subject changes: dedup memory grows
  * with a subject's quads, not with a partition's (the reference frees its
  * predicate tables the same way once they can no longer hit, `release_PTT`,
  * semantify.py:227-258).
  *
  * The physical node requires `ClusteredDistribution(subject)` and
  * `subject ASC`, so Spark adds the (spillable) sort, and an exchange when
  * the child is not clustered: the node is correct on any input. `s` keeps
  * the subject attribute's exprId, so the child's hash partitioning on the
  * subject carries through to consumers grouping by `s`.
  *
  * `maxSetBytes` bounds one subject's set. Past it, the rest of that
  * subject's new keys go through a spillable sorter on `(p, o, g)` and come
  * out adjacent-distinct when the subject ends.
  */
final case class SubjectRunDistinct(subject: Attribute, quads: Expression, keys: Seq[Attribute],
    child: LogicalPlan, maxSetBytes: Long) extends UnaryNode {
  override def output: Seq[Attribute] = subject.withName("s") +: keys
  override def producedAttributes: AttributeSet = AttributeSet(keys)
  override protected def withNewChildInternal(newChild: LogicalPlan): SubjectRunDistinct =
    copy(child = newChild)
}

object SubjectRunDistinct {

  /** Bytes one subject's key set may hold before its keys go to the sorter. */
  val MaxSetBytes: Long = 8L << 20

  /** Plans [[SubjectRunDistinct]] as [[SubjectRunDistinctExec]]. */
  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case d: SubjectRunDistinct =>
        SubjectRunDistinctExec(d.subject, d.quads, d.output, planLater(d.child), d.maxSetBytes) :: Nil
      case _ => Nil
    }
  }

  /** Registers [[Strategy]] with the session once; safe under concurrent callers. */
  def install(spark: SparkSession): Unit = {
    val x = spark.experimental
    x.synchronized {
      if (!x.extraStrategies.contains(Strategy)) x.extraStrategies = Strategy +: x.extraStrategies
    }
  }

  /** The distinct `(s, p, o, g)` quads of `df`: `subject` is a column of
    * `df`, `quads` an array of `(p, o, g)` structs over `df`'s columns. The
    * operator's child carries only the columns these two read.
    */
  private[graft] def apply(spark: SparkSession, df: DataFrame, subject: Column, quads: Column,
      maxSetBytes: Long = MaxSetBytes): DataFrame = {
    install(spark)
    val (s, q, child) = df.select(subject, quads.as("q")).queryExecution.analyzed match {
      case Project(Seq(s: Attribute, Alias(q, _)), child) => (s, q, child)
      case other => throw new IllegalArgumentException(
        s"subject must be a column of the frame, got ${other.expressions.headOption}")
    }
    val element = q.dataType match {
      case ArrayType(st: StructType, _) => st
      case dt => throw new IllegalArgumentException(s"quads must be an array of structs, got $dt")
    }
    val keys = element.fields.toSeq.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    val used = q.references + s
    val d = SubjectRunDistinct(s, q, keys, Project(child.output.filter(used.contains), child),
      maxSetBytes)
    // the keys re-aliased on top: the analyzer renews a Project's aliases
    // when the frame is joined with itself, but not a new node's keys (the
    // optimizer drops the Project again when nothing needs it)
    GraftSqlBridge.ofRows(spark, Project(d.output.head +: keys.map(k => Alias(k, k.name)()), d))
  }

  /** The [[SubjectRunDistinct]] of a frame built by [[apply]]. */
  private[graft] def of(plan: LogicalPlan): Option[SubjectRunDistinct] = plan match {
    case Project(_, d: SubjectRunDistinct) => Some(d)
    case _ => None
  }

  /** Several [[SubjectRunDistinct]] frames with the same key schema as one:
    * each one's `(subject, quads)` projection, unioned, deduplicated once,
    * so quads that two of them share are emitted once. Spark sorts the
    * union's rows, which carry the evaluated quad arrays.
    */
  private[graft] def union(spark: SparkSession, runs: Seq[SubjectRunDistinct]): DataFrame = {
    val inputs = runs.map(d => GraftSqlBridge.ofRows(spark, Project(
      Seq(Alias(d.subject, "s")(), Alias(d.quads, "q")()), d.child)))
    apply(spark, inputs.reduceLeft(_.union(_)), inputs.head.col("s"), inputs.head.col("q"),
      runs.head.maxSetBytes)
  }
}

/** Physical [[SubjectRunDistinct]]; see there. Its four metrics split the
  * dedup: quads in (non-null elements), quads out, subjects, and subjects
  * whose keys outgrew the in-memory bound.
  */
final case class SubjectRunDistinctExec(subject: Attribute, quads: Expression,
    output: Seq[Attribute], child: SparkPlan, maxSetBytes: Long) extends UnaryExecNode {

  override def producedAttributes: AttributeSet = AttributeSet(output.tail)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(subject :: Nil) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(SortOrder(subject, Ascending) :: Nil)

  /** The child's partitioning when it is on the subject alone: `s` has
    * the subject's exprId, so it still describes the output.
    */
  override def outputPartitioning: Partitioning = child.outputPartitioning match {
    case p: Expression with Partitioning if p.references.subsetOf(AttributeSet(subject)) => p
    case SinglePartition => SinglePartition
    case p => UnknownPartitioning(p.numPartitions)
  }

  override def outputOrdering: Seq[SortOrder] = SortOrder(output.head, Ascending) :: Nil

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "quadsIn" -> SQLMetrics.createMetric(sparkContext, "number of input quads"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "subjects" -> SQLMetrics.createMetric(sparkContext, "number of subjects"),
    "subjectsPastBound" -> SQLMetrics.createMetric(sparkContext,
      "number of subjects past the in-memory bound"))

  override protected def withNewChildInternal(newChild: SparkPlan): SubjectRunDistinctExec =
    copy(child = newChild)

  protected override def doExecute(): RDD[InternalRow] = {
    val counters = SubjectRunDistinctExec.Counters(longMetric("quadsIn"),
      longMetric("numOutputRows"), longMetric("subjects"), longMetric("subjectsPastBound"))
    val (in, bound) = (child.output, maxSetBytes)
    val (subjectExpr, quadsExpr, out) = (subject, quads, output)
    child.execute().mapPartitionsWithIndex { (index, rows) =>
      val subjectOf = UnsafeProjection.create(subjectExpr :: Nil, in)
      val quadsOf = UnsafeProjection.create(quadsExpr :: Nil, in)
      quadsOf.initialize(index)
      new SubjectRunDistinctExec.Runs(rows, subjectOf, quadsOf, out, bound, counters)
    }
  }
}

private object SubjectRunDistinctExec {
  final case class Counters(quadsIn: SQLMetric, quadsOut: SQLMetric, subjects: SQLMetric,
      pastBound: SQLMetric)

  /** One partition's distinct quads. `rows` arrive sorted by subject;
    * `subjectOf` and `quadsOf` project a row's subject and its quad array.
    */
  final class Runs(rows: Iterator[InternalRow], subjectOf: UnsafeProjection,
      quadsOf: UnsafeProjection, output: Seq[Attribute], maxSetBytes: Long, counters: Counters)
      extends Iterator[InternalRow] {
    private val keySchema = StructType(output.tail.map(a => StructField(a.name, a.dataType, a.nullable)))
    private val width = keySchema.length
    // (subject row, key row) → (s, p, o, g)
    private val outOf = UnsafeProjection.create(output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable) })
    private val joined = new JoinedRow
    private val set = new KeySet(GraftSqlBridge.taskMemoryManager(), maxSetBytes)
    private val subject = new UnsafeRow(1) // the subject whose keys `set` holds
    subject.pointTo(Array.emptyByteArray, 0)
    private var inRun = false
    private var elems: UnsafeArrayData = null // the current row's quads
    private var idx = 0
    private val key = new UnsafeRow(width) // a view of one element of `elems`
    // the current subject's keys past the bound; once the subject ends,
    // `drain` reads them back sorted (the two never overlap: a drain ends
    // before the next row is read)
    private var sorting: UnsafeExternalRowSorter = null
    private var drain: Iterator[InternalRow] = null
    private var drainSubject: UnsafeRow = null
    private var last: UnsafeRow = null // the key `drain` emitted last
    private var pending: InternalRow = null

    TaskContext.get().addTaskCompletionListener[Unit] { _ =>
      set.release()
      if (sorting != null) sorting.cleanupResources()
    }

    override def hasNext: Boolean = {
      if (pending == null) pending = advance()
      pending != null
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      val r = pending
      pending = null
      counters.quadsOut += 1
      r
    }

    /** Ends the current subject: its sorted overflow, if any, drains next. */
    private def endSubject(): Unit = {
      if (sorting != null) {
        drain = sorting.sort()
        drainSubject = subject.copy()
        last = null
      }
      set.clear()
    }

    private def advance(): InternalRow = {
      while (true) {
        if (drain != null) {
          if (drain.hasNext) {
            val k = drain.next().asInstanceOf[UnsafeRow]
            if (last == null || !last.equals(k)) {
              last = k.copy()
              return outOf(joined(drainSubject, k))
            }
          } else {
            drain = null
            sorting = null
          }
        } else if (elems != null && idx < elems.numElements()) {
          val i = idx
          idx += 1
          if (!elems.isNullAt(i)) {
            counters.quadsIn += 1
            // what UnsafeArrayData.getStruct does, into one reused row
            val offsetAndSize = elems.getLong(i)
            key.pointTo(elems.getBaseObject, elems.getBaseOffset + (offsetAndSize >> 32),
              offsetAndSize.toInt)
            if (sorting != null) {
              if (!set.contains(key)) sorting.insertRow(key)
            } else set.add(key) match {
              case Added => return outOf(joined(subject, key))
              case Present => ()
              case Full =>
                counters.pastBound += 1
                sorting = sorter(keySchema)
                sorting.insertRow(key)
            }
          }
        } else if (rows.hasNext) {
          val row = rows.next()
          val s = subjectOf(row)
          if (!inRun || !subject.equals(s)) {
            if (inRun) endSubject()
            subject.copyFrom(s)
            inRun = true
            counters.subjects += 1
          }
          elems = quadsOf(row).getArray(0).asInstanceOf[UnsafeArrayData]
          idx = 0
        } else if (inRun) {
          endSubject()
          inRun = false
          elems = null
        } else return null
      }
      null
    }
  }

  sealed trait Outcome
  case object Added extends Outcome
  case object Present extends Outcome
  case object Full extends Outcome

  private val InitialSlots = 32
  private val InitialArena = 2 << 10
  /** Footprint past which [[KeySet.clear]] returns the set to its initial size. */
  private val KeepBytes = 64L << 10

  /** One subject's distinct keys: their bytes back to back in one array,
    * found through an open-addressing table whose slots are live only under
    * the current stamp, so clearing is O(1). Its memory is accounted to the
    * task. The set cannot spill: past `maxBytes`, or when the task cannot
    * grant more, [[add]] answers [[Full]] and the caller sorts the rest.
    */
  final class KeySet(tmm: TaskMemoryManager, maxBytes: Long)
      extends MemoryConsumer(tmm, MemoryMode.ON_HEAP) {
    private var arena: Array[Byte] = null
    private var arenaUsed = 0
    private var hashes: Array[Int] = null
    private var offsets: Array[Int] = null
    private var stamps: Array[Int] = null
    private var stamp = 1
    private var count = 0

    private def footprint(slots: Int, arenaBytes: Int): Long = slots.toLong * 12 + arenaBytes

    private def reserve(more: Long): Boolean = used + more <= maxBytes && {
      val got = acquireMemory(more)
      got >= more || { freeMemory(got); false }
    }

    private def allocate(slots: Int, arenaBytes: Int): Unit = {
      arena = new Array[Byte](arenaBytes)
      hashes = new Array[Int](slots)
      offsets = new Array[Int](slots)
      stamps = new Array[Int](slots)
      stamp = 1
    }

    /** `k`'s slot: the live slot holding it, or the free slot it would take. */
    private def slotOf(k: UnsafeRow, h: Int): Int = {
      val mask = stamps.length - 1
      var i = (h ^ (h >>> 16)) & mask
      while (stamps(i) == stamp && !(hashes(i) == h && sizeAt(i) == k.getSizeInBytes &&
          ByteArrayMethods.arrayEquals(arena, Platform.BYTE_ARRAY_OFFSET + offsets(i),
            k.getBaseObject, k.getBaseOffset, k.getSizeInBytes))) i = (i + 1) & mask
      i
    }

    // each key sits in the arena behind a 4-byte size header
    private def sizeAt(i: Int): Int =
      Platform.getInt(arena, Platform.BYTE_ARRAY_OFFSET + offsets(i) - 4)

    def contains(k: UnsafeRow): Boolean =
      stamps != null && stamps(slotOf(k, k.hashCode)) == stamp

    def add(k: UnsafeRow): Outcome = {
      if (stamps == null) {
        if (!reserve(footprint(InitialSlots, InitialArena))) return Full
        allocate(InitialSlots, InitialArena)
      }
      val h = k.hashCode
      var i = slotOf(k, h)
      if (stamps(i) == stamp) return Present
      val size = k.getSizeInBytes
      if (arenaUsed + 4 + size > arena.length) {
        val bytes = math.max(arena.length * 2, arenaUsed + 4 + size)
        if (!reserve(bytes - arena.length)) return Full
        arena = java.util.Arrays.copyOf(arena, bytes)
      }
      if ((count + 1) * 2 > stamps.length) {
        if (!reserve(footprint(stamps.length, 0))) return Full
        rehash(stamps.length * 2)
        i = slotOf(k, h)
      }
      Platform.putInt(arena, Platform.BYTE_ARRAY_OFFSET + arenaUsed, size)
      Platform.copyMemory(k.getBaseObject, k.getBaseOffset, arena,
        Platform.BYTE_ARRAY_OFFSET + arenaUsed + 4, size)
      hashes(i) = h
      offsets(i) = arenaUsed + 4
      stamps(i) = stamp
      arenaUsed += 4 + size
      count += 1
      Added
    }

    private def rehash(slots: Int): Unit = {
      val (oldHashes, oldOffsets, oldStamps, live) = (hashes, offsets, stamps, stamp)
      hashes = new Array[Int](slots)
      offsets = new Array[Int](slots)
      stamps = new Array[Int](slots)
      stamp = 1
      val mask = slots - 1
      var j = 0
      while (j < oldStamps.length) {
        if (oldStamps(j) == live) {
          val h = oldHashes(j)
          var i = (h ^ (h >>> 16)) & mask
          while (stamps(i) == stamp) i = (i + 1) & mask
          hashes(i) = h
          offsets(i) = oldOffsets(j)
          stamps(i) = stamp
        }
        j += 1
      }
    }

    /** Forgets the keys; a set grown past [[KeepBytes]] shrinks back. */
    def clear(): Unit = if (stamps != null) {
      count = 0
      arenaUsed = 0
      if (used > KeepBytes) {
        freeMemory(used - footprint(InitialSlots, InitialArena))
        allocate(InitialSlots, InitialArena)
      } else if (stamp == Int.MaxValue) {
        java.util.Arrays.fill(stamps, 0)
        stamp = 1
      } else stamp += 1
    }

    def release(): Unit = {
      arena = null
      hashes = null
      offsets = null
      stamps = null
      count = 0
      arenaUsed = 0
      if (used > 0) freeMemory(used)
    }

    override def spill(size: Long, trigger: MemoryConsumer): Long = 0L
  }

  /** A spillable sorter of keys in their natural ascending order. */
  def sorter(schema: StructType): UnsafeExternalRowSorter =
    UnsafeExternalRowSorter.create(schema, GenerateOrdering.create(schema),
      SortPrefixUtils.getPrefixComparator(schema), SortPrefixUtils.createPrefixGenerator(schema),
      SparkEnv.get.memoryManager.pageSizeBytes, false)
}
