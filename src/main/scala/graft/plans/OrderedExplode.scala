package graft.plans

import graft.operators.RegionSort
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, SortOrder, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{ExternalAppendOnlyUnsafeRowArray, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods

/** The load path's cell explode, run on KEY-SORTED wide rows: each row
  * `(key, v_0 … v_n-1)` (all BinaryType, values already UTF-8 encoded)
  * becomes one cell per non-null value, `(key, family, qualifier_i, v_i,
  * ts)`, and the cells come out in KeyValue order
  * ([[graft.operators.CellOps.keyValueOrder]]) without a cell sort:
  *
  *  - `cells` lists the value ordinals with their qualifiers in unsigned
  *    qualifier-byte order, fixed when the plan is built, so one row's
  *    cells are emitted in qualifier order;
  *  - rows with equal keys (a RUN — almost always one row long) are
  *    buffered and emitted qualifier by qualifier: for each qualifier,
  *    every row of the run. Family and `ts` are constant, so that is the
  *    full KeyValue order. Runs longer than one row go to a spillable
  *    `ExternalAppendOnlyUnsafeRowArray` (the window operator's buffer),
  *    so a feed of identical rows cannot exhaust memory.
  *
  * The sort therefore buffers one record per source row instead of one
  * per cell — the working set of the reference's MapReduce sort over
  * `KeyValue`s (BulkImporterFromText.java:60-66) shrinks by the arity.
  * A NULL key emits no cells. `output` carries the cell schema the caller
  * declares (nullability included — it is written into every file). */
case class OrderedExplode(family: Array[Byte], cells: Seq[(Int, Array[Byte])], ts: Long,
                          output: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  /** Positional reads in the exec — keep every child column. */
  override def references: AttributeSet = child.outputSet
  override def producedAttributes: AttributeSet = outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): OrderedExplode =
    copy(child = newChild)
}

/** Requires its input sorted on the key (column 0); the row sort below it
  * is the load's only sort. */
case class OrderedExplodeExec(family: Array[Byte], cells: Seq[(Int, Array[Byte])], ts: Long,
                              output: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(child.output.head, Ascending)))

  /** Cells stay in their row's partition. */
  override def outputPartitioning: Partitioning =
    UnknownPartitioning(child.outputPartitioning.numPartitions)

  override protected def doExecute(): RDD[InternalRow] = {
    // locals, so the task closure does not capture the plan
    val (fam, ordinals, quals, stamp) = (family, cells.map(_._1).toArray, cells.map(_._2).toArray, ts)
    val width = child.output.length
    val inMemory = conf.windowExecBufferInMemoryThreshold
    val spillRows = conf.windowExecBufferSpillThreshold
    val spillBytes = conf.windowExecBufferSpillSizeThreshold
    child.execute().mapPartitions { it =>
      // the row sort below emits UnsafeRows
      new OrderedExplode.Cells(it.map(_.asInstanceOf[UnsafeRow]), width, fam, ordinals, quals, stamp,
        () => new ExternalAppendOnlyUnsafeRowArray(inMemory, spillBytes, spillRows, spillBytes))
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): OrderedExplodeExec =
    copy(child = newChild)
}

object OrderedExplode {
  /** Key-sorted wide rows (column 0 the binary key, then the encoded value
    * columns, `qualifiers` parallel to them) → cells with `schema`'s
    * columns (row, family, qualifier, value, ts) in KeyValue order. */
  def apply(rows: DataFrame, family: Array[Byte], qualifiers: Seq[Array[Byte]], ts: Long,
            schema: StructType): DataFrame = {
    require(qualifiers.nonEmpty && qualifiers.length == rows.columns.length - 1,
      "one qualifier per value column")
    val spark: SparkSession = rows.sparkSession
    RegionSortStrategy.register(spark)
    val cells = qualifiers.zipWithIndex.map { case (q, i) => (i + 1, q) }
      .sortBy(_._2)(RegionSort.unsignedBytesOrdering)
    val output = schema.fields.toSeq.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    Bridge.ofRows(spark, OrderedExplode(family, cells, ts, output, Bridge.logicalPlan(rows)))
  }

  /** Owned copy of an input row: the sorted input reuses its row object,
    * so the run head and the look-ahead row are copied into buffers that
    * grow but are never reallocated per row. */
  private final class Held(width: Int) {
    private var buf = new Array[Byte](256)
    val row = new UnsafeRow(width)
    def set(src: UnsafeRow): Unit = {
      val n = src.getSizeInBytes
      if (n > buf.length) buf = new Array[Byte](math.max(n, 2 * buf.length))
      src.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET)
      row.pointTo(buf, n)
    }
  }

  private def sameKey(a: UnsafeRow, b: UnsafeRow): Boolean = {
    val (x, y) = (a.getLong(0), b.getLong(0))
    val n = x.toInt
    n == y.toInt && ByteArrayMethods.arrayEquals(a.getBaseObject, a.getBaseOffset + (x >>> 32),
      b.getBaseObject, b.getBaseOffset + (y >>> 32), n)
  }

  /** The exec's per-partition iterator. `hasNext` positions on the next
    * cell's source row (loading runs as needed); `next` writes the cell,
    * so a returned row stays valid until the following `next`. */
  private[plans] final class Cells(input: Iterator[UnsafeRow], width: Int, family: Array[Byte],
                                   ordinals: Array[Int], quals: Array[Array[Byte]], ts: Long,
                                   newBuffer: () => ExternalAppendOnlyUnsafeRowArray)
      extends Iterator[InternalRow] {
    private var head = new Held(width)
    private var ahead = new Held(width)
    private var haveAhead = false
    private var dups: ExternalAppendOnlyUnsafeRowArray = _
    private var dupRun = false
    /** The run's single row, once per qualifier. */
    private object single extends Iterator[UnsafeRow] {
      var left = false
      def hasNext: Boolean = left
      def next(): UnsafeRow = { left = false; head.row }
    }
    private var q = quals.length
    private var members: Iterator[UnsafeRow] = Iterator.empty
    private var cur: UnsafeRow = _
    private val writer = new UnsafeRowWriter(5)

    /** The next input row with a non-null key, or null at the end. */
    private def nextKeyed(): UnsafeRow = {
      while (input.hasNext) {
        val r = input.next()
        if (!r.isNullAt(0)) return r
      }
      null
    }

    /** Next run into `head` (+ `dups` when longer than one row), leaving
      * the first row of the following run in `ahead`. */
    private def loadRun(): Boolean = {
      if (haveAhead) {
        val t = head; head = ahead; ahead = t
        haveAhead = false
      } else {
        val r = nextKeyed()
        if (r == null) {
          if (dups != null) dups.clear()
          return false
        }
        head.set(r)
      }
      dupRun = false
      var r = nextKeyed()
      while (r != null && sameKey(head.row, r)) {
        if (!dupRun) {
          if (dups == null) dups = newBuffer() else dups.clear()
          dups.add(head.row)
          dupRun = true
        }
        dups.add(r)
        r = nextKeyed()
      }
      if (r != null) {
        ahead.set(r)
        haveAhead = true
      }
      true
    }

    private def runMembers(): Iterator[UnsafeRow] =
      if (dupRun) dups.generateIterator() else { single.left = true; single }

    override def hasNext: Boolean = {
      while (cur == null) {
        if (members.hasNext) {
          val r = members.next()
          if (!r.isNullAt(ordinals(q))) cur = r
        } else {
          q += 1
          if (q >= quals.length) {
            if (!loadRun()) return false
            q = 0
          }
          members = runMembers()
        }
      }
      true
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      writer.reset()
      writer.zeroOutNullBytes()
      writer.write(0, cur.getUTF8String(0))
      writer.write(1, family)
      writer.write(2, quals(q))
      writer.write(3, cur.getUTF8String(ordinals(q)))
      writer.write(4, ts)
      cur = null
      writer.getRow
    }
  }
}
