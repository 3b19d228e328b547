package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The per-document MinHash kernel behind every `Dedup` MinHash path: one pass
  * over a document's text produces everything the near-dup pipeline needs
  * from it, so the plan never widens to one row per shingle.
  *
  * For a text it forms the word n-grams of `split(text, " ", -1)` (the
  * `TextOps.shingleStructs` tokenization: single-space separators, empty
  * tokens kept), takes ONE md5 per shingle over the space-joined UTF-8
  * bytes, and returns `struct<nsh, sig, dg>`:
  *
  *  - `nsh`: number of distinct shingles (distinct by 128-bit digest);
  *  - `sig`: the k MinHash values `min over shingles of
  *    pmod(base·a_i + b_i, 2^31−1)`, base = the digest's top 28 bits,
  *    `a_i`/`b_i` = [[hashConstant]]`("a"+i)` / `("b"+i)` — the values the
  *    relational digest-signature aggregate computes, bit for bit;
  *  - `dg`: the distinct digests sorted ascending by (high, low) signed
  *    64-bit halves, flattened as `[hi0, lo0, hi1, lo1, …]`.
  *
  * A document with fewer than n tokens, or a null text, yields null: it
  * has no shingles, so it takes part in no pair. */
object MinHashKernel {

  /** Modulus of the universal-hash family h_i = (a_i·base + b_i) mod
    * 2^31-1 over one md5 base hash (28 bits) per shingle. The product
    * stays under 2^62, so the arithmetic is exact in any 64-bit engine —
    * the DuckDB oracle mirrors it literally. */
  val Prime = 2147483647L // 2^31 - 1

  /** md5-derived universal-hash constant in [1, p-1] for `tag`. */
  def hashConstant(tag: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(tag.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex, 16) % (Prime - 1)) + 1
  }

  val K = 32
  private val A = Array.tabulate(K)(i => hashConstant(s"a$i"))
  private val B = Array.tabulate(K)(i => hashConstant(s"b$i"))

  val dataType: StructType = StructType(Seq(
    StructField("nsh", LongType, nullable = false),
    StructField("sig", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("dg", ArrayType(LongType, containsNull = false), nullable = false)))

  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  private def longAt(d: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(off + i) & 0xFFL); i += 1 }
    v
  }

  /** The kernel struct for one document (null when it has no shingle). */
  def document(text: UTF8String, n: Int): InternalRow = {
    // Spark's split decodes to a java String: malformed UTF-8 becomes
    // U+FFFD there, so hash the same re-encoded bytes
    val bytes = (if (text.isValid) text else UTF8String.fromString(text.toString)).getBytes
    var tokens = 1
    var p = 0
    while (p < bytes.length) { if (bytes(p) == ' ') tokens += 1; p += 1 }
    val m = tokens - n + 1
    if (m <= 0) return null
    // starts(t) = first byte of token t; starts(tokens) = one past the end
    // plus the separator, so token t ends at starts(t + 1) - 1
    val starts = new Array[Int](tokens + 1)
    var t = 1
    p = 0
    while (p < bytes.length) {
      if (bytes(p) == ' ') { starts(t) = p + 1; t += 1 }
      p += 1
    }
    starts(tokens) = bytes.length + 1
    val md = md5.get()
    val d = new Array[Byte](16)
    val hi = new Array[Long](m)
    val lo = new Array[Long](m)
    var j = 0
    while (j < m) {
      md.update(bytes, starts(j), starts(j + n) - 1 - starts(j))
      md.digest(d, 0, 16)
      hi(j) = longAt(d, 0)
      lo(j) = longAt(d, 8)
      j += 1
    }
    sortPairs(hi, lo, m)
    // drop repeated shingles (adjacent after the sort)
    var u = 0
    j = 0
    while (j < m) {
      if (u == 0 || hi(j) != hi(u - 1) || lo(j) != lo(u - 1)) {
        hi(u) = hi(j); lo(u) = lo(j); u += 1
      }
      j += 1
    }
    val sig = Array.fill(K)(Long.MaxValue)
    j = 0
    while (j < u) {
      val base = hi(j) >>> 36
      var i = 0
      while (i < K) {
        val h = (base * A(i) + B(i)) % Prime
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      j += 1
    }
    new GenericInternalRow(Array[Any](u.toLong,
      UnsafeArrayData.fromPrimitiveArray(sig),
      UnsafeArrayData.fromPrimitiveArray(interleave(hi, lo, u))))
  }

  private def interleave(hi: Array[Long], lo: Array[Long], u: Int): Array[Long] = {
    val dg = new Array[Long](2 * u)
    var j = 0
    while (j < u) { dg(2 * j) = hi(j); dg(2 * j + 1) = lo(j); j += 1 }
    dg
  }

  /** Stable bottom-up merge sort of the first m (hi, lo) pairs. */
  private def sortPairs(hi: Array[Long], lo: Array[Long], m: Int): Unit = {
    var sh = hi; var sl = lo
    var dh = new Array[Long](m); var dl = new Array[Long](m)
    var w = 1
    while (w < m) {
      var s = 0
      while (s < m) {
        val mid = math.min(s + w, m)
        val end = math.min(s + 2 * w, m)
        var i = s; var j = mid; var k = s
        while (k < end) {
          if (j >= end || (i < mid &&
              (sh(i) < sh(j) || (sh(i) == sh(j) && sl(i) <= sl(j))))) {
            dh(k) = sh(i); dl(k) = sl(i); i += 1
          } else {
            dh(k) = sh(j); dl(k) = sl(j); j += 1
          }
          k += 1
        }
        s = end
      }
      val th = sh; sh = dh; dh = th
      val tl = sl; sl = dl; dl = tl
      w *= 2
    }
    if (sh ne hi) {
      System.arraycopy(sh, 0, hi, 0, m)
      System.arraycopy(sl, 0, lo, 0, m)
    }
  }

  /** Several kernel structs of one doc_id folded into one, with the
    * multiset semantics of the relational index (one digest row per
    * (input row, distinct shingle)): sizes add, signatures take the
    * element-wise min, digest lists concatenate and re-sort with
    * repeats kept. */
  def merge(parts: ArrayData): InternalRow = {
    val np = parts.numElements()
    if (np == 1) return parts.getStruct(0, 3)
    var nsh = 0L
    val sig = Array.fill(K)(Long.MaxValue)
    var total = 0
    var e = 0
    while (e < np) { total += parts.getStruct(e, 3).getArray(2).numElements() / 2; e += 1 }
    val hi = new Array[Long](total)
    val lo = new Array[Long](total)
    var at = 0
    e = 0
    while (e < np) {
      val r = parts.getStruct(e, 3)
      nsh += r.getLong(0)
      val s = r.getArray(1)
      var i = 0
      while (i < K) { sig(i) = math.min(sig(i), s.getLong(i)); i += 1 }
      val dg = r.getArray(2)
      var j = 0
      while (j < dg.numElements()) {
        hi(at) = dg.getLong(j); lo(at) = dg.getLong(j + 1); at += 1; j += 2
      }
      e += 1
    }
    sortPairs(hi, lo, total)
    new GenericInternalRow(Array[Any](nsh, UnsafeArrayData.fromPrimitiveArray(sig),
      UnsafeArrayData.fromPrimitiveArray(interleave(hi, lo, total))))
  }

  /** Common digests of two sorted `dg` lists by merge-intersection. A
    * digest repeated r times on one side and s on the other counts r·s —
    * the join count of the relational verify; 1 for distinct sets. */
  def overlap(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var common = 0L
    while (i < na && j < nb) {
      val ah = a.getLong(i)
      val al = a.getLong(i + 1)
      val bh = b.getLong(j)
      val bl = b.getLong(j + 1)
      if (ah < bh || (ah == bh && al < bl)) i += 2
      else if (ah > bh || al > bl) j += 2
      else {
        var r = 0
        while (i < na && a.getLong(i) == ah && a.getLong(i + 1) == al) { r += 1; i += 2 }
        var s = 0
        while (j < nb && b.getLong(j) == bh && b.getLong(j + 1) == bl) { s += 1; j += 2 }
        common += r.toLong * s
      }
    }
    common
  }

  /** `DocMinHash` as a column. */
  def document(text: Column, n: Int): Column =
    Bridge.column(DocMinHash(Bridge.expression(text), n))

  /** `MergeDocMinHash` as a column. */
  def merge(parts: Column): Column =
    Bridge.column(MergeDocMinHash(Bridge.expression(parts)))

  /** `DigestOverlap` as a column. */
  def overlap(a: Column, b: Column): Column =
    Bridge.column(DigestOverlap(Bridge.expression(a), Bridge.expression(b)))

  /** `BucketIds` as an aggregate column: struct<occ, ids>. */
  def bucketIds(id: Column, cap: Int): Column =
    Bridge.column(BucketIds(Bridge.expression(id), cap).toAggregateExpression())

  /** `BucketPairs` as a generator column (one row per pair). */
  def bucketPairs(ids: Column): Column =
    Bridge.column(BucketPairs(Bridge.expression(ids)))
}

/** [[MinHashKernel.document]] as a Catalyst expression over a string. */
case class DocMinHash(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle width must be >= 1, got $n")
  override def dataType: DataType = MinHashKernel.dataType
  override def nullable: Boolean = true
  override def prettyName: String = "doc_minhash"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"doc_minhash requires a STRING argument, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any =
    MinHashKernel.document(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"""
         |${ev.value} = graft.functions.MinHashKernel.document($t, $n);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): DocMinHash =
    copy(child = newChild)
}

/** [[MinHashKernel.merge]] over an array of kernel structs. */
case class MergeDocMinHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = MinHashKernel.dataType
  override def prettyName: String = "merge_doc_minhash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _) if s.fieldNames.toSeq == Seq("nsh", "sig", "dg") =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"merge_doc_minhash requires an array of doc_minhash structs, got ${other.sql}")
  }

  override protected def nullSafeEval(input: Any): Any =
    MinHashKernel.merge(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, p => s"graft.functions.MinHashKernel.merge($p)")

  override protected def withNewChildInternal(newChild: Expression): MergeDocMinHash =
    copy(child = newChild)
}

/** Number of common digests of two sorted kernel `dg` arrays. */
case class DigestOverlap(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "digest_overlap"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"digest_overlap requires two array<bigint> arguments, got ${l.sql} and ${r.sql}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    MinHashKernel.overlap(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.MinHashKernel.overlap($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): DigestOverlap =
    copy(left = newLeft, right = newRight)
}

/** Every pair (a, b), a < b, of the non-null ids of one bucket, streamed
  * row by row (a capped bucket of 10,000 members is 5·10⁷ pairs, which
  * must not be built as one array). */
case class BucketPairs(child: Expression) extends UnaryExpression
    with Generator with CodegenFallback {
  override def elementSchema: StructType = StructType(Seq(
    StructField("a", LongType, nullable = false),
    StructField("b", LongType, nullable = false)))
  override def prettyName: String = "bucket_pairs"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bucket_pairs requires an array<bigint> argument, got ${other.sql}")
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null) return Iterator.empty
    val ids = (0 until arr.numElements()).filterNot(arr.isNullAt).map(arr.getLong).sorted.toArray
    Iterator.range(0, ids.length).flatMap { i =>
      Iterator.range(i + 1, ids.length).collect {
        case j if ids(j) != ids(i) => InternalRow(ids(i), ids(j))
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): BucketPairs =
    copy(child = newChild)
}

/** One LSH bucket's occupancy and member ids, bounded by the bucket cap:
  * struct<occ: every input row, ids: the non-null ids>. Once `occ`
  * exceeds `cap` the bucket can never be kept, so its ids are dropped
  * and `ids` is null — a flooded bucket costs one counter, not a list
  * the size of its cohort. Ids are held as primitive longs. */
case class BucketIds(child: Expression, cap: Int,
                     mutableAggBufferOffset: Int = 0,
                     inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BucketIds.Buffer] {
  require(cap >= 1, s"bucket cap must be >= 1, got $cap")

  override def prettyName: String = "bucket_ids"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("occ", LongType, nullable = false),
    StructField("ids", ArrayType(LongType, containsNull = false), nullable = true)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bucket_ids requires a BIGINT argument, got ${child.dataType.sql}")

  override def createAggregationBuffer(): BucketIds.Buffer = new BucketIds.Buffer

  override def update(buf: BucketIds.Buffer, input: InternalRow): BucketIds.Buffer = {
    buf.occ += 1
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long])
    buf.bound(cap)
    buf
  }

  override def merge(buf: BucketIds.Buffer, other: BucketIds.Buffer): BucketIds.Buffer = {
    buf.occ += other.occ
    if (other.ids == null) buf.ids = null
    else { var i = 0; while (i < other.len) { buf.add(other.ids(i)); i += 1 } }
    buf.bound(cap)
    buf
  }

  override def eval(buf: BucketIds.Buffer): Any = new GenericInternalRow(Array[Any](buf.occ,
    if (buf.ids == null) null
    else UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(buf.ids, buf.len))))

  // occ, then len (-1 once dropped), then the ids
  override def serialize(buf: BucketIds.Buffer): Array[Byte] = {
    val n = if (buf.ids == null) 0 else buf.len
    val bb = java.nio.ByteBuffer.allocate(12 + 8 * n)
    bb.putLong(buf.occ).putInt(if (buf.ids == null) -1 else n)
    var i = 0
    while (i < n) { bb.putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): BucketIds.Buffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new BucketIds.Buffer
    buf.occ = bb.getLong
    val n = bb.getInt
    if (n < 0) buf.ids = null
    else { var i = 0; while (i < n) { buf.add(bb.getLong); i += 1 } }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BucketIds =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BucketIds =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): BucketIds =
    copy(child = newChildren.head)
}

object BucketIds {
  /** `ids(0 until len)` while the bucket is within its cap; null after. */
  final class Buffer {
    var occ = 0L
    var ids: Array[Long] = new Array[Long](4)
    var len = 0

    def add(id: Long): Unit = if (ids != null) {
      if (len == ids.length) ids = java.util.Arrays.copyOf(ids, 2 * len)
      ids(len) = id
      len += 1
    }

    def bound(cap: Int): Unit = if (occ > cap) { ids = null; len = 0 }
  }
}
