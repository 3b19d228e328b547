package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Big-endian 4-byte encoding of an int32.
  *
  * Byte-compatible with HBase `Bytes.toBytes(int)` as used for column-index
  * qualifiers in the reference (BulkImporterFromText.java:65,
  * BulkImporterFromCSVText.java:64, BulkImporterFromRC.java:63). Implemented
  * as a native Catalyst expression with codegen so it stays inside
  * whole-stage codegen (no UDF/serialization on the ingest hot path).
  */
case class IntToBigEndianBinary(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "be_int4"

  /** SQL-registered, so non-int arguments must FAIL analysis (a silent
    * long→int truncation would corrupt qualifiers above Int.MaxValue);
    * the Column API (`keys.beInt4`) casts explicitly. */
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == IntegerType) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"be_int4 requires an INT argument, got ${child.dataType.sql}")
    }

  override protected def nullSafeEval(input: Any): Any =
    keys.beInt4Bytes(input.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new byte[] {(byte)($c >>> 24), (byte)($c >>> 16), (byte)($c >>> 8), (byte)($c)}")

  override protected def withNewChildInternal(newChild: Expression): IntToBigEndianBinary =
    copy(child = newChild)
}

/** First `hexChars` hex digits of md5(input) as an unsigned long — the
  * fused form of `conv(substring(md5(x), 1, n), 16, 10)` that the dedup /
  * fingerprint operators use as their base hash on every exploded shingle.
  *
  * The composed built-ins allocate the full 32-char hex string plus a
  * substring per row and then re-parse the digits; at millions of shingles
  * per corpus pass that dominates the map side. This expression goes
  * digest-bytes → long directly (no intermediate strings) and stays inside
  * whole-stage codegen. Values are BIT-IDENTICAL to the conv∘substring∘md5
  * composition (top 4·n digest bits, big-endian nibbles), so oracle SQL is
  * unchanged. */
case class Md5PrefixLong(child: Expression, hexChars: Int) extends UnaryExpression {
  // 16 nibbles fill the long exactly (the value is then the UNSIGNED
  // 64-bit digest prefix in the long's bits — same wrap as Spark's `conv`)
  require(hexChars >= 1 && hexChars <= 16, s"hexChars in [1,16], got $hexChars")
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix64"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"md5_prefix64 requires a BINARY argument, got ${child.dataType.sql}")
    }

  /** Top `n` nibbles of the digest, big-endian. */
  private def prefixOf(digest: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < hexChars) {
      val b = digest(i >> 1) & 0xFF
      v = (v << 4) | (if ((i & 1) == 0) b >>> 4 else b & 0x0F)
      i += 1
    }
    v
  }

  override protected def nullSafeEval(input: Any): Any =
    prefixOf(org.apache.commons.codec.digest.DigestUtils.md5(input.asInstanceOf[Array[Byte]]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val d = ctx.freshName("digest")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      s"""
         |byte[] $d = org.apache.commons.codec.digest.DigestUtils.md5($c);
         |${ev.value} = 0L;
         |for (int $i = 0; $i < $hexChars; $i++) {
         |  int $b = $d[$i >> 1] & 0xFF;
         |  ${ev.value} = (${ev.value} << 4) | ((($i & 1) == 0) ? ($b >>> 4) : ($b & 0x0F));
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Md5PrefixLong =
    copy(child = newChild)
}

/** Row-key / cell-key column builders.
  *
  * Reproduces the reference's two row-key strategies (RowKeyConverter.java:13-31,
  * BulkImporterFromAvro.java:59) as pure Catalyst column expressions — every
  * builder here compiles to built-in, codegen'd expressions (`unhex(md5(..))`,
  * `concat`, `reverse`, `encode`) so the 100 TB ingest path is whole-stage
  * codegen end to end. UTF-8 is used throughout (the reference mixed platform
  * charset and UTF-8; see SURVEY.md §1.3).
  */
object keys {

  /** Raw 16-byte MD5 digest of the UTF-8 bytes of `c` (Md5Utils.java:12-20).
    * Spark's `md5` yields 32 hex chars; `unhex` restores the raw digest. */
  def md5Raw(c: Column): Column = unhex(md5(c.cast(StringType).cast(BinaryType)))

  /** Composite fixed-width key: concat of one raw MD5 digest per key field
    * (RowKeyConverter.java:13-31 — 4 fields => 64-byte key). Uniformly
    * distributed by construction, so range partitions stay balanced at scale. */
  def md5CompositeKey(cols: Seq[Column]): Column =
    concat(cols.map(md5Raw): _*)

  /** Reversed natural key (BulkImporterFromAvro.java:59) — digit reversal as a
    * hot-spot-avoidance trick for monotonically increasing ids. */
  def reversedKey(c: Column): Column =
    encode(reverse(c.cast(StringType)), "UTF-8")

  /** Salt prefix `(k mod buckets)` rendered as its ASCII decimal string — the
    * reference's disabled design intent (RowKeyConverter.java:20-25) whose
    * `SPLITS ['0'..'9']` pre-split table assumes it (create_table.rb:1).
    * `pmod` keeps negatives in range. */
  def saltPrefix(k: Column, buckets: Int): Column = {
    require(buckets >= 2 && buckets <= 10,
      s"salt buckets must be in [2,10] (single ASCII digit), got $buckets")
    encode(pmod(k.cast(LongType), lit(buckets.toLong)).cast(StringType), "UTF-8")
  }

  /** Salted key = salt byte(s) ++ key bytes. */
  def saltedKey(k: Column, buckets: Int, key: Column): Column =
    concat(saltPrefix(k, buckets), key)

  /** 4-byte big-endian qualifier of column index `v` (reference P10). */
  def beInt4Bytes(v: Int): Array[Byte] =
    Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)

  /** 4-byte big-endian qualifier from a column index (reference P10). */
  def beInt4(c: Column): Column =
    Bridge.column(IntToBigEndianBinary(Bridge.expression(c.cast(IntegerType))))

  /** UTF-8 bytes of a string column (qualifier/value encoding, reference P9/P11). */
  def utf8(c: Column): Column = encode(c.cast(StringType), "UTF-8")

  /** Fused base hash for dedup/fingerprint operators — see [[Md5PrefixLong]]. */
  def md5Prefix64(c: Column, hexChars: Int): Column =
    Bridge.column(Md5PrefixLong(Bridge.expression(c), hexChars))

  /** Fixed-width big-endian rendering of a non-negative integral column:
    * `unhex(lpad(hex(x)))` — all codegen built-ins. `lpad` TRUNCATES an
    * over-long rendering (a >65535-byte row key would serialize a corrupt
    * KeyValue length prefix), so out-of-range values fail the task loudly
    * via `raise_error` instead. */
  private def beN(c: Column, hexDigits: Int): Column = {
    val h = hex(c)
    unhex(when(length(h) > hexDigits,
        raise_error(concat(
          lit(s"graft.keys: value does not fit $hexDigits hex digits (fixed-width wire field): 0x"), h)))
      .otherwise(lpad(h, hexDigits, "0")))
  }

  /** HBase KeyValue WIRE serialization of one cell — the exact byte layout
    * an HFile data block stores (public KeyValue format: 4B keylen ∥ 4B
    * valuelen ∥ key, where key = 2B rowlen ∥ row ∥ 1B famlen ∥ family ∥
    * qualifier ∥ 8B timestamp ∥ 1B type; type 0x04 = Put). This is what
    * `HFileOutputFormat2` would write per cell — with it, the parquet
    * stand-in sink carries the byte-exact payload and only the HFile
    * CONTAINER (blocks, index, bloom) remains behind the hbase-jars seam.
    * Pure codegen built-ins over the cell columns; `length` on BinaryType
    * counts bytes, and all length/ts inputs are non-negative. */
  def keyValueWire(row: Column, family: Column, qualifier: Column,
                   value: Column, ts: Column): Column = {
    val key = concat(
      beN(length(row), 4), row,
      beN(length(family), 2), family,
      qualifier,
      beN(ts.cast(LongType), 16),
      unhex(lit("04")))
    concat(beN(length(key), 8), beN(length(value), 8), key, value)
  }
}
