package graft.operators

import java.util.Comparator

import org.apache.spark.Partitioner

/** Region boundaries and the unsigned key order of the bulk-load
  * pipeline's one region exchange ([[graft.plans.RegionAlignedRowExchange]]).
  *
  * The reference delegates this to `HFileOutputFormat2.configureIncrementalLoad`
  * (BulkImporterFromText.java:105-108): a `TotalOrderPartitioner` over the
  * live table's region start keys, reducer count = region count, and a
  * shuffle-side sort into `KeyValue` order. HBase key order is UNSIGNED
  * byte-lexicographic; Spark's `BinaryType` ordering is also unsigned
  * lexicographic, so the partition-local `sortWithinPartitions` after the
  * exchange is semantically correct. Here live the exact-boundary
  * [[RegionPartitioner]] the exchange routes by and the fixed boundary
  * sources: the uniform MD5 pre-split and the salt digits.
  *
  * Scale posture: one shuffle total (the unavoidable total-order exchange);
  * sort is shuffle-side and spill-safe; no driver-side collection of data —
  * only the region boundary list (O(#regions)) lives on the driver, exactly
  * like the reference's partition split file.
  */
object RegionSort {

  /** Unsigned byte-lexicographic comparator (HBase `Bytes.compareTo` order). */
  val unsignedBytes: Comparator[Array[Byte]] = new Comparator[Array[Byte]] with Serializable {
    override def compare(a: Array[Byte], b: Array[Byte]): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val x = a(i) & 0xff
        val y = b(i) & 0xff
        if (x != y) return x - y
        i += 1
      }
      a.length - b.length
    }
  }

  implicit val unsignedBytesOrdering: Ordering[Array[Byte]] =
    Ordering.comparatorToOrdering(unsignedBytes)

  /** One explicit split key from its hex text (either case) — the parser
    * behind the CLI's `--splits` file and the `graft-cells` `splits`
    * option. A non-hex character or an odd length is an error, never a
    * silently shifted boundary. */
  def splitKey(hex: String): Array[Byte] =
    try java.util.HexFormat.of().parseHex(hex)
    catch { case e: IllegalArgumentException =>
      throw new IllegalArgumentException(s"split key is not even-length hex: $hex", e)
    }

  /** Exact-boundary region partitioner: `splits(i)` is the FIRST key of
    * region i+1 (region 0 is `(-inf, splits(0))`), mirroring HBase's
    * `RegionLocator.getStartKeys` contract used by TotalOrderPartitioner. */
  class RegionPartitioner(splits: Array[Array[Byte]]) extends Partitioner {
    require(splits.sliding(2).forall(p => p.length < 2 || unsignedBytes.compare(p(0), p(1)) < 0),
      "region split points must be strictly increasing in unsigned byte order")
    override def numPartitions: Int = splits.length + 1
    override def getPartition(key: Any): Int = {
      val k = key.asInstanceOf[Array[Byte]]
      // binary search for first split > k; that index IS the region
      var lo = 0
      var hi = splits.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (unsignedBytes.compare(splits(mid), k) <= 0) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  /** Static uniform boundaries for an md5-uniform keyspace (the HBase
    * `RegionSplitter.UniformSplit` pre-split analog): region i+1 starts at
    * the 2-byte big-endian value floor(i·65536/regions). Exact alignment
    * holds because every md5-composite rowkey's leading bytes are uniform
    * ([[graft.functions.keys.md5CompositeKey]]) — which lets every
    * MD5-keyed load, batch or micro-batch, fix its boundaries instead of
    * paying a sampling pass over its input
    * ([[graft.BulkLoad.withFixedSplits]]; the reference reads a live
    * table's regions once per job, BulkImporterFromText.java:106). */
  def uniformMd5Splits(regions: Int): Array[Array[Byte]] = {
    require(regions >= 2 && regions <= 65536,
      s"uniform md5 pre-split needs 2..65536 regions, got $regions")
    (1 until regions).map { i =>
      val v = (i.toLong * 65536L / regions).toInt
      Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    }.toArray
  }

  /** Region boundary generator for salted keys: one split per salt bucket
    * ('1'..'9' ASCII prefixes for 10 buckets — matches create_table.rb:1's
    * `SPLITS ['0'..'9']` intent once salting is on). Buckets are capped at
    * 10: an 11th bucket's "10" prefix sorts BELOW "9" in byte order, which
    * would break both monotonic splits and the 1-byte salt alignment. */
  def saltSplits(buckets: Int): Array[Array[Byte]] = {
    require(buckets >= 2 && buckets <= 10,
      s"salt buckets must be in [2,10] (single ASCII digit), got $buckets")
    (1 until buckets).map(i => i.toString.getBytes("UTF-8")).toArray
  }
}
