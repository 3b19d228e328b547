package graft.operators

import java.util.Comparator

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Region-aligned total-order exchange + per-partition KV sort — the one
  * genuinely custom physical piece of the bulk-load pipeline.
  *
  * The reference delegates this to `HFileOutputFormat2.configureIncrementalLoad`
  * (BulkImporterFromText.java:105-108): a `TotalOrderPartitioner` over the
  * live table's region start keys, reducer count = region count, and a
  * shuffle-side sort into `KeyValue` order. HBase key order is UNSIGNED
  * byte-lexicographic; Spark's `BinaryType` ordering is also unsigned
  * lexicographic, so the declarative path (`repartitionByRange` +
  * `sortWithinPartitions`) is semantically correct. The explicit-boundary
  * path (`partitionByRegions`) exists because Catalyst's range exchange
  * *samples* boundaries, while HFile bulk load needs EXACT region
  * alignment — one output partition per region, no HFile straddling a
  * region boundary (else the load splits files server-side).
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

  /** Catalyst-native path: range-exchange on `row` into `numRegions`
    * partitions, then shuffle-side sort to HBase KeyValue order
    * ([[CellOps.keyValueOrder]]). Boundaries are sampled — use for generic
    * sorted-cell sinks where exact region alignment is not required. */
  def sortedByRange(cells: DataFrame, numRegions: Int): DataFrame =
    cells.repartitionByRange(numRegions, col("row"))
      .sortWithinPartitions(CellOps.keyValueOrder: _*)

  /** Exact path: partition cells by explicit region boundaries and sort each
    * partition to KeyValue order ([[CellOps.keyValueOrdering]]). Returns
    * the cell rows grouped per region, ready for an HFile-writing sink.
    * One shuffle, sort-on-shuffle semantics like the reference's reducer. */
  def partitionByRegions(cells: DataFrame, splits: Array[Array[Byte]]): RDD[Row] = {
    type Key = (Array[Byte], Array[Byte], Array[Byte], Long)
    val part = new RegionPartitioner(splits)
    implicit val kvOrd: Ordering[Key] = CellOps.keyValueOrdering
    cells.select("row", "family", "qualifier", "value", "ts").rdd
      .map { r =>
        ((r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2), r.getLong(4)), r)
      }
      .repartitionAndSortWithinPartitions(new Partitioner {
        override def numPartitions: Int = part.numPartitions
        override def getPartition(key: Any): Int = part.getPartition(key.asInstanceOf[Key]._1)
      })
      .map(_._2)
  }

  /** Static uniform boundaries for an md5-uniform keyspace (the HBase
    * `RegionSplitter.UniformSplit` pre-split analog): region i+1 starts at
    * the 2-byte big-endian value floor(i·65536/regions). Exact alignment
    * holds because every md5-composite rowkey's leading bytes are uniform
    * ([[graft.functions.keys.md5CompositeKey]]) — which lets every
    * MD5-keyed load, batch or micro-batch, fix its boundaries instead of
    * paying Catalyst's sampling pass over its input
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
