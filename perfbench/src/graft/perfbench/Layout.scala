package graft.perfbench

import graft.operators.RegionSort
import org.apache.spark.sql.SparkSession

/** Read-back checks of a written cell file. */
object Layout {
  final case class FileSummary(cells: Long, sorted: Boolean,
                               firstRow: Array[Byte], lastRow: Array[Byte])

  private type Key = (Array[Byte], Array[Byte], Array[Byte])

  private def cmp(a: Key, b: Key): Int = {
    val c = RegionSort.unsignedBytes
    val r = c.compare(a._1, b._1)
    if (r != 0) r else {
      val f = c.compare(a._2, b._2)
      if (f != 0) f else c.compare(a._3, b._3)
    }
  }

  /** Cell count, whether the file is in unsigned (row, family, qualifier)
    * order, and its first and last row key. One Spark job; the file is
    * read as a single split (the checked files are far below the split
    * size), so partition order is file order. */
  def fileSummary(spark: SparkSession, path: String): FileSummary = {
    val parts = spark.read.parquet(path).select("row", "family", "qualifier").rdd
      .mapPartitions { it =>
        var n = 0L
        var ok = true
        var first: Key = null
        var prev: Key = null
        it.foreach { r =>
          val k: Key = (r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2))
          if (prev != null && cmp(prev, k) > 0) ok = false
          if (first == null) first = k
          prev = k
          n += 1
        }
        Iterator((n, ok, first, prev))
      }.collect().filter(_._1 > 0)
    val ordered = parts.forall(_._2) &&
      parts.sliding(2).forall { case Array(a, b) => cmp(a._4, b._3) <= 0; case _ => true }
    if (parts.isEmpty) FileSummary(0, sorted = true, Array.emptyByteArray, Array.emptyByteArray)
    else FileSummary(parts.map(_._1).sum, ordered, parts.head._3._1, parts.last._4._1)
  }
}
