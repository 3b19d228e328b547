package graft

import java.nio.file.{Files, Paths}

import graft.operators.{Dedup, Similarity}
import graft.sources.CellCompaction

/** The one publish protocol (`graft.sources.Publish`): keyed store paths,
  * build-once publishes that never leave a partial artifact, and the
  * replaced compaction ledger's crash window. Generated data only. */
class PublishSpec extends SparkSuite {
  import spark.implicits._

  private def tmpDir(): String = Files.createTempDirectory("graft-publish").toString

  /** Independent md5 hex — the pin must not share the code under test. */
  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  private def keyedDir(family: String, key: String): String = {
    val root = sys.props.getOrElse("graft.store.dir",
      sys.props("java.io.tmpdir") + "/" + family)
    new org.apache.hadoop.fs.Path(s"$root/${md5(key)}", "store").toString
  }

  test("store keys: each store family publishes under the md5 of its literal key string") {
    // a key naming no corpus drop stamps as "" (opaque, path-only key)
    val key = s"pin-${java.util.UUID.randomUUID()}"
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a completely different sentence about other things")).toDF("doc_id", "text")
    val cluster = "graft-cluster-store"
    val dedup = Dedup.dedupStore(docs, 3, 0.8, key)
    assert(dedup.dir === keyedDir(cluster,
      s"$key||n=3|thr=0.8|${Dedup.StoreAlgoVersion}"))
    val span = Dedup.spanStore(docs, 4, key)
    assert(span.dir === keyedDir(cluster,
      s"$key#spanstore:${Dedup.SpanLayoutVersion}||n=4|thr=0.0|${Dedup.StoreAlgoVersion}"))

    val ann = "graft-ann-store"
    val v = Similarity.AnnStoreVersion
    val emb = (0 until 24).map { i =>
      (i.toLong, Array.tabulate(4)(d => ((i * 7 + d * 3) % 11 - 5).toFloat))
    }.toDF("vec_id", "embedding")
    val built = Similarity.annIndexStore(emb.where($"vec_id" < 16), 4, key)
    assert(built.dir === keyedDir(ann, s"$key||nlist=4|$v"))
    val adv = Similarity.annIndexStoreAdvance(built, emb.where($"vec_id" >= 16), s"$key#adv")
    assert(adv.dir === keyedDir(ann, s"advance|${built.dir}|$key#adv||nlist=4|$v"))
    val compacted = Similarity.annIndexStoreCompact(adv, s"$key#compact")
    assert(compacted.dir === keyedDir(ann, s"compact|${adv.dir}|$key#compact|nlist=4|$v"))
    val rebuilt = Similarity.annIndexStoreRebuild(compacted, s"$key#rebuild")
    assert(rebuilt.dir === keyedDir(ann, s"rebuild|${compacted.dir}|$key#rebuild|nlist=4|$v"))

    // every store is published whole: present, readable, no temp left
    Seq(dedup.dir, span.dir, built.dir, adv.dir, compacted.dir, rebuilt.dir).foreach { d =>
      val dir = new java.io.File(new java.net.URI(d).getPath)
      assert(dir.isDirectory, d)
      assert(!dir.getParentFile.list().exists(_.startsWith("_store_tmp_")), d)
    }
    assert(dedup.clusters.where($"doc_id" === 1L).select("cluster_id").as[Long]
      .collect().toSeq === Seq(0L))
    assert(rebuilt.lists.count() === 24 && adv.base.map(_.dir) === Some(built.dir))
  }

  test("staged fixtures: a write that throws leaves no fixture; the next call rebuilds it") {
    import graft.queries.ReferenceParity.staged
    val parent = tmpDir()
    val path = s"$parent/fixture"
    val e = intercept[IllegalStateException](staged(spark, path) { tmp =>
      Files.createDirectories(Paths.get(tmp))
      Files.writeString(Paths.get(tmp, "part-0"), "half")
      throw new IllegalStateException("write failed midway")
    })
    assert(e.getMessage === "write failed midway")
    assert(!Files.exists(Paths.get(path)), "a failed write must leave no fixture")
    assert(new java.io.File(parent).list().isEmpty, "nor its temp")
    // the next call builds it; a later one reuses it without writing
    assert(staged(spark, path) { tmp =>
      Files.createDirectories(Paths.get(tmp))
      Files.writeString(Paths.get(tmp, "part-0"), "whole")
    } === path)
    assert(Files.readString(Paths.get(path, "part-0")) === "whole")
    staged(spark, path)(_ => fail("a staged fixture must not be rebuilt"))
  }

  test("compactMinor ledger crash window: live _absorbed missing, complete temp present — absorbed ids still honoured") {
    val root = tmpDir()
    val dest = s"$root/serving"
    val cfg = BulkLoad.Config(splits =
      Some(graft.operators.RegionSort.uniformMd5Splits(4).toSeq))
    def writeBatch(b: Int): Unit = {
      val wide = (0 until 30).map { i =>
        val r = (0 until 9).map(c => s"lw${b}_v${i}_$c")
        (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8))
      }.toDF((0 until 9).map(i => s"c$i"): _*)
      SortedParquetCellSink.write(
        BulkLoad.fromPositional(wide, BulkLoad.emptyQuarantine(spark), cfg).cells,
        f"$root/batch_$b%05d")
    }
    writeBatch(0); writeBatch(1)
    assert(CellCompaction.compactMinor(spark, root, dest, cfg) === 2)
    val rows = spark.read.parquet(dest).count()
    // the retire-then-rename window of an HDFS-semantics install: the
    // live ledger is gone, the complete new one still sits in its temp
    val live = new java.io.File(dest, CellCompaction.AbsorbedLedger)
    val temp = new java.io.File(dest,
      s"${CellCompaction.AbsorbedLedger}.tmp-${System.currentTimeMillis()}-crashwindow")
    assert(live.renameTo(temp))
    new java.io.File(dest, s".${CellCompaction.AbsorbedLedger}.crc").delete()
    // a streaming replay re-lands batch 1: retired, not re-absorbed
    writeBatch(1)
    assert(CellCompaction.compactMinor(spark, root, dest, cfg) === 0,
      "the temp ledger's absorbed id must be honoured")
    assert(CellCompaction.batchDirs(spark, root).isEmpty)
    assert(spark.read.parquet(dest).count() === rows, "no duplicate cells")
    // the next real batch installs a live ledger again
    writeBatch(2)
    assert(CellCompaction.compactMinor(spark, root, dest, cfg) === 1)
    assert(live.exists())
    assert(Files.readString(live.toPath).startsWith("batch_00002\t"))
  }
}
