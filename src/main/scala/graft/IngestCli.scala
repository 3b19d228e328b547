package graft

import org.apache.spark.sql.SparkSession

/** CLI driver — the `ToolRunner` surface of the reference
  * (BulkImporterFromText.java:164-168, sample_run.sh) re-expressed:
  *
  *   IngestCli <csv|csv-compat|hivetext|avro|jsonl|rcfile|rcfile-compat|orc> <input> <output>
  *             [--arity N] [--salt BUCKETS] [--regions N] [--conf FILE]
  *             [--splits FILE] [--key-fields I,J,..] [--family NAME]
  *             [--qualifiers index|name] [--load-ts TS] [--stream-checkpoint DIR]
  *             [--schema "id STRING, ..." (jsonl — explicit DDL, never inferred)]
  *
  * `--conf FILE` merges a config file into the SparkConf: Hadoop-style XML
  * (the reference's `hbase-site.xml` first argument,
  * BulkImporterFromText.java:82-83) or a `key=value`-per-line properties
  * file. Runs the bulk-load pipeline — cells to `<output>`, quarantined
  * rows to `<output>.quarantine` — and prints one JSON stats line (cells,
  * quarantined rows, regions). Plain args, dependency-free. */
object IngestCli {

  private val knownFlags =
    Set("--arity", "--salt", "--regions", "--conf", "--splits",
      "--key-fields", "--family", "--qualifiers", "--load-ts",
      "--stream-checkpoint", "--schema", "--compact-mode",
      "--stream-compact-every", "--ngram", "--threshold", "--from-key",
      "--nlist", "--window", "--dry-run")

  /** Region-boundary file → split keys: one lowercase/uppercase hex row key
    * per line (first key of region i+1), blanks and `#` comments ignored —
    * the `TotalOrderPartitioner` split-file analog of the reference's live
    * `RegionLocator.getStartKeys` call (BulkImporterFromText.java:105-108).
    * Ordering/strictness is validated downstream by `RegionPartitioner`. */
  def loadSplits(path: String): Seq[Array[Byte]] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(path), java.nio.charset.StandardCharsets.UTF_8)
      .asScala.iterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(graft.operators.RegionSort.splitKey)
      .toSeq
  }

  /** Config file → ordered key/value pairs. `.xml` files use the Hadoop
    * configuration dialect — the reference's `hbase-site.xml` first CLI
    * argument (BulkImporterFromText.java:82-83) works unchanged; anything
    * else is a UTF-8 properties file (standard `java.util.Properties`
    * dialect: comments, blanks, `=`/`:`, escapes). */
  def loadConf(path: String): Seq[(String, String)] =
    if (path.endsWith(".xml")) loadXmlConf(path)
    else {
      val props = new java.util.Properties()
      val in = new java.io.InputStreamReader(
        new java.io.FileInputStream(path), java.nio.charset.StandardCharsets.UTF_8)
      try props.load(in) finally in.close()
      import scala.jdk.CollectionConverters._
      props.asScala.toSeq.map { case (k, v) => (k.toString, v.toString) }.sortBy(_._1)
    }

  /** Hadoop-style `<configuration><property><name>/<value>` XML (JDK DOM,
    * dependency-free). Properties marked `<final>` carry no special
    * meaning here — last write wins, like SparkConf. */
  def loadXmlConf(path: String): Seq[(String, String)] = {
    val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    // conf files are local and trusted, but there is no reason to resolve
    // external entities from them
    dbf.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    val doc = dbf.newDocumentBuilder().parse(new java.io.File(path))
    val props = doc.getElementsByTagName("property")
    (0 until props.getLength).flatMap { i =>
      val el = props.item(i).asInstanceOf[org.w3c.dom.Element]
      def text(tag: String): Option[String] =
        Option(el.getElementsByTagName(tag).item(0)).map(_.getTextContent.trim)
      for (n <- text("name"); v <- text("value")) yield (n, v)
    }.sortBy(_._1)
  }

  /** Streaming-mode parse settings per format: (config, delimiter).
    * `hivetext` streams with the SAME `\u0001` delimiter as the batch path
    * (`Delimited.hiveText`); `csv-compat` with the naive comma split. Kept
    * as a named function so tests pin the CLI mapping itself — a wrong
    * delimiter here silently mis-parses every streamed line. */
  def streamConfig(format: String, base: BulkLoad.Config): Option[(BulkLoad.Config, String)] =
    format match {
      case "csv-compat" => Some((base.copy(compatNaiveSplit = true), ","))
      case "hivetext"   => Some((base, graft.sources.Delimited.HiveDelimiter))
      case _            => None
    }

  /** Parsed flag map → pipeline Config — full key-spec parity with
    * [[BulkLoad.Config]]: the reference RC driver's custom key fields
    * (BulkImporterFromRC.java:54-56) become
    * `--key-fields 1,3,4,20 --family c --qualifiers index`. */
  def configFrom(opts: Map[String, String]): BulkLoad.Config =
    BulkLoad.Config(
      arity = opts.get("--arity").map(_.toInt).getOrElse(9),
      regions = opts.get("--regions").map(_.toInt).getOrElse(10),
      saltBuckets = opts.get("--salt").map(_.toInt),
      splits = opts.get("--splits").map(loadSplits),
      keyFields = opts.get("--key-fields")
        .map(_.split(",").toSeq.map(_.trim.toInt))
        .getOrElse(BulkLoad.Config().keyFields),
      family = opts.getOrElse("--family", BulkLoad.Config().family),
      qualifiers = opts.get("--qualifiers").map {
        case "index" => BulkLoad.IndexQualifiers
        case "name"  => BulkLoad.NameQualifiers
        case other =>
          throw new IllegalArgumentException(s"--qualifiers must be index|name, got: $other")
      }.getOrElse(BulkLoad.Config().qualifiers),
      loadTs = opts.get("--load-ts").map(_.toLong).getOrElse(0L))

  /** Batch load verb: runs the `format` driver over `input`, writes the
    * cells to `output` and the quarantined rows to `<output>.quarantine`
    * (the `batch_NNNNN.quarantine` convention of the streaming path —
    * quarantine, not drop), then commits the cell directory. Returns the
    * JSON stats line; `quarantined` is the row count read back from the
    * quarantine directory. */
  def loadCommand(spark: SparkSession, format: String, input: String,
                  output: String, base: BulkLoad.Config,
                  opts: Map[String, String]): String = {
    val r = format match {
      case "csv"        => BulkLoad.csv(spark, input, base)
      case "csv-compat" => BulkLoad.csv(spark, input, base.copy(compatNaiveSplit = true))
      case "hivetext"   => BulkLoad.hiveText(spark, input, base)
      case "avro"       => BulkLoad.avro(spark, input, base.copy(qualifiers = BulkLoad.NameQualifiers))
      case "jsonl" =>
        val ddl = opts.getOrElse("--schema", throw new IllegalArgumentException(
          "jsonl requires --schema \"id STRING, ...\" " +
            "(explicit DDL — inference alphabetizes columns and costs a full scan)"))
        BulkLoad.jsonl(spark, input, ddl,
          base.copy(qualifiers = BulkLoad.NameQualifiers))
      case "rcfile"     => BulkLoad.rcFile(spark, input, base)
      case "orc"        => BulkLoad.orc(spark, input, base)
      // reference-literal RC keys (1,3,4,20) incl. the field-20 bug:
      // affected rows quarantine instead of killing the job
      case "rcfile-compat" =>
        BulkLoad.rcFile(spark, input, base.copy(keyFields = BulkLoad.ReferenceRcKeyFields))
      case other => throw new IllegalArgumentException(s"unknown format: $other")
    }
    val quarantineDir = s"$output.quarantine"
    val t0 = System.nanoTime()
    r.sink.write(r.cells, output)
    r.quarantined.write.mode("overwrite").parquet(quarantineDir)
    r.sink.postCommit(output)
    val secs = (System.nanoTime() - t0) / 1e9
    val cells = graft.sources.CellScan.rowCount(spark, output)
    val quarantined = spark.read.schema("value STRING").parquet(quarantineDir).count()
    s"""{"format":"$format","cells":$cells,"quarantined":$quarantined,""" +
      s""""regions":${base.regions},"write_sec":$secs}"""
  }

  /** ADMIN verb: layout compaction of a staged/serving cell directory —
    * the background-sweep entry point an operator schedules beside the
    * ingest jobs. `minor` absorbs `input`'s batch filesets into the
    * serving dir `output` as one extra fileset + incremental manifest
    * refresh (into a fresh `output`: one file per region) and retires
    * them; `major` rewrites `input` in place to one file per region
    * (`output` ignored). Returns filesets absorbed (−1 for major). */
  def compactCommand(spark: SparkSession, mode: String, input: String,
                     output: String, cfg: BulkLoad.Config): Int = mode match {
    case "minor" =>
      graft.sources.CellCompaction.compactMinor(spark, input, output, cfg)
    case "major" =>
      graft.sources.CellCompaction.compactMajor(spark, input, cfg); -1
    case other =>
      throw new IllegalArgumentException(
        s"--compact-mode must be minor|major, got: $other")
  }

  /** ADMIN verbs for the DURABLE STORES — the maintenance loop driven
    * from the same CLI that ingests (the reference's `sample_run.sh`
    * posture: every operational step is a shell command, no Scala):
    *
    *   dedup-build   <docsParquet> <corpusKey>  — build + publish the
    *     cluster store ([[graft.operators.Dedup.dedupStore]]).
    *   dedup-advance <newDocsParquet> <newCorpusKey> --from-key KEY —
    *     roll a published store forward by one drop
    *     ([[graft.operators.Dedup.dedupStoreAdvance]]); the FROM store is
    *     resolved by key, never rebuilt.
    *   ann-build     <embeddingsParquet> <corpusKey> [--nlist N] —
    *     build + publish the IVF index
    *     ([[graft.operators.Similarity.annIndexStore]]).
    *   span-build    <docsParquet> <corpusKey> [--window K] — build +
    *     publish the exact-substring window-digest registry
    *     ([[graft.operators.Dedup.spanStore]]).
    *   span-advance  <newDocsParquet> <newCorpusKey> --from-key KEY —
    *     roll a published registry forward by one drop
    *     ([[graft.operators.Dedup.spanStoreAdvance]]).
    *   span-clean    <docsParquet> <outDir> --from-key KEY — rewrite a
    *     drop against a published registry (Lee et al. 2022 removal,
    *     [[graft.operators.Dedup.removeRepeatedSpansStored]]) and write
    *     the cleaned corpus to `outDir`.
    *
    * `corpusKey` follows the store keying contract: `<dropDir>[#tag]`,
    * where `<dropDir>/documents.parquet` (dedup) or `/embeddings.parquet`
    * (ann) is statted into the key so a regenerated drop at the same path
    * is a new store. Returns one JSON line naming the published dir. */
  /** Minimal JSON string encoder for the CLI's one-line output contract:
    * store paths (and the user-supplied corpus keys embedded in them)
    * may carry quotes/backslashes/control bytes — emit a valid JSON
    * string literal regardless. */
  private[graft] def jstr(s: String): String =
    s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < 0x20 => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }.mkString("\"", "", "\"")

  /** RETENTION for ANN advance chains (`ann-gc`): advance links and
    * superseded compaction inputs otherwise accumulate forever —
    * BASE-pointer orphaning is documented as "the store root's job"
    * ([[graft.operators.Similarity.AnnBaseFile]]), and this is the tool
    * that does that job. Given a COMPACTED store (its `COMPACTED_FROM`
    * provenance names the chain head it folded) and the store root:
    *
    *  1. walk the superseded chain head→base and VERIFY every link
    *     (centroids + lists + drift sidecar present, no pointer cycle),
    *  2. verify the compacted store actually holds the chain's rows
    *     (count parity over the lists filesets — refuse on mismatch:
    *     deleting inputs a compaction did NOT absorb loses data),
    *  3. delete links from the head DOWN, STOPPING at the first link
    *     that must survive: referenced by a BASE pointer of any store
    *     under the root OUTSIDE the chain (another advance chain grew
    *     from it — deleting it would orphan that chain), or living
    *     outside the store root. Retention propagates down the chain:
    *     a surviving link's own BASE targets must survive with it, so
    *     everything below the first survivor is retained too.
    *
    * BASE pointers are the only reference mechanism a store root has
    * (the parquet-over-object-store reality: snapshots reference files;
    * GC may remove only what no live snapshot references). A client
    * holding a bare dir handle outside the root is, as with any table
    * format, the operator's retention window to honor. `--dry-run true`
    * reports the full plan — chain, integrity, would-delete, retained
    * (with reasons) — without touching anything. */
  def annGcCommand(spark: SparkSession, compactedDir: String, root: String,
                   dryRun: Boolean): String = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    def fsOf(p: Path) = p.getFileSystem(conf)
    def norm(s: String): String = {
      val p = new Path(s); fsOf(p).makeQualified(p).toString
    }
    def readPtr(dir: String, name: String): Option[String] =
      graft.sources.Publish.readText(conf, new Path(s"$dir/$name"))
    val head = readPtr(compactedDir, "COMPACTED_FROM").getOrElse(
      throw new IllegalArgumentException(s"'$compactedDir' carries no " +
        "COMPACTED_FROM provenance — not a compacted ANN store; refusing " +
        "(ann-gc deletes only what a compaction provably superseded)"))
    // superseded chain, head → base; cycle-guarded (a corrupt pointer
    // loop must refuse, not spin)
    val chain = scala.collection.mutable.Buffer.empty[String]
    val seen = scala.collection.mutable.Set.empty[String]
    var cur: Option[String] = Some(head)
    while (cur.isDefined) {
      val d = cur.get
      if (!seen.add(norm(d)))
        throw new IllegalStateException(
          s"BASE pointer cycle in the chain at '$d'; refusing")
      chain += d
      cur = readPtr(d, "BASE")
    }
    def integrity(dir: String): Seq[String] =
      Seq("centroids.parquet", "lists.parquet",
          graft.operators.Similarity.DriftSidecarFile)
        .filter { f =>
          val p = new Path(s"$dir/$f"); !fsOf(p).exists(p)
        }.map(f => s"missing $f")
    val badLinks = chain.map(d => d -> integrity(d)).filter(_._2.nonEmpty)
    val badCpt = integrity(compactedDir)
    if (badLinks.nonEmpty || badCpt.nonEmpty)
      throw new IllegalStateException("chain/compacted integrity failed — " +
        "refusing to delete anything: " +
        (badLinks.map { case (d, m) => s"$d: ${m.mkString(",")}" } ++
          badCpt.map(m => s"$compactedDir: $m")).mkString("; "))
    // the compaction must have absorbed every chain row — count parity
    // over the lists filesets (explicit schema: empty links are
    // footer-less by contract)
    def listCount(dir: String): Long = spark.read
      .schema("nid BIGINT, nv ARRAY<DOUBLE>, nn DOUBLE, cell BIGINT")
      .parquet(s"$dir/lists.parquet").count()
    val chainRows = chain.map(listCount).sum
    val cptRows = listCount(compactedDir)
    if (cptRows != chainRows)
      throw new IllegalStateException(s"compacted store holds $cptRows " +
        s"rows but the chain holds $chainRows — the compaction did not " +
        "absorb this chain (or data was lost); refusing to delete")
    // external BASE references: every OTHER store under the root that
    // points at a chain link keeps that link (and everything below it)
    val chainSet = chain.map(norm).toSet
    val rootPath = new Path(root)
    val rfs = fsOf(rootPath)
    val others =
      if (!rfs.exists(rootPath)) Seq.empty[String]
      else rfs.listStatus(rootPath).filter(_.isDirectory)
        .map(s => new Path(s.getPath, "store").toString).toSeq
        .filter(s => rfs.exists(new Path(s)))
        .filterNot(s => chainSet(norm(s)) || norm(s) == norm(compactedDir))
    val referenced: Map[String, Seq[String]] = others
      .flatMap(s => readPtr(s, "BASE").map(t => norm(t) -> s))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val rootPrefix = norm(root).stripSuffix("/") + "/"
    def survivor(link: String): Option[String] =
      referenced.get(norm(link))
        .map(rs => s"referenced by BASE of ${rs.sorted.mkString(", ")}")
        .orElse(if (!norm(link).startsWith(rootPrefix))
          Some("outside the store root") else None)
    val firstKeep = chain.indexWhere(l => survivor(l).isDefined)
    val (deletable, retained) =
      if (firstKeep < 0) (chain.toSeq, Seq.empty[String])
      else (chain.take(firstKeep).toSeq, chain.drop(firstKeep).toSeq)
    val retainedWhy = retained.zipWithIndex.map { case (l, i) =>
      l -> survivor(l).getOrElse(
        s"base of the retained link '${retained(i - 1)}'")
    }
    if (!dryRun) deletable.foreach { l =>
      // stores live at <root>/<key>/store — retire the keyed dir
      val p = new Path(l)
      val unit = if (p.getName == "store") p.getParent else p
      fsOf(unit).delete(unit, true)
    }
    s"""{"verb":"ann-gc","compacted":${jstr(compactedDir)},"dry_run":$dryRun,""" +
      s""""chain":${chain.map(jstr).mkString("[", ",", "]")},""" +
      s""""rows":$cptRows,""" +
      s""""deleted":${deletable.map(jstr).mkString("[", ",", "]")},""" +
      s""""retained":${retainedWhy.map { case (l, why) =>
        s"""{"dir":${jstr(l)},"reason":${jstr(why)}}"""
      }.mkString("[", ",", "]")}}"""
  }

  def storeCommand(spark: SparkSession, verb: String, input: String,
                   key: String, opts: Map[String, String]): String = {
    val n = opts.get("--ngram").map(_.toInt).getOrElse(3)
    val thr = opts.get("--threshold").map(_.toDouble).getOrElse(0.8)
    verb match {
      case "dedup-build" =>
        val s = graft.operators.Dedup.dedupStore(
          spark.read.parquet(input), n, thr, key)
        s"""{"verb":"dedup-build","store":${jstr(s.dir)},"clusters":${s.clusters.count()}}"""
      case "dedup-advance" =>
        val fromKey = opts.getOrElse("--from-key", throw new IllegalArgumentException(
          "dedup-advance requires --from-key <corpusKey of the store to advance>"))
        val from = graft.operators.Dedup.openStore(spark, fromKey, n, thr)
          .getOrElse(throw new IllegalArgumentException(
            s"no published dedup store for --from-key '$fromKey' (ngram=$n, threshold=$thr)"))
        val s = graft.operators.Dedup.dedupStoreAdvance(
          from, spark.read.parquet(input), n, thr, key)
        s"""{"verb":"dedup-advance","store":${jstr(s.dir)},"clusters":${s.clusters.count()}}"""
      case "ann-build" =>
        val nlist = opts.get("--nlist").map(_.toInt).getOrElse(16)
        val s = graft.operators.Similarity.annIndexStore(
          spark.read.parquet(input), nlist, key)
        s"""{"verb":"ann-build","store":${jstr(s.dir)},"nlist":$nlist,"vectors":${s.lists.count()}}"""
      case "span-build" =>
        val k = opts.get("--window").map(_.toInt).getOrElse(8)
        val s = graft.operators.Dedup.spanStore(spark.read.parquet(input), k, key)
        s"""{"verb":"span-build","store":${jstr(s.dir)},"digests":${s.spans.count()}}"""
      case "span-advance" =>
        val k = opts.get("--window").map(_.toInt).getOrElse(8)
        val fromKey = opts.getOrElse("--from-key", throw new IllegalArgumentException(
          "span-advance requires --from-key <corpusKey of the store to advance>"))
        val from = graft.operators.Dedup.openSpanStore(spark, fromKey, k)
          .getOrElse(throw new IllegalArgumentException(
            s"no published span store for --from-key '$fromKey' (window=$k)"))
        val s = graft.operators.Dedup.spanStoreAdvance(
          from, spark.read.parquet(input), k, key)
        s"""{"verb":"span-advance","store":${jstr(s.dir)},"digests":${s.spans.count()}}"""
      // span-clean rewrites a new drop against a PUBLISHED registry and
      // writes the cleaned corpus: <input> = docs parquet, key = OUT dir
      case "span-clean" =>
        val k = opts.get("--window").map(_.toInt).getOrElse(8)
        val fromKey = opts.getOrElse("--from-key", throw new IllegalArgumentException(
          "span-clean requires --from-key <corpusKey of the registry to clean against>"))
        val from = graft.operators.Dedup.openSpanStore(spark, fromKey, k)
          .getOrElse(throw new IllegalArgumentException(
            s"no published span store for --from-key '$fromKey' (window=$k)"))
        graft.operators.Dedup.removeRepeatedSpansStored(
            spark.read.parquet(input), from, k)
          .write.mode("overwrite").parquet(key)
        import org.apache.spark.sql.functions.{coalesce, count, lit, sum}
        val st = spark.read.parquet(key)
          .agg(count(lit(1)), coalesce(sum("n_removed"), lit(0L))).head()
        s"""{"verb":"span-clean","out":${jstr(key)},"docs":${st.getLong(0)},"tokens_removed":${st.getLong(1)}}"""
      // ann-gc retires a compacted-away advance chain: <input> =
      // compacted store dir, key = store ROOT scanned for BASE references
      case "ann-gc" =>
        annGcCommand(spark, input, key,
          dryRun = opts.get("--dry-run").exists(_.toBoolean))
      case other => throw new IllegalArgumentException(s"unknown store verb: $other")
    }
  }

  private val storeVerbs = Set("dedup-build", "dedup-advance", "ann-build",
    "span-build", "span-advance", "span-clean", "ann-gc")

  private def usageExit(): Nothing = {
    System.err.println(
      "usage: IngestCli <csv|csv-compat|hivetext|avro|jsonl|rcfile|rcfile-compat|orc|compact> <input> <output> " +
        "[--arity N] [--salt BUCKETS] [--regions N] [--conf FILE] [--splits FILE] " +
        "[--key-fields I,J,..] [--family NAME] [--qualifiers index|name] " +
        "[--load-ts TS] [--stream-checkpoint DIR] [--stream-compact-every N] " +
        "[--schema DDL (jsonl)] [--compact-mode minor|major]\n" +
        "   or: IngestCli dedup-build <docsParquet> <corpusKey> [--ngram N] [--threshold T]\n" +
        "       IngestCli dedup-advance <newDocsParquet> <newCorpusKey> --from-key KEY [--ngram N] [--threshold T]\n" +
        "       IngestCli ann-build <embeddingsParquet> <corpusKey> [--nlist N]\n" +
        "       IngestCli span-build <docsParquet> <corpusKey> [--window K]\n" +
        "       IngestCli span-advance <newDocsParquet> <newCorpusKey> --from-key KEY [--window K]\n" +
        "       IngestCli span-clean <docsParquet> <outDir> --from-key KEY [--window K]\n" +
        "       IngestCli ann-gc <compactedStoreDir> <storeRoot> [--dry-run true] — list/verify the chain the\n" +
        "         compaction superseded and delete its unreferenced links (BASE-referenced links survive)")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 3) usageExit()
    val Array(format, input, output) = args.take(3)
    val rest = args.drop(3)
    // strict flag parsing: unknown or dangling flags are errors, not noise
    if (rest.length % 2 != 0) usageExit()
    val opts = rest.grouped(2).map { case Array(k, v) =>
      if (!knownFlags.contains(k)) {
        System.err.println(s"unknown option: $k")
        usageExit()
      }
      k -> v
    }.toMap
    val base = configFrom(opts)

    val builder = GraftSession
      .builder("graft-ingest",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.ui.enabled", "false")
    // S5 config source: merge the properties file into the SparkConf
    opts.get("--conf").foreach(f =>
      loadConf(f).foreach { case (k, v) => builder.config(k, v) })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    try {
      // continuous-ingestion mode: watch `input` as a file-source stream
      // and bulk-load each micro-batch independently (csv-compat/hivetext
      // parse semantics; exactly-once via the checkpoint)
      // admin verb: layout compaction (minor sweep / in-place major)
      // driven from the same CLI that ingests
      if (format == "compact") {
        val mode = opts.getOrElse("--compact-mode", "minor")
        val absorbed = compactCommand(spark, mode, input, output, base)
        println(s"""{"format":"compact","mode":"$mode","filesets":$absorbed}""")
        return // finally still stops the session
      }
      // admin verbs: durable-store build / maintenance (<output> = corpusKey)
      if (storeVerbs.contains(format)) {
        println(storeCommand(spark, format, input, output, opts))
        return // finally still stops the session
      }
      opts.get("--stream-checkpoint").foreach { ckpt =>
        val (cfg, delim) = streamConfig(format, base).getOrElse {
          System.err.println(s"streaming supports csv-compat|hivetext, not: $format")
          sys.exit(2)
        }
        val batches = graft.streaming.StreamingIngest.run(
          spark, input, output, ckpt, cfg, delim,
          compactEvery = opts.get("--stream-compact-every").map(_.toInt).getOrElse(0))
        println(s"""{"format":"$format","mode":"stream","batches":${batches.length},""" +
          s""""cells":${batches.map(_.cells).sum}}""")
        return // finally still stops the session
      }
      println(loadCommand(spark, format, input, output, base, opts))
    } finally spark.stop()
  }
}
