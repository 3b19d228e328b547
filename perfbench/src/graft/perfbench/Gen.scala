package graft.perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generator. Everything the engine reads is derived from
  * `--seed` here, in the harness process; nothing is read from outside the
  * work directory.
  *
  * Delimited rows are shaped like the reference sample (9 positional
  * columns: zip, eia_id, utility_name, state, service_type, ownership,
  * comm_rate, ind_rate, res_rate). Every block of 100 rows holds exactly
  * [[QuotedPerBlock]] RFC-4180 quoted-comma rows, [[ShortPerBlock]] rows
  * with 3 fields, [[LongPerBlock]] rows with 10 fields (an unquoted comma
  * in the utility name) and [[NullKeyPerBlock]] rows with an empty zip, at
  * seeded positions, so the planted reject shares are exact. `eia_id` is
  * `idBase + row index`, so every row key is unique across the datasets
  * one run generates. */
object Gen {
  val Arity = 9
  val BlockRows = 100
  val QuotedPerBlock = 2
  val ShortPerBlock = 1
  val LongPerBlock = 1
  val NullKeyPerBlock = 1

  sealed trait Kind
  case object Clean extends Kind
  case object Quoted extends Kind
  case object Short extends Kind
  case object Long extends Kind
  case object NullKey extends Kind

  /** One generated line plus the fields each parser is expected to see:
    * `strict` under RFC-4180 parsing with a 9-column schema (short rows
    * padded with nulls, long rows truncated, empty fields read as null),
    * `naive` under an exact-arity `split(",")`. None = the row lands in
    * the quarantine (unkeyable, or rejected by the arity filter). */
  final case class Row(line: String, kind: Kind,
                       strict: Option[Array[String]], naive: Option[Array[String]])

  private val States = Array("AL", "AK", "AZ", "AR", "CA", "CO", "CT", "DE", "DC", "FL",
    "GA", "HI", "ID", "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MD", "MA", "MI", "MN",
    "MS", "MO", "MT", "NE", "NV", "NH", "NJ", "NM", "NY", "NC", "ND", "OH", "OK", "OR",
    "PA", "PR", "RI", "SC", "SD", "TN", "TX", "UT", "VT", "VA", "WA", "WV", "WI", "WY")
  private val Names = Array("Alabama Power Co", "Appalachian Power Co", "Arizona Public Service Co",
    "Entergy Arkansas Inc", "Pacific Gas & Electric Co", "Public Service Co of Colorado",
    "Connecticut Light & Power Co", "Delmarva Power", "Florida Power & Light Co",
    "Georgia Power Co", "Hawaiian Electric Co Inc", "Idaho Power Co", "Commonwealth Edison Co",
    "Indiana Michigan Power Co", "Interstate Power and Light Co", "Kansas Gas & Electric Co",
    "Kentucky Utilities Co", "Central Maine Power Co", "Baltimore Gas & Electric Co",
    "Consumers Energy Co", "Northern States Power Co", "Union Electric Co", "NorthWestern Energy")
  private val CommaNames = Array("Duke Energy Carolinas, LLC", "Duke Energy Progress, Inc",
    "Ohio Edison Co, The", "PPL Electric Utilities Corp, Inc")
  private val Services = Array("Bundled", "Delivery", "Energy")

  private def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Row kinds of one 100-row block, at seeded positions. */
  private def blockKinds(seed: Long, block: Long): Array[Kind] = {
    val kinds: Array[Kind] = Array.fill[Kind](BlockRows)(Clean)
    var k = 0
    def put(kind: Kind, n: Int): Unit = (0 until n).foreach { _ => kinds(k) = kind; k += 1 }
    put(Quoted, QuotedPerBlock); put(Short, ShortPerBlock)
    put(Long, LongPerBlock); put(NullKey, NullKeyPerBlock)
    val rnd = new SplittableRandom(mix(seed, -1L - block))
    var i = BlockRows - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t
      i -= 1
    }
    kinds
  }

  /** Left-pad a non-negative number with zeros to `width` digits. */
  private def padded(v: Long, width: Int): String = {
    val s = v.toString
    if (s.length >= width) s else "0" * (width - s.length) + s
  }

  /** A rate in [0.02, 0.32) with 12 decimals, like the reference's. */
  private def rate(rnd: SplittableRandom): String =
    "0." + padded(20000000000L + rnd.nextLong(300000000000L), 12)

  /** Rows `[from, until)` of the dataset `(seed, idBase)`. */
  def rows(seed: Long, idBase: Long, from: Long, until: Long): Iterator[Row] = {
    var kinds: Array[Kind] = null
    var kindsBlock = -1L
    (from until until).iterator.map { i =>
      val block = i / BlockRows
      if (block != kindsBlock) { kinds = blockKinds(seed, block); kindsBlock = block }
      val kind = kinds((i % BlockRows).toInt)
      val rnd = new SplittableRandom(mix(seed, i))
      val zip = padded(rnd.nextInt(100000), 5)
      val eia = (idBase + i).toString
      val name = Names(rnd.nextInt(Names.length))
      val comma = CommaNames(rnd.nextInt(CommaNames.length))
      val state = States(rnd.nextInt(States.length))
      val tail = Array(Services(rnd.nextInt(Services.length)), "Investor Owned",
        rate(rnd), rate(rnd), rate(rnd))
      kind match {
        case Clean =>
          val f = Array(zip, eia, name, state) ++ tail
          Row(f.mkString(","), kind, Some(f), Some(f))
        case Quoted =>
          val f = Array(zip, eia, comma, state) ++ tail
          val line = (Array(zip, eia, "\"" + comma + "\"", state) ++ tail).mkString(",")
          Row(line, kind, Some(f), None)
        case Short =>
          Row(Array(zip, eia, name).mkString(","), kind, None, None)
        case Long =>
          val line = (Array(zip, eia, comma.replace(", ", ","), state) ++ tail).mkString(",")
          Row(line, kind, Some(line.split(",", -1).take(Arity)), None)
        case NullKey =>
          val f = Array("", eia, name, state) ++ tail
          Row(f.mkString(","), kind, None, Some(f))
      }
    }
  }

  /** What a written delimited dataset should produce. */
  final case class Tally(lines: Long, bytes: Long, strictKeyable: Long,
                         strictQuarantined: Long, naiveKept: Long,
                         naiveQuarantined: Long, arityMismatchKept: Long) {
    def +(o: Tally): Tally = Tally(lines + o.lines, bytes + o.bytes,
      strictKeyable + o.strictKeyable, strictQuarantined + o.strictQuarantined,
      naiveKept + o.naiveKept, naiveQuarantined + o.naiveQuarantined,
      arityMismatchKept + o.arityMismatchKept)
  }
  val EmptyTally: Tally = Tally(0, 0, 0, 0, 0, 0, 0)

  /** Write rows `[from, until)` as one newline-terminated CSV file. */
  def writeCsv(file: File, seed: Long, idBase: Long, from: Long, until: Long,
               keep: Row => Unit = _ => ()): Tally = {
    file.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(file), UTF_8), 1 << 16)
    var t = EmptyTally
    try rows(seed, idBase, from, until).foreach { r =>
      w.write(r.line); w.write('\n')
      keep(r)
      t = t + Tally(1, r.line.getBytes(UTF_8).length + 1L,
        if (r.strict.isDefined) 1 else 0, if (r.strict.isDefined) 0 else 1,
        if (r.naive.isDefined) 1 else 0, if (r.naive.isDefined) 0 else 1,
        if (r.kind == Long) 1 else 0)
    } finally w.close()
    t
  }

  /** The engine's composite row key: raw MD5 of each key field's UTF-8
    * bytes (fields 0-3), concatenated — computed independently here. */
  def rowKey(fields: Array[String]): Array[Byte] = {
    val md = MessageDigest.getInstance("MD5")
    fields.take(4).flatMap(f => md.digest(f.getBytes(UTF_8)))
  }

  // ---------------------------------------------------------------- corpus

  /** A near-duplicate corpus: `docs` documents of [[DocWords]] words drawn
    * from a [[Vocab]]-word vocabulary; the last `planted` documents are
    * copies of earlier ones with exactly `e` words replaced, `e` cycling
    * through [[Edits]] (0: an exact duplicate). `pairs` holds each planted pair (original, copy)
    * with its exact word-`n`-gram Jaccard. */
  final case class Corpus(texts: Array[String], pairs: Seq[(Long, Long, Double)])

  val DocWords = 50
  val Vocab = 4000
  val Edits: Seq[Int] = Seq(0, 1, 3, 5, 8, 12)

  def corpus(seed: Long, docs: Int, planted: Int, n: Int): Corpus = {
    val rnd = new SplittableRandom(mix(seed, 0x5eedL))
    val vocab = Array.fill(Vocab) {
      val len = 3 + rnd.nextInt(6)
      new String(Array.fill(len)(('a' + rnd.nextInt(26)).toChar))
    }
    val base = docs - planted
    val words = Array.fill(base)(Array.fill(DocWords)(vocab(rnd.nextInt(Vocab))))
    val copies = (0 until planted).map { p =>
      val src = rnd.nextInt(base)
      val w = words(src).clone()
      val e = Edits(p % Edits.size)
      val positions = scala.util.Random.javaRandomToRandom(new java.util.Random(rnd.nextLong()))
        .shuffle((0 until DocWords).toVector).take(e)
      positions.foreach(i => w(i) = vocab(rnd.nextInt(Vocab)))
      (src, w)
    }
    val texts = (words ++ copies.map(_._2)).map(_.mkString(" "))
    val pairs = copies.zipWithIndex.map { case ((src, _), p) =>
      val copy = base + p
      (src.toLong, copy.toLong, jaccard(texts(src), texts(copy), n))
    }
    Corpus(texts, pairs)
  }

  /** Distinct word n-grams of a single-space-separated text. */
  def shingles(text: String, n: Int): Set[String] =
    text.split(" ", -1).sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet

  def jaccard(a: String, b: String, n: Int): Double = {
    val (x, y) = (shingles(a, n), shingles(b, n))
    val common = x.count(y.contains)
    common.toDouble / (x.size + y.size - common)
  }

  def writeCorpus(file: File, c: Corpus): Long = {
    file.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(file), UTF_8), 1 << 16)
    try c.texts.zipWithIndex.foreach { case (t, i) => w.write(s"$i\t$t\n") }
    finally w.close()
    file.length()
  }
}
