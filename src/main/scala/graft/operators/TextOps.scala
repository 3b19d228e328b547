package graft.operators

import graft.operators.Dedup.MaterializeSyntax
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for LLM training-data pipelines: tokenization,
  * shingling, quality scoring, language-ID, fingerprinting.
  *
  * All pure Catalyst higher-order functions (`transform`/`filter`/
  * `aggregate` over arrays) — no UDFs, so everything is codegen'd,
  * NULL-safe, and embarrassingly parallel: per-document computation with no
  * shuffle, which is exactly what survives a 100 TB corpus (the only
  * shuffles in this module's consumers are the dedup joins in [[Dedup]]).
  *
  * Determinism note: every score is built from integer counts and exact
  * string ops (divisions happen once, in double, from exact ints), so the
  * DuckDB oracle reproduces results bit-for-bit.
  */
object TextOps {

  /** Single-space tokenization (the corpus is space-joined words; use
    * [[tokenCount]]'s regex for free-form text). Keeps empty tokens like
    * Java/DuckDB split semantics. */
  def tokens(text: Column): Column = split(text, " ", -1)

  /** Robust token count: number of maximal non-whitespace runs. */
  def tokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\S+"), lit(0)))

  /** FLESCH READING EASE per document — the classic readability score
    * (206.835 − 1.015·words/sentences − 84.6·syllables/words) a quality
    * pipeline bins corpora by before mixing (children's text, prose,
    * legalese and code separate cleanly). Sentences are maximal [.!?]+
    * runs (floored at 1 — a fragment is one sentence); syllables are the
    * standard vowel-group proxy (maximal [aeiouy]+ runs, case-folded).
    * All three counts are exact integers from one regex pass each; the
    * score is a fixed-shape double expression on those integers
    * (round-6) — shuffle-free projection, engine-identical. Output:
    * (doc_id, n_words, n_sentences, n_syllables, flesch). */
  def readability(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
        tokenCount(col("text")).as("n_words"),
        greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))),
          lit(1)).as("n_sentences"),
        size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
          .as("n_syllables"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
        round(lit(206.835)
          - lit(1.015) * (col("n_words").cast(DoubleType)
            / col("n_sentences").cast(DoubleType))
          - lit(84.6) * (col("n_syllables").cast(DoubleType)
            / greatest(col("n_words"), lit(1)).cast(DoubleType)), 6).as("flesch"))

  /** DuckDB mirror of [[readability]] (oracle builder). */
  def readabilitySql(table: String = "documents"): String =
    s"""WITH c AS (SELECT doc_id,
            CAST(len(regexp_extract_all(text, '\\S+')) AS INT) n_words,
            CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS INT)
              n_sentences,
            CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS INT)
              n_syllables
          FROM $table)
        SELECT doc_id, n_words, n_sentences, n_syllables,
          round(206.835
            - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
            - 84.6 * (CAST(n_syllables AS DOUBLE)
              / CAST(greatest(n_words, 1) AS DOUBLE)), 6) AS flesch
        FROM c"""

  /** Context-window chunking — split each document into token windows of
    * `width` tokens advancing by `stride` (overlap = width − stride), the
    * standard preprocessing for RAG passage indexing and for packing long
    * documents into a model's context length. One window starts at every
    * stride multiple below the token count, so the final windows may be
    * short (a document never loses its tail) and every document emits at
    * least one chunk. Pure per-document explode — no shuffle, no state;
    * at 100 TB this is a map-only pass whose output partitioning simply
    * inherits the input's.
    *
    * Output: (doc_id, chunk_id, start_tok, n_tok, chunk_text), where
    * chunk_id = start_tok / stride. */
  def chunkWindows(docs: org.apache.spark.sql.DataFrame, width: Int,
                   stride: Int): org.apache.spark.sql.DataFrame = {
    require(width > 0 && stride > 0 && stride <= width,
      "need 0 < stride <= width")
    docs.select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), size(col("w")) - 1, lit(stride))).as("start_tok"))
      .select(col("doc_id"),
        (col("start_tok") / stride).cast(IntegerType).as("chunk_id"),
        col("start_tok"),
        least(lit(width), size(col("w")) - col("start_tok")).as("n_tok"),
        array_join(slice(col("w"), col("start_tok") + 1, lit(width)), " ")
          .as("chunk_text"))
  }

  /** BPE-ish subword estimate: ceil(len/4) units per word (a cheap proxy
    * for byte-pair-encoded token counts; ~4 chars/token heuristic). */
  def bpeEstimate(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, w) => acc + ceil(length(w) / lit(4.0)).cast(LongType))

  /** Word n-gram shingles in POSITION order (one per starting token,
    * duplicates kept) — the input to rolling/winnowing schemes. Docs with
    * < n tokens yield an empty array. */
  def positionalShingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + lit(1), lit(n)), " ")))
      .otherwise(array())
  }

  /** Positional word n-grams as an array of n-field structs (w0..w{n-1}) —
    * pure codegen (`arrays_zip` of the token array with its shifted
    * selves + `slice`), unlike the column forms above whose `transform`
    * lambdas Spark evaluates interpreted per position. Tokens are
    * space-free (split on space), so struct equality ≡ space-joined
    * string equality: `array_distinct` on the structs is shingle-SET
    * semantics and [[shingleString]] recovers the canonical string AFTER
    * explode, where `concat_ws` is codegen'd per row. */
  def shingleStructs(text: Column, n: Int): Column = {
    val toks = tokens(text)
    // shifted copies use an EXACT remaining-length (size - i): an
    // Int.MaxValue "rest of array" length overflows slice's start+length
    // arithmetic into an empty array, which arrays_zip then NULL-pads
    val z = arrays_zip((0 until n).map { i =>
      (if (i == 0) toks
       else slice(toks, lit(i + 1), greatest(size(toks) - i, lit(0)))).as(s"w$i")
    }: _*)
    slice(z, lit(1), greatest(size(toks) - (n - 1), lit(0)))
  }

  /** Space-joined string form of one [[shingleStructs]] element. */
  def shingleString(sh: Column, n: Int): Column =
    concat_ws(" ", (0 until n).map(i => sh.getField(s"w$i")): _*)

  /** One row per (input row, distinct word n-gram of its `text`): the
    * `keep` columns, then the n-gram's space-joined string as `as`. The
    * set is taken on the [[shingleStructs]] and the string formed after
    * the explode. Rows with fewer than n tokens or a null text give none. */
  def distinctShingleRows(docs: org.apache.spark.sql.DataFrame, n: Int, as: String,
                          keep: String*): org.apache.spark.sql.DataFrame =
    docs.select(keep.map(col) :+
        explode(array_distinct(shingleStructs(col("text"), n))).as("t"): _*)
      .select(keep.map(col) :+ shingleString(col("t"), n).as(as): _*)

  /** Quality-score feature vector: token count, type-token ratio, average
    * word length, stopword ratio. */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "is", "to", "in")

  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val n = size(toks)
    Seq(
      "n_tokens" -> n,
      "n_distinct" -> size(array_distinct(toks)),
      "ttr" -> (size(array_distinct(toks)).cast(DoubleType) / n),
      "avg_word_len" -> (length(regexp_replace(text, " ", "")).cast(DoubleType) / n),
      "stopword_ratio" ->
        (size(filter(toks, t => t.isin(stopwords: _*))).cast(DoubleType) / n))
  }

  /** Train a LINEAR QUALITY PROBE in-engine by EXACT least squares —
    * the learned-model step of a curation stack (a production pass
    * trains a fastText/logreg quality classifier on weak labels and
    * scores the corpus with it), expressed so the TRAINING itself is
    * oracle-checkable: 2 integer features (token count, stopword count)
    * + intercept, weak label y = [[langId]] == "en" (the deterministic
    * in-engine labeler), solved in closed form by Cramer's rule over
    * the 3×3 normal equations. Every moment is an EXACT integer sum
    * (one map-side-combinable aggregate over the corpus — the
    * events_trend_ols discipline at one more dimension; per-row
    * products stay in exact Long range — a doc's token count is far
    * below 2³¹ — and the sums run in DECIMAL(38,0), exact for any
    * moment up to 38 digits, comfortably past 100 TB where the largest
    * moment is ~10¹⁷), and the degree-3 DETERMINANT polynomials run on
    * the DRIVER in BigInteger over the collected 1-row moments —
    * unbounded precision, because n·s11·s22 exceeds 38 digits at the
    * very corpus scale the probe targets (10¹¹ docs → ~10⁴⁵), where an
    * in-plan decimal would overflow to NULL silently under non-ANSI
    * semantics. Only the final coefficient divisions touch floating
    * point (the same exact integers convert to the same IEEE doubles
    * in any engine). Degenerate designs (det = 0 — e.g. an empty or
    * constant corpus) yield NULL coefficients, never a throw.
    *
    * Scale shape: ONE pass over the corpus, nine fixed-width moments on
    * the wire, all matrix algebra on the driver (the aggregate is
    * EXECUTED here — training is an action, like any model fit; scoring
    * stays a lazy shuffle-free projection against the 3-vector).
    * Output: (n_docs, b0, b1, b2) — ŷ = b0 + b1·n_tokens +
    * b2·n_stopwords. */
  def linearQualityProbe(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}
    val dec = DecimalType(38, 0)
    val x1 = tokenCount(col("text")).cast(LongType)
    val x2 = size(filter(tokens(col("text")),
      t => t.isin(stopwords: _*))).cast(LongType)
    val y = when(langId(col("text")) === "en", 1L).otherwise(0L)
    def s(c: org.apache.spark.sql.Column) =
      coalesce(sum(c.cast(dec)), lit(0L).cast(dec))
    val row = docs.select(x1.as("x1"), x2.as("x2"), y.as("y"))
      .agg(count(lit(1)).as("n"),
        s(col("x1")).as("sx1"), s(col("x2")).as("sx2"),
        s(col("x1") * col("x1")).as("s11"),
        s(col("x1") * col("x2")).as("s12"),
        s(col("x2") * col("x2")).as("s22"),
        s(col("y")).as("sy"),
        s(col("x1") * col("y")).as("s1y"),
        s(col("x2") * col("y")).as("s2y"))
      .collect()(0)
    val nDocs = row.getLong(0)
    // a DECIMAL(38,0) sum that overflows becomes NULL under non-ANSI
    // semantics — surface that as a diagnosable error, not a bare NPE
    // (out of range below ~10^11 docs; see the scale note above)
    def mom(i: Int): BigInteger = {
      val d = row.getDecimal(i)
      if (d == null) throw new ArithmeticException(
        s"linearQualityProbe: moment '${row.schema(i).name}' overflowed " +
          "DECIMAL(38,0) — corpus exceeds the probe's exact-moment range")
      d.toBigInteger
    }
    val n = BigInteger.valueOf(nDocs)
    val (sx1, sx2, s11, s12) = (mom(1), mom(2), mom(3), mom(4))
    val (s22, sy, s1y, s2y) = (mom(5), mom(6), mom(7), mom(8))
    def det3(a: BigInteger, b: BigInteger, c: BigInteger,
             d: BigInteger, e: BigInteger, f: BigInteger,
             g: BigInteger, h: BigInteger, i: BigInteger): BigInteger =
      a.multiply(e.multiply(i).subtract(f.multiply(h)))
        .subtract(b.multiply(d.multiply(i).subtract(f.multiply(g))))
        .add(c.multiply(d.multiply(h).subtract(e.multiply(g))))
    // normal equations: [n sx1 sx2; sx1 s11 s12; sx2 s12 s22] β = [sy s1y s2y]
    val det = det3(n, sx1, sx2, sx1, s11, s12, sx2, s12, s22)
    val det0 = det3(sy, sx1, sx2, s1y, s11, s12, s2y, s12, s22)
    val det1 = det3(n, sy, sx2, sx1, s1y, s12, sx2, s2y, s22)
    val det2 = det3(n, sx1, sy, sx1, s11, s1y, sx2, s12, s2y)
    // the oracle's division semantics exactly: each exact integer → the
    // nearest IEEE double, divide, round HALF_UP at 6 places
    def beta(num: BigInteger): java.lang.Double =
      if (det.signum == 0) null
      else JBigDecimal.valueOf(
        new JBigDecimal(num).doubleValue() / new JBigDecimal(det).doubleValue())
        .setScale(6, RoundingMode.HALF_UP).doubleValue()
    val spark = docs.sparkSession
    spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        nDocs, beta(det0), beta(det1), beta(det2))),
      StructType(Seq(
        StructField("n_docs", LongType, nullable = false),
        StructField("b0", DoubleType), StructField("b1", DoubleType),
        StructField("b2", DoubleType))))
  }

  /** The probe's train→score→eval loop closed: fit
    * [[linearQualityProbe]] on the corpus, score every document with the
    * published 3-vector (one broadcast of the 1-row model — scoring is a
    * shuffle-free projection), and report TRAINING accuracy at the 0.5
    * threshold. Comparisons run on the same rounded-double coefficients
    * both engines derive from the exact moments, so the readout is
    * hash-checkable; a degenerate model (NULL coefficients) scores
    * nothing correct rather than throwing. Output:
    * (n_docs, n_correct, accuracy_ppm — NULL on an empty corpus). */
  def linearQualityProbeAccuracy(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val probe = linearQualityProbe(docs).select(col("b0"), col("b1"), col("b2"))
    val x1 = tokenCount(col("text")).cast(LongType)
    val x2 = size(filter(tokens(col("text")),
      t => t.isin(stopwords: _*))).cast(LongType)
    val y = when(langId(col("text")) === "en", 1L).otherwise(0L)
    docs.select(x1.as("x1"), x2.as("x2"), y.as("y"))
      .crossJoin(broadcast(probe)) // 1-row model, documented pattern
      .select(col("y"),
        (col("b0") + col("b1") * col("x1") + col("b2") * col("x2")).as("yhat"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(when((col("yhat") >= 0.5) === (col("y") === 1L), 1L)
          .otherwise(0L)), lit(0L)).as("n_correct"))
      .select(col("n_docs"), col("n_correct"),
        when(col("n_docs") > 0,
          expr("n_correct * 1000000L div n_docs")).as("accuracy_ppm"))
  }

  /** CODE-vs-PROSE detector — the mixture-weighting signal every
    * pretraining curation pass computes (code is up- or down-weighted as
    * a SOURCE, so misclassified code inside a prose crawl skews the mix):
    * three deterministic per-doc features and a fixed linear verdict.
    * symbol_ppm = code-punctuation chars ({}[]();=<>) per million chars;
    * indent_ppm = lines opening with 2+ spaces or a tab per million
    * lines; kw_hits = occurrences of 8 cross-language keywords as
    * whole tokens. is_code fires on (symbols high AND any keyword) or
    * (indentation high AND any keyword) — a real pipeline swaps in a
    * trained classifier; the heuristic keeps the operator deterministic
    * and oracle-checkable (the [[langId]] convention). Exact integer
    * counts, one shuffle-free projection.
    * Output: (doc_id, symbol_ppm, indent_ppm, kw_hits, is_code). */
  def codeDetect(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val nChars = greatest(length(col("text")), lit(1)).cast(LongType)
    val nLines = (size(regexp_extract_all(col("text"), lit("\n"), lit(0))) + 1)
      .cast(LongType)
    val symbols = size(regexp_extract_all(col("text"),
      lit("[{}\\[\\]();=<>]"), lit(0))).cast(LongType)
    val indented = size(regexp_extract_all(col("text"),
      lit("(?m)^(?:  +|\\t)"), lit(0))).cast(LongType)
    val kw = size(regexp_extract_all(col("text"),
      lit("\\b(?:def|class|return|import|function|var|const|void)\\b"),
      lit(0))).cast(LongType)
    docs.select(col("doc_id"), nChars.as("nc"), nLines.as("nl"),
        symbols.as("sy"), indented.as("ind"), kw.as("kw_hits"))
      .select(col("doc_id"),
        expr("sy * 1000000L div nc").as("symbol_ppm"),
        expr("ind * 1000000L div nl").as("indent_ppm"),
        col("kw_hits"))
      .withColumn("is_code",
        (col("kw_hits") > 0) &&
          (col("symbol_ppm") >= 20000L || col("indent_ppm") >= 300000L))
  }

  /** DuckDB mirror of [[codeDetect]] (oracle builder). */
  def codeDetectSql(table: String = "documents"): String =
    s"""WITH c AS (SELECT doc_id,
            CAST(greatest(len(text), 1) AS BIGINT) nc,
            CAST(len(regexp_extract_all(text, '\n')) + 1 AS BIGINT) nl,
            CAST(len(regexp_extract_all(text, '[{}\\[\\]();=<>]')) AS BIGINT) sy,
            CAST(len(regexp_extract_all(text, '(?m)^(?:  +|\\t)')) AS BIGINT) ind,
            CAST(len(regexp_extract_all(text,
              '\\b(?:def|class|return|import|function|var|const|void)\\b'))
              AS BIGINT) kw_hits
          FROM $table)
        SELECT doc_id,
          sy * 1000000 // nc AS symbol_ppm,
          ind * 1000000 // nl AS indent_ppm,
          kw_hits,
          kw_hits > 0 AND (sy * 1000000 // nc >= 20000
            OR ind * 1000000 // nl >= 300000) AS is_code
        FROM c"""

  /** Language-ID: marker-word voting per language + CJK-codepoint count,
    * argmax with a fixed priority tiebreak (en>de>fr>es>zh). A real
    * pipeline swaps in a trained n-gram model; the heuristic keeps the
    * operator deterministic and oracle-checkable. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "y", "es"))

  def langScores(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    langMarkers.map { case (lang, words) =>
      lang -> size(filter(toks, t => t.isin(words: _*)))
    } :+ ("zh" -> (length(text) - length(regexp_replace(text, "[一-龥]", ""))))
  }

  /** Chained-argmax over [[langScores]] with fixed priority order. */
  def langId(text: Column): Column = {
    val scores = langScores(text).toMap
    val order = Seq("en", "de", "fr", "es", "zh")
    order.init.zipWithIndex.foldRight(lit(order.last)) { case ((lang, i), rest) =>
      val later = order.drop(i + 1)
      when(later.map(l => scores(lang) >= scores(l)).reduce(_ && _), lit(lang))
        .otherwise(rest)
    }
  }

  /** PII redaction — the scrub pass every training-data pipeline runs
    * before packing: emails, dotted-quad IPs, and long digit runs replaced
    * with typed placeholders. Pure `regexp_replace` (codegen, per-doc,
    * shuffle-free); patterns are deliberately simple/auditable — a
    * production pass swaps in its own pattern set through the same shape. */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email, "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>")
    regexp_replace(ip, "\\b\\d{7,}\\b", "<NUM>")
  }

  /** Repetition quality signals (the Gopher-rule family): the share of a
    * document's positional bigrams taken by its single most-repeated
    * bigram. Degenerate template/boilerplate text scores near 1, natural
    * prose near 1/n. Built on the codegen struct shingles; one shuffle on
    * (doc, bigram) then per-doc max/total. Docs with < 2 tokens have no
    * bigrams and are excluded (no repetition evidence).
    * Output: (doc_id, n_bigrams, top_bigram_frac). */
  def repetitionScores(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
        explode(shingleStructs(col("text"), 2)).as("t"))
      .select(col("doc_id"), shingleString(col("t"), 2).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        (max(col("c")).cast(DoubleType) / sum(col("c"))).as("top_bigram_frac"))

  /** Per-document duplicated-n-gram fraction — the substring-duplication
    * signal of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" (arXiv:2107.06499): the fraction of a document's
    * positional word n-grams that ALSO occur in at least one other
    * document. Whole-doc dedup ([[Dedup]]) misses boilerplate shared
    * across otherwise-distinct pages; a high dup_fraction flags exactly
    * those templated/licensed/navigational spans for span-level cleaning
    * or down-weighting.
    *
    * Scale shape: the positional n-gram stream reduces to (doc, gram,
    * count) grain in ONE map-side-combined exchange before anything is
    * joined, so the cross-doc evidence join runs at distinct-gram grain,
    * not token grain; the "duplicated" gram keys come from a second
    * map-side-combined count over that same grain. Skew note: the join
    * probe side is (doc, gram)-distinct, so a boilerplate gram appearing
    * in a million docs contributes a million PROBE rows but only one
    * build row — a plain semi-join handles it; no gram ever needs the
    * full positional stream again. Per-doc totals are one further
    * doc-keyed aggregate. Output: (doc_id, n_ngrams, n_dup,
    * dup_fraction), docs with >= n tokens; division happens once from
    * exact counts with a final round-6, so the oracle matches bit-exact. */
  def dupNgramStats(docs: org.apache.spark.sql.DataFrame, n: Int): org.apache.spark.sql.DataFrame = {
    val grams = docs.select(col("doc_id"),
        explode(shingleStructs(col("text"), n)).as("t"))
      .select(col("doc_id"), shingleString(col("t"), n).as("g"))
    val occ = grams.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
    val dupGrams = occ.groupBy(col("g")).agg(count(lit(1)).as("ndocs"))
      .where(col("ndocs") >= 2).select(col("g"))
    val dupCnt = occ.join(dupGrams, Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(sum(col("cnt")).as("n_dup"))
    occ.groupBy(col("doc_id")).agg(sum(col("cnt")).as("n_ngrams"))
      .join(dupCnt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_ngrams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        round(coalesce(col("n_dup"), lit(0L)).cast(DoubleType) /
          col("n_ngrams").cast(DoubleType), 6).as("dup_fraction"))
  }

  /** TF-IDF top-k terms per document — the classic term-weighting operator
    * (corpus-level inverse document frequency × per-document term
    * frequency), used for keyword extraction and near-duplicate
    * EXPLANATION (which terms make a document distinctive).
    *
    * Scale shape: tf is one shuffle on (doc, term) with map-side partial
    * counts; df is the standard two-level distinct aggregate on the term;
    * the document count joins as a broadcast 1-row scalar; top-k per doc
    * is a window over per-doc DISTINCT terms only (bounded groups — the
    * full token stream never reaches the window sort). idf uses the
    * smoothed ln((N+1)/(df+1)) form, rounded to 6 decimals after the
    * multiply so ranking is engine-stable.
    * Output: (doc_id, term, tfidf, rank), rank 1..k per doc. */
  def tfidfTopTerms(docs: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
    val tf = words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val df_ = words.select(col("doc_id"), col("w")).distinct()
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(df_, "w")
      .crossJoin(broadcast(n)) // 1-row scalar, documented BNLJ pattern
      .select(col("doc_id"), col("w").as("term"),
        round(col("tf") * log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))), 6)
          .as("tfidf"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("term").asc)))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tfidf"),
        col("rank").cast(IntegerType).as("rank"))
  }

  /** Per-document token-distribution Shannon entropy (bits) — the quality
    * signal that separates natural prose (high entropy) from template spam
    * and keyword-stuffed repetition (low entropy), the complement of
    * [[repetitionScores]]' surface-repeat view.
    *
    * Scale shape: one (doc, token) shuffle with map-side partial counts,
    * then the per-doc fold — the token stream itself is never windowed or
    * re-shuffled; every downstream quantity (total tokens, distinct
    * tokens, entropy) rides the same aggregate. Double terms summed then
    * rounded to 6 (the [[bm25Scores]] convention — ln is the only
    * non-exact op and one final round makes ranking engine-stable).
    * Output: (doc_id, n_tokens, n_distinct, entropy). */
  def tokenEntropy(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cnt = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .where(length(col("tok")) > 0)
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    cnt.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        sum(col("c").cast(DoubleType) * log(col("c").cast(DoubleType))).as("clogc"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        // H = log2(n) − (Σ c·ln c)/(n·ln 2): one pass, no per-term division
        round((log(col("n_tokens").cast(DoubleType)) -
          col("clogc") / col("n_tokens").cast(DoubleType)) / lit(math.log(2.0)), 6)
          .as("entropy"))
  }

  /** URL canonicalization — the web-corpus dedup key: the same article
    * arrives as http/https, with/without `www.`, with tracking query
    * strings, fragments, or a trailing slash, and crawl dedup keys on the
    * canonical form. Strip order matters (fragment before query — a
    * `?q=1#f` URL must lose both): scheme → `www.` → fragment → query →
    * trailing slashes, all case-INsensitive (crawls routinely carry
    * `HTTP://WWW.Site.com` variants), then the HOST lowercases — but NOT
    * the path, which is case-significant per RFC 3986 (`/Page` and
    * `/page` may be different resources). Pure codegen
    * `regexp_replace`/`regexp_extract` chain — per-row, no shuffle,
    * pushes down like any projection. */
  def canonicalUrl(url: Column): Column = {
    val stripped = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(url, "(?i)^[a-z][a-z0-9+.-]*://", ""), "(?i)^www\\.", ""),
      "#.*$", ""), "\\?.*$", ""), "/+$", "")
    concat(lower(regexp_extract(stripped, "^[^/]*", 0)),
      regexp_replace(stripped, "^[^/]*", ""))
  }

  /** N-GRAM NOVELTY per document — the redundancy-ordering signal a
    * curation pipeline reads before sampling: for each doc, the share of
    * its DISTINCT word n-gram shingles whose FIRST corpus occurrence
    * (min doc_id — ingestion order) is this doc. Novelty ≈ 1: the doc
    * introduces new text; novelty → 0: everything in it was already seen
    * — the document-level form of the Lee et al. "how much of the corpus
    * is repeated" question, attributed to the EARLIEST copy instead of
    * flagged symmetrically (so keep-first dedup budgets read it directly).
    *
    * Scale shape: ONE shingle exchange (doc_id, shingle) feeds both the
    * first-occurrence aggregate (shingle-keyed min) and the per-doc fold;
    * the join is shingle-keyed equi — no pairwise anything. Integer ppm
    * output (exact, no float parity risk). Docs shorter than n tokens
    * have no shingles and no output row. Output: (doc_id, n_shingles,
    * n_novel, novelty_ppm). */
  def ngramNovelty(docs: org.apache.spark.sql.DataFrame, n: Int): org.apache.spark.sql.DataFrame = {
    import graft.operators.Dedup.MaterializeSyntax
    val sh = distinctShingleRows(docs, n, "s", "doc_id")
      .materialized // feeds the first-occurrence aggregate AND the per-doc fold
    val first = sh.groupBy(col("s")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        expr("n_novel * 1000000 div n_shingles").as("novelty_ppm"))
  }

  /** Per-source unigram KL divergence vs the whole corpus — the mixture
    * monitor that catches a source drifting away from (or collapsing
    * into) the blend: KL(P_source ‖ P_corpus) = Σ_t p_st·ln(p_st/p_t),
    * always ≥ 0, 0 iff the source's token distribution equals the
    * corpus's. High KL = distinct vocabulary (a code source in a prose
    * blend); a sudden KL drop = the source started duplicating the blend.
    *
    * Scale shape: ONE (source, token) count aggregate off the token
    * explode; the corpus marginals REUSE that frame (re-aggregate by
    * token — vocab-sized, never a second corpus scan), and the final
    * join/aggregate are vocab-bounded. p_st/p_t never materialize —
    * each term is c_st/c_s · ln((c_st·N)/(c_s·c_t)) straight from the
    * four exact integers; doubles enter once per term and the per-source
    * sum takes one final round-6 (the [[bm25Scores]] convention).
    * Output: (source, n_tokens, kl_vs_corpus). */
  def sourceDivergence(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val st = docs
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .where(length(col("tok")) > 0)
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c_st"))
      .materialized // feeds both marginals and the per-term KL sum
    val byTok = st.groupBy(col("tok")).agg(sum(col("c_st")).as("c_t"))
    val bySrc = st.groupBy(col("source")).agg(sum(col("c_st")).as("c_s"))
    val n = st.agg(sum(col("c_st")).as("n_corpus"))
    st.join(byTok, "tok")
      .join(broadcast(bySrc), "source")
      .crossJoin(broadcast(n)) // 1-row scalar, documented BNLJ pattern
      .groupBy(col("source"))
      .agg(max(col("c_s")).as("n_tokens"),
        round(sum(
          col("c_st").cast(DoubleType) / col("c_s").cast(DoubleType) *
            log(col("c_st").cast(DoubleType) * col("n_corpus").cast(DoubleType) /
              (col("c_s").cast(DoubleType) * col("c_t").cast(DoubleType)))), 6)
          .as("kl_vs_corpus"))
  }

  /** The DuckDB mirror of [[sourceDivergence]] (oracle builder). */
  def sourceDivergenceSql(table: String = "documents"): String =
    s"""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) tok
          FROM $table),
        st AS (SELECT source, tok, count(*) c_st FROM toks
               WHERE len(tok) > 0 GROUP BY 1, 2),
        bt AS (SELECT tok, CAST(SUM(c_st) AS BIGINT) c_t FROM st GROUP BY 1),
        bs AS (SELECT source, CAST(SUM(c_st) AS BIGINT) c_s FROM st GROUP BY 1),
        n AS (SELECT CAST(SUM(c_st) AS BIGINT) n_corpus FROM st)
        SELECT source, max(c_s) AS n_tokens,
          round(SUM(CAST(c_st AS DOUBLE) / CAST(c_s AS DOUBLE) *
            ln(CAST(c_st AS DOUBLE) * CAST(n_corpus AS DOUBLE) /
               (CAST(c_s AS DOUBLE) * CAST(c_t AS DOUBLE)))), 6) AS kl_vs_corpus
        FROM st JOIN bt USING (tok) JOIN bs USING (source), n
        GROUP BY source"""

  /** The DuckDB mirror of [[tokenEntropy]] (oracle builder). */
  def tokenEntropySql(table: String = "documents"): String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) tok
          FROM $table),
        cnt AS (SELECT doc_id, tok, count(*) c FROM toks
                WHERE len(tok) > 0 GROUP BY 1, 2)
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
          count(*) AS n_distinct,
          round((ln(CAST(SUM(c) AS DOUBLE)) -
            SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / CAST(SUM(c) AS DOUBLE))
            / 0.6931471805599453, 6) AS entropy
        FROM cnt GROUP BY doc_id"""

  /** BM25 relevance of every document to a fixed term set — the lexical
    * ranking half of hybrid retrieval (Robertson/Spärck Jones; k1 = 1.2,
    * b = 0.75, the +1 idf variant that stays positive at high df).
    *
    * Scale shape: the token stream filters to the QUERY terms right after
    * the explode (pushdown makes the per-doc work |terms|-bounded, not
    * |vocabulary|), term frequencies and document frequencies are
    * map-side-combined hash aggregates, and the df/N/avgdl side inputs are
    * a |terms|-row + 1-row broadcast — the corpus is never shuffled. All
    * arithmetic is double over integer tf/df/dl with one final round-6, so
    * ranking is engine-stable (the [[Similarity]] cosine convention).
    * Output: (doc_id, bm25) for documents containing ≥ 1 query term. */
  def bm25Scores(docs: org.apache.spark.sql.DataFrame,
                 terms: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val (k1, b) = (1.2, 0.75)
    val toks = docs.select(col("doc_id"), size(tokens(col("text"))).as("dl"),
        explode(tokens(col("text"))).as("t"))
      .where(col("t").isInCollection(terms))
    val tfs = toks.groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val dfs = tfs.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val st = docs.agg(count(lit(1)).as("n"),
      (sum(size(tokens(col("text")))).cast(DoubleType) / count(lit(1))).as("avgdl"))
    tfs.join(broadcast(dfs), "t")
      .crossJoin(broadcast(st)) // 1-row scalar, documented BNLJ pattern
      .select(col("doc_id"),
        (log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * (lit(k1) + 1)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
          .as("s"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("s")), 6).as("bm25"))
  }

  /** The DuckDB mirror of [[bm25Scores]] as a CTE body over `documents`
    * (oracle builder); yields columns (doc_id, bm25). */
  def bm25Sql(terms: Seq[String], table: String = "documents"): String = {
    val inList = terms.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    s"""WITH toks AS (SELECT doc_id, len(string_split(text, ' ')) dl,
            unnest(string_split(text, ' ')) t FROM $table),
        tfs AS (SELECT doc_id, t, count(*) tf, max(dl) dl FROM toks
                WHERE t IN ($inList) GROUP BY 1, 2),
        dfs AS (SELECT t, count(*) df FROM tfs GROUP BY 1),
        st AS (SELECT count(*) n,
                CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / count(*) avgdl
               FROM $table)
        SELECT doc_id,
          round(SUM(ln((n - df + 0.5) / (df + 0.5) + 1.0)
            * (tf * (1.2 + 1)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6)
            AS bm25
        FROM tfs JOIN dfs USING (t), st GROUP BY doc_id"""
  }

  /** RECIPROCAL-RANK FUSION (Cormack et al. 2009) of a lexical and a
    * vector retrieval list — the standard hybrid-search merge every RAG
    * stack runs when BM25 and embedding ANN disagree: each list
    * contributes 1/(rrfK + rank) for the documents it ranked, documents
    * missing from a list contribute 0 from it, and the fused order is
    * the score sum. Rank-based fusion needs no score calibration
    * between the two retrievers — exactly why RRF beats score
    * interpolation across heterogeneous scorers.
    *
    * Inputs are the engine's own retrievers: [[bm25Scores]] top-`pool`
    * on the documents table and the brute-force cosine top-`pool`
    * around an anchor embedding (`vec_id = queryId`; the testdata
    * id spaces coincide, as production doc/embedding stores do).
    *
    * Determinism: ranks are exact integers; each RRF term is one IEEE
    * division of literals; the ≤2-term sum is written in fixed order;
    * one 9dp cut; ties break on doc_id. Scale shape: both lists are
    * top-`pool` reductions (bounded TopKPairs / TakeOrdered), the
    * fusion is a `pool`-sized full outer join, and the final top-k is
    * a TakeOrdered — nothing after retrieval touches corpus size.
    * Output: (doc_id, lex_rank, vec_rank, rrf), top `k` by rrf. */
  def rrfFusion(docs: org.apache.spark.sql.DataFrame,
                embeddings: org.apache.spark.sql.DataFrame,
                terms: Seq[String], queryId: Long, pool: Int, k: Int,
                rrfK: Int = 60): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = bm25Scores(docs, terms)
      .orderBy(col("bm25").desc, col("doc_id")).limit(pool)
      // pool-row frame by construction — the unpartitioned window is bounded
      .withColumn("lex_rank", row_number()
        .over(Window.orderBy(col("bm25").desc, col("doc_id"))))
      .select(col("doc_id"), col("lex_rank"))
    val vec = graft.operators.Similarity.bruteForceTopK(
        embeddings, embeddings.where(col("vec_id") === queryId), pool)
      .select(col("nid").as("doc_id"), col("rank").as("vec_rank"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("vec_rank"),
        round(coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("vec_rank")), lit(0.0)), 9)
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(k)
  }

  /** DuckDB mirror of [[rrfFusion]] (oracle builder). */
  def rrfFusionSql(terms: Seq[String], queryId: Long, pool: Int, k: Int,
                   rrfK: Int = 60): String =
    s"""WITH lex0 AS (SELECT doc_id, bm25 FROM (${bm25Sql(terms)})
          ORDER BY bm25 DESC, doc_id LIMIT $pool),
        lex AS (SELECT doc_id, CAST(row_number() OVER
                  (ORDER BY bm25 DESC, doc_id) AS INT) lex_rank FROM lex0),
        q AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings
              WHERE vec_id = $queryId),
        sc AS (SELECT vec_id nid,
                round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6) cos_sim
               FROM embeddings, q WHERE vec_id <> $queryId),
        vr0 AS (SELECT nid, CAST(row_number() OVER
                  (ORDER BY cos_sim DESC, nid) AS INT) vec_rank FROM sc),
        vr AS (SELECT nid doc_id, vec_rank FROM vr0 WHERE vec_rank <= $pool),
        f AS (SELECT COALESCE(lex.doc_id, vr.doc_id) doc_id, lex_rank, vec_rank,
               round(COALESCE(CAST(1.0 AS DOUBLE) / ($rrfK + lex_rank), 0)
                 + COALESCE(CAST(1.0 AS DOUBLE) / ($rrfK + vec_rank), 0), 9) rrf
              FROM lex FULL OUTER JOIN vr ON lex.doc_id = vr.doc_id)
        SELECT doc_id, lex_rank, vec_rank, rrf FROM f
        ORDER BY rrf DESC, doc_id LIMIT $k"""

  /** MMR-diversified retrieval (Carbonell & Goldstein 1998 maximal marginal
    * relevance): take the BM25 top-`pool` candidates, then greedily select
    * `k` of them by `λ·rel − (1−λ)·max_sim_to_selected` — the rerank every
    * RAG stack runs so the retrieved context isn't five copies of the same
    * passage. Relevance is max-normalized BM25; inter-candidate similarity
    * is distinct-token Jaccard (text-native — no embedding dependency).
    *
    * Determinism: rel, sim, and each mmr score round to 6dp; λ and 1−λ are
    * passed as decimal-literal doubles (computing 1−0.7 in binary would
    * diverge from the SQL literal 0.3). Ties break on doc_id.
    *
    * Scale shape: the corpus-sized work is [[bm25Scores]] (token stream
    * filtered to query terms at the explode) + one semi-join to fetch the
    * `pool` candidate token sets; everything after — pairwise Jaccard and
    * the k-step greedy loop — runs on a pool-sized frame (checkpointed,
    * so each of the k tiny argmax jobs reuses it instead of re-running
    * retrieval). Output: (rank 1..k, doc_id, bm25, mmr). */
  def mmrRerank(docs: org.apache.spark.sql.DataFrame, terms: Seq[String],
                k: Int = 5, pool: Int = 10,
                lam: Double = 0.7, oneMinusLam: Double = 0.3): org.apache.spark.sql.DataFrame = {
    // both weights are caller-supplied decimal literals (computing 1−λ in
    // binary would diverge from the SQL literal) — but they must still BE
    // the MMR identity, and must match what mmrSql renders
    require(lam + oneMinusLam == 1.0, s"MMR weights must sum to 1 ($lam + $oneMinusLam)")
    val cand = bm25Scores(docs, terms)
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(pool)
      .materialized
    val rel = cand.crossJoin(broadcast(cand.agg(max(col("bm25")).as("mx"))))
      .select(col("doc_id"), col("bm25"), round(col("bm25") / col("mx"), 6).as("rel"))
      .materialized
    val ct = docs.join(broadcast(cand.select(col("doc_id"))), Seq("doc_id"))
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("t"))
    val sz = ct.groupBy(col("doc_id")).agg(count(lit(1)).as("nt"))
    val sim = ct.as("x").join(ct.as("y"), Seq("t"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .where(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
      .join(sz.select(col("doc_id").as("a"), col("nt").as("na")), Seq("a"))
      .join(sz.select(col("doc_id").as("b"), col("nt").as("nb")), Seq("b"))
      .select(col("a"), col("b"), round(col("inter").cast(DoubleType) /
        (col("na") + col("nb") - col("inter")), 6).as("sim"))
      .materialized
    var sel = rel.orderBy(col("rel").desc, col("doc_id").asc).limit(1)
      .select(col("doc_id"), col("bm25"), lit(1).as("rank"), col("rel").as("mmr"))
      .materialized
    for (i <- 2 to k) {
      val msim = sim.join(sel.select(col("doc_id").as("b")), Seq("b"))
        .groupBy(col("a")).agg(max(col("sim")).as("msim"))
        .withColumnRenamed("a", "doc_id")
      val next = rel.join(sel.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .join(msim, Seq("doc_id"), "left").na.fill(0.0, Seq("msim"))
        .select(col("doc_id"), col("bm25"), lit(i).as("rank"),
          round(lit(lam) * col("rel") - lit(oneMinusLam) * col("msim"), 6).as("mmr"))
        .orderBy(col("mmr").desc, col("doc_id").asc).limit(1)
      sel = sel.unionByName(next).materialized
    }
    sel.select(col("rank"), col("doc_id"), col("bm25"), col("mmr"))
  }

  /** The DuckDB mirror of [[mmrRerank]] (oracle builder, k/pool unrolled);
    * the λ weights render from the same parameters the Spark side takes. */
  def mmrSql(terms: Seq[String], k: Int = 5, pool: Int = 10,
             lam: Double = 0.7, oneMinusLam: Double = 0.3): String = {
    require(lam + oneMinusLam == 1.0, s"MMR weights must sum to 1 ($lam + $oneMinusLam)")
    val steps = (2 to k).map { i =>
      s"""m$i AS (SELECT r.doc_id, r.bm25,
         |        round($lam*r.rel - $oneMinusLam*coalesce(ms.msim, 0), 6) mmr
         |      FROM rel r LEFT JOIN (
         |        SELECT a AS doc_id, max(sim) msim FROM sim
         |        WHERE b IN (SELECT doc_id FROM sel${i - 1}) GROUP BY 1) ms
         |        USING (doc_id)
         |      WHERE r.doc_id NOT IN (SELECT doc_id FROM sel${i - 1})),
         |s$i AS (SELECT doc_id, bm25, $i AS rank, mmr FROM m$i
         |       ORDER BY mmr DESC, doc_id LIMIT 1),
         |sel$i AS (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM s$i)""".stripMargin
    }
    s"""WITH cand AS (SELECT doc_id, bm25 FROM (${bm25Sql(terms)})
       |              ORDER BY bm25 DESC, doc_id LIMIT $pool),
       |  rel AS (SELECT doc_id, bm25, round(bm25/mx, 6) rel
       |          FROM cand, (SELECT max(bm25) mx FROM cand)),
       |  ct AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) t
       |         FROM documents WHERE doc_id IN (SELECT doc_id FROM cand)),
       |  sz AS (SELECT doc_id, count(*) nt FROM ct GROUP BY 1),
       |  pr AS (SELECT x.doc_id a, y.doc_id b, count(*) inter
       |         FROM ct x JOIN ct y USING (t)
       |         WHERE x.doc_id <> y.doc_id GROUP BY 1, 2),
       |  sim AS (SELECT a, b,
       |           round(CAST(inter AS DOUBLE)/(na.nt + nb.nt - inter), 6) sim
       |          FROM pr JOIN sz na ON pr.a = na.doc_id
       |                  JOIN sz nb ON pr.b = nb.doc_id),
       |  s1 AS (SELECT doc_id, bm25, 1 AS rank, rel AS mmr FROM rel
       |         ORDER BY rel DESC, doc_id LIMIT 1),
       |  sel1 AS (SELECT * FROM s1),
       |  ${steps.mkString(",\n  ")}
       |SELECT rank, doc_id, bm25, mmr FROM sel$k""".stripMargin
  }

  /** Inverted index (term → sorted posting list), the text-search /
    * audit-lookup primitive over a corpus: for every term its document
    * frequency, and for sub-stoplist terms the comma-joined sorted doc-id
    * posting list ("which documents contain X" without a corpus scan).
    *
    * Scale shape: the (term, doc_id) stream dedups with a map-side partial
    * distinct; document frequencies are one hash aggregate over it. The
    * posting-list collect runs ONLY for terms at-or-under `maxDf` —
    * stopword-grade terms (df in the millions at 100 TB) keep their df row
    * but a NULL posting list, so no unbounded list ever materializes in an
    * aggregation buffer (the same df-cap posture as
    * [[Dedup.ngramJaccardPairs]]). Lists sort numerically BEFORE the
    * string join, and every join/aggregate here is keyed on the term, so
    * the heavy frames meet each other co-partitioned.
    * Output: (term, df, postings), postings NULL ⇔ df > maxDf. */
  def invertedIndex(docs: org.apache.spark.sql.DataFrame,
                    maxDf: Long): org.apache.spark.sql.DataFrame = {
    val posting = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .where(length(col("term")) > 0)
      .distinct()
    val dfs = posting.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val lists = posting
      .join(dfs.where(col("df") <= maxDf).select(col("term")), "term")
      .groupBy(col("term"))
      .agg(array_join(
        transform(array_sort(collect_list(col("doc_id"))), _.cast(StringType)),
        ",").as("postings"))
    dfs.join(lists, Seq("term"), "left")
      .select(col("term"), col("df"), col("postings"))
  }

  /** Corpus-bigram language-model quality score — the CCNet-style
    * perplexity proxy: train add-one-smoothed bigram probabilities on the
    * corpus itself, score each document by its mean log-probability.
    * Boilerplate and in-distribution text score high, gibberish and
    * out-of-distribution noise score low; filtering on the score is the
    * standard LM quality gate with the corpus standing in for the
    * reference LM.
    *
    * logP(w1|w0) = ln((c(w0,w1) + 1) / (c(w0,·) + V)), V = bigram-vocab
    * size (distinct second words). Determinism: each per-bigram log term
    * is rounded to 6 decimals and summed as DECIMAL(18,6) — exact,
    * order-independent addition, so the result is bit-stable across
    * engines and partitionings (a double sum would drift with fold
    * order). The mean is the exact micro-unit integer divided in IEEE
    * double — deterministic with NO final rounding step (a round() after
    * a double division lands on tie boundaries where engines' rounding
    * modes disagree).
    *
    * Scale shape: the positional bigram stream is exploded ONCE and
    * materialized; the three aggregates (pair counts, context counts,
    * vocab scalar) and the scoring join all read the materialized frame
    * instead of re-running scan → explode per consumer (without this the
    * optimizer plans four corpus explodes). Then two equi-joins against
    * the count tables and one per-doc aggregate — every join is on a
    * fixed-width key, nothing quadratic. Docs with < 2 tokens have no
    * bigrams and are excluded.
    * Output: (doc_id, n_bigrams, avg_logp). */
  def lmBigramScores(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val bg = docs.select(col("doc_id"),
        explode(shingleStructs(col("text"), 2)).as("t"))
      .select(col("doc_id"), col("t.w0").as("w0"), col("t.w1").as("w1"))
      .materialized
    val c2 = bg.groupBy(col("w0"), col("w1")).agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy(col("w0")).agg(count(lit(1)).as("c1"))
    val vocab = bg.select(col("w1")).distinct()
      .agg(count(lit(1)).as("v"))
    bg.join(c2, Seq("w0", "w1"))
      .join(c1, Seq("w0"))
      .crossJoin(broadcast(vocab)) // 1-row scalar, documented BNLJ pattern
      .select(col("doc_id"),
        round(log((col("c2") + lit(1.0)) / (col("c1") + col("v"))), 6)
          .cast(DecimalType(18, 6)).as("logp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("logp")).as("sum_logp"))
      .select(col("doc_id"), col("n_bigrams"),
        ((col("sum_logp") * lit(1000000)).cast(LongType).cast(DoubleType) /
          (col("n_bigrams") * lit(1000000L)).cast(DoubleType)).as("avg_logp"))
  }

  /** Interpolated Kneser-Ney bigram model (Kneser & Ney 1995; Chen &
    * Goodman 1999, eq. 4.25) with absolute discount `d` — the smoothing
    * every n-gram LM pipeline (KenLM et al.) trains, here as four
    * aggregates over ONE bigram-type table:
    *
    *   P_kn(w1|w0) = max(c(w0,w1)−d, 0)/c(w0)
    *               + d·N1+(w0,·)/c(w0) · N1+(·,w1)/|bigram types|
    *
    * where N1+(w0,·)/N1+(·,w1) are distinct-successor/-predecessor counts
    * (continuation counts — the KN insight: "Francisco" is frequent but
    * follows only "San", so its unigram back-off weight must be tiny).
    *
    * Scale shape: the ONLY corpus-sized pass is the bigram-count
    * aggregate (map-side combinable); c1, N1+ and the type total all
    * derive from the vocab²-bounded count table, which is materialized
    * once and feeds all four consumers. Arithmetic is single-rounded IEEE
    * on exact integer counts in fixed order → oracle-exact under
    * round(…, 6). Rows are capped by `minCount` on the RAW bigram count
    * (a type filter, applied after training — probabilities are exact). */
  def knBigramProbs(docs: org.apache.spark.sql.DataFrame, minCount: Long = 3,
      discount: Double = 0.75): org.apache.spark.sql.DataFrame = {
    val c2 = docs.select(explode(shingleStructs(col("text"), 2)).as("t"))
      .select(col("t.w0").as("w0"), col("t.w1").as("w1"))
      .groupBy(col("w0"), col("w1")).agg(count(lit(1)).as("c2"))
      .materialized
    val left = c2.groupBy(col("w0"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1p_succ"))
    val cont = c2.groupBy(col("w1")).agg(count(lit(1)).as("n1p_pred"))
    val types = c2.agg(count(lit(1)).as("btypes"))
    val d = lit(discount)
    c2.join(left, Seq("w0")).join(cont, Seq("w1"))
      .crossJoin(broadcast(types)) // 1-row scalar, documented BNLJ pattern
      .where(col("c2") >= minCount)
      .select(col("w0"), col("w1"), col("c2"),
        round(
          greatest(col("c2") - d, lit(0.0)) / col("c1") +
            (d * col("n1p_succ") / col("c1")) *
              (col("n1p_pred").cast("double") / col("btypes")), 6).as("p_kn"))
  }

  /** Whole-document fingerprint: md5 of the exact text. */
  def fingerprintMd5(text: Column): Column = md5(text.cast(BinaryType))

  /** Shingle-min fingerprint per `groupCols` group: the min of its
    * distinct word n-gram md5s — a 1-hash MinHash, robust to local edits
    * the way winnowing fingerprints are. Relational: explode shingles →
    * codegen'd md5 → map-side-combinable min aggregate. Groups whose
    * texts all have fewer than n tokens give no row. Output:
    * (groupCols…, fp). */
  def shingleMinFp(docs: org.apache.spark.sql.DataFrame, n: Int,
                   groupCols: String*): org.apache.spark.sql.DataFrame =
    distinctShingleRows(docs, n, "sh", groupCols: _*)
      .groupBy(groupCols.map(col): _*)
      .agg(min(md5(col("sh").cast(BinaryType))).as("fp"))

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken — "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD 2003): hash
    * every POSITIONAL k-gram, slide a window of `w` consecutive hashes,
    * keep each window's minimum; the distinct minima are the document's
    * fingerprint set. Any shared token run of length >= w+k-1 between two
    * documents forces at least one shared fingerprint — the local
    * guarantee exact dedup lacks and shingle-min (global min) provides
    * only probabilistically.
    *
    * Trailing windows are clamped (a window starting near the end spans
    * the remaining hashes), so short documents still fingerprint — a
    * superset of the paper's full-window selection, chosen because both
    * engines clamp identically (Spark bounded row frames, DuckDB list
    * slices).
    *
    * Relational 100 TB shape: posexplode positions → ONE codegen'd md5
    * base hash per k-gram → bounded sliding-frame min (sort within the
    * doc-partitioned exchange, no unbounded state) → per-doc distinct.
    * One shuffle on doc_id, rows = k-grams (linear in corpus tokens).
    * Output: (doc_id, fp) distinct. */
  def winnowFingerprints(docs: org.apache.spark.sql.DataFrame,
                         k: Int, w: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val arr = docs.select(col("doc_id"), shingleStructs(col("text"), k).as("ss"))
    val pos = arr.select(col("doc_id"), posexplode(col("ss")))
      .select(col("doc_id"), col("pos"), shingleString(col("col"), k).as("s"))
      .withColumn("h",
        graft.functions.keys.md5Prefix64(col("s").cast(BinaryType), 7))
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    pos.select(col("doc_id"), min(col("h")).over(frame).as("fp")).distinct()
  }

  /** (doc_id, pos, block): each document split into fixed
    * `blockTokens`-token blocks in order — the shared explode under
    * [[removeBoilerplateBlocks]] and [[dedupParagraphs]]. `blockTokens`
    * stays a power of two so the block-count division is exact in both
    * engines. */
  private def tokenBlocks(docs: org.apache.spark.sql.DataFrame,
                          blockTokens: Int): org.apache.spark.sql.DataFrame = {
    require((blockTokens & (blockTokens - 1)) == 0, "blockTokens must be a power of two")
    val w = tokens(col("text"))
    val nBlocks = ((size(w) + lit(blockTokens - 1)) / lit(blockTokens))
      .cast(org.apache.spark.sql.types.IntegerType)
    val blockArr = transform(sequence(lit(0), nBlocks - 1),
      i => array_join(slice(w, i * blockTokens + 1, lit(blockTokens)), " "))
    docs.select(col("doc_id"), posexplode(blockArr).as(Seq("pos", "block")))
  }

  /** Cross-document BOILERPLATE REMOVAL with text reassembly — the
    * RefinedWeb/CCNet "drop lines shared across many pages" pass (nav
    * bars, cookie banners, license footers), generalized to fixed
    * `blockTokens`-token blocks since the unit of repetition is a
    * parameter, not an engine assumption. A block whose document
    * frequency reaches `dfCap` is boilerplate; every document is
    * REWRITTEN with its surviving blocks re-joined in original order —
    * the one text operator here that produces a cleaned corpus rather
    * than a signal.
    *
    * Scale shape: block df is a distinct-(doc, block) count (map-side
    * partials); the boilerplate set — the df ≥ cap TAIL of the block
    * distribution, small by Zipf — broadcasts into the block stream, and
    * reassembly is ONE doc_id exchange (collect_list skips the nulled
    * hot blocks, sort_array restores block order — no second pass, no
    * anti-join). For a boilerplate set too large to broadcast, put the
    * [[graft.functions.BloomSet]] image in front of the same join.
    * Output: (doc_id, clean_text, n_kept, n_dropped); clean_text = ''
    * when every block was boilerplate. */
  def removeBoilerplateBlocks(docs: org.apache.spark.sql.DataFrame,
                              blockTokens: Int = 8,
                              dfCap: Long = 2): org.apache.spark.sql.DataFrame = {
    val blocks = tokenBlocks(docs, blockTokens)
    val hot = blocks.select(col("doc_id"), col("block")).distinct()
      .groupBy(col("block")).agg(count(lit(1)).as("df"))
      .where(col("df") >= dfCap)
      .select(col("block"), lit(1).as("hot"))
    blocks.join(broadcast(hot), Seq("block"), "left")
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
            sort_array(collect_list(when(col("hot").isNull,
              struct(col("pos"), col("block"))))),
            p => p.getField("block")), " ").as("clean_text"),
        count(when(col("hot").isNull, 1)).as("n_kept"),
        count(col("hot")).as("n_dropped"))
  }

  /** PARAGRAPH-LEVEL exact dedup with reassembly (the substring-granularity
    * pass of Lee et al. 2022 "Deduplicating Training Data Makes Language
    * Models Better", at fixed-block granularity): every repeated
    * `blockTokens`-token block keeps exactly its FIRST occurrence in corpus
    * order (min doc_id, then min pos) and every other occurrence is
    * dropped; each document is rewritten from its surviving blocks. Unlike
    * [[removeBoilerplateBlocks]] (which deletes ALL copies of high-df
    * blocks), this keeps one canonical copy — dedup, not boilerplate
    * stripping.
    *
    * Scale shape: one exchange keyed on the block text (map-side partial
    * min of the (doc_id, pos) struct — the canonical-occurrence frame is
    * vocabulary-sized), one equi-join of the block stream against it on
    * the same key (co-partitioned by AQE, no second shuffle of the
    * stream), then ONE doc_id exchange for reassembly. No window sorts, no
    * driver state. Output: (doc_id, clean_text, n_kept, n_dropped). */
  def dedupParagraphs(docs: org.apache.spark.sql.DataFrame,
                      blockTokens: Int = 8): org.apache.spark.sql.DataFrame = {
    val blocks = tokenBlocks(docs, blockTokens)
    val first = blocks
      .groupBy(col("block"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
      .select(col("block"), col("f.doc_id").as("fdoc"), col("f.pos").as("fpos"))
    blocks.join(first, Seq("block"))
      .withColumn("keep", col("doc_id") === col("fdoc") && col("pos") === col("fpos"))
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
            sort_array(collect_list(when(col("keep"),
              struct(col("pos"), col("block"))))),
            p => p.getField("block")), " ").as("clean_text"),
        count(when(col("keep"), 1)).as("n_kept"),
        count(when(!col("keep"), 1)).as("n_dropped"))
  }

  /** Count-Min-Sketch heavy hitters (Cormode & Muthukrishnan 2005): a
    * `d`×`w` counter grid where row j counts token occurrences under hash
    * h_j, and a token's estimate is the MIN over its d cells — always ≥
    * the true count, over by at most the collision mass in its lightest
    * cell. The query reports the top-`k` tokens by estimate next to their
    * exact counts, so the over-count is itself an oracle-checked column.
    *
    * Hashes are md5-derived (`md5_prefix64("j:token")` mod w) — no seeds,
    * bit-identical in DuckDB. Scale shape: the sketch is d·w cells
    * REGARDLESS of corpus size — map-side partial sums then one tiny
    * exchange — and estimation broadcasts those cells back over the
    * candidate stream. Here both sketch and candidates are built from one
    * vocabulary aggregate (one corpus scan); a production stream updates
    * the same grid per batch without ever materializing the vocabulary
    * (see [[graft.streaming.CorpusStream]] for the incremental pattern).
    *
    * Output: (token, est, exact, over_count), top k by est desc. */
  def cmsHeavyHitters(docs: org.apache.spark.sql.DataFrame, d: Int = 4,
                      w: Int = 512, k: Int = 40): org.apache.spark.sql.DataFrame = {
    // ONE vocabulary aggregate feeds both the grid and the candidate
    // estimates (the streaming path necessarily re-derives candidates
    // from the corpus; the batch path must not pay that twice)
    val counts = tokenCounts(docs)
    cmsTopKFromCounts(cmsGridFromCounts(counts, d, w), counts, d, w, k)
  }

  /** The (token, count) vocabulary aggregate all CMS entry points share. */
  private def tokenCounts(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))

  /** One cell row per (hash row j, token): bucket = md5("j:token") % w. */
  private def cmsCells(tokenCounts: org.apache.spark.sql.DataFrame,
                       d: Int, w: Int): org.apache.spark.sql.DataFrame = {
    import graft.functions.keys
    tokenCounts.select(col("token"), col("c"),
        explode(sequence(lit(0), lit(d - 1))).as("j"))
      .withColumn("bucket",
        pmod(keys.md5Prefix64(
          keys.utf8(concat_ws(":", col("j"), col("token"))), 7), lit(w.toLong)))
  }

  /** The d×w CMS counter grid of a document set as (j, bucket, cnt) rows —
    * the MERGEABLE materialization: grids of disjoint batches sum cell-wise
    * to the grid of their union, so a stream maintains the sketch by
    * appending per-batch partial grids and folding (see
    * [[graft.streaming.CorpusStream.cmsHeavyHittersAll]]). */
  def cmsGrid(docs: org.apache.spark.sql.DataFrame, d: Int = 4,
              w: Int = 512): org.apache.spark.sql.DataFrame =
    cmsGridFromCounts(tokenCounts(docs), d, w)

  private def cmsGridFromCounts(counts: org.apache.spark.sql.DataFrame,
                                d: Int, w: Int): org.apache.spark.sql.DataFrame =
    cmsCells(counts, d, w)
      .groupBy(col("j"), col("bucket")).agg(sum(col("c")).as("cnt"))

  /** Heavy hitters from an already-built grid: estimate = MIN over each
    * candidate token's d cells, exact counts ride along from the corpus. */
  def cmsTopK(sketch: org.apache.spark.sql.DataFrame,
              docs: org.apache.spark.sql.DataFrame,
              d: Int, w: Int, k: Int): org.apache.spark.sql.DataFrame =
    cmsTopKFromCounts(sketch, tokenCounts(docs), d, w, k)

  private def cmsTopKFromCounts(sketch: org.apache.spark.sql.DataFrame,
                                counts: org.apache.spark.sql.DataFrame,
                                d: Int, w: Int, k: Int): org.apache.spark.sql.DataFrame =
    cmsCells(counts, d, w).join(broadcast(sketch), Seq("j", "bucket"))
      .groupBy(col("token"))
      .agg(min(col("cnt")).as("est"), min(col("c")).as("exact"))
      .select(col("token"), col("est"), col("exact"),
        (col("est") - col("exact")).as("over_count"))
      .orderBy(col("est").desc, col("token").asc)
      .limit(k)

  /** Vocabulary growth curve (Heaps' law empirically): how many NEW
    * distinct bigrams each successive tenth of the corpus contributes, and
    * the cumulative vocabulary size — the "is more data still buying new
    * vocabulary" diagnostic a tokenizer-training run reads before fixing
    * its vocab size. Bigrams (not unigrams) so the curve stays informative
    * on bounded-vocab corpora. A bigram belongs to the decile of its FIRST
    * document (min doc_id), so the whole curve is one bigram→min(doc_id)
    * aggregate plus a 10-row cumulative window — no ordered scan of the
    * corpus, no state; at 100 TB this is a single vocab-sized exchange.
    *
    * Output: (decile 0-9, new_tokens, vocab_size). */
  def vocabGrowth(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = docs.agg((max(col("doc_id")) + 1).as("n_docs"))
    val firstDoc = docs
      .select(explode(shingleStructs(col("text"), 2)).as("sh"), col("doc_id"))
      .select(shingleString(col("sh"), 2).as("token"), col("doc_id"))
      .groupBy(col("token")).agg(min(col("doc_id")).as("fd"))
    val byDecile = firstDoc.crossJoin(broadcast(n))
      .select(floor(col("fd") * 10 / col("n_docs")).as("decile"))
      .groupBy(col("decile")).agg(count(lit(1)).as("new_tokens"))
    // 10 rows: a single-partition running sum is the right plan, not a smell
    byDecile.select(col("decile"), col("new_tokens"),
      sum(col("new_tokens")).over(
        Window.orderBy(col("decile")).rowsBetween(Window.unboundedPreceding, 0))
        .as("vocab_size"))
  }

  /** ZIPF-SLOPE fit per source — how power-law the token distribution is.
    * Natural prose sits near slope −1; machine-generated or templated text
    * flattens (repetitive head) or steepens (collapsed tail), so the slope
    * is a cheap generator-artifact detector alongside [[qualityScores]].
    * Ordinary least squares of ln(freq) on ln(rank) over each source's top
    * `topN` terms with freq ≥ `minFreq` (the head the law describes; the
    * hapax tail is a different regime — see [[hapaxRatio]]).
    *
    * Scale shape: ONE (source, token) count aggregate off the token
    * explode; the rank window sorts the vocab-sized census (bounded by
    * vocabulary, not corpus), and the regression is a per-source aggregate
    * over ≤ topN rows computed from five decimal-exact sums — the closed
    * form needs no second pass and no residual join.
    *
    * Determinism: ln values are rounded to 9dp before the DECIMAL(28,12)
    * sums (order-free); the closed-form slope arithmetic runs on the exact
    * sums cast back to double. Ranks tie-break by token so the cut at
    * `topN` is stable across engines. Output: (source, n_terms,
    * zipf_slope, intercept). */
  def zipfSlope(docs: org.apache.spark.sql.DataFrame, topN: Int = 200,
                minFreq: Long = 2L): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = DecimalType(28, 12)
    val tf = docs
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .where(length(col("tok")) > 0)
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("f"))
    val ranked = tf.withColumn("rank",
        row_number().over(Window.partitionBy(col("source"))
          .orderBy(col("f").desc, col("tok").asc)))
      .where(col("rank") <= topN && col("f") >= minFreq)
      .select(col("source"),
        round(log(col("rank").cast(DoubleType)), 9).as("x"),
        round(log(col("f").cast(DoubleType)), 9).as("y"))
    ranked.groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x").cast(dec)).cast(DoubleType).as("sx"),
        sum(col("y").cast(dec)).cast(DoubleType).as("sy"),
        sum(round(col("x") * col("y"), 9).cast(dec)).cast(DoubleType).as("sxy"),
        sum(round(col("x") * col("x"), 9).cast(dec)).cast(DoubleType).as("sxx"))
      .select(col("source"), col("n_terms"),
        when(col("n_terms") * col("sxx") - col("sx") * col("sx") =!= 0.0,
          round((col("n_terms") * col("sxy") - col("sx") * col("sy")) /
            (col("n_terms") * col("sxx") - col("sx") * col("sx")), 6))
          .as("zipf_slope"),
        when(col("n_terms") * col("sxx") - col("sx") * col("sx") =!= 0.0,
          round((col("sy") - (col("n_terms") * col("sxy") - col("sx") * col("sy")) /
            (col("n_terms") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
            col("n_terms"), 6)).as("intercept"))
  }

  /** DuckDB mirror of [[zipfSlope]] (oracle builder). */
  def zipfSlopeSql(topN: Int = 200, minFreq: Long = 2L,
                   table: String = "documents"): String =
    s"""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) tok
         FROM $table),
       tf AS (SELECT source, tok, count(*) f FROM toks
              WHERE len(tok) > 0 GROUP BY 1, 2),
       r AS (SELECT source, f,
              row_number() OVER (PARTITION BY source
                ORDER BY f DESC, tok ASC) rank
             FROM tf),
       xy AS (SELECT source, round(ln(CAST(rank AS DOUBLE)), 9) x,
               round(ln(CAST(f AS DOUBLE)), 9) y
              FROM r WHERE rank <= $topN AND f >= $minFreq),
       s AS (SELECT source, count(*) n_terms,
              CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) sx,
              CAST(SUM(CAST(y AS DECIMAL(28,12))) AS DOUBLE) sy,
              CAST(SUM(CAST(round(x*y, 9) AS DECIMAL(28,12))) AS DOUBLE) sxy,
              CAST(SUM(CAST(round(x*x, 9) AS DECIMAL(28,12))) AS DOUBLE) sxx
             FROM xy GROUP BY source)
       SELECT source, n_terms,
         CASE WHEN n_terms * sxx - sx * sx <> 0.0
           THEN round((n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx), 6)
         END AS zipf_slope,
         CASE WHEN n_terms * sxx - sx * sx <> 0.0
           THEN round((sy - (n_terms * sxy - sx * sy)
             / (n_terms * sxx - sx * sx) * sx) / n_terms, 6)
         END AS intercept
       FROM s"""

  /** HAPAX RATIO per source — the fraction of each source's vocabulary
    * occurring exactly once. Natural text runs ~0.4–0.6 (Zipf tail);
    * near 0 flags templated/duplicated content, near 1 flags noise (OCR
    * junk, random ids) — the tail-regime complement to [[zipfSlope]]'s
    * head fit. One (source, token) census (map-side combined), then a
    * vocab-sized per-source aggregate; exact integer counts, one final
    * round-6 division. Output: (source, vocab, hapax, hapax_ratio). */
  def hapaxRatio(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .where(length(col("tok")) > 0)
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("f"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("f") === 1, 1L).otherwise(0L)).as("hapax"))
      .select(col("source"), col("vocab"), col("hapax"),
        round(col("hapax").cast(DoubleType) / col("vocab"), 6).as("hapax_ratio"))

  /** DuckDB mirror of [[hapaxRatio]] (oracle builder). */
  def hapaxRatioSql(table: String = "documents"): String =
    s"""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) tok
         FROM $table),
       tf AS (SELECT source, tok, count(*) f FROM toks
              WHERE len(tok) > 0 GROUP BY 1, 2)
       SELECT source, count(*) AS vocab,
         CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
         round(CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE)
           / count(*), 6) AS hapax_ratio
       FROM tf GROUP BY source"""
}
