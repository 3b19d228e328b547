package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding (BPE) merge induction — tokenizer
  * TRAINING as a corpus operator (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units"). The reference engine
  * has no text processing at all (its four drivers treat every field as
  * an opaque string, `BulkImporterFromText.java:54-66`); subword-vocab
  * induction is part of the LLM-pipeline surface this engine adds.
  *
  * Algorithm, exactly as the original word-frequency formulation:
  *   1. ONE corpus scan reduces the corpus to a (word, freq) table —
  *      after this, corpus size never matters again; every iteration
  *      runs over the compact vocabulary (≪ corpus, typically a few
  *      million rows at 100 TB).
  *   2. Each word is a separator-joined symbol string, initially its
  *      characters: "the" → ␟t␟h␟e␟ (US `` cannot occur in the
  *      kept [a-z]+ words).
  *   3. Per round: count adjacent symbol pairs weighted by word freq
  *      (explode → groupBy pair → sum), pick the single most frequent
  *      pair (ties break lexicographically — deterministic across
  *      engines, runs, and cluster sizes), and rewrite every word by
  *      merging that pair.
  *
  * The merge rewrite is string `replace` of ␟l␟r␟ → ␟lr␟, applied three
  * times: consecutive pattern occurrences share one separator char, so a
  * single left-to-right non-overlapping pass can skip every other
  * occurrence of an ...lrlrlr... chain; a second pass catches the
  * skipped ones (symbols ≤20 chars bound the chain length), the third is
  * margin. Words with a triple-repeated character are dropped up front
  * (junk like "aaaa", and it caps same-symbol CHAR runs at 2, which
  * makes replace ≡ the canonical leftmost greedy fold for every
  * single-char-symbol round — property-hammered over the full filtered
  * {a,b,c} word space in PropertySpec). In later rounds a run of ≥4
  * identical MERGED symbols (degenerate words like "ababababab" →
  * [ab]×5) can group merges differently from the fold; the Spark and
  * oracle sides still agree exactly (same replace schedule), only
  * fidelity to textbook BPE on such words is approximate.
  *
  * Scale shape: stage 1 is the only corpus-wide shuffle (word hash).
  * Each round is one vocab-sized pair aggregation + a 1-row top-1
  * (TakeOrdered — no global sort) broadcast-cross-joined into the
  * rewrite, and the vocab table is re-materialized per round
  * ([[Dedup.materialize]]) so the plan does not double per
  * iteration. The driver never holds row data.
  *
  * Output: one row per merge — (rank 1..k, lhs, rhs, pair_freq). */
object Bpe {

  private val SEP = ""

  /** (word, freq) over lowercased alpha words of length 2–20 with no
    * triple-repeated character — the one corpus-wide pass. */
  def wordFreq(docs: DataFrame): DataFrame =
    docs.select(explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .where(length(col("word")).between(2, 20) &&
        !col("word").rlike("(.)\\1\\1"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** The shared train loop: returns (final vocab (word, syms, freq), one
    * 1-row merge table per round). Each round's vocab and winning pair
    * are re-materialized so the lazy plan does not double per iteration. */
  private def run(docs: DataFrame, rounds: Int): (DataFrame, Seq[DataFrame]) = {
    val base = wordFreq(docs).select(col("word"),
      concat(lit(SEP), regexp_replace(col("word"), "(.)", "$1" + SEP)).as("syms"),
      col("freq"))
    var vocab = Dedup.materialize(base)
    val merges = Seq.newBuilder[DataFrame]
    for (r <- 1 to rounds) {
      val toks: Column = filter(split(col("syms"), SEP), _ =!= "")
      val pairs = vocab
        .select(col("freq"), explode(arrays_zip(
          slice(toks, lit(1), size(toks) - 1).as("l"),
          slice(toks, lit(2), size(toks) - 1).as("r"))).as("p"))
        .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
        .agg(sum("freq").as("pair_freq"))
      val top1 = Dedup.materialize(
        pairs.orderBy(col("pair_freq").desc, col("lhs"), col("rhs")).limit(1)
          .select(lit(r).as("rank"), col("lhs"), col("rhs"), col("pair_freq")))
      merges += top1
      val pat = concat(lit(SEP), col("lhs"), lit(SEP), col("rhs"), lit(SEP))
      val rep = concat(lit(SEP), col("lhs"), col("rhs"), lit(SEP))
      val once = (s: Column) => replace(s, pat, rep)
      vocab = Dedup.materialize(
        vocab.crossJoin(broadcast(top1.select(col("lhs"), col("rhs"))))
          .select(col("word"), once(once(once(col("syms")))).as("syms"), col("freq")))
    }
    (vocab, merges.result())
  }

  /** Top-k BPE merges over the corpus. Each returned row is one merge
    * rule in application order with the pair frequency that won it. */
  def merges(docs: DataFrame, rounds: Int): DataFrame =
    run(docs, rounds)._2.reduce(_ unionByName _)
      .select(col("rank"), col("lhs"), col("rhs"), col("pair_freq"))

  /** The trained tokenizer itself: each vocab word with its final symbol
    * string after `rounds` merges — (word, syms, freq). */
  def encodedVocab(docs: DataFrame, rounds: Int): DataFrame =
    run(docs, rounds)._1

  /** Train → APPLY: per-document subword fertility under the vocab the
    * corpus itself induced — n_subwords/n_words after `rounds` merges,
    * the metric tokenizer teams track (lower = better compression; 1.0 =
    * every word is a single token). Words outside the vocab filter
    * (length, triple-run junk) are excluded from both counts.
    *
    * Scale shape: the apply side is an equi-join of exploded corpus words
    * against the word-keyed vocab (map-side combinable per-doc agg after
    * it); the vocab is corpus-derived and checkpointed by the train loop,
    * so applying costs one more corpus scan + one word-hash shuffle. */
  def fertility(docs: DataFrame, rounds: Int): DataFrame = {
    val vocab = encodedVocab(docs, rounds).select(col("word"),
      size(filter(split(col("syms"), SEP), _ =!= "")).as("n_sub"))
    val words = docs
      .select(col("doc_id"), explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .where(length(col("word")).between(2, 20) &&
        !col("word").rlike("(.)\\1\\1"))
    words.join(vocab, Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_sub").as("n_subwords"))
      .select(col("doc_id"), col("n_words"), col("n_subwords"),
        round(col("n_subwords") / col("n_words"), 6).as("fertility"))
  }
}
