package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline, built exclusively
  * from `org.apache.spark.sql.functions` (whole-stage-codegen'd, no UDFs) so
  * Catalyst can push/prune/fold around them at 100 TB scale.
  */
object TextStats {

  /** Closed stopword list used by quality scoring and language-ID. */
  val EnStopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is")

  private def wordsCol(text: Column): Column = split(text, " ")

  def nChars(text: Column): Column = length(text).cast("long")

  def nWords(text: Column): Column = size(wordsCol(text)).cast("long")

  def stopwordCount(text: Column): Column = {
    size(filter(wordsCol(text), w => w.isin(EnStopwords: _*))).cast("long")
  }

  /** stopword ratio + mean word length: the length/punct/stopword family of
    * quality heuristics (punctuation is absent from the synthetic corpus but
    * the alpha-ratio column covers the same shape).
    */
  def qualityColumns(text: Column): Seq[(String, Column)] = Seq(
    "n_chars" -> nChars(text),
    "n_words" -> nWords(text),
    "n_stopwords" -> stopwordCount(text),
    "stopword_ratio" -> stopwordCount(text).cast("double") / nWords(text).cast("double"),
    "mean_word_len" ->
      (nChars(text) - nWords(text) + lit(1L)).cast("double") / nWords(text).cast("double")
  )

  /** Whitespace token count plus a BPE-ish subword count: each word costs
    * ceil(len/4) subword tokens (a deterministic proxy for byte-pair merges).
    */
  /** GPT-style pre-tokenizer match pattern (simplified to the corpus
    * alphabet; no lookahead so RE2-based engines agree): a leading-space
    * letter run, digit run, or punctuation run per token.
    */
  val BpeTokenPattern = " ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+"

  def tokenCountColumns(text: Column): Seq[(String, Column)] = Seq(
    "n_ws_tokens" -> nWords(text),
    "n_subword_tokens" ->
      aggregate(wordsCol(text), lit(0L),
        (acc, w) => acc + ceil(length(w).cast("double") / 4.0).cast("long")),
    "n_bpe_tokens" ->
      size(regexp_extract_all(text, lit(BpeTokenPattern), lit(0))).cast("long")
  )

  /** Deterministic heuristic language-ID: argmax over per-language stopword
    * hits; 'und' when no list matches. (Real corpora would use character
    * n-gram profiles; the decision structure — closed lists, argmax,
    * codegen'd `filter`/`size` — is the scale-relevant part.)
    */
  def langIdColumn(text: Column): Column = {
    val hits = Map(
      "en" -> EnStopwords,
      "fr" -> Seq("le", "la", "et", "les", "des"),
      "de" -> Seq("der", "die", "und", "das", "ein"),
      "es" -> Seq("el", "la", "y", "los", "que")
    ).map { case (lang, words) =>
      lang -> size(filter(wordsCol(text), w => w.isin(words: _*))).cast("long")
    }
    // deterministic argmax with 'en' > 'fr' > 'de' > 'es' priority on ties
    val ordered = Seq("en", "fr", "de", "es").map(l => (l, hits(l)))
    val best = ordered.tail.foldLeft((lit("en"), ordered.head._2)) {
      case ((bl, bs), (l, s)) => (when(s > bs, lit(l)).otherwise(bl), when(s > bs, s).otherwise(bs))
    }
    when(best._2 > 0L, best._1).otherwise(lit("und"))
  }

  /** Rolling document fingerprint: fold over words of
    * (acc * 31 + len(w) * 17 + ascii(first char)) mod 2^31-1.
    * Pure integer arithmetic → bit-identical in any engine (the DuckDB
    * oracle replays it with list_reduce).
    */
  def fingerprintColumn(text: Column): Column =
    aggregate(wordsCol(text), lit(0L),
      (acc, w) => (acc * 31L + length(w).cast("long") * 17L + ascii(w)) % 2147483647L)
}
