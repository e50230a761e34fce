package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The one place that knows the catalog's text formats: the tokeniser, word
  * n-grams, the bigram-LM pair string, and the two key families derived
  * from them. The DuckDB oracle SQL replays each format independently, so a
  * change here changes values the oracles pin.
  *
  * Two key families, never mixed:
  *  - [[internalKey]] (xxhash64) for keys that are only grouped or joined
  *    on and never reach the output;
  *  - `certifiedKey` / `certifiedFingerprint` (md5 prefixes) for keys whose
  *    values the output carries or an oracle recomputes. Converting one of
  *    these to xxhash64 changes certified output.
  */
object TextKeys {

  /** Single-space split, empty fields kept — `string_split(text, ' ')` in
    * the oracles.
    */
  def words(text: Column): Column = split(text, " ")

  /** The first `k` words of `text`, space-joined (all of them when fewer). */
  def prefixWords(text: Column, k: Column): Column = concat_ws(" ", slice(words(text), lit(1), k))

  def prefixWords(text: Column, k: Int): Column = prefixWords(text, lit(k))

  /** Space-joined word n-grams of a token array, in order, each passed
    * through `key` inside the one transform (no gram-string array is
    * materialised); empty when there are fewer than `n` tokens.
    */
  def wordGrams(tokens: Column, n: Int, key: Column => Column = identity): Column =
    when(size(tokens) >= n,
      transform(sequence(lit(1), size(tokens) - (n - 1)),
        i => key(concat_ws(" ", slice(tokens, i, lit(n))))))
      .otherwise(array())

  /** Separator of a [[bigrams]] element: chr(1), which no token contains. */
  private val BigramSep = "\u0001"

  /** Adjacent word pairs joined by chr(1) — the bigram-LM family's format
    * (`ws[i] || chr(1) || ws[i+1]` in the oracles). Needs at least two
    * tokens.
    */
  def bigrams(tokens: Column): Column =
    transform(sequence(lit(1), size(tokens) - 1),
      i => concat(element_at(tokens, i), lit(BigramSep), element_at(tokens, i + 1)))

  /** Word `i` (0 or 1) of a [[bigrams]] element. */
  def bigramWord(bigram: Column, i: Int): Column = split(bigram, BigramSep).getItem(i)

  /** Internal key: xxhash64. Only for values that are grouped or joined on. */
  def internalKey(e: Column): Column = xxhash64(e)

  /** Certified key: the first `hexDigits` hex digits of md5 as a BIGINT
    * (`CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)` in the oracles).
    */
  def certifiedKey(e: Column, hexDigits: Int = 15): Column =
    conv(substring(md5(e), 1, hexDigits), 16, 10).cast("bigint")

  /** Certified fingerprint: the first `hexDigits` hex digits of md5, as a
    * string — the winnow/substring family's shingle fingerprint.
    */
  def certifiedFingerprint(e: Column, hexDigits: Int = 16): Column =
    substring(md5(e), 1, hexDigits)
}
