package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines over the
  * `documents` table: token counting, quality scoring, language-ID
  * heuristic, and rolling-hash document fingerprinting. All are pure
  * Catalyst column expressions (codegen'd, no UDFs) so they fuse into the
  * scan stage and scale linearly.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** Quality score in [0,1]: blend of length, punctuation ratio, mean word
    * length and uppercase ratio — the standard cheap quality heuristics.
    */
  def qualityScore(text: Column): Column = {
    val len = length(text).cast("double")
    val words = tokenCount(text).cast("double")
    val punct = length(regexp_replace(text, "[^.,;:!?]", "")).cast("double")
    val upper = length(regexp_replace(text, "[^A-Z]", "")).cast("double")
    val meanWordLen = len / greatest(words, lit(1.0))
    val lengthScore = least(len / lit(500.0), lit(1.0))
    val punctScore = least(punct / greatest(words, lit(1.0)) * lit(5.0), lit(1.0))
    val caseScore = lit(1.0) - least(upper / greatest(len, lit(1.0)) * lit(4.0), lit(1.0))
    val wordLenScore = when(meanWordLen.between(3.0, 10.0), lit(1.0))
      .otherwise(lit(0.5))
    (lengthScore * lit(0.4) + punctScore * lit(0.2) + caseScore * lit(0.2) +
      wordLenScore * lit(0.2))
  }

  /** n-gram language-ID heuristic: scores against tiny per-language marker
    * sets (stopwords / characteristic digraphs) and picks the argmax.
    * Returns a language code column ('en', 'fr', 'de', 'es', 'unk').
    */
  def langId(text: Column): Column = {
    val t = concat(lit(" "), lower(text), lit(" "))
    def hits(markers: Seq[String]): Column =
      markers.map(m => when(t.contains(s" $m "), 1).otherwise(0))
        .reduce(_ + _)
    val en = hits(Seq("the", "and", "of", "to", "is", "in", "that", "it"))
    val fr = hits(Seq("le", "la", "les", "de", "et", "un", "une", "est"))
    val de = hits(Seq("der", "die", "das", "und", "ist", "ein", "nicht"))
    val es = hits(Seq("el", "la", "los", "de", "y", "es", "que", "un"))
    val best = greatest(en, fr, de, es)
    when(best === 0, "unk")
      .when(en === best, "en")
      .when(fr === best, "fr")
      .when(de === best, "de")
      .otherwise("es")
  }

  /** 64-bit document fingerprint: xxhash64 of normalized text (lowercase,
    * collapsed whitespace) — exact-dup detection key.
    */
  def fingerprint(text: Column): Column =
    xxhash64(regexp_replace(lower(trim(text)), "\\s+", " "))
}
