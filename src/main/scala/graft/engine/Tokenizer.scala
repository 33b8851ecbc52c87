package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Tokenization matching the reference's map-side split semantics:
  * split contents on every run of non-letter characters and drop empty
  * tokens (reference: `strings.FieldsFunc(contents, !unicode.IsLetter)`,
  * `src/mrapps/wc.go:22-35`).
  *
  * Two flavors:
  *  - `UnicodePattern` (`[^\p{L}]+`) is the faithful `unicode.IsLetter`
  *    rendition — the DEFAULT since round 10: a production corpus is
  *    not ASCII, and the engine-side sequential path
  *    (`engine/MapReduce.tokenize`) always used `\p{L}`, so the default
  *    matches it. It runs on the codegen'd letter-run kernel
  *    ([[graft.functions.HashKernels.letterRunTokens]]): one byte scan
  *    with an ASCII fast path, no regex, no per-token lambda. The kernel
  *    is the rule's only implementation; TokenizerSpec pins it against
  *    `split(text, "[^\\p{L}]+")` minus empties and against the Go
  *    `FieldsFunc` oracle, invalid UTF-8 included. Gates stay hash-green
  *    because FIXTURES.md pins the oracle corpus to ASCII, where the
  *    Unicode and ASCII classes coincide.
  *  - Any other pattern — `AsciiPattern` (`[^a-zA-Z]+`), the explicit
  *    override for oracle-comparability experiments (Java and RE2
  *    Unicode tables can disagree off the ASCII plane, `SURVEY.md §7.7`),
  *    or `TextAnalysis.LowerWordPattern` — keeps the regex `split` plus
  *    an empty-token `filter`.
  */
object Tokenizer {
  val AsciiPattern = "[^a-zA-Z]+"
  val UnicodePattern = "[^\\p{L}]+"

  /** Array of non-empty tokens in document order (pre-explode, so the
    * empty-token drop happens before the generator fans rows out). */
  def tokens(text: Column, pattern: String = UnicodePattern): Column =
    if (pattern == UnicodePattern) GraftFunctions.letterRunTokens(text)
    else filter(split(text, pattern), t => length(t) > lit(0))

  /** One row per token. */
  def words(text: Column, pattern: String = UnicodePattern): Column =
    explode(tokens(text, pattern))
}
