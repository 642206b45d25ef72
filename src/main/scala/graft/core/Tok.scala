package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, filter, length, lower, split}

import graft.functions.UnicodeTokens

/** THE word-tokenization seam of the text family (r17 verdict top item:
  * "adopt UnicodeTokens as the DEFAULT"). Every production operator that
  * splits text into words — dedup shingles/grams, TF-IDF, Gopher stats,
  * BPE word-splitting, quality scores, curation pipelines — goes through
  * these helpers, so the whole family is script-aware by default:
  * CJK/Thai codepoints tokenize as singletons instead of an entire
  * document collapsing into one `\s+` token (which silently no-ops
  * dedup/decontamination on unsegmented scripts — ~half of real web
  * corpora).
  *
  * Invariant (the migration's regression gate): on pure-ASCII text the
  * kernel produces EXACTLY the tokens of the legacy
  * `filter(split(lower(text), "\\s+"), _.nonEmpty)` — so adopting this
  * seam moves NO output on whitespace-script corpora
  * (UnicodeTokensSpec pins it property-style).
  *
  * The DuckDB oracle replays the identical segmentation as ONE RE2
  * regex GENERATED from [[UnicodeTokens.Re2Pattern]] — oracle fragments
  * are built here from the same constant so the two engines' token
  * definitions cannot drift apart silently.
  */
object Tok {

  /** Script-aware word tokens of lower(text) — the default seam.
    * Never yields empty or null tokens (runs are maximal non-separator
    * spans), so no length>0 filter is needed downstream.
    *
    * One kernel lowercases and splits ([[UnicodeTokens]] with
    * `lowercase`), bit-identical to Spark's `lower` followed by the
    * tokenizer (UnicodeTokensSpec). Spark's own `lower` is kept out: on
    * non-ASCII text it initializes `CollationAwareUTF8String`, whose
    * ~2 s static title-case table stalls every task thread of the JVM
    * that first meets such a document.
    */
  def words(text: Column): Column = UnicodeTokens.lowered(text)

  /** Case-preserving variant (the few case-sensitive consumers). */
  def wordsCased(text: Column): Column = UnicodeTokens(text)

  /** Legacy `\s+` tokens (empties dropped) — kept ONLY for explicit
    * side-by-side comparisons (e.g. a witness query demonstrating the
    * CJK no-op); production operators use [[words]].
    */
  def legacyWords(text: Column): Column =
    filter(split(lower(text), "\\s+"), tk => length(tk) > 0)

  /** DuckDB fragment producing the same token list as [[words]] over
    * the SQL expression `expr` (usually a column name). Generated from
    * the kernel's own pattern constant.
    */
  def sqlWords(expr: String): String =
    "regexp_extract_all(lower(" + expr + "), '" + UnicodeTokens.Re2Pattern + "')"

  /** DuckDB twin of [[wordsCased]]. */
  def sqlWordsCased(expr: String): String =
    "regexp_extract_all(" + expr + ", '" + UnicodeTokens.Re2Pattern + "')"
}
