package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text primitives shared by the text-analysis, BM25 and
  * dedup operators: narrow per-row transforms that scale linearly and
  * never shuffle.
  *
  * Tokenization mirrors the reference's BM25 tokenizer
  * (reference: backend/app/core/embeddings.py:175 _tokenize —
  * lowercase, `[a-z0-9]+`, drop tokens of length <= 2).
  */
object TextFns {

  /** Locale-independent lowercase for driver-side term/keyword folds.
    * `String.toLowerCase` uses the JVM default locale — under a
    * Turkish locale "I".toLowerCase is "ı" (dotless), diverging from
    * SQL `lower()` on BOTH engines and silently breaking term
    * matching. Every driver-side fold of a constant that must agree
    * with SQL `lower()` routes here.
    */
  def lcRoot(s: String): String = s.toLowerCase(java.util.Locale.ROOT)

  /** Quote a string into a single-quoted SQL literal ('' doubling) —
    * every term/keyword interpolated into an oracle's SQL goes
    * through this so a quote in the term can't break the oracle text.
    */
  def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** English-ish stopwords used for stats/quality/keywords (mirrors
    * the stopword filtering in
    * reference: backend/app/utils/trend_analyzer.py:216).
    */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "to", "in", "is", "for", "on",
    "with", "as", "by", "at", "or", "be", "are", "was", "were", "this")

  /** Whitespace tokens (lowercased). Empty / whitespace-only text
    * yields ONE empty-string token (split-on-empty semantics) — a
    * deliberate cross-engine contract: DuckDB's string_split_regex
    * does the same, and every oracle that counts tokens relies on the
    * two engines agreeing on this edge.
    */
  def wsTokens(text: Column): Column =
    split(lower(trim(text)), "\\s+")

  /** BM25-style tokens: lowercase, alnum runs, length > 2. */
  def bm25Tokens(text: Column): Column =
    filter(
      regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0)),
      t => length(t) > 2)

  /** `[dl, tf_0, …, tf_{n-1}]` (array<double>) of `text` against the
    * already-lowercased `terms`, over the same tokens as `bm25Tokens`
    * — a native one-pass expression (Bm25TermCounts) that never
    * materializes the tokens. Null text → null.
    */
  def bm25TermCounts(text: Column, terms: Seq[String]): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.expressions.Bm25TermCounts(
      ColumnShim.expression(lower(text)), terms))
  }

  /** Sliding word n-gram shingles from a PRE-PROJECTED token array
    * column — a native codegen'd expression (TokenShingles): the HOF
    * formulation (TextAnalysisSpec's differential-testing twin) is
    * CodegenFallback and dominated the dedup shingle stage. Callers
    * should still materialize the tokens into a real column first so
    * upstream `split` runs once per row.
    */
  def shinglesOfTokens(toks: Column, n: Int): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(
      graft.expressions.TokenShingles(ColumnShim.expression(toks), n))
  }

  def countInList(tokens: Column, words: Seq[String]): Column =
    size(filter(tokens, t => t.isInCollection(words)))

  /** Normalized text for fingerprinting: lowercase, collapse runs of
    * whitespace to single spaces, trim.
    */
  def normalized(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** 64-bit-ish content fingerprint: first 16 hex chars of md5 of the
    * normalized text (stable across engines, unlike engine-native
    * hash functions).
    */
  def contentFingerprint(text: Column): Column =
    substring(md5(normalized(text)), 1, 16)

  /** Cross-engine-stable 32-bit token hash: first 8 md5 hex chars as
    * a long. Used for SimHash bit derivation and feature hashing.
    */
  def hexHash32(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  /** Second independent 32-bit hash: md5 hex chars 9-16. Together with
    * hexHash32 this yields the 64 SimHash bit sources without ever
    * materialising a 64-bit value (which could overflow BIGINT when
    * assembled — DuckDB raises on overflow).
    */
  def hexHash32Hi(s: Column): Column =
    conv(substring(md5(s), 9, 8), 16, 10).cast("long")
}
