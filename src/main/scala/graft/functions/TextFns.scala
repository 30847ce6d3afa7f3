package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text-analysis building blocks for training-data pipelines:
  * normalization, fingerprinting, token/quality stats, language-ID
  * heuristics, shingling and portable hashing.
  *
  * Everything here is pure `org.apache.spark.sql.functions` composition
  * (codegen'd, no UDFs), and every function is reproducible in ANSI-ish
  * SQL so the DuckDB oracle can compute identical values:
  *  - the portable 32/48-bit hashes are hex prefixes of md5 (md5 is
  *    identical everywhere);
  *  - regex classes are restricted to the RE2 ∩ java.util.regex subset.
  */
object TextFns {

  /** Whitespace-collapsed, lower-cased, trimmed text — the normalization
    * under exact-dedup fingerprints. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Exact-dedup fingerprint: md5 of the normalized text. */
  def fingerprintMd5(text: Column): Column = md5(normalizeText(text))

  /** Polynomial rolling hash over code points:
    * fold(h = (h*31 + codepoint) mod 1e9+7). Mirrors DuckDB
    * list_reduce over unicode(); used as a cheap order-sensitive
    * document fingerprint. It is also the portable shingle hash:
    * ShingleHashesExpr and PositionalShingleHashesExpr compute it per
    * k-window in one native pass.
    */
  def rollingHash(text: Column): Column =
    aggregate(
      transform(split(text, ""), c => ascii(c).cast("long")),
      lit(0L),
      (acc, c) => (acc * 31 + c) % 1000000007L)

  /** Whitespace tokens of the trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** The corpus word rule: whitespace tokens of the lower-cased,
    * trimmed text, which the DuckDB oracles mirror as
    * string_split_regex(lower(trim(s)), '\s+'). `trim` strips spaces
    * only, so a tab or newline at either end (or an all-space text)
    * leaves a "" token; "" maps to [""] and null to null. */
  def words(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Word n-grams, joined with single spaces, of an already-tokenized
    * column (so a multi-n consumer tokenizes once). Fewer than n
    * tokens, or a null array, give an empty array: Spark's sequence()
    * would descend on start > stop, so the short case is guarded. */
  def wordGrams(words: Column, n: Int): Column =
    when(size(words) >= n,
      transform(sequence(lit(1), size(words) - (n - 1)),
        i => concat_ws(" ", slice(words, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  def tokenCount(text: Column): Column =
    size(tokens(text)).cast("long")

  /** Count of characters in an explicit punctuation class (kept to an
    * enumerated class so Java regex and RE2 agree). */
  val PunctClass = "[.,;:!?'()\\[\\]{}\"-]"
  def punctCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, PunctClass, ""))).cast("long")

  /** Number of whole-word matches from `words` in the lower-cased text. */
  def wordSetCount(text: Column, words: Seq[String]): Column =
    size(regexp_extract_all(lower(text),
      lit("\\b(" + words.mkString("|") + ")\\b"), lit(0))).cast("long")

  /** Count of CJK-block characters. */
  def cjkCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[一-鿿]"), lit(0))).cast("long")

  // Language-ID stopword sets (n-gram-free heuristic: whole-word stopword
  // hits per language + CJK presence; deterministic precedence on ties).
  val EnWords = Seq("the", "and", "is", "of", "to", "in", "that", "it")
  val DeWords = Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu")
  val FrWords = Seq("le", "la", "les", "et", "est", "que", "une", "des")
  val EsWords = Seq("el", "los", "las", "es", "y", "una", "por", "con")

  /** Heuristic language id ∈ {zh,en,de,fr,es} with fixed tie precedence
    * en > de > fr > es. The same CASE runs on the oracle side.
    */
  def langId(text: Column): Column = {
    val en = wordSetCount(text, EnWords)
    val de = wordSetCount(text, DeWords)
    val fr = wordSetCount(text, FrWords)
    val es = wordSetCount(text, EsWords)
    when(cjkCount(text) > 0, lit("zh"))
      .when(en >= de && en >= fr && en >= es, lit("en"))
      .when(de >= fr && de >= es, lit("de"))
      .when(fr >= es, lit("fr"))
      .otherwise(lit("es"))
  }

  /** Portable 32-bit hash: first 8 hex chars of md5 as an unsigned int.
    * DuckDB computes the identical value from the same md5 hex. */
  def hash32(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  /** MinHash prime modulus and the (a,b) coefficient pairs; the same
    * literals are interpolated into the oracle SQL. */
  val MinhashP: Long = 2147483647L
  val MinhashSeeds: Seq[(Long, Long)] =
    (0 until 16).map { j =>
      (((2654435761L * (j + 1)) % 1073741823L) | 1L,
        (40503L * (j + 7)) % 2147483647L)
    }

  /** BPE-ish subword-boundary tokenization (regex only — the shape a
    * byte-pair tokenizer's pre-tokenizer uses): letter runs, digit
    * chunks of at most 3 (BPE tokenizers split long numbers), and
    * single non-alphanumeric marks. The class is kept inside the
    * RE2 ∩ java.util.regex subset (explicit whitespace class, no \s)
    * so Spark and DuckDB tokenize identically.
    */
  val BpePattern = "[A-Za-z]+|[0-9]{1,3}|[^ \\t\\n\\rA-Za-z0-9]"
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0))).cast("long")

  // PII scrubbing patterns (RE2 ∩ Java subset; explicit whitespace class)
  val UrlPattern = "https?://[^ \\t\\n\\r]+"
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongNumPattern = "[0-9]{7,}"

  /** Redact URLs, then emails, then 7+-digit runs (order matters: URLs
    * may contain digits/@). The same three regexp_replace calls run on
    * the oracle side. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlPattern, "<URL>"),
        EmailPattern, "<EMAIL>"),
      LongNumPattern, "<NUM>")

  def patternCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long")

  /** Boilerplate strip: remove HTML-ish tags (`<[^>]*>` — RE2 ∩ Java
    * safe, no backtracking), then collapse whitespace and trim. The
    * standard first pass over web-crawl text before fingerprinting or
    * quality scoring. */
  def stripHtml(text: Column): Column =
    trim(regexp_replace(regexp_replace(text, "<[^>]*>", " "), "\\s+", " "))

  /** Within-document repetition: fraction of repeated word n-grams,
    * `1 - distinct/total` over the n-grams of lower(trim(text)) — the
    * Gopher-style "repetitious document" quality signal. 0.0 when the
    * text has fewer than n tokens (no grams → nothing repeated). */
  def repetitionRatio(text: Column, n: Int): Column = {
    val grams = wordGrams(words(text), n)
    round(when(size(grams) === 0, lit(0.0d))
      .otherwise(lit(1.0d) -
        size(array_distinct(grams)).cast("double") /
          size(grams).cast("double")), 4)
  }
}
