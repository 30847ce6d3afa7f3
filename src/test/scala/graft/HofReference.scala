package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pure higher-order-function forms of native expressions: the
  * registration-free references the native `graft_dot`,
  * `graft_simhash` and `graft_shingle_hashes` are compared against bit
  * for bit (DotProductSpec, ShinglesSpec, PropertiesSpec). Interpreted
  * lambdas — correct, slow. Also the word n-gram chains that
  * `TextFns.words` + `TextFns.wordGrams` replaced, verbatim as each
  * call site had them (NativeParitySpec).
  */
object HofReference {

  /** Distinct character k-shingles of the raw text (MinHash input). */
  def shingles(text: Column, k: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (k - 1), lit(1))),
      i => text.substr(i, lit(k))))

  /** HOF mirror of ShingleHashesExpr (distinct poly-hashes of the
    * k-shingles; distinctness on the hash value). */
  def shingleHashes(text: Column, k: Int): Column =
    array_distinct(transform(shingles(text, k),
      s => graft.functions.TextFns.rollingHash(s)))

  /** Dot product as an ascending-index fold in DOUBLE. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  /** Portable 48-bit hash: first 12 hex chars of md5 (stays positive in
    * a signed 64-bit lane). */
  def hash48(s: Column): Column =
    conv(substring(md5(s), 1, 12), 16, 10).cast("long")

  /** 48-bit hashes of the whitespace tokens of lower(trim(text)) —
    * materialize once (withColumn) before [[simhash48]], so the md5s
    * are not recomputed per bit. */
  def tokenHashes48(text: Column): Column =
    transform(split(lower(trim(text)), "\\s+"), t => hash48(t))

  /** 48-bit SimHash over the token-hash array column named `thCol`:
    * per bit k the vote is Σ(±1) over tokens, bit set iff strictly
    * positive. SQL text because SQL shiftright/shiftleft take column
    * shift amounts. */
  def simhash48(thCol: String): Column = expr(
    s"""aggregate(
       |  sequence(0, 47),
       |  CAST(0 AS BIGINT),
       |  (acc, k) -> acc + IF(
       |    aggregate($thCol, CAST(0 AS BIGINT),
       |      (v, h) -> v + IF(shiftright(h, k) % 2 = 1,
       |                       CAST(1 AS BIGINT), CAST(-1 AS BIGINT))
       |    ) > 0,
       |    shiftleft(CAST(1 AS BIGINT), k), CAST(0 AS BIGINT)))""".stripMargin)

  /** The guarded word n-gram chain of Selection.gramBuckets,
    * SparseSim.tfidfPostings and TextFns.repetitionRatio. */
  def wordGrams(t: Column, n: Int): Column = {
    val toks = split(lower(trim(t)), "\\s+")
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** The distinct-gram chain of Dedup.contaminationReport,
    * noveltyReport and ngramJaccard. */
  def distinctWordGrams(t: Column, n: Int): Column = {
    val toks = split(lower(trim(t)), "\\s+")
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** TextEval's tokenizer and n-gram form: n = 1 is the tokens
    * themselves, and a null text stays null. */
  def textEvalToks(c: Column): Column = split(lower(trim(c)), "\\s+")
  def textEvalGrams(t: Column, n: Int): Column = {
    require(n >= 1)
    if (n == 1) t
    else when(size(t) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(t) - (n - 1)),
        i => array_join(slice(t, i, lit(n)), " ")))
  }

  /** TextFns.repetitionRatio over its pasted chain. */
  def repetitionRatio(text: Column, n: Int): Column = {
    val grams = wordGrams(text, n)
    round(when(size(grams) === 0, lit(0.0d))
      .otherwise(lit(1.0d) -
        size(array_distinct(grams)).cast("double") /
          size(grams).cast("double")), 4)
  }

  /** Dedup.ngramJaccard over its pasted chain. */
  def ngramJaccard(a: Column, b: Column, n: Int): Column = {
    val ga = distinctWordGrams(a, n)
    val gb = distinctWordGrams(b, n)
    val inter = size(array_intersect(ga, gb))
    val union = size(array_union(ga, gb))
    round(when(union === 0, lit(0.0d))
      .otherwise(inter.cast("double") / union.cast("double")), 4)
  }
}
