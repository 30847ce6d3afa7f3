package graft

import org.apache.spark.sql.functions._

import graft.functions.native.NativeFns

class ShinglesSpec extends SparkSpec {
  import spark.implicits._

  test("native shingle hashes == HOF poly-hash of HOF shingles, real docs") {
    val docs = Tables.load(spark, sf0001, "documents").limit(100)
    val mismatch = docs.select(
      array_sort(NativeFns.shingleHashes(col("text"), 5)).as("native"),
      array_sort(HofReference.shingleHashes(col("text"), 5)).as("hof"))
      .where(col("native") =!= col("hof"))
      .count()
    assert(mismatch == 0)
  }

  test("native shingle hashes: short text hashes whole string; CJK codepoints") {
    def ph(s: String): Long =
      s.codePoints().toArray.foldLeft(0L)((h, c) => (h * 31 + c) % 1000000007L)
    val df = Seq(("abc", "中文字符测试")).toDF("short", "cjk")
    val r = df.select(
      NativeFns.shingleHashes($"short", 5),
      NativeFns.shingleHashes($"cjk", 5)).head()
    assert(r.getSeq[Long](0) == Seq(ph("abc")))
    assert(r.getSeq[Long](1) == Seq(ph("中文字符测"), ph("文字符测试")))
  }

  test("native positional hashes at k=20 == HOF window form; null text " +
    "yields no rows") {
    import graft.functions.TextFns
    val texts = Seq("", "seven c", "exactly twenty chars",
      "Ünïcödé àccents çà et là, déjà vu", "emoji 😀 beyond 🎉 the BMP 🚀 plane")
    assert(texts(2).length == 20 && texts(1).length == 7)
    val hof = transform(
      sequence(lit(1), greatest(length($"text") - 19, lit(1))),
      i => TextFns.rollingHash($"text".substr(i, lit(20))))
    val r = texts.toDF("text").select($"text",
      NativeFns.positionalShingleHashes($"text", 20).as("native"),
      hof.as("hof")).collect()
    r.foreach(row => assert(row.getSeq[Long](1) == row.getSeq[Long](2),
      s"window hashes differ for '${row.getString(0)}'"))
    // The HOF form turns null text into one (pos 1, h null) row; the
    // kernel returns null, which posexplode drops. x_dup_longest is
    // unchanged: a null h never equi-joins the shared-window set, so a
    // null-text document still reaches the output only through the
    // left join, as 0 / 0.
    val nulls = Seq((1L, null: String)).toDF("doc_id", "text")
      .select(posexplode(NativeFns.positionalShingleHashes($"text", 20)))
    assert(nulls.count() == 0)
  }

  test("native jaccard on long arrays == intersect/union sizes") {
    val docs = Tables.load(spark, sf0001, "documents").limit(60)
      .select($"doc_id",
        NativeFns.shingleHashes($"text", 5).as("sh"),
        NativeFns.shingleHashes(expr("substring(text, 11)"), 5).as("sh2"))
    val mismatch = docs.select(
      NativeFns.jaccardNative($"sh", $"sh2").as("native"),
      (size(array_intersect($"sh", $"sh2")).cast("double") /
        size(array_union($"sh", $"sh2")).cast("double")).as("hof"))
      .where($"native" =!= $"hof")
      .count()
    assert(mismatch == 0)
  }

  test("native simhash == HOF tokenHashes48->simhash48 on real docs") {
    val docs = Tables.load(spark, sf0001, "documents").limit(100)
      .withColumn("__th", HofReference.tokenHashes48(col("text")))
    val mismatch = docs.select(
      NativeFns.simhashNative(col("text")).as("native"),
      HofReference.simhash48("__th").as("hof"))
      .where(col("native") =!= col("hof"))
      .count()
    assert(mismatch == 0)
  }

  test("native jaccard == intersect/union sizes on real shingle sets") {
    val docs = Tables.load(spark, sf0001, "documents").limit(60)
      .select($"doc_id",
        HofReference.shingles($"text", 5).as("sh"),
        HofReference.shingles(expr("substring(text, 11)"), 5).as("sh2"))
    val mismatch = docs.select(
      NativeFns.jaccardNative($"sh", $"sh2").as("native"),
      (size(array_intersect($"sh", $"sh2")).cast("double") /
        size(array_union($"sh", $"sh2")).cast("double")).as("hof"))
      .where($"native" =!= $"hof")
      .count()
    assert(mismatch == 0)
  }
}
