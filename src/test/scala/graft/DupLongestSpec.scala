package graft

import graft.queries.TrainingData

/** x_dup_longest over hand-built documents: the longest run of
  * consecutive 20-char windows a document shares with another one, and
  * the characters that run spans. */
class DupLongestSpec extends SparkSpec {
  import spark.implicits._

  test("dupLongestQ pins run length and span on hand-built documents") {
    val shared = "the quick brown fox jumps"
    assert(shared.length == 25)
    val docs = Seq[(Long, String)](
      (1L, "XXXXX-" + shared + "-1111111"),
      (2L, "yy:" + shared + ";zzzz"),
      (3L, "a document that shares no twenty-char window"),
      (4L, null),
      (5L, "short twin text"),
      (6L, "short twin text"))
    val dir = Scratch.dir("spec-dup_longest").toString
    docs.toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    val got = TrainingData.dupLongestQ(spark, dir).as[(Long, Long, Long)]
      .collect().map { case (id, run, span) => id -> (run, span) }.toMap
    // 25 shared chars = 6 consecutive shared windows, 6 + 19 chars
    assert(got(1L) == (6L, 25L) && got(2L) == (6L, 25L))
    assert(got(3L) == (0L, 0L))
    // null text has no windows; the left join still keeps the row
    assert(got(4L) == (0L, 0L))
    // text shorter than a window hashes whole: one shared window
    assert(got(5L) == (1L, 20L) && got(6L) == (1L, 20L))
    assert(got.size == docs.size)
  }
}
