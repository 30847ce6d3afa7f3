package graft

/** Every registered query must run and return rows on sf0.001 — the fast
  * regression net (full value-level checking is the DuckDB gate;
  * see tools/verify_local.py).
  */
class QueriesSmokeSpec extends SparkSpec {

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name returns rows on sf0.001") {
      assert(fn(spark, sf0001).count() > 0, s"$name returned 0 rows")
    }
  }

  test("entry returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("each query is declared once, with one non-empty oracle") {
    import graft.queries.{Analytics, Parity, TrainingData}
    val rows = Parity.queries ++ Analytics.queries ++ TrainingData.queries
    assert(rows.map(_.name).distinct.size == rows.size)
    assert(SparkEntry.queries.size == rows.size)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    // a row that read a *Sql val declared after it would capture null
    val empty = rows.filter(q => q.oracle == null || q.oracle.trim.isEmpty)
    assert(empty.isEmpty, empty.map(_.name).mkString(", "))
  }

  test("no oracle line starts with a lone '|' (a margin stripped twice)") {
    // an outer .stripMargin also strips the lines of an interpolated
    // builder, so a builder line starting `||` would lose one `|`
    val bad = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap {
      case (name, sql) => sql.split("\n").map(_.dropWhile(_.isWhitespace))
        .filter(l => l.startsWith("|") && !l.startsWith("||"))
        .map(l => s"$name: $l")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
