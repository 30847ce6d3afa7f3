package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions must make the native functions SQL-resolvable in a
  * session built with `withExtensions` — no NativeFns.register call —
  * which is the deployment path (`spark.sql.extensions=graft.GraftExtensions`).
  *
  * Runs against its own session: extensions only apply at session build
  * time, so the suite stops whatever shared session exists and leaves a
  * clean slate for the next suite's getOrCreate.
  */
class ExtensionsSpec extends AnyFunSuite {

  test("functions injected via SparkSessionExtensions resolve in SQL") {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val r = spark.sql(
        """SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
          |       graft_simhash('hello world hello') AS sh,
          |       graft_jaccard(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS j
          |""".stripMargin).collect().head
      assert(math.abs(r.getDouble(0) - 11.0) < 1e-9)
      assert(r.getLong(1) != 0L)
      assert(math.abs(r.getDouble(2) - 0.5) < 1e-9)
      // catalog-level DESCRIBE works for injected (non-temp) functions
      val desc = spark.sql("DESCRIBE FUNCTION graft_dot")
        .collect().map(_.getString(0)).mkString("\n")
      assert(desc.contains("Function: graft_dot"), desc)
      // the usage doc must reach the catalog metadata (a swapped
      // ExpressionInfo ctor would put the name there instead)
      assert(desc.contains("double-array dot product"), desc)
      // graft_hilbert argument validation (ADVICE r9): BIGINT literal
      // bits works (numeric match, not asInstanceOf[Int]); wrong arity
      // and a non-foldable bits fail as ANALYSIS errors with the
      // function's own message, not a ClassCast/IndexOutOfBounds
      val h = spark.sql(
        "SELECT graft_hilbert(3L, 5L, CAST(8 AS BIGINT)) AS h")
        .collect().head.getLong(0)
      assert(h == spark.sql("SELECT graft_hilbert(3L, 5L, 8) AS h")
        .collect().head.getLong(0))
      // the registry may wrap the builder's AnalysisException — what
      // matters is that the function's own message reaches the user at
      // ANALYSIS time, not a ClassCast/IndexOutOfBounds at runtime
      def analysisMessage(sql: String): String = {
        val e = intercept[Exception] { spark.sql(sql).collect() }
        Iterator.iterate(e: Throwable)(_.getCause)
          .takeWhile(_ != null).map(_.getMessage).mkString("\n")
      }
      assert(analysisMessage("SELECT graft_hilbert(3L, 5L)")
        .contains("got 2 arguments"))
      assert(analysisMessage("SELECT graft_hilbert(3L, 5L, " +
        "CAST(id AS INT)) FROM range(1)").contains("foldable"))
      // the same checks for every registered function: one argument too
      // few and one too many fail at analysis naming the function, and
      // a BIGINT literal works wherever an integer literal is baked in.
      // A valid call per function; `#` marks an integer literal.
      val calls = Map(
        "graft_dot" -> Seq("array(1.0D, 2.0D)", "array(3.0D, 4.0D)"),
        "graft_minhash_sig" -> Seq("array(1L, 2L, 3L)"),
        "graft_lsh_buckets" -> Seq("array(1.0D, -2.0D)", "#2", "#4"),
        "graft_shingle_hashes" -> Seq("'hello world'", "#5"),
        "graft_pos_shingle_hashes" -> Seq("'hello world'", "#5"),
        "graft_jaccard" -> Seq("array(1L, 2L)", "array(2L, 3L)"),
        "graft_simhash" -> Seq("'hello world'"),
        "graft_argmax_long" -> Seq("id", "-id"),
        "graft_heavy_hitters" -> Seq("CAST(id % 2 AS STRING)", "#2"),
        "graft_nfc" -> Seq("'e\u0301'"),
        "graft_strip_accents" -> Seq("'é'"),
        "graft_deflate_ratio" -> Seq("'aaaaaaaa'"),
        "graft_hilbert" -> Seq("3L", "5L", "#8"),
        "graft_unigram_segment" ->
          Seq("'ab'", "array('a', 'b', 'ab')", "array(-2L, -2L, -1L)"),
        "graft_aho_fold_counts" -> Seq("'Ab ab'", "array('ab')"),
        "graft_aho_fold_scrub" -> Seq("'Ab ab'", "array('ab')", "'*'"),
        "graft_lcs_len" -> Seq("array('a', 'b')", "array('b')"),
        "graft_tok_edit" -> Seq("array('a', 'b')", "array('b')"),
        "graft_wordpiece_segment" -> Seq("'ab'", "array('a', '##b')"),
        "graft_cm_cells" -> Seq("'key'", "#3", "#64"),
        "graft_vocab_hits" -> Seq("'a b'", "array('a')"),
        "graft_aho_counts" -> Seq("'ab ab'", "array('ab')"),
        "graft_aho_scrub" -> Seq("'ab ab'", "array('ab')", "'*'"))
      assert(calls.keySet == GraftExtensions.functions.map(_._1).toSet)
      calls.foreach { case (name, args) =>
        def sql(as: Seq[String]) =
          s"SELECT $name(${as.mkString(", ")}) FROM range(3)"
        def ints(lit: String => String) =
          args.map(a => if (a.startsWith("#")) lit(a.tail) else a)
        for (bad <- Seq(ints(identity).init, ints(identity) :+ "1")) {
          val e = intercept[Exception] { spark.sql(sql(bad)).collect() }
          val chain = Iterator.iterate(e: Throwable)(_.getCause)
            .takeWhile(_ != null).toSeq
          assert(chain.exists(_.isInstanceOf[AnalysisException]) &&
            chain.exists(c => String.valueOf(c.getMessage).contains(name)),
            s"${sql(bad)}: $e")
        }
        if (args.exists(_.startsWith("#")))
          assert(spark.sql(sql(ints(k => s"CAST($k AS BIGINT)")))
            .collect().toSeq ==
            spark.sql(sql(ints(identity))).collect().toSeq, name)
      }
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
