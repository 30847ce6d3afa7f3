package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The session the mains run, `Session.local`, must have graft's
  * native functions from the moment it is built: no table load, no
  * registration call. `Session.local` installs them the deployment way
  * (`spark.sql.extensions=graft.GraftExtensions`).
  *
  * Runs against its own session: extensions only apply at session build
  * time, so the suite stops whatever shared session exists and leaves a
  * clean slate for the next suite's getOrCreate.
  */
class ExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    Session.local(2)
  }

  override def afterAll(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** A valid call per function; `#` marks an integer literal. */
  private val calls = Map(
    "graft_dot" -> Seq("array(1.0D, 2.0D)", "array(3.0D, 4.0D)"),
    "graft_minhash_sig" -> Seq("array(1L, 2L, 3L)"),
    "graft_lsh_buckets" -> Seq("array(1.0D, -2.0D)", "#2", "#4"),
    "graft_shingle_hashes" -> Seq("'hello world'", "#5"),
    "graft_pos_shingle_hashes" -> Seq("'hello world'", "#5"),
    "graft_jaccard" -> Seq("array(1L, 2L)", "array(2L, 3L)"),
    "graft_simhash" -> Seq("'hello world'"),
    "graft_argmax_long" -> Seq("CAST(id AS DOUBLE)", "-id"),
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

  private def sql(name: String, args: Seq[String]) =
    s"SELECT $name(${args.mkString(", ")}) FROM range(3)"

  /** `args` with each `#` integer literal written by `lit`. */
  private def ints(args: Seq[String])(lit: String => String = identity) =
    args.map(a => if (a.startsWith("#")) lit(a.tail) else a)

  /** Does running `q` throw an AnalysisException somewhere in its
    * cause chain, with some message in the chain naming `name`? */
  private def failsAnalysis(q: String, name: String): Boolean =
    try { spark.sql(q).collect(); false }
    catch {
      case e: Exception =>
        val chain = Iterator.iterate(e: Throwable)(_.getCause)
          .takeWhile(_ != null).toSeq
        chain.exists(_.isInstanceOf[AnalysisException]) &&
          chain.exists(c => String.valueOf(c.getMessage).contains(name))
    }

  test("functions injected via SparkSessionExtensions resolve in SQL") {
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
    assert(calls.keySet == GraftExtensions.functions.map(_._1).toSet)
    calls.foreach { case (name, args) =>
      for (bad <- Seq(ints(args)().init, ints(args)() :+ "1"))
        assert(failsAnalysis(sql(name, bad), name), sql(name, bad))
      if (args.exists(_.startsWith("#")))
        assert(spark.sql(sql(name, ints(args)(k => s"CAST($k AS BIGINT)")))
          .collect().toSeq ==
          spark.sql(sql(name, ints(args)())).collect().toSeq, name)
    }
  }

  test("Spark checks each function's argument types at analysis") {
    // every call runs as written; with a boolean first argument, which
    // no function takes, each fails at analysis naming the function
    val unchecked = calls.toSeq.sortBy(_._1).filter { case (name, args) =>
      spark.sql(sql(name, ints(args)())).collect()
      !failsAnalysis(sql(name, "true" +: ints(args)().tail), name)
    }.map(_._1)
    assert(unchecked.isEmpty, s"not type-checked: ${unchecked.mkString(", ")}")
  }
}
