package graft

import org.apache.spark.sql.functions._

import graft.plans.RegexPrefixPruning

class RegexPrefixPruningSpec extends SparkSpec {
  import spark.implicits._

  test("literalPrefix: anchored literals, quantifier backoff, rejects") {
    import RegexPrefixPruning.literalPrefix
    assert(literalPrefix("^user12.*") === Some("user12"))
    assert(literalPrefix("^user12") === Some("user12"))
    assert(literalPrefix("^user\\d+") === Some("user"))
    assert(literalPrefix("^ab+c") === Some("ab"))   // + keeps the char
    assert(literalPrefix("^ab?c") === Some("a"))    // ? drops it
    assert(literalPrefix("^ab*c") === Some("a"))    // * drops it
    assert(literalPrefix("^ab{2,3}") === Some("a")) // { drops it
    assert(literalPrefix("^a[0-9]") === Some("a"))
    assert(literalPrefix("user") === None)          // unanchored
    assert(literalPrefix("^ab|cd") === None)        // alternation escapes
    assert(literalPrefix("^(ab)c") === None)        // group first
    assert(literalPrefix("^.*x") === None)          // no literal head
  }

  test("upperBound increments the last ASCII char only") {
    import RegexPrefixPruning.upperBound
    assert(upperBound("user12") === Some("user13"))
    assert(upperBound("abz") === Some("ab{"))
    assert(upperBound("a~") === None)
  }

  test("anchored rlike over parquet pushes the implied range to the scan") {
    val dir = Scratch.dir("spec-rpp").toString
    (0 until 2000).map(i => (f"user$i%04d", i.toLong))
      .toDF("rowkey", "v")
      .write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir)
      .where(col("rowkey").rlike("^user011[0-9]*$"))
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [") &&
      scan.contains("GreaterThanOrEqual(rowkey,user011)") &&
      scan.contains("LessThan(rowkey,user012)"),
      s"range conjuncts not pushed:\n$scan")
    // and the rewrite changed nothing semantically: user0110..user0119
    assert(q.count() === 10L)
  }

  test("results are bit-identical with the rule removed") {
    val dir = Scratch.dir("spec-rpp2").toString
    (0 until 500).map(i => (s"k$i", i.toLong)).toDF("rowkey", "v")
      .write.mode("overwrite").parquet(dir)
    // (rows, whether the optimized plan carries the range conjunct)
    def run() = {
      val q = spark.read.parquet(dir)
        .where(col("rowkey").rlike("^k1[0-9]?$"))
      (q.collect().map(_.getString(0)).sorted.toSeq,
        q.queryExecution.optimizedPlan.toString.contains(">= k1"))
    }
    val (withRule, ranged) = run()
    val (withoutRule, rangedWithout) = withSQLConf(
      "spark.sql.optimizer.excludedRules" -> RegexPrefixPruning.ruleName)(
      run())
    assert(ranged && !rangedWithout, "the rule did not run or was not removed")
    assert(withRule == withoutRule && withRule.nonEmpty)
    // k1, k10..k19
    assert(withRule.size === 11)
  }

  test("rule is idempotent (fixpoint batch cannot stack conjuncts)") {
    val df = Seq(("a1", 1L)).toDF("rowkey", "v")
      .where(col("rowkey").rlike("^a[0-9]"))
    val once = RegexPrefixPruning(df.queryExecution.analyzed)
    val twice = RegexPrefixPruning(once)
    assert(once.toString == twice.toString)
    assert(once.toString.contains(">= a"), s"range missing:\n$once")
  }

  test("the gated prefix-scan query pushes its range to the scan") {
    val scan = SparkEntry.queries("p_rowkey_prefix_scan")(
      spark, sf0001).queryExecution.executedPlan.toString
    assert(scan.contains("GreaterThanOrEqual(source,src1)") &&
      scan.contains("LessThan(source,src2)"),
      s"range not pushed for the gated query:\n$scan")
  }

  test("property: the implied range NEVER excludes a regex match " +
       "(random anchored patterns x random subjects, fixed seeds)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val alpha = Gen.alphaNumChar
    val patGen = for {
      pre <- Gen.nonEmptyListOf(alpha).map(_.take(6).mkString)
      tail <- Gen.oneOf("", ".*", "[0-9]+", "\\d*", "x?y", "a+",
        "b{2,3}", ".*z$")
    } yield (pre, s"^$pre$tail")
    val subjGen = Gen.listOfN(12, alpha).map(_.mkString)
    (0 until 200).foreach { i =>
      val (pre, pat) = patGen.pureApply(Gen.Parameters.default, Seed(7L + i))
      val subjects = (0 until 30).map(j =>
        subjGen.pureApply(Gen.Parameters.default, Seed(900L + i * 31 + j))) ++
        Seq(pre, pre + "0", pre + "zzz") // guaranteed prefix hits
      RegexPrefixPruning.literalPrefix(pat).foreach { p =>
        val ub = RegexPrefixPruning.upperBound(p)
        subjects.foreach { s =>
          if (java.util.regex.Pattern.compile(pat).matcher(s).find()) {
            // UTF8 byte order == String order for these ASCII subjects
            assert(s >= p, s"pattern $pat prefix $p excluded match $s (lo)")
            ub.foreach(u =>
              assert(s < u, s"pattern $pat bound $u excluded match $s (hi)"))
          }
        }
      }
    }
  }

  test("unanchored or computed-column regexes are left untouched " +
       "(the reference's .*-style rowkey scan keeps its exact plan)") {
    val p = SparkEntry.queries("p_keyed_snapshot_scan")(
      spark, sf0001).queryExecution.optimizedPlan.toString
    assert(p.contains("RLIKE") && !p.contains(">="),
      s"conservative rule fired on an unanchored pattern:\n$p")
  }
}
