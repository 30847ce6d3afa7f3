package graft

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Similarity

class DotProductSpec extends SparkSpec {
  import spark.implicits._

  test("native dot == HOF dot bit-for-bit on real embeddings") {
    val emb = Tables.load(spark, sf0001, "embeddings")
      .select($"vec_id", Similarity.asDouble($"embedding").as("v"))
    val pairs = emb.as("a").join(emb.as("b"),
      col("a.vec_id") < col("b.vec_id") && col("b.vec_id") < 30)
    val mismatches = pairs.select(
      Similarity.dot(col("a.v"), col("b.v")).as("native"),
      HofReference.dotHof(col("a.v"), col("b.v")).as("hof"))
      .where(col("native") =!= col("hof"))
      .count()
    assert(mismatches == 0)
  }

  test("native dot evaluates simple cases") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    assert(df.select(Similarity.dot($"a", $"b")).head().getDouble(0) == 32.0)
  }

  test("native dot participates in whole-stage codegen") {
    // must be a real scan — a local Seq collapses to LocalTableScan with
    // the projection constant-folded away at planning time
    val emb = Tables.load(spark, sf0001, "embeddings")
      .select(Similarity.asDouble($"embedding").as("v"))
    val plan = emb.select(Similarity.dot($"v", $"v").as("d"))
      .queryExecution.executedPlan.toString
    // the '*(n)' prefix marks operators inside a WholeStageCodegen stage
    val dotLine = plan.linesIterator.find(_.contains("graft_dot")).get
    assert(dotLine.trim.startsWith("*"), s"graft_dot not codegen'd in:\n$plan")
  }
}
