package graft

import org.apache.spark.sql.functions._

import graft.operators.Perceptron

class PerceptronSpec extends SparkSpec {
  import spark.implicits._

  test("train replays hand-computed batch rounds (margin 0 is a miss)") {
    // points (y, bias, x): (+1,1,2), (−1,1,1), (+1,1,3)
    // r1: w=(0,0) → all margins 0 → miss all 3; grad = (1,4) → w=(1,4)
    // r2: p2 margin −5 misses alone; w=(0,3)
    // r3: p2 margin −3; w=(−1,2)
    // r4: p2 margin −1; w=(−2,1)
    val f = Seq((1L, 1L, 2L), (-1L, 1L, 1L), (1L, 1L, 3L))
      .toDF("y", "f1", "f2")
    val rows = Perceptron.train(f, "y", Seq("f1", "f2"), 4)
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows(0) == ((1L, 3L, 1L, 4L)))
    assert(rows(1) == ((2L, 1L, 0L, 3L)))
    assert(rows(2) == ((3L, 1L, -1L, 2L)))
    assert(rows(3) == ((4L, 1L, -2L, 1L)))
  }

  test("a symmetric separable set converges and weights freeze at zero misses") {
    // y = sign(x), points ±1, ±2 (no bias): round 1 misses all four
    // (w = 0), grad = Σ y·x = 6 → w = 6 separates with margin ≥ 6, so
    // every later round reports n_mis = 0 and an unchanged weight
    val f = Seq((1L, 1L), (1L, 2L), (-1L, -1L), (-1L, -2L))
      .toDF("y", "f1")
    val rows = Perceptron.train(f, "y", Seq("f1"), 5)
      .orderBy("round").collect()
    assert(rows(0).getLong(1) == 4L && rows(0).getLong(2) == 6L)
    rows.drop(1).foreach { r =>
      assert(r.getLong(1) == 0L)
      assert(r.getLong(2) == 6L) // empty gradient: weights frozen
    }
  }

  test("score: integer margin, zero margin predicts −1") {
    val f = Seq((1L, 1L, 2L), (2L, 2L, -1L)).toDF("id", "f1", "f2")
    val got = Perceptron.score(f, Seq("f1", "f2"), Seq(2L, -1L))
      .orderBy("id")
      .select("id", "score", "predicted").collect()
    assert(got(0).getLong(1) == 0L && got(0).getLong(2) == -1L)
    assert(got(1).getLong(1) == 5L && got(1).getLong(2) == 1L)
  }

  test("x_perceptron lanes: round-1 misses everything, screen is total") {
    val train = SparkEntry
      .queries("x_perceptron_train")(spark, sf0001)
      .orderBy("round").collect()
    val docs = Tables.load(spark, sf0001, "documents").count()
    assert(train.length == 4)
    assert(train(0).getLong(1) == docs) // w=0: margin 0 misses all
    assert(train(3).getLong(1) < docs)  // later rounds do better
    val screen = SparkEntry
      .queries("x_perceptron_screen")(spark, sf0001)
    assert(screen.count() == docs)
    assert(screen.where(col("predicted") =!= 1L &&
      col("predicted") =!= -1L).count() == 0)
  }
}
