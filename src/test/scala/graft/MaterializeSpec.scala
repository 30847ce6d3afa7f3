package graft

import org.apache.spark.sql.functions._

import graft.ops.{MatStrategy, Materialize}

class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")

  test("Local materializes eagerly and release frees every block") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val m = Materialize(df, MatStrategy.Local)
    assert(m.df.count() == 3)
    assert(sc.getPersistentRDDs.keySet.diff(before).nonEmpty,
      "localCheckpoint should register blocks")
    m.release()
    assert(sc.getPersistentRDDs.keySet.diff(before).isEmpty,
      "release must unpersist exactly the blocks it created")
  }

  test("two Local materializations on two threads run concurrently and " +
    "each release frees only its own blocks") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    MaterializeSpec.latch = new java.util.concurrent.CountDownLatch(2)
    // each frame's one task counts down, then waits for the other's:
    // both see `true` only if the two materializations run at once
    val meet = udf { (_: Long) =>
      val l = MaterializeSpec.latch
      l.countDown()
      l.await(20, java.util.concurrent.TimeUnit.SECONDS)
    }.asNondeterministic()
    def frame(tag: Long) =
      spark.range(tag, tag + 1, 1, 1).select(col("id"), meet(col("id")).as("met"))
    val fs = Seq(1L, 2L).map(t => Future(Materialize(frame(t), MatStrategy.Local)))
    val Seq(m1, m2) = fs.map(Await.result(_, 2.minutes))
    assert(m1.df.collect().head.getBoolean(1) &&
      m2.df.collect().head.getBoolean(1),
      "the two materializations did not overlap")
    assert(sc.getPersistentRDDs.keySet.diff(before).size == 2)
    m1.release()
    assert(sc.getPersistentRDDs.keySet.diff(before).size == 1)
    assert(m2.df.collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq ==
      Seq((2L, true)), "releasing one handle freed the other's blocks")
    m2.release()
    assert(sc.getPersistentRDDs.keySet.diff(before).isEmpty)
  }

  test("Spill round-trips rows+schema through parquet; release deletes files") {
    val src = df.withColumn("d", col("id").cast("double"))
    val m = Materialize(src, MatStrategy.Default)
    // parquet reads relax nullability — names and types must survive
    assert(m.df.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      src.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(m.df.orderBy("id").collect().toSeq ==
      src.orderBy("id").collect().toSeq)
    // the handle's own spill dir: the parent of its part files
    val p = new org.apache.hadoop.fs.Path(m.df.inputFiles.head).getParent
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(p))
    m.release()
    assert(!fs.exists(p), "release must delete the spill dir")
  }

  test("reapDefaultSpills deletes unreleased Default spill dirs; " +
    "released handles are not double-tracked") {
    Materialize.reapDefaultSpills(spark) // drain anything left by peers
    val m1 = Materialize(df, MatStrategy.Default) // leaked on purpose
    val m2 = Materialize(df, MatStrategy.Default)
    m2.release() // properly released → deregistered
    assert(m1.df.count() == df.count())
    assert(Materialize.reapDefaultSpills(spark) == 1,
      "exactly the one unreleased dir must be reaped")
    assert(Materialize.reapDefaultSpills(spark) == 0, "reap is idempotent")
  }

  test("Spill of an EMPTY frame keeps the schema (explicit-schema read)") {
    val empty = df.where(lit(false))
    val m = Materialize(empty, MatStrategy.Default)
    assert(m.df.count() == 0)
    assert(m.df.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      empty.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    m.release()
  }
}

object MaterializeSpec {
  /** Shared by the concurrency test's UDF: tasks run in this JVM
    * (local master), so the closure reads the live latch, not a copy. */
  @volatile var latch: java.util.concurrent.CountDownLatch = _
}
