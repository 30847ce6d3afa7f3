package graft

import org.apache.spark.sql.functions._

import graft.sources.Versioned

class VersionedSpec extends SparkSpec {
  import spark.implicits._

  private def tbl(tag: String): String =
    Scratch.dir(s"spec-versioned_$tag")
      .toString + "/t"

  test("write assigns increasing versions and read pins or follows latest") {
    val t = tbl("basic")
    assert(Versioned.write(Seq(1, 2).toDF("x"), t) == 1)
    assert(Versioned.write(Seq(1, 2, 3).toDF("x"), t) == 2)
    assert(Versioned.versions(spark, t) == Seq(1, 2))
    assert(Versioned.latestVersion(spark, t).contains(2))
    assert(Versioned.read(spark, t).count() == 3)            // latest
    assert(Versioned.read(spark, t, Some(1)).count() == 2)   // time travel
  }

  test("reading a missing version or empty table fails loudly") {
    val t = tbl("missing")
    intercept[IllegalArgumentException](Versioned.read(spark, t))
    Versioned.write(Seq(1).toDF("x"), t)
    intercept[IllegalArgumentException](
      Versioned.read(spark, t, Some(7)))
  }

  test("vacuum drops old versions but never the latest committed") {
    val t = tbl("vacuum")
    (1 to 4).foreach(i => Versioned.write(Seq.fill(i)(i).toDF("x"), t))
    assert(Versioned.vacuum(spark, t, keepLast = 2) == Seq(1, 2))
    assert(Versioned.versions(spark, t) == Seq(3, 4))
    assert(Versioned.read(spark, t).count() == 4)
    // vacuum everything but latest
    assert(Versioned.vacuum(spark, t) == Seq(3))
    assert(Versioned.read(spark, t).count() == 4)
  }

  test("a crashed write (data dir without pointer flip) does not tear " +
    "readers and the next write self-heals past it") {
    val t = tbl("crash")
    Versioned.write(Seq(1).toDF("x"), t)
    // simulate a writer that died after landing data, before the flip:
    Seq(9, 9).toDF("x").write.parquet(s"$t/v=2")
    assert(Versioned.latestVersion(spark, t).contains(1))
    assert(Versioned.read(spark, t).count() == 1) // readers unaffected
    // a PINNED read of the uncommitted orphan must refuse, not return
    // the (possibly torn) directory contents
    intercept[IllegalArgumentException](Versioned.read(spark, t, Some(2)))
    // next writer skips the orphaned number and commits cleanly
    val v = Versioned.write(Seq(1, 2, 3).toDF("x"), t)
    assert(v == 3)
    assert(Versioned.read(spark, t).count() == 3)
  }

  test("a note commits atomically with its version and reads back") {
    val t = tbl("note")
    Versioned.write(Seq(1).toDF("x"), t, note = Some("batch-0"))
    Versioned.write(Seq(1, 2).toDF("x"), t) // no note
    assert(Versioned.note(spark, t, 1).contains("batch-0"))
    assert(Versioned.note(spark, t, 2).isEmpty)
  }
}
