package graft

import org.apache.spark.sql.functions._

import graft.ops.ZOrder

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("zValue interleaves bits (hand-checked Morton codes)") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (3L, 5L))
      .toDF("x", "y")
    val z = df.select(ZOrder.zValue(Seq(col("x"), col("y")), 8))
      .as[Long].collect().toSeq
    // morton(x,y) with x at even bits, y at odd:
    // (3,5): x=011, y=101 → bits z0=1,z1=1, z2=1,z3=0, z4=0,z5=1 → 100111b = 39
    assert(z == Seq(0L, 1L, 2L, 3L, 39L))
  }

  test("z-ordered layout: disjoint z-ranges per file and a 2-D box " +
    "scan intersects fewer files than it would unclustered") {
    val path = Scratch.dir("spec-zorder").toString + "/li"
    ZOrder.writeZOrdered(
      Tables.load(spark, sf0001, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity"),
      path, Seq("l_partkey", "l_suppkey"), partitions = 8)
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString)
    assert(files.length > 1)
    // disjoint z ranges (inherited from range clustering on z)
    val zRanges = files.map { f =>
      val r = spark.read.parquet(f).agg(min("z"), max("z")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    zRanges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo, "z ranges overlap")
      case _ =>
    }
    // 2-D locality: a small box in (partkey, suppkey) space must be
    // absent from most files' per-file key bounds — that absence is
    // exactly what footer stats prune on
    val (pLo, pHi, sLo, sHi) = (100L, 150L, 10L, 20L)
    val touching = files.count { f =>
      val r = spark.read.parquet(f)
        .agg(min("l_partkey"), max("l_partkey"),
          min("l_suppkey"), max("l_suppkey")).head()
      r.getLong(0) <= pHi && r.getLong(1) >= pLo &&
        r.getLong(2) <= sHi && r.getLong(3) >= sLo
    }
    assert(touching < files.length,
      s"box intersects all ${files.length} files — no 2-D locality")
    // and the clustered copy returns exactly the unclustered answer
    val got = spark.read.parquet(path)
      .where(col("l_partkey").between(pLo, pHi) &&
        col("l_suppkey").between(sLo, sHi)).count()
    val want = Tables.load(spark, sf0001, "lineitem")
      .where(col("l_partkey").between(pLo, pHi) &&
        col("l_suppkey").between(sLo, sHi)).count()
    assert(got == want)
  }
}
