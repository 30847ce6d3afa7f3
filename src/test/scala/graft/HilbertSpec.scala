package graft

import org.apache.spark.sql.functions._

import graft.ops.{Hilbert, ZOrder}

class HilbertSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side reference fold — the same rotate/flip recurrence as
    * HilbertIndexExpr, written independently so the codegen'd loop is
    * checked against something other than itself. */
  private def refHilbert(xIn: Long, yIn: Long, bits: Int): Long = {
    val n1 = (1L << bits) - 1L
    var x = xIn & n1; var y = yIn & n1
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) != 0L) 1L else 0L
      val ry = if ((y & s) != 0L) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) { x = n1 - x; y = n1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  test("hValue visits every cell of the 8×8 grid exactly once and " +
    "every step is a 4-neighbor move (the locality contract, " +
    "exhaustively)") {
    val cells = for (x <- 0L until 8L; y <- 0L until 8L) yield (x, y)
    val got = cells.toDF("x", "y")
      .select(col("x"), col("y"),
        Hilbert.hValue(col("x"), col("y"), bits = 3).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._3).sorted.toSeq == (0L until 64L),
      "h must be a bijection onto 0..63")
    val byH = got.map { case (x, y, h) => h -> ((x, y)) }.toMap
    (0L until 63L).foreach { h =>
      val (x0, y0) = byH(h); val (x1, y1) = byH(h + 1)
      assert(math.abs(x1 - x0) + math.abs(y1 - y0) == 1,
        s"step $h -> ${h + 1} jumps from ($x0,$y0) to ($x1,$y1)")
    }
  }

  test("codegen'd expression matches the driver-side reference fold " +
    "(random points, several bit widths)") {
    val rnd = new scala.util.Random(42)
    val pts = Seq.fill(300)((rnd.nextLong().abs % (1L << 20),
      rnd.nextLong().abs % (1L << 20)))
    for (bits <- Seq(3, 10, 18, 31)) {
      val got = pts.toDF("x", "y")
        .select(Hilbert.hValue(col("x"), col("y"), bits))
        .as[Long].collect().toSeq
      val want = pts.map { case (x, y) => refHilbert(x, y, bits) }
      assert(got == want, s"codegen vs reference diverged at bits=$bits")
    }
  }

  test("a 2-D box maps to fewer contiguous index runs under Hilbert " +
    "than under z-order (the reason to pay the fold)") {
    // the p_hilbert_scan box: every cell's index under both curves,
    // sorted; a run break is a gap > 1 — each run is one contiguous
    // range a file-skipping reader must visit
    val cells = (for (p <- 100L to 300L; s <- 1L to 40L)
      yield (p, s)).toDF("p", "s")
      .select(Hilbert.hValue(col("p"), col("s"), bits = 18).as("h"),
        ZOrder.zValue(Seq(col("p"), col("s")), bits = 18).as("z"))
      .collect()
    def runs(sorted: Array[Long]): Int =
      1 + sorted.sliding(2).count {
        case Array(a, b) => b > a + 1
        case _ => false
      }
    val hRuns = runs(cells.map(_.getLong(0)).sorted)
    val zRuns = runs(cells.map(_.getLong(1)).sorted)
    assert(hRuns < zRuns,
      s"Hilbert should span fewer ranges: h=$hRuns vs z=$zRuns")
  }

  test("hilbert-clustered layout: disjoint h-ranges per file, a box " +
    "scan prunes files, and results equal the unclustered answer") {
    val path = Scratch.dir("spec-hilbert").toString + "/li"
    Hilbert.writeHilbertOrdered(
      Tables.load(spark, sf0001, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity"),
      path, "l_partkey", "l_suppkey", partitions = 8)
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString)
    assert(files.length > 1)
    val hRanges = files.map { f =>
      val r = spark.read.parquet(f).agg(min("h"), max("h")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    hRanges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo, "h ranges overlap")
      case _ =>
    }
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
    val got = spark.read.parquet(path)
      .where(col("l_partkey").between(pLo, pHi) &&
        col("l_suppkey").between(sLo, sHi)).count()
    val want = Tables.load(spark, sf0001, "lineitem")
      .where(col("l_partkey").between(pLo, pHi) &&
        col("l_suppkey").between(sLo, sHi)).count()
    assert(got == want)
  }
}
