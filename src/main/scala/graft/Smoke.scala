package graft

/** Mirror of the driver's t1 smoke: SparkEntry.entry must return >0 rows
  * on sf0.001. Run: sbt "runMain graft.Smoke"
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    val n = SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows=$n " + (if (n > 0) "OK" else "FAIL"))
    spark.stop()
    if (n == 0) sys.exit(1)
  }
}
