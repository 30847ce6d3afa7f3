package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe of the program's mains (JobRunner, Bench,
  * Verify, Smoke): `local[cores]` with as many shuffle partitions, UTC
  * session time, no UI, a generated-class cache sized so a steady
  * state of repeated queries compiles nothing (Spark's default of 100
  * entries thrashes on one round of six queries), and a catalog
  * warehouse under [[Scratch]]: the in-memory catalog forgets its
  * tables at JVM exit, so their files go with it instead of piling up
  * in `./spark-warehouse`. It installs graft's native functions and
  * optimizer rule through `spark.sql.extensions` ([[GraftExtensions]]),
  * the same setting a cluster `spark-submit` uses. */
object Session {

  /** Core count from a `SPARK_GRAFT_CPUS` setting: the positive integer
    * it names, or every available core up to 32 when it is unset. */
  private[graft] def cpus(setting: Option[String]): Int = setting match {
    case None => math.min(Runtime.getRuntime.availableProcessors, 32)
    case Some(s) =>
      val n = s.toIntOption.getOrElse(0)
      require(n > 0, s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'")
      n
  }

  def local(cores: Int = cpus(sys.env.get("SPARK_GRAFT_CPUS"))): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.warehouse.dir",
        Scratch.dir("warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
