package graft.sources

import org.apache.spark.sql.DataFrame

/** The reference's three write-commit semantics (SURVEY.md §2.2), re-based
  * from Hive tables onto partitioned parquet:
  *
  *  - K1 append-into-partitioned (reference SimpleDataCleanUtils.scala:30,
  *    OrderMasterDataClean.scala:190: `SaveMode.Append` + `insertInto`)
  *  - K2 dynamic-partition overwrite (reference
  *    CustomerInfDataClean.scala:70-88: `INSERT OVERWRITE … PARTITION
  *    (etl_date)` with hive.exec.dynamic.partition.mode=nonstrict) —
  *    only the partitions present in the incoming data are replaced
  *  - K3 full overwrite (reference CustomerAddrLevelAggrDataClean.scala:41-44:
  *    `Overwrite.partitionBy(…).saveAsTable`) — table dropped and rebuilt
  *
  * Scale notes: all three are executor-parallel file writes with no extra
  * shuffle; K2's dynamic mode is the one that matters at 100 TB — an
  * etl_date reload rewrites one date directory, not the table.
  */
object Sinks {

  def appendPartitioned(df: DataFrame, path: String,
                        partCols: Seq[String]): Unit =
    df.write.mode("append").partitionBy(partCols: _*).parquet(path)

  /** Replaces only the partitions present in `df` (K2). The option is
    * per-write, so no session-level config mutation is needed. */
  def overwriteDynamicPartitions(df: DataFrame, path: String,
                                 partCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*).parquet(path)

  /** Drops and rebuilds the whole target (K3). */
  def overwriteAll(df: DataFrame, path: String,
                   partCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partCols: _*).parquet(path)

  /** Partition columns of a parquet directory, inferred from its
    * `col=value` subdirectory layout (the same convention Spark's
    * PartitioningAwareFileIndex discovers). Empty for an unpartitioned
    * table.
    *
    * Goes through `org.apache.hadoop.fs.FileSystem`, so it works on any
    * scheme the cluster mounts (file:, hdfs:, s3a:, …) — a java.io.File
    * walk would silently see nothing outside the local FS.
    */
  def partitionColumnsOf(spark: org.apache.spark.sql.SparkSession,
                         path: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a not-yet-written table has no layout — probing it is a no-op,
    // not an error (listStatus would throw FileNotFoundException)
    if (!fs.exists(root)) return Nil
    def walk(dir: org.apache.hadoop.fs.Path,
             acc: List[String]): List[String] = {
      val sub = fs.listStatus(dir)
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      if (sub.isEmpty) acc.reverse
      else walk(sub.head.getPath,
        sub.head.getPath.getName.takeWhile(_ != '=') :: acc)
    }
    walk(root, Nil)
  }

  /** Small-file compaction: rewrite a parquet table into files of
    * roughly `targetFileMB` each. Streaming/micro-batch ingestion and
    * fine-grained dynamic partitions accumulate small files that poison
    * scan parallelism and NameNode-style metadata at scale; periodic
    * compaction is the standard remedy.
    *
    * The original partition layout is preserved: partition columns are
    * taken from `partCols` or, by default, inferred from the `col=value`
    * directory structure, and the rewrite re-applies `partitionBy` —
    * without this the rewrite would flatten the layout and lose
    * partition pruning for every later read.
    *
    * Swap protocol (crash-safe at every step): write to `<path>__compact_tmp`,
    * rename the live table aside to `<path>__compact_old`, rename tmp into
    * place, then delete the old copy. Each rename is checked; on failure
    * the live table is either still at `path` or restored from the
    * `__compact_old` copy — data is never deleted before the replacement
    * is in place.
    *
    * All filesystem work goes through `org.apache.hadoop.fs.FileSystem`,
    * so the same code runs against file:, hdfs: and object stores. On
    * HDFS the renames are atomic metadata ops; on S3-style stores rename
    * is a copy (slower, not atomic) — there a table format with
    * transactional commits is the production answer, but the
    * write-aside-then-swap order still never deletes data before its
    * replacement exists.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetFileMB: Int = 128,
              partCols: Seq[String] = null): Unit = {
    import org.apache.hadoop.fs.Path
    val src = new Path(path)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(src), s"no table at $path")
    val parts = Option(partCols).getOrElse(partitionColumnsOf(spark, path))
    val it = fs.listFiles(src, true)
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) bytes += f.getLen
    }
    val nFiles = math.max(1, (bytes / (targetFileMB * 1024L * 1024L)).toInt)
    val tmp = new Path(path + "__compact_tmp")
    val old = new Path(path + "__compact_old")
    fs.delete(tmp, true); fs.delete(old, true) // leftovers of a crashed run
    // coalesce-per-partition would need a shuffle; a plain coalesce gives
    // nFiles tasks and partitionBy splits each task's rows into its
    // partition directories — good enough for small-file compaction. The
    // write to tmp IS the materialization: the source stays untouched
    // until the compacted copy is fully committed.
    val df = spark.read.parquet(path).coalesce(nFiles)
    val w = df.write.mode("overwrite")
    (if (parts.nonEmpty) w.partitionBy(parts: _*) else w)
      .parquet(tmp.toString)
    if (!fs.rename(src, old))
      throw new java.io.IOException(s"compact: could not move $path aside")
    if (!fs.rename(tmp, src)) {
      fs.rename(old, src) // restore the live table before failing
      throw new java.io.IOException(
        s"compact: could not move compacted data into $path (original restored)")
    }
    fs.delete(old, true); ()
  }

  /** Z-ordered write: cluster rows on the interleaved-bit curve over
    * `cols` so files (and parquet row groups) are tight in EVERY listed
    * dimension at once — the layout that makes multi-predicate scans
    * prune at 100 TB, where a single-column sort only helps its own
    * column. Standard lakehouse OPTIMIZE ZORDER semantics, expressed
    * with the DataFrame API:
    *
    *  1. per column, approximate quantile boundaries (a driver-side
    *     sketch over a sample — the same mechanism repartitionByRange
    *     uses) map values to 2^bits equal-frequency buckets, so skew
    *     can't collapse the curve;
    *  2. bucket ids interleave bit-by-bit into the z-value (a row-local
    *     codegen-friendly expression);
    *  3. repartitionByRange(nFiles) on the z-value makes files own
    *     disjoint curve segments; sortWithinPartitions orders row
    *     groups inside each file for min/max stats pruning.
    *
    * One range shuffle total. Numeric columns only (quantile sketch);
    * the z column is dropped before writing.
    */
  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String],
                    nFiles: Int, bits: Int = 8): Unit = {
    import org.apache.spark.sql.functions._
    require(cols.size >= 2, "z-order needs at least two columns")
    // shiftleft wraps its amount mod 64 — past 63 the curve silently
    // stops being a z-order, so fail loudly instead
    require(bits * cols.size <= 63,
      s"z-value needs ${bits * cols.size} bits; lower `bits` or columns")
    val nb = (1 << bits) - 1 // boundaries per column
    val probs = (1 to nb).map(_.toDouble / (nb + 1)).toArray
    // ONE sketch job for every column (the multi-column overload), not
    // one full upstream execution per column
    val allBounds = df.stat.approxQuantile(cols.toArray, probs, 0.01)
    // bucket = #boundaries <= value (0..2^bits-1); the interleave is
    // the shared ZOrder.zValue primitive (raw-key callers use it
    // directly, oracle-gated by p_zorder_scan)
    val buckets = cols.zipWithIndex.map { case (c, ci) =>
      size(filter(lit(allBounds(ci)), b => col(c).cast("double") >= b))
    }
    val zcol = graft.ops.ZOrder.zValue(buckets, bits)
    df.withColumn("__z", zcol)
      .repartitionByRange(nFiles, org.apache.spark.sql.functions.col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
