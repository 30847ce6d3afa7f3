package graft.sources

import org.apache.spark.sql.SparkSession

/** Small-file compaction — the table-maintenance stage every
  * long-lived 100 TB lake needs: streaming sinks, incremental appends,
  * and over-parallel writers leave thousands of KB-sized parquet files
  * per partition, and each file costs a task, a footer read, and a
  * namenode entry on every downstream scan.
  *
  * The compactor plans from the FILE LISTING, not the data: target
  * output file count = ceil(on-disk bytes / targetFileBytes), then one
  * rewrite with `coalesce(n)` — coalesce merges input partitions
  * without a shuffle, so compaction is a pure read+write at IO speed
  * (no exchange, plan-asserted in CompactionSpec). Rows are preserved
  * exactly; ordering within files is whatever the input files carried
  * (compaction is a layout operation, not a sort — use
  * [[MaintainedIndex.compactClusteredIndexed]] to impose order while
  * rewriting).
  *
  * The rewrite lands in a fresh directory and is atomically published
  * by the caller (or via [[graft.sources.Versioned]] snapshots);
  * compacting in place would destroy the input on a mid-write failure.
  */
object Compaction {

  /** (file count, total bytes) of the parquet data files at `path`. */
  def layoutOf(spark: SparkSession, path: String): (Int, Long) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).filter { s =>
      s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith(".")
    }
    (files.length, files.map(_.getLen).sum)
  }

  /** Number of output files a compaction to `targetFileBytes` plans:
    * ceil(bytes / target), at least 1.
    */
  def planFileCount(totalBytes: Long, targetFileBytes: Long): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes)
      .min(Int.MaxValue.toLong).toInt
  }

  /** Compact the parquet directory `inPath` into `outPath` with files
    * sized toward `targetFileBytes`. Returns (files before, files
    * after planned). Shuffle-free: the only operators between the scan
    * and the write are the coalesce itself.
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val (nIn, bytes) = layoutOf(spark, inPath)
    val nOut = planFileCount(bytes, targetFileBytes)
    spark.read.parquet(inPath).coalesce(nOut)
      .write.mode("overwrite").parquet(outPath)
    (nIn, nOut)
  }
}
