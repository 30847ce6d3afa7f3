package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file Bloom skipping for POINT lookups on an UNSORTED
  * high-cardinality column — the regime where min/max envelopes
  * ([[MaintainedIndex.readRange]]) are useless: a hash- or
  * arrival-ordered layout gives every file a near-full value range,
  * while each file still holds only a SUBSET of the values. The Bloom
  * filters live in a postings table beside the data (the
  * lakehouse-table-format move, as a freestanding operator over plain
  * parquet directories), so a probe opens only the files that may hold
  * the value.
  *
  * The pruning step materializes the surviving file LIST on the
  * driver. That is the metadata plane, not the data plane: its size is
  * O(#files), the same object every Spark file-source scan already
  * holds driver-side (the `FileIndex`), and the documented O(small)
  * scalar-collect pattern this library reserves for exactly such
  * planner inputs — never row data.
  */
object SkippingIndex {

  /** Where the Bloom postings table for `path` lives. */
  def bloomPath(path: String): String = path + "_bloom"

  /** The portable md5-fold hash ([[graft.functions.TextFns.hash32]])
    * computed driver-side, for probing the Bloom table with a literal
    * value without launching a job. Bit-identical to the Column
    * expression used at build time.
    */
  private def hash32Local(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.take(4).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
  }

  /** Build the per-file Bloom postings table over `colName`: one scan,
    * then distinct `(file, pos)` rows where the positions of value v
    * are `hash32("bf<j>:" || v) % bits` for j < numHashes — a Bloom
    * filter stored RELATIONALLY as its set-bit postings, so building
    * is one distinct aggregation and the OR-merge across rows is set
    * union: order-independent, retryable, and appendable (new files
    * just add their rows). Table size is at most `#files × bits` rows
    * — metadata-plane.
    */
  def buildBloom(spark: SparkSession, path: String, colName: String,
                 bits: Int = 8192, numHashes: Int = 3): DataFrame = {
    require(bits >= 2 && numHashes >= 1,
      s"need bits >= 2 and numHashes >= 1, got $bits/$numHashes")
    val df = spark.read.parquet(path)
    val positions = array((0 until numHashes).map { j =>
      graft.functions.TextFns.hash32(
        concat(lit(s"bf$j:"), col(colName).cast("string"))) % bits
    }: _*)
    df.select(col("_metadata.file_path").as("file"),
        explode(positions).as("pos"))
      .distinct()
      .write.mode("overwrite").parquet(bloomPath(path))
    spark.read.parquet(bloomPath(path))
  }

  /** Point read through the Bloom table: open only files whose filter
    * contains ALL `numHashes` bit positions of the probe value, then
    * apply the residual equality predicate (Bloom admits false
    * positives — a file may match and contribute nothing — but never
    * false negatives: every stored value set all of its bits at build
    * time). Same safety rule as [[MaintainedIndex]]: the live listing
    * decides what exists, so a data file the postings do not name (one
    * appended after [[buildBloom]]) is always read, and a named file
    * that is no longer listed is never opened. The probe positions are
    * computed driver-side from the literal. `bits`/`numHashes` must
    * match the build call.
    */
  def readPoint(spark: SparkSession, path: String, colName: String,
                value: Any, bits: Int = 8192,
                numHashes: Int = 3): DataFrame = {
    val probe = (0 until numHashes).map(j =>
      hash32Local(s"bf$j:$value") % bits)
    // every named file -> whether its filter holds all probe positions
    val mayHold = spark.read.parquet(bloomPath(path))
      .groupBy(col("file"))
      .agg(countDistinct(when(col("pos").isin(probe.map(Long.box): _*),
        col("pos"))).as("nhit"))
      .collect()
      .map(r => new Path(new java.net.URI(r.getString(0))).getName ->
        (r.getLong(1) == numHashes))
      .toMap
    val dir = new Path(path)
    val all = MaintainedIndex.dataFiles(
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
      .map(_.getPath.getName)
    MaintainedIndex.readFiles(spark, path,
        all.filter(f => mayHold.getOrElse(f, true)), all)
      .where(col(colName) === lit(value))
  }
}
