package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.sources.MaintainedIndex.FileKey

/** Loaders for the driver's parquet testdata (TESTDATA.md).
  *
  * Stand-in for the reference's Hive-metastore catalog scans
  * (reference common/SimpleDataCleanUtils.scala:19-20,
  * handler/CustomerAddrLevelAggrDataClean.scala:23-25): each table is a
  * parquet directory; Catalyst still gets full pushdown/pruning because
  * the read is declarative. Like the metastore, [[parquet]] hands Spark
  * a directory's schema without re-running inference while the
  * directory is unchanged, and reads the schema Spark recorded in a
  * footer when it is not.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // The library-wide contract for the event stream is ts as BIGINT
    // epoch-NANOS — exactly DuckDB's epoch_ns(ts), so every oracle
    // compares the full value. Earlier testdata stored TIMESTAMP(NANOS),
    // which older Spark read as BIGINT under
    // spark.sql.legacy.parquet.nanosAsLong (kept: harmless where inert);
    // current testdata stores timestamp[us], which Spark 4.1.2 reads as
    // TIMESTAMP_NTZ — converted back to BIGINT nanos below (micros*1000
    // is exact; DuckDB's epoch_ns performs the identical widening).
    // Date-valued columns in the TPC-H tables stay timestamps: only the
    // event stream carries the nanos contract.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The NTZ->timestamp cast reads the session clock: pin UTC (the
    // timezone every main/spec/oracle already runs) so a caller-owned
    // session with a different zone cannot shift ts.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = parquet(spark, s"$sfDir/$name.parquet")
    if (name != "events") raw
    else raw.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        f.name
    }.foldLeft(raw) { (d, c) =>
      d.withColumn(c, org.apache.spark.sql.functions
        .unix_micros(org.apache.spark.sql.functions.col(c)
          .cast("timestamp")) * 1000L)
    }
  }

  /** A listed directory's identity for the schema cache: every file
    * Spark's file index would read, plus the session confs that change
    * parquet schema inference. */
  private[graft] final case class SchemaKey(files: Set[FileKey],
                                            confs: Map[String, String])

  /** Inferred schema per parquet directory, with the key it was
    * inferred under; one entry per directory, replaced on a miss. */
  private[graft] val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (SchemaKey, StructType)]

  /** Drop the [[schemaCache]] and `MaintainedIndex.envelopeCache`
    * entries of every table under local directory `root`, for a caller
    * that deletes it: a deleted table's entries would only ever miss. */
  private[graft] def forgetUnder(root: java.io.File): Unit = {
    val prefix = root.getAbsolutePath + "/"
    // keys are table dirs, plain or as `file:` URIs
    def under(dir: String) = new Path(dir).toUri.getPath.startsWith(prefix)
    schemaCache.keySet.removeIf((d: String) => under(d))
    graft.sources.MaintainedIndex.envelopeCache.keySet.removeIf(
      (k: (String, String)) => under(k._1))
    ()
  }

  /** `spark.read.parquet(dir)`, minus the schema-inference job: while
    * the listing of `dir` (a parquet directory or single file) and the
    * parquet confs are unchanged, a hit reads with the cached schema; a
    * miss over files Spark wrote reads the schema Spark recorded in a
    * footer ([[recordedSchema]]), so an append-only table (a new
    * listing per append) runs no job either. Every call still builds a
    * fresh relation (distinct attribute ids, so self-joins resolve).
    * Partitioned, missing and empty directories take the plain read:
    * Spark lists the first with parallel partition discovery, and
    * raises its own errors for the other two. */
  def parquet(spark: SparkSession, dir: String): DataFrame =
    listing(spark, dir) match {
      case None => spark.read.parquet(dir)
      case Some(files) =>
        val key = schemaKey(spark, files)
        Option(schemaCache.get(dir)) match {
          case Some((`key`, schema)) => spark.read.schema(schema).parquet(dir)
          case _ =>
            val df = recordedSchema(spark, files)
              .fold(spark.read.parquet(dir))(spark.read.schema(_).parquet(dir))
            schemaCache.put(dir, (key, df.schema))
            df
        }
    }

  /** The files Spark's file index would read, or None for a
    * partitioned, missing or empty directory. */
  private def listing(spark: SparkSession,
                      dir: String): Option[Seq[FileStatus]] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = try fs.listStatus(p).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    val visible = listed.filterNot(s => hidden(s.getPath.getName))
    if (visible.isEmpty || visible.exists(_.isDirectory)) None
    else Some(visible)
  }

  private def schemaKey(spark: SparkSession,
                        files: Seq[FileStatus]): SchemaKey =
    SchemaKey(
      files.map(s =>
        FileKey(s.getPath.getName, s.getLen, s.getModificationTime)).toSet,
      spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") ||
          k.startsWith("spark.sql.legacy.parquet.") ||
          k == "spark.sql.caseSensitive"
      })

  /** The schema inference would return, read on the driver from the
    * footer inference reads — the first data file by path, when schema
    * merging is off and no summary file is listed — where Spark
    * recorded its schema on write (that record wins over every parquet
    * conf). None, and so the plain read, for anything else: files
    * another writer wrote, a summary file, schema merging, an
    * unreadable footer. */
  private def recordedSchema(spark: SparkSession,
                             files: Seq[FileStatus]): Option[StructType] =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled ||
      files.exists(_.getPath.getName.startsWith("_"))) None
    else scala.util.Try {
      val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
          files.minBy(_.getPath.toString),
          spark.sparkContext.hadoopConfiguration),
        org.apache.parquet.format.converter.ParquetMetadataConverter
          .SKIP_ROW_GROUPS)
      Option(footer.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
        .map(DataType.fromJson).collect { case st: StructType => st }
    }.toOption.flatten

  /** The names Spark's file index skips: `_`/`.` prefixes and in-flight
    * `._COPYING_` copies, but not the parquet summary files. A copy of
    * `HadoopFSUtils.shouldFilterOutPathName`, which is private to Spark. */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata")

  /** Register every table as a temp view so `spark.sql` works against the
    * same names DuckDB sees (mirrors reference S1/S2 catalog access).
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    All.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
