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
}
