package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Raw-feed ingestion with corrupt-record quarantine — the front door of
  * an offline cleaning pipeline (the reference's ODS landing step,
  * re-based from Hive tables onto raw line files).
  *
  * Both readers take the two-phase shape `lines → parse expression`
  * instead of DataFrameReader's json/csv formats: the parse is a
  * row-local codegen'd expression (`from_json`/`from_csv`) carrying its
  * own `_corrupt_record` slot, so clean/quarantine are two filters over
  * ONE line scan — none of the reader's refuse-to-filter-corrupt-
  * without-cache restriction, no silently null-filled rows, and the
  * quarantine keeps the raw line for replay after the feed is fixed.
  *
  * Scale: schema is REQUIRED, never inferred — inference reads the whole
  * input once before the real job (a 2× scan at 100 TB) and can lock in
  * a wrong type from a skewed sample. The split itself is shuffle-free;
  * both outputs stream from the same scan, and the quarantine side
  * prunes to the raw line only.
  */
object Ingest {

  private val Corrupt = "_graft_corrupt"

  /** (clean, quarantine) split of a JSON-lines directory. Clean rows
    * carry the parsed columns of `schema`; quarantine rows carry
    * (raw_line, reason). A row is quarantined when the line is not
    * valid JSON or a field fails type conversion; blank lines drop. */
  def readJsonl(spark: SparkSession, path: String,
                schema: StructType): (DataFrame, DataFrame) = {
    withCorrupt(schema) // validate before path resolution
    splitLines(lines(spark, path), schema)
  }

  /** JSONL split over an already-loaded `raw_line` frame — the shared
    * core of the file reader and the `ingest_props` job (which feeds a
    * table column), so both paths parse and quarantine identically. */
  def splitLines(linesDf: DataFrame, schema: StructType): (DataFrame, DataFrame) =
    split(schema, linesDf
      .where(length(trim(col("raw_line"))) > 0)
      .withColumn("j", from_json(col("raw_line"), withCorrupt(schema),
        Map("columnNameOfCorruptRecord" -> Corrupt))))

  /** (clean, quarantine) split of a CSV directory (no header handling —
    * headers are metadata; pass them out-of-band like any large feed
    * does). A row is quarantined when a field fails type conversion or
    * the line is structurally malformed. */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              options: Map[String, String] = Map.empty): (DataFrame, DataFrame) =
    split(schema, lines(spark, path)
      .where(length(trim(col("raw_line"))) > 0)
      .withColumn("j", from_csv(col("raw_line"), withCorrupt(schema),
        options + ("columnNameOfCorruptRecord" -> Corrupt))))

  private def lines(spark: SparkSession, path: String): DataFrame =
    spark.read.textFile(path).toDF("raw_line")

  private def withCorrupt(schema: StructType): StructType = {
    require(!schema.fieldNames.contains(Corrupt),
      s"schema may not declare reserved column $Corrupt")
    StructType(schema.fields :+ StructField(Corrupt, StringType))
  }

  private def split(schema: StructType, parsed: DataFrame): (DataFrame, DataFrame) = {
    val bad: Column = col("j").isNull || col(s"j.$Corrupt").isNotNull
    val clean = parsed.where(!bad)
      .select(schema.fieldNames.map(f => col(s"j.$f")): _*)
    val quarantine = parsed.where(bad)
      .select(col("raw_line"), lit("parse_error").as("reason"))
    (clean, quarantine)
  }
}
