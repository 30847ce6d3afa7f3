package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnPath
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{ColumnOrder, LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** File layout and file skipping for parquet tables clustered on one
  * key — the storage-side lever the reference's date-partitioned Hive
  * tables use for ONE column (directory partitioning,
  * SimpleDataCleanUtils.scala:19), generalized to any sortable key at
  * file/row-group granularity, and the machinery that turns the
  * continuous-ingest screens' per-batch table reads (winnow
  * fingerprints, df sidecar, signature table) from O(corpus) file IO
  * into O(batch).
  *
  *  - every write (initial, append or compaction) range-clusters its
  *    rows on the table's key and sorts within each file, so each file
  *    covers a narrow key range and each row group carries tight
  *    min/max stats — one clustered GENERATION per append;
  *  - each data file's [min, max] key envelope is read from its OWN
  *    parquet footer (the row-group statistics Spark's row-group filter
  *    pushdown trusts), so writes put nothing beside the data;
  *  - a probe set ([[readPruned]]) or a key range ([[readRange]])
  *    opens ONLY the files whose envelope can hold a match. With
  *    uniform hash keys a probe read keeps min(|probes|, |files|)
  *    files: bounded by the batch, never the corpus — the asymptotic
  *    that makes a 100 TB maintained table affordable to probe per
  *    micro-batch.
  *
  * SAFETY RULE (what makes pruning always-correct): the envelope comes
  * from the file's own footer, so it can never disagree with the file,
  * and a file without usable statistics — a row group holding keys but
  * lacking min/max, or a key type other than byte/short/int/long/string
  * (dates and timestamps included) — has no envelope and is ALWAYS
  * read. Files appended by any writer are read until their footer says
  * otherwise, and files that are no longer listed are never opened.
  * CurateRestartSpec's replay windows exercise this through the loop;
  * ScreenPruneSpec and FileSkipSpec pin equality and the file-count
  * collapse directly.
  *
  * The probe set crosses to the driver ([[readPruned]] takes an
  * in-memory array): that is NOT new data movement — every caller
  * already ships the same bounded relation to executors as a broadcast
  * (the screens' semi-join sides), and a broadcast stages through the
  * driver anyway. The envelopes are metadata-plane: O(#files) values,
  * the same order as the FileIndex every Spark scan holds driver-side.
  */
object MaintainedIndex {

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Number of visible data files of a table — the cheap fs-metadata
    * input to the callers' prune-or-not decision: a probe set at least
    * as large as the file count cannot skip a useful fraction under
    * uniform keys (expected kept ≥ 63% at parity), so callers read the
    * table whole and never pay the probe collect. */
  def dataFileCount(spark: SparkSession, dir: String): Int = {
    val (fs, p) = fsOf(spark, dir)
    dataFiles(fs, p).size
  }

  /** Record `value` in the marker file `name` beside the table at
    * `dir` (an underscore name: parquet readers skip it). A marker
    * holds the parameters the table was built with, which every reader
    * must match. Overwrites. */
  private[graft] def writeMarker(spark: SparkSession, dir: String,
                                 name: String, value: String): Unit = {
    val (fs, p) = fsOf(spark, dir)
    val out = fs.create(new Path(p, name), true)
    try out.write(value.getBytes("UTF-8")) finally out.close()
  }

  /** The trimmed text of the marker file `name` at `dir`, or None when
    * the table has no such marker. */
  private[graft] def readMarker(spark: SparkSession, dir: String,
                                name: String): Option[String] = {
    val (fs, p) = fsOf(spark, dir)
    val m = new Path(p, name)
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      try Some(new String(in.readAllBytes(), "UTF-8").trim)
      finally in.close()
    }
  }

  /** Visible data files of a parquet directory — the same filter
    * Spark's own listing applies (no underscore/dot names). */
  private[sources] def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
        !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))

  /** Deterministic batch-named append (the curate loop's commit
    * primitive, hoisted from StreamingOps so every maintained artifact
    * shares it): stage-write, delete any stale files of the SAME
    * prefix (a crashed attempt's leftovers), rename into place. */
  def idempotentAppend(df: DataFrame, dir: String,
                       prefix: String): Unit = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    val tmp = new Path(dirPath, s"_stage_$prefix")
    df.write.mode("overwrite").parquet(tmp.toString)
    // stale files from a crashed attempt of the SAME batch go first, so
    // a replay can only ever converge downward to the fresh set
    if (fs.exists(dirPath))
      fs.listStatus(dirPath)
        .filter(s => s.isFile && s.getPath.getName.startsWith(prefix))
        .foreach(s => fs.delete(s.getPath, false))
    fs.listStatus(tmp).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .zipWithIndex.foreach { case (p, i) =>
        fs.rename(p, new Path(dirPath, s"$prefix$i.parquet"))
      }
    fs.delete(tmp, true)
    ()
  }

  /** [[idempotentAppend]] of a batch CLUSTERED on `keyCol` (range
    * partition + in-file sort — each landed file covers a narrow key
    * range whose envelope its footer records). The extra cost per
    * batch is one O(batch) range shuffle. */
  def clusteredIdempotentAppend(df: DataFrame, dir: String, prefix: String,
                                keyCol: String): Unit = {
    val spark = df.sparkSession
    // SCALE-ADAPTIVE file count (guide §6): the session's shuffle
    // width is a parallelism knob, not a file-sizing one. At local[32]
    // a micro-batch append range-partitioned into 32 landed 32 sliver
    // files PER ARTIFACT per batch; at 100 TB a fixed 32 would make
    // multi-GB files. Plan the range-partition count from the
    // optimizer's size estimate of the batch against a target file
    // size (conf `graft.append.targetFileBytes`; the estimate is
    // uncompressed-row bytes, so the default lands parquet files
    // well under it), clamped to [1, shuffle width] so a wide
    // cluster's appends keep their parallelism bound and an
    // unknown-size plan (estimate saturated) degrades to exactly the
    // old behavior. Layout only — row content, idempotence, and the
    // safety rule are unchanged.
    val maxParts = spark.sessionState.conf.numShufflePartitions
    val targetBytes = spark.conf.getOption("graft.append.targetFileBytes")
      .map(_.toLong).getOrElse(256L * 1024 * 1024)
    val estParts = scala.util.Try(
      df.queryExecution.optimizedPlan.stats.sizeInBytes / targetBytes + 1)
      .getOrElse(BigInt(maxParts))
    val parts =
      if (estParts >= maxParts) maxParts else math.max(1, estParts.toInt)
    idempotentAppend(
      df.repartitionByRange(parts, col(keyCol))
        .sortWithinPartitions(col(keyCol)),
      dir, prefix)
  }

  /** Initial clustered write (overwrite). */
  def writeClusteredIndexed(df: DataFrame, dir: String,
                            keyCol: String): Unit =
    writeClusteredIndexed(df, dir, keyCol,
      df.sparkSession.sessionState.conf.numShufflePartitions)

  /** [[writeClusteredIndexed]] at an explicit output file count: the
    * table's one clustered writer (layout rewrites, Z-order/Hilbert
    * curves and compaction all land through it). `repartitionByRange`
    * gives every output file a narrow, pairwise disjoint key range
    * (equal keys land in one partition) and `sortWithinPartitions`
    * gives each row group tight min/max stats. The range boundaries
    * come from Spark's reservoir sample, so file SIZES are approximate;
    * content, clustering and the skipping guarantee are exact. */
  def writeClusteredIndexed(df: DataFrame, dir: String, keyCol: String,
                            partitions: Int): Unit =
    df.repartitionByRange(math.max(1, partitions), col(keyCol))
      .sortWithinPartitions(col(keyCol))
      .write.mode("overwrite").parquet(dir)

  /** Compact a maintained clustered table: every append leaves its own
    * generation of narrow-envelope files, and the pruned reads' bound
    * is kept ≤ probes × GENERATIONS — so a long-lived ingest table
    * periodically re-clusters its accumulated generations into ONE
    * (file count planned from bytes, [[Compaction]]'s sizing rule),
    * resetting the bound to kept ≤ probes and restoring large sorted
    * files. Lands in `outPath` (never in place — a mid-write failure
    * must not destroy the input; publish via rename or
    * [[graft.sources.Versioned]]). Unlike [[Compaction.compact]] this
    * pays one range shuffle — that IS the re-clustering; row content is
    * preserved exactly. */
  def compactClusteredIndexed(spark: SparkSession, inPath: String,
                              outPath: String, keyCol: String,
                              targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val (nIn, bytes) = Compaction.layoutOf(spark, inPath)
    val nOut = Compaction.planFileCount(bytes, targetFileBytes)
    writeClusteredIndexed(spark.read.parquet(inPath), outPath, keyCol, nOut)
    (nIn, nOut)
  }

  // ----------------------------------------------------- file envelopes

  /** Driver-side ordering for envelope probing. Integral values widen
    * to Long; strings compare as their UTF-8 bytes, unsigned — both
    * UTF8String's order and the parquet footer's (Java's UTF-16
    * compareTo would differ above the BMP and could FALSE-SKIP). Any
    * other value is unorderable (null). */
  private def orderable(v: Any): Any = v match {
    case l: java.lang.Long => l
    case i: java.lang.Integer => i.longValue(): java.lang.Long
    case s: java.lang.Short => s.longValue(): java.lang.Long
    case b: java.lang.Byte => b.longValue(): java.lang.Long
    case s: String => s.getBytes("UTF-8")
    case _ => null
  }

  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: java.lang.Long, y: java.lang.Long) =>
      Some(java.lang.Long.compare(x, y))
    case (x: Array[Byte], y: Array[Byte]) =>
      Some(java.util.Arrays.compareUnsigned(x, y))
    case _ => None
  }

  /** A data file's identity for the envelope cache: a rewrite under
    * the same name changes its length or mtime. */
  private[graft] final case class FileKey(name: String, len: Long,
                                          mtime: Long)

  /** Driver cache of footer envelopes per (table dir, key column),
    * each entry pruned to the table's current listing on every probe —
    * a screen probes the same tables 2-4 times per micro-batch, and an
    * append adds new keys without invalidating the old ones, so only
    * the new files' footers are read. Bounded by the maintained tables'
    * live files. `None` = no usable statistics (always read). */
  private[graft] val envelopeCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), Map[FileKey, Option[(Any, Any)]]]

  /** A footer min/max in [[orderable]] form (strings are Binary). */
  private def statValue(v: Any): Any = v match {
    case b: org.apache.parquet.io.api.Binary => b.getBytes
    case other => orderable(other)
  }

  /** [lo, hi] of `keyCol` over the row groups of one parquet footer,
    * normalized by [[orderable]] — or None when any row group holding
    * keys lacks min/max, the file holds no non-null key, or the key is
    * not a top-level byte/short/int/long/string column with
    * type-defined ordering. */
  private def footerEnvelope(conf: Configuration, file: FileStatus,
                             keyCol: String): Option[(Any, Any)] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    val footer = try reader.getFooter finally reader.close()
    val schema = footer.getFileMetaData.getSchema
    if (!schema.containsField(keyCol)) return None
    val t = schema.getType(schema.getFieldIndex(keyCol))
    if (!t.isPrimitive) return None
    val pt = t.asPrimitiveType()
    val intAnn = Option(pt.getLogicalTypeAnnotation).forall {
      case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
      case _ => false
    }
    val supported = pt.columnOrder() == ColumnOrder.typeDefined() && (
      pt.getPrimitiveTypeName match {
        case PrimitiveType.PrimitiveTypeName.INT32 |
             PrimitiveType.PrimitiveTypeName.INT64 => intAnn
        case PrimitiveType.PrimitiveTypeName.BINARY =>
          pt.getLogicalTypeAnnotation ==
            LogicalTypeAnnotation.stringType()
        case _ => false
      })
    if (!supported) return None
    val path = ColumnPath.get(keyCol)
    var env: Option[(Any, Any)] = None
    val blocks = footer.getBlocks.iterator()
    while (blocks.hasNext) {
      val chunks = blocks.next().getColumns.iterator()
      while (chunks.hasNext) {
        val c = chunks.next()
        if (c.getPath == path && c.getValueCount > 0) {
          val st: org.apache.parquet.column.statistics.Statistics[_] =
            c.getStatistics
          val allNull = st != null && st.isNumNullsSet &&
            st.getNumNulls == c.getValueCount
          if (st == null || (!st.hasNonNullValue && !allNull)) return None
          if (st.hasNonNullValue) {
            val lo = statValue(st.genericGetMin)
            val hi = statValue(st.genericGetMax)
            env = Some(env.fold((lo, hi)) { case (plo, phi) =>
              (if (cmp(lo, plo).exists(_ < 0)) lo else plo,
                if (cmp(hi, phi).exists(_ > 0)) hi else phi)
            })
          }
        }
      }
    }
    env
  }

  /** Envelopes of every listed file of `dirPath`: cached ones reused,
    * the rest read from their footers in ONE Spark job (parallel over
    * files, so a cold 10⁵-file table reads at cluster speed). */
  private def envelopes(spark: SparkSession, dirPath: Path,
                        listing: Seq[FileStatus],
                        keyCol: String): Map[String, Option[(Any, Any)]] = {
    val cacheKey = (dirPath.toString, keyCol)
    val keys = listing.map(s =>
      FileKey(s.getPath.getName, s.getLen, s.getModificationTime))
    val cached = Option(envelopeCache.get(cacheKey)).getOrElse(Map.empty)
    val missing = keys.filterNot(cached.contains)
    val read =
      if (missing.isEmpty) Map.empty[FileKey, Option[(Any, Any)]]
      else {
        val sc = spark.sparkContext
        val conf = new SerializableConfiguration(sc.hadoopConfiguration)
        val base = dirPath.toString
        sc.parallelize(missing, math.min(missing.size, sc.defaultParallelism))
          .map(k => k -> footerEnvelope(conf.value,
            new FileStatus(k.len, false, 0, 0, k.mtime, new Path(base, k.name)),
            keyCol))
          .collect().toMap
      }
    val current = keys.map(k => k -> cached.getOrElse(k, read(k))).toMap
    envelopeCache.put(cacheKey, current)
    current.map { case (k, e) => k.name -> e }
  }

  // ----------------------------------------------------- pruned reads

  /** The file-selection core: (files to read, all live data files). A
    * file survives iff it has no envelope OR `overlaps(lo, hi)` holds
    * for its envelope. `None` (a probe that cannot be ordered) reads
    * every file without touching a footer. */
  private def selectFiles(spark: SparkSession, dir: String, keyCol: String,
                          overlaps: Option[(Any, Any) => Boolean])
      : (Seq[String], Seq[String]) = {
    val (fs, dirPath) = fsOf(spark, dir)
    val listing = dataFiles(fs, dirPath)
    val all = listing.map(_.getPath.getName)
    overlaps match {
      case Some(f) if all.nonEmpty =>
        val env = envelopes(spark, dirPath, listing, keyCol)
        (all.filter(n => env(n).forall { case (lo, hi) => f(lo, hi) }), all)
      case _ => (all, all)
    }
  }

  /** Probe-set selection, test-visible: a file survives iff it has no
    * envelope OR its [lo, hi] envelope contains at least one probe. An
    * unorderable probe (type outside [[orderable]]) reads everything;
    * null probes match nothing. */
  private[graft] def pruneFiles(spark: SparkSession, dir: String,
                                keyCol: String,
                                probes: Array[Any]): (Seq[String], Seq[String]) = {
    val ps = probes.filter(_ != null).map(orderable)
    // sort probes once; any uncomparable pair reads everything
    val sorted =
      if (ps.contains(null)) None
      else try Some(ps.sortWith((a, b) => cmp(a, b) match {
        case Some(c) => c < 0
        case None => throw new IllegalArgumentException("unorderable")
      }))
      catch { case _: IllegalArgumentException => None }
    def anyProbeIn(in: Array[Any])(lo: Any, hi: Any): Boolean = {
      // binary search: smallest probe >= lo, then check <= hi
      var a = 0; var b = in.length
      while (a < b) {
        val m = (a + b) >>> 1
        cmp(in(m), lo) match {
          case Some(c) if c < 0 => a = m + 1
          case Some(_) => b = m
          case None => return true // probe/key type mismatch: read
        }
      }
      a < in.length && cmp(in(a), hi).forall(_ <= 0)
    }
    selectFiles(spark, dir, keyCol, sorted.map(anyProbeIn))
  }

  /** Read exactly the files `kept` of `all` (names in `dir`): the whole
    * table when nothing was skipped or the listing is empty (a missing
    * table then fails with Spark's own error), a schema-preserving
    * empty relation when everything was. */
  private[sources] def readFiles(spark: SparkSession, dir: String,
                                 kept: Seq[String],
                                 all: Seq[String]): DataFrame =
    if (all.isEmpty || kept.size == all.size) spark.read.parquet(dir)
    else if (kept.isEmpty) spark.read.parquet(dir).where(lit(false))
    else {
      val base = new Path(dir)
      spark.read.parquet(kept.map(n => new Path(base, n).toString): _*)
    }

  /** Probe-pruned table read: rows of files whose key envelope may
    * contain a probe, plus every file without an envelope — a SUPERSET
    * of the rows matching the probe set, so any downstream
    * equi-semi-join on the key gives results identical to reading the
    * whole table. */
  def readPruned(spark: SparkSession, dir: String, keyCol: String,
                 probes: Array[Any]): DataFrame =
    readPrunedWithInfo(spark, dir, keyCol, probes)._1

  /** [[readPruned]] plus (files kept, files total) — callers that can
    * restructure their plan when pruning did NOT engage (a batch-sized
    * probe set over a small table keeps everything) use the counts to
    * fall back to scan sharing instead of a second table read. */
  def readPrunedWithInfo(spark: SparkSession, dir: String, keyCol: String,
                         probes: Array[Any]): (DataFrame, Int, Int) = {
    val (kept, all) = pruneFiles(spark, dir, keyCol, probes)
    (readFiles(spark, dir, kept, all), kept.size, all.size)
  }

  /** Range read with file skipping: the rows with lo <= key <= hi,
    * reading only files whose envelope intersects [lo, hi] plus every
    * file without one, then applying the residual predicate (envelopes
    * admit false positives at their edges, never false negatives).
    * Equal to the unpruned `read.where(...)` by construction. Bounds
    * outside [[orderable]]'s types (dates, timestamps, doubles) read
    * every file. */
  def readRange(spark: SparkSession, dir: String, keyCol: String,
                lo: Any, hi: Any): DataFrame = {
    val (l, h) = (orderable(lo), orderable(hi))
    val overlaps =
      if (l == null || h == null) None
      else Some((flo: Any, fhi: Any) =>
        cmp(fhi, l).forall(_ >= 0) && cmp(flo, h).forall(_ <= 0))
    val (kept, all) = selectFiles(spark, dir, keyCol, overlaps)
    readFiles(spark, dir, kept, all)
      .where(col(keyCol) >= lit(lo) && col(keyCol) <= lit(hi))
  }
}
