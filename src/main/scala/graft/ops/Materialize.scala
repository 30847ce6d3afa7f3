package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Eager-materialization strategies for operators that must pin an
  * intermediate result — iterative algorithms that truncate their
  * lineage every round (connected components, the graph rounds) and
  * pipelines whose output feeds several consumers (the MinHash
  * verified-pair list).
  *
  *  - [[MatStrategy.Local]] — `localCheckpoint`: executor-local,
  *    NON-replicated blocks. Fastest (no DFS round-trip), right for
  *    bounded intra-job state that a retry can rebuild from scratch:
  *    per-round iteration state and per-batch screen results that never
  *    leave the operator or the micro-batch.
  *  - [[MatStrategy.Default]] — parquet round-trip through a per-session
  *    spill root on the session's DEFAULT Hadoop filesystem (local temp
  *    dir on a laptop, a `/tmp` dir on the cluster DFS under
  *    `fs.defaultFS`), removed on JVM exit. Durable AND columnar (later
  *    consumers get pushdown/pruning against the spill) — the shape for
  *    results that escape the operator. A hard-coded driver-local temp
  *    dir would break on a real cluster: executors would each write
  *    their tasks to their own local disks.
  *
  * Every materialization returns a [[Materialized]] handle whose
  * `release()` frees exactly the storage that call created: the blocks
  * of the RDD behind the returned frame (Local) or the spill directory
  * (Default). Each handle reaches its storage through its own frame,
  * never through session-wide state, so no lock is needed:
  * materializations on concurrent driver threads run concurrently and
  * never release each other's storage. Caches the caller persisted
  * upstream stay the caller's to unpersist. Operators that return a
  * plain DataFrame use [[MatStrategy.Default]] so NO RDD blocks outlive
  * the call — `sc.getPersistentRDDs` stays empty (asserted in LeakSpec).
  */
sealed trait MatStrategy

object MatStrategy {
  case object Local extends MatStrategy

  /** Spill to a per-session default root resolved against the session's
    * default filesystem at materialization time (see class doc).
    */
  case object Default extends MatStrategy
}

/** An eagerly-computed DataFrame plus the action that frees its backing
  * storage. `release()` is idempotent; after it, `df` must not be used.
  */
final case class Materialized(df: DataFrame, release: () => Unit)

object Materialize {

  private val counter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Per-JVM local spill root, a [[graft.Scratch]] child (deleted on
    * JVM exit): the default root when the default filesystem is the
    * local one.
    */
  private lazy val localSpillRoot: String = graft.Scratch.dir("spill").toString

  /** Default spill root per (JVM, default filesystem): a temp dir on
    * the session's `fs.defaultFS` so executor tasks of a real cluster
    * write somewhere every node can read. Deleted on JVM exit.
    */
  private val defaultRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]
  private def defaultSpillRoot(spark: SparkSession): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fsUri = org.apache.hadoop.fs.FileSystem.getDefaultUri(conf).toString
    defaultRoots.computeIfAbsent(fsUri, _ => {
      val fs = org.apache.hadoop.fs.FileSystem.get(conf)
      if ("file".equalsIgnoreCase(fs.getScheme)) {
        localSpillRoot
      } else {
        val root = new Path(
          s"/tmp/graft-spill-${java.util.UUID.randomUUID().toString}")
        fs.mkdirs(root)
        // register with Hadoop's ShutdownHookManager ABOVE the
        // FileSystem-close priority (10): a plain JVM hook races the
        // FS finalizer and "Filesystem closed" would leak the DFS dir
        org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
          new Runnable {
            override def run(): Unit =
              try { fs.delete(root, true); () }
              catch { case _: Throwable => () }
          }, 50)
        root.toString
      }
    })
  }

  /** File sources relax nullability on read; mirror that in the schema
    * handed to the spill read (StructType.asNullable is private[sql]).
    */
  private def relaxNullability(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = relaxNullability(f.dataType), nullable = true)))
      case a: ArrayType =>
        ArrayType(relaxNullability(a.elementType), containsNull = true)
      case m: MapType => MapType(relaxNullability(m.keyType),
        relaxNullability(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** Spill dirs created through [[MatStrategy.Default]] whose handles
    * were never released — the footprint of the operators that return
    * a bare DataFrame (minhashNearDupPairs, connectedComponents, the
    * Graph and Similarity iterative operators, …), which drop the
    * release handle by design. Bounded for batch jobs (JVM-exit
    * cleanup reclaims everything), but a long-lived SERVICE session
    * accumulates one dir per call: such callers should call
    * [[reapDefaultSpills]] at a point where no bare-DataFrame result is
    * still in use.
    */
  private val defaultSpills =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Delete every unreleased Default-strategy spill dir (opt-in reaper
    * for long-lived sessions). Caller contract: every DataFrame returned
    * by a bare wrapper is dead — their backing files go away. Returns
    * the number of dirs removed.
    */
  def reapDefaultSpills(spark: SparkSession): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    var n = 0
    val it = defaultSpills.iterator()
    while (it.hasNext) {
      val p = new Path(it.next())
      it.remove()
      val fs = p.getFileSystem(conf)
      if (fs.delete(p, true)) n += 1
    }
    n
  }

  /** The RDD a checkpointed frame reads: `localCheckpoint` returns a
    * frame over exactly one `LogicalRDD`, whose RDD owns the blocks.
    */
  private def checkpointRdd(out: DataFrame): org.apache.spark.rdd.RDD[_] =
    out.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }

  /** `localCheckpoint` with its release. `eager = false` defers
    * materialization to the FIRST ACTION the caller runs on the returned
    * frame (the blocks persist and the lineage truncates when that job
    * lands) — the fusion seam [[localWithScalar]] builds on.
    */
  private def local(df: DataFrame, eager: Boolean): (Materialized, DataFrame) = {
    val out = df.localCheckpoint(eager)
    val rdd = checkpointRdd(out)
    (Materialized(out, () => { rdd.unpersist(false); () }), out)
  }

  /** Local materialization FUSED with a bounded one-row aggregate fetch:
    * the lazy localCheckpoint is materialized by the aggregate's own
    * job, so a caller that needs both the pinned frame and a scalar
    * statistic of it (an iterative renormalization constant, a
    * convergence count) pays ONE barrier instead of two — the extra
    * aggregation runs map-side over the blocks the same job is writing.
    * The scalar comes back as a driver value to splice in as a literal:
    * the K5 collect→literal pattern, bounded to a single row by
    * construction. Values are bit-identical to the two-job formulation
    * (materialize, then aggregate) for any deterministic `aggs`.
    */
  def localWithScalar(df: DataFrame,
                      aggs: Seq[org.apache.spark.sql.Column])
      : (Materialized, org.apache.spark.sql.Row) = {
    require(aggs.nonEmpty, "at least one aggregate")
    val (m, out) = local(df, eager = false)
    val row = out.agg(aggs.head, aggs.tail: _*).head()
    (m, row)
  }

  def apply(df: DataFrame, mat: MatStrategy): Materialized = mat match {
    case MatStrategy.Default => spill(df)
    case MatStrategy.Local => local(df, eager = true)._1
  }

  /** Parquet round-trip through the default spill root, registered for
    * [[reapDefaultSpills]] until released. */
  private def spill(df: DataFrame): Materialized = {
    val spark = df.sparkSession
    val path =
      s"${defaultSpillRoot(spark)}/spill-${counter.incrementAndGet()}"
    df.write.mode("overwrite").parquet(path)
    // explicit schema: an empty result writes no part files, and a
    // schemaless read of the empty dir would fail instead of
    // returning an empty frame. (asNullable: file sources always relax
    // nullability on read — passing the exact schema would be ignored.)
    val out = spark.read.schema(
      relaxNullability(df.schema)
        .asInstanceOf[org.apache.spark.sql.types.StructType]).parquet(path)
    defaultSpills.add(path)
    Materialized(out, () => {
      defaultSpills.remove(path)
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true); ()
    })
  }
}
