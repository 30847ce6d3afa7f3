package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** Shared local session for all suites (one per forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      graft.Scratch.dir("warehouse").getAbsolutePath)
    .config("spark.sql.extensions", classOf[GraftExtensions].getName)
    .getOrCreate()

  def sf0001 = "/root/testdata/sf0.001"

  /** Run `f` with session confs temporarily set, restoring after. */
  def withSQLConf[A](pairs: (String, String)*)(f: => A): A = {
    val conf = spark.conf
    val olds = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f
    finally olds.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Run `f`, then wait until `check` passes on the executed plans of
    * the queries and writes it ran — for operators that return no frame
    * to inspect. Listener events arrive asynchronously, hence the wait.
    */
  def withPlans[A](f: => A)(check: Seq[String] => Unit): A =
    withExecutions(f)(qes => check(qes.map(_.executedPlan.toString)))

  /** [[withPlans]] over the executions themselves. A stream started
    * inside `f` clones the session with its listeners, so its
    * micro-batches' executions are seen too. */
  def withExecutions[A](f: => A)(check: Seq[QueryExecution] => Unit): A = {
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        qes.add(qe)
      override def onFailure(fn: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = f
      eventually(timeout(30.seconds), interval(100.millis)) {
        check(qes.toArray(new Array[QueryExecution](0)).toSeq)
      }
      out
    } finally spark.listenerManager.unregister(listener)
  }
}
