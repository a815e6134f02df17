package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // shared session; never stop it

  /** Run `f` with the given session confs set, restoring the previous
    * values afterwards (the session is shared across specs).
    */
  protected def withConf[T](kvs: (String, String)*)(f: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** The confs under which `Lww.reduceBucketed`'s single exchange IS the
    * `numBuckets` bucket layout (AQE off, shuffle partitions ==
    * numBuckets) — the session shape of the benchmark and tuned
    * deployments. The shared test session (AQE on) takes the
    * repartition fallback instead.
    */
  protected def exactReduceConf(numBuckets: Int): Seq[(String, String)] =
    Seq("spark.sql.adaptive.enabled" -> "false", "spark.sql.shuffle.partitions" -> numBuckets.toString)

  /** Sum of `metric` over the task metrics of every stage completed
    * during `action`. The listener bus posts asynchronously, so the
    * counter is polled until stable instead of sleeping a fixed time — a
    * slow bus would otherwise UNDERCOUNT and let an upper-bound
    * assertion pass vacuously. Callers asserting `<= bound` should pair
    * it with a positive control (`> 0` on work that must register) so a
    * broken meter is detectable.
    */
  protected def taskMetric(metric: org.apache.spark.executor.TaskMetrics => Long)(
      action: => Unit): Long = {
    val n = new java.util.concurrent.atomic.AtomicLong
    val meter = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        n.addAndGet(metric(sc.stageInfo.taskMetrics))
    }
    spark.sparkContext.addSparkListener(meter)
    try { action; settle(n.get) }
    finally spark.sparkContext.removeSparkListener(meter)
    n.get
  }

  /** The executed plan of every query `action` runs (writes included),
    * from a QueryExecutionListener; like [[taskMetric]], the listener
    * bus is polled until the capture is stable.
    */
  protected def executedPlans(action: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { action; settle(plans.size.toLong) }
    finally spark.listenerManager.unregister(listener)
    scala.jdk.CollectionConverters.CollectionHasAsScala(plans).asScala.toSeq
  }

  /** Wait until `read` returns the same value three polls in a row (at
    * most 8 s): the listener bus posts asynchronously.
    */
  private def settle(read: => Long): Unit = {
    var prev = -1L; var stable = 0; var waited = 0
    while (stable < 3 && waited < 8000) {
      val cur = read
      if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      Thread.sleep(250); waited += 250
    }
  }

  /** Input records actually READ by `action` — the observable for
    * driver-side file/row-group pruning (a pruned file schedules no
    * task, so its rows never reach inputMetrics).
    */
  protected def recordsRead(action: => Unit): Long =
    taskMetric(_.inputMetrics.recordsRead)(action)

  /** Shuffle bytes written during `action` — wall time barely moves in
    * local mode, but on a cluster the exchange is network-bound, so
    * bytes moved is the honest scale observable.
    */
  protected def shuffleBytes(action: => Unit): Long =
    taskMetric(_.shuffleWriteMetrics.bytesWritten)(action)
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
