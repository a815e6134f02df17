package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.table.CommitStore

/** A timed region around one public engine call, opened by the benchmark. */
final class Span(val id: Int, val name: String, val parent: Int, val startMs: Double) {
  var endMs: Double = Double.NaN
  def wallMs: Double = endMs - startMs
}

/** Spans of one client thread. They are always recorded (latencies come from
  * them); only a traced run also tags Spark jobs with the innermost open
  * span, through the `perfbench.span` local property that the jobs'
  * JobStart events carry (streaming queries inherit it at `start()`).
  * Times are epoch milliseconds with sub-millisecond resolution, on the
  * clock Spark stamps job events with.
  */
final class Tracer(sc: SparkContext) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  var tagJobs = false

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def open(name: String): Span = {
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), nowMs)
    spans += s
    stack = s :: stack
    if (tagJobs) sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    s
  }

  def close(s: Span): Unit = {
    require(stack.headOption.contains(s), s"span ${s.name} closed out of order")
    s.endMs = nowMs
    stack = stack.tail
    if (tagJobs) sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.id.toString).orNull)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Task-metric totals of one job, split by shuffle-map and result tasks. */
final class JobRec(val id: Int, val span: Int, val file: String, val method: String, val startMs: Long) {
  var endMs: Long = -1L
  var mapTaskMs, resultTaskMs, deserMs, gcMs, inputBytes, shuffleReadBytes,
      shuffleWriteBytes, outputBytes, outputRecords: Long = 0L
  def taskMs: Long = mapTaskMs + resultTaskMs
}

/** Assigns every job and its task metrics to the span that submitted it and
  * to its call-site file (the line is dropped so edits that move code do
  * not rename a layer).
  */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val site = """^(\S+) at ([^:]+)(?::\d+)?$""".r
  @volatile private var marker = ""

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).map(_.toInt).getOrElse(-1)
    val name = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val (method, file) = name match {
      case site(m, f) => (m, f)
      case other      => ("", other)
    }
    jobs(e.jobId) = new JobRec(e.jobId, span, file, method, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    props.flatMap(p => Option(p.getProperty(JobListener.MarkerKey))).foreach(m => marker = m)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid) if m != null) {
      if (e.taskType == "ShuffleMapTask") j.mapTaskMs += m.executorRunTime
      else j.resultTaskMs += m.executorRunTime
      j.deserMs += m.executorDeserializeTime
      j.gcMs += m.jvmGCTime
      j.inputBytes += m.inputMetrics.bytesRead
      j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.outputBytes += m.outputMetrics.bytesWritten
      j.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  /** Jobs seen so far (call after [[drain]]). */
  def snapshot(): Seq[JobRec] = synchronized(jobs.values.toList)

  /** Run a marker job and wait until its start and end were delivered:
    * the listener queue is ordered, so every earlier event has been too.
    */
  def drain(sc: SparkContext): Unit = {
    val token = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(JobListener.MarkerKey, token)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(JobListener.MarkerKey, null)
    val deadline = System.nanoTime() + 30000000000L
    def done = synchronized(marker == token && jobs.values.forall(_.endMs >= 0))
    while (!done && System.nanoTime() < deadline) Thread.sleep(5)
    require(done, "the Spark listener queue did not drain within 30 s")
  }
}

object JobListener {
  val MarkerKey = "perfbench.marker"
}

/** Trigger progress of the streaming queries (durations per phase). */
final class ProgressListener extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer[Map[String, Long]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    import scala.jdk.CollectionConverters._
    if (e.progress.numInputRows > 0)
      progress += e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
  }
  def count: Int = synchronized(progress.size)
  def snapshot(): Seq[Map[String, Long]] = synchronized(progress.toList)

  def await(n: Int): Unit = {
    val deadline = System.nanoTime() + 30000000000L
    while (count < n && System.nanoTime() < deadline) Thread.sleep(5)
    require(count >= n, s"saw $count of $n streaming progress events within 30 s")
  }
}

/** Calls, time and commit timestamps of the commit stores of a run. */
final class StoreStats(tracer: Tracer) {
  val calls = mutable.Map[String, Long]().withDefaultValue(0L)
  val ms = mutable.Map[String, Double]().withDefaultValue(0.0)
  /** Epoch ms at which each commit create started. */
  val creates = mutable.ArrayBuffer[Double]()
  var enabled = true

  def time[T](op: String)(f: => T): T = {
    val t0 = tracer.nowMs
    val r = f
    val t1 = tracer.nowMs
    synchronized {
      if (enabled) {
        calls(op) += 1; ms(op) += t1 - t0
        if (op == "create") creates += t0
      }
    }
    r
  }
}

/** Timing wrapper over a table's commit store (the public
  * `LakeTable(commitStore = ...)` seam).
  */
final class TimedCommitStore(inner: CommitStore, stats: StoreStats) extends CommitStore {
  override def listNames(): Seq[String] = stats.time("list")(inner.listNames())
  override def read(name: String): String = stats.time("read")(inner.read(name))
  override def create(name: String, content: String): Unit = stats.time("create")(inner.create(name, content))
  override def replace(name: String, content: String): Unit = stats.time("replace")(inner.replace(name, content))
  override def delete(name: String): Unit = stats.time("delete")(inner.delete(name))
}
