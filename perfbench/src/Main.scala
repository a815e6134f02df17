package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Fixed engine settings of every run (also printed by each run). */
object Settings {
  /** LakeTable's default bucket count; also the shuffle partitions, so the
    * merge takes its bucketed-exact reduce path.
    */
  val NumBuckets = 8
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3
  /** Engine API defaults used throughout: `writeMetrics = true`, default
    * `salt`, batch caching and fences.
    */
  def describe(cores: Int): String =
    s"local[$cores], spark.sql.shuffle.partitions=$NumBuckets, numBuckets=$NumBuckets, " +
      "spark.sql.adaptive.enabled=false, writeMetrics=true, salt=1 (default), " +
      "tables and shuffle files under the run's work directory"
}

/** Driver old-generation occupancy after a full collection. */
object Heap {
  private lazy val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala.filter { p =>
    p.getType == MemoryType.HEAP && (p.getName.contains("Old") || p.getName.contains("Tenured"))
  }

  /** Two collections: the first lets Spark's context cleaner drop what
    * the run no longer references, the second measures what is left.
    */
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(20)
    System.gc()
    oldGen.map(_.getCollectionUsage.getUsed).sum / (1024.0 * 1024.0)
  }
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, traceDir: Path, cores: Int, selfTest: Boolean)

object Main {

  def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = m.getOrElse("workload", ""),
      seed = m.getOrElse("seed", "1").toLong,
      seconds = m.getOrElse("seconds", "10").toDouble,
      trace = m.getOrElse("trace", "0") == "1",
      work = Paths.get(need("work")).toAbsolutePath,
      traceDir = Paths.get(m.getOrElse("trace-dir", need("work"))).toAbsolutePath,
      cores = m.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt,
      selfTest = m.get("self-test").contains("1"))
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Settings.NumBuckets)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.work)
    val spark = session(args.cores, args.work)
    val code =
      try {
        if (args.selfTest) SelfTest.run(spark, args.work)
        else run(spark, args)
      } finally spark.stop()
    sys.exit(code)
  }

  /** Result of one phase: set-up(s), warm-up, timed window, final checks. */
  final case class Phase(setupS: Seq[Double], w: Window, inst: Instance, peakMb: Double,
      bytesPerEvent: Double)

  def phase(spark: SparkSession, wl: Workload, ctx: Ctx, dir: Path, reps: Int, seconds: Double,
      traced: Boolean = false, onWindow: Boolean => Unit = _ => ()): Phase = {
    val staged = dir.resolve("staged")
    wl.stage(spark, staged)
    val setupS = mutable.ArrayBuffer[Double]()
    var inst: Instance = null
    (0 until reps).foreach { r =>
      val repDir = dir.resolve(s"setup$r")
      val t0 = System.nanoTime()
      val next = wl.setup(ctx, staged, repDir)
      setupS += (System.nanoTime() - t0) / 1e9
      if (inst != null) Workloads.deleteTree(dir.resolve(s"setup${r - 1}"))
      inst = next
    }
    val warm = new Window
    val tw0 = System.nanoTime()
    inst.warmup(warm)
    require(warm.failed == 0, s"warm-up failed: ${warm.errors.mkString("; ")}")
    System.err.println(f"perfbench: warm-up ${(System.nanoTime() - tw0) / 1e9}%.2f s")

    val w = new Window
    val bytes0 = inst.tableBytes
    var peak = 0.0
    onWindow(true)
    w.startMs = ctx.tracer.nowMs
    val deadline = w.startMs + seconds * 1000
    try {
      // Untraced windows sample the heap after a full collection at every
      // iteration boundary. That is client time outside every span, so a
      // traced window, whose layers must add up to its wall, skips it.
      while (inst.hasNext && ctx.tracer.nowMs < deadline) {
        inst.step(w)
        if (!traced) peak = math.max(peak, Heap.liveMb())
      }
    } catch {
      case e: Exception =>
        w.attempted += 1; w.failed += 1
        w.errors += s"${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    w.endMs = ctx.tracer.nowMs
    onWindow(false)
    val perEvent = (inst.tableBytes - bytes0).toDouble / math.max(1L, w.events)
    val tc0 = System.nanoTime()
    if (w.failed == 0) w.record(inst.finish())
    System.err.println(f"perfbench: window ${(w.endMs - w.startMs) / 1e3}%.2f s, final checks ${(System.nanoTime() - tc0) / 1e9}%.2f s")
    Phase(setupS.toSeq, w, inst, peak, perEvent)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Sample count, median and maximum, plus the highest percentile with at
    * least ten samples beyond it when the window holds more than ten.
    */
  def describe(xs: Seq[Double]): String = {
    val s = xs.sorted
    val n = s.size
    val tail = if (n > 10) f", p${100.0 * (n - 10) / n}%.0f ${s(n - 11)}%.1f ms" else ""
    if (n == 0) "n=0" else f"n=$n, p50 ${median(s)}%.1f ms, max ${s.last}%.1f ms$tail"
  }

  def run(spark: SparkSession, args: Args): Int = {
    val wl = Workloads.all.find(_.name == args.workload).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload '${args.workload}' (one of ${Workloads.all.map(_.name).mkString(", ")})"))
    wl.prepare(args.seed)
    println(s"workload ${wl.name}: ${wl.shape}; seed ${args.seed}")
    println(s"engine settings: ${Settings.describe(args.cores)}")

    val untracedCtx = new Ctx(spark, new Tracer(spark.sparkContext), None)
    val plain = phase(spark, wl, untracedCtx, args.work.resolve("untraced"),
      if (args.trace) 1 else Settings.SetupReps, args.seconds)
    Workloads.deleteTree(args.work.resolve("untraced"))
    val w = plain.w
    val eps = w.events / (w.applyMs / 1000)

    val traceErrors = mutable.ArrayBuffer[String]()
    val (metrics, correct, attempted, failed) =
      if (!args.trace) {
        println(s"batch latency: ${describe(w.batchMs.toSeq)}; lookup latency: ${describe(w.lookupMs.toSeq)}")
        println(s"setup_s samples: ${plain.setupS.map(s => f"$s%.3f").mkString(", ")}")
        val m = Seq(
          ("setup_s", median(plain.setupS), "s"),
          ("events_per_s", eps, "1/s"),
          ("batch_latency_p50_ms", median(w.batchMs.toSeq), "ms"),
          ("lookup_latency_p50_ms", median(w.lookupMs.toSeq), "ms"),
          ("bytes_written_per_event", plain.bytesPerEvent, "B"),
          ("peak_heap_mb", plain.peakMb, "MB"))
        (m, w.failed == 0, w.attempted, w.failed)
      } else {
        val tracer = new Tracer(spark.sparkContext)
        tracer.tagJobs = true
        val stats = new StoreStats(tracer)
        stats.enabled = false
        val ctx = new Ctx(spark, tracer, Some(stats))
        val jobs = new JobListener
        val progress = new ProgressListener
        val tw = phase(spark, wl, ctx, args.work.resolve("traced"), 1, args.seconds, traced = true, on => {
          stats.enabled = on
          if (on) { spark.sparkContext.addSparkListener(jobs); spark.streams.addListener(progress) }
        })
        jobs.drain(spark.sparkContext)
        val rounds = if (wl.isInstanceOf[StreamMorViews]) tw.w.batchMs.size else 0
        progress.await(rounds)
        spark.sparkContext.removeSparkListener(jobs)
        spark.streams.removeListener(progress)
        // A second untraced window after the traced one: the traced window
        // runs in a warmer JVM than the first, so the overhead compares it
        // with the mean of the windows before and after it.
        val after = phase(spark, wl, untracedCtx, args.work.resolve("untraced-after"), 1, args.seconds)
        Workloads.deleteTree(args.work.resolve("untraced-after"))
        val afterEps = after.w.events / (after.w.applyMs / 1000)
        val rep = Report.perLayer(wl, tracer, tw, jobs.snapshot(), stats, progress.snapshot().take(rounds),
          untracedEps = (eps + afterEps) / 2)
        rep.print()
        rep.write(args.traceDir.resolve(s"trace-${wl.name}-seed${args.seed}.json"), tracer, jobs.snapshot())
        traceErrors ++= tw.w.errors ++ after.w.errors
        val ok = tw.w.failed == 0 && w.failed == 0 && after.w.failed == 0 && rep.balanced
        if (!rep.balanced) println("trace: layer times plus driver gaps are not within 10% of the window wall")
        (rep.metrics, ok, w.attempted + tw.w.attempted + after.w.attempted,
          w.failed + tw.w.failed + after.w.failed)
      }
    (plain.w.errors ++ traceErrors).take(20).foreach(e => println(s"check failed: $e"))
    metrics.foreach { case (n, v, u) => println(f"$n%-44s $v%14.4f $u") }
    println(Json.result(correct, attempted, failed, metrics))
    0
  }
}
