package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

object Json {
  private val mapper = new ObjectMapper()

  /** The result line: `{"correct", "attempted", "failed", "metrics"}`. */
  def result(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, Double, String)]): String = {
    val o = mapper.createObjectNode()
    o.put("correct", correct)
    o.put("attempted", attempted)
    o.put("failed", failed)
    val m = o.putObject("metrics")
    metrics.foreach { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is not a number")
      m.putObject(n).put("value", v).put("unit", u)
    }
    mapper.writeValueAsString(o)
  }

  def node(): ObjectNode = mapper.createObjectNode()
  def write(p: Path, o: ObjectNode): Unit = {
    Files.createDirectories(p.getParent)
    mapper.writerWithDefaultPrettyPrinter().writeValue(p.toFile, o)
  }
}

/** Per-layer attribution of a traced window.
  *
  * Each job is attributed to the innermost span that submitted it. Inside a
  * batch apply (a `merge.apply` span, or the `streaming.start` span whose
  * micro-batch applies the batch) the commit-store creates of the span split
  * the jobs into layers (call sites cannot: every job of a streaming
  * micro-batch carries the query's `start()` call site):
  *
  *  - before the batch's commit: the stats/fence pass, and the merge write
  *    (the job with output; its shuffle-map tasks are the LWW reduce
  *    exchange, its result tasks the state read + join + bucket write);
  *  - between the commit and the span's last create (a compaction commit):
  *    maintenance;
  *  - after the last create: the applied-winners count, and the `_metrics`
  *    side feed (the job with output).
  *
  * Every other job belongs to its span's layer. A top-level span's wall is its
  * jobs' time (overlaps counted once) plus its driver gap, so the layer
  * table sums to the window wall less the benchmark client's own time.
  */
final class Report(val metrics: Seq[(String, Double, String)], val layers: Seq[(String, Double)],
    val wallMs: Double) {
  val layerSumMs: Double = layers.map(_._2).sum
  val balanced: Boolean = math.abs(layerSumMs / wallMs - 1) <= 0.10

  def print(): Unit = {
    println(f"trace: window wall $wallMs%.1f ms; layer self times + driver gaps $layerSumMs%.1f ms " +
      f"(${100 * layerSumMs / wallMs}%.1f%%)")
    layers.sortBy(-_._2).foreach { case (l, ms) => println(f"  layer $l%-44s $ms%12.1f ms") }
  }

  def write(p: Path, tracer: Tracer, jobs: Seq[JobRec]): Unit = {
    val o = Json.node()
    val sp = o.putArray("spans")
    tracer.spans.foreach { s =>
      sp.addObject().put("id", s.id).put("name", s.name).put("parent", s.parent)
        .put("start_ms", s.startMs).put("end_ms", s.endMs)
    }
    val js = o.putArray("jobs")
    jobs.foreach { j =>
      js.addObject().put("id", j.id).put("span", j.span).put("file", j.file).put("method", j.method)
        .put("start_ms", j.startMs).put("end_ms", j.endMs).put("map_task_ms", j.mapTaskMs)
        .put("result_task_ms", j.resultTaskMs).put("deser_ms", j.deserMs).put("gc_ms", j.gcMs)
        .put("input_bytes", j.inputBytes).put("shuffle_read_bytes", j.shuffleReadBytes)
        .put("shuffle_write_bytes", j.shuffleWriteBytes).put("output_bytes", j.outputBytes)
        .put("output_records", j.outputRecords)
    }
    val ls = o.putObject("layers_ms")
    layers.foreach { case (l, ms) => ls.put(l, ms) }
    val ms = o.putObject("metrics")
    metrics.foreach { case (n, v, u) => ms.putObject(n).put("value", v).put("unit", u) }
    Json.write(p, o)
  }
}

object Report {
  /** Spans whose jobs' task metrics are reported per call. */
  val SpanNames = Seq("merge.apply", "streaming.start", "table.view_maintain", "table.lookup", "table.snapshot_read")

  private def per(total: Double, n: Int): Double = if (n == 0) 0.0 else total / n

  /** Least-squares slope of `ys` against their index. */
  def slope(ys: Seq[Double]): Double = {
    val n = ys.size
    if (n < 2) 0.0
    else {
      val mx = (n - 1) / 2.0
      val my = ys.sum / n
      val num = ys.indices.map(i => (i - mx) * (ys(i) - my)).sum
      val den = ys.indices.map(i => (i - mx) * (i - mx)).sum
      num / den
    }
  }

  def perLayer(wl: Workload, tracer: Tracer, tw: Main.Phase, jobs: Seq[JobRec], stats: StoreStats,
      progress: Seq[Map[String, Long]], untracedEps: Double): Report = {
    val w = tw.w
    val byId = tracer.spans.map(s => s.id -> s).toMap
    val spans = tracer.spans.filter(s => s.startMs >= w.startMs && s.endMs <= w.endMs).toSeq
    val inWindow = spans.map(_.id).toSet
    def chain(id: Int): List[Span] =
      Iterator.iterate(byId.get(id))(_.flatMap(s => byId.get(s.parent))).takeWhile(_.isDefined).map(_.get).toList
    val wjobs = jobs.filter(j => inWindow.contains(j.span) && j.endMs >= 0)
    val chains = wjobs.map(j => j -> chain(j.span)).toMap
    val createStarts = stats.creates.sorted
    def isUnit(s: Span) = s.name == "merge.apply" || s.name == "streaming.start"

    val layerOf: Map[JobRec, String] = wjobs.map { j =>
      val c = chains(j)
      j -> (c.find(isUnit) match {
        case Some(u) =>
          val cs = createStarts.filter(t => t >= u.startMs && t <= u.endMs).map(math.floor)
          if (cs.isEmpty || j.startMs < cs.head) { if (j.outputBytes > 0) "merge.write" else "merge.stats_job" }
          else if (j.startMs < cs.last) "merge.maintenance"
          else if (j.outputBytes > 0) "merge.side_feed"
          else "merge.winners_job"
        case None => s"${c.head.name}.job"
      })
    }.toMap

    /** Job time inside `s` per layer, overlapping jobs counted once. */
    def jobTime(s: Span): Map[String, Double] = {
      val mine = wjobs.filter(j => chains(j).exists(_.id == s.id)).sortBy(_.startMs)
      var covered = s.startMs
      val out = mutable.Map[String, Double]().withDefaultValue(0.0)
      mine.foreach { j =>
        val a = math.max(j.startMs.toDouble, covered)
        val b = math.min(j.endMs.toDouble, s.endMs)
        if (b > a) out(layerOf(j)) += b - a
        covered = math.max(covered, b)
      }
      out.toMap
    }

    val layers = mutable.Map[String, Double]().withDefaultValue(0.0)
    spans.filter(s => s.parent < 0 || !inWindow.contains(s.parent)).foreach { top =>
      val jt = jobTime(top)
      jt.foreach { case (l, ms) => layers(l) += ms }
      layers(s"${top.name}.driver_gap") += top.wallMs - jt.values.sum
    }
    val wallMs = w.endMs - w.startMs

    val batches = w.batchMs.size
    def named(n: String) = spans.filter(_.name == n)
    def layerMs(l: String) = per(layers.getOrElse(l, 0.0), batches)
    val write = wjobs.filter(layerOf(_) == "merge.write")
    def gapOf(n: String) = per(named(n).map(s => s.wallMs - jobTime(s).values.sum).sum, named(n).size)
    def jobsOf(n: String) = wjobs.filter(j => chains(j).exists(_.name == n))
    val units = spans.filter(isUnit)
    val compactions = units.map(u => createStarts.count(t => t >= u.startMs && t <= u.endMs) - 1).filter(_ > 0).sum
    // Deepest file stack any commit of the window left (maintenance may
    // have flattened it again by the window's end).
    val depth = tw.inst.table.commits().filter(_.tsMs >= w.startMs)
      .flatMap(ci => tw.inst.table.stackDepths(ci).values).maxOption.getOrElse(0)
    val trig = progress.map(_.getOrElse("triggerExecution", 0L)).sum.toDouble
    def prog(k: String) = per(progress.map(_.getOrElse(k, 0L)).sum.toDouble, batches)
    val rounds = named("streaming.start")
    val tracedEps = w.events / (w.applyMs / 1000)

    val m = mutable.ArrayBuffer[(String, Double, String)](
      ("merge.apply_ms", per(named("merge.apply").map(_.wallMs).sum, named("merge.apply").size), "ms/batch"),
      ("merge.apply.driver_gap_ms", gapOf("merge.apply"), "ms/batch"),
      ("merge.stats_job_ms", layerMs("merge.stats_job"), "ms/batch"),
      ("merge.reduce_map_task_ms", per(write.map(_.mapTaskMs).sum.toDouble, batches), "ms/batch"),
      ("merge.shuffle_write_bytes", per(write.map(_.shuffleWriteBytes).sum.toDouble, batches), "B/batch"),
      ("merge.write_task_ms", per(write.map(_.resultTaskMs).sum.toDouble, batches), "ms/batch"),
      ("merge.output_bytes", per(write.map(_.outputBytes).sum.toDouble, batches), "B/batch"),
      ("merge.rows_rewritten_per_winner", if (w.winners <= 0) 0.0 else write.map(_.outputRecords).sum.toDouble / w.winners, "ratio"),
      ("merge.winners_job_ms", layerMs("merge.winners_job"), "ms/batch"),
      ("merge.side_feed_ms", layerMs("merge.side_feed"), "ms/batch"),
      ("merge.maintenance_ms", layerMs("merge.maintenance"), "ms/batch"),
      ("table.compaction_commits", per(compactions.toDouble, batches), "1/batch"),
      ("table.files_per_bucket_max", depth.toDouble, "count"))
    Seq("list", "read", "create").foreach { op =>
      m += ((s"commit_store.${op}_calls", per(stats.calls(op).toDouble, batches), "1/batch"))
      m += ((s"commit_store.${op}_ms", per(stats.ms(op), batches), "ms/batch"))
    }
    m ++= Seq(
      ("table.view_maintain_ms", per(named("table.view_maintain").map(_.wallMs).sum, named("table.view_maintain").size), "ms/call"),
      ("table.view_maintain.job_ms", per(named("table.view_maintain").map(s => jobTime(s).values.sum).sum, named("table.view_maintain").size), "ms/call"),
      ("table.view_maintain.driver_gap_ms", gapOf("table.view_maintain"), "ms/call"),
      ("table.lookup_ms", per(named("table.lookup").map(_.wallMs).sum, named("table.lookup").size), "ms/call"),
      ("table.snapshot_read_ms", per(named("table.snapshot_read").map(_.wallMs).sum, named("table.snapshot_read").size), "ms/call"),
      ("streaming.add_batch_ms", prog("addBatch"), "ms/round"),
      ("streaming.query_planning_ms", prog("queryPlanning"), "ms/round"),
      ("streaming.wal_commit_ms", prog("walCommit"), "ms/round"),
      ("streaming.latest_offset_ms", prog("latestOffset"), "ms/round"),
      ("streaming.get_batch_ms", prog("getBatch"), "ms/round"),
      ("streaming.start_overhead_ms", per(rounds.map(_.wallMs).sum - trig, rounds.size), "ms/round"),
      ("streaming.round_latency_slope_ms", if (wl.isInstanceOf[StreamMorViews]) slope(w.batchMs.toSeq) else 0.0, "ms/round"))
    SpanNames.foreach { n =>
      val js = jobsOf(n)
      val c = named(n).size
      m += ((s"$n.task_ms", per(js.map(_.taskMs).sum.toDouble, c), "ms/call"))
      m += ((s"$n.task_deser_ms", per(js.map(_.deserMs).sum.toDouble, c), "ms/call"))
      m += ((s"$n.gc_ms", per(js.map(_.gcMs).sum.toDouble, c), "ms/call"))
      m += ((s"$n.input_bytes", per(js.map(_.inputBytes).sum.toDouble, c), "B/call"))
      m += ((s"$n.shuffle_read_bytes", per(js.map(_.shuffleReadBytes).sum.toDouble, c), "B/call"))
    }
    val layerSum = layers.values.sum
    m ++= Seq(
      ("trace.layer_sum_share", layerSum / wallMs, "ratio"),
      ("trace.overhead_share", untracedEps / tracedEps - 1, "ratio"))
    new Report(m.toSeq, layers.toSeq, wallMs)
  }
}
