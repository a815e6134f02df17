package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.merge.CdcApply
import graft.streaming.CdcPipeline
import graft.table.{FileCommitStore, LakeTable, MaterializedView}

/** What a run hands every workload: the session, the span recorder and,
  * in a traced run, the commit-store statistics.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val store: Option[StoreStats]) {
  def table(root: Path, mergeOnRead: Boolean = false, autoCompactDepth: Int = 0,
      keyCols: Seq[String] = Seq("repo", "path")): LakeTable =
    new LakeTable(root.toString, numBuckets = Settings.NumBuckets, keyCols = keyCols,
      mergeOnRead = mergeOnRead, autoCompactDepth = autoCompactDepth,
      commitStore = store.map(s => new TimedCommitStore(new FileCommitStore(root.resolve("_commits")), s)))

  def timed[T](name: String)(f: => T): (T, Double) = {
    val s = tracer.open(name)
    val r = try f finally tracer.close(s)
    (r, s.wallMs)
  }
}

/** Measurements of one timed window. Operations are the engine calls the
  * client makes; a call that throws or returns a wrong output is failed.
  */
final class Window {
  var events = 0L
  var applyMs = 0.0
  var winners = 0L
  val batchMs = mutable.ArrayBuffer[Double]()
  val lookupMs = mutable.ArrayBuffer[Double]()
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  var startMs, endMs = 0.0

  def record(problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) { failed += 1; errors ++= problems }
  }
}

/** One prepared workload instance: fresh tables over staged inputs. */
trait Instance {
  /** Untimed work before the window, so it starts with code generated and
    * compiled: by default one iteration.
    */
  def warmup(w: Window): Unit = step(w)
  def hasNext: Boolean
  /** One closed-loop iteration: the writes, then the point lookups. */
  def step(w: Window): Unit
  /** Bytes under the measured table's root. */
  def tableBytes: Long
  /** The table the window writes. */
  def table: LakeTable
  /** Full output checks after the window. */
  def finish(): Seq[String]
}

trait Workload {
  def name: String
  /** Input shape, recorded in every run's output. */
  def shape: String
  /** Generate the inputs from the seed (driver memory; not timed). */
  def prepare(seed: Long): Unit
  /** Write the inputs as parquet under `staged` (once per phase; not timed). */
  def stage(spark: SparkSession, staged: Path): Unit
  /** Bring fresh tables under `dir` to the state the timed window starts
    * from, reading the staged inputs (timed: `setup_s`).
    */
  def setup(ctx: Ctx, staged: Path, dir: Path): Instance
}

object Workloads {
  val all: Seq[Workload] = Seq(new IncrementalCow, new StreamMorViews)

  val LookupKeys = 64

  /** 64 lookup keys: `fromBatch` keys the batch touched, the rest drawn
    * over the whole key space, plus 8 keys that never exist.
    */
  def lookupKeys(rng: java.util.SplittableRandom, gen: Gen, batch: Array[Ev], fromBatch: Int): Seq[Int] = {
    val touched = batch.iterator.map(_.key).distinct.take(fromBatch).toSeq
    val absent = (0 until 8).map(i => gen.absentKey(rng.nextInt(1000) * 8 + i))
    val rest = Iterator.continually(rng.nextInt(gen.numKeys)).filterNot(touched.contains)
      .distinct.take(LookupKeys - touched.size - absent.size).toSeq
    touched ++ rest ++ absent
  }

  def keyTuple(k: Int, hotKeys: Int): Seq[Any] = Seq(Gen.repo(k, hotKeys), Gen.path(k))

  /** Timed point lookup of `keys`; checked against the oracle. Returns the rows. */
  def lookup(ctx: Ctx, w: Window, table: LakeTable, keys: Seq[Int], hotKeys: Int,
      oracle: Oracle): Set[Check.LookupRow] = {
    val (rows, ms) = ctx.timed("table.lookup") {
      Check.lookupRows(table.lookupMany(ctx.spark, keys.map(keyTuple(_, hotKeys))))
    }
    w.lookupMs += ms
    w.record(Check.lookup(rows, keys, oracle))
    rows
  }

  /** Bytes of the distinct files under `root` (hard links count once). */
  def bytesUnder(root: Path): Long = {
    if (!Files.exists(root)) return 0L
    val seen = mutable.Set[Any]()
    val s = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map { p =>
        val a = Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
        if (a.isRegularFile && seen.add(Option(a.fileKey()).getOrElse(p))) a.size else 0L
      }.sum
    } finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    } finally s.close()
  }
}

/** Shared shape of the workloads: a preloaded state of `State` keys, then
  * batches of `Batch` events over a key space 5% larger (so creates still
  * happen), all staged before the window.
  */
abstract class Incremental extends Workload {
  protected val State: Int
  protected val Batch: Int
  protected val HotShare: Double
  protected val MaxBatches = 30
  protected val HotKeys = 100
  protected var seed = 0L
  protected var gen: Gen = _
  protected var state: Array[Ev] = _
  protected var batches: IndexedSeq[Array[Ev]] = _

  def prepare(seed: Long): Unit = {
    this.seed = seed
    gen = new Gen(seed, State + State / 20, HotKeys, HotShare)
    state = gen.snapshot(State)
    batches = IndexedSeq.fill(MaxBatches)(gen.events(Batch))
  }

  protected def freshOracle(): Oracle = {
    val o = new Oracle(seed, gen.numKeys, HotKeys)
    o(state)
    o
  }
}

/** State ≫ batch: many small `applyBatch` calls on a preloaded
  * copy-on-write table under hot-key skew; a 64-key lookup after each and a
  * converged read-back of the whole table after every fourth.
  */
final class IncrementalCow extends Incremental {
  val name = "incremental_cow"
  protected val State = 16000
  protected val Batch = 600
  protected val HotShare = 0.5
  private val ReadBackEvery = 4
  val shape = s"$State-key preloaded copy-on-write state, batches of $Batch events " +
    s"(${(HotShare * 100).toInt}% on $HotKeys hot keys), one 64-key lookup after each batch, " +
    s"a converged read-back after every ${ReadBackEvery}th"

  def stage(spark: SparkSession, staged: Path): Unit = {
    Gen.stageFlat(spark, seed, HotKeys, Seq(state), staged.resolve("state").toString)
    Gen.stageFlat(spark, seed, HotKeys, batches, staged.resolve("batches").toString)
  }

  def setup(ctx: Ctx, staged: Path, dir: Path): Instance = {
    val cow = ctx.table(dir.resolve("table"))
    val read = (p: String) => ctx.spark.read.schema(Gen.flatSchema).parquet(p)
    val r0 = CdcApply.applyBatch(ctx.spark, cow, read(staged.resolve("state/b=0").toString), batchId = 0L)
    require(r0.committed, "preload did not commit")
    val oracle = freshOracle()
    val rng = new java.util.SplittableRandom(seed + 1)
    new Instance {
      private var i = 0
      private var lastLookup: (Seq[Int], Set[Check.LookupRow]) = (Nil, Set.empty)
      val table = cow
      def hasNext = i < MaxBatches
      override def warmup(w: Window): Unit = (0 until 3).foreach(_ => step(w))

      def step(w: Window): Unit = {
        val (r, ms) = ctx.timed("merge.apply") {
          CdcApply.applyBatch(ctx.spark, table, read(staged.resolve(s"batches/b=$i").toString), batchId = i + 1L)
        }
        oracle(batches(i))
        w.record(Seq(
          Option.when(!r.committed)(s"apply: batch $i did not commit (${r.reason})"),
          Option.when(r.eventsIn != Batch)(s"apply: batch $i read ${r.eventsIn} events")).flatten)
        w.batchMs += ms
        w.applyMs += ms
        w.events += Batch
        w.winners += r.winners
        val keys = Workloads.lookupKeys(rng, gen, batches(i), 40)
        lastLookup = (keys, Workloads.lookup(ctx, w, table, keys, HotKeys, oracle))
        i += 1
        if (i % ReadBackEvery == 0) {
          val (n, _) = ctx.timed("table.snapshot_read")(table.snapshot(ctx.spark).map(_.count()).getOrElse(0L))
          w.record(Option.when(n != oracle.liveCount)(s"read-back: $n live rows, oracle has ${oracle.liveCount}").toSeq)
        }
      }

      def tableBytes: Long = Workloads.bytesUnder(dir.resolve("table"))

      def finish(): Seq[String] =
        Check.state(ctx.spark, table, oracle) ++
          Check.lookupVsSnapshot(ctx.spark, table, lastLookup._2,
            lastLookup._1.map(k => (Gen.repo(k, HotKeys), Gen.path(k))))
    }
  }
}

/** Reads beside writes: each round lands one envelope file, drains it with
  * `CdcPipeline.start` from the same checkpoint into a merge-on-read table
  * with depth-triggered compaction, maintains a group-by-repo view, then
  * runs three 64-key lookups. Every `CompactDepth`-th round compacts every
  * bucket, so one iteration is a whole compaction cycle of `CompactDepth`
  * rounds: a window always holds whole cycles, and its rates and medians do
  * not depend on where in a cycle the deadline fell.
  */
final class StreamMorViews extends Incremental {
  val name = "stream_mor_views"
  protected val State = 8000
  protected val Batch = 400
  protected val HotShare = 0.1
  override protected val MaxBatches = 16
  private val CompactDepth = 2
  private val Lookups = 3
  val shape = s"$State-key merge-on-read state (autoCompactDepth $CompactDepth) loaded through the stream, " +
    s"rounds of $Batch envelope events, group-by-repo view, $Lookups lookups of 64 keys per round"

  def stage(spark: SparkSession, staged: Path): Unit =
    Gen.stageEnvelopes(spark, seed, HotKeys, state +: batches, staged.toString)

  def setup(ctx: Ctx, staged: Path, dir: Path): Instance = {
    val input = Files.createDirectories(dir.resolve("input"))
    val checkpoint = dir.resolve("checkpoint").toString
    val mor = ctx.table(dir.resolve("table"), mergeOnRead = true, autoCompactDepth = CompactDepth)
    val view = MaterializedView.DerivedView(ctx.table(dir.resolve("view"), keyCols = Seq("repo")),
      Seq("repo"), length(col("content")), "total_chars")

    // Landing = one hard link into the watched directory: the file appears
    // complete and at once, like an atomic rename.
    def land(b: Int): Unit = {
      val files = Files.list(staged.resolve(s"b=$b"))
      try {
        import scala.jdk.CollectionConverters._
        files.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).foreach { f =>
          Files.createLink(input.resolve(f"r$b%05d-${f.getFileName}"), f)
        }
      } finally files.close()
    }
    def drain(): Unit =
      CdcPipeline.start(ctx.spark, input.toString, checkpoint, mor).awaitTermination()

    land(0)
    drain()
    MaterializedView.maintain(ctx.spark, mor, view)
    val oracle = freshOracle()
    val rng = new java.util.SplittableRandom(seed + 1)
    new Instance {
      private var i = 0
      private var lastLookup: (Seq[Int], Set[Check.LookupRow]) = (Nil, Set.empty)
      val table = mor

      def hasNext = i + CompactDepth <= MaxBatches
      // Every set-up already ran a round's writes; the lookups are new.
      override def warmup(w: Window): Unit = lookups(w, batches(0))

      def step(w: Window): Unit = (0 until CompactDepth).foreach(_ => round(w))

      private def round(w: Window): Unit = {
        val round = ctx.tracer.open("streaming.round")
        try {
          land(i + 1)
          ctx.timed("streaming.start")(drain())
          ctx.timed("table.view_maintain")(MaterializedView.maintain(ctx.spark, table, view))
        } finally ctx.tracer.close(round)
        val batch = batches(i)
        i += 1
        oracle(batch)
        w.batchMs += round.wallMs
        w.applyMs += round.wallMs
        w.events += Batch
        // A merge-on-read apply appends one row per key the batch touched.
        w.winners += batch.iterator.map(_.key).distinct.size
        lookups(w, batch)
      }

      private def lookups(w: Window, batch: Array[Ev]): Unit = (0 until Lookups).foreach { _ =>
        val keys = Workloads.lookupKeys(rng, gen, batch, 24)
        lastLookup = (keys, Workloads.lookup(ctx, w, table, keys, HotKeys, oracle))
      }

      def tableBytes: Long = Workloads.bytesUnder(dir.resolve("table"))

      def finish(): Seq[String] =
        Check.state(ctx.spark, table, oracle) ++
          Check.view(ctx.spark, table, view.table, oracle) ++
          Check.lookupVsSnapshot(ctx.spark, table, lastLookup._2,
            lastLookup._1.map(k => (Gen.repo(k, HotKeys), Gen.path(k))))
    }
  }
}
