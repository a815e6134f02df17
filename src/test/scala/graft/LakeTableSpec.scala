package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.merge.CdcApply
import graft.streaming.CdcPipeline
import graft.table.{LakeTable, MaterializedView, SchemaEvolution}

/** End-to-end engine specs: replay convergence, exactly-once fencing,
  * out-of-order arrival across partitions, schema evolution, metrics —
  * mirroring the reference's BinlogConnectorIT / BinlogRestartIT /
  * incremental-snapshot scenarios (SURVEY.md §5).
  */
class LakeTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("laketable").toString

  private def foldOracle(events: Seq[FlatEvent]): Map[(String, String), FlatEvent] =
    events.sortBy(e => (e.commit, e.lsn)).foldLeft(Map.empty[(String, String), FlatEvent]) {
      case (state, e) => e.op match {
        case "d" => state - ((e.repo, e.path))
        case "t" => Map.empty
        case _   => state + ((e.repo, e.path) -> e)
      }
    }

  private def tableState(table: LakeTable): Map[(String, String), FlatEvent] =
    table.snapshot(spark).map(_.as[FlatEvent].collect()).getOrElse(Array.empty)
      .map(e => (e.repo, e.path) -> e).toMap

  private def randomLog(seed: Int, n: Int, withTruncate: Boolean = false): Seq[FlatEvent] = {
    val rnd = new scala.util.Random(seed)
    val keys = for (r <- 0 until 4; p <- 0 until 8) yield (s"repo$r", s"p$p.txt")
    (1 to n).map { i =>
      val op =
        if (withTruncate && rnd.nextInt(60) == 0) "t"
        else Seq("c", "u", "u", "r", "d")(rnd.nextInt(5))
      FlatEvent.mk(keys(rnd.nextInt(keys.size)), i.toLong, op)
    }
  }

  /** Reduce `batch` into the bucket layout and merge it against the
    * bucketed `state` read, asserting for both reduce plans that the state
    * scan reports the bucket layout and only the batch side shuffles: one
    * exchange in the exact plan (AQE off, shuffle partitions ==
    * numBuckets), reduce + repartition in the fallback. Returns the merge
    * planned in the session's own regime.
    */
  private def mergeOnlyBatchShuffles(
      state: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame,
      schema: StructType,
      numBuckets: Int): org.apache.spark.sql.DataFrame = {
    def merge() = graft.operators.Lww.mergeCoPartitioned(state,
      graft.operators.Lww.reduceBucketed(SchemaEvolution.align(batch, schema), Seq("repo", "path"), numBuckets))
    for ((conf, exchanges) <- Seq(exactReduceConf(numBuckets) -> 1, Nil -> 2)) withConf(conf: _*) {
      val plan = merge().queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"state scan must report the bucket layout:\n$plan")
      assert("Exchange".r.findAllMatchIn(plan).size === exchanges,
        s"only the batch reduce shuffles; state must not re-shuffle:\n$plan")
    }
    merge()
  }

  test("replay converges to the fold oracle across microbatches") {
    val log = randomLog(1, 400)
    val table = new LakeTable(tmp(), numBuckets = 8)
    val results = CdcPipeline.replay(spark, log.toDF(), table, numBatches = 5)
    assert(results.forall(_.committed))
    assert(tableState(table) === foldOracle(log))
  }

  test("replaying the full log again is a pure no-op (watermark + batchId fences)") {
    val log = randomLog(2, 300)
    val table = new LakeTable(tmp(), numBuckets = 8)
    CdcPipeline.replay(spark, log.toDF(), table, numBatches = 3)
    val v1 = table.lastCommit().get
    // same batch ids replayed → batchId fence
    val r2 = CdcPipeline.replay(spark, log.toDF(), table, numBatches = 3)
    assert(r2.forall(r => !r.committed && r.reason == "batchId-fenced"))
    // fresh batch ids but already-seen offsets → watermark fence (metadata-only commits)
    val r3 = CdcPipeline.replay(spark, log.toDF(), table, numBatches = 3, startBatchId = 100)
    assert(r3.forall(r => r.committed && r.winners == 0))
    assert(tableState(table) === foldOracle(log))
    assert(table.lastCommit().get.files.toSet === v1.files.toSet, "no data rewritten on replay")
  }

  test("out-of-order arrival across partitions converges (per-partition order kept)") {
    val log = randomLog(3, 300)
    val table = new LakeTable(tmp(), numBuckets = 8)
    // deliver all of partitions {2,3} first, then {0,1} — cross-partition
    // disorder with per-partition order preserved
    val late = log.filter(e => e.part <= 1)
    val early = log.filter(e => e.part >= 2)
    CdcApply.applyBatch(spark, table, early.toDF(), batchId = 0)
    CdcApply.applyBatch(spark, table, late.toDF(), batchId = 1)
    assert(tableState(table) === foldOracle(log))
  }

  test("a delete tombstone fences older late events from other partitions") {
    val k = ("repoX", "a.txt")
    val create = FlatEvent.mk(k, 10, "c").copy(part = 0)
    val delete = FlatEvent.mk(k, 50, "d").copy(part = 0)
    val staleUpdate = FlatEvent.mk(k, 20, "u").copy(part = 1) // older than the delete
    val table = new LakeTable(tmp(), numBuckets = 4)
    CdcApply.applyBatch(spark, table, Seq(create, delete).toDF(), batchId = 0)
    CdcApply.applyBatch(spark, table, Seq(staleUpdate).toDF(), batchId = 1)
    assert(tableState(table) === Map.empty, "late stale update must not resurrect a deleted key")
  }

  test("truncate is table-scoped and fences later-arriving older events") {
    val log = randomLog(4, 300, withTruncate = true)
    val table = new LakeTable(tmp(), numBuckets = 8)
    CdcPipeline.replay(spark, log.toDF(), table, numBatches = 4)
    assert(tableState(table) === foldOracle(log))
  }

  test("truncate fence pushes a commit lower bound into the MoR state scan") {
    val log = randomLog(4, 300, withTruncate = true)
    val table = new LakeTable(tmp(), numBuckets = 8, mergeOnRead = true)
    CdcPipeline.replay(spark, log.toDF(), table, numBatches = 4)
    assert(tableState(table) === foldOracle(log)) // semantics unchanged
    assert(table.lastCommit().get.fence.isDefined, "log must contain a truncate")
    // the struct fence itself cannot push to parquet; the implied
    // commit >= fence.commit conjunct must reach PushedFilters so files
    // wholly before the truncate are skipped by min/max stats
    val plan = table.snapshot(spark).get.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(commit"),
      s"fence lower bound must reach the scan's pushed filters:\n$plan")
  }

  test("schema evolution: column add then type widen across batches") {
    val table = new LakeTable(tmp(), numBuckets = 4)
    val b0 = Seq(FlatEvent.mk(("r", "a"), 1, "c"), FlatEvent.mk(("r", "b"), 2, "c")).toDF()
    CdcApply.applyBatch(spark, table, b0, batchId = 0)
    // batch 1 adds stars:int
    val b1 = Seq(FlatEvent.mk(("r", "c"), 3, "c")).toDF().withColumn("stars", lit(7))
    CdcApply.applyBatch(spark, table, b1, batchId = 1)
    // batch 2 widens stars to long
    val b2 = Seq(FlatEvent.mk(("r", "a"), 4, "u")).toDF().withColumn("stars", lit(5000000000L))
    CdcApply.applyBatch(spark, table, b2, batchId = 2)
    val snap = table.snapshot(spark).get
    assert(snap.schema("stars").dataType === LongType)
    val rows = snap.select("path", "stars").collect().map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    assert(rows === Map("a" -> 5000000000L, "b" -> null, "c" -> 7L))
  }

  test("incompatible type change is rejected") {
    assertThrows[IllegalArgumentException] {
      SchemaEvolution.reconcile(
        StructType(Seq(StructField("x", LongType))),
        StructType(Seq(StructField("x", BooleanType))), Nil)
    }
  }

  test("metrics table records per-partition lineage") {
    val log = randomLog(5, 200)
    val table = new LakeTable(tmp(), numBuckets = 8)
    CdcPipeline.replay(spark, log.toDF(), table, numBatches = 2)
    val m = table.metrics(spark)
    assert(m.columns.toSet === Set("batchId", "commitVersion", "part", "freshEvents",
      "applied", "dedupDropped", "commitLagMs", "batchWallMs", "events", "quarantined", "fenced"))
    val freshTotal = m.agg(sum("freshEvents")).collect().head.getLong(0)
    assert(freshTotal === log.size)
    assert(m.select("part").distinct().count() === log.map(_.part).distinct.size)
  }

  test("staged file buckets match the key hash (partition-id == bucket contract)") {
    val log = randomLog(7, 300)
    val table = new LakeTable(tmp(), numBuckets = 8)
    CdcPipeline.replay(spark, log.toDF(), table, numBatches = 3)
    val ci = table.lastCommit().get
    ci.files.foreach { f =>
      val rows = spark.read.parquet(s"${table.root}/${f.path}")
        .select(pmod(hash(col("repo"), col("path")), lit(8)).as("b")).distinct()
        .collect().map(_.getInt(0))
      assert(rows.forall(_ === f.bucket), s"file ${f.path} claims bucket ${f.bucket}")
    }
    // every key readable via its own bucket's files only (pruning safety)
    val state = tableState(table)
    state.keys.foreach { case (r, p) => assert(state.contains((r, p))) }
  }

  test("malformed events quarantine to the DLQ; batch keeps going; watermark still advances") {
    val good = Seq(FlatEvent.mk(("r", "a"), 1, "c"), FlatEvent.mk(("r", "b"), 2, "c"))
    val bad = Seq(
      FlatEvent.mk(("r", "c"), 3, "c").copy(path = null),  // null key column
      FlatEvent.mk(("r", "d"), 4, "x"),                    // unknown op
      FlatEvent.mk(("r", "e"), 5, "c").copy(op = null))    // NULL op (isin ⇒ SQL NULL)
    val table = new LakeTable(tmp(), numBuckets = 4)
    val r = CdcApply.applyBatch(spark, table, (good ++ bad).toDF(), batchId = 0)
    assert(r.committed && r.fresh === 2)
    assert(tableState(table).keySet === Set(("r", "a"), ("r", "b")), "bad rows never merge")
    val dlq = table.quarantine(spark).get
    assert(dlq.count() === 3)
    assert(dlq.where(col("op") === "x").count() === 1)
    assert(dlq.where(col("op").isNull).count() === 1, "NULL-op rows must quarantine, not vanish")
    // watermark advanced past the bad rows: replaying them is a no-op
    val r2 = CdcApply.applyBatch(spark, table, bad.toDF(), batchId = 1)
    assert(r2.reason === "metadata-only")
    assert(table.quarantine(spark).get.count() === 3, "no double quarantine")
  }

  test("quarantine is idempotent across a failed commit; legacy flat files still read") {
    val good = Seq(FlatEvent.mk(("r", "a"), 1, "c"), FlatEvent.mk(("r", "b"), 2, "c"))
    val bad = Seq(
      FlatEvent.mk(("r", "c"), 3, "c").copy(path = null),
      FlatEvent.mk(("r", "d"), 4, "x"))
    val root = tmp()
    // a commit backend whose first publish fails, after stage() and the
    // quarantine write already ran
    val failOnce = new graft.table.CommitStore {
      private val files = new graft.table.FileCommitStore(java.nio.file.Paths.get(root, "_commits"))
      private var failed = false
      def listNames(): Seq[String] = files.listNames()
      def read(name: String): String = files.read(name)
      def create(name: String, content: String): Unit =
        if (failed) files.create(name, content)
        else { failed = true; throw new java.io.IOException(s"injected failure publishing $name") }
      def replace(name: String, content: String): Unit = files.replace(name, content)
      def delete(name: String): Unit = files.delete(name)
    }
    val table = new LakeTable(root, numBuckets = 4, commitStore = Some(failOnce))
    intercept[java.io.IOException](CdcApply.applyBatch(spark, table, (good ++ bad).toDF(), batchId = 0))
    assert(table.lastCommit().isEmpty)
    assert(table.quarantine(spark).isEmpty, "an uncommitted apply's rows must stay invisible")
    // the restarted batch passes the batchId fence and applies again
    assert(CdcApply.applyBatch(spark, table, (good ++ bad).toDF(), batchId = 0).committed)
    val dlq = table.quarantine(spark).get
    assert(dlq.count() === bad.size, "each bad row appears once")
    assert(dlq.select("lsn").as[Long].collect().sorted.toSeq === Seq(3L, 4L))

    // an older table's flat `_quarantine` files read beside the per-version dirs
    Seq(FlatEvent.mk(("r", "old"), 0, "x")).toDF().withColumn("__batchId", lit(-1L))
      .write.mode("append").parquet(s"$root/_quarantine")
    val legacy = table.quarantine(spark).get
    assert(legacy.select("lsn").as[Long].collect().sorted.toSeq === Seq(0L, 3L, 4L))
  }

  test("compaction drops retained tombstones, canonicalizes schema, preserves state") {
    val table = new LakeTable(tmp(), numBuckets = 4)
    val b0 = Seq(FlatEvent.mk(("r", "a"), 1, "c"), FlatEvent.mk(("r", "b"), 2, "c"),
      FlatEvent.mk(("r", "b"), 3, "d")).toDF()
    CdcApply.applyBatch(spark, table, b0, batchId = 0)
    // batch 1 evolves the schema (adds stars)
    val b1 = Seq(FlatEvent.mk(("r", "c"), 4, "c")).toDF().withColumn("stars", lit(7))
    CdcApply.applyBatch(spark, table, b1, batchId = 1)
    val before = table.snapshot(spark).get.collect().toSet
    assert(table.snapshotRaw(spark).get.where(col("op") === "d").count() === 1, "tombstone retained")
    val ci = table.compact(spark, tombstoneRetention = Some(graft.table.LogPos("~", Long.MaxValue))).get
    // tombstones gone, live state identical, all files on the current schema
    assert(table.snapshotRaw(spark).get.where(col("op") === "d").count() === 0)
    assert(table.snapshot(spark).get.collect().toSet === before)
    assert(ci.files.forall(_.schemaIdx == ci.schemaIdx))
    // fences carried over: replaying batch 1 is still a no-op
    val r = CdcApply.applyBatch(spark, table, b1, batchId = 1)
    assert(!r.committed && r.reason == "batchId-fenced")
  }

  test("schemaLog records one row per schema change (SchemaHistory analog)") {
    val table = new LakeTable(tmp(), numBuckets = 4)
    CdcApply.applyBatch(spark, table, Seq(FlatEvent.mk(("r", "a"), 1, "c")).toDF(), batchId = 0)
    CdcApply.applyBatch(spark, table,
      Seq(FlatEvent.mk(("r", "b"), 2, "c")).toDF().withColumn("stars", lit(1)), batchId = 1)
    CdcApply.applyBatch(spark, table,
      Seq(FlatEvent.mk(("r", "c"), 3, "c")).toDF().withColumn("stars", lit(2)), batchId = 2)
    val sl = table.schemaLog(spark).collect()
    assert(sl.length === 2, "schema changed at v1 (initial) and v2 (add column) only")
    assert(sl.map(_.getAs[Long]("version")).toSeq === Seq(1L, 2L))
  }

  test("execute-snapshot signal mid-stream: backfill applies, fresher state wins, idempotent") {
    val inDir = tmp(); val ckpt = tmp(); val sigDir = tmp()
    val channel = s"$sigDir/signals.jsonl"
    val table = new LakeTable(tmp(), numBuckets = 8)
    val log = randomLog(8, 200)
    // wave 1: stream half the log
    val (w1, w2) = log.splitAt(100)
    graft.core.Envelope.wrap(w1.toDF()).write.mode("append").parquet(inDir)
    CdcPipeline.start(spark, inDir, ckpt, table, signalChannel = Some(channel)).awaitTermination()
    // ad-hoc snapshot: a never-streamed key (backfill) + a STALE image of a
    // streamed key (commit below its live version — must lose LWW)
    val live = foldOracle(w1).values.maxBy(_.lsn)
    val snapRows = Seq(
      ("repoZ", "backfill.txt", "c0000000001", "scala", "from snapshot"),
      (live.repo, live.path, "c0000000000", "scala", "stale image"))
      .toDF("repo", "path", "commit", "lang", "content")
    val snapPath = s"$sigDir/snap.parquet"
    snapRows.write.parquet(snapPath)
    sources.Signals.send(channel, sources.Signals.SignalRecord("s1", sources.Signals.ExecuteSnapshot, snapPath))
    // wave 2 consumes the signal at its batch boundary
    graft.core.Envelope.wrap(w2.toDF()).write.mode("append").parquet(inDir)
    CdcPipeline.start(spark, inDir, ckpt, table, signalChannel = Some(channel)).awaitTermination()
    val state = tableState(table)
    assert(state.contains(("repoZ", "backfill.txt")), "backfilled key present")
    assert(state.get((live.repo, live.path)).forall(_.content != "stale image"),
      "stale snapshot image must lose LWW to the live row (or its w2 tombstone)")
    val expected = foldOracle(log).keySet + (("repoZ", "backfill.txt"))
    assert(state.keySet === expected)
    // signal marked processed: a third run with nothing new changes nothing
    val files = table.lastCommit().get.files.toSet
    CdcPipeline.start(spark, inDir, ckpt, table, signalChannel = Some(channel)).awaitTermination()
    assert(table.lastCommit().get.files.toSet === files)
  }

  test("incremental manifests: delta commits stay O(touched), roll-ups bound the chain, state resolves") {
    val log = randomLog(11, 800)
    val table = new LakeTable(tmp(), numBuckets = 8)
    // 40 microbatches -> versions 1..40 with full manifests at 16 and 32
    CdcPipeline.replay(spark, log.toDF(), table, numBatches = 40)
    val dir = java.nio.file.Paths.get(table.root, "_commits")
    import scala.jdk.CollectionConverters._
    val byVersion = java.nio.file.Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.matches("v\\d+\\.json"))
      .map(p => p.getFileName.toString.drop(1).takeWhile(_ != '.').toLong ->
        java.nio.file.Files.readString(p))
      .toMap
    val fulls = byVersion.filter(!_._2.contains("\"delta\"")).keySet
    assert(fulls.filter(_ > 1).forall(_ % 16 == 0), s"unexpected full manifests at $fulls")
    assert(fulls.contains(16L) && fulls.contains(32L), "roll-ups present")
    assert(byVersion(17L).contains("\"delta\""), "post-rollup commits are deltas")
    // delta commit files never enumerate the whole table: their size is
    // bounded by touched buckets, and stays flat as versions accumulate
    val deltaSizes = byVersion.filter(_._2.contains("\"delta\"")).toSeq.sortBy(_._1).map(_._2.length)
    assert(deltaSizes.max < byVersion(16L).length * 2, "delta commits stay small vs a full manifest")
    // a FRESH reader (cold memo) resolves the delta chain to the same state
    val reader = new LakeTable(table.root, numBuckets = 8)
    assert(reader.lastCommit().get.files.toSet === table.lastCommit().get.files.toSet)
    val state = reader.snapshot(spark).get.as[FlatEvent].collect()
      .map(e => (e.repo, e.path) -> e).toMap
    assert(state === foldOracle(log))
  }

  test("storage-partitioned merge: state scan is bucketed, ONLY the batch side shuffles") {
    val log = randomLog(9, 300)
    val table = new LakeTable(tmp(), numBuckets = 8)
    CdcPipeline.replay(spark, log.toDF(), table, numBatches = 2)
    val ci = table.lastCommit().get
    val state = table.bucketedState(spark, ci, None, ci.schema).get
    val upd = FlatEvent.mk(("repo0", "p0.txt"), 999, "u")
    val merged = mergeOnlyBatchShuffles(state, Seq(upd).toDF(), ci.schema, 8)
    // and the merge picks the right winners
    val out = merged.collect()
    val byKey = out.map(r => (r.getAs[String]("repo"), r.getAs[String]("path")) -> r).toMap
    assert(byKey(("repo0", "p0.txt")).getAs[Long]("lsn") === 999L, "batch winner applied")
    assert(byKey(("repo0", "p0.txt")).getAs[Int]("__src") === 1)
    val stateRows = state.collect().map(r => (r.getAs[String]("repo"), r.getAs[String]("path"))).toSet
    assert(out.length === (stateRows + (("repo0", "p0.txt"))).size, "full-outer key coverage")
  }

  /** A wide-key log: 600 creates over 600 keys, then 60 updates/deletes —
    * the state dwarfs the tail batch, so a copy-on-write merge of the tail
    * PREFERS the storage-partitioned join and asks for the bucketed state.
    */
  private val wideHead = (1 to 600).map(i => FlatEvent.mk((s"r${i % 40}", s"p$i.txt"), i.toLong, "c"))
  private val wideTail = (601 to 660).map(i => FlatEvent.mk((s"r${i % 40}", s"p${i - 600}.txt"), i.toLong,
    if (i % 5 == 0) "d" else "u"))

  /** Bucket-named (`…_00003.c000.snappy.parquet`) → the writer's own name
    * (`…-c000.snappy.parquet`), as tables staged before bucket naming hold
    * their files.
    */
  private val bucketSuffix = "_\\d{5}\\.(c\\d+\\.)".r
  private def suffixed(path: String): Boolean =
    bucketSuffix.findFirstIn(java.nio.file.Paths.get(path).getFileName.toString).isDefined

  /** Rewrite `root` into the pre-bucket-naming format: every data file
    * renamed back to its unsuffixed name, every commit manifest edited to
    * match. Returns a fresh handle (no memoized manifests).
    */
  private def toUnsuffixedFormat(root: String, mergeOnRead: Boolean): LakeTable = {
    import java.nio.file.Paths
    import scala.jdk.CollectionConverters._
    val renames = Files.walk(Paths.get(root, "data")).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.endsWith(".parquet") && suffixed(p.toString))
      .map { p =>
        val old = bucketSuffix.replaceFirstIn(p.getFileName.toString, "-$1")
        Files.move(p, p.resolveSibling(old))
        p.getFileName.toString -> old
      }
    assert(renames.nonEmpty)
    Files.list(Paths.get(root, "_commits")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".json")).foreach { c =>
        Files.writeString(c, renames.foldLeft(Files.readString(c)) { case (j, (n, o)) => j.replace(n, o) })
      }
    new LakeTable(root, numBuckets = 8, mergeOnRead = mergeOnRead)
  }

  test("pre-bucket-naming table: reads and merges take the aligned path and converge to suffixed files") {
    val log = wideHead ++ wideTail
    val seeded = new LakeTable(tmp(), numBuckets = 8)
    CdcPipeline.replay(spark, wideHead.toDF(), seeded, numBatches = 2)
    assert(seeded.lastCommit().get.files.forall(f => suffixed(f.path)), "stage() names files for their bucket")
    val table = toUnsuffixedFormat(seeded.root, mergeOnRead = false)
    val before = table.lastCommit().get
    assert(before.files.forall(f => !suffixed(f.path)))
    assert(table.bucketedState(spark, before, None, before.schema).isEmpty,
      "unsuffixed files must not be read as bucketed")
    assert(tableState(table) === foldOracle(wideHead))
    // state ≫ batch: the merge prefers the join, is refused the bucketed
    // state, and takes the union+reduce path
    assert(CdcApply.applyBatch(spark, table, wideTail.toDF(), batchId = 2).committed)
    assert(tableState(table) === foldOracle(log))
    val after = table.lastCommit().get
    val touched = after.files.filterNot(before.files.contains).map(_.bucket).toSet
    assert(touched.nonEmpty)
    after.files.filter(f => touched.contains(f.bucket)).foreach(f =>
      assert(suffixed(f.path), s"rewritten bucket ${f.bucket} must carry the suffix: ${f.path}"))
    assert(table.bucketedState(spark, after, Some(touched), after.schema).isDefined,
      "rewritten buckets are back on the bucketed read")

    // merge-on-read: the stack mixes old and new names until compaction
    val morSeed = new LakeTable(tmp(), numBuckets = 8, mergeOnRead = true)
    CdcPipeline.replay(spark, wideHead.toDF(), morSeed, numBatches = 2)
    val mor = toUnsuffixedFormat(morSeed.root, mergeOnRead = true)
    assert(tableState(mor) === foldOracle(wideHead), "MoR resolved read of unsuffixed stacks")
    assert(CdcApply.applyBatch(spark, mor, wideTail.toDF(), batchId = 2).committed)
    assert(tableState(mor) === foldOracle(log))
    val mixed = mor.lastCommit().get
    assert(mor.bucketedState(spark, mixed, None, mixed.schema).isEmpty)
    val compacted = mor.compact(spark).get
    assert(compacted.files.forall(f => suffixed(f.path)))
    assert(mor.bucketedState(spark, compacted, None, compacted.schema).isDefined)
    assert(tableState(mor) === foldOracle(log))
  }

  test("pre-bucket-naming MoR compaction in an AQE session with shuffle partitions == numBuckets keeps rows in their buckets") {
    // The unbucketed read reduces through an exchange AQE may coalesce; its
    // output must claim no layout, so the compaction still repartitions.
    val log = wideHead ++ wideTail
    val morSeed = new LakeTable(tmp(), numBuckets = 8, mergeOnRead = true)
    CdcPipeline.replay(spark, wideHead.toDF(), morSeed, numBatches = 2)
    val mor = toUnsuffixedFormat(morSeed.root, mergeOnRead = true)
    assert(CdcApply.applyBatch(spark, mor, wideTail.toDF(), batchId = 2).committed)
    withConf("spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
        "spark.sql.shuffle.partitions" -> "8") {
      val before = mor.lastCommit().get
      assert(mor.bucketedState(spark, before, None, before.schema).isEmpty, "the stacks read unbucketed")
      val compacted = mor.compact(spark).get
      assert(compacted.files.nonEmpty)
      compacted.files.foreach { f =>
        val misplaced = spark.read.parquet(s"${mor.root}/${f.path}")
          .where(pmod(hash(col("repo"), col("path")), lit(8)) =!= f.bucket).count()
        assert(misplaced === 0L, s"${f.path} (bucket ${f.bucket}) holds $misplaced rows of other buckets")
      }
      assert(tableState(mor) === foldOracle(log))
    }
  }

  test("bucketed state registers nothing: no catalog table, no link dir") {
    val log = wideHead ++ wideTail
    for (mor <- Seq(false, true)) {
      val table = new LakeTable(tmp(), numBuckets = 8, mergeOnRead = mor)
      CdcPipeline.replay(spark, wideHead.toDF(), table, numBatches = 2)
      CdcApply.applyBatch(spark, table, wideTail.toDF(), batchId = 2)
      assert(tableState(table) === foldOracle(log))
      val stateTables = spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_state_"))
      assert(stateTables.isEmpty, s"mergeOnRead=$mor: catalog holds ${stateTables.toSeq}")
      assert(!Files.exists(java.nio.file.Paths.get(table.root, "_bucketed")), s"mergeOnRead=$mor")
    }
  }

  test("evolved files read bucketed: a widened column and a DEFAULT column, CoW merge and MoR snapshot") {
    // `size` is written as int, then widened to long; `rank` is added with
    // DEFAULT -1. Three events touch at most three of the eight buckets,
    // so the state mixes both file schemas.
    val tail = Seq(FlatEvent.mk(("r1", "p1.txt"), 701, "u"), FlatEvent.mk(("r2", "p2.txt"), 702, "u"),
      FlatEvent.mk(("r3", "p3.txt"), 703, "d"))
    val log = wideHead ++ tail
    def evolved(es: Seq[FlatEvent]) = es.toDF().withColumn("size", col("lsn"))
      .select(col("*"), SchemaEvolution.withDefault(lit(7L), "rank", "-1"))
    for (mor <- Seq(false, true)) {
      val table = new LakeTable(tmp(), numBuckets = 8, mergeOnRead = mor)
      CdcApply.applyBatch(spark, table, wideHead.toDF().withColumn("size", col("lsn").cast("int")), batchId = 0)
      CdcApply.applyBatch(spark, table, evolved(tail), batchId = 1)
      val ci = table.lastCommit().get
      assert(ci.files.map(_.schemaIdx).distinct.size === 2, s"mergeOnRead=$mor: both file schemas live")
      if (mor) {
        val plan = table.snapshot(spark).get.queryExecution.executedPlan.toString
        assert(plan.contains("Bucketed: true"), s"MoR snapshot must use the bucketed scan:\n$plan")
        assert(!plan.contains("Exchange"), s"MoR snapshot must not shuffle:\n$plan")
      } else {
        val state = table.bucketedState(spark, ci, None, ci.schema)
        assert(state.isDefined, "evolved CoW state must read bucketed")
        val upd = FlatEvent.mk(("r4", "p4.txt"), 704, "u")
        val merged = mergeOnlyBatchShuffles(state.get, evolved(Seq(upd)), ci.schema, 8)
        assert(merged.where(col("path") === "p4.txt").select("rank").as[Long].collect().toSeq === Seq(7L))
      }
      val rows = table.snapshot(spark).get.collect()
        .map(r => (r.getAs[String]("repo"), r.getAs[String]("path")) -> r).toMap
      assert(rows.keySet === foldOracle(log).keySet, s"mergeOnRead=$mor")
      foldOracle(log).foreach { case (k, e) =>
        val r = rows(k)
        assert(r.getAs[Long]("lsn") === e.lsn && r.getAs[Long]("size") === e.lsn, s"$k")
        assert(r.getAs[Long]("rank") === (if (e.lsn > 700) 7L else -1L), s"mergeOnRead=$mor: $k rank")
      }
    }
  }

  test("a deleted referenced data file fails the read, naming the file") {
    val table = new LakeTable(tmp(), numBuckets = 4)
    CdcPipeline.replay(spark, randomLog(43, 100).toDF(), table, numBatches = 1)
    val f = table.lastCommit().get.files.head
    Files.delete(java.nio.file.Paths.get(table.root, f.path))
    val reader = new LakeTable(table.root, numBuckets = 4)
    val e = intercept[Exception](reader.snapshot(spark).get.count())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    val name = java.nio.file.Paths.get(f.path).getFileName.toString
    assert(messages.exists(m => m != null && m.contains(name)), s"$e")
  }

  test("a key column widen is rejected before any write: the key's rows are bucketed by its type's hash") {
    // int `id` keys, then a long-typed batch: Murmur3 hashes an int and
    // the same long differently, so the update would land in another
    // bucket than the key's live row.
    def batch(ids: Seq[Int], lsn0: Long) = ids.zipWithIndex
      .map { case (id, i) => (id, s"v$lsn0", "c0000000001", lsn0 + i, "u", 0, 1700000000000L) }
      .toDF("id", "payload", "commit", "lsn", "op", "part", "ts_ms")
    for (mor <- Seq(false, true)) {
      val table = new LakeTable(tmp(), numBuckets = 8, keyCols = Seq("id"), mergeOnRead = mor)
      CdcApply.applyBatch(spark, table, batch(1 to 40, 0L), batchId = 0)
      val head = table.lastCommit().get
      val e = intercept[IllegalArgumentException] {
        CdcApply.applyBatch(spark, table, batch(1 to 20, 100L).withColumn("id", col("id").cast("long")),
          batchId = 1)
      }
      assert(e.getMessage.contains("key column id"), s"mergeOnRead=$mor: ${e.getMessage}")
      intercept[IllegalArgumentException] {
        table.registerSchema(StructType(head.schema.fields.map(f =>
          if (f.name == "id") f.copy(dataType = LongType) else f)).json)
      }
      assert(table.lastCommit().get.version === head.version, s"mergeOnRead=$mor: nothing committed")
      val state = table.snapshot(spark).get.select("id", "lsn").as[(Int, Long)].collect()
      assert(state.toMap === (1 to 40).map(id => id -> (id - 1).toLong).toMap && state.length === 40,
        s"mergeOnRead=$mor: one row per key, the fold of batch 0")
      // a zero-row slice with the wider key type is a metadata-only commit, not a widen
      CdcApply.applyBatch(spark, table, batch(Nil, 0L).withColumn("id", col("id").cast("long")), batchId = 2)
      assert(table.lastCommit().get.schema === head.schema, s"mergeOnRead=$mor")
    }
  }

  test("stage() commits no zero-row file unless the whole write is empty") {
    import scala.jdk.CollectionConverters._
    val table = new LakeTable(tmp(), numBuckets = 4)
    CdcApply.applyBatch(spark, table, Seq(FlatEvent.mk(("r", "a"), 1, "c")).toDF(), batchId = 0)
    val files = table.lastCommit().get.files
    assert(files.size === 1 && files.forall(_.rows > 0), s"$files")
    val dataDir = java.nio.file.Paths.get(table.root, "data")
    val onDisk = () => {
      val w = Files.walk(dataDir)
      try w.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
      finally w.close()
    }
    assert(onDisk() === files.map(f => java.nio.file.Paths.get(f.path).getFileName.toString).toSet,
      "the empty files are deleted, not just left out")
    // a truncate empties every bucket: one empty file keeps the table readable
    CdcApply.applyBatch(spark, table, Seq(FlatEvent.mk(("r", "x"), 2, "t")).toDF(), batchId = 1)
    val emptied = table.lastCommit().get.files
    assert(emptied.size === 1 && emptied.head.rows === 0L)
    assert(table.snapshot(spark).get.count() === 0L)
  }

  /** A merge-on-read read planned through the bucketed scan with no exchange. */
  private def shuffleFree(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"), s"$what must use the bucketed scan:\n$plan")
    assert(!plan.contains("Exchange"), s"$what must not shuffle:\n$plan")
  }

  test("MoR time travel and lookups read through the bucketed scan: zero exchanges") {
    val log = randomLog(13, 200)
    val table = new LakeTable(tmp(), numBuckets = 8, mergeOnRead = true)
    CdcPipeline.replay(spark, log.toDF(), table, numBatches = 3)
    shuffleFree(table.snapshotAt(spark, 2L).get, "snapshotAt(older version)")
    val keys = log.take(3).map(e => Seq[Any](e.repo, e.path))
    shuffleFree(table.lookupMany(spark, keys).get, "lookupMany")
  }

  test("footer metadata of a torn or missing staged file fails loudly, naming the file") {
    val table = new LakeTable(tmp(), numBuckets = 4)
    CdcApply.applyBatch(spark, table, Seq(FlatEvent.mk(("r", "a"), 1, "c")).toDF(), batchId = 0)
    val f = table.lastCommit().get.files.maxBy(_.rows)
    val p = java.nio.file.Paths.get(table.root, f.path)
    assert(f.rows === 1L && table.fileMeta(p, Set("repo"))._1 === 1L)
    val bytes = Files.readAllBytes(p)
    Files.write(p, bytes.take(bytes.length / 2))
    val torn = intercept[IllegalStateException](table.fileMeta(p, Set("repo")))
    assert(torn.getMessage.contains(p.toString))
    Files.delete(p)
    val missing = intercept[IllegalStateException](table.fileMeta(p, Set("repo")))
    assert(missing.getMessage.contains(p.toString))
  }

  test("merge-on-read: append-only apply converges (incl. truncate), fences hold, compaction collapses") {
    val log = randomLog(12, 400, withTruncate = true)
    val table = new LakeTable(tmp(), numBuckets = 8, mergeOnRead = true)
    val r = CdcPipeline.replay(spark, log.toDF(), table, numBatches = 5)
    assert(r.forall(_.committed))
    assert(tableState(table) === foldOracle(log), "MoR resolves to the fold oracle")
    // apply appended, never rewrote: every batch's files are still live
    val files = table.lastCommit().get.files
    assert(files.map(_.path).distinct.size === files.size)
    assert(files.size > table.numBuckets, "file stacks accumulated (no rewrite)")
    // replays are fenced exactly like CoW
    val r2 = CdcPipeline.replay(spark, log.toDF(), table, numBatches = 5)
    assert(r2.forall(x => !x.committed && x.reason == "batchId-fenced"))
    // compaction collapses the stacks and preserves state
    val before = tableState(table)
    table.compact(spark, tombstoneRetention = Some(graft.table.LogPos("~", Long.MaxValue)))
    assert(table.lastCommit().get.files.size <= table.numBuckets)
    assert(tableState(table) === before)
  }

  test("depth-triggered partial compaction: only deep buckets rewritten, state preserved") {
    val log = randomLog(17, 500)
    val table = new LakeTable(tmp(), numBuckets = 8, mergeOnRead = true)
    CdcPipeline.replay(spark, log.toDF(), table, numBatches = 6)
    val before = table.lastCommit().get
    val depths = table.stackDepths(before)
    assert(depths.values.max > 3, "the replay must have grown stacks past the threshold")
    val shallow = depths.collect { case (b, d) if d <= 3 => b }.toSet

    val after = table.compactDeepBuckets(spark, maxDepth = 3).get
    // deep buckets collapsed to one file each, at the head of the commit
    assert(table.stackDepths(after).values.max <= 3)
    table.stackDepths(after).foreach { case (b, d) =>
      if (!shallow.contains(b)) assert(d === 1, s"compacted bucket $b must hold one file")
    }
    // shallow buckets' manifest entries are carried over UNTOUCHED
    val beforeShallow = before.files.filter(f => shallow.contains(f.bucket)).toSet
    val afterShallow = after.files.filter(f => shallow.contains(f.bucket)).toSet
    assert(afterShallow === beforeShallow, "untouched buckets must keep their exact file entries")
    assert(tableState(table) === foldOracle(log), "compaction must preserve the fold state")
    // every stack already shallow → no-op
    assert(table.compactDeepBuckets(spark, maxDepth = 3).isEmpty)
  }

  test("autoCompactDepth bounds MoR stacks during a replay and converges") {
    val log = randomLog(18, 500, withTruncate = true)
    val auto = new LakeTable(tmp(), numBuckets = 8, mergeOnRead = true, autoCompactDepth = 2)
    CdcPipeline.replay(spark, log.toDF(), auto, numBatches = 8)
    assert(tableState(auto) === foldOracle(log), "auto-compacted MoR resolves to the fold oracle")
    // after the post-batch maintenance slot, no stack exceeds depth+1
    // (a batch appends one file before the trigger fires)
    assert(table_maxDepth(auto) <= 3)
    // replays stay fenced across the interleaved compaction commits
    val r2 = CdcPipeline.replay(spark, log.toDF(), auto, numBatches = 8)
    assert(r2.forall(x => !x.committed && x.reason == "batchId-fenced"))
  }

  private def table_maxDepth(t: LakeTable): Int =
    t.stackDepths(t.lastCommit().get).values.max

  test("merge-on-read resolved read plans ZERO exchanges (bucketed scan satisfies the reduce)") {
    val log = randomLog(13, 200)
    val table = new LakeTable(tmp(), numBuckets = 8, mergeOnRead = true)
    CdcPipeline.replay(spark, log.toDF(), table, numBatches = 3)
    val resolved = table.resolved(spark, table.lastCommit().get).get
    val plan = resolved.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"), s"resolved read must use the bucketed scan:\n$plan")
    assert(!plan.contains("Exchange"), s"the read-side LWW reduce must not shuffle:\n$plan")
    // the reduce keeps the keys as its grouping attributes: the output
    // still reports the bucket layout
    val physical = resolved.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    physical.outputPartitioning match {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        assert(h.numPartitions === 8)
        assert(h.expressions.map {
          case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name
          case e => fail(s"partitioning expression is not a column: $e")
        } === Seq("repo", "path"))
      case other => fail(s"resolved read lost the bucket layout: $other\n$plan")
    }
  }

  test("merge-on-read change feed, net changes and compaction plan ZERO exchanges") {
    val log = randomLog(17, 300)
    val table = new LakeTable(tmp(), numBuckets = 8, mergeOnRead = true)
    CdcPipeline.replay(spark, log.toDF(), table, numBatches = 3)
    shuffleFree(table.changeFeed(spark, 1L, 2L).get, "changeFeed(1, 2)")
    shuffleFree(table.netChanges(spark, 1L, 3L).get, "netChanges(1, 3)")
    val plans = executedPlans(table.compact(spark))
    val writes = plans.filter(_.contains("InsertIntoHadoopFsRelationCommand"))
    assert(writes.size === 1, s"one compaction write, got:\n${plans.mkString("\n\n")}")
    assert(writes.head.contains("Bucketed: true"), s"compaction reads the bucketed scan:\n${writes.head}")
    assert(!writes.head.contains("Exchange"), s"compaction must not shuffle:\n${writes.head}")
    assert(tableState(table) === foldOracle(log))
    val ci = table.lastCommit().get
    assert(ci.files.map(_.bucket).sorted === ci.files.map(_.bucket).distinct.sorted, "one file per bucket")
    assert(table.changeFeed(spark, ci.version - 1, ci.version).get.count() === 0L)
  }

  test("multi-file buckets: size-bounded files, state scan still bucketed, one exchange") {
    // Wide key space (200 keys / 4 buckets ≈ 50 live rows per bucket) so
    // the 10-row file bound actually splits each bucket's rewrite.
    val rnd = new scala.util.Random(23)
    val keys = for (r <- 0 until 10; p <- 0 until 20) yield (s"repo$r", s"p$p.txt")
    val log = (1 to 400).map { i =>
      FlatEvent.mk(keys(rnd.nextInt(keys.size)), i.toLong, Seq("c", "u", "r")(rnd.nextInt(3)))
    }
    val table = new LakeTable(tmp(), numBuckets = 4)
    withConf("spark.sql.files.maxRecordsPerFile" -> "10") {
      CdcPipeline.replay(spark, log.toDF(), table, numBatches = 3)
    }
    assert(tableState(table) === foldOracle(log), "split-file table converges to the fold oracle")

    val ci = table.lastCommit().get
    assert(ci.files.size > table.numBuckets, "buckets must have split into multiple files")
    assert(ci.files.groupBy(_.bucket).values.exists(_.size > 1), "some bucket holds a file stack")
    ci.files.foreach(f => assert(f.rows <= 10L, s"file ${f.path} exceeds maxRecordsPerFile: ${f.rows}"))

    val state = table.bucketedState(spark, ci, None, ci.schema).get
    val upd = FlatEvent.mk(("repo0", "p0.txt"), 999, "u")
    val merged = mergeOnlyBatchShuffles(state, Seq(upd).toDF(), ci.schema, 4)
    val byKey = merged.collect().map(r => (r.getAs[String]("repo"), r.getAs[String]("path")) -> r).toMap
    assert(byKey(("repo0", "p0.txt")).getAs[Long]("lsn") === 999L, "batch winner applied")
  }

  test("time travel: snapshotAt(version) reproduces each historical state") {
    val log = randomLog(31, 300)
    val table = new LakeTable(tmp(), numBuckets = 8)
    CdcPipeline.replay(spark, log.toDF(), table, numBatches = 3)
    val versions = table.commits().map(_.version)
    assert(versions.size === 3)
    // each version's state equals the fold of the log prefix applied by then
    val bounds = log.map(_.lsn)
    val (lo, hi) = (bounds.min, bounds.max)
    val width = math.max(1L, (hi - lo) / 3 + 1)
    versions.zipWithIndex.foreach { case (v, i) =>
      val upTo = lo + (i + 1) * width
      val expected = foldOracle(log.filter(_.lsn < upTo))
      val got = table.snapshotAt(spark, v).map(_.as[FlatEvent].collect()).getOrElse(Array.empty)
        .map(e => (e.repo, e.path) -> e).toMap
      assert(got === expected, s"version $v must equal the fold of lsn < $upTo")
    }
    assert(table.snapshotAt(spark, 999).isEmpty, "unknown version yields None")
  }

  test("change feed: per-version diffs match the fold deltas; compaction diffs empty; manifest prunes") {
    val log = randomLog(47, 300)
    val table = new LakeTable(tmp(), numBuckets = 8)
    CdcPipeline.replay(spark, log.toDF(), table, numBatches = 3)
    val versions = table.commits().map(_.version)
    assert(versions.size === 3)
    val bounds = log.map(_.lsn)
    val (lo, hi) = (bounds.min, bounds.max)
    val width = math.max(1L, (hi - lo) / 3 + 1)
    def stateAt(i: Int): Map[(String, String), FlatEvent] =
      if (i == 0) Map.empty else foldOracle(log.filter(_.lsn < lo + i * width))

    // full feed from before-v1 to head: per version, classified rows equal
    // the set-difference of consecutive fold states
    val feed = table.changeFeed(spark, 0L, versions.last).get
    val rows = feed.collect().map { r =>
      (r.getAs[Long]("_commit_version"), r.getAs[String]("_change_type"),
        FlatEvent(r.getAs[String]("repo"), r.getAs[String]("path"), r.getAs[String]("commit"),
          r.getAs[String]("lang"), r.getAs[String]("content"), r.getAs[String]("op"),
          r.getAs[Int]("part"), r.getAs[Long]("lsn"), r.getAs[Long]("ts_ms")))
    }
    versions.zipWithIndex.foreach { case (v, i) =>
      val (pre, post) = (stateAt(i), stateAt(i + 1))
      val got = rows.filter(_._1 == v)
      val inserts = got.filter(_._2 == "insert").map(e => (e._3.repo, e._3.path) -> e._3).toMap
      val deletes = got.filter(_._2 == "delete").map(e => (e._3.repo, e._3.path) -> e._3).toMap
      val preIm = got.filter(_._2 == "update_preimage").map(e => (e._3.repo, e._3.path) -> e._3).toMap
      val postIm = got.filter(_._2 == "update_postimage").map(e => (e._3.repo, e._3.path) -> e._3).toMap
      assert(inserts === post.view.filterKeys(!pre.contains(_)).toMap, s"v$v inserts")
      assert(deletes === pre.view.filterKeys(!post.contains(_)).toMap, s"v$v deletes")
      val updatedKeys = pre.keySet.intersect(post.keySet).filter(k => pre(k) != post(k))
      assert(preIm === updatedKeys.map(k => k -> pre(k)).toMap, s"v$v preimages")
      assert(postIm === updatedKeys.map(k => k -> post(k)).toMap, s"v$v postimages")
    }

    // replayability: folding the feed (in version order) over state(from)
    // reconstructs state(to) — the downstream-consumer contract
    val replayed = rows.filter(_._1 > versions.head).sortBy(_._1)
      .foldLeft(stateAt(1)) { case (st, (_, ct, e)) =>
        ct match {
          case "insert" | "update_postimage" => st + ((e.repo, e.path) -> e)
          case "delete"                      => st - ((e.repo, e.path))
          case _                             => st // preimages carry no new state
        }
      }
    assert(replayed === stateAt(3), "feed replay reconstructs the head state")

    // a compaction commit rewrites layout but changes nothing logically
    val headBefore = versions.last
    table.compact(spark)
    val headAfter = table.lastCommit().get.version
    assert(headAfter > headBefore)
    assert(table.changeFeed(spark, headBefore, headAfter).get.count() === 0L,
      "compaction-only commit must diff to zero change rows")

    // manifest pruning: a single-key update touches one bucket; the pair's
    // diff must read NO file from any unchanged bucket
    val one = Seq(FlatEvent.mk(("repo0", "p0.txt"), hi + 100, "u")).toDF()
    CdcApply.applyBatch(spark, table, one, batchId = 100)
    val v2 = table.lastCommit().get.version
    val cs = table.commits().filter(c => c.version == headAfter || c.version == v2)
    val byB = cs.map(c => c.files.groupBy(_.bucket).view.mapValues(_.map(_.path).toSet).toMap)
    val changed = (byB(0).keySet ++ byB(1).keySet)
      .filter(b => byB(0).getOrElse(b, Set.empty) != byB(1).getOrElse(b, Set.empty))
    assert(changed.size < 8, "a one-key batch must not change every bucket")
    val allowed = cs.flatMap(_.files).filter(f => changed.contains(f.bucket)).map(_.path).toSet
    val pairFeed = table.changeFeed(spark, headAfter, v2).get
    val scanned = pairFeed.inputFiles.map { p =>
      val abs = java.nio.file.Paths.get(new java.net.URI(p).getPath).normalize()
      java.nio.file.Paths.get(table.root).relativize(abs).toString
    }.toSet
    assert(scanned.nonEmpty && scanned.subsetOf(allowed),
      s"feed scanned unchanged buckets: ${scanned -- allowed}")
    assert(pairFeed.collect().map(r => (r.getAs[String]("_change_type"), r.getAs[String]("path"))).toSet
      === Set(("update_preimage", "p0.txt"), ("update_postimage", "p0.txt")))

    // merge-on-read table: the same feed semantics across file stacks
    val mor = new LakeTable(tmp(), numBuckets = 8, mergeOnRead = true)
    CdcPipeline.replay(spark, log.toDF(), mor, numBatches = 3)
    val morVs = mor.commits().map(_.version)
    val morFeed = mor.changeFeed(spark, 0L, morVs.last).get.collect()
    assert(morFeed.length === rows.length, "MoR feed row count equals CoW feed")
  }

  test("expireSnapshots bounds history: head intact, expired versions unreadable, dead files deleted") {
    val log = randomLog(37, 400)
    val table = new LakeTable(tmp(), numBuckets = 8)
    CdcPipeline.replay(spark, log.toDF(), table, numBatches = 4)
    val before = tableState(table)
    val dataFiles = () => java.nio.file.Files.walk(java.nio.file.Paths.get(table.root, "data"))
      .filter(p => p.getFileName.toString.endsWith(".parquet")).count()
    val nBefore = dataFiles()
    assert(table.commits().size === 4)

    val (droppedCommits, deletedFiles) = table.expireSnapshots(keepLast = 2)
    assert(droppedCommits === 2)
    assert(deletedFiles > 0, "CoW rewrites leave superseded files — expiry must delete some")
    assert(dataFiles() === nBefore - deletedFiles)
    assert(table.commits().map(_.version) === Seq(3L, 4L))
    // head state unchanged; horizon version still time-travels; below it gone
    assert(tableState(table) === before)
    assert(table.snapshotAt(spark, 3L).isDefined)
    assert(table.snapshotAt(spark, 2L).isEmpty)
    // the table still takes merges after expiry
    CdcApply.applyBatch(spark, table,
      Seq(FlatEvent.mk(("repo0", "p0.txt"), 9999L, "u")).toDF(), batchId = 4)
    assert(tableState(table)(("repo0", "p0.txt")).lsn === 9999L)
    // idempotent / no-op when history is already within bounds
    assert(table.expireSnapshots(keepLast = 5) === ((0, 0)))
  }

  test("expiry and orphan cleanup leave no checksum sidecar and no dead batch dir") {
    import scala.jdk.CollectionConverters._
    val table = new LakeTable(tmp(), numBuckets = 8)
    CdcPipeline.replay(spark, randomLog(39, 400).toDF(), table, numBatches = 4)
    val dataDir = java.nio.file.Paths.get(table.root, "data")
    def entries(): Seq[java.nio.file.Path] = {
      val w = Files.walk(dataDir)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally w.close()
    }
    def check(what: String): Unit = {
      val referenced = table.lastCommit().get.files.map(f => dataDir.getParent.resolve(f.path)).toSet
      val dirs = Files.list(dataDir).iterator().asScala.toSeq
      dirs.foreach(d => assert(Files.list(d).iterator().asScala.exists(referenced.contains),
        s"$what: $d holds no referenced data file"))
      entries().filter(_.getFileName.toString.endsWith(".crc")).foreach { c =>
        val data = c.resolveSibling(c.getFileName.toString.stripPrefix(".").stripSuffix(".crc"))
        assert(Files.exists(data), s"$what: $c outlived its data file")
      }
    }
    assert(table.expireSnapshots(keepLast = 1)._2 > 0)
    check("after expiry")
    // a crashed writer's staged-but-never-committed batch
    table.stage(randomLog(40, 50).toDF().repartition(8, col("repo"), col("path")), 99L, 0, attempt = 99L)
    assert(table.removeOrphanFiles() > 0)
    check("after orphan cleanup")
  }

  test("tags: named refs time-travel, clamp snapshot expiry, and drop cleanly") {
    val log = randomLog(53, 400)
    val table = new LakeTable(tmp(), numBuckets = 8)
    CdcPipeline.replay(spark, log.toDF(), table, numBatches = 4)
    assert(table.commitVersions() === Seq(1L, 2L, 3L, 4L))

    table.tag("golden", 2L)
    assert(table.tags() === Map("golden" -> 2L))
    // VERSION AS OF '<tag>' reads exactly the tagged version
    val atTag = table.snapshotAtTag(spark, "golden").get.as[FlatEvent].collect().toSet
    assert(atTag === table.snapshotAt(spark, 2L).get.as[FlatEvent].collect().toSet)
    assert(atTag.nonEmpty)

    // tags are immutable unless replaced; names and versions validate
    intercept[IllegalArgumentException](table.tag("golden", 3L))
    intercept[IllegalArgumentException](table.tag("bad name", 3L))
    intercept[IllegalArgumentException](table.tag("v9", 99L))
    table.tag("golden", 3L, replace = true)
    assert(table.tags()("golden") === 3L)
    table.tag("golden", 2L, replace = true)

    // expiry clamps to the oldest tag: v2 (tagged) and everything after
    // survive a keepLast=1 expiry; only v1 goes
    val (dropped, _) = table.expireSnapshots(keepLast = 1)
    assert(dropped === 1)
    assert(table.commits().map(_.version) === Seq(2L, 3L, 4L))
    assert(table.snapshotAtTag(spark, "golden").get.as[FlatEvent].collect().toSet === atTag,
      "the tagged version must stay readable after expiry")

    // dropping the tag releases the clamp
    assert(table.dropTag("golden"))
    assert(!table.dropTag("golden"))
    val (dropped2, _) = table.expireSnapshots(keepLast = 1)
    assert(dropped2 === 2)
    assert(table.commits().map(_.version) === Seq(4L))
    // a fresh handle sees the same refs state (files, not memory)
    assert(graft.table.LakeTable.open(table.root).tags() === Map.empty)
  }

  test("tags: legacy _refs/<name>.json entries resolve, clamp expiry, and drop") {
    val log = randomLog(54, 300)
    val table = new LakeTable(tmp(), numBuckets = 4)
    CdcPipeline.replay(spark, log.toDF(), table, numBatches = 3)
    // a tag as tables wrote it before refs were namespaced `ref_<name>.json`
    val refs = java.nio.file.Paths.get(table.root, "_refs")
    Files.createDirectories(refs)
    Files.writeString(refs.resolve("old.json"), """{"name":"old","version":1,"tsMs":0}""")
    val atV1 = table.snapshotAt(spark, 1L).get.as[FlatEvent].collect().toSet

    assert(table.tags() === Map("old" -> 1L))
    assert(table.snapshotAtTag(spark, "old").get.as[FlatEvent].collect().toSet === atV1)
    intercept[IllegalArgumentException](table.tag("old", 2L)) // still immutable
    assert(table.expireSnapshots(keepLast = 1) === ((0, 0)), "the legacy pin must clamp expiry")
    assert(table.commitVersions() === Seq(1L, 2L, 3L))
    assert(table.snapshotAtTag(spark, "old").get.as[FlatEvent].collect().toSet === atV1)

    assert(table.dropTag("old"))
    assert(!Files.exists(refs.resolve("old.json")) && table.tags().isEmpty)
    assert(table.expireSnapshots(keepLast = 1)._1 === 2)
  }

  test("removeOrphanFiles deletes only unreferenced data files") {
    val log = randomLog(38, 200)
    val table = new LakeTable(tmp(), numBuckets = 4)
    CdcPipeline.replay(spark, log.toDF(), table, numBatches = 2)
    val before = tableState(table)
    // plant orphans: a crashed writer's staged-but-never-committed dir
    val orphanDir = java.nio.file.Paths.get(table.root, "data", "b999999-a0")
    java.nio.file.Files.createDirectories(orphanDir)
    java.nio.file.Files.writeString(orphanDir.resolve("part-00000-dead.parquet"), "junk")
    java.nio.file.Files.writeString(orphanDir.resolve("part-00001-dead.parquet"), "junk")
    // a too-recent orphan is protected by the olderThan guard
    assert(table.removeOrphanFiles(olderThanMs = 3600000L) === 0)
    assert(table.removeOrphanFiles() === 2)
    assert(!java.nio.file.Files.exists(orphanDir), "emptied batch dir is dropped")
    assert(tableState(table) === before, "referenced files untouched")
  }

  test("MoR time travel survives subsequent head reads (no stale bucketed registration)") {
    val log = randomLog(35, 300)
    val mor = new LakeTable(tmp(), numBuckets = 8, mergeOnRead = true)
    CdcPipeline.replay(spark, log.toDF(), mor, numBatches = 3)
    val past = mor.snapshotAt(spark, 2L).get // lazy frame over the old commit
    mor.snapshot(spark).get.count() // head read: registers the bucketed state, GCs link dirs
    // the held frame must still collect, and match the lsn-prefix fold
    val bounds = log.map(_.lsn)
    val width = math.max(1L, (bounds.max - bounds.min) / 3 + 1)
    val expected = foldOracle(log.filter(_.lsn < bounds.min + 2 * width))
    val got = past.collect().map(r => (r.getAs[String]("repo"), r.getAs[String]("path"))).toSet
    assert(got === expected.keySet, "pre-head version must read correctly after a head read")
  }

  test("point lookup: driver-computed bucket matches the layout; only one bucket read") {
    val log = randomLog(33, 300)
    val table = new LakeTable(tmp(), numBuckets = 8)
    CdcPipeline.replay(spark, log.toDF(), table, numBatches = 2)
    val oracle = foldOracle(log)
    // every live key resolves via lookup to exactly its fold-oracle row
    oracle.take(10).foreach { case ((r, p), e) =>
      val rows = table.lookup(spark, Seq(r, p)).get.as[FlatEvent].collect()
      assert(rows.toSeq === Seq(e), s"lookup($r,$p)")
    }
    // a deleted / absent key yields zero rows
    val deleted = log.map(e => (e.repo, e.path)).distinct.filterNot(oracle.contains)
    deleted.headOption.foreach { case (r, p) =>
      assert(table.lookup(spark, Seq(r, p)).forall(_.count() === 0L))
    }
    // merge-on-read table: lookup resolves LWW across the bucket's stack
    val mor = new LakeTable(tmp(), numBuckets = 8, mergeOnRead = true)
    CdcPipeline.replay(spark, log.toDF(), mor, numBatches = 4)
    oracle.take(5).foreach { case ((r, p), e) =>
      assert(mor.lookup(spark, Seq(r, p)).get.as[FlatEvent].collect().toSeq === Seq(e), s"MoR lookup($r,$p)")
    }
    // the driver-side bucket equals the engine's bucketCol for every key
    val buckets = log.map(e => (e.repo, e.path)).distinct.toDF("repo", "path")
      .withColumn("b", table.bucketCol).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Murmur3Hash}
    import org.apache.spark.unsafe.types.UTF8String
    buckets.foreach { case ((r, p), expected) =>
      val h = new Murmur3Hash(Seq(
        BoundReference(0, org.apache.spark.sql.types.StringType, nullable = false),
        BoundReference(1, org.apache.spark.sql.types.StringType, nullable = false)))
      val got = java.lang.Math.floorMod(
        h.eval(InternalRow(UTF8String.fromString(r), UTF8String.fromString(p))).asInstanceOf[Int], 8)
      assert(got === expected, s"driver bucket of ($r,$p)")
    }

    // non-string key: the hash must use the COLUMN type (a caller's Int
    // against a LongType key would otherwise pick the wrong bucket)
    val typed = Seq((7L, "x", "c0000000001", 1L, "c", 0, 1700000000000L))
      .toDF("id", "payload", "commit", "lsn", "op", "part", "ts_ms")
    val longKeyed = new LakeTable(tmp(), numBuckets = 4, keyCols = Seq("id"))
    CdcApply.applyBatch(spark, longKeyed, typed, batchId = 0)
    assert(longKeyed.lookup(spark, Seq(7)).get.count() === 1L, "Int key vs Long column")
    assert(longKeyed.lookup(spark, Seq(7L)).get.count() === 1L)
    assert(longKeyed.lookup(spark, Seq(8)).forall(_.count() === 0L))
  }

  test("bucket-layout evolution: rebucket preserves state, records layout, stale handles fail fast") {
    val log = randomLog(29, 400)
    val table = new LakeTable(tmp(), numBuckets = 4)
    CdcPipeline.replay(spark, log.toDF(), table, numBatches = 3)
    val before = tableState(table)

    val next = table.rebucket(spark, 16).get
    assert(next.numBuckets === 16)
    assert(tableState(next) === before, "rebucket must preserve the fold state")
    val ci = next.lastCommit().get
    assert(ci.numBuckets === 16, "commit must record the new layout")
    assert(ci.files.map(_.bucket).max >= 4, "keys must spread into the widened bucket range")

    // open() adopts the recorded layout; applies continue correctly
    val opened = graft.table.LakeTable.open(next.root)
    assert(opened.numBuckets === 16)
    val extra = FlatEvent.mk(("repo0", "p0.txt"), 9999, "u")
    CdcApply.applyBatch(spark, opened, Seq(extra).toDF(), batchId = 99)
    assert(tableState(opened) === before + ((("repo0", "p0.txt")) -> extra))

    // the stale 4-bucket handle fails fast instead of silently mis-bucketing
    intercept[IllegalStateException] { table.lastCommit() }

    // time travel ACROSS the layout boundary: the pre-rebucket version is
    // still readable from the new handle (layout-independent aligned read)
    val preVersion = ci.version - 1
    val past = opened.snapshotAt(spark, preVersion).get.as[FlatEvent].collect()
      .map(e => (e.repo, e.path) -> e).toMap
    assert(past === before, "pre-rebucket version must read correctly after the layout change")
  }

  test("rebucket commits through the injected CommitStore; the stale handle fails fast") {
    val log = randomLog(30, 300)
    val store = new graft.table.InMemoryCommitStore
    val table = new LakeTable(tmp(), numBuckets = 4, commitStore = Some(store))
    CdcPipeline.replay(spark, log.toDF(), table, numBatches = 2)
    val next = table.rebucket(spark, 8).get
    assert(store.listNames().count(_.matches("v\\d+\\.json")) === 3,
      "the rebucket commit must land in the injected store")
    assert(!Files.isDirectory(java.nio.file.Paths.get(table.root, "_commits")),
      "no commit may fall back to a _commits/ file store")
    assert(next.commitStore.contains(store))
    assert(next.lastCommit().get.numBuckets === 8)
    assert(tableState(next) === foldOracle(log))
    intercept[IllegalStateException] { table.lastCommit() }
  }

  test("structured streaming with checkpoint: two waves + restart, exactly-once") {
    val inDir = tmp(); val ckpt = tmp()
    val table = new LakeTable(tmp(), numBuckets = 8)
    val log = randomLog(6, 300)
    val (w1, w2) = log.splitAt(150)
    // wave 1
    graft.core.Envelope.wrap(w1.toDF()).write.mode("append").parquet(inDir)
    val q1 = CdcPipeline.start(spark, inDir, ckpt, table, maxFilesPerTrigger = 2)
    q1.awaitTermination()
    assert(tableState(table) === foldOracle(w1))
    // wave 2 + restart from checkpoint
    graft.core.Envelope.wrap(w2.toDF()).write.mode("append").parquet(inDir)
    val q2 = CdcPipeline.start(spark, inDir, ckpt, table, maxFilesPerTrigger = 2)
    q2.awaitTermination()
    assert(tableState(table) === foldOracle(log))
    // third run with nothing new: state unchanged, no data files rewritten
    val files = table.lastCommit().get.files.toSet
    val q3 = CdcPipeline.start(spark, inDir, ckpt, table, maxFilesPerTrigger = 2)
    q3.awaitTermination()
    assert(table.lastCommit().get.files.toSet === files)
    assert(tableState(table) === foldOracle(log))
  }

  test("streaming derived view: maintained through the pipeline across waves and restart") {
    import graft.table.MaterializedView
    val inDir = tmp(); val ckpt = tmp()
    val table = new LakeTable(tmp(), numBuckets = 8)
    val viewTable = new LakeTable(tmp(), numBuckets = 4, keyCols = Seq("repo"))
    val dv = MaterializedView.DerivedView(viewTable, Seq("repo"), length(col("content")), "total_chars")
    val log = randomLog(47, 300)
    val (w1, w2) = log.splitAt(150)
    def viewNow(): Set[(String, Long, Long)] = viewTable.snapshot(spark).get
      .select("repo", "n_rows", "total_chars").as[(String, Long, Long)].collect().toSet
    def want(events: Seq[FlatEvent]): Set[(String, Long, Long)] =
      foldOracle(events).values.groupBy(_.repo)
        .map { case (r, es) => (r, es.size.toLong, es.map(_.content.length.toLong).sum) }.toSet
    graft.core.Envelope.wrap(w1.toDF()).write.mode("append").parquet(inDir)
    CdcPipeline.start(spark, inDir, ckpt, table, maxFilesPerTrigger = 2, views = Seq(dv))
      .awaitTermination()
    assert(viewNow() === want(w1), "view after wave 1")
    // wave 2 + restart from checkpoint — the view catches up version-by-version
    graft.core.Envelope.wrap(w2.toDF()).write.mode("append").parquet(inDir)
    CdcPipeline.start(spark, inDir, ckpt, table, maxFilesPerTrigger = 2, views = Seq(dv))
      .awaitTermination()
    assert(viewNow() === want(log), "view after wave 2 + restart")
    // a lagging view (simulated crash between base and view commits):
    // out-of-band base commit, then maintain() heals it
    val extra = FlatEvent.mk(("repo0", "p0.txt"), 9999, "u")
    CdcApply.applyBatch(spark, table, Seq(extra).toDF(), batchId = 999)
    MaterializedView.maintain(spark, table, dv)
    assert(viewNow() === want(log :+ extra), "view healed after out-of-band commit")
    // maintain is idempotent at head
    MaterializedView.maintain(spark, table, dv)
    assert(viewNow() === want(log :+ extra))
  }

  test("DML: deleteWhere tombstones matches; updateWhere rewrites them; LWW-dominating, keys immutable") {
    import graft.merge.Dml
    val log = randomLog(53, 400)
    val table = new LakeTable(tmp(), numBuckets = 8)
    CdcPipeline.replay(spark, log.toDF(), table, numBatches = 4)
    val before = tableState(table)
    val hitKeys = before.keys.filter(_._2.startsWith("p1")).toSet
    assert(hitKeys.nonEmpty, "fixture must have p1* survivors")
    Dml.deleteWhere(spark, table, col("path").startsWith("p1"))
    assert(tableState(table).keys.toSet === before.keys.toSet -- hitKeys)
    // delete again: nothing matches, state unchanged
    Dml.deleteWhere(spark, table, col("path").startsWith("p1"))
    assert(tableState(table).keys.toSet === before.keys.toSet -- hitKeys)
    // update: only matching rows rewritten, SET sees the OLD row, commit dominated
    Dml.updateWhere(spark, table, col("repo") === "repo0",
      Seq("content" -> concat(col("content"), lit("!"))))
    val after = tableState(table)
    assert(after.keys.toSet === before.keys.toSet -- hitKeys)
    after.foreach { case (k, e) =>
      val old = before(k)
      if (k._1 == "repo0") {
        assert(e.content === old.content + "!", s"$k content")
        assert(e.commit === old.commit + "~", s"$k commit")
      } else assert(e === old, s"$k must be untouched")
    }
    // a NEWER stream commit still beats the DML'd row (DML is point-in-time)
    val k0 = after.keys.find(_._1 == "repo0").get
    val late = FlatEvent.mk(k0, 99999L, "u")
    CdcApply.applyBatch(spark, table, Seq(late).toDF(), batchId = 50)
    assert(tableState(table)(k0) === late)
    // SET on a key column is a loud config error
    intercept[IllegalArgumentException] {
      Dml.updateWhere(spark, table, lit(true), Seq("repo" -> lit("x")))
    }
    // ... as are SETs on meta columns and on columns the table lacks
    intercept[IllegalArgumentException] {
      Dml.updateWhere(spark, table, lit(true), Seq("lsn" -> lit(Long.MaxValue)))
    }
    intercept[IllegalArgumentException] {
      Dml.updateWhere(spark, table, lit(true), Seq("contnet" -> lit("typo")))
    }
    // GDPR contract: a delete's tombstone carries NO payload — the raw
    // (tombstone-retaining) state has null content for the deleted keys
    val rawDeleted = table.snapshotRaw(spark).get
      .where(col("op") === "d" && col("path").startsWith("p1"))
    assert(rawDeleted.count() > 0, "tombstones must be retained")
    assert(rawDeleted.where(col("content").isNotNull).count() === 0,
      "deleted payload must not survive in live files")
    // empty-table DML is a no-op, not a crash (the scheduled-purge case)
    val emptyT = new LakeTable(tmp(), numBuckets = 2)
    val r0 = Dml.deleteWhere(spark, emptyT, lit(true))
    assert(!r0.committed && r0.reason === "dml-empty-table")
  }

  test("restore on merge-on-read: an undone truncate comes back (fence restores with the target)") {
    val t3 = new LakeTable(tmp(), numBuckets = 2, mergeOnRead = true)
    val a = FlatEvent.mk(("r", "a.txt"), 1L, "c")
    val b = FlatEvent.mk(("r", "b.txt"), 2L, "c")
    CdcApply.applyBatch(spark, t3, Seq(a, b).toDF(), batchId = 0)
    CdcApply.applyBatch(spark, t3,
      Seq(FlatEvent.mk(("r", "a.txt"), 3L, "t"), FlatEvent.mk(("r", "c.txt"), 4L, "c")).toDF(),
      batchId = 1)
    assert(tableState(t3).keys.toSet === Set(("r", "c.txt")), "truncate wiped v1")
    t3.restore(1L)
    assert(tableState(t3) === Map(("r", "a.txt") -> a, ("r", "b.txt") -> b),
      "restore must undo the truncate on the MoR read path too")
  }

  test("derived view multi-version catch-up: one commit folds the whole lag, equals per-commit maintenance") {
    import graft.table.MaterializedView
    // two identical bases advanced 4 versions; view A maintained after
    // every base commit, view B ONCE at the end (round-4 range fold —
    // the signed-delta algebra telescopes across the multi-version feed)
    val log = randomLog(59, 320)
    val halves = log.grouped(80).toSeq
    val baseA = new LakeTable(tmp(), numBuckets = 4)
    val baseB = new LakeTable(tmp(), numBuckets = 4)
    val vtA = new LakeTable(tmp(), numBuckets = 2, keyCols = Seq("repo"))
    val vtB = new LakeTable(tmp(), numBuckets = 2, keyCols = Seq("repo"))
    val dvA = MaterializedView.DerivedView(vtA, Seq("repo"), length(col("content")), "total_chars")
    val dvB = MaterializedView.DerivedView(vtB, Seq("repo"), length(col("content")), "total_chars")
    halves.zipWithIndex.foreach { case (h, i) =>
      CdcApply.applyBatch(spark, baseA, h.toDF(), batchId = i)
      MaterializedView.maintain(spark, baseA, dvA)
      CdcApply.applyBatch(spark, baseB, h.toDF(), batchId = i)
    }
    MaterializedView.maintain(spark, baseB, dvB)
    def rows(vt: LakeTable): Set[(String, Long, Long)] = vt.snapshot(spark).get
      .select("repo", "n_rows", "total_chars").as[(String, Long, Long)].collect().toSet
    assert(rows(vtB) === rows(vtA), "range fold diverged from per-commit maintenance")
    assert(rows(vtB).nonEmpty)
    assert(vtB.commitVersions().size === 1,
      s"a ${halves.size}-version lag must fold in ONE view commit, got ${vtB.commitVersions().size}")
    assert(vtA.commitVersions().size === halves.size, "positive control")
    assert(vtB.lastCommit().get.batchId === halves.size.toLong)
  }

  test("netChanges nets like the change feed over applies, compaction, schema patch, truncate, restore and bootstrap") {
    import graft.table.MaterializedView
    val m = length(col("content")).cast("long")
    // per-key signed (count, measure) sums: the view algebra's input
    def signed(feed: org.apache.spark.sql.DataFrame): Map[(String, String), (Long, Long)] = feed
      .withColumn("__s", when(col("_change_type").isin("insert", "update_postimage"), 1L).otherwise(-1L))
      .groupBy("repo", "path")
      .agg(sum(col("__s")).as("n"), sum(col("__s") * coalesce(m, lit(0L))).as("s"))
      .where(col("n") =!= 0L || col("s") =!= 0L)
      .as[(String, String, Long, Long)].collect().map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // the last two batches land after the truncate (lsn 1000), so they
    // are not fenced off as older than it
    val batches = randomLog(73, 480).grouped(120).toSeq.zipWithIndex.map { case (b, i) =>
      if (i < 2) b else b.map(e => FlatEvent.mk((e.repo, e.path), e.lsn + 2000L, e.op))
    }
    for (mor <- Seq(false, true)) {
      val table = new LakeTable(tmp(), numBuckets = 4, mergeOnRead = mor)
      val dv = MaterializedView.DerivedView(new LakeTable(tmp(), numBuckets = 2, keyCols = Seq("repo")),
        Seq("repo"), length(col("content")), "total_chars")
      def viewAtHead(label: String): Unit = {
        MaterializedView.maintain(spark, table, dv)
        val head = table.lastCommit().get.version
        val want = MaterializedView.build(spark, table, head, Seq("repo"), length(col("content")), "total_chars")
          .get.as[(String, Long, Long)].collect().toSet
        val got = dv.table.snapshot(spark).get.select("repo", "n_rows", "total_chars")
          .as[(String, Long, Long)].collect().toSet
        assert(got === want, s"mergeOnRead=$mor, $label: maintained view != build at v$head")
        assert(dv.table.lastCommit().get.batchId === head)
      }
      def apply(b: Int, events: Seq[FlatEvent]): Unit =
        assert(CdcApply.applyBatch(spark, table, events.toDF(), batchId = b).committed)
      apply(0, batches(0))                                            // v1
      apply(1, batches(1))                                            // v2
      viewAtHead("bootstrap from version 0")
      table.compact(spark)                                            // v3
      val ci = table.lastCommit().get
      table.registerSchema(ci.schema.add("note", StringType).json)    // v4
      apply(2, FlatEvent.mk(("repo0", "p0.txt"), 1000L, "t") +:       // v5
        (0 until 6).map(i => FlatEvent.mk((s"repo$i", "t.txt"), 1001L + i, "c")))
      viewAtHead("compaction, schema patch, truncate")
      apply(3, batches(2))                                            // v6
      table.restore(2L)                                               // v7
      apply(4, batches(3))                                            // v8
      viewAtHead("apply, restore")
      assert(table.lastCommit().get.version === 8L)
      val ranges = Seq(0L -> 8L, 0L -> 2L, 1L -> 3L, 2L -> 4L, 3L -> 5L, 4L -> 6L, 5L -> 7L, 6L -> 8L, 2L -> 8L)
      ranges.foreach { case (from, to) =>
        val net = table.netChanges(spark, from, to).get
        assert(net.select("_commit_version").distinct().as[Long].collect().forall(_ == to))
        assert(signed(net) === signed(table.changeFeed(spark, from, to).get),
          s"mergeOnRead=$mor: netChanges($from, $to) != changeFeed($from, $to)")
      }
      assert(signed(table.netChanges(spark, 2L, 3L).get).isEmpty, "a compaction nets to nothing")
      assert(table.netChanges(spark, 8L, 9L).isEmpty && table.netChanges(spark, 3L, 3L).isEmpty)
    }
  }

  test("derived view maintenance fails loudly when history expired past the view's version") {
    import graft.table.MaterializedView
    val base = new LakeTable(tmp(), numBuckets = 4)
    CdcPipeline.replay(spark, randomLog(61, 200).toDF(), base, numBatches = 3)
    val vt = new LakeTable(tmp(), numBuckets = 2, keyCols = Seq("repo"))
    val dv = MaterializedView.DerivedView(vt, Seq("repo"), lit(1), "m")
    MaterializedView.maintain(spark, base, dv) // caught up to v3
    CdcApply.applyBatch(spark, base,
      Seq(FlatEvent.mk(("repo9", "z.txt"), 5000L, "u")).toDF(), batchId = 7)
    base.expireSnapshots(keepLast = 1) // drops v1..v3 — the view's catch-up history
    intercept[IllegalStateException] { MaterializedView.maintain(spark, base, dv) }
    // a NEW (empty) view on the same expired-history table is fine: the
    // horizon commit pairing with nothing IS its full-insert bootstrap
    val vt2 = new LakeTable(tmp(), numBuckets = 2, keyCols = Seq("repo"))
    val dv2 = MaterializedView.DerivedView(vt2, Seq("repo"), lit(1), "m")
    MaterializedView.maintain(spark, base, dv2)
    val want = base.snapshot(spark).get.groupBy("repo")
      .agg(count(lit(1)).as("n"), count(lit(1)).as("m"))
      .as[(String, Long, Long)].collect().toSet
    assert(vt2.snapshot(spark).get.select("repo", "n_rows", "m")
      .as[(String, Long, Long)].collect().toSet === want)
  }

  test("restore: rolls back as a new commit; history, feed, and fencing intact") {
    val log = randomLog(59, 400)
    val table = new LakeTable(tmp(), numBuckets = 8)
    CdcPipeline.replay(spark, log.toDF(), table, numBatches = 4)
    val headState = tableState(table)
    val headCi = table.lastCommit().get
    def stateAt(v: Long): Map[(String, String), FlatEvent] =
      table.snapshotAt(spark, v).get.as[FlatEvent].collect().map(e => (e.repo, e.path) -> e).toMap
    val want2 = stateAt(2L)
    val restored = table.restore(2L)
    assert(restored.version === headCi.version + 1)
    assert(tableState(table) === want2, "head state must equal version 2's")
    // history preserved: the undone head still time-travels
    assert(stateAt(headCi.version) === headState)
    // the restore shows up in the change feed as ordinary row diffs
    val feed = table.changeFeed(spark, headCi.version, restored.version).get
    assert(feed.count() > 0, "rollback must produce feed rows")
    // fencing kept: a redelivered stream batch stays fenced (rollback sticks)
    val redelivered = CdcApply.applyBatch(spark, table,
      Seq(FlatEvent.mk(("repo0", "p0.txt"), 1L, "u")).toDF(),
      batchId = headCi.batchId)
    assert(!redelivered.committed, "old batchId must stay fenced after restore")
    assert(tableState(table) === want2)
    // new data applies normally on top of the restored state
    val fresh = FlatEvent.mk(("repo0", "p0.txt"), 99999L, "u")
    CdcApply.applyBatch(spark, table, Seq(fresh).toDF(),
      batchId = headCi.batchId + 1)
    assert(tableState(table) === want2 + ((("repo0", "p0.txt")) -> fresh))
    // restore target must exist and precede head
    intercept[IllegalArgumentException] { table.restore(9999L) }
  }

  test("optimistic concurrency: a lost racing writer cannot silently replace a committed version") {
    val table = new LakeTable(tmp(), numBuckets = 2)
    CdcApply.applyBatch(spark, table,
      Seq(FlatEvent.mk(("r", "a.txt"), 1L, "c")).toDF(), batchId = 0)
    val head = table.lastCommit().get
    // a second writer that computed the same next version loses LOUDLY
    // (rename() on Linux would silently clobber the winner's commit)
    intercept[java.util.ConcurrentModificationException] {
      table.commit(head.copy(batchId = 42L))
    }
    assert(table.lastCommit().get.batchId === head.batchId, "the first commit must survive")
  }

  test("timestamp time travel: snapshotAtTime picks the newest commit at-or-before the stamp") {
    val table = new LakeTable(tmp(), numBuckets = 2)
    val a = FlatEvent.mk(("r", "a.txt"), 1L, "c")
    val b = FlatEvent.mk(("r", "b.txt"), 2L, "c")
    CdcApply.applyBatch(spark, table, Seq(a).toDF(), batchId = 0)
    Thread.sleep(5) // force millisecond-distinct stamps
    CdcApply.applyBatch(spark, table, Seq(b).toDF(), batchId = 1)
    val cs = table.commits()
    assert(cs.forall(_.tsMs > 0L), "every commit carries a wall-clock stamp")
    assert(cs.map(_.tsMs) === cs.map(_.tsMs).sorted, "stamps are monotone")
    val (t1, t2) = (cs(0).tsMs, cs(1).tsMs)
    def pathsAt(ts: Long): Option[Set[String]] =
      table.snapshotAtTime(spark, ts).map(_.as[FlatEvent].collect().map(_.path).toSet)
    assert(pathsAt(t1 - 1) === None, "before the first commit: no state")
    if (t2 > t1) assert(pathsAt(t1) === Some(Set("a.txt")))
    assert(pathsAt(t2) === Some(Set("a.txt", "b.txt")))
    assert(pathsAt(System.currentTimeMillis() + 60000) === Some(Set("a.txt", "b.txt")))
  }

  // -- zone maps (manifest file stats) --------------------------------

  test("zone-map bounds: sound truncation, ASCII-only, upper bound rounds up") {
    import graft.table.LakeTable.{boundMin, boundMax, BoundLen}
    // short ASCII strings pass through exactly
    assert(boundMin("c0000000042") === Some("c0000000042"))
    assert(boundMax("c0000000042") === Some("c0000000042"))
    // non-ASCII yields no bound (UTF-16 vs UTF-8 order diverge there)
    assert(boundMin("café") === None)
    assert(boundMax("café") === None)
    // long strings: min truncates (a prefix is <= the original), max bumps
    val long = "a" * 100 + "zzz"
    assert(boundMin(long) === Some("a" * BoundLen))
    assert(boundMax(long).get > long, "truncated upper bound must still dominate the original")
    // a prefix of all-unbumpable chars has no sound upper bound
    assert(boundMax("~" * 100) === None)
    // soundness over a spread of generated ASCII strings
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val s = (1 to (1 + rnd.nextInt(120))).map(_ => (32 + rnd.nextInt(95)).toChar).mkString
      boundMin(s).foreach(mn => assert(mn <= s))
      boundMax(s).foreach(mx => assert(mx >= s))
    }
  }

  test("zone maps: manifest stats bracket each file's data and survive the JSON round-trip") {
    val log = randomLog(41, 400)
    val dir = tmp()
    val table = new LakeTable(dir, numBuckets = 8, mergeOnRead = true)
    CdcPipeline.replay(spark, log.toDF(), table, numBatches = 3)
    val ci = table.lastCommit().get
    assert(ci.files.nonEmpty)
    ci.files.foreach { f =>
      assert(f.stats.keySet === Set("repo", "path", "commit"),
        s"key + ordering columns must carry bounds for ${f.path}")
      val rows = spark.read.parquet(s"$dir/${f.path}").select("repo", "path", "commit").collect()
      Seq("repo", "path", "commit").zipWithIndex.foreach { case (c, i) =>
        val (mn, mx) = f.stats(c)
        rows.map(_.getString(i)).foreach(v =>
          assert(v >= mn && v <= mx, s"$c='$v' escapes [${mn}, ${mx}] in ${f.path}"))
      }
    }
    // a fresh handle decodes the same manifests — stats included
    val reader = graft.table.LakeTable.open(dir)
    assert(reader.lastCommit().get.files.toSet === ci.files.toSet)
  }

  test("zone maps: truncate fence prunes dead files from the MoR read (scan is O(post-truncate))") {
    // 600 pre-truncate events, a truncate, then a short post-truncate tail;
    // 6 lsn-window batches stack ~5 batches of files that are entirely
    // below the fence.
    val pre = (1 to 600).map(i => FlatEvent.mk((s"repo${i % 4}", s"p${i % 8}.txt"), i.toLong, "u"))
    val log = (pre :+ FlatEvent.mk(("repo0", "p0.txt"), 601, "t")) ++
      (602 to 650).map(i => FlatEvent.mk((s"repo${i % 4}", s"p${i % 8}.txt"), i.toLong, "c"))
    val table = new LakeTable(tmp(), numBuckets = 8, mergeOnRead = true)
    CdcPipeline.replay(spark, log.toDF(), table, numBatches = 6)
    val ci = table.lastCommit().get
    assert(ci.fence.isDefined, "the log's truncate must set a fence")
    val staged = ci.files.map(_.rows).sum
    val read = recordsRead(assert(tableState(table) === foldOracle(log)))
    assert(read > 0, "positive control: the fenced read must observe SOME scanned rows")
    // files whose max(commit) sits below the fence schedule no task: the
    // read touches the post-truncate files plus at most one keeper per
    // bucket (emptiness semantics), never the whole stack
    assert(read < staged / 2,
      s"fenced MoR read scanned $read of $staged staged rows — dead files must be pruned driver-side")
  }

  test("zone maps: point lookup reads only files whose key bounds admit the key") {
    // two disjoint key populations in disjoint lsn windows → each bucket
    // stacks one alpha-only file and one zeta-only file
    val alpha = (1 to 200).map(i => FlatEvent.mk((s"alpha${i % 5}", s"p${i % 8}.txt"), i.toLong, "u"))
    val zeta = (201 to 400).map(i => FlatEvent.mk((s"zeta${i % 5}", s"p${i % 8}.txt"), i.toLong, "u"))
    val table = new LakeTable(tmp(), numBuckets = 4, mergeOnRead = true)
    CdcPipeline.replay(spark, (alpha ++ zeta).toDF(), table, numBatches = 2)
    val ci = table.lastCommit().get

    val key = ("zeta3", "p5.txt")
    val bucket = Seq(key).toDF("repo", "path")
      .select(pmod(hash(col("repo"), col("path")), lit(4))).head().getInt(0)
    val stack = ci.files.filter(_.bucket == bucket)
    val admitted = stack.filter { f =>
      Seq("repo" -> key._1, "path" -> key._2).forall { case (c, v) =>
        f.stats.get(c).forall { case (mn, mx) => v >= mn && v <= mx }
      }
    }
    assert(admitted.map(_.rows).sum < stack.map(_.rows).sum,
      "the alpha-batch file must be excluded by its repo bounds — else the scenario tests nothing")

    var got: Seq[FlatEvent] = Nil
    val read = recordsRead { got = table.lookup(spark, Seq(key._1, key._2)).get.as[FlatEvent].collect().toSeq }
    assert(got === Seq(foldOracle(alpha ++ zeta)(key)), "pruned lookup must return the LWW winner")
    assert(read > 0, "positive control: the admitted files must actually be scanned")
    assert(read <= admitted.map(_.rows).sum,
      s"lookup scanned $read rows but only ${admitted.map(_.rows).sum} are in admissible files")

    // a key outside every file's bounds resolves to absent with ZERO scan
    val missRead = recordsRead {
      assert(table.lookup(spark, Seq("zzzz", "nowhere.txt")).forall(_.count() === 0L))
    }
    assert(missRead === 0L, s"out-of-bounds key scheduled a scan of $missRead rows")
  }

  /** Shared scenario for the membership-pruning tests: two batches with
    * INTERLEAVED key populations — even repos k00..k18 in batch 1, odd
    * repos k01..k19 in batch 2. Every file spans the full repo RANGE (so
    * zone maps admit the whole stack) but the key SETS are disjoint —
    * only per-chunk membership evidence can tell the files apart.
    */
  private def membershipPruningScenario(table: LakeTable): Unit = {
    def repo(i: Int, odd: Int) = f"k${(i % 10) * 2 + odd}%02d"
    val even = (1 to 200).map(i => FlatEvent.mk((repo(i, 0), s"p${i % 8}.txt"), i.toLong, "u"))
    val odd = (201 to 400).map(i => FlatEvent.mk((repo(i, 1), s"p${i % 8}.txt"), i.toLong, "u"))
    CdcPipeline.replay(spark, (even ++ odd).toDF(), table, numBatches = 2)
    val ci = table.lastCommit().get

    val key = ("k03", "p5.txt")
    val bucket = Seq(key).toDF("repo", "path")
      .select(pmod(hash(col("repo"), col("path")), lit(4))).head().getInt(0)
    val stack = ci.files.filter(_.bucket == bucket)
    assert(stack.size >= 2, "the scenario needs a multi-file stack")
    // scenario validity: zone maps admit EVERY stack file for this key, so
    // any pruning observed below is the membership evidence's work
    stack.foreach { f =>
      Seq("repo" -> key._1, "path" -> key._2).foreach { case (c, v) =>
        assert(f.stats.get(c).forall { case (mn, mx) => v >= mn && v <= mx },
          s"zone maps must be blind here, but $c bounds of ${f.path} exclude $v")
      }
    }
    // rows the key's file(s) actually hold — the pruned scan's upper bound
    val containing = stack.filter { f =>
      !spark.read.parquet(s"${table.root}/${f.path}")
        .where(col("repo") === key._1).isEmpty
    }
    assert(containing.map(_.rows).sum < stack.map(_.rows).sum,
      "some stack file must lack the key — else the scenario tests nothing")

    var got: Seq[FlatEvent] = Nil
    val read = recordsRead { got = table.lookup(spark, Seq(key._1, key._2)).get.as[FlatEvent].collect().toSeq }
    assert(got === Seq(foldOracle(even ++ odd)(key)), "pruned lookup must return the LWW winner")
    assert(read > 0, "positive control: the admitted file must actually be scanned")
    assert(read <= containing.map(_.rows).sum,
      s"lookup scanned $read rows but the key's own files hold only ${containing.map(_.rows).sum} — " +
        "membership evidence must exclude the other stack files")

    // an absent key INSIDE every file's bounds (zone maps keep everything)
    // is excluded by membership evidence alone: provably absent, ZERO scan
    val missRead = recordsRead {
      assert(table.lookup(spark, Seq("k0z", "p5.txt")).forall(_.count() === 0L))
    }
    assert(missRead === 0L,
      s"in-bounds absent key scheduled a scan of $missRead rows — evidence must prove absence")
  }

  test("lookupMany: a key batch resolves in one pruned scan; all-absent batches scan nothing") {
    val alpha = (1 to 200).map(i => FlatEvent.mk((s"alpha${i % 5}", s"p${i % 8}.txt"), i.toLong, "u"))
    val zeta = (201 to 400).map(i => FlatEvent.mk((s"zeta${i % 5}", s"p${i % 8}.txt"), i.toLong, "u"))
    val table = new LakeTable(tmp(), numBuckets = 4, mergeOnRead = true)
    CdcPipeline.replay(spark, (alpha ++ zeta).toDF(), table, numBatches = 2)
    val oracle = foldOracle(alpha ++ zeta)

    val keys = Seq(Seq[Any]("zeta3", "p5.txt"), Seq[Any]("alpha1", "p2.txt"), Seq[Any]("zeta0", "p0.txt"))
    var got: Seq[FlatEvent] = Nil
    val read = recordsRead {
      got = table.lookupMany(spark, keys).get.as[FlatEvent].collect().toSeq
    }
    assert(got.toSet === keys.map(k => oracle((k(0).toString, k(1).toString))).toSet,
      "the batch must return exactly the requested keys' LWW winners")
    assert(read > 0, "positive control: admitted files must be scanned")
    val total = table.lastCommit().get.files.map(_.rows).sum
    assert(read < total,
      s"batched lookup scanned all $total staged rows — per-key file pruning must apply")

    // mixed present/absent: only the present key's row comes back
    val mixed = table.lookupMany(spark,
      Seq(Seq[Any]("zeta3", "p5.txt"), Seq[Any]("zzzz", "nowhere.txt"))).get
      .as[FlatEvent].collect().toSet
    assert(mixed === Set(oracle(("zeta3", "p5.txt"))))

    // every key provably absent → None/empty with ZERO scan
    val missRead = recordsRead {
      assert(table.lookupMany(spark,
        Seq(Seq[Any]("zzz1", "a.txt"), Seq[Any]("zzz2", "b.txt"))).forall(_.count() === 0L))
    }
    assert(missRead === 0L, s"all-absent batch scheduled a scan of $missRead rows")

    // batch cap: beyond it the answer is a semi-join, not a filter
    intercept[IllegalArgumentException](
      table.lookupMany(spark, (0 to graft.table.LakeTable.MaxLookupKeys).map(i => Seq[Any](s"k$i", "p"))))
  }

  test("membership pruning via dictionary pages: default table, no bloom config needed") {
    // low-cardinality chunks are fully dictionary-encoded; the dictionary
    // page is EXACT membership and parquet writes no bloom at all
    membershipPruningScenario(new LakeTable(tmp(), numBuckets = 4, mergeOnRead = true))
  }

  test("membership pruning via bloom filters: dictionary-fallback files (bloom confs)") {
    // dictionary encoding disabled → every chunk is in the fallback
    // regime high-cardinality keys hit at scale; only the blooms the
    // session asks the parquet writer for can prune here
    val table = new LakeTable(tmp(), numBuckets = 4, mergeOnRead = true)
    val blooms = Seq("repo", "path").flatMap(c => Seq(
      s"parquet.bloom.filter.enabled#$c" -> "true", s"parquet.bloom.filter.expected.ndv#$c" -> "64"))
    withConf(blooms :+ ("parquet.enable.dictionary" -> "false"): _*) {
      membershipPruningScenario(table)
    }
    // positive control: the staged files really carry key blooms, so the
    // pruning above is the bloom branch's doing
    val f = table.lastCommit().get.files.head
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"${table.root}/${f.path}"), new org.apache.hadoop.conf.Configuration()))
    try {
      import scala.jdk.CollectionConverters._
      val chunk = r.getRowGroups.get(0).getColumns.asScala.find(_.getPath.toDotString == "path").get
      assert(chunk.getEncodingStats.hasNonDictionaryEncodedPages, "the key chunk must be dictionary-free")
      assert(r.readBloomFilter(chunk) != null, s"staged file ${f.path} must carry a bloom on `path`")
    } finally r.close()
  }

  test("materialized view: incremental refresh equals direct rebuild at every version; zero groups drop") {
    val log = randomLog(37, 600)
    val table = new LakeTable(tmp(), numBuckets = 8)
    CdcPipeline.replay(spark, log.toDF(), table, numBatches = 4)
    val m = length(col("content"))
    def direct(v: Long): Set[(String, Long, Long)] =
      MaterializedView.build(spark, table, v, Seq("repo"), m, "total_chars").get
        .as[(String, Long, Long)].collect().toSet
    // fold each version's change feed into the view; at every step the
    // incrementally-maintained view must equal a from-scratch rebuild
    var view = MaterializedView.build(spark, table, 1L, Seq("repo"), m, "total_chars").get
    (2L to 4L).foreach { v =>
      view = MaterializedView.refresh(view,
        table.changeFeed(spark, v - 1L, v).get, Seq("repo"), m, "total_chars")
      assert(view.as[(String, Long, Long)].collect().toSet === direct(v), s"at version $v")
    }
    // (repo, path) grain: groups deleted along the way vanish; survivors
    // are exactly the final live keys, each with n_rows == 1
    val pv = MaterializedView.refresh(
      MaterializedView.build(spark, table, 1L, Seq("repo", "path"), lit(1), "m").get,
      table.changeFeed(spark, 1L, 4L).get, Seq("repo", "path"), lit(1), "m")
    assert(pv.select("repo", "path").as[(String, String)].collect().toSet ===
      tableState(table).keys.toSet)
    assert(pv.where(col("n_rows") =!= 1L).count() === 0)
    // plan shape: the delta aggregate is ONE exchange with a map-side
    // partial (O(changed groups) rows cross the wire, never the feed)
    val feedLike = Seq(("r1", "insert", 5), ("r1", "delete", 3), ("r2", "update_postimage", 7))
      .toDF("repo", "_change_type", "len")
    val dPlan = MaterializedView.delta(feedLike, Seq("repo"), col("len"), "s")
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllMatchIn(dPlan).size === 1,
      s"delta must be one partial-aggregated exchange:\n$dPlan")
    assert(dPlan.contains("partial"), s"delta must combine map-side:\n$dPlan")
  }

  test("materialized view as a LakeTable: refreshEvents through the exactly-once merge converge") {
    val log = randomLog(41, 600)
    val base = new LakeTable(tmp(), numBuckets = 8)
    CdcPipeline.replay(spark, log.toDF(), base, numBatches = 4)
    // (repo, path)-grain view with measure 1: deletes net groups to zero,
    // so the event stream exercises both the 'u' and 'd' arms
    val viewTable = new LakeTable(tmp(), numBuckets = 4, keyCols = Seq("repo", "path"))
    val boot = MaterializedView.build(spark, base, 1L, Seq("repo", "path"), lit(1), "m").get
      .select(col("repo"), col("path"), col("n_rows"), col("m"),
        lit("u").as("op"), format_string("v%010d", lit(1L)).as("commit"),
        lit(1L).as("lsn"), pmod(hash(col("repo"), col("path")), lit(4)).as("part"),
        lit(1L).as("ts_ms"))
    CdcApply.applyBatch(spark, viewTable, boot, batchId = 1)
    (2L to 4L).foreach { v =>
      val st = viewTable.snapshot(spark).get.select("repo", "path", "n_rows", "m")
      val ev = MaterializedView.refreshEvents(st, base.changeFeed(spark, v - 1L, v).get,
        Seq("repo", "path"), lit(1), "m", version = v)
      CdcApply.applyBatch(spark, viewTable, ev, batchId = v)
      // redelivery of the same batch is fenced — exactly-once
      val r = CdcApply.applyBatch(spark, viewTable, ev, batchId = v)
      assert(!r.committed)
    }
    val got = viewTable.snapshot(spark).get
      .select("repo", "path", "n_rows", "m").as[(String, String, Long, Long)].collect().toSet
    val want = tableState(base).keys.toSet.map((k: (String, String)) => (k._1, k._2, 1L, 1L))
    assert(got === want)
  }

  test("commit-log storage seam: the engine is green against the in-memory backend") {
    // the commit log (schema history + offset store) reads/writes through
    // CommitStore; swapping the file backend for the in-memory one must
    // change NOTHING about engine semantics — replay, fences, time
    // travel, change feed and expiry all run through the seam
    val log = randomLog(53, 400)
    val table = new LakeTable(tmp(), numBuckets = 4,
      commitStore = Some(new graft.table.InMemoryCommitStore))
    CdcPipeline.replay(spark, log.toDF(), table, numBatches = 4)
    assert(tableState(table) === foldOracle(log))
    // the metadata genuinely lives in the backend, not on disk
    assert(!Files.isDirectory(java.nio.file.Paths.get(table.root, "_commits")),
      "in-memory backend must not write _commits/ files")
    // exactly-once fence still holds
    val r = CdcApply.applyBatch(spark, table,
      log.take(100).toDF(), batchId = 0)
    assert(!r.committed && r.reason == "batchId-fenced")
    // history surface through the seam
    assert(table.commitVersions() === (1L to 4L))
    assert(table.snapshotAt(spark, 2L).nonEmpty)
    assert(table.changeFeed(spark, 2L, 4L).nonEmpty)
    // tags ride the seam too (round-5 review): in-memory backend keeps
    // them off disk, and the expiry clamp sees them
    table.tag("seam-keep", 2L)
    assert(!Files.isDirectory(java.nio.file.Paths.get(table.root, "_refs")),
      "in-memory backend must not write _refs/ files")
    assert(table.snapshotAtTag(spark, "seam-keep").nonEmpty)
    val (dropped0, _) = table.expireSnapshots(keepLast = 1)
    assert(dropped0 === 1 && table.commitVersions() === (2L to 4L),
      "tagged version must clamp seam-routed expiry")
    assert(table.dropTag("seam-keep") && table.tags().isEmpty)
    val (droppedCommits, _) = table.expireSnapshots(keepLast = 2)
    assert(droppedCommits === 1 && table.commitVersions() === (3L to 4L))
    assert(tableState(table) === foldOracle(log), "state intact after seam-routed expiry")
  }

  test("avg + count-distinct views: range-fold catch-up equals the direct aggregate at every point") {
    // lang varies per event so updates CHANGE a key's lang — the
    // value-level state must track distinct-value births and deaths, not
    // just row counts
    val log = randomLog(47, 600).zipWithIndex.map { case (e, i) => e.copy(lang = s"k${i % 3}") }
    val base = new LakeTable(tmp(), numBuckets = 8)
    val avgDv = MaterializedView.DerivedView(
      new LakeTable(tmp(), numBuckets = 4, keyCols = Seq("repo")),
      Seq("repo"), length(col("content")), "total_chars")
    val langDv = MaterializedView.distinctView(
      new LakeTable(tmp(), numBuckets = 4, keyCols = Seq("repo", "lang")),
      Seq("repo"), "lang")
    def checkPoint(label: String): Unit = {
      MaterializedView.maintain(spark, base, avgDv)
      MaterializedView.maintain(spark, base, langDv)
      val m = length(col("content")).cast("long")
      val want = base.snapshot(spark).get.groupBy("repo")
        .agg(count(lit(1)).as("n_rows"), sum(m).as("total_chars"),
          (sum(m).cast("double") / count(lit(1)).cast("double")).as("avg_chars"),
          countDistinct(col("lang")).as("n_langs"))
        .as[(String, Long, Long, Double, Long)].collect().toSet
      val got = MaterializedView.withAvg(
          avgDv.table.snapshot(spark).get.select("repo", "n_rows", "total_chars"),
          "total_chars", "avg_chars")
        .join(MaterializedView.distinctCounts(
          langDv.table.snapshot(spark).get, Seq("repo"), "n_langs"), Seq("repo"))
        .as[(String, Long, Long, Double, Long)].collect().toSet
      assert(got === want, s"$label: derived avg/distinct views diverged from the direct aggregate")
    }
    // wave 1: two base commits folded by ONE maintain (range fold), then
    // wave 2 — catch-up parity at every interleaved point
    CdcPipeline.replay(spark, log.take(300).toDF(), base, numBatches = 2)
    checkPoint("after wave 1 (2-version range fold)")
    CdcPipeline.replay(spark, log.drop(300).toDF(), base,
      numBatches = 2, startBatchId = 2)
    checkPoint("after wave 2")
    // the distinct state holds per-(repo, lang) multiplicities — the
    // distinct count is O(live pairs), never a base rescan
    val pairs = langDv.table.snapshot(spark).get
    assert(pairs.where(col("n_rows") <= 0L).count() === 0, "dead value rows must be deleted")
  }

  test("materialized max/min view: optimistic delta + suspect recount equals direct rebuild") {
    val log = randomLog(43, 600)
    val table = new LakeTable(tmp(), numBuckets = 8)
    CdcPipeline.replay(spark, log.toDF(), table, numBatches = 4)
    val m = length(col("content"))
    for (minInstead <- Seq(false, true)) {
      var view = MaterializedView.buildMax(spark, table, 1L, Seq("repo"), m, "ext", minInstead).get
      (2L to 4L).foreach { v =>
        view = MaterializedView.refreshMax(spark, table, v, view,
          table.changeFeed(spark, v - 1L, v).get, Seq("repo"), m, "ext", minInstead)
        val want = MaterializedView.buildMax(spark, table, v, Seq("repo"), m, "ext", minInstead)
          .get.as[(String, Long, Long)].collect().toSet
        assert(view.as[(String, Long, Long)].collect().toSet === want, s"v=$v min=$minInstead")
      }
    }
    // deterministic extremum-delete: the group's longest row dies; the
    // suspect recount must surface the runner-up, not keep the stale max
    val t2 = new LakeTable(tmp(), numBuckets = 2)
    val b1 = Seq(
      FlatEvent("r", "a.txt", f"c${1L}%010d", "s", "X" * 30, "c", 0, 1L, 1L),
      FlatEvent("r", "b.txt", f"c${2L}%010d", "s", "X" * 10, "c", 0, 2L, 2L)).toDF()
    CdcApply.applyBatch(spark, t2, b1, batchId = 0)
    val b2 = Seq(FlatEvent("r", "a.txt", f"c${3L}%010d", "s", null, "d", 0, 3L, 3L)).toDF()
    CdcApply.applyBatch(spark, t2, b2, batchId = 1)
    val v1 = MaterializedView.buildMax(spark, t2, 1L, Seq("repo"), length(col("content")), "mx").get
    val v2 = MaterializedView.refreshMax(spark, t2, 2L, v1, t2.changeFeed(spark, 1L, 2L).get,
      Seq("repo"), length(col("content")), "mx")
    // recount reads the base through a BROADCAST semi-join on the (tiny)
    // suspect key set — the base is never shuffled for the recount
    val rPlan = v2.queryExecution.executedPlan.toString
    assert(rPlan.contains("BroadcastHashJoin") && rPlan.contains("LeftSemi"),
      s"suspect recount must be a broadcast semi-join:\n$rPlan")
    assert(v2.as[(String, Long, Long)].collect().toSeq === Seq(("r", 1L, 10L)))
  }

  test("clustered compaction: split files carry disjoint key ranges; lookup prunes to ~one file") {
    // wide key space over few buckets + a small session file bound →
    // each bucket's rewrite splits into several files, and compaction
    // sorts because the bound is set
    val rnd = new scala.util.Random(29)
    val keys = for (r <- 0 until 10; p <- 0 until 40) yield (s"repo$r", f"p$p%02d.txt")
    val log = (1 to 1000).map(i => FlatEvent.mk(keys(rnd.nextInt(keys.size)), i.toLong, "u"))
    val table = new LakeTable(tmp(), numBuckets = 4, mergeOnRead = true)
    val before = withConf("spark.sql.files.maxRecordsPerFile" -> "20") {
      CdcPipeline.replay(spark, log.toDF(), table, numBatches = 3)
      val st = tableState(table)
      table.compact(spark)
      st
    }
    assert(tableState(table) === before, "clustered compaction must preserve the state")
    val ci = table.lastCommit().get
    val byBucket = ci.files.groupBy(_.bucket)
    assert(byBucket.values.exists(_.size > 1), "buckets must have split into multiple files")

    // the sorted sequential split makes per-file key bounds ~disjoint: any
    // key is admitted by at most 2 of a bucket's files (boundary overlap)
    def admits(f: graft.table.FileEntry, k: (String, String)): Boolean =
      Seq("repo" -> k._1, "path" -> k._2).forall { case (c, v) =>
        f.stats.get(c).forall { case (mn, mx) => v >= mn && v <= mx }
      }
    before.keys.take(20).foreach { k =>
      val bucket = Seq(k).toDF("repo", "path")
        .select(pmod(hash(col("repo"), col("path")), lit(4))).head().getInt(0)
      val n = byBucket(bucket).count(f => admits(f, k))
      assert(n >= 1 && n <= 2, s"key $k admitted by $n of ${byBucket(bucket).size} files in bucket $bucket")
    }

    // and the scan observable agrees: a lookup reads ≤ 2 split files' rows
    val k0 = before.keys.head
    val read = recordsRead {
      assert(table.lookup(spark, Seq(k0._1, k0._2)).get.as[FlatEvent].collect().toSeq ===
        Seq(before(k0)))
    }
    assert(read > 0, "positive control: the lookup must scan the admitted file(s)")
    assert(read <= 40L, s"lookup scanned $read rows — clustering must bound it to ≤2 20-row files")
  }
}
