package graft

import java.nio.file.Files
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.merge.{CdcApply, MultiTable}
import graft.merge.MultiTable.{Registry, TableDef}
import graft.streaming.CdcPipeline
import graft.table.LakeTable

/** Per-batch metrics published inside the apply's commit and read back
  * through `LakeTable.metrics`: applied/dedup counts against a fold
  * oracle on every merge path, fenced/quarantined accounting, commits
  * that must not carry metrics, and the legacy `_metrics` feed.
  */
class CommitMetricsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("commit-metrics").toString

  /** `n` events over 4 × `paths` keys, lsn 1..n (part = lsn % 4). */
  private def log(seed: Int, n: Int, paths: Int): Seq[FlatEvent] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { i =>
      FlatEvent.mk((s"repo${rnd.nextInt(4)}", s"p${rnd.nextInt(paths)}.txt"), i.toLong,
        Seq("c", "u", "u", "r", "d")(rnd.nextInt(5)))
    }
  }

  private def pos(e: FlatEvent): (String, Long) = (e.commit, e.lsn)
  private def winners(es: Seq[FlatEvent]): Map[(String, String), FlatEvent] =
    es.groupBy(e => (e.repo, e.path)).map { case (k, g) => k -> g.maxBy(pos) }

  /** Fold oracle of one fresh batch over the raw state `prior` left
    * (tombstones retained): part → (fresh, applied). A batch winner is
    * applied when it beats the key's state row; merge-on-read appends
    * every batch winner, so there all of them count.
    */
  private def oracle(prior: Seq[FlatEvent], batch: Seq[FlatEvent], mor: Boolean): Map[Int, (Long, Long)] = {
    val state = winners(prior)
    val applied = winners(batch).values.filter(w =>
      mor || state.get((w.repo, w.path)).forall(s => Ordering[(String, Long)].gt(pos(w), pos(s))))
      .groupBy(_.part).map { case (p, ws) => p -> ws.size.toLong }
    batch.groupBy(_.part).map { case (p, es) => p -> (es.size.toLong, applied.getOrElse(p, 0L)) }
  }

  /** part → (freshEvents, applied, dedupDropped) of one commit. */
  private def metricsAt(table: LakeTable, version: Long): Map[Int, (Long, Long, Long)] =
    table.metrics(spark).where(col("commitVersion") === version)
      .select("part", "freshEvents", "applied", "dedupDropped").as[(Int, Long, Long, Long)]
      .collect().map { case (p, f, a, d) => p -> (f, a, d) }.toMap

  // Parts {2,3} first, then parts {0,1}: the second batch interleaves with
  // the state in (commit, lsn), so some of its winners lose to state rows.
  for ((path, mor, batchOf) <- Seq[(String, Boolean, Seq[FlatEvent] => Seq[FlatEvent])](
      ("CoW storage-partitioned join", false, _.take(12)),
      ("CoW union+reduce", false, identity),
      ("MoR append", true, identity)))
    test(s"applied and dedupDropped match the fold oracle: $path") {
      val all = log(11, 2400, paths = 100)
      val prior = all.filter(_.part >= 2)
      val batch = batchOf(all.filter(_.part < 2))
      val table = new LakeTable(tmp(), numBuckets = 8, mergeOnRead = mor)
      CdcApply.applyBatch(spark, table, prior.toDF(), batchId = 0)
      // the join path is chosen when the touched buckets' state rows exceed
      // twice the batch; union+reduce when the batch rivals the state
      val bucketRows = table.lastCommit().get.files.groupBy(_.bucket).values.map(_.map(_.rows).sum)
      if (!mor) assert(if (batch.size < 20) bucketRows.min > 2 * batch.size
        else bucketRows.sum <= 2 * batch.size)
      val r = CdcApply.applyBatch(spark, table, batch.toDF(), batchId = 1)
      val want = oracle(prior, batch, mor)
      assert(want.values.exists { case (f, a) => f > a }, "fixture must drop some events")
      if (!mor) assert(want.values.map(_._2).sum < winners(batch).size, "fixture must lose some keys")
      assert(metricsAt(table, r.version) ===
        want.map { case (p, (f, a)) => p -> (f, a, f - a) })
      assert(r.winners === want.values.map(_._2).sum)
    }

  test("fenced, quarantined and fresh counts of one batch; quarantine rows match") {
    val first = (1 to 8).map(i => FlatEvent.mk(("r", s"k$i"), i.toLong, "c"))
    val replayed = first.take(5)
    val malformed = Seq(
      FlatEvent.mk(("r", "x"), 20, "c").copy(path = null),
      FlatEvent.mk(("r", "y"), 21, "x"),
      FlatEvent.mk(("r", "z"), 22, "c").copy(op = null))
    val fresh = (30 to 35).map(i => FlatEvent.mk(("r", s"k$i"), i.toLong, "u"))
    val table = new LakeTable(tmp(), numBuckets = 4)
    CdcApply.applyBatch(spark, table, first.toDF(), batchId = 0)
    val r = CdcApply.applyBatch(spark, table, (replayed ++ malformed ++ fresh).toDF(), batchId = 1)
    val m = table.metrics(spark).where(col("commitVersion") === r.version)
      .agg(sum("events"), sum("freshEvents"), sum("quarantined"), sum("fenced")).head()
    assert((m.getLong(0), m.getLong(1), m.getLong(2), m.getLong(3)) === (14L, 6L, 3L, 5L))
    val dlq = table.quarantine(spark).get.where(col("__batchId") === 1)
    assert(dlq.count() === m.getLong(2))
  }

  test("schema patch, restore, compaction and rebucket commits publish no metrics") {
    val table = new LakeTable(tmp(), numBuckets = 4)
    CdcPipeline.replay(spark, log(5, 200, paths = 8).toDF(), table, numBatches = 2)
    val rows = table.metrics(spark).count()
    assert(rows > 0)
    def noNewRows(t: LakeTable): Unit = {
      assert(t.lastCommit().get.metrics.isEmpty)
      assert(t.metrics(spark).count() === rows)
    }
    table.registerSchema(table.lastCommit().get.schema.add("extra", StringType).json)
    noNewRows(table)
    table.restore(1L)
    noNewRows(table)
    table.compact(spark)
    noNewRows(table)
    noNewRows(table.rebucket(spark, 8).get)
  }

  test("a batch whose data all lies behind its own truncate commits applied = 0") {
    val table = new LakeTable(tmp(), numBuckets = 4)
    def behindTruncate(lo: Int): Seq[FlatEvent] =
      (lo until lo + 5).map(i => FlatEvent.mk(("r", s"k$i"), i.toLong, "c")) :+
        FlatEvent.mk(("r", "t"), lo + 10L, "t")
    // first on an empty table, then over state; a lost observation would
    // block the apply, so each runs under a deadline
    def check(lo: Int, batchId: Long): Unit = {
      val r = Await.result(Future(
        CdcApply.applyBatch(spark, table, behindTruncate(lo).toDF(), batchId)), 3.minutes)
      assert(r.committed && r.reason === "merged" && r.winners === 0)
      assert(metricsAt(table, r.version).values.map(_._2).toSet === Set(0L))
      assert(table.snapshot(spark).forall(_.isEmpty))
    }
    check(1, batchId = 0)
    CdcApply.applyBatch(spark, table, Seq(FlatEvent.mk(("r", "s"), 50, "c")).toDF(), batchId = 1)
    check(100, batchId = 2)
  }

  test("MultiTable.applyBatch(parallelism = 2): per-table counts are correct") {
    val evs = log(21, 400, paths = 12)
    val reg = new Registry(tmp(), Seq(TableDef("a", numBuckets = 4), TableDef("b", numBuckets = 4)))
    val routed = evs.toDF().withColumn("route",
      when(col("repo").isin("repo0", "repo1"), "a").otherwise("b"))
    val res = MultiTable.applyBatch(spark, reg, routed, "route", 0, parallelism = 2)
    for (name <- Seq("a", "b")) {
      val slice = evs.filter(e => (if (Set("repo0", "repo1")(e.repo)) "a" else "b") == name)
      val want = oracle(Nil, slice, mor = false)
      assert(metricsAt(reg(name), res(name).version) ===
        want.map { case (p, (f, a)) => p -> (f, a, f - a) }, name)
    }
  }

  test("a legacy _metrics parquet feed is still returned") {
    val table = new LakeTable(tmp(), numBuckets = 4)
    Seq((0L, 1L, 3, 10L, 7L, 3L, 5L, 9L)).toDF("batchId", "commitVersion", "part", "freshEvents",
      "applied", "dedupDropped", "commitLagMs", "batchWallMs")
      .write.parquet(s"${table.root}/_metrics")
    CdcApply.applyBatch(spark, table, Seq(FlatEvent.mk(("r", "a"), 1, "c")).toDF(), batchId = 1)
    val m = table.metrics(spark).orderBy("batchId").collect()
    assert(m.length === 2)
    assert(m(0).getAs[Long]("freshEvents") === 10L && m(0).isNullAt(m(0).fieldIndex("events")))
    assert(m(1).getAs[Long]("applied") === 1L && m(1).getAs[Long]("events") === 1L)
  }
}
