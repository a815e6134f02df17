package graft

import java.nio.file.Files
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.merge.CdcApply
import graft.table.LakeTable

/** Property-based convergence specs (SURVEY.md §5 item 1), raw ScalaCheck
  * driven from ScalaTest (the offline cache has scalacheck only, no
  * scalatestplus bridge):
  *
  *  1. replay of the log under ANY batching converges to the sequential
  *     fold oracle;
  *  2. ANY cross-partition arrival order that preserves per-partition
  *     order (the binlog/Kafka delivery contract) converges, with the
  *     watermark fence on, and a full re-replay stays a no-op;
  *  3. LWW reduction distributes over arbitrary splits:
  *     reduce(a ∪ b) == reduce(reduce(a) ∪ reduce(b)).
  *
  * Cases are kept small (each case is several Spark jobs); the generators
  * still cover deletes, truncates, re-creates and duplicate replays.
  */
class ReplayPropertySpec extends SparkSpec {
  import spark.implicits._

  private def check(name: String, prop: Prop, cases: Int = 5): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases), prop)
    assert(res.passed, s"$name: ${res.status}")
  }

  private val keys = for (r <- 0 until 3; p <- 0 until 4) yield (s"repo$r", s"p$p.txt")

  private def genLog(withTruncate: Boolean): Gen[List[FlatEvent]] = for {
    n <- Gen.choose(20, 90)
    ops <- Gen.listOfN(n, Gen.frequency(
      (4, Gen.const("c")), (8, Gen.const("u")), (2, Gen.const("r")),
      (3, Gen.const("d")), (if (withTruncate) 1 else 0, Gen.const("t"))))
    ks <- Gen.listOfN(n, Gen.oneOf(keys))
    dup <- Gen.listOfN(n, Gen.choose(0, 4)) // ~20% duplicate replays
  } yield {
    val evs = ops.zip(ks).zipWithIndex.map { case ((op, k), i) => FlatEvent.mk(k, i + 1L, op) }
    evs ++ evs.zip(dup).collect { case (e, 0) => e }
  }

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

  test("replay under ANY batching converges to the fold oracle (both table modes)") {
    // both reduce plans: the shared session's repartition fallback, and the
    // single-exchange plan of AQE-off sessions with shuffle partitions ==
    // numBuckets (the benchmark's and tuned deployments' plan)
    for (exactPlan <- Seq(false, true)) {
      check(s"any-batching exactPlan=$exactPlan", Prop.forAll(genLog(withTruncate = true),
        Gen.listOfN(3, Gen.choose(0.0, 1.0)), Gen.oneOf(false, true),
        Gen.oneOf(0L, 3L)) { (log, cutsRaw, mor, maxRows) =>
        val fileBound = "spark.sql.files.maxRecordsPerFile" -> maxRows.toString
        log.isEmpty || withConf((if (exactPlan) exactReduceConf(4) else Nil) :+ fileBound: _*) {
          val table = new LakeTable(Files.createTempDirectory("prop").toString,
            numBuckets = 4, mergeOnRead = mor)
          val cuts = cutsRaw.map(c => (c * log.size).toInt).sorted
          val batches = (0 +: cuts :+ log.size).sliding(2).collect { case Seq(a, b) => log.slice(a, b) }.toSeq
          batches.zipWithIndex.foreach { case (b, i) =>
            // empty slices skipped: batchId gaps are legal (Spark can skip ids)
            if (b.nonEmpty) CdcApply.applyBatch(spark, table, b.toDF(), batchId = i)
          }
          tableState(table) == foldOracle(log)
        }
      }, cases = 8)
    }
  }

  test("ANY arrival order preserving per-partition order converges; re-replay is a no-op") {
    check("any-arrival-order", Prop.forAll(genLog(withTruncate = false), Gen.long) { (log, seed) =>
      log.isEmpty || {
        val rnd = new scala.util.Random(seed)
        // deduplicate exact replays, then interleave the per-partition
        // queues randomly — per-partition order kept, global order not
        val queues = scala.collection.mutable.Map.empty[Int, List[FlatEvent]] ++
          log.distinct.groupBy(_.part).view.mapValues(_.sortBy(_.lsn).toList).toMap
        val arrival = scala.collection.mutable.ArrayBuffer.empty[FlatEvent]
        while (queues.nonEmpty) {
          val p = queues.keys.toSeq(rnd.nextInt(queues.size))
          val (h :: t) = queues(p): @unchecked
          arrival += h
          if (t.isEmpty) queues.remove(p) else queues(p) = t
        }
        val table = new LakeTable(Files.createTempDirectory("prop").toString, numBuckets = 4)
        val half = arrival.size / 2
        CdcApply.applyBatch(spark, table, arrival.take(half).toSeq.toDF(), batchId = 0)
        CdcApply.applyBatch(spark, table, arrival.drop(half).toSeq.toDF(), batchId = 1)
        val files = table.lastCommit().get.files.toSet
        // replaying everything again: watermark-fenced, no data rewritten
        CdcApply.applyBatch(spark, table, arrival.toSeq.toDF(), batchId = 2)
        table.lastCommit().get.files.toSet == files &&
          tableState(table) == foldOracle(log)
      }
    })
  }

  test("LWW reduction distributes over ANY split") {
    check("reduce-distributes", Prop.forAll(genLog(withTruncate = false),
      Gen.choose(0.0, 1.0)) { (log, cut) =>
      log.isEmpty || {
        val (a, b) = log.splitAt((cut * log.size).toInt)
        val lhs = graft.operators.Lww.reduce(log.toDF()).as[FlatEvent].collect().sortBy(_.lsn)
        val ra = graft.operators.Lww.reduce(a.toDF())
        val rb = graft.operators.Lww.reduce(b.toDF())
        val rhs = graft.operators.Lww.reduce(ra.unionAll(rb)).as[FlatEvent].collect().sortBy(_.lsn)
        lhs.toSeq == rhs.toSeq
      }
    })
  }
}
