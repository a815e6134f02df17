package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{CreateNamedStruct, InSet, Or}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import graft.streaming.CdcPipeline
import graft.table.LakeTable

/** `LakeTable.lookupMany`'s row filter: its plan shape at every batch
  * size, typed keys under a non-UTC session time zone, and loud failure on
  * an admitted file whose footer cannot be read.
  */
class LookupManySpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("lookupmany").toString

  private def foldOracle(events: Seq[FlatEvent]): Map[(String, String), FlatEvent] =
    events.sortBy(e => (e.commit, e.lsn)).foldLeft(Map.empty[(String, String), FlatEvent]) {
      case (state, e) => e.op match {
        case "d" => state - ((e.repo, e.path))
        case _   => state + ((e.repo, e.path) -> e)
      }
    }

  /** 1,200 keys over 20 repos, every 13th deleted by a later event. */
  private val log: Seq[FlatEvent] = {
    val keys = (0 until 1200).map(i => (s"repo${i % 20}", s"f$i.txt"))
    keys.zipWithIndex.map { case (k, i) => FlatEvent.mk(k, i + 1L, "c") } ++
      keys.zipWithIndex.collect { case (k, i) if i % 13 == 0 => FlatEvent.mk(k, 2000L + i, "d") }
  }

  /** 1,000 written keys (some deleted) and enough never-written ones to make `n`. */
  private def lookupKeys(n: Int): Seq[Seq[Any]] =
    ((0 until math.min(n, 1000)).map(i => Seq[Any](s"repo${i % 20}", s"f$i.txt")) ++
      (0 until n - math.min(n, 1000)).map(i => Seq[Any](s"repo${i % 20}", s"absent$i.txt")))

  for (mor <- Seq(false, true); n <- Seq(64, LakeTable.MaxLookupKeys)) {
    val layout = if (mor) "merge-on-read" else "copy-on-write"
    test(s"$layout lookupMany of $n keys filters with one InSet over the key struct, no Or") {
      val table = new LakeTable(tmp(), numBuckets = 8, mergeOnRead = mor)
      CdcPipeline.replay(spark, log.toDF(), table, numBatches = 3)
      val keys = lookupKeys(n)
      val df = table.lookupMany(spark, keys).get

      val conds = df.queryExecution.optimizedPlan.collect { case f: Filter => f.condition }
      val structSets = conds.flatMap(_.collect { case s: InSet if s.child.isInstanceOf[CreateNamedStruct] => s })
      assert(structSets.size === 1, s"expected one key-struct InSet in:\n${df.queryExecution.optimizedPlan}")
      assert(structSets.head.hset.size === n)
      assert(!conds.exists(_.exists(_.isInstanceOf[Or])), "the key filter must not be an Or chain")
      if (!mor) {
        val pushed = df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s.metadata("PushedFilters") }
        assert(pushed.nonEmpty && pushed.forall(p => p.contains("In(repo,") && p.contains("In(path,")),
          s"the copy-on-write scan must push an In per key column: $pushed")
      }

      val oracle = foldOracle(log)
      val expected = keys.flatMap(k => oracle.get((k(0).toString, k(1).toString))).toSet
      assert(expected.nonEmpty && expected.size < n, "positive control: some keys live, some not")
      assert(df.as[FlatEvent].collect().toSet === expected)
    }
  }

  test("timestamp and date keys given as values or strings match under a non-UTC session zone") {
    val zone = "America/Los_Angeles"
    withConf("spark.sql.session.timeZone" -> zone) {
      val base = java.time.Instant.parse("2024-03-09T20:00:00Z")
      val day0 = java.time.LocalDate.parse("2024-03-08")
      val rows = (0 until 24).map { i =>
        (java.sql.Timestamp.from(base.plusSeconds(i * 3600L * 5)), java.sql.Date.valueOf(day0.plusDays(i % 3)),
          s"v$i", f"c$i%010d", i.toLong, "c", 0, 1700000000000L + i)
      }
      val table = new LakeTable(tmp(), numBuckets = 8, keyCols = Seq("ts", "d"))
      graft.merge.CdcApply.applyBatch(spark,
        table, rows.toDF("ts", "d", "payload", "commit", "lsn", "op", "part", "ts_ms"), batchId = 0)

      val local = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
        .withZone(java.time.ZoneId.of(zone))
      val live = table.snapshot(spark).get
      def payloads(df: DataFrame): Set[String] = df.select("payload").as[String].collect().toSet
      for (i <- Seq(0, 7, 23)) {
        val (ts, d) = (rows(i)._1, rows(i)._2)
        val asStrings = Seq[Any](local.format(ts.toInstant), d.toString)
        for (key <- Seq(Seq[Any](ts, d), asStrings, Seq[Any](ts, d.toString), Seq[Any](asStrings.head, d))) {
          val got = payloads(table.lookupMany(spark, Seq(key)).get)
          assert(got === Set(s"v$i"), s"lookup of $key")
          assert(got === payloads(live.where(col("ts") === lit(key(0)) && col("d") === lit(key(1)))),
            s"lookup of $key vs a filter of the live snapshot")
        }
      }
      // all 24 keys in one call, half as strings
      val all = rows.zipWithIndex.map { case (r, i) =>
        if (i % 2 == 0) Seq[Any](r._1, r._2) else Seq[Any](local.format(r._1.toInstant), r._2.toString)
      }
      assert(payloads(table.lookupMany(spark, all).get) === payloads(live))
    }
  }

  test("lookupMany fails naming an admitted file whose footer cannot be read") {
    val root = tmp()
    val table = new LakeTable(root, numBuckets = 4, mergeOnRead = true)
    CdcPipeline.replay(spark, log.take(400).toDF(), table, numBatches = 2)
    val key = ("repo3", "f3.txt")
    val bucket = Seq(key).toDF("repo", "path").select(table.bucketCol).as[Int].head()
    val files = table.lastCommit().get.files.filter(_.bucket == bucket)
    assert(files.nonEmpty)
    files.foreach { f =>
      val p = Paths.get(root, f.path)
      val bytes = Files.readAllBytes(p)
      Files.write(p, java.util.Arrays.copyOf(bytes, bytes.length / 2))
    }
    // a fresh handle: no footer evidence memoized from the replay
    val reopened = new LakeTable(root, numBuckets = 4, mergeOnRead = true)
    val e = intercept[IllegalStateException](reopened.lookupMany(spark, Seq(Seq[Any](key._1, key._2))))
    assert(files.exists(f => e.getMessage.contains(f.path)), e.getMessage)
  }
}
