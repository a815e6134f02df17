package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import graft.core.Envelope
import graft.operators.Lww

case class FlatEvent(repo: String, path: String, commit: String, lang: String,
                     content: String, op: String, part: Int, lsn: Long, ts_ms: Long)

object FlatEvent {
  def mk(key: (String, String), lsn: Long, op: String): FlatEvent = {
    val content = if (op == "d" || op == "t") null else s"content ${key._1}/${key._2} @$lsn"
    FlatEvent(key._1, key._2, f"c$lsn%010d", "scala", content, op, (lsn % 4).toInt, lsn, 1700000000000L + lsn)
  }
}

/** Sequential fold oracle: apply events one at a time in (commit, lsn)
  * order — the reference's per-record semantics — and compare against the
  * engine's set-oriented LWW apply.
  */
class LwwSpec extends SparkSpec {
  import spark.implicits._

  private def foldOracle(events: Seq[FlatEvent]): Map[(String, String), FlatEvent] =
    events.sortBy(e => (e.commit, e.lsn)).foldLeft(Map.empty[(String, String), FlatEvent]) {
      case (state, e) => e.op match {
        case "d" => state - ((e.repo, e.path))
        case "t" => Map.empty
        case _   => state + ((e.repo, e.path) -> e)
      }
    }

  private def engineState(events: Seq[FlatEvent]): Map[(String, String), FlatEvent] =
    Lww.applyState(events.toDF()).as[FlatEvent].collect()
      .map(e => (e.repo, e.path) -> e).toMap

  private def randomLog(seed: Int, n: Int, withTruncate: Boolean): Seq[FlatEvent] = {
    val rnd = new scala.util.Random(seed)
    val keys = for (r <- 0 until 4; p <- 0 until 6) yield (s"repo$r", s"p$p.txt")
    val evs = (1 to n).map { i =>
      val op =
        if (withTruncate && rnd.nextInt(40) == 0) "t"
        else Seq("c", "u", "u", "r", "d")(rnd.nextInt(5))
      FlatEvent.mk(keys(rnd.nextInt(keys.size)), i.toLong, op)
    }
    // duplicate replays of a random subset (exactly-once scenario)
    evs ++ evs.filter(_ => rnd.nextInt(5) == 0)
  }

  /** The physical plan Spark will run (AQE's initial plan when adaptive). */
  private def physicalPlan(df: org.apache.spark.sql.DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }

  test("reduceBucketed: partition id == bucket, partial combine, both plans") {
    val n = 8
    val keys = Seq("repo", "path")
    // hot-key input: half the events land on one key
    val hot = (1 to 300).map(i => FlatEvent.mk(("repo0", "p0.txt"), 1000L + i, "u"))
    val log = randomLog(7, 300, withTruncate = false) ++ hot
    val maxByKey = log.groupBy(e => (e.repo, e.path)).map { case (k, es) => k -> es.maxBy(e => (e.commit, e.lsn)) }
    val regimes = Seq(
      ("exact (AQE off, shuffle.partitions == numBuckets)", exactReduceConf(n), 1),
      ("fallback (AQE on, shuffle.partitions != numBuckets)",
        Seq("spark.sql.adaptive.enabled" -> "true", "spark.sql.shuffle.partitions" -> "4"), 2))
    for ((regime, conf, exchanges) <- regimes) withConf(conf: _*) {
      val out = Lww.reduceBucketed(log.toDF(), keys, n)
      val misplaced = out.where(spark_partition_id() =!= pmod(hash(keys.map(col): _*), lit(n))).count()
      assert(misplaced === 0, s"$regime: partition id must be the bucket")
      assert(out.as[FlatEvent].collect().map(e => (e.repo, e.path) -> e).toMap === maxByKey, regime)

      val plan = physicalPlan(out)
      val shuffles = plan.collect { case e: ShuffleExchangeLike => e }
      assert(shuffles.size === exchanges, s"$regime:\n$plan")
      // the first exchange to run is the one with no exchange below it;
      // the partial (map-side combine) max_by must feed it, capping the
      // hot key at one row per map task
      val first = shuffles.filter(_.child.find(_.isInstanceOf[ShuffleExchangeLike]).isEmpty)
      assert(first.size === 1, s"$regime:\n$plan")
      val partialBelow = first.head.child.find {
        case a: BaseAggregateExec =>
          a.aggregateExpressions.exists(e => e.mode == Partial && e.aggregateFunction.prettyName == "max_by")
        case _ => false
      }
      assert(partialBelow.isDefined, s"$regime: partial_max_by must run below the first exchange:\n$plan")
    }

    // input already hash-partitioned on a SUBSET of the keys at the right
    // count: Catalyst plans NO reduce exchange (ClusteredDistribution
    // accepts subsets), so the plan check must reject it and the winners
    // get repartitioned into the bucket layout
    withConf(exactReduceConf(n): _*) {
      val pre = log.toDF().repartition(n, col("repo"))
      val out = Lww.reduceBucketed(pre, keys, n)
      assert(out.where(spark_partition_id() =!= pmod(hash(keys.map(col): _*), lit(n))).count() === 0)
      assert(out.as[FlatEvent].collect().map(e => (e.repo, e.path) -> e).toMap === maxByKey)
    }
  }

  test("reduce keeps exactly one winner per key, the max (commit,lsn)") {
    val log = randomLog(1, 200, withTruncate = false)
    val reduced = Lww.reduce(log.toDF()).as[FlatEvent].collect()
    assert(reduced.map(e => (e.repo, e.path)).distinct.length === reduced.length)
    val maxByKey = log.groupBy(e => (e.repo, e.path)).map { case (k, es) =>
      k -> es.maxBy(e => (e.commit, e.lsn))
    }
    assert(reduced.map(e => (e.repo, e.path) -> e).toMap === maxByKey)
  }

  test("applyState converges to the sequential fold oracle (no truncate)") {
    for (seed <- 1 to 5) {
      val log = randomLog(seed, 300, withTruncate = false)
      assert(engineState(log) === foldOracle(log), s"seed=$seed")
    }
  }

  test("applyState converges with truncate events (table-scoped fence)") {
    for (seed <- 10 to 14) {
      val log = randomLog(seed, 300, withTruncate = true)
      assert(engineState(log) === foldOracle(log), s"seed=$seed")
    }
  }

  test("reduction is idempotent and merge-associative: reduce(a ++ b) == reduce(reduce(a) ++ reduce(b))") {
    val log = randomLog(30, 400, withTruncate = false)
    val (a, b) = log.splitAt(log.size / 2)
    val lhs = Lww.reduce((a ++ b).toDF()).as[FlatEvent].collect().sortBy(_.lsn)
    val ra = Lww.reduce(a.toDF()).as[FlatEvent]
    val rb = Lww.reduce(b.toDF()).as[FlatEvent]
    val rhs = Lww.reduce(ra.unionAll(rb).toDF()).as[FlatEvent].collect().sortBy(_.lsn)
    assert(lhs.toSeq === rhs.toSeq)
  }

  test("envelope wrap/unwrap round-trips the flat log") {
    val log = randomLog(40, 100, withTruncate = false)
    val env = Envelope.wrap(log.toDF())
    // delete events carry only `before`, upserts only `after` (Envelope.java:304-345)
    assert(env.where(col("op") === "d" && col("after").isNotNull).count() === 0)
    assert(env.where(col("op") =!= "d" && (col("after").isNull || col("before").isNotNull)).count() === 0)
    val back = Envelope.unwrap(env, rewriteDeleted = true)
    assert(back.where(col("__deleted") === "true").count() === log.count(_.op == "d"))
    val flat = back.drop("__deleted").as[FlatEvent].collect().sortBy(e => (e.lsn, e.repo, e.path))
    // content of deletes is null in both representations
    assert(flat.toSeq === log.sortBy(e => (e.lsn, e.repo, e.path)).toSeq)
  }

  test("unwrapAdvanced: add.fields/add.headers placement + delete modes") {
    val log = randomLog(77, 120, withTruncate = false)
    val env = Envelope.wrap(log.toDF())
    val out = Envelope.unwrapAdvanced(env,
      deleteMode = "rewrite",
      addFields = Seq("op", "source.lsn", "ts_ms:event_ts", "transaction.id"),
      addHeaders = Seq("source.part"))
    // unqualified keeps the bare name; qualified becomes __struct_field;
    // `:rename` wins; headers land in the map under the header prefix
    assert(Seq("__op", "__source_lsn", "__event_ts", "__transaction_id",
      "headers", "__deleted").forall(out.columns.contains))
    val rows = out.select(col("repo"), col("path"), col("__source_lsn"),
        col("__op"), col("__event_ts"), col("__transaction_id"),
        element_at(col("headers"), "__source_part").as("hp"), col("__deleted"))
      .collect()
    assert(rows.length === log.size)
    rows.foreach { r =>
      val e = log.find(x => x.repo == r.getString(0) && x.path == r.getString(1)
        && x.lsn.toString == r.getString(2)).get
      assert(r.getString(3) === e.op)
      assert(r.getString(4) === e.ts_ms.toString)
      assert(r.isNullAt(5)) // transaction block is null in the synthetic log
      assert(r.getString(6) === e.part.toString)
      assert(r.getString(7) === (e.op == "d").toString)
    }
    // drop mode removes delete rows and the flag; none keeps both w/o flag
    val dropped = Envelope.unwrapAdvanced(env, deleteMode = "drop")
    assert(dropped.count() === log.count(_.op != "d"))
    assert(!dropped.columns.contains("__deleted"))
    val none = Envelope.unwrapAdvanced(env, deleteMode = "none")
    assert(none.count() === log.size && !none.columns.contains("__deleted"))
    // routeByField emits the routing column from the payload
    val routed = Envelope.unwrapAdvanced(env, routeByField = Some("repo"))
    assert(routed.where(col("__route") === col("repo")).count() === log.size)
  }
}
