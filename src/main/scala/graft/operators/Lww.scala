package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Envelope

/** Last-writer-wins reduction: keep only the latest event per key, ordered
  * by (commit, lsn).
  *
  * Reference semantics: `ReducedRecordBuffer.add` keeps the latest record
  * per key Struct (`debezium-connector-jdbc/.../ReducedRecordBuffer.java:48-115`);
  * the position total order is `BinlogHistoryRecordComparator.java:109-137`.
  *
  * One plan: `groupBy(key).agg(max_by(row, (commit, lsn)))`. Catalyst
  * plans a partial aggregate BEFORE the shuffle (map-side combine), so with
  * duplication factor d the shuffle moves ~1/d of the events, and a hot
  * key's events collapse to one row per map task before the exchange — the
  * partial combine is what bounds skew (the DS2 argument, PAPERS.md).
  *
  * Deterministic: the (commit, lsn) struct order is total per key, and ties
  * can only be exact duplicate replays (identical rows).
  */
object Lww {

  private def pos: Column = struct(col("commit"), col("lsn"))

  /** Reduce a flat change log (key cols + commit/lsn + payload) to the
    * winning event per key. Aggregate-based: map-side partial combine.
    */
  def reduce(df: DataFrame, keyCols: Seq[String] = Envelope.keyCols): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(df.columns.map(col): _*), pos).as("__w"))
      .select(col("__w.*"))

  /** [[reduce]] with the output laid out as exactly `numBuckets` hash-by-key
    * partitions: partition id == `pmod(hash(keys), numBuckets)`, the
    * [[graft.table.LakeTable]] bucket — the [[graft.table.LakeTable.stage]]
    * contract.
    *
    * The plan is always HashAggregate(partial) → Exchange(keys,
    * `spark.sql.shuffle.partitions`) → HashAggregate(final). When that
    * exchange provably IS the bucket layout ([[bucketAligned]]) the
    * winners are returned as they are: one shuffle for reduce + bucket
    * layout combined. Otherwise a `repartition(numBuckets, keys)` of the
    * winners (≤1 row per key, after the partial combine) enforces the
    * layout by construction. In that case `hash(keys)` joins the grouping
    * keys: a function of the key, so the groups are unchanged, but the
    * reduce exchange can then never equal `HashPartitioning(keys,
    * numBuckets)` — Spark elides a repartition whose input already has
    * that exact partitioning, and under AQE the surviving reduce exchange
    * may be coalesced, which would break partition id == bucket.
    */
  def reduceBucketed(df: DataFrame, keyCols: Seq[String], numBuckets: Int): DataFrame = {
    val winners = reduceKeyed(df, keyCols)
    if (bucketAligned(winners, keyCols, numBuckets)) winners
    else
      reduceKeyed(df.withColumn("__h", hash(keyCols.map(col): _*)), keyCols :+ "__h")
        .drop("__h")
        .repartition(numBuckets, keyCols.map(col): _*)
  }

  /** `groupBy(keyCols).agg(max_by)` in the input's column order. Key
    * columns pass through the aggregate as the grouping attributes (NOT
    * re-extracted from the winner struct): the output then still carries
    * the input's or the exchange's HashPartitioning, so a downstream
    * co-partitioned join/write needs no further exchange. Extracting keys
    * from the struct would mint fresh attributes and silently discard the
    * partitioning (one extra shuffle).
    */
  private[graft] def reduceKeyed(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val others = df.columns.filterNot(keyCols.contains)
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(others.map(col): _*), pos).as("__w"))
      .select(df.columns.map(c => if (keyCols.contains(c)) col(c) else col(s"__w.$c").as(c)).toIndexedSeq: _*)
  }

  /** Whether `winners`' partition id is provably the bucket id.
    *
    * False when the session cannot guarantee it: shuffle partition count
    * ≠ numBuckets, or AQE partition coalescing active (an AQEShuffleRead
    * merging post-shuffle partitions would break partition-id==bucket).
    * Otherwise checked against the PHYSICAL plan, not inferred from conf:
    * the result's outputPartitioning must be exactly
    * `HashPartitioning(keyCols, numBuckets)`. The plan check is the real
    * guard: a groupBy plans NO exchange when its input already satisfies
    * ClusteredDistribution (Catalyst accepts a hash layout on any SUBSET
    * of the grouping keys at ANY partition count), in which case the
    * partition id is not the bucket function and writing it as buckets
    * would silently corrupt every later co-partitioned merge.
    * Cost note: the check plans the reduce subtree once on the driver
    * (single-digit ms on the shallow cached-batch lineages of the apply
    * path; the composed merge re-plans at action time regardless) —
    * accepted: it is the only guard that cannot drift from what Spark
    * actually executes.
    */
  private def bucketAligned(winners: DataFrame, keyCols: Seq[String], numBuckets: Int): Boolean = {
    val conf = winners.sparkSession.sessionState.conf
    val aqeCoalesce = conf.getConfString("spark.sql.adaptive.enabled", "true").toBoolean &&
      conf.getConfString("spark.sql.adaptive.coalescePartitions.enabled", "true").toBoolean
    val shufflePartitions = conf.getConfString("spark.sql.shuffle.partitions", "200").toInt
    shufflePartitions == numBuckets && !aqeCoalesce &&
      (winners.queryExecution.executedPlan.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.numPartitions == numBuckets &&
            h.expressions.length == keyCols.length &&
            h.expressions.zip(keyCols).forall {
              case (a: org.apache.spark.sql.catalyst.expressions.Attribute, k) => a.name == k
              case _ => false
            }
        case _ => false
      })
  }

  /** Merge per-key state against per-key batch winners when BOTH sides are
    * already hash-clustered on the key with the same partition count —
    * state from the manifest-built bucketed scan
    * ([[graft.table.LakeTable.bucketedState]]),
    * batch from [[reduceBucketed]]. Catalyst then plans the full-outer
    * join with ZERO additional exchanges (storage-partitioned-join shape):
    * the only shuffle in the whole merge is the batch side's reduce.
    *
    * Precondition: ≤1 row per key on each side (state is a previous merge
    * output; batchWinners is a completed LWW reduce). The batch wins ties
    * (a tie is an exact duplicate replay, so either row is identical).
    *
    * SHUFFLE_HASH join: keeps the big state side unsorted (hash-join with
    * the small batch as build side) instead of sort-merge sorting millions
    * of state rows per bucket every microbatch.
    */
  def mergeCoPartitioned(
      state: DataFrame,
      batchWinners: DataFrame,
      keyCols: Seq[String] = Envelope.keyCols): DataFrame = {
    val fields = state.columns.toSeq
    require(fields == batchWinners.columns.toSeq,
      s"state/batch schemas must align: $fields vs ${batchWinners.columns.toSeq}")
    val s = state.alias("s")
    val b = batchWinners.alias("b")
    val cond = keyCols.map(k => col(s"s.$k") === col(s"b.$k")).reduce(_ && _)
    val joined = s.join(b.hint("shuffle_hash"), cond, "full_outer")
    val batchWins = col(s"b.${keyCols.head}").isNotNull &&
      (col(s"s.${keyCols.head}").isNull ||
        struct(col("b.commit"), col("b.lsn")) >= struct(col("s.commit"), col("s.lsn")))
    joined.select(
      fields.map(f => when(batchWins, col(s"b.$f")).otherwise(col(s"s.$f")).as(f)) :+
        when(batchWins, lit(1)).otherwise(lit(0)).as("__src"): _*)
  }

  /** Apply semantics after reduction: winners with op 'd' disappear
    * (delete), everything else upserts — the declarative equivalent of the
    * reference's MERGE (`JdbcChangeEventSink.execute`,
    * `debezium-connector-jdbc/.../JdbcChangeEventSink.java:71-156`).
    *
    * Truncate ('t') is table-scoped, not key-scoped: it deletes every key
    * whose winning event is ordered before the latest truncate position
    * (SURVEY.md §7.3). Handled by filtering winners below the truncate
    * fence; a key re-created after the truncate survives. Tombstones
    * (null-value markers trailing a delete) carry no state and are
    * dropped before reduction, as the reference's sink does.
    */
  def applyState(log: DataFrame, keyCols: Seq[String] = Envelope.keyCols): DataFrame = {
    require(log.columns.contains("op"), "applyState expects an 'op' column")
    val log0 = log.where(col("op") =!= Envelope.OpTombstone)
    // Fence: max (commit, lsn) among truncate events, as a 1-row DF
    // cross-joined (broadcast, tiny) — avoids a driver collect.
    val fence = log0.where(col("op") === Envelope.OpTruncate)
      .agg(max(struct(col("commit"), col("lsn"))).as("__fence"))
    val winners = reduce(log0.where(col("op") =!= Envelope.OpTruncate), keyCols)
    winners
      .crossJoin(broadcast(fence))
      .where(col("__fence").isNull || struct(col("commit"), col("lsn")) > col("__fence"))
      .drop("__fence")
      .where(col("op") =!= Envelope.OpDelete)
  }
}
