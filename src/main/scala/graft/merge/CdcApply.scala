package graft.merge

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Envelope
import graft.operators.Lww
import graft.table.{BatchMetrics, CommitInfo, LakeTable, LogPos, PartMetrics, SchemaEvolution}

/** One microbatch of the CDC apply loop: fence → reduce → merge → commit.
  *
  * This is the Spark-first re-expression of Debezium's sink path
  * (`JdbcChangeEventSink.execute`, `debezium-connector-jdbc/.../JdbcChangeEventSink.java:71-156`):
  * instead of per-record upsert/delete buffers with ordered flushes, the
  * whole batch reduces declaratively to one winner per key (LWW) and merges
  * into the bucketed lake table in a single shuffle.
  *
  * Exactly-once = three fences, checked in order:
  *  1. batchId fence: a batch at-or-below the committed batchId is a no-op
  *     (foreachBatch retry / checkpoint replay);
  *  2. per-source-partition offset watermark: events with lsn ≤ watermark
  *     of their partition were already applied (log replays);
  *  3. truncate fence: events ordered at-or-before the latest truncate are
  *     dead (SURVEY.md §7.3).
  *
  * Tombstone retention: delete winners are kept in the table as op='d' rows
  * so a late cross-partition event *older* than the delete cannot resurrect
  * the key. Reads filter them; compaction can drop tombstones once all
  * source partitions' watermarks pass them.
  *
  * Physical shape (tuned for the 10^10-event north rule — minimum Spark
  * jobs and shuffles per microbatch):
  *
  *  - Job 1 (stats): ONE pass over the batch computes, per source
  *    partition, the event count, max lsn (watermark advance), post-fence
  *    fresh count / max ts, the batch's truncate fence, and the set of
  *    touched buckets — all as conditional aggregates of a single
  *    `groupBy(part)`. The fences themselves are driver-known literals
  *    (`element_at(<watermark map literal>, part)`), so no join is needed.
  *  - Job 2 (merge+stage): the batch reduces to one winner per key with
  *    `Lww.reduceBucketed` — partial aggregate (map-side combine, which
  *    bounds a hot key at one row per map task) → ONE key exchange whose
  *    partition id equals the bucket function when the session's shuffle
  *    partition count is `numBuckets` and AQE coalescing is off;
  *    otherwise one more `repartition(numBuckets, key)` of the winners.
  *    Each task then writes exactly its own bucket file. Copy-on-write
  *    tables full-outer-join the winners against the STORAGE-PARTITIONED
  *    state read (a bucketed scan built from the manifest's file list, zero
  *    state-side exchange — `LakeTable.bucketedState` +
  *    `Lww.mergeCoPartitioned`), or — when the batch rivals the state, or
  *    a touched file predates bucket naming or its key column type (a
  *    key widen, which reconcile now rejects) — reduce state ∪ batch in
  *    one aggregate;
  *    merge-on-read tables skip the state scan entirely and append the
  *    winner files (readers resolve per bucket).
  *  - Metrics ride in the commit ([[graft.table.BatchMetrics]]): Job 1's
  *    stats plus per-partition applied counts, observed in Job 2's result
  *    stage from the winners' `__src` tag (1 = batch side won).
  */
object CdcApply {

  final case class BatchResult(
      committed: Boolean,
      version: Long,
      batchId: Long,
      eventsIn: Long,
      fresh: Long,
      winners: Long, // applied batch winners (keys the batch side won)
      reason: String)

  private def posCol: Column = struct(col("commit"), col("lsn"))
  private def posLit(p: LogPos): Column = struct(lit(p.commit).as("commit"), lit(p.lsn).as("lsn"))

  /** Well-formed-event predicate — the dead-letter-queue contract
    * (`debezium-sink/.../dlq/ErrorReporter.java`, error handlers
    * `pipeline/ErrorHandler.java`): key/position columns present and a
    * known op. Malformed events are side-outputted to `_quarantine`
    * ([[LakeTable.quarantine]]) instead of failing the batch
    * (`errors.tolerance=all` analog); they still advance the offset
    * watermark (they were delivered).
    */
  private def isWellFormed(keyCols: Seq[String]): Column =
    keyCols.map(col(_).isNotNull).reduce(_ && _) &&
      col("commit").isNotNull && col("lsn").isNotNull && col("part").isNotNull &&
      col("op").isin(Envelope.OpRead, Envelope.OpCreate, Envelope.OpUpdate,
        Envelope.OpDelete, Envelope.OpTruncate, Envelope.OpMessage, Envelope.OpTombstone)

  /** Apply one flat-event microbatch to the table. Single-writer (driver).
    *
    * @param fenceByWatermark drop events at-or-below the committed
    *        per-partition offset watermark. Correct ONLY when the transport
    *        delivers each source partition in order (binlog/Kafka semantics
    *        — the reference's restart fence makes the same assumption). For
    *        unordered transports (e.g. a file dump) leave it off: the
    *        tombstone-retaining LWW merge is idempotent on its own, the
    *        fence is a work-skipping optimization.
    */
  def applyBatch(
      spark: SparkSession,
      table: LakeTable,
      batch: DataFrame,
      batchId: Long,
      fenceByWatermark: Boolean = true,
      cacheBatch: Boolean = true,
      fenceByBatchId: Boolean = true): BatchResult = {
    val t0 = System.currentTimeMillis()
    val last = table.lastCommit()
    // Fence 1: idempotent batch replay (exactly-once on restart).
    // fenceByBatchId=false is for out-of-band applies (ad-hoc signal
    // snapshots) that interleave with the stream: they commit WITHOUT
    // advancing the stream's batchId, and convergence (LWW + retained
    // tombstones) makes their redelivery idempotent instead.
    if (fenceByBatchId && last.exists(_.batchId >= batchId))
      return BatchResult(committed = false, last.map(_.version).getOrElse(0L), batchId, 0, 0, 0, "batchId-fenced")
    val commitBatchId = if (fenceByBatchId) batchId else last.map(_.batchId).getOrElse(-1L)

    // The batch is read twice (stats, merge input); cache unless the caller
    // already materialized it (replay caches the whole log once).
    val cached = if (cacheBatch) batch.persist(StorageLevel.MEMORY_AND_DISK) else batch
    try {
      val wm = last.map(_.watermark).getOrElse(Map.empty[Int, Long])
      val oldFence = last.flatMap(_.fence)
      // Fence 2 as a literal map lookup (watermark vector is driver-known
      // and tiny — no broadcast join needed); fence 3 as a literal struct.
      val wmPred: Column =
        if (wm.isEmpty || !fenceByWatermark) lit(true)
        else {
          val w = element_at(typedlit(wm), col("part"))
          w.isNull || col("lsn") > w
        }
      val arrived = oldFence.fold(wmPred)(f => wmPred && posCol > posLit(f))
      val wellFormed = isWellFormed(table.keyCols)
      val freshPred = arrived && wellFormed
      // Malformed rows can null out BOTH predicates (null commit/lsn ⇒ the
      // fences are SQL NULL; null op ⇒ isin() is SQL NULL) — the quarantine
      // gate coalesces both so unknown-arrival / unknown-wellformedness
      // rows are quarantined, never silently dropped while the watermark
      // advances past them.
      val quarantined = coalesce(arrived, lit(true)) && !coalesce(wellFormed, lit(false))
      // Message ('m') events are control-plane passthrough, not row state;
      // they advance offsets but never merge (Envelope.java:37-62).
      val isData = col("op") =!= Envelope.OpTruncate &&
        col("op") =!= Envelope.OpTombstone && col("op") =!= Envelope.OpMessage

      // Job 1: single-pass per-source-partition stats + fences + buckets.
      val stats = cached.groupBy(col("part")).agg(
        count(lit(1)).as("n"),
        max(col("lsn")).as("mx"),
        count(when(freshPred, 1)).as("freshN"),
        count(when(quarantined, 1)).as("badN"),
        max(when(freshPred, col("ts_ms"))).as("maxTs"),
        max(when(freshPred && col("op") === Envelope.OpTruncate, posCol)).as("tf"),
        collect_set(when(freshPred && isData, table.bucketCol)).as("bks")).collect()

      val eventsIn = stats.map(_.getAs[Long]("n")).sum
      val freshCount = stats.map(_.getAs[Long]("freshN")).sum
      val badCount = stats.map(_.getAs[Long]("badN")).sum
      val version = last.map(_.version).getOrElse(0L) + 1
      // DLQ side output, batch keeps going (errors.tolerance=all); keyed by
      // this apply's version, so a re-apply after a failed commit replaces it.
      table.stageQuarantine(Option.when(badCount > 0)(
        cached.where(quarantined).withColumn("__batchId", lit(batchId))), version)
      // Null-part groups (fully-malformed rows) must not advance any
      // partition's watermark: getAs[Int] would unbox null to 0 and fence
      // legitimate part-0 events.
      val partIdx = if (stats.nonEmpty) stats.head.fieldIndex("part") else 0
      val validStats = stats.filter(r => !r.isNullAt(partIdx))
      val wmAdvance = validStats.map(r => r.getAs[Int]("part") -> r.getAs[Long]("mx")).toMap
      val batchFence = stats.flatMap(r => Option(r.getAs[Row]("tf")))
        .map(r => LogPos(r.getString(0), r.getLong(1)))
        .reduceOption((a, b) => a.max(b))
      val newFence = (oldFence.toSeq ++ batchFence.toSeq)
        .reduceOption((a, b) => a.max(b))
      val newWm = (wm.keySet ++ wmAdvance.keySet).map { p =>
        p -> math.max(wm.getOrElse(p, Long.MinValue), wmAdvance.getOrElse(p, Long.MinValue))
      }.toMap
      def summary(applied: Map[Int, Long]): Option[BatchMetrics] =
        Some(BatchMetrics(t0, validStats.map { r =>
          val part = r.getAs[Int]("part")
          part -> PartMetrics(r.getAs[Long]("n"), r.getAs[Long]("freshN"), r.getAs[Long]("badN"),
            applied.getOrElse(part, 0L), Option(r.getAs[java.lang.Long]("maxTs")).map(_.toLong))
        }.toMap))

      if (freshCount == 0 && batchFence.isEmpty) {
        // Metadata-only commit: advance the batchId + watermark fences.
        // The TABLE schema does not evolve — no data arrived, so a wider
        // batch schema (e.g. a multi-table fan-out slice that routed zero
        // rows here) must not leak into this table's history, nor be
        // checked against it; the reference evolves on records, not on
        // batch shape.
        table.commit(CommitInfo(version, commitBatchId, newWm, newFence,
          last.map(_.schemas).getOrElse(Seq(cached.schema.json)), last.map(_.schemaIdx).getOrElse(0),
          last.map(_.files).getOrElse(Nil)), prev = last, metrics = summary(Map.empty))
        return BatchResult(committed = true, version, batchId, eventsIn, 0, 0, "metadata-only")
      }

      // Schema reconciliation at the batch boundary (flush-on-schema-change,
      // ReducedRecordBuffer.java:57-62 → our microbatch boundary).
      val evolved = last.fold(cached.schema)(ci =>
        SchemaEvolution.reconcile(ci.schema, cached.schema, table.keyCols))
      val evolvedJson = evolved.json
      val oldSchemas = last.map(_.schemas).getOrElse(Nil)
      val (schemas, schemaIdx) = oldSchemas.indexOf(evolvedJson) match {
        case -1 => (oldSchemas :+ evolvedJson, oldSchemas.size)
        case i  => (oldSchemas, i)
      }

      // Touched buckets (truncate touches every bucket — the fence must be
      // applied to, i.e. rewrite, all of them).
      val touched: Set[Int] =
        if (batchFence.isDefined) (0 until table.numBuckets).toSet
        else stats.flatMap(_.getSeq[Int](stats.head.fieldIndex("bks"))).toSet

      // Job 2: storage-partitioned merge. Batch side: ONE LWW reduce laid
      // out one-partition-per-bucket (Lww.reduceBucketed: partition-id ==
      // bucket-id, see LakeTable.stage contract). State side: bucketed
      // scan of the touched buckets' files — NO shuffle (the scan reports
      // the on-disk HashPartitioning; LakeTable.bucketedState). The
      // full-outer winner-pick join is co-partitioned, so the whole merge
      // moves only the batch over the wire — state ≫ batch at 10^10
      // events no longer re-shuffles every microbatch.
      val dataEvents = cached.where(freshPred && isData)
      val aligned = SchemaEvolution.align(dataEvents, evolved)
      val alignedFenced = batchFence.fold(aligned)(f => aligned.where(posCol > posLit(f)))

      val hasStateFiles = last.exists(_.files.exists(f => touched.contains(f.bucket)))
      // Physical-path choice from EXACT cardinalities (state rows come
      // from the manifest's footer counts; batch rows from the stats
      // pass): the storage-partitioned join saves shuffling the state but
      // pays a hash build over the batch winners, so when the batch
      // rivals the state (bulk loads, replays) one union+reduce aggregate
      // is cheaper (measured ~12% on an 8M replay), while state ≫ batch
      // strongly favors the join (1.55× wall, 14× less shuffle). Unknown
      // counts (-1, pre-upgrade files) conservatively count as large.
      val stateRowCounts = last.map(_.files.filter(f => touched.contains(f.bucket)).map(_.rows)).getOrElse(Nil)
      val stateRows = if (stateRowCounts.exists(_ < 0)) Long.MaxValue else stateRowCounts.sum
      val preferJoin = stateRows > 2 * freshCount
      val fastState: Option[DataFrame] =
        if (!hasStateFiles || table.mergeOnRead || !preferJoin) None
        else last.flatMap(ci => table.bucketedState(spark, ci, Some(touched), evolved))
          .map(st => batchFence.fold(st)(f => st.where(posCol > posLit(f))))

      def reduceBucketed(in: DataFrame): DataFrame =
        Lww.reduceBucketed(in, table.keyCols, table.numBuckets)

      // Winners carry __src (1 = the batch side won the key) so the
      // applied-winner metric falls out of the merged result.
      val merged =
        if (table.mergeOnRead) {
          // Merge-on-read: append ONLY the batch's winners — no state
          // scan, no rewrite; readers resolve LWW across each bucket's
          // file stack (LakeTable.resolved). O(batch) apply regardless of
          // table size — the incremental-regime answer to copy-on-write
          // amplification.
          reduceBucketed(alignedFenced).withColumn("__src", lit(1))
        } else if (!hasStateFiles || fastState.isDefined) {
          val batchW = reduceBucketed(alignedFenced)
          fastState match {
            case Some(st) => Lww.mergeCoPartitioned(st, batchW, table.keyCols)
            case None     => batchW.withColumn("__src", lit(1))
          }
        } else {
          // Union+reduce: chosen when the batch rivals the state (see
          // preferJoin above), or as the fallback when bucketedState
          // declines the touched files — a file predates bucket naming,
          // or a key column was widened before such widens were rejected.
          // Shuffles state once; the rewrite names the touched buckets'
          // files, putting them back on the join path.
          val tagged = alignedFenced.withColumn("__src", lit(1))
          val st = last.flatMap(ci => table.snapshotRaw(spark, ci, Some(touched))).get
          val stAligned = SchemaEvolution.align(st, evolved).withColumn("__src", lit(0))
          val stFenced = batchFence.fold(stAligned)(f => stAligned.where(posCol > posLit(f)))
          reduceBucketed(stFenced.unionAll(tagged))
        }
      // Applied winners per source partition, counted in the write's result
      // stage (after the exchange: a retried task cannot count twice). A
      // fresh event always has a part, so there is one to count.
      val parts = validStats.map(_.getAs[Int]("part")).toSeq
      val appliedObs = Observation()
      val counted = parts.map(p =>
        count(when(col("__src") === 1 && col("part") === p, 1)).as(s"p$p"))
      val observed = merged.observe(appliedObs, counted.head, counted.tail: _*)

      // attempt = version keeps the staging directory unique per commit:
      // an out-of-band apply (fenceByBatchId=false) shares the stream's
      // batchId, and mode(overwrite) on a shared dir would delete files the
      // other commit's manifest still references.
      val staged = table.stage(observed.drop("__src"), batchId, schemaIdx, attempt = version)
      val appliedRow = appliedObs.get
      val applied = parts.map(p => p -> appliedRow(s"p$p").asInstanceOf[Long]).toMap
      // CoW replaces the touched buckets' files; MoR appends (prior files
      // stay live and are shadowed per key at read time until compaction).
      val untouchedFiles =
        if (table.mergeOnRead) last.map(_.files).getOrElse(Nil)
        else last.map(_.files.filterNot(f => touched.contains(f.bucket))).getOrElse(Nil)
      table.commit(CommitInfo(version, commitBatchId, newWm, newFence, schemas, schemaIdx,
        untouchedFiles ++ staged), prev = last, metrics = summary(applied))

      // Between-batch maintenance (single-writer slot): depth-triggered
      // partial compaction keeps MoR read fan-in bounded by rewriting only
      // the buckets whose stack outgrew autoCompactDepth.
      if (table.autoCompactDepth > 0)
        table.compactDeepBuckets(spark, table.autoCompactDepth)

      BatchResult(committed = true, version, batchId, eventsIn, freshCount, applied.values.sum, "merged")
    } finally {
      if (cacheBatch) cached.unpersist()
    }
  }
}
