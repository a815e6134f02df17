package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.core.Envelope
import graft.merge.CdcApply
import graft.merge.CdcApply.BatchResult
import graft.sources.{Notifications, Signals, Snapshot}
import graft.table.{LakeTable, MaterializedView}

/** The engine's run loop — the Spark analog of
  * `AsyncEmbeddedEngine.run()` → coordinator → poll → process → commit
  * (SURVEY.md §3.1). Two modes:
  *
  *  - [[start]]: Structured Streaming over a directory of envelope parquet
  *    files (`readStream` + `foreachBatch`), checkpointed; admission control
  *    via `maxFilesPerTrigger` (the `max.batch.size` analog,
  *    `ChangeEventQueue.java:65-118`).
  *  - [[replay]]: deterministic batch-mode microbatching of a bounded log
  *    (used by specs and the bench; identical apply path).
  */
object CdcPipeline {

  /** Structured Streaming tail of a growing envelope-file directory.
    *
    * @param signalChannel optional control-plane file channel read at each
    *        microbatch boundary (the SignalProcessor dispatch analog,
    *        `pipeline/signal/SignalProcessor.java`, SURVEY.md §2.1), with
    *        the full action set:
    *
    *         - `execute-snapshot`, data = `<parquet path>[#chunks]`:
    *           starts a CHUNKED ad-hoc snapshot; one key-hash chunk is
    *           applied per microbatch boundary, interleaved with streaming
    *           (DBLog-style). Snapshot rows are `op='r'` events at lsn 0
    *           competing through normal LWW on their own `commit`, so
    *           fresher base images win, staler ones lose — re-snapshot
    *           converges, never resurrects a newer delete;
    *         - `pause-snapshot` / `resume-snapshot`: suspend / continue
    *           the chunk train (streaming is NOT paused — as in the
    *           reference, these act on the incremental snapshot);
    *         - `stop-snapshot`: cancel; remaining chunks never apply;
    *         - `log`: print.
    *
    *        Chunk progress persists beside the channel and advances only
    *        AFTER the chunk's commit; signals are marked processed AFTER
    *        the batch — crash redelivery re-applies convergently.
    */
  /** @param maxBytesPerTrigger optional BYTE-based admission cap (a
    *        positive integer byte count, e.g. "268435456") — the
    *        `max.queue.size.in.bytes` analog
    *        (`ChangeEventQueue.java:65-118` sizes admission in bytes when
    *        configured). Spark's file source rejects setting BOTH bounds,
    *        so a byte cap REPLACES the file-count cap.
    * @param views derived view tables kept in sync after every commit
    *        (streaming incremental view maintenance,
    *        [[MaterializedView.maintain]]): each view catches up to the
    *        base head version-by-version, fenced by its own commit
    *        batchId, so a crash between the base and view commits is
    *        healed by the next microbatch (or the next run).
    * @param joinViews join views maintained in the same slot
    *        ([[graft.table.JoinView.maintain]]): each catches BOTH its
    *        bases up (this table is typically one side; the other may
    *        move out-of-band), fenced by the version-PAIR encoded in the
    *        view's commit batchId — crash healing is identical to
    *        `views`. For outer views (`left_outer`/`right_outer`/
    *        `full_outer`) BOTH bases need a first commit before preserved
    *        rows appear null-extended — the sentinel payload needs the
    *        other side's schema (see
    *        [[graft.table.JoinView.maintain]]'s schema-only-commit note).
    * @param postProcessors ordered per-record post-processing chain,
    *        applied to each microbatch's FLATTENED rows (after envelope
    *        unwrap, before the engine apply) — the user-pluggable,
    *        ordered registry the reference wires through
    *        `processors/PostProcessorRegistry.java:29` /
    *        `PostProcessorConfig` (studied, not copied: there it
    *        instantiates `PostProcessor` classes from config and calls
    *        them per emitted record; here each element is a declarative
    *        `DataFrame => DataFrame`, so reselect, column converters,
    *        masking, or any custom hook compose in configured order and
    *        stay inside Catalyst — one fused plan, not N per-record
    *        passes). The chain must preserve the envelope's key/ordering
    *        columns. Batch callers compose the same functions directly
    *        on the frame they pass to [[replay]]/`applyBatch` — the
    *        hooks are plain DataFrame transforms, so no separate
    *        registry is needed there.
    */
  def start(
      spark: SparkSession,
      inputDir: String,
      checkpointDir: String,
      table: LakeTable,
      maxFilesPerTrigger: Int = 16,
      orderedInput: Boolean = false,
      signalChannel: Option[String] = None,
      maxBytesPerTrigger: Option[String] = None,
      views: Seq[MaterializedView.DerivedView] = Nil,
      joinViews: Seq[graft.table.JoinView.DerivedJoinView] = Nil,
      postProcessors: Seq[DataFrame => DataFrame] = Nil): StreamingQuery = {
    val reader = spark.readStream.schema(Envelope.schema())
    val env = maxBytesPerTrigger
      .fold(reader.option("maxFilesPerTrigger", maxFilesPerTrigger))(b =>
        reader.option("maxBytesPerTrigger", b))
      .parquet(inputDir)
    env.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (envBatch: DataFrame, batchId: Long) =>
        val sp = envBatch.sparkSession
        val pending = signalChannel.map(ch => Signals.pending(ch)).getOrElse(Nil)
        pending.foreach { s =>
          val ch = signalChannel.get
          s.`type` match {
            case Signals.ExecuteSnapshot =>
              // data = <parquet path>[#chunks[#chunkExprSql[#condition]]].
              // With an explicit chunk-index SQL expression the chunks
              // filter the source directly (oracle-recomputable
              // membership). WITHOUT one, the source is re-clustered ONCE
              // by key range into `__chunk=N` directories — each chunk
              // read then prunes to exactly its slice instead of
              // re-scanning the table per chunk
              // (`ChunkBoundaryCalculator.java:48-126` reads each PK range
              // once; the old hash-chunk predicate pruned NOTHING, so an
              // m-chunk backfill scanned the table m times). `condition`
              // is an SQL row predicate restricting the snapshot — the
              // reference's `additional-conditions`
              // (`ExecuteSnapshot.java:61-70,88-97`) — applied BEFORE
              // chunking/staging so a conditioned backfill reads only its
              // slice.
              // limit=4: the CONDITION may itself contain '#' (e.g. a LIKE
              // pattern) — it is the last field, so it absorbs the rest.
              val (path, chunks, chunkExpr, cond) = s.data.split("#", 4) match {
                case Array(p, n, e, c) => (p, n.toInt, e, c)
                case Array(p, n, e)    => (p, n.toInt, e, "")
                case Array(p, n)       => (p, n.toInt, "", "")
                case _                 => (s.data, 1, "", "")
              }
              def conditioned(df: DataFrame): DataFrame =
                if (cond.isEmpty) df else df.where(expr(cond))
              // `key:<column>` in the chunk-expression slot = SURROGATE
              // KEY (the signal's `surrogate-key` field, reference
              // `ExecuteSnapshot.java:62-69,118-119`): range-cluster the
              // staging by that column instead of the PK. A missing
              // column is a loud config error, not a silent PK fallback
              // (`AbstractChunkQueryBuilder.java:264-269`).
              val surrogate = if (chunkExpr.startsWith("key:"))
                Some(chunkExpr.stripPrefix("key:").trim) else None
              val indexExpr = if (surrogate.isDefined) "" else chunkExpr
              val staged =
                if (chunks <= 1 || indexExpr.nonEmpty) ""
                else {
                  val dir = ch + ".snapshot-staged"
                  val src = conditioned(sp.read.parquet(path))
                  surrogate.foreach { k =>
                    require(src.columns.contains(k),
                      s"surrogate key \"$k\" doesn't exist in $path (columns: ${src.columns.mkString(", ")})")
                  }
                  val stageKeys = surrogate.map(Seq(_)).getOrElse(table.keyCols)
                  src
                    .repartitionByRange(chunks, stageKeys.map(col): _*)
                    .withColumn("__chunk", spark_partition_id())
                    .write.partitionBy("__chunk").mode("overwrite").parquet(dir)
                  dir
                }
              Signals.initSnapshot(ch, path, chunks, staged, indexExpr, cond)
              Notifications.emit(sp, table.root, Notifications.Started,
                chunks = math.max(chunks, 1), data = path)
            case Signals.PauseSnapshot =>
              Signals.setSnapshotPaused(ch, paused = true)
              Signals.snapshotState(ch).foreach(st =>
                Notifications.emit(sp, table.root, Notifications.Paused, st.chunks, st.next))
            case Signals.ResumeSnapshot =>
              Signals.setSnapshotPaused(ch, paused = false)
              Signals.snapshotState(ch).foreach(st =>
                Notifications.emit(sp, table.root, Notifications.Resumed, st.chunks, st.next))
            case Signals.StopSnapshot =>
              val chunks = Signals.snapshotState(ch).map(_.chunks)
              Signals.clearSnapshot(ch)
              chunks.foreach(c => Notifications.emit(sp, table.root, Notifications.Aborted, c))
            case Signals.SchemaChanges =>
              // data = StructType JSON: patch the table's schema history
              // with a metadata-only commit (SchemaChanges.java:24-80 —
              // user-injected schema-change events; our history is the
              // commit log, so the patch is one commit)
              table.registerSchema(s.data)
            case Signals.Log            => System.err.println(s"[graft signal] ${s.data}")
            case other                  => System.err.println(s"[graft signal] unknown action: $other")
          }
        }
        // One snapshot chunk per batch boundary, interleaved with the
        // stream (DBLog); progress + notifications advance AFTER the
        // chunk's commit (crash redelivery stays convergent and the feed
        // never overstates progress).
        signalChannel.flatMap(Signals.snapshotState).foreach { st =>
          if (!st.paused && st.next < st.chunks) {
            // A range chunk can be EMPTY (repartitionByRange wrote no
            // __chunk=N dir for it) — skip the apply, still advance+notify.
            def conditioned(df: DataFrame): DataFrame =
              if (st.cond.isEmpty) df else df.where(expr(st.cond))
            val chunk: Option[DataFrame] =
              if (st.staged.nonEmpty) {
                // staging already applied the condition
                val dir = java.nio.file.Paths.get(st.staged, s"__chunk=${st.next}")
                if (java.nio.file.Files.isDirectory(dir)) Some(sp.read.parquet(dir.toString))
                else None
              } else if (st.expr.nonEmpty)
                Some(conditioned(sp.read.parquet(st.data)).where(expr(st.expr) === st.next))
              else Some(conditioned(sp.read.parquet(st.data)))
            val fresh = chunk.map { c =>
              CdcApply.applyBatch(sp, table, Snapshot.initial(c, snapshotLsn = 0L),
                batchId, fenceByWatermark = false, fenceByBatchId = false).fresh
            }.getOrElse(0L)
            Signals.advanceSnapshot(signalChannel.get)
            Notifications.emit(sp, table.root, Notifications.InProgress,
              st.chunks, st.next, rowsApplied = fresh)
            if (st.next + 1 >= st.chunks)
              Notifications.emit(sp, table.root, Notifications.Completed, st.chunks)
          }
        }
        val flat = Envelope.unwrap(envBatch).drop("__deleted")
        val processed = postProcessors.foldLeft(flat)((d, p) => p(d))
        CdcApply.applyBatch(sp, table, processed, batchId, fenceByWatermark = orderedInput)
        views.foreach(v => MaterializedView.maintain(sp, table, v))
        // join views catch BOTH their bases up (version-pair fenced), so
        // the pipeline's table being either side — or the other side
        // moving out-of-band — heals on the next microbatch like the
        // aggregate views above.
        joinViews.foreach(jv => graft.table.JoinView.maintain(sp, jv))
        signalChannel.foreach(ch => Signals.markProcessed(ch, pending.map(_.id)))
        ()
      }
      .start()
  }

  /** Multi-table streaming runner: ONE envelope stream fanned out to a
    * routed catalog per microbatch — the many-captured-tables deployment
    * shape (a Debezium connector streams every included table into
    * per-table topics; here the route column, computed by any router SMT
    * expression over the flattened rows, plays the topic name and
    * [[graft.merge.MultiTable.applyBatch]] plays the per-topic sinks).
    * Exactly-once stays PER TABLE: each table fences on its own commit
    * batchId, so a checkpoint-replayed microbatch re-applies as a
    * catalog-wide no-op, and `parallelism` > 1 applies independent
    * tables concurrently from the driver pool (small slices keep the
    * cluster full instead of serializing T driver round-trips).
    */
  def startRouted(
      spark: SparkSession,
      inputDir: String,
      checkpointDir: String,
      registry: graft.merge.MultiTable.Registry,
      routeExpr: String,
      maxFilesPerTrigger: Int = 16,
      orderedInput: Boolean = false,
      parallelism: Int = 1,
      atomicCatalog: Boolean = false): StreamingQuery = {
    val env = spark.readStream.schema(Envelope.schema())
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
    env.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (envBatch: DataFrame, batchId: Long) =>
        val sp = envBatch.sparkSession
        val flat = Envelope.unwrap(envBatch).drop("__deleted")
          .withColumn("__route", expr(routeExpr))
        // atomicCatalog: publish one catalog manifest after all tables'
        // applies, giving catalog-level readers all-or-nothing batch
        // visibility (MultiTable.snapshotAllAtomic) — the reference's
        // txmetadata + transactional-sink pairing, lake-native.
        if (atomicCatalog)
          graft.merge.MultiTable.applyBatchAtomic(sp, registry, flat, "__route", batchId,
            fenceByWatermark = orderedInput, parallelism = parallelism)
        else
          graft.merge.MultiTable.applyBatch(sp, registry, flat, "__route", batchId,
            fenceByWatermark = orderedInput, parallelism = parallelism)
        ()
      }
      .start()
  }

  /** Deterministic microbatch replay of a bounded flat log: split into
    * contiguous lsn ranges and apply sequentially. Converges to the same
    * state for ANY batching (LWW is order-independent across batches).
    */
  def replay(
      spark: SparkSession,
      log: DataFrame,
      table: LakeTable,
      numBatches: Int = 4,
      startBatchId: Long = 0L,
      onBatch: BatchResult => Unit = _ => ()): Seq[BatchResult] = {
    // Materialize the log once; every batch slice then reads the cache
    // instead of recomputing the source derivation per slice.
    val cachedLog = log.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val bounds = cachedLog.agg(min(col("lsn")), max(col("lsn"))).collect().head
      if (bounds.isNullAt(0)) return Nil
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val width = math.max(1L, (hi - lo) / numBatches + 1)
      (0 until numBatches).map { i =>
        val (a, b) = (lo + i * width, lo + (i + 1) * width)
        val slice = cachedLog.where(col("lsn") >= a && col("lsn") < b)
        val r = CdcApply.applyBatch(spark, table, slice, startBatchId + i, cacheBatch = false)
        onBatch(r) // observers (e.g. the lineage feed) see each commit as it lands
        r
      }
    } finally cachedLog.unpersist()
  }
}
