package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Envelope
import graft.sources.{ChangeLog, DocumentLog, Snapshot}
import graft.operators.{DocumentCdc, Lww, Serdes, Transforms}
import graft.streaming.CdcPipeline
import graft.table.{JoinView, LakeTable, MaterializedView}
import graft.tdp.{Corpus, Dedup, Multimodal, Similarity, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator from SURVEY.md §2 (CDC engine) or
  * the training-data-pipeline suite (dedup / similarity / text analysis /
  * multimodal); `oracleSql` holds the ANSI-SQL twin DuckDB runs on the
  * same parquet. Column names AND types are kept aligned between both
  * sides (the driver sorts columns by name and hashes values).
  */
object SparkEntry {
  private val cte = ChangeLog.Sql.cte

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_cdc_apply_state")(spark, "/root/testdata/sf0.001")

  private def payload: Seq[Column] =
    Seq(col("repo"), col("path"), col("commit"), col("lang"), col("content"))

  private def withSha(df: DataFrame): DataFrame =
    df.select(payload :+ sha2(col("content"), 256).as("content_sha"): _*)

  private def maxLsn(df: DataFrame): Long =
    df.agg(max(col("lsn"))).collect()(0).getLong(0)

  /** One entry per implemented operator from SURVEY.md §2 (+ tdp suite). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1 source: synthetic change-log derivation (envelope payload, flat)
    "q01_cdc_changelog" -> ((s, dir) => ChangeLog.flat(s, dir)),
    // §2.3 batch reduction: per-key LWW winner (ReducedRecordBuffer semantics)
    "q02_cdc_lww_reduce" -> ((s, dir) => Lww.reduce(ChangeLog.flat(s, dir))),
    // §2.4 apply: final table state after upsert/delete fold + sha256 invariant
    "q03_cdc_apply_state" -> ((s, dir) =>
      withSha(Lww.applyState(ChangeLog.flat(s, dir)))),
    // §3/§7 full engine: microbatched replay into the transactional
    // LakeTable (idempotent commits, tombstone retention, LWW merge),
    // then read the converged snapshot back. Same oracle as q03 — proves
    // the engine's table state equals the declarative fold.
    "q04_cdc_replay_e2e" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-e2e").toString
      val table = new LakeTable(root, numBuckets = 16)
      CdcPipeline.replay(s, ChangeLog.flat(s, dir), table, numBatches = 6)
      withSha(table.snapshot(s).get)
    }),
    // Merge-on-read replay: apply appends only per-batch winner files
    // (zero state scan); the snapshot read resolves LWW across each
    // bucket's file stack, and depth-triggered partial compaction
    // (autoCompactDepth) rewrites any bucket whose stack outgrows 3 files
    // between batches. Same oracle as q03/q04 — both table modes converge
    // to the declarative fold, with or without mid-replay compactions.
    "q45_cdc_mor_replay" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-mor").toString
      val table = new LakeTable(root, numBuckets = 16, mergeOnRead = true, autoCompactDepth = 3)
      CdcPipeline.replay(s, ChangeLog.flat(s, dir), table, numBatches = 6)
      withSha(table.snapshot(s).get)
    }),
    // §7.0 item 9: per-partition lineage metrics of a replay.
    "q05_cdc_metrics" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-metrics").toString
      val table = new LakeTable(root, numBuckets = 16)
      CdcPipeline.replay(s, ChangeLog.flat(s, dir), table, numBatches = 1)
      table.metrics(s)
        .select(col("part"), col("freshEvents"), col("applied"), col("dedupDropped"))
    }),

    // §2.2 ExtractNewRecordState: envelope → flat row + __deleted rewrite.
    "q06_smt_unwrap" -> ((s, dir) =>
      Envelope.unwrap(ChangeLog.envelopes(s, dir))),
    // §2.2 column mapping SMTs: salted hash-mask, truncation, constant mask.
    "q07_smt_mask" -> ((s, dir) => {
      val base = ChangeLog.flat(s, dir).where(col("op") =!= Envelope.OpDelete)
      val hashed = Transforms.hashColumn(base, "lang", salt = "s1")
      val trunc = Transforms.truncateColumn(
        hashed.withColumn("content_trunc", col("content")), "content_trunc", 40)
      Transforms.maskColumn(trunc.withColumn("content_masked", col("content")), "content_masked")
        .select(col("repo"), col("path"), col("lsn"), col("lang").as("lang_hash"),
          col("content_trunc"), col("content_masked"))
    }),
    // §2.2 routing SMTs: skipped-ops filter + content-based router +
    // by-logical-table router (shard collapse + discriminator).
    "q08_smt_route" -> ((s, dir) => {
      val noDel = Transforms.skipOperations(ChangeLog.flat(s, dir), Seq(Envelope.OpDelete))
      val routed = Transforms.contentBasedRouter(noDel, "concat('sink_', lang)", "route")
      Transforms.byLogicalTableRouter(routed, col("repo"), "[0-9]+", "", "logical_table", "shard")
        .select(col("repo"), col("path"), col("lsn"), col("op"),
          col("route"), col("logical_table"), col("shard"))
    }),
    // §2.2 ExtractChangedRecordState: changed-field list per update, from
    // before-images built with a lag window over the per-key history.
    "q09_smt_changed_fields" -> ((s, dir) => {
      val log = ChangeLog.base(s, dir)
      val w = Window.partitionBy(col("repo"), col("path")).orderBy(col("commit"), col("lsn"))
      val fields = Envelope.baseRowSchema.fieldNames.toSeq
      val env = log.select(
        col("repo"), col("path"), col("lsn"), col("op"),
        struct(fields.map(f => lag(col(f), 1).over(w).as(f)): _*).as("before"),
        struct(fields.map(col): _*).as("after"))
      env.where(col("op") === Envelope.OpUpdate)
        .select(col("repo"), col("path"), col("lsn"),
          Transforms.changedFields(env).as("changed_fields"))
    }),
    // §2.1 initial snapshot ∪ stream: consistent snapshot at offset S
    // emitted as op='r' events, streamed tail unioned, LWW-converged —
    // equals the full-log fold (snapshot-then-stream correctness,
    // `shouldConsumeAllEventsFromDatabaseUsingSnapshot`).
    "q10_cdc_snapshot_stream" -> ((s, dir) => {
      val log = ChangeLog.base(s, dir)
      val snapAt = maxLsn(log) / 2
      val state = Lww.applyState(log.where(col("lsn") <= snapAt))
        .select(payload: _*)
      val snap = Snapshot.initial(state, snapAt)
      withSha(Lww.applyState(snap.unionByName(log.where(col("lsn") > snapAt))))
    }),
    // §2.1 incremental snapshot (DBLog): chunked re-read with
    // watermark-window dedup — streamed events inside a chunk's window
    // evict the chunk's stale rows.
    "q11_cdc_incremental_snapshot" -> ((s, dir) => {
      val log = ChangeLog.base(s, dir)
      val mx = maxLsn(log)
      val rows = Lww.applyState(log).select(payload: _*)
      val chunkCol = pmod(regexp_extract(col("path"), "f([0-9]+)", 1).cast("long"), lit(4))
      Snapshot.incremental(rows, log, numChunks = 4,
        windowFor = i => (mx * i / 8, mx * (i + 1) / 8),
        chunkExpr = Some(chunkCol))
        .select(payload :+ col("lsn"): _*)
    }),
    // §2.2 outbox EventRouter: unpack outbox rows, route by aggregate
    // type, with `table.fields.additional.placement` — one extra field per
    // placement (value / header / envelope), flattened to scalars for the
    // oracle compare.
    "q12_smt_outbox" -> ((s, dir) => {
      val outbox = Corpus.documents(s, dir).select(
        col("lang").as("aggregatetype"),
        col("doc_id").cast("string").as("aggregateid"),
        lit("DocUpdated").as("event_type"),
        col("text").as("payload"),
        lit(Envelope.OpCreate).as("op"),
        col("doc_id").as("lsn"),
        (lit(1700000000000L) + col("doc_id")).as("ts_ms"),
        length(col("text")).cast("long").as("n_chars"),
        col("lang"),
        lit("v1").as("schema_ver"))
      Transforms.outboxRouter(outbox, additionalFields = Seq(
        ("n_chars", "value"), ("lang", "header"), ("schema_ver", "envelope")))
        .select(col("route"), col("key"), col("event_type"), col("payload"),
          col("lsn"), col("ts_ms"), col("n_chars"),
          element_at(col("headers"), "lang").as("hdr_lang"),
          col("additional.schema_ver").as("env_ver"))
    }),
    // §2.4/§7.0-7: schema evolution at batch boundaries — second batch adds
    // an int column; first-batch rows null-fill it on read.
    "q13_cdc_schema_evolution" -> ((s, dir) => {
      val log = ChangeLog.base(s, dir)
      val half = maxLsn(log) / 2
      val root = java.nio.file.Files.createTempDirectory("graft-evo").toString
      val table = new LakeTable(root, numBuckets = 16)
      merge.CdcApply.applyBatch(s, table, log.where(col("lsn") <= half), 0L)
      merge.CdcApply.applyBatch(s, table,
        log.where(col("lsn") > half).withColumn("n_chars", length(col("content"))), 1L)
      table.snapshot(s).get
        .select(payload :+ col("n_chars").cast("long").as("n_chars"): _*)
    }),
    // §2.2 PartitionRouting: stable key→partition routing (engine-portable
    // md5 variant; production path is Murmur3 `Transforms.partitionRouting`).
    "q14_smt_partition_route" -> ((s, dir) =>
      ChangeLog.flat(s, dir)
        .select(col("repo"), col("path")).distinct()
        .withColumn("route", Transforms.stableRoute(concat(col("repo"), lit("|"), col("path")), 16))),
    // §2.2 tombstone emission: delete → trailing null-payload marker.
    "q15_cdc_tombstones" -> ((s, dir) =>
      Transforms.emitTombstones(ChangeLog.flat(s, dir))
        .select(col("repo"), col("path"), col("commit"), col("op"), col("lsn"))),

    // §2.4 maintenance: replay → compact (tombstone GC + schema
    // canonicalization) → snapshot still equals the declarative fold.
    "q16_cdc_compact" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-compact").toString
      val table = new LakeTable(root, numBuckets = 16)
      CdcPipeline.replay(s, ChangeLog.flat(s, dir), table, numBatches = 4)
      table.compact(s, tombstoneRetention = Some(graft.table.LogPos("~", Long.MaxValue)))
      withSha(table.snapshot(s).get)
    }),
    // §2.2 ReselectColumnsPostProcessor: placeholder columns (TOAST analog)
    // patched from converged sink state by key lookup.
    "q17_smt_reselect" -> ((s, dir) => {
      val log = ChangeLog.base(s, dir)
      val state = Lww.applyState(log)
      val events = log.where(col("op") === Envelope.OpUpdate)
        .withColumn("content",
          when(col("lsn") % 5 === 0, lit("__unavailable__")).otherwise(col("content")))
      Transforms.reselectColumns(events, state, Seq("content"), "__unavailable__")
        .select(col("repo"), col("path"), col("lsn"), col("content"))
    }),
    // §2.2 HeaderToValue: map-typed headers copied into value columns.
    "q18_smt_header_to_value" -> ((s, dir) => {
      val withHeaders = ChangeLog.flat(s, dir)
        .withColumn("headers", map(lit("src_db"), lit("repos"), lit("src_lang"), col("lang")))
      Transforms.headerToValue(withHeaders, Seq("src_db", "src_lang"), drop = true)
        .select(col("repo"), col("path"), col("lsn"), col("op"),
          col("src_db"), col("src_lang"))
    }),
    // §2.2 VectorToJsonConverter: embedding vector → portable JSON array.
    "q19_smt_vector_json" -> ((s, dir) =>
      Corpus.embeddings(s, dir)
        .select(col("vec_id"), Transforms.vectorToJson(col("embedding")).as("vec_json"))),

    // §2.3 transaction metadata: BEGIN/END summaries with event counts
    // (TransactionMonitor analog; tx derived as lsn ranges of the log).
    "q33_cdc_tx_metadata" -> ((s, dir) =>
      Transforms.transactionSummary(ChangeLog.base(s, dir),
        (col("lsn") / 10).cast("long"), col("repo"))),
    // §2.3 transaction metadata STREAM: BEGIN/END markers interleaved with
    // data events carrying transaction{id, total_order,
    // data_collection_order} (the TransactionMonitor event shape).
    "q43_cdc_tx_events" -> ((s, dir) =>
      Transforms.transactionEvents(ChangeLog.base(s, dir),
        (col("lsn") / 10).cast("long"), col("repo"))),
    // §2.1 read-only incremental snapshot: watermarks captured from the
    // stream's observed offsets (no signal-table writes) — the
    // BinlogReadOnlyIncrementalSnapshot variant.
    "q44_cdc_readonly_incremental" -> ((s, dir) => {
      val log = ChangeLog.base(s, dir)
      val rows = Lww.applyState(log).select(payload: _*)
      val chunkCol = pmod(regexp_extract(col("path"), "f([0-9]+)", 1).cast("long"), lit(4))
      Snapshot.incrementalReadOnly(rows, log, numChunks = 4, chunkExpr = Some(chunkCol))
        .select(payload :+ col("lsn"): _*)
    }),

    // §2.4 dead-letter queue: malformed events (null key, unknown op) are
    // side-outputted to _quarantine, the batch keeps going
    // (errors.tolerance=all / ErrorReporter analog).
    "q34_cdc_quarantine" -> ((s, dir) => {
      val log = ChangeLog.base(s, dir)
        .withColumn("path", when(col("lsn") % 41 === 0, lit(null).cast("string")).otherwise(col("path")))
        .withColumn("op", when(col("lsn") % 43 === 0, lit("x")).otherwise(col("op")))
      val root = java.nio.file.Files.createTempDirectory("graft-dlq").toString
      val table = new LakeTable(root, numBuckets = 16)
      CdcPipeline.replay(s, log, table, numBatches = 2)
      table.quarantine(s).get
        .select(col("repo"), col("path"), col("lsn"), col("op"))
    }),

    // §2.4 CloudEvents export: change event → CloudEvents-1.0 JSON string.
    "q35_smt_cloudevents" -> ((s, dir) =>
      ChangeLog.base(s, dir)
        .select(col("repo"), col("path"), col("lsn"),
          Transforms.toCloudEvent(Seq("repo", "path", "commit", "lang")).as("cloud_event"))),
    // §2.4 sink insert modes: update-only — LWW winners of the odd-lsn
    // events restricted to keys present in the even-lsn state (the lsn%2
    // split makes keys straddle both sides, so the existing-key join is
    // exercised on a non-empty intersection).
    "q36_sink_update_mode" -> ((s, dir) => {
      val log = ChangeLog.base(s, dir)
      val state = Lww.applyState(log.where(col("lsn") % 2 === 0))
      merge.SinkModes.update(log.where(col("lsn") % 2 === 1), state)
        .select(col("repo"), col("path"), col("commit"), col("lang"), col("content"), col("lsn"))
    }),
    // §2.4 sink insert mode: append-only — every upsert-op event is its own
    // row, no key collapse (audit/history sinks).
    "q37_sink_insert_mode" -> ((s, dir) =>
      merge.SinkModes.insert(ChangeLog.flat(s, dir))
        .select(col("repo"), col("path"), col("commit"), col("lang"), col("content"),
          col("op"), col("lsn"))),
    // §1.4 semantic type layer (JdbcValueConverters analog): a raw
    // Debezium-shaped encoding of the typed events table (epoch-days int,
    // epoch-micros long, ISO-8601-with-offset string, micros-since-
    // midnight, Year, Uuid, Decimal-as-string, Json) is metadata-tagged
    // and converted to Spark-native Date/TimestampNTZ/Decimal columns.
    "q39_semantic_types" -> ((s, dir) => {
      import graft.core.SemanticTypes
      import org.apache.spark.sql.types.{DateType, TimestampType}
      val ev = s.read.parquet(s"$dir/events.parquet")
      val tsUs = unix_micros(col("ts").cast(TimestampType))
      val h = md5(col("event_id").cast("string"))
      val raw = ev.select(
        col("event_id"),
        SemanticTypes.tagged(
          datediff(col("ts").cast(DateType), to_date(lit("1970-01-01"))).cast("int"),
          "d_date", SemanticTypes.Date),
        SemanticTypes.tagged(tsUs, "ts_ntz", SemanticTypes.MicroTimestamp),
        SemanticTypes.tagged(
          concat(date_format(col("ts") + expr("INTERVAL 2 HOURS"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"),
            lit("+02:00")),
          "zts_ntz", SemanticTypes.ZonedTimestamp),
        SemanticTypes.tagged(pmod(tsUs, lit(86400000000L)), "micro_time", SemanticTypes.MicroTime),
        SemanticTypes.tagged(year(col("ts")), "yr", SemanticTypes.Year),
        SemanticTypes.tagged(upper(concat_ws("-",
          substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
          substring(h, 17, 4), substring(h, 21, 12))), "uuid", SemanticTypes.Uuid),
        SemanticTypes.tagged(concat(col("user_id").cast("string"), lit(".25")),
          "dec", SemanticTypes.decimal(18, 2)),
        SemanticTypes.tagged(col("props"), "props_json", SemanticTypes.Json))
      SemanticTypes.convert(raw)
        .withColumn("k_val", get_json_object(col("props_json"), "$.k").cast("long"))
        .drop("props_json")
    }),
    // Multi-table capture (Tables/TableSchema + per-table routed sink):
    // one change log fans out by a router column into two LakeTables with
    // DIFFERENT primary keys — files_en keyed (repo, path), heads_rest
    // keyed (repo) — applied in two microbatches, states unioned back.
    "q38_multi_table" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-multi").toString
      val reg = new merge.MultiTable.Registry(root, Seq(
        merge.MultiTable.TableDef("files_en", Seq("repo", "path"), numBuckets = 8),
        merge.MultiTable.TableDef("heads_rest", Seq("repo"), numBuckets = 4)))
      val log = ChangeLog.base(s, dir)
        .withColumn("route", when(col("lang") === "en", "files_en").otherwise("heads_rest"))
      val mid = maxLsn(log) / 2
      merge.MultiTable.applyBatch(s, reg, log.where(col("lsn") <= mid), "route", batchId = 0)
      merge.MultiTable.applyBatch(s, reg, log.where(col("lsn") > mid), "route", batchId = 1)
      merge.MultiTable.snapshotAll(s, reg).get
        .select(col("sink_table"), col("repo"), col("path"), col("commit"),
          col("lang"), col("content"), col("lsn"))
    }),

    // §2.2 table include/exclude filter: regex over the source table name
    // (include wins over exclude, RelationalTableFilters semantics).
    "q46_smt_table_filter" -> ((s, dir) => {
      val env = ChangeLog.flat(s, dir)
        .withColumn("source_table", concat(lit("files_"), col("lang")))
      Transforms.tableFilter(env, include = Some("files_(en|de)"),
          tableCol = col("source_table"))
        .select(col("repo"), col("path"), col("lsn"), col("op"), col("source_table"))
    }),
    // §2.2 column projection: include/exclude payload column lists; envelope
    // position columns always survive.
    "q47_smt_projection" -> ((s, dir) =>
      Transforms.projectColumns(ChangeLog.flat(s, dir),
        include = Some(Seq("repo", "path", "lang")), exclude = Seq("lang"))),
    // §2.2 scripting filter: arbitrary SQL predicate over the record.
    "q48_smt_scripting_filter" -> ((s, dir) =>
      Transforms.filterExpr(ChangeLog.flat(s, dir),
        "op = 'u' AND length(content) > 80 AND lang IN ('en','fr')")
        .select(col("repo"), col("path"), col("lsn"), col("lang"),
          length(col("content")).cast("long").as("n_chars"))),
    // §2.2 EnforceRecordSize: oversized payloads dropped (skip mode); null
    // payloads (deletes) pass through.
    "q49_smt_record_size" -> ((s, dir) =>
      Transforms.enforceRecordSize(ChangeLog.flat(s, dir), col("content"), maxBytes = 120)
        .select(col("repo"), col("path"), col("lsn"), col("op"),
          octet_length(col("content")).cast("long").as("payload_bytes"))),
    // §2.2 ReadToInsertEvent: snapshot reads re-labelled as inserts
    // (op 'r' -> 'c') for consumers that do not understand 'r'.
    "q50_smt_read_to_insert" -> ((s, dir) => {
      val log = ChangeLog.base(s, dir)
      val mx = maxLsn(log)
      val snap = Snapshot.initial(Lww.applyState(log).select(payload: _*), mx)
      Transforms.readToInsert(snap).select(col("repo"), col("path"), col("op"), col("lsn"))
    }),
    // §2.1 chunked snapshot: PK-range chunked scan (repartitionByRange =
    // the ChunkBoundaryCalculator analog); content is chunk-invariant.
    "q51_cdc_chunked_snapshot" -> ((s, dir) => {
      val state = Lww.applyState(ChangeLog.base(s, dir)).select(payload: _*)
      Snapshot.chunked(state, numChunks = 8, keys = Seq(col("repo"), col("path")))
        .select(payload: _*)
    }),
    // §2.2 ExtractSchemaToNewRecord: schema metadata copied into payload
    // columns (`__debezium.source.column.type` analog).
    "q52_smt_schema_extract" -> ((s, dir) =>
      Transforms.extractSchemaToNewRecord(ChangeLog.flat(s, dir), Seq("content", "lsn"))
        .select(col("repo"), col("path"), col("lsn"),
          col("__content_type"), col("__lsn_type"))),
    // §2.2 TimezoneConverter with per-field include/exclude lists: only the
    // included-and-not-excluded epoch-ms fields are re-rendered in the
    // target zone (Asia/Kolkata: fixed +05:30, DST-free — deterministic).
    "q53_smt_timezone" -> ((s, dir) =>
      Transforms.convertTimezones(ChangeLog.flat(s, dir), "Asia/Kolkata",
          include = Some(Seq("ts_ms", "lsn", "absent_col")), exclude = Seq("lsn"))
        .select(col("repo"), col("path"), col("lsn"),
          date_format(col("ts_ms"), "yyyy-MM-dd HH:mm:ss").as("ts_kolkata"))),

    // ---- training-data pipeline over documents/embeddings ----
    // Exact dedup: content-sha groups, canonical id, copy counts.
    "q20_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(Corpus.docsWithDups(s, dir))),
    // MinHash + LSH banding near-dup candidate pairs with Jaccard estimate.
    "q21_dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLsh(Corpus.docsWithDups(s, dir), bands = 4, rowsPerBand = 4, threshold = 0.7)),
    // SimHash fingerprints (64-bit, md5-projection, one-pass vote fold).
    "q22_dedup_simhash" -> ((s, dir) =>
      Corpus.docsWithDups(s, dir)
        .select(col("doc_id"), Dedup.simhash(col("text")).as("fp"))),
    // SimHash near-dup pairs via hamming-segment banding (exact ≤ 3 bits).
    "q40_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(Corpus.docsWithDups(s, dir), maxHamming = 3)
        .select(col("a"), col("b"), col("hamming").cast("long").as("hamming"))),
    // Exact n-gram Jaccard over MinHash-band-blocked candidate pairs.
    "q23_dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Corpus.docsWithDups(s, dir), threshold = 0.6)),
    // Embedding-cosine near-dup pairs, LSH-blocked, exact-verified.
    "q24_dedup_embedding_cosine" -> ((s, dir) =>
      Dedup.embeddingCosinePairs(Corpus.embsWithDups(s, dir), threshold = 0.98, planes = 6)),
    // Duplicate-cluster resolution: connected components over the LSH
    // near-dup pairs (min-label propagation, O(diameter) rounds) — the
    // step that turns pairwise output into one canonical doc per cluster.
    "q73_dedup_clusters" -> ((s, dir) =>
      Dedup.duplicateClusters(
        Dedup.minhashLsh(Corpus.docsWithDups(s, dir), bands = 4, rowsPerBand = 4, threshold = 0.7))),
    // SemDeDup (Abbas et al. 2023): k-means-cluster-blocked semantic dedup —
    // within-cluster cosine pairs → connected components → keep the member
    // FARTHEST from its centroid (lowest ccos; the paper's rule). Literal
    // centroids (q54's deterministic seeding) keep the oracle exact.
    "q113_semdedup" -> ((s, dir) =>
      Dedup.semDedup(Corpus.embsWithDups(s, dir), nlist = 8, threshold = 0.98)),
    // DSIR (Xie et al. 2023): hashed-unigram importance weights against a
    // target domain (lang='en') + deterministic Gumbel-top-k resample.
    // Logits are integer-quantized (1e-6 nats) so both engines sum exactly.
    "q114_dsir" -> ((s, dir) =>
      tdp.Dsir.resample(
        tdp.Dsir.importance(Corpus.documents(s, dir), col("lang") === "en", buckets = 256),
        k = 200, salt = "dsir1")),
    // SEMANTIC decontamination: corpus vectors whose cosine to ANY
    // eval-set vector ≥ threshold (the embedding-space sibling of the
    // n-gram filter q78 — catches paraphrased leakage). Eval set
    // broadcast; the corpus never shuffles.
    "q121_semantic_decontam" -> ((s, dir) => {
      val evalSet = Corpus.embeddings(s, dir).where(col("vec_id") % 7 === 0)
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding"))
      tdp.Decontamination.semanticContamination(
        Corpus.embsWithDups(s, dir), evalSet, threshold = 0.98)
    }),

    // Incremental JOIN-view maintenance (delta-join IVM off two change
    // feeds, `table/JoinView.scala`): left = the file table keyed
    // (repo, path); right = a per-repo dimension keyed (repo) whose rows
    // are the log's non-delete events (LWW winner = the repo's latest
    // event's lang). The view LakeTable keyed (l_repo, l_path, r_repo)
    // is caught up across INTERLEAVED base versions — each step folds one
    // base's change-feed delta against the other's time-traveled
    // snapshot — and must equal the direct join of the final states.
    "q122_cdc_join_view" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-jv").toString
      val log = ChangeLog.flat(s, dir)
      val left = new LakeTable(s"$root/left", numBuckets = 8)
      val right = new LakeTable(s"$root/right", numBuckets = 4, keyCols = Seq("repo"))
      val view = new LakeTable(s"$root/view", numBuckets = 8,
        keyCols = Seq("l_repo", "l_path", "r_repo"))
      val jv = JoinView.DerivedJoinView(view, left, right,
        leftOn = "repo", rightOn = "repo",
        leftCols = Seq("repo", "path", "lang", "content"),
        rightCols = Seq("repo", "lang"))
      val dim = log.where(col("op") =!= Envelope.OpDelete)
        .select(col("repo"), col("lang"), col("commit"), lit("u").as("op"),
          col("part"), col("lsn"), col("ts_ms"))
      val mid = maxLsn(log) / 2
      CdcPipeline.replay(s, log.where(col("lsn") <= mid), left, numBatches = 1)
      CdcPipeline.replay(s, dim.where(col("lsn") <= mid), right, numBatches = 1)
      JoinView.maintain(s, jv)
      CdcPipeline.replay(s, log.where(col("lsn") > mid), left, numBatches = 1, startBatchId = 1)
      CdcPipeline.replay(s, dim.where(col("lsn") > mid), right, numBatches = 1, startBatchId = 1)
      JoinView.maintain(s, jv)
      view.snapshot(s).get.select(
        col("l_repo"), col("l_path"), col("l_lang"), col("l_content"),
        col("r_repo"), col("r_lang"))
    }),

    // LEFT-OUTER join-view maintenance: the dimension covers only repos
    // whose digit % 3 != 0, so a third of the file table rides
    // null-extended — sentinel rows born by partnerless left deltas and
    // by a join value's LAST partner dying, killed by its FIRST partner
    // arriving. `nullExtended` maps the sentinel back to SQL NULL.
    "q124_cdc_left_join_view" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-ljv").toString
      val log = ChangeLog.flat(s, dir)
      val left = new LakeTable(s"$root/left", numBuckets = 8)
      val right = new LakeTable(s"$root/right", numBuckets = 4, keyCols = Seq("repo"))
      val view = new LakeTable(s"$root/view", numBuckets = 8,
        keyCols = Seq("l_repo", "l_path", "r_repo"))
      val jv = JoinView.DerivedJoinView(view, left, right,
        leftOn = "repo", rightOn = "repo",
        leftCols = Seq("repo", "path", "lang", "content"),
        rightCols = Seq("repo", "lang"),
        joinType = "left_outer")
      val dim = log.where(col("op") =!= Envelope.OpDelete &&
          pmod(regexp_extract(col("repo"), "([0-9]+)", 1).cast("int"), lit(3)) =!= 0)
        .select(col("repo"), col("lang"), col("commit"), lit("u").as("op"),
          col("part"), col("lsn"), col("ts_ms"))
      val mid = maxLsn(log) / 2
      CdcPipeline.replay(s, log.where(col("lsn") <= mid), left, numBatches = 1)
      CdcPipeline.replay(s, dim.where(col("lsn") <= mid), right, numBatches = 1)
      JoinView.maintain(s, jv)
      CdcPipeline.replay(s, log.where(col("lsn") > mid), left, numBatches = 1, startBatchId = 1)
      CdcPipeline.replay(s, dim.where(col("lsn") > mid), right, numBatches = 1, startBatchId = 1)
      JoinView.maintain(s, jv)
      jv.nullExtended(view.snapshot(s).get).select(
        col("l_repo"), col("l_path"), col("l_lang"), col("l_content"),
        col("r_repo"), col("r_lang"))
    }),

    // FULL-OUTER join-view maintenance (round-5, VERDICT item 4): the
    // dimension drops repos with digit % 3 == 0 (those left rows ride
    // null-extended, the left_outer machinery) AND carries extra '#x'
    // dimension rows no left row ever matches (those ride with NoPartner
    // LEFT keys — the right_outer machinery, exercised in the same fold).
    // The maintained view must equal the direct FULL JOIN of the final
    // LWW states across interleaved catch-up points.
    "q128_cdc_full_join_view" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-fjv").toString
      val log = ChangeLog.flat(s, dir)
      val left = new LakeTable(s"$root/left", numBuckets = 8)
      val right = new LakeTable(s"$root/right", numBuckets = 4, keyCols = Seq("repo"))
      val view = new LakeTable(s"$root/view", numBuckets = 8,
        keyCols = Seq("l_repo", "l_path", "r_repo"))
      val jv = JoinView.DerivedJoinView(view, left, right,
        leftOn = "repo", rightOn = "repo",
        leftCols = Seq("repo", "path", "lang", "content"),
        rightCols = Seq("repo", "lang"),
        joinType = "full_outer")
      val dimBase = log.where(col("op") =!= Envelope.OpDelete &&
          pmod(regexp_extract(col("repo"), "([0-9]+)", 1).cast("int"), lit(3)) =!= 0)
        .select(col("repo"), col("lang"), col("commit"), lit("u").as("op"),
          col("part"), col("lsn"), col("ts_ms"))
      val dim = dimBase.unionByName(
        dimBase.where(pmod(regexp_extract(col("repo"), "([0-9]+)", 1).cast("int"), lit(3)) === 1)
          .withColumn("repo", concat(col("repo"), lit("#x"))))
      val mid = maxLsn(log) / 2
      CdcPipeline.replay(s, log.where(col("lsn") <= mid), left, numBatches = 1)
      CdcPipeline.replay(s, dim.where(col("lsn") <= mid), right, numBatches = 1)
      JoinView.maintain(s, jv)
      CdcPipeline.replay(s, log.where(col("lsn") > mid), left, numBatches = 1, startBatchId = 1)
      CdcPipeline.replay(s, dim.where(col("lsn") > mid), right, numBatches = 1, startBatchId = 1)
      JoinView.maintain(s, jv)
      jv.nullExtended(view.snapshot(s).get).select(
        col("l_repo"), col("l_path"), col("l_lang"), col("l_content"),
        col("r_repo"), col("r_lang"))
    }),

    // AVG + COUNT DISTINCT derived views (round-5, VERDICT item 5): the
    // per-repo average is the free sum/count quotient of the standard IVM
    // view; the distinct-lang count is a SECOND-LEVEL view — per
    // (repo, lang) signed multiplicities maintained by the same linear
    // fold, aggregated O(live pairs) at read. Both caught up across
    // interleaved base versions, never rescanning the base.
    "q129_cdc_ivm_avg_distinct" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-ivmad").toString
      val table = new LakeTable(root, numBuckets = 16)
      val avgDv = MaterializedView.DerivedView(
        new LakeTable(s"$root/avg", numBuckets = 4, keyCols = Seq("repo")),
        Seq("repo"), length(col("content")), "total_chars")
      val langDv = MaterializedView.distinctView(
        new LakeTable(s"$root/langs", numBuckets = 4, keyCols = Seq("repo", "lang")),
        Seq("repo"), "lang")
      val log = ChangeLog.flat(s, dir)
      val mid = maxLsn(log) / 2
      CdcPipeline.replay(s, log.where(col("lsn") <= mid), table, numBatches = 2)
      MaterializedView.maintain(s, table, avgDv)
      MaterializedView.maintain(s, table, langDv)
      CdcPipeline.replay(s, log.where(col("lsn") > mid), table,
        numBatches = 2, startBatchId = 2)
      MaterializedView.maintain(s, table, avgDv)
      MaterializedView.maintain(s, table, langDv)
      val avgView = MaterializedView.withAvg(
        avgDv.table.snapshot(s).get.select("repo", "n_rows", "total_chars"),
        "total_chars", "avg_chars")
      val langs = MaterializedView.distinctCounts(
        langDv.table.snapshot(s).get, Seq("repo"), "n_langs")
      avgView.join(langs, Seq("repo"))
    }),

    // Batched point lookup (`LakeTable.lookupMany`): a deterministic key
    // set (repo05's every-100th file, doc ids below 100k) served in ONE
    // scan, pruned to the union of the keys' admissible files (zone maps
    // + membership evidence per key). The id ceiling makes the list
    // ABSOLUTELY bounded (≤ 1000 keys at any corpus scale — inside the
    // MaxLookupKeys cap); a scale too small to produce keys returns the
    // empty frame, matching the oracle.
    "q123_cdc_multi_lookup" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-mlk").toString
      val table = new LakeTable(root, numBuckets = 8)
      CdcPipeline.replay(s, ChangeLog.flat(s, dir), table, numBatches = 2)
      val docId = regexp_extract(col("path"), "f([0-9]+)", 1).cast("int")
      val out = Seq("repo", "path", "commit", "lang", "content")
      val keys = table.snapshot(s).get
        .where(col("repo") === "repo05" && pmod(docId, lit(100)) === 5 && docId < 100000)
        .select("repo", "path").collect()
        .map(r => Seq[Any](r.getString(0), r.getString(1))).toSeq
      keys match {
        case Nil => table.snapshot(s).get.select(out.map(col): _*).limit(0)
        case ks  => table.lookupMany(s, ks).get.select(out.map(col): _*)
      }
    }),

    // Schema evolution WITH a declared column DEFAULT (round-4; reference
    // `relational/Column.java:136` defaultValueExpression +
    // `DefaultValueConverter` applied by the sink's alterTableIfNeeded):
    // the second batch's added column carries DEFAULT -1 metadata, so
    // pre-evolution rows read -1 where plain q13 evolution reads null.
    "q125_cdc_schema_default" -> ((s, dir) => {
      val log = ChangeLog.base(s, dir)
      val half = maxLsn(log) / 2
      val root = java.nio.file.Files.createTempDirectory("graft-evodef").toString
      val table = new LakeTable(root, numBuckets = 16)
      merge.CdcApply.applyBatch(s, table, log.where(col("lsn") <= half), 0L)
      merge.CdcApply.applyBatch(s, table,
        log.where(col("lsn") > half).select(col("*"),
          graft.table.SchemaEvolution.withDefault(
            length(col("content")).cast("long"), "n_chars", "-1")), 1L)
      table.snapshot(s).get
        .select(payload :+ col("n_chars").cast("long").as("n_chars"): _*)
    }),

    // Above-cap batched lookup (`LakeTable.lookupJoin`, round-4): the key
    // set arrives as a DataFrame — no driver-side key list, no
    // MaxLookupKeys cap — and is served by a bucket-pruned state
    // semi-join (buckets no key maps to are never scanned; the semi-join
    // keeps only matching live rows).
    "q126_cdc_lookup_join" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-lkj").toString
      val table = new LakeTable(root, numBuckets = 8)
      CdcPipeline.replay(s, ChangeLog.flat(s, dir), table, numBatches = 2)
      val docId = regexp_extract(col("path"), "f([0-9]+)", 1).cast("int")
      val out = Seq("repo", "path", "commit", "lang", "content")
      val keys = table.snapshot(s).get
        .where(pmod(docId, lit(4)) =!= 0).select("repo", "path")
      table.lookupJoin(s, keys).map(_.select(out.map(col): _*))
        .getOrElse(table.snapshot(s).get.select(out.map(col): _*).limit(0))
    }),

    // Ordered post-processor chain through the STREAMING path (round-4;
    // reference `processors/PostProcessorRegistry.java:29` — an ordered,
    // config-driven registry applied per record): truncate-then-hash
    // composes in declared order on every microbatch's flattened rows
    // before the exactly-once apply, so the converged table state carries
    // the processed values.
    "q127_cdc_post_processors" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-pp").toString
      val table = new LakeTable(s"$root/table", numBuckets = 16)
      Envelope.wrap(ChangeLog.flat(s, dir)).repartition(4)
        .write.mode("append").parquet(s"$root/in")
      val chain: Seq[DataFrame => DataFrame] = Seq(
        df => Transforms.truncateColumn(df, "content", 40),
        df => Transforms.hashColumn(df, "lang", salt = "s1"))
      CdcPipeline.start(s, s"$root/in", s"$root/ckpt", table, postProcessors = chain).awaitTermination()
      table.snapshot(s).get.select(
        col("repo"), col("path"), col("commit"), col("lang").as("lang_hash"),
        col("content"))
    }),
    // Deterministic corpus mixing + splits: per-language keep rates
    // (mixing weights) and disjoint train/val/test assignment, both pure
    // functions of md5(salt||doc_id) — reproducible at any partitioning,
    // recomputable by the oracle.
    "q74_corpus_mix_sample" -> ((s, dir) => {
      val sampled = tdp.Sampling.stratifiedSample(
        Corpus.documents(s, dir), col("lang"),
        rates = Seq("en" -> 0.9, "de" -> 0.5, "fr" -> 0.25), defaultRate = 0.1,
        key = col("doc_id"), salt = "mix1")
      tdp.Sampling.assignSplits(sampled, col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "split1")
        .select(col("doc_id"), col("lang"), col("split"))
    }),
    // Corpus-wide frequent terms (heavy hitters): count-min-sketch prune
    // → exact verify. The sketch pass exchanges one fixed 128 KB array
    // per task and the tail never reaches the count shuffle; CMS never
    // undercounts (no false negatives) and the exact pass removes false
    // positives, so the result EQUALS the plain GROUP BY HAVING the
    // oracle recomputes. Threshold scales with corpus size (one bounded
    // driver count, like the fence literals).
    "q75_heavy_hitters" -> ((s, dir) => {
      val docs = Corpus.documents(s, dir)
      val minCount = math.max(5L, docs.count() / 10)
      tdp.HeavyHitters.frequentTerms(docs, TextAnalysis.words(col("text")), minCount)
    }),
    // Value-handling modes (decimal.handling.mode / binary.handling.mode
    // / time.precision.mode): per-column consumer renderings picked by
    // config — narrow casts, no shuffle. Decimal inputs are exact
    // quarters so precise→string is engine-portable.
    "q76_smt_value_modes" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val amt = (col("event_id") / 4.0).cast("decimal(14,2)")
      val bin = col("props").cast("binary")
      val staged = ev.select(
        col("event_id"),
        amt.as("dec_dbl"), amt.as("dec_str"),
        bin.as("bin_b64"), bin.as("bin_b64url"), bin.as("bin_hex"),
        col("ts").cast("timestamp").as("ts_us"), col("ts").cast("timestamp").as("ts_ms"))
      val steps: Seq[DataFrame => DataFrame] = Seq(
        Transforms.decimalHandling(_, Seq("dec_dbl"), "double"),
        Transforms.decimalHandling(_, Seq("dec_str"), "string"),
        Transforms.binaryHandling(_, Seq("bin_b64"), "base64"),
        Transforms.binaryHandling(_, Seq("bin_b64url"), "base64-url-safe"),
        Transforms.binaryHandling(_, Seq("bin_hex"), "hex"),
        Transforms.temporalPrecision(_, Seq("ts_us"), "adaptive"),
        Transforms.temporalPrecision(_, Seq("ts_ms"), "connect"))
      steps.foldLeft(staged)((d, f) => f(d))
    }),
    // Sequence packing: documents → fixed-token-budget training
    // sequences (contiguous offset-binning within engine-portable hash
    // groups; one exchange on the group key + an in-partition running
    // sum — no global sort, no driver state).
    "q77_seq_packing" -> ((s, dir) => {
      val docs = Corpus.documents(s, dir)
      tdp.Packing.packSequences(docs, col("doc_id"),
        TextAnalysis.bpeIshTokenCount(col("text")), maxTokens = 2048, numGroups = 8)
        .select(col("doc_id"), col("pack_group"), col("pack_seq"),
          col("tokens"), col("cum_tokens"))
    }),
    // ANN brute-force cosine top-k (exact baseline).
    "q25_ann_bruteforce" -> ((s, dir) => {
      val emb = Corpus.embsWithDups(s, dir)
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10), k = 5)
        .select(col("qid"), col("nid"), col("cos"))
    }),
    // ANN LSH-bucketed top-k (scale path: per-bucket candidates).
    "q26_ann_lsh" -> ((s, dir) => {
      val emb = Corpus.embsWithDups(s, dir)
      Similarity.lshTopK(emb, emb.where(col("vec_id") < 10), k = 5, planes = 4)
        .select(col("qid"), col("nid"), col("cos"))
    }),
    // ANN multi-probe LSH top-k (finer bucketing, hamming-1 probe fan-out
    // recovers recall).
    "q56_ann_lsh_multiprobe" -> ((s, dir) => {
      val emb = Corpus.embsWithDups(s, dir)
      Similarity.lshTopKMultiProbe(emb, emb.where(col("vec_id") < 10), k = 5, planes = 6)
        .select(col("qid"), col("nid"), col("cos"))
    }),
    // ANN IVF top-k (inverted-file scale path: literal-centroid list
    // assignment, nprobe nearest lists exact-scored).
    "q54_ann_ivf" -> ((s, dir) => {
      val emb = Corpus.embsWithDups(s, dir)
      Similarity.ivfTopK(emb, emb.where(col("vec_id") < 10), k = 5, nlist = 8, nprobe = 2)
        .select(col("qid"), col("nid"), col("cos"))
    }),
    // §2.1 heartbeat: per-partition liveness markers for quiet intervals,
    // carrying the partition's current offset.
    "q55_cdc_heartbeat" -> ((s, dir) =>
      sources.Heartbeat.emit(ChangeLog.base(s, dir), intervalMs = 10000L)),
    // §2.2 geometry SMTs: WKB→EWKB format conversion then axis swap on
    // STRUCT<wkb,srid> payloads, byte-level codegen'd expressions; results
    // decoded back to integers so DuckDB can verify without spatial fns.
    "q57_smt_geometry" -> ((s, dir) => {
      import graft.operators.GeometryExprs._
      val d = Corpus.documents(s, dir).select(col("doc_id"))
      val dd = col("doc_id").cast("double")
      val srid = when(pmod(col("doc_id"), lit(2)) === 0, 4326).otherwise(3857).cast("int")
      val geo = d
        .withColumn("geom", struct(wkb_point(dd * 1.5, dd * 0.25).as("wkb"), srid.as("srid")))
        .withColumn("ls", struct(
          wkb_linestring(array((0 to 5).map(i => dd + i): _*)).as("wkb"),
          lit(4326).as("srid")))
      val ew = Transforms.geometryFormat(geo, "geom", "ewkb")
      val sw = Transforms.swapGeometryCoordinates(
        Transforms.swapGeometryCoordinates(ew, "geom", Seq(4326)), "ls", Seq(4326))
      sw.select(col("doc_id"),
        (wkb_point_x(col("geom.wkb")) * 4).cast("long").as("x4"),
        (wkb_point_y(col("geom.wkb")) * 4).cast("long").as("y4"),
        wkb_is_extended(col("geom.wkb")).as("is_ext"),
        ewkb_srid(col("geom.wkb"), lit(-1)).as("srid_out"),
        (octet_length(col("geom.wkb")) - lit(21)).cast("int").as("len_delta"),
        wkb_coord_sum(col("ls.wkb"), lit(0)).cast("long").as("ls_sx"),
        wkb_coord_sum(col("ls.wkb"), lit(1)).cast("long").as("ls_sy"))
    }),
    // §2.2 TimescaleDb SMT: chunk → hypertable/aggregate rename + routed
    // topic + chunk-identity headers, via one broadcast catalog join.
    "q58_smt_timescaledb" -> ((s, dir) => {
      import s.implicits._
      val d = Corpus.documents(s, dir).select(col("doc_id"),
        lit("_timescaledb_internal").as("sch"),
        concat(lit("_hyper_"), (pmod(col("doc_id"), lit(3)) + 1).cast("string"),
          lit("_"), col("doc_id").cast("string"), lit("_chunk")).as("tbl"))
      val cat = Seq(
        (1, "public", "conditions", Option.empty[String], Option.empty[String]),
        (2, "public", "metrics", Option.empty[String], Option.empty[String]),
        (3, "_timescaledb_internal", "_materialized_hypertable_3",
          Option("public"), Option("conditions_summary")))
        .toDF("hypertable_id", "hyper_schema", "hyper_table", "agg_schema", "agg_table")
      Transforms.timescaleDb(d, cat, "ts", schemaCol = col("sch"), tableCol = col("tbl"))
        .select(col("doc_id"), col("__topic").as("topic"),
          col("__ts_schema").as("out_schema"), col("__ts_table").as("out_table"),
          col("__ts_chunk_table").as("chunk_table"),
          col("__ts_hypertable_table").as("hypertable_table"))
    }),
    // Language ID (stopword/char heuristic).
    "q27_text_langid" -> ((s, dir) =>
      Corpus.documents(s, dir)
        .select(col("doc_id"), col("lang"), TextAnalysis.langId(col("text")).as("pred_lang"))),
    // Quality features + composite score.
    "q28_text_quality" -> ((s, dir) => {
      val d = Corpus.documents(s, dir)
      val feats = TextAnalysis.qualityFeatures(col("text")).map { case (n, c) => c.as(n) }
      d.select(col("doc_id") +: feats :+ TextAnalysis.qualityScore(col("text")).as("score"): _*)
    }),
    // Token counting: whitespace, BPE-ish pre-tokenizer, byte estimate.
    "q29_text_tokens" -> ((s, dir) =>
      Corpus.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("ws_tokens"),
        TextAnalysis.bpeIshTokenCount(col("text")).cast("long").as("bpe_tokens"),
        TextAnalysis.byteTokenEstimate(col("text")).as("byte_tokens"))),
    // Document fingerprints: Rabin-Karp rolling hash + min-k-gram winnow.
    "q30_text_fingerprint" -> ((s, dir) =>
      Corpus.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.rollingHash(col("text")).as("roll_hash"),
        TextAnalysis.minKgramFingerprint(col("text"), 16).as("min_kgram"))),
    // FULL winnowing fingerprint set (MOSS): sorted distinct w-window
    // minima over the k-gram md5 sequence; joined to one string for an
    // engine-exact compare.
    "q65_text_winnow" -> ((s, dir) =>
      Corpus.documents(s, dir).select(
        col("doc_id"),
        size(TextAnalysis.winnowFingerprints(col("text"), 16, 8)).as("n_fps"),
        array_join(TextAnalysis.winnowFingerprints(col("text"), 16, 8), "|").as("fps"))),
    // C4-style line-level cleaning (Raffel et al. 2020 §2.2): sentence-
    // split the doc into lines, keep only terminal-punctuated lines with
    // >= 3 words, rejoin.
    "q66_text_c4_filter" -> ((s, dir) => {
      // the word-soup corpus has no sentence punctuation — build a
      // deterministic multi-line doc with varied line endings: kept
      // (terminal punct + >=3 words), dropped (no punct), dropped (<3 words)
      val lined = concat(
        substring(col("text"), 1, 40), lit(".\n"),
        substring(col("text"), 41, 30), lit("\n"),
        substring(col("text"), 71, 40), lit("!\n"),
        lit("tiny.\n"),
        substring(col("text"), 111, 40), lit("?"))
      Corpus.documents(s, dir).select(
        col("doc_id"),
        tdp.Cleaning.c4LineFilter(lined, minWords = 3).as("cleaned"),
        size(split(tdp.Cleaning.c4LineFilter(lined, minWords = 3), "\n")).as("n_lines"))
    }),
    // PII / secret scrub: emails, URLs, long hex runs, long digit runs ->
    // stable tags (deterministic plants appended so the op provably fires).
    "q67_text_pii_scrub" -> ((s, dir) => {
      val planted = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or "),
        lit("https://ex.com/d/"), col("doc_id"),
        lit(" key deadbeefcafebabe1234 acct 9876543210"))
      Corpus.documents(s, dir).select(
        col("doc_id"), tdp.Cleaning.scrubPii(planted).as("scrubbed"))
    }),
    // Gopher document-quality rules (Rae et al. 2021, table A1 shapes):
    // independent per-rule flags + the composite keep verdict.
    "q68_text_gopher" -> ((s, dir) => {
      val flags = tdp.Cleaning.gopherFlags(col("text"), minWords = 10)
      Corpus.documents(s, dir).select(
        (col("doc_id") +: flags.map { case (n, c) => c.as(n) }) :+
          tdp.Cleaning.gopherKeep(col("text"), minWords = 10).as("keep"): _*)
    }),
    // Gopher repetition rule: duplicate word-3-gram fraction per document
    // (degenerate/boilerplate detector) + the keep verdict.
    "q69_text_repetition" -> ((s, dir) =>
      Corpus.documents(s, dir).select(
        col("doc_id"),
        tdp.Cleaning.dupNgramFraction(col("text"), 3).as("dup3_frac"),
        tdp.Cleaning.repetitionOk(col("text"), 3).as("repetition_ok"))),
    // int8 embedding quantization: per-vector symmetric scale + codes +
    // the roundtrip error bound (4x storage cut for 100 TB embedding sets).
    "q70_embed_quantize" -> ((s, dir) =>
      Corpus.embeddings(s, dir).select(
        col("vec_id"),
        round(tdp.Quantize.int8Scale(col("embedding")), 6).as("scale6"),
        array_join(tdp.Quantize.int8(col("embedding")), "|").as("codes"),
        round(tdp.Quantize.int8MaxAbsError(col("embedding")), 6).as("max_err6"),
        (tdp.Quantize.int8MaxAbsError(col("embedding")) <=
          tdp.Quantize.int8Scale(col("embedding")) / 2 + lit(1e-12)).as("bound_ok"))),
    // FieldToEmbedding SMT through the MODEL SPI (round-5): the factory
    // registry resolves the configured model ("hash" — the deterministic
    // fake, bit-identical to its codegen'd column twin) and runs batched
    // per-partition inference; output quantized to 1e-6 for engine-exact
    // comparison. A real model = one more ModelFactory, same pipeline.
    "q41_field_to_embedding" -> ((s, dir) =>
      operators.AiSmt.fieldToEmbeddingSpi(
        Corpus.documents(s, dir).select(col("doc_id"), col("text")), "text",
        config = Map(operators.AiSmt.ModelConfig.Model -> "hash",
          operators.AiSmt.ModelConfig.Dims -> "16"))
        .select(col("doc_id"),
          to_json(transform(col("embedding"), x => floor(x * 1000000).cast("long"))).as("emb_q6"))),
    // FieldToDocling analog: fixed-window document chunking with
    // provenance (chunk_idx, chunk_chars) — one row per chunk.
    "q42_field_to_chunks" -> ((s, dir) =>
      operators.AiSmt.fieldToChunks(
        Corpus.documents(s, dir).select(col("doc_id"), col("text")), "text", maxLen = 120)
        .select(col("doc_id"), col("chunk_idx"), col("chunk"),
          col("chunk_chars").cast("long").as("chunk_chars"))),
    // Multimodal: opaque binary payload + typed metadata; batched
    // per-partition decode (deterministic fake codec, real plumbing).
    "q31_multimodal_decode" -> ((s, dir) =>
      Multimodal.decode(Multimodal.mediaTable(s, dir)).toDF()
        .select(col("doc_id"), col("media_type"), col("byte_len"),
          col("payload_sha"), col("width"), col("height"), col("frames"))),

    // §2.3 CRDT counters (io.debezium.crdt PNCounter): per-repo live-row
    // PN counts over the change log — increments (c/r) and decrements (d)
    // tracked apart, merged order-independently (a distributed aggregate
    // IS the state-based CRDT merge).
    "q59_crdt_pn_counter" -> ((s, dir) =>
      operators.Crdt.pnCounts(ChangeLog.flat(s, dir), Seq("repo"),
        operators.Crdt.opDelta())),
    // §2.3 DeltaCounter: per-interval changes + running PN totals (the
    // `getChanges()`/`get()` pair at each reset boundary); interval = lsn
    // epochs of 500 — the periodic-reset cadence of the reference's
    // StateBasedPNDeltaCounter metrics use.
    "q60_crdt_delta_counter" -> ((s, dir) =>
      operators.Crdt.deltaCounts(ChangeLog.flat(s, dir), Seq("repo"),
        operators.Crdt.opDelta(), floor(col("lsn") / 500).cast("long"))),

    // §2.4 bucket-layout evolution: replay into 8 buckets, rebucket to 32
    // (the 100 TB maintenance op when the original count grew too small),
    // state byte-identical after the layout change; the new layout is
    // recorded in the commit log and adopted by LakeTable.open.
    "q62_cdc_rebucket" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-rebucket").toString
      val table = new LakeTable(root, numBuckets = 8)
      CdcPipeline.replay(s, ChangeLog.flat(s, dir), table, numBatches = 4)
      val next = table.rebucket(s, 32).get
      withSha(graft.table.LakeTable.open(next.root).snapshot(s).get)
    }),

    // §2.4 time travel: live rows as of commit version 2 of a 4-batch
    // replay (every commit is a complete immutable manifest — VERSION AS OF
    // is a manifest pick, not a reconstruction).
    "q63_cdc_time_travel" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-tt").toString
      val table = new LakeTable(root, numBuckets = 16)
      CdcPipeline.replay(s, ChangeLog.flat(s, dir), table, numBatches = 4)
      withSha(table.snapshotAt(s, 2L).get)
    }),
    // §2.4 point lookup: one key's live row via a driver-computed bucket —
    // reads ONE bucket's files (O(1) fraction of the table at any scale).
    "q64_cdc_point_lookup" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-lkp").toString
      val table = new LakeTable(root, numBuckets = 16)
      CdcPipeline.replay(s, ChangeLog.flat(s, dir), table, numBatches = 4)
      withSha(table.lookup(s, Seq("repo01", "src/f1.txt")).get)
    }),

    // §2.4 change-data-feed read (Delta CDF / Iceberg changelog-scan
    // analog): the row-level changes between commit versions 2 and 4 of a
    // 4-batch replay, classified insert/delete/update_preimage/
    // update_postimage and tagged with the commit version. Manifest-pruned:
    // each version pair diffs only the buckets whose file sets differ.
    "q112_cdc_change_feed" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-cdf").toString
      val table = new LakeTable(root, numBuckets = 16)
      CdcPipeline.replay(s, ChangeLog.flat(s, dir), table, numBatches = 4)
      table.changeFeed(s, 2L, 4L).get
        .select(col("repo"), col("path"), col("commit"), col("lang"),
          sha2(col("content"), 256).as("content_sha"), col("lsn"), col("op"),
          col("_change_type").as("change_type"),
          col("_commit_version").as("commit_version"))
    }),

    // §2.4 incremental materialized view (the CDC-consumer read-model
    // pattern): bootstrap a per-repo aggregate view at version 2, then
    // fold the version-2→4 change feed into it — never rescanning the
    // base table. The oracle aggregates the final LWW state directly, so
    // a MATCH proves build∘refresh lands exactly on the converged state.
    "q115_cdc_ivm" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-ivm").toString
      val table = new LakeTable(root, numBuckets = 16)
      CdcPipeline.replay(s, ChangeLog.flat(s, dir), table, numBatches = 4)
      val m = length(col("content"))
      val view2 = MaterializedView.build(s, table, 2L, Seq("repo"), m, "total_chars").get
      MaterializedView.refresh(view2, table.changeFeed(s, 2L, 4L).get,
        Seq("repo"), m, "total_chars")
    }),

    // §2.4 min/max materialized view: non-distributive under deletes, so
    // the view is maintained optimistically and only SUSPECT groups (a
    // removed value tied the stored extremum) are recounted from the base
    // — per version segment, never a full rescan.
    "q116_cdc_ivm_minmax" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-ivmx").toString
      val table = new LakeTable(root, numBuckets = 16)
      CdcPipeline.replay(s, ChangeLog.flat(s, dir), table, numBatches = 4)
      val m = length(col("content"))
      var view = MaterializedView.buildMax(s, table, 2L, Seq("repo"), m, "max_chars").get
      (3L to 4L).foreach { v =>
        view = MaterializedView.refreshMax(s, table, v, view,
          table.changeFeed(s, v - 1L, v).get, Seq("repo"), m, "max_chars")
      }
      view
    }),

    // §2.2 SchemaChangeEventFilter: the multi-table catalog's schema-change
    // event feed, filtered by table exclude list (tableFilter — the same
    // RelationalTableFilters semantics the reference SMT applies to the
    // schema-change topic). Batch 1 adds a column, so each table logs its
    // base schema and the widened one; the heads_rest rows are excluded.
    "q61_smt_schema_change_filter" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-scf").toString
      val reg = new merge.MultiTable.Registry(root, Seq(
        merge.MultiTable.TableDef("files_en", Seq("repo", "path"), numBuckets = 8),
        merge.MultiTable.TableDef("heads_rest", Seq("repo"), numBuckets = 4)))
      val log = ChangeLog.base(s, dir)
        .withColumn("route", when(col("lang") === "en", "files_en").otherwise("heads_rest"))
      val mid = maxLsn(log) / 2
      merge.MultiTable.applyBatch(s, reg, log.where(col("lsn") <= mid), "route", batchId = 0)
      merge.MultiTable.applyBatch(s, reg,
        log.where(col("lsn") > mid).withColumn("n_chars", length(col("content"))),
        "route", batchId = 1)
      Transforms.tableFilter(merge.MultiTable.schemaChangeEvents(s, reg),
        exclude = Some("heads_.*"), tableCol = col("sink_table"))
    }),

    // §2.1 Notification SPI (NotificationService /
    // IncrementalSnapshotNotificationService): the signal-driven chunk
    // train emits a queryable started / chunk-progress / completed feed to
    // `_notifications`, each progress row AFTER its chunk's commit. The
    // signal carries an SQL chunk expression so the oracle recomputes
    // membership and per-chunk applied counts.
    "q71_cdc_notifications" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-notif").toString
      val table = new LakeTable(root, numBuckets = 16)
      Envelope.wrap(ChangeLog.flat(s, dir)).repartition(8).write.parquet(s"$root/in")
      Lww.applyState(ChangeLog.base(s, dir)).select(payload: _*).write.parquet(s"$root/src")
      val ch = s"$root/signals"
      sources.Signals.send(ch, sources.Signals.SignalRecord("n1", sources.Signals.ExecuteSnapshot,
        s"$root/src#4#pmod(cast(regexp_extract(path, 'f([0-9]+)', 1) as bigint), 4)"))
      CdcPipeline.start(s, s"$root/in", s"$root/ckpt", table,
        maxFilesPerTrigger = 2, signalChannel = Some(ch)).awaitTermination()
      sources.Notifications.feed(s, root)
        .select(col("type"), col("chunk"), col("chunks"), col("rows_applied"))
    }),

    // §2.4 sink primary-key modes (JdbcSinkConnectorConfig
    // primary.key.mode + primary.key.fields): the same upsert stream keyed
    // three ways — record_key (event key), record_value (payload field
    // list), kafka (transport coordinates) — one LWW reduce each.
    "q72_sink_pk_modes" -> ((s, dir) => {
      val log = ChangeLog.flat(s, dir)
      val cols = Seq("repo", "path", "commit", "lang", "content", "part", "lsn").map(col)
      def tag(df: DataFrame, m: String) = df.select(lit(m).as("pk_mode") +: cols: _*)
      tag(merge.SinkModes.upsertKeyed(log, "record_key"), "record_key")
        .unionByName(tag(
          merge.SinkModes.upsertKeyed(log, "record_value", fields = Seq("repo", "lang")),
          "record_value"))
        .unionByName(tag(merge.SinkModes.upsertKeyed(log, "kafka"), "kafka"))
    }),

    // Benchmark decontamination (GPT-3 appendix-C-style n-gram overlap):
    // per-document matched-gram counts against a small benchmark set. The
    // benchmark's gram set broadcasts; the corpus never shuffles (only
    // matching (id, gram-md5) rows reach the count aggregation).
    "q78_decontaminate" -> ((s, dir) => {
      val corpus = Corpus.docsWithDups(s, dir)
      val bench = Corpus.documents(s, dir).where(col("doc_id") % 37 === 0)
      tdp.Decontamination.contaminationReport(corpus, bench, n = 3)
    }),

    // Ingest-time incremental dedup: a digest-index LakeTable (keyed on
    // content_sha, maintained by the same exactly-once apply loop) admits
    // only never-seen documents; the newness anti-join reads the index
    // through the storage-partitioned bucketed scan (zero state-side
    // exchange), so each ingest step moves O(batch) however large the
    // seen-set grows. First ingest seeds ⅔ of the base docs; the second
    // ingests the full dup-planted corpus — admitted = new digests only,
    // canonical = min doc id within the batch.
    "q79_ingest_dedup" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-ingest").toString
      val index = tdp.IngestDedup.indexTable(s"$root/idx", numBuckets = 16)
      tdp.IngestDedup.ingest(s, index,
        Corpus.documents(s, dir).where(col("doc_id") % 3 =!= 0), 0L).unpersist()
      // the returned frame stays persisted (load-bearing: a recompute
      // after registration would observe its own digests); the bench
      // sweep's per-query catalog.clearCache() frees it, Verify exits.
      tdp.IngestDedup.ingest(s, index, Corpus.docsWithDups(s, dir), 1L)
        .select(col("doc_id"), col("content_sha"))
    }),

    // Snapshot-mode policy (the Snapshotter SPI truth table,
    // snapshot/mode/*.java): what each mode does with and without a
    // committed offset. recovery×no-offset is a config error, hence
    // absent.
    "q80_snapshot_decisions" -> ((s, _) => {
      import s.implicits._
      val rows = for {
        mode <- sources.Snapshotter.Modes
        offset <- Seq(false, true)
        if !(mode == "recovery" && !offset)
      } yield {
        val d = sources.Snapshotter.decide(mode, offset)
        (mode, offset, d.snapshotData, d.snapshotSchema, d.stream)
      }
      rows.toDF("mode", "offset_exists", "snapshot_data", "snapshot_schema", "stream")
    }),

    // Span-level decontamination: drop only the lines overlapping the
    // benchmark (docs sliced into 3 lines so line-level behavior is
    // visible on the single-line test corpus).
    "q81_decontam_redact" -> ((s, dir) => {
      val lined = Corpus.docsWithDups(s, dir).withColumn("text",
        concat_ws("\n", substring(col("text"), 1, 60), substring(col("text"), 61, 60),
          substring(col("text"), 121, 100)))
      val bench = Corpus.documents(s, dir).where(col("doc_id") % 37 === 0)
      tdp.Decontamination.redactContaminated(lined, bench, n = 3)
    }),

    // Table maintenance end-to-end: replay → expire history to the head →
    // remove orphan files → the surviving state must still be the exact
    // LWW fold (maintenance may touch storage, never state).
    "q82_cdc_expire_maintenance" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-expire").toString
      val table = new LakeTable(root, numBuckets = 16)
      CdcPipeline.replay(s, ChangeLog.flat(s, dir), table, numBatches = 3)
      table.expireSnapshots(keepLast = 1)
      table.removeOrphanFiles()
      table.snapshot(s).get
        .select(col("repo"), col("path"), col("commit"), col("lang"), col("content"),
          sha2(col("content"), 256).as("content_sha"))
    }),

    // Deterministic epoch shuffle + shard assignment (training serving):
    // per (doc, epoch) a reproducible order key and balanced shard, pure
    // hash expressions any engine recomputes.
    "q83_epoch_shards" -> ((s, dir) =>
      tdp.Sampling.epochShards(Corpus.documents(s, dir).select("doc_id"),
        col("doc_id"), epochs = 3, shards = 8, salt = "ep1")
        .select(col("doc_id"), col("epoch").cast("int").as("epoch"),
          col("shard"), col("order_key"))),

    // Ingest-time incremental NEAR-dedup (the LSH analog of q79): the
    // seen-set is a MinHash band-key index LakeTable maintained by the
    // exactly-once apply loop; per batch, band-collision connected
    // components pick min-id canonicals, and a canonical is admitted iff
    // NONE of its band keys is already registered (the LSH admission
    // rule). Seed = base docs (doc_id % 3 <> 0); the second batch ingests
    // the full dup-planted corpus — its planted exact dups and near-dup
    // tails collide with the seeded bands and are turned away.
    "q84_ingest_near_dedup" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-ingest-near").toString
      val index = tdp.IngestDedup.nearIndexTable(s"$root/idx", numBuckets = 16)
      tdp.IngestDedup.ingestNear(s, index,
        Corpus.documents(s, dir).where(col("doc_id") % 3 =!= 0)
          .select("doc_id", "text"), 0L).unpersist()
      // result is localCheckpoint'd by ingestNear (lineage truncated — it
      // can never recompute against a superseded index registration)
      tdp.IngestDedup.ingestNear(s, index, Corpus.docsWithDups(s, dir)
          .select("doc_id", "text"), 1L)
        .select(col("doc_id"))
    }),

    // Cross-document repeated-substring spans (Lee et al. 2022's
    // exact-substring dedup at word-3-gram granularity): maximal token
    // spans whose every 3-gram appears in ≥2 distinct docs — CMS-pruned
    // gram evidence, exact-verified, gaps-and-islands span merge.
    "q85_dup_spans" -> ((s, dir) =>
      tdp.SpanDedup.duplicateSpans(Corpus.docsWithDups(s, dir),
        k = 3, minDocs = 2, minTokens = 5)),

    // Source-column metadata propagation (PropagateSourceMetadataToSchema-
    // Parameter analog) + the sink-side consumer: declared source facts
    // ride as StructField metadata through a rename, then `describe`
    // resolves sink DDL types and audits declared VARCHAR lengths against
    // the data (one map-side-combined aggregate pass).
    "q86_smt_source_metadata" -> ((s, dir) => {
      import graft.core.SourceMetadata
      import graft.core.SourceMetadata.SourceColumn
      val ev = s.read.parquet(s"$dir/events.parquet")
      val tagged = SourceMetadata.propagate(ev, Map(
        "event_id" -> SourceColumn("bigserial"),
        "event_type" -> SourceColumn("varchar", length = 5),
        "value" -> SourceColumn("numeric", length = 8, scale = 2),
        "props" -> SourceColumn("jsonb", comment = "user properties")))
      // metadata must survive a sink-side rename (Alias keeps child
      // attribute metadata); source_name still reports "event_type"
      SourceMetadata.describe(tagged.withColumnRenamed("event_type", "kind"))
    }),

    // OpenLineage-analog run-event feed: START rows carry INPUT/OUTPUT
    // dataset facets (name, kind, type, schema JSON), RUNNING rows one
    // per committed microbatch with its event count, COMPLETE carries
    // the live state count. Every column deterministic (hashed run ids,
    // no wall clock) — replay-stable.
    "q87_cdc_lineage" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-lineage").toString
      val table = new LakeTable(root, numBuckets = 16)
      graft.streaming.Lineage.replayWithLineage(s, ChangeLog.flat(s, dir), table,
        graft.streaming.Lineage.Job("graft", "files-cdc"),
        inputName = "documents_changelog", outputName = "files_state",
        numBatches = 4)
      graft.streaming.Lineage.feed(s, root)
    }),

    // FieldNameTransformation + Avro field-name adjustment: columns
    // rename to snake_case and non-Avro chars escape as _uXXXX; the
    // original names ride as SourceMetadata.NameKey metadata (spec'd).
    "q88_smt_field_naming" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("event_type").as("eventType"),
          col("value").as("grossValue123"), col("props").as("props.k€y"))
      Transforms.renameFields(ev, style = "snake_case", avroMode = "avro_unicode")
    }),

    // Logical-decoding-message decode → outbox route (the reference's
    // documented composition): synthetic pg_logical_emit_message events
    // carry a JSON content payload; decode makes them INSERT-shaped with
    // a structured `after`, which feeds the outbox EventRouter.
    "q89_smt_decode_message" -> ((s, dir) => {
      val msgs = ChangeLog.base(s, dir).where(col("op") =!= "d").select(
        lit("m").as("op"), col("ts_ms"), col("lsn"),
        struct(
          lit("outbox").as("prefix"),
          to_json(struct(
            col("lang").as("aggregatetype"),
            col("repo").as("aggregateid"),
            lit("file_changed").as("event_type"),
            col("path").as("payload"))).cast("binary").as("content")).as("message"))
      val decoded = Transforms.decodeMessageContent(msgs,
        "aggregatetype string, aggregateid string, event_type string, payload string")
      Transforms.outboxRouter(decoded.select(col("after.*"), col("op"), col("lsn"), col("ts_ms")))
    }),

    // ActivateTracingSpan: rows with lsn%3=0 carry an application-written
    // span context (Properties blob with a W3C traceparent); the SMT
    // propagates that trace id, mints deterministic span ids from the log
    // position, and the spans feed emits db-log-write + debezium-read
    // span rows per event.
    "q90_smt_tracing_span" -> ((s, dir) => {
      val log = ChangeLog.base(s, dir)
      val ctx = when(col("lsn") % 3 === 0, concat(
        lit("#ctx\ntraceparent=00-"),
        md5(concat(lit("app"), col("lsn").cast("string"))), lit("-"),
        substring(md5(concat(lit("appspan"), col("lsn").cast("string"))), 1, 16),
        lit("-01\n")))
      val withCtx = log.withColumn("tracingspancontext", ctx)
      val traced = Transforms.activateTracingSpan(withCtx)
      Transforms.tracingSpans(withCtx)
        .join(
          traced.select(col("lsn").as("lsn2"),
            element_at(col("headers"), "traceparent").as("traceparent")),
          col("lsn") === col("lsn2"))
        .select("trace_id", "span_id", "parent_span_id", "operation",
          "start_ts_ms", "db_instance", "attr_op", "lsn", "traceparent")
    }),

    // ExtractNewRecordState add.fields/add.headers placement: envelope
    // metadata routed into the flattened value (qualified specs become
    // __struct_field, renames honored) and into the headers map.
    "q91_smt_unwrap_add_fields" -> ((s, dir) => {
      val env = ChangeLog.envelopes(s, dir)
      Envelope.unwrapAdvanced(env,
        deleteMode = "rewrite",
        addFields = Seq("op", "source.lsn", "ts_ms:event_ts", "transaction.id"),
        addHeaders = Seq("source.part"))
        .select(col("repo"), col("path"), col("commit"), col("lang"),
          col("content"), col("__op"), col("__source_lsn"), col("__event_ts"),
          col("__transaction_id"), col("__deleted"),
          element_at(col("headers"), "__source_part").as("header_part"))
    }),

    // Consumer-side JSON serde (DebeziumSerdes.payloadJson analog): the
    // log is serialized onto the wire in the three JSON shapes the
    // reference's deserializer tolerates — Connect schema+payload wrapper
    // (lsn%3=0), bare Debezium envelope (1), already-extracted row (2) —
    // and decoded back to typed columns with from.field=after; keys
    // alternate payload-wrapped/bare composites plus a simple
    // single-field key unwrapped to its bigint value.
    "q92_serde_payload_json" -> ((s, dir) => {
      val env = ChangeLog.envelopes(s, dir)
      val keepNulls = Map("ignoreNullFields" -> "false")
      val envJson = to_json(struct(
        col("before"), col("after"), col("source"), col("op"),
        col("ts_ms"), col("ts_us"), col("ts_ns"), col("transaction")), keepNulls)
      val wire = when(col("source.lsn") % 3 === 0,
          concat(lit("""{"schema":{"type":"struct"},"payload":"""), envJson, lit("}")))
        .when(col("source.lsn") % 3 === 1, envJson)
        .otherwise(to_json(col("after"), keepNulls))
      val keyStruct = struct(
        coalesce(col("after.repo"), col("before.repo")).as("repo"),
        coalesce(col("after.path"), col("before.path")).as("path"))
      val keyWire = when(col("source.lsn") % 2 === 0,
          concat(lit("""{"payload":"""), to_json(keyStruct), lit("}")))
        .otherwise(to_json(keyStruct))
      val simpleKeyWire = to_json(struct(col("source.lsn").as("lsn")))
      val rowDdl = "repo string, path string, commit string, lang string, content string"
      val decoded = Serdes.payloadJsonValue(wire, rowDdl, fromField = Some("after"))
      val key = Serdes.payloadJsonKey(keyWire, "repo string, path string")
      env.select(
        col("source.lsn").as("lsn"), col("op"),
        decoded.getField("repo").as("repo"),
        decoded.getField("path").as("path"),
        decoded.getField("commit").as("commit"),
        decoded.getField("lang").as("lang"),
        decoded.getField("content").as("content"),
        key.getField("repo").as("key_repo"),
        key.getField("path").as("key_path"),
        Serdes.payloadJsonSimpleKey(simpleKeyWire, "bigint").as("key_lsn"))
    }),

    // CollectionNameTransformation: the routed collection name (a DATA
    // column — mixed camel/dot/digit boundaries) restyled per
    // NamingStyleUtils: snake_case with prefix/suffix, camelCase, and
    // UPPER_CASE side by side.
    "q93_sink_collection_naming" -> ((s, dir) => {
      val ev = ChangeLog.flat(s, dir)
        .withColumn("__route", concat(lit("repoFiles."), col("repo")))
      val snake = Transforms.collectionNameTransformation(
        ev, style = "snake_case", prefix = "dw_", suffix = "_v1")
      snake.select(
        col("lsn"), col("repo"),
        col("__route").as("snake_name"),
        Transforms.styledColumn(concat(lit("repo_files."), col("repo")), "camel_case").as("camel_name"),
        Transforms.styledColumn(concat(lit("repoFiles."), col("repo")), "upper_case").as("upper_name"))
    }),

    // Sink field include/exclude filter: topic-qualified exclude entries
    // ("files_0:lang" drops lang only in files_0; unqualified "content"
    // drops it everywhere); key columns survive the projection; the
    // per-collection frames re-align on null-filled dropped columns.
    "q94_sink_field_filter" -> ((s, dir) => {
      val f = merge.SinkModes.fieldFilter(excludeList = "files_0:lang, content")
      val ev = ChangeLog.flat(s, dir)
        .withColumn("topic", concat(lit("files_"), (col("part") % 2).cast("string")))
      val all = Seq("repo", "path", "commit", "lang", "content")
      Seq("files_0", "files_1").map { t =>
        val proj = merge.SinkModes.projectFields(
          ev.where(col("topic") === t)
            .select(("lsn" +: "topic" +: all).map(col): _*),
          t, f, keepAlways = Seq("lsn", "topic", "repo", "path"))
        all.foldLeft(proj)((d, c) =>
          if (d.columns.contains(c)) d else d.withColumn(c, lit(null).cast("string")))
          .select(("lsn" +: "topic" +: all).map(col): _*)
      }.reduce(_ unionAll _)
    }),

    // message.key.columns custom key mapper: "files_0:repo" re-keys the
    // files_0 collection to repo alone (one LWW winner per repo), while
    // files_1 falls back to the (repo, path) PK — regex-anchored,
    // spec-ordered, reference Key.CustomKeyMapper semantics.
    "q95_custom_key_columns" -> ((s, dir) => {
      val ev = ChangeLog.flat(s, dir)
        .withColumn("topic", concat(lit("files_"), (col("part") % 2).cast("string")))
      val mapper = merge.MultiTable.customKeyMapper("files_0:repo")
      Seq("files_0", "files_1").map { t =>
        val keys = mapper(t, Seq("repo", "path", "commit", "lang", "content"))
        Lww.reduce(ev.where(col("topic") === t), keys)
          .select("topic", "repo", "path", "commit", "op", "lsn")
      }.reduce(_ unionAll _)
    }),

    // Extended semantic types (io.debezium.data.{Bits,Enum,EnumSet,
    // VariableScaleDecimal,SparseDoubleVector}): raw wire encodings are
    // CONSTRUCTED in-plan (BitSet little-endian bytes, BigInteger
    // big-endian two's complement, sparse maps) and decoded back by the
    // metadata-driven converter — all codegen'd built-ins. Integer/floor
    // outputs keep the double comparisons engine-exact.
    "q96_semantic_types_ext" -> ((s, dir) => {
      import graft.core.SemanticTypes
      val ev = s.read.parquet(s"$dir/events.parquet")
      val v = pmod(col("event_id"), lit(40000L))
      val bitsBin = unhex(concat(
        lpad(hex(pmod(v, lit(256))), 2, "0"), lpad(hex(shiftright(v, 8)), 2, "0")))
      val unscaled = col("user_id") - 500 // negative for small user_ids
      val vsBytes = unhex(lpad(hex(unscaled), 16, "0")) // 8-byte BE two's complement
      val allowed = Seq("click", "view", "purchase") // signup/error excluded
      val raw = ev.select(
        col("event_id"),
        SemanticTypes.tagged(bitsBin, "bits16", SemanticTypes.bits(16)),
        SemanticTypes.tagged(col("event_type"), "etype", SemanticTypes.enumType(allowed)),
        SemanticTypes.tagged(concat_ws(",", col("event_type"), lit("view"), lit("bogus")),
          "eset", SemanticTypes.enumSetType(allowed)),
        SemanticTypes.tagged(struct(lit(3).as("scale"), vsBytes.as("value")),
          "vscale", SemanticTypes.VariableScale),
        SemanticTypes.tagged(struct(lit(4).as("dimensions"),
          map(lit(2), col("value")).as("vector")), "dense", SemanticTypes.SparseDoubleVector))
      SemanticTypes.convert(raw).select(
        col("event_id"), col("bits16"), col("etype"),
        array_join(col("eset"), ",").as("eset"),
        floor(col("vscale") * 1000).cast("long").as("vscale_milli"),
        floor(col("dense")(1) * 10000).cast("long").as("d2_e4"),
        size(col("dense")).as("dims"))
    }),

    // io.debezium.time family: Time (ms) / NanoTime (ns) normalize to the
    // same µs-since-midnight, ZonedTime drops its offset to UTC, durations
    // floor to µs, and the ISO-8601 Interval string parses to the
    // parquet-safe (months, days, micros) struct.
    "q97_semantic_time_types" -> ((s, dir) => {
      import graft.core.SemanticTypes
      val ev = s.read.parquet(s"$dir/events.parquet")
      val tsUtc = col("ts").cast("timestamp") // parquet NTZ → session-UTC instant
      val msOfDay = pmod(unix_millis(tsUtc), lit(86400000L))
      val zt = concat(
        date_format(tsUtc + expr("INTERVAL 2 HOURS"), "HH:mm:ss.SSSSSS"), lit("+02:00"))
      val iso = concat(
        lit("P"), (col("event_id") % 3).cast("string"), lit("Y"),
        (col("user_id") % 12).cast("string"), lit("M"),
        (col("event_id") % 28).cast("string"), lit("DT"),
        (col("event_id") % 24).cast("string"), lit("H"),
        (col("user_id") % 60).cast("string"), lit("M"),
        (col("event_id") % 60).cast("string"), lit(".25S"))
      val raw = ev.select(
        col("event_id"),
        SemanticTypes.tagged(msOfDay.cast("int"), "time_us", SemanticTypes.Time),
        SemanticTypes.tagged(msOfDay * 1000000L, "nanotime_us", SemanticTypes.NanoTime),
        SemanticTypes.tagged(zt, "zt_us", SemanticTypes.ZonedTime),
        SemanticTypes.tagged(col("event_id") * 7L, "dur_us", SemanticTypes.MicroDuration),
        SemanticTypes.tagged(iso, "iv", SemanticTypes.Interval))
      SemanticTypes.convert(raw).select(
        col("event_id"), col("time_us"), col("nanotime_us"), col("zt_us"), col("dur_us"),
        col("iv.months").as("iv_months"), col("iv.days").as("iv_days"),
        col("iv.micros").as("iv_micros"))
    }),

    // ------------------------------------------------------------- //
    // Document-store (MongoDB connector) CDC family                  //
    // ------------------------------------------------------------- //

    // ExtractNewDocumentState over document change events: full-document
    // capture passes `after` through; change-stream partial updates
    // rebuild the document from the pre-image + updatedFields −
    // removedFields; deletes rewrite to {__deleted:true,_id}. Documents
    // ride as Spark VARIANT and re-serialize canonically (sorted keys),
    // so the oracle rebuilds the exact text per event.
    "q98_mongo_extract_document" -> ((s, dir) => {
      val ev = DocumentLog.events(s, dir)
      DocumentCdc.extractNewDocumentState(ev,
        deleteMode = "rewrite", rewriteWithId = true)
        .select("id", "lsn", "op", "doc")
    }),
    // MongoDataConverter array.encoding=document (arrays → {_0,_1,…}
    // documents) and flatten.struct (nested docs → delimiter-joined
    // top-level keys) — both codegen'd single-pass JSON text kernels.
    "q99_mongo_array_flatten" -> ((s, dir) => {
      val full = DocumentLog.events(s, dir).where(col("after").isNotNull)
      val ad = DocumentCdc.json_array_to_document(col("after"))
      full.select(col("id"), col("lsn"), ad.as("doc_ad"),
        DocumentCdc.json_flatten_doc(ad, lit("_")).as("doc_flat"))
    }),
    // BSON extended-JSON scalar normalization (MongoDataConverter
    // getObject semantics: $oid/$date/$number*/$binary wrappers → plain
    // JSON values) + typed variant extraction off the normalized text.
    "q100_mongo_extended_json" -> ((s, dir) => {
      val docs = DocumentLog.extendedJsonDocs(s, dir)
      val norm = DocumentCdc.json_normalize_extended(col("ext_doc"))
      val v = parse_json(norm)
      docs.select(col("doc_id"), norm.as("doc"),
        variant_get(v, "$._id", "string").as("oid"),
        variant_get(v, "$.created", "bigint").as("created_ms"),
        variant_get(v, "$.n", "int").as("n"),
        variant_get(v, "$.price", "string").as("price"),
        variant_get(v, "$.blob", "string").as("blob_b64"))
    }),
    // MongoEventRouter: the outbox fields live INSIDE the document —
    // route by aggregatetype, key by aggregateid, expand.json.payload
    // expands the payload sub-document into typed columns.
    "q101_mongo_outbox" -> ((s, dir) => {
      val ins = DocumentLog.events(s, dir).where(col("op") === "c")
      val av = parse_json(col("after"))
      val outbox = ins.select(col("lsn"), to_json(struct(
        col("id").as("_id"),
        col("id").as("aggregateid"),
        variant_get(av, "$.lang", "string").as("aggregatetype"),
        lit("doc_changed").as("event_type"),
        struct(
          variant_get(av, "$.meta.head", "string").as("head"),
          variant_get(av, "$.meta.len", "int").as("len")).as("payload")))
        .as("doc"))
      DocumentCdc.documentOutboxRouter(outbox,
        payloadDdl = "head string, len int")
        .select(col("topic"), col("key"), col("payload.head").as("head"),
          col("payload.len").as("len"), col("lsn"))
    }),

    // SQL-Server-style change-table ingestion: update-before/update-after
    // row pairs fold into one 'u' event (one groupBy on the log position —
    // O(batch), skew-immune); the __$update_mask bitmask decodes to
    // changed-column names; NULL max-type columns whose mask bit says
    // UNCHANGED are repaired to the unavailable placeholder (the value
    // q17's reselect SMT then patches from sink state).
    "q102_sqlserver_change_table" -> ((s, dir) => {
      val captured = Seq("repo", "path", "commit", "lang", "content", "notes")
      val raw = graft.sources.ChangeTable.syntheticRows(s, dir)
      val repaired = graft.sources.ChangeTable.repairMaxColumns(
        raw, captured, maxCols = Seq("notes"), placeholder = "__unavailable__")
      val ev = graft.sources.ChangeTable.toEvents(repaired, captured)
      val row = coalesce(col("after"), col("before"))
      ev.select(col("op"), col("lsn"),
        row.getField("repo").as("repo"), row.getField("path").as("path"),
        row.getField("commit").as("commit"), row.getField("lang").as("lang"),
        row.getField("content").as("content"), row.getField("notes").as("notes"),
        array_join(col("changed"), ",").as("changed"))
    }),

    // GTID-set restart fencing (the binlog comparator's first rule): the
    // committed/executed set accumulates DISTRIBUTED via gaps-and-islands
    // interval compaction (per-server canonical `srvN:a-b:c` strings, 8
    // rows to the driver), and the replayed log is fenced by codegen'd
    // GTID-set membership — events already contained are dropped, exactly
    // the reference's events-to-skip restart semantics.
    "q103_gtid_fencing" -> ((s, dir) => {
      import s.implicits._
      val log = ChangeLog.base(s, dir).withColumn("gtid",
        concat(lit("srv"), col("part").cast("string"), lit(":"), col("lsn").cast("string")))
      val done = log.where(col("lsn") % 7 =!= 0)
      val w = Window.partitionBy(col("part")).orderBy(col("lsn"))
      val islands = done
        .withColumn("island", col("lsn") - row_number().over(w))
        .groupBy(col("part"), col("island"))
        .agg(min(col("lsn")).as("s"), max(col("lsn")).as("e"))
      val perServer = islands.groupBy(col("part")).agg(
        array_join(transform(array_sort(collect_list(struct(col("s"), col("e")))),
          p => when(p.getField("s") === p.getField("e"), p.getField("s").cast("string"))
            .otherwise(concat(p.getField("s"), lit("-"), p.getField("e")))), ":").as("ivs"))
        .select(concat(lit("srv"), col("part").cast("string"), lit(":"), col("ivs")).as("srvset"))
      val committed = perServer.orderBy("srvset").as[String].collect().mkString(",")
      log.where(!graft.operators.Gtid.gtid_in_set(col("gtid"), lit(committed)))
        .select("repo", "path", "commit", "lang", "content", "op", "part", "lsn")
    }),

    // Streaming engine end-to-end UNDER THE ORACLE (the §2.4 embedded-
    // consumer row, previously spec-only): the envelope log staged as
    // parquet files, tailed by CdcPipeline.start (AvailableNow →
    // foreachBatch apply) in TWO runs against the SAME checkpoint — a
    // mid-input restart — then the converged table read back. Oracle =
    // the q03/q04 declarative fold: source-offset recovery + idempotent
    // re-fencing must reproduce the exact batch-path state.
    "q107_cdc_streaming_e2e" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-stream-e2e").toString
      val inDir = s"$root/in"; val ckpt = s"$root/ckpt"
      val table = new LakeTable(s"$root/table", numBuckets = 16)
      val flat = ChangeLog.flat(s, dir)
      def stage(f: DataFrame): Unit =
        Envelope.wrap(f).repartition(4).write.mode("append").parquet(inDir)
      stage(flat.where(col("part") % 2 === 0))
      CdcPipeline.start(s, inDir, ckpt, table, maxFilesPerTrigger = 3)
        .awaitTermination()
      stage(flat.where(col("part") % 2 === 1))
      CdcPipeline.start(s, inDir, ckpt, table, maxFilesPerTrigger = 3)
        .awaitTermination()
      withSha(table.snapshot(s).get)
    }),

    // §2.4 STREAMING incremental view maintenance: the pipeline keeps a
    // derived per-repo aggregate LakeTable in sync after every commit
    // (MaterializedView.maintain inside foreachBatch), across two waves
    // and a checkpoint restart. The oracle aggregates the converged fold
    // directly, so a MATCH proves the streamed view landed exactly on it.
    "q117_cdc_streaming_view" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-stream-ivm").toString
      val inDir = s"$root/in"; val ckpt = s"$root/ckpt"
      val table = new LakeTable(s"$root/table", numBuckets = 16)
      val viewTable = new LakeTable(s"$root/view", numBuckets = 4, keyCols = Seq("repo"))
      val dv = MaterializedView.DerivedView(
        viewTable, Seq("repo"), length(col("content")), "total_chars")
      val flat = ChangeLog.flat(s, dir)
      def stage(f: DataFrame): Unit =
        Envelope.wrap(f).repartition(4).write.mode("append").parquet(inDir)
      stage(flat.where(col("part") % 2 === 0))
      CdcPipeline.start(s, inDir, ckpt, table, maxFilesPerTrigger = 3,
        views = Seq(dv)).awaitTermination()
      stage(flat.where(col("part") % 2 === 1))
      CdcPipeline.start(s, inDir, ckpt, table, maxFilesPerTrigger = 3,
        views = Seq(dv)).awaitTermination()
      viewTable.snapshot(s).get.select("repo", "n_rows", "total_chars")
    }),

    // §2.4 row-level DML (DELETE FROM … WHERE): matching current-state
    // rows get dominating tombstone events through the ordinary merge —
    // no second write path; compaction/feed/views all see normal events.
    "q118_cdc_delete_where" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-delw").toString
      val table = new LakeTable(root, numBuckets = 16)
      CdcPipeline.replay(s, ChangeLog.flat(s, dir), table, numBatches = 4)
      merge.Dml.deleteWhere(s, table, col("lang") === "de")
      withSha(table.snapshot(s).get)
    }),

    // §2.4 row-level DML (UPDATE … SET … WHERE): SET expressions evaluate
    // against the old row; the rewritten rows re-enter with a dominating
    // commit (suffix '~' wins LWW per key, newer stream commits still win).
    "q119_cdc_update_where" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-updw").toString
      val table = new LakeTable(root, numBuckets = 16)
      CdcPipeline.replay(s, ChangeLog.flat(s, dir), table, numBatches = 4)
      merge.Dml.updateWhere(s, table, col("lang") === "de",
        Seq("content" -> concat(col("content"), lit(" [redacted]"))))
      withSha(table.snapshot(s).get)
    }),

    // §2.4 RESTORE (Delta RESTORE TABLE … TO VERSION analog): roll back
    // to version 2 of a 4-batch replay as a new metadata-only commit —
    // the snapshot then equals the fold of the first two lsn windows.
    "q120_cdc_restore" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-restore").toString
      val table = new LakeTable(root, numBuckets = 16)
      CdcPipeline.replay(s, ChangeLog.flat(s, dir), table, numBatches = 4)
      table.restore(2L)
      withSha(table.snapshot(s).get)
    }),

    // §2.1 surrogate-key incremental snapshot: chunk ranges computed over
    // a NON-PK column — the execute-snapshot signal's `surrogate-key`
    // field (`ExecuteSnapshot.java:62-69,118-119`). The window is held
    // CONSTANT across chunks so the output is chunk-membership-
    // independent; correctness of the surrogate range partition then
    // shows up as exactly-once coverage (an overlap duplicates a row, a
    // gap drops one — either hash-mismatches the oracle fold).
    "q108_cdc_surrogate_snapshot" -> ((s, dir) => {
      val log = ChangeLog.base(s, dir)
      val mx = maxLsn(log)
      val rows = Lww.applyState(log).select(payload: _*)
      Snapshot.incremental(rows, log, numChunks = 4,
        windowFor = _ => (mx / 4, mx / 2),
        surrogateKey = Some("commit"))
        .select(payload :+ col("lsn"): _*)
    }),

    // §1.4/§2.5 CustomConverter SPI: an ordered chain of user column
    // converters, each matching on the relational column descriptor
    // (declared source type / qualified name) and registering a schema +
    // value rewrite; FIRST registration wins, unmatched columns pass
    // through (`CustomConverterRegistry.java:57-135`). Chain below: CHAR
    // columns upper-cased (claims `commit` — the lower-casing byName
    // converter later in the chain must never fire), `lsn` hex-encoded.
    "q109_custom_converters" -> ((s, dir) => {
      import graft.core.{ColumnConverters => CC, SourceMetadata => SM}
      val tagged = SM.propagate(ChangeLog.base(s, dir), Map(
        "commit" -> SM.SourceColumn("CHAR", length = 11),
        "lang" -> SM.SourceColumn("VARCHAR", length = 8),
        "content" -> SM.SourceColumn("TEXT")))
      val chain = Seq(
        CC.byDeclaredType("CHAR")(_ => CC.Registration(
          org.apache.spark.sql.types.StringType, v => upper(v), sourceType = Some("VARCHAR"))),
        CC.byName("repos\\.files\\.commit")(_ => CC.Registration(
          org.apache.spark.sql.types.StringType, v => lower(v))),
        CC.byName(".*\\.lsn")(_ => CC.Registration(
          org.apache.spark.sql.types.StringType, v => lower(hex(v)))))
      CC.convert(tagged, "repos.files", chain)
        .select(col("repo"), col("path"), col("commit"), col("lang"),
          col("content"), col("op"), col("lsn"))
    }),
    // §2.1 snapshot SELECT statement override: the user statement replaces
    // the default whole-table snapshot read for its table (row filter +
    // column reshape), then the snapshot-then-stream union converges under
    // LWW as usual (`RelationalSnapshotChangeEventSource.java:1151-1161`).
    "q110_snapshot_select_override" -> ((s, dir) => {
      val log = ChangeLog.base(s, dir)
      val snapAt = maxLsn(log) / 2
      val state = Lww.applyState(log.where(col("lsn") <= snapAt)).select(payload: _*)
      val base = Snapshot.overriddenSelect(s, "files", state, Map(
        "files" -> ("SELECT repo, path, commit, lang, upper(content) AS content " +
          "FROM files WHERE lang <> 'java'")))
      withSha(Lww.applyState(
        Snapshot.initial(base, snapAt).unionByName(log.where(col("lsn") > snapAt))))
    }),

    // §2.2 hstore.handling.mode=json: PG hstore text (quoted keys/values,
    // backslash escapes, unquoted NULL) → canonical sorted-key JSON via
    // the codegen'd kernel (`PostgresValueConverter.java:387-396,779-815`).
    // The synthesized column exercises NULL values and escaped quotes/
    // backslashes in keys and values.
    "q111_pg_hstore_json" -> ((s, dir) => {
      val log = ChangeLog.base(s, dir)
      val hs = concat(
        lit("\"lang\"=>"),
        when(col("lsn") % 7 === 0, lit("NULL"))
          .otherwise(concat(lit("\""), col("lang"), lit("\""))),
        lit(", \"commit\"=>\""), col("commit"),
        lit("\", \"k\\\"ey\"=>\"v\\\\al\""))
      graft.operators.PgValues.hstoreHandling(
        log.select(col("repo"), col("path"), col("lsn"), hs.as("attrs")),
        Seq("attrs"), "json")
        .select(col("repo"), col("path"), col("lsn"), col("attrs").as("attrs_json"))
    }),

    // ------------------------------------------------------------- //
    // Oracle-connector buffered-transaction family (LogMiner)        //
    // ------------------------------------------------------------- //

    // Buffered commit emission: interleaved per-transaction events with
    // exact LIFO partial-undo cancellation (rollback-flagged rows remove
    // the latest live event of their row id), ROLLBACK discard, and
    // in-order dispatch tagged (commit_scn, emit_seq) — all as windows +
    // one join keyed by txn, O(buffered window) shuffle, no driver cache.
    "q104_txn_buffer_commit" -> ((s, dir) => {
      val ev = graft.sources.TxnLog.events(s, dir).where(col("op") =!= "lob")
      graft.operators.TxnBuffer.commitOrdered(ev, graft.sources.TxnLog.decisions(s))
        .select("txn_id", "scn", "op", "row_id", "content", "commit_scn", "emit_seq")
    }),
    // Buffer summary with retention abandonment: per-txn live event count
    // + status (committed / rolled_back / abandoned past the retention
    // fence / in_flight) — the log.mining.transaction.retention analog.
    "q105_txn_buffer_state" -> ((s, dir) =>
      graft.operators.TxnBuffer.bufferState(
        graft.sources.TxnLog.events(s, dir),
        graft.sources.TxnLog.decisions(s), retentionCutoffScn = 160L)),
    // LOB_WRITE fragment merge: fragments assemble in SCN order and fold
    // into the latest live DML preceding them; fragment rows are consumed.
    "q106_txn_lob_merge" -> ((s, dir) => {
      import graft.operators.TxnBuffer
      val live = TxnBuffer.undoFiltered(graft.sources.TxnLog.events(s, dir))
      TxnBuffer.attachCommits(TxnBuffer.lobMerged(live), graft.sources.TxnLog.decisions(s))
        .select("txn_id", "scn", "op", "row_id", "content", "commit_scn", "emit_seq")
    }),
  )

  // ------------------------------------------------------------- oracles

  private val winners =
    """SELECT * FROM (
      |  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
      |  FROM ev) t
      |WHERE rn = 1""".stripMargin

  private val applyStateSql =
    s"""SELECT repo, path, commit, lang, content, sha256(content) AS content_sha FROM (
       |  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
       |  FROM ev) t
       |WHERE rn = 1 AND op <> 'd'""".stripMargin

  private val applyState0Sql = // same, over ev0 (no replays)
    applyStateSql.replace("FROM ev)", "FROM ev0)")

  /** Document-event grid, lock-step with [[DocumentLog.events]]. */
  private val mongoCte =
    """WITH g AS (
      |  SELECT doc_id, v,
      |         CASE WHEN v = 1 THEN 'c'
      |              WHEN v = 2 THEN (CASE WHEN doc_id % 4 = 0 THEN 'd' ELSE 'u' END)
      |              ELSE (CASE WHEN doc_id % 8 = 0 THEN 'c' ELSE 'u' END) END AS op,
      |         doc_id * 3 + v AS lsn, CAST(doc_id % 8 AS int) AS part, text, lang
      |  FROM documents CROSS JOIN (VALUES (1), (2), (3)) vs(v)
      |  WHERE NOT (v = 3 AND doc_id % 4 = 0 AND doc_id % 8 <> 0)
      |), d AS (
      |  SELECT g.*,
      |    'repo' || lpad(CAST(doc_id % 10 AS varchar), 2, '0') ||
      |      '/src/f' || CAST(doc_id AS varchar) || '.txt' AS id,
      |    'c' || lpad(CAST(lsn AS varchar), 10, '0') AS commit_v,
      |    substr(substr(text, 1, 200) || ' #v' || CAST(v AS varchar), 1, 12) AS head_v,
      |    length(substr(text, 1, 200) || ' #v' || CAST(v AS varchar)) AS len_v
      |  FROM g
      |)""".stripMargin

  /** LogMiner-shaped transaction log + LIFO undo survivors, lock-step
    * with [[graft.sources.TxnLog]] / [[graft.operators.TxnBuffer.undoFiltered]]:
    * a +1 event survives iff the (txn,row) running balance never returns
    * below its own level (nearest-unmatched-push pairing).
    */
  private val txnCte =
    """WITH e0 AS (
      |  SELECT 'txn' || lpad(CAST(doc_id % 40 AS varchar), 3, '0') AS txn_id,
      |         doc_id * 8 + CASE WHEN v = 1 THEN 1 ELSE 4 END AS scn,
      |         CASE WHEN v = 1 THEN 'c' WHEN doc_id % 4 = 0 THEN 'd' ELSE 'u' END AS op,
      |         'r' || CAST(doc_id AS varchar) AS row_id,
      |         false AS rollback_flag,
      |         CASE WHEN v = 2 AND doc_id % 4 = 0 THEN NULL
      |              ELSE substr(text, 1, 200) || ' #v' || CAST(v AS varchar) END AS content
      |  FROM documents CROSS JOIN (VALUES (1), (2)) vs(v)
      |  UNION ALL
      |  SELECT 'txn' || lpad(CAST(doc_id % 40 AS varchar), 3, '0'), doc_id * 8 + 6, 'u',
      |         'r' || CAST(doc_id AS varchar), true, NULL
      |  FROM documents WHERE doc_id % 11 = 3
      |  UNION ALL
      |  SELECT 'txn' || lpad(CAST(doc_id % 40 AS varchar), 3, '0'), doc_id * 8 + k, 'lob',
      |         'r' || CAST(doc_id AS varchar), false,
      |         'L' || CAST(k AS varchar) || ':' || substr(text, 50, 40)
      |  FROM documents CROSS JOIN (VALUES (2), (3)) ks(k)
      |  WHERE doc_id % 13 = 5 AND doc_id % 11 <> 3
      |), dec AS (
      |  SELECT 'txn' || lpad(CAST(t AS varchar), 3, '0') AS txn_id,
      |         CASE WHEN t % 5 = 0 THEN 'ROLLBACK' ELSE 'COMMIT' END AS kind,
      |         10000000 + t AS decision_scn
      |  FROM range(0, 40) r(t) WHERE NOT (t % 5 <> 0 AND t % 7 = 3)
      |), bal AS (
      |  SELECT *, sum(CASE WHEN rollback_flag THEN -1 WHEN op = 'lob' THEN 0 ELSE 1 END)
      |       OVER (PARTITION BY txn_id, row_id ORDER BY scn ROWS UNBOUNDED PRECEDING) AS b
      |  FROM e0
      |), live AS (
      |  SELECT * FROM (
      |    SELECT *, min(b) OVER (PARTITION BY txn_id, row_id ORDER BY scn
      |                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS mf
      |    FROM bal) t
      |  WHERE op = 'lob' OR (NOT rollback_flag AND mf >= b)
      |)""".stripMargin

  /** Shingle/words helpers shared by the dedup oracles (DuckDB list
    * comprehensions; lock-step with [[Dedup.shingles]]/[[TextAnalysis.words]]).
    */
  private val shingled =
    """shingled AS (
      |  SELECT doc_id, list_distinct(
      |    [array_to_string(words[i:i+2], ' ') for i in generate_series(1, greatest(len(words)-2, 1))]) AS sh
      |  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS words FROM corpus))""".stripMargin

  private val embDot = // left-fold double dot product, lock-step with Similarity.dot
    "list_reduce([va[i] * vb[i] for i in generate_series(1, len(va))], (x, y) -> x + y)"
  private def embNorm(v: String) =
    s"sqrt(list_reduce([$v[i] * $v[i] for i in generate_series(1, len($v))], (x, y) -> x + y))"
  private val embCos = s"round(($embDot) / (${embNorm("va")} * ${embNorm("vb")}), 4)"

  /** LSH bucket sign pattern, lock-step with [[Similarity.lshBucket]]. */
  private def lshBucketSql(v: String, planes: Int): String =
    "concat(" + (0 until planes).map { p =>
      s"""CASE WHEN list_reduce([(CASE WHEN substr(md5(concat('$p', '_', CAST(i - 1 AS VARCHAR))), 1, 1) >= '8' THEN 1.0 ELSE -1.0 END) * $v[i] for i in generate_series(1, len($v))], (x, y) -> x + y) > 0 THEN '1' ELSE '0' END"""
    }.mkString(", ") + ")"

  /** 64-bit simhash over hs = [md5(w) || md5('~'||w)], lock-step with
    * [[Dedup.simhash]] (bit j positive ⇔ majority of words have hex digit
    * j ≥ '8' ⇔ the ±1 vote sum is > 0).
    */
  private val simhashSql = {
    val bits = (1 to 64).map { j =>
      s"CASE WHEN 2 * len([h for h in hs if substr(h, $j, 1) >= '8']) > len(hs) THEN '1' ELSE '0' END"
    }
    s"concat(${bits.mkString(", ")})"
  }
  private val simhashHs =
    """[md5(w) || md5(concat('~', w)) for w in string_split_regex(lower(text), '\s+')]"""

  private val stableRouteSql =
    """CAST(list_sum([CAST(ascii(substr(md5(concat(repo, '|', path)), i, 1)) AS BIGINT)
      |  for i in generate_series(1, 32)]) % 16 AS BIGINT)""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q01_cdc_changelog" ->
      s"""$cte
         |SELECT repo, path, commit, lang, content, op, part, lsn, ts_ms FROM ev""".stripMargin,
    "q02_cdc_lww_reduce" ->
      s"""$cte
         |SELECT repo, path, commit, lang, content, op, part, lsn, ts_ms FROM ($winners) w""".stripMargin,
    "q03_cdc_apply_state" -> s"$cte\n$applyStateSql",
    "q04_cdc_replay_e2e" -> s"$cte\n$applyStateSql",
    "q115_cdc_ivm" ->
      s"""$cte
         |SELECT repo, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       CAST(SUM(length(content)) AS BIGINT) AS total_chars
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |  FROM ev) t
         |WHERE rn = 1 AND op <> 'd'
         |GROUP BY repo""".stripMargin,
    "q120_cdc_restore" ->
      s"""$cte
         |, b AS (SELECT min(lsn) AS lo, (max(lsn) - min(lsn)) // 4 + 1 AS w FROM ev)
         |SELECT repo, path, commit, lang, content, sha256(content) AS content_sha FROM (
         |  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |  FROM ev WHERE lsn < (SELECT lo FROM b) + 2 * (SELECT w FROM b)) t
         |WHERE rn = 1 AND op <> 'd'""".stripMargin,
    "q118_cdc_delete_where" ->
      s"""$cte
         |SELECT repo, path, commit, lang, content, sha256(content) AS content_sha FROM (
         |  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |  FROM ev) t
         |WHERE rn = 1 AND op <> 'd' AND (lang <> 'de' OR lang IS NULL)""".stripMargin,
    "q119_cdc_update_where" ->
      s"""$cte
         |, st AS (
         |  SELECT repo, path, commit, lang, content FROM (
         |    SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |    FROM ev) t
         |  WHERE rn = 1 AND op <> 'd')
         |, upd AS (
         |  SELECT repo, path,
         |         CASE WHEN lang = 'de' THEN commit || '~' ELSE commit END AS commit,
         |         lang,
         |         CASE WHEN lang = 'de' THEN content || ' [redacted]' ELSE content END AS content
         |  FROM st)
         |SELECT repo, path, commit, lang, content, sha256(content) AS content_sha FROM upd""".stripMargin,
    "q117_cdc_streaming_view" ->
      s"""$cte
         |SELECT repo, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       CAST(SUM(length(content)) AS BIGINT) AS total_chars
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |  FROM ev) t
         |WHERE rn = 1 AND op <> 'd'
         |GROUP BY repo""".stripMargin,
    "q116_cdc_ivm_minmax" ->
      s"""$cte
         |SELECT repo, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       CAST(MAX(length(content)) AS BIGINT) AS max_chars
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |  FROM ev) t
         |WHERE rn = 1 AND op <> 'd'
         |GROUP BY repo""".stripMargin,
    "q05_cdc_metrics" ->
      s"""$cte
         |, win AS (
         |  SELECT part FROM (
         |    SELECT part, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |    FROM ev) t
         |  WHERE rn = 1)
         |SELECT f.part, f.freshEvents,
         |       coalesce(w.applied, 0) AS applied,
         |       f.freshEvents - coalesce(w.applied, 0) AS dedupDropped
         |FROM (SELECT part, count(*) AS freshEvents FROM ev GROUP BY part) f
         |LEFT JOIN (SELECT part, count(*) AS applied FROM win GROUP BY part) w
         |  ON f.part = w.part""".stripMargin,

    "q06_smt_unwrap" ->
      s"""$cte
         |SELECT repo, path, commit, lang, content, op, part, lsn, ts_ms,
         |       CASE WHEN op = 'd' THEN 'true' ELSE 'false' END AS __deleted
         |FROM ev""".stripMargin,
    "q07_smt_mask" ->
      s"""$cte
         |SELECT repo, path, lsn,
         |       sha256(concat('s1', lang)) AS lang_hash,
         |       substr(content, 1, 40) AS content_trunc,
         |       CASE WHEN content IS NOT NULL THEN '***' END AS content_masked
         |FROM ev WHERE op <> 'd'""".stripMargin,
    "q08_smt_route" ->
      s"""$cte
         |SELECT repo, path, lsn, op,
         |       concat('sink_', lang) AS route,
         |       regexp_replace(repo, '[0-9]+', '', 'g') AS logical_table,
         |       repo AS shard
         |FROM ev WHERE op <> 'd'""".stripMargin,
    "q09_smt_changed_fields" ->
      s"""$cte
         |, lagged AS (
         |  SELECT repo, path, lsn, op, commit, lang, content,
         |         lag(repo)    OVER w AS b_repo,
         |         lag(path)    OVER w AS b_path,
         |         lag(commit)  OVER w AS b_commit,
         |         lag(lang)    OVER w AS b_lang,
         |         lag(content) OVER w AS b_content
         |  FROM ev0 WINDOW w AS (PARTITION BY repo, path ORDER BY commit, lsn))
         |SELECT repo, path, lsn,
         |  concat_ws(',',
         |    CASE WHEN b_commit  IS DISTINCT FROM commit  THEN 'commit'  END,
         |    CASE WHEN b_content IS DISTINCT FROM content THEN 'content' END,
         |    CASE WHEN b_lang    IS DISTINCT FROM lang    THEN 'lang'    END,
         |    CASE WHEN b_path    IS DISTINCT FROM path    THEN 'path'    END,
         |    CASE WHEN b_repo    IS DISTINCT FROM repo    THEN 'repo'    END) AS changed_fields
         |FROM lagged WHERE op = 'u'""".stripMargin,
    "q10_cdc_snapshot_stream" ->
      s"$cte\n$applyState0Sql",
    "q11_cdc_incremental_snapshot" ->
      s"""$cte
         |, state AS (
         |  SELECT repo, path, commit, lang, content,
         |         CAST(regexp_extract(path, 'f([0-9]+)', 1) AS BIGINT) % 4 AS chunk
         |  FROM (
         |    SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |    FROM ev0) t
         |  WHERE rn = 1 AND op <> 'd')
         |SELECT s.repo, s.path, s.commit, s.lang, s.content,
         |       ((SELECT max(lsn) FROM ev0) * s.chunk) // 8 AS lsn
         |FROM state s
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM ev0 e
         |  WHERE e.repo = s.repo AND e.path = s.path
         |    AND e.lsn > ((SELECT max(lsn) FROM ev0) * s.chunk) // 8
         |    AND e.lsn <= ((SELECT max(lsn) FROM ev0) * (s.chunk + 1)) // 8)""".stripMargin,
    "q12_smt_outbox" ->
      """SELECT lang AS route,
        |       CAST(doc_id AS VARCHAR) AS key,
        |       'DocUpdated' AS event_type,
        |       text AS payload,
        |       doc_id AS lsn,
        |       1700000000000 + doc_id AS ts_ms,
        |       CAST(length(text) AS BIGINT) AS n_chars,
        |       lang AS hdr_lang,
        |       'v1' AS env_ver
        |FROM documents""".stripMargin,
    "q13_cdc_schema_evolution" ->
      s"""$cte
         |SELECT repo, path, commit, lang, content,
         |       CASE WHEN lsn > (SELECT max(lsn) // 2 FROM ev0) THEN CAST(length(content) AS BIGINT) END AS n_chars
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |  FROM ev0) t
         |WHERE rn = 1 AND op <> 'd'""".stripMargin,
    "q14_smt_partition_route" ->
      s"""$cte
         |SELECT DISTINCT repo, path, $stableRouteSql AS route FROM ev""".stripMargin,
    "q15_cdc_tombstones" ->
      s"""$cte
         |SELECT repo, path, commit, op, lsn FROM ev
         |UNION ALL
         |SELECT repo, path, commit, 'tombstone' AS op, lsn FROM ev WHERE op = 'd'""".stripMargin,

    "q16_cdc_compact" -> s"$cte\n$applyStateSql",
    "q82_cdc_expire_maintenance" -> s"$cte\n$applyStateSql",
    "q83_epoch_shards" ->
      """WITH e AS (SELECT doc_id, unnest(generate_series(0, 2)) AS epoch FROM documents)
        |SELECT doc_id, CAST(epoch AS INT) AS epoch,
        |       CAST(('0x' || substr(md5(concat('ep1', '|', CAST(epoch AS VARCHAR), '|', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 8 AS shard,
        |       md5(concat('ep1', '|', CAST(epoch AS VARCHAR), '|', CAST(doc_id AS VARCHAR))) AS order_key
        |FROM e""".stripMargin,
    // Two-batch near-dedup simulation: phase-0 seed then phase-1 corpus;
    // in-batch clusters = min-reachable-id closure over band-collision
    // pairs (the q73 recursive pattern, once per phase); admitted =
    // phase-1 cluster canonicals with zero band keys in the phase-0-
    // admitted index. Banding lock-step with q21 (16 lanes, 4 bands).
    "q84_ingest_near_dedup" ->
      s"""WITH RECURSIVE ${Corpus.Sql.corpus}
         |, all_docs AS (
         |  SELECT 0 AS phase, doc_id, text FROM documents WHERE doc_id % 3 <> 0
         |  UNION ALL
         |  SELECT 1 AS phase, doc_id, text FROM corpus)
         |, shing AS (
         |  SELECT phase, doc_id, list_distinct(
         |    [array_to_string(words[i:i+2], ' ') for i in generate_series(1, greatest(len(words)-2, 1))]) AS sh
         |  FROM (SELECT phase, doc_id, string_split_regex(lower(text), '\\s+') AS words FROM all_docs))
         |, sigs AS (
         |  SELECT phase, doc_id,
         |         [list_aggregate([md5(concat(CAST(h AS VARCHAR), '|', s)) for s in sh], 'min')
         |          for h in generate_series(0, 15)] AS sig
         |  FROM shing)
         |, banded AS (
         |  SELECT phase, doc_id, b, md5(array_to_string(sig[b*4+1:b*4+4], '|')) AS bkey
         |  FROM sigs, (VALUES (0),(1),(2),(3)) bs(b))
         |, p0 AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM banded l JOIN banded r
         |    ON l.b = r.b AND l.bkey = r.bkey AND l.doc_id < r.doc_id
         |  WHERE l.phase = 0 AND r.phase = 0)
         |, e0 AS (SELECT a AS s, b AS d FROM p0 UNION SELECT b, a FROM p0)
         |, cc0 AS (
         |  SELECT s AS doc, d AS reach FROM e0
         |  UNION
         |  SELECT cc0.doc, e.d FROM cc0 JOIN e0 e ON cc0.reach = e.s)
         |, losers0 AS (
         |  SELECT doc FROM (SELECT doc, least(doc, min(reach)) AS cluster FROM cc0 GROUP BY doc)
         |  WHERE doc <> cluster)
         |, idx AS (
         |  SELECT DISTINCT bkey FROM banded
         |  WHERE phase = 0 AND doc_id NOT IN (SELECT doc FROM losers0))
         |, p1 AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM banded l JOIN banded r
         |    ON l.b = r.b AND l.bkey = r.bkey AND l.doc_id < r.doc_id
         |  WHERE l.phase = 1 AND r.phase = 1)
         |, e1 AS (SELECT a AS s, b AS d FROM p1 UNION SELECT b, a FROM p1)
         |, cc1 AS (
         |  SELECT s AS doc, d AS reach FROM e1
         |  UNION
         |  SELECT cc1.doc, e.d FROM cc1 JOIN e1 e ON cc1.reach = e.s)
         |, losers1 AS (
         |  SELECT doc FROM (SELECT doc, least(doc, min(reach)) AS cluster FROM cc1 GROUP BY doc)
         |  WHERE doc <> cluster)
         |, winners1 AS (
         |  SELECT doc_id FROM corpus WHERE doc_id NOT IN (SELECT doc FROM losers1))
         |, flagged AS (
         |  SELECT DISTINCT doc_id FROM banded
         |  WHERE phase = 1 AND doc_id IN (SELECT doc_id FROM winners1)
         |    AND bkey IN (SELECT bkey FROM idx))
         |SELECT doc_id FROM winners1 WHERE doc_id NOT IN (SELECT doc_id FROM flagged)""".stripMargin,
    // Maximal runs of consecutive duplicated-3-gram starts; a run p..q
    // covers tokens p..q+2; spans shorter than 5 tokens dropped.
    "q85_dup_spans" ->
      s"""WITH ${Corpus.Sql.corpus}
         |, toks AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS words FROM corpus)
         |, g AS (
         |  SELECT doc_id,
         |         unnest(generate_series(1, len(words) - 2)) AS pos,
         |         unnest([array_to_string(words[i:i+2], ' ') for i in generate_series(1, len(words) - 2)]) AS gr
         |  FROM toks WHERE len(words) >= 3)
         |, dup AS (
         |  SELECT gr FROM (SELECT DISTINCT doc_id, gr FROM g)
         |  GROUP BY gr HAVING count(*) >= 2)
         |, m AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gr))
         |, runs AS (
         |  SELECT doc_id, pos,
         |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM m)
         |SELECT doc_id, CAST(min(pos) AS INT) AS span_start, CAST(max(pos) + 2 AS INT) AS span_end
         |FROM runs GROUP BY doc_id, grp
         |HAVING max(pos) + 2 - min(pos) + 1 >= 5""".stripMargin,
    // Expected propagation facts are constants (the truth-table style of
    // q80); the one data-dependent cell is the VARCHAR(5) length audit.
    "q86_smt_source_metadata" ->
      """SELECT 'event_id' AS col_name, 'event_id' AS source_name, 'BIGSERIAL' AS source_type,
        |       CAST(NULL AS INT) AS source_length, CAST(NULL AS INT) AS source_scale,
        |       'BIGINT' AS sink_type, CAST(0 AS BIGINT) AS len_violations
        |UNION ALL
        |SELECT 'ts', NULL, NULL, NULL, NULL, 'TIMESTAMP', 0
        |UNION ALL
        |SELECT 'user_id', NULL, NULL, NULL, NULL, 'BIGINT', 0
        |UNION ALL
        |SELECT 'kind', 'event_type', 'VARCHAR', 5, NULL, 'VARCHAR(5)',
        |       (SELECT count(*) FROM events WHERE length(event_type) > 5)
        |UNION ALL
        |SELECT 'value', 'value', 'NUMERIC', 8, 2, 'DECIMAL(8,2)', 0
        |UNION ALL
        |SELECT 'props', 'props', 'JSONB', NULL, NULL, 'TEXT', 0""".stripMargin,
    // Run-state machine over the 4-slice replay: START×2 dataset facets,
    // RUNNING per lsn-range slice (records = slice event count incl.
    // replays), COMPLETE = live winners. run_id = md5(namespace|name).
    "q87_cdc_lineage" ->
      s"""$cte
         |, b AS (SELECT min(lsn) AS lo, (max(lsn) - min(lsn)) // 4 + 1 AS w FROM ev)
         |, sj AS (SELECT '[{"name":"repo","type":"string"},{"name":"path","type":"string"},{"name":"commit","type":"string"},{"name":"lang","type":"string"},{"name":"content","type":"string"},{"name":"op","type":"string"},{"name":"part","type":"int"},{"name":"lsn","type":"bigint"},{"name":"ts_ms","type":"bigint"}]' AS j)
         |SELECT CAST(0 AS INT) AS seq, 'START' AS event_type, 'graft' AS job_namespace,
         |       'files-cdc' AS job_name, md5('graft|files-cdc') AS run_id,
         |       'documents_changelog' AS dataset_name, 'INPUT' AS dataset_kind,
         |       'STREAM' AS dataset_type, (SELECT j FROM sj) AS schema_json,
         |       CAST(-1 AS BIGINT) AS batch_id, CAST(-1 AS BIGINT) AS records
         |UNION ALL
         |SELECT 1, 'START', 'graft', 'files-cdc', md5('graft|files-cdc'),
         |       'files_state', 'OUTPUT', 'TABLE', (SELECT j FROM sj), -1, -1
         |UNION ALL
         |SELECT CAST(2 + i AS INT), 'RUNNING', 'graft', 'files-cdc', md5('graft|files-cdc'),
         |       NULL, NULL, NULL, NULL, CAST(i AS BIGINT),
         |       (SELECT count(*) FROM ev, b WHERE lsn >= b.lo + i * b.w AND lsn < b.lo + (i + 1) * b.w)
         |FROM (VALUES (0),(1),(2),(3)) t(i)
         |UNION ALL
         |SELECT 6, 'COMPLETE', 'graft', 'files-cdc', md5('graft|files-cdc'),
         |       NULL, NULL, NULL, NULL, -1,
         |       (SELECT count(*) FROM (
         |          SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |          FROM ev) t
         |        WHERE rn = 1 AND op <> 'd')""".stripMargin,
    // snake_case: eventType -> event_type, grossValue123 -> gross_value_123;
    // avro_unicode: the euro sign escapes to _u20ac.
    "q88_smt_field_naming" ->
      """SELECT event_id, event_type, value AS gross_value_123,
        |       props AS "props_k_u20acy"
        |FROM events""".stripMargin,
    // JSON roundtrip is the identity on the routed fields; decode turns
    // op='m' into 'c', which the outbox INSERT-only filter admits.
    "q89_smt_decode_message" ->
      s"""$cte
         |SELECT lang AS route, repo AS key, 'file_changed' AS event_type,
         |       path AS payload, lsn, ts_ms
         |FROM ev0 WHERE op <> 'd'""".stripMargin,
    // Deterministic span/trace ids are md5 of the log position; rows with
    // lsn%3=0 propagate the application trace context instead of minting
    // a new trace. Two span rows (db-log-write parent, processing child)
    // per event, each carrying the injected traceparent header.
    "q90_smt_tracing_span" ->
      s"""$cte
         |, ids AS (
         |  SELECT *,
         |         CASE WHEN lsn % 3 = 0 THEN md5(concat('app', CAST(lsn AS VARCHAR)))
         |              ELSE md5(concat('trace', CAST(lsn AS VARCHAR))) END AS trace_id,
         |         substr(md5(concat('span', CAST(lsn AS VARCHAR))), 1, 16) AS db_span,
         |         substr(md5(concat('proc', CAST(lsn AS VARCHAR))), 1, 16) AS proc_span,
         |         CASE WHEN lsn % 3 = 0
         |              THEN substr(md5(concat('appspan', CAST(lsn AS VARCHAR))), 1, 16) END AS app_span
         |  FROM ev0)
         |SELECT trace_id, db_span AS span_id, app_span AS parent_span_id,
         |       'db-log-write' AS operation, ts_ms AS start_ts_ms,
         |       repo AS db_instance, CAST(NULL AS VARCHAR) AS attr_op, lsn,
         |       concat('00-', trace_id, '-', db_span, '-01') AS traceparent
         |FROM ids
         |UNION ALL
         |SELECT trace_id, proc_span AS span_id, db_span AS parent_span_id,
         |       'debezium-read' AS operation, ts_ms AS start_ts_ms,
         |       repo AS db_instance, op AS attr_op, lsn,
         |       concat('00-', trace_id, '-', db_span, '-01') AS traceparent
         |FROM ids""".stripMargin,
    // add.fields routes envelope metadata into the flattened value
    // (qualified specs become __struct_field; `ts_ms:event_ts` renames);
    // add.headers lands in the headers map; transaction is null in the
    // synthetic log so __transaction_id is NULL end-to-end.
    "q91_smt_unwrap_add_fields" ->
      s"""$cte
         |SELECT repo, path, commit, lang, content,
         |       op AS __op,
         |       CAST(lsn AS VARCHAR) AS __source_lsn,
         |       CAST(ts_ms AS VARCHAR) AS __event_ts,
         |       CAST(NULL AS VARCHAR) AS __transaction_id,
         |       CASE WHEN op = 'd' THEN 'true' ELSE 'false' END AS __deleted,
         |       CAST(part AS VARCHAR) AS header_part
         |FROM ev""".stripMargin,
    // Serde round trip: every wire variant decodes back to the `after`
    // image (null for deletes — wrap() puts the delete row in `before`),
    // keys decode to (repo, path), the simple key to its bigint lsn.
    "q92_serde_payload_json" ->
      s"""$cte
         |SELECT lsn, op,
         |       CASE WHEN op = 'd' THEN NULL ELSE repo END AS repo,
         |       CASE WHEN op = 'd' THEN NULL ELSE path END AS path,
         |       CASE WHEN op = 'd' THEN NULL ELSE commit END AS commit,
         |       CASE WHEN op = 'd' THEN NULL ELSE lang END AS lang,
         |       CASE WHEN op = 'd' THEN NULL ELSE content END AS content,
         |       repo AS key_repo, path AS key_path, lsn AS key_lsn
         |FROM ev""".stripMargin,
    // repo is 'repo' || NN, so the styled names are concatenations:
    // snake('repoFiles.repoNN') = repo_files_repo_NN (boundaries at oF,
    // o→digit, and the dot), camel('repo_files.repoNN') capitalizes the
    // post-separator segments with tails unchanged, upper is plain.
    "q93_sink_collection_naming" ->
      s"""$cte
         |SELECT lsn, repo,
         |       concat('dw_repo_files_repo_', substr(repo, 5), '_v1') AS snake_name,
         |       concat('repoFilesRepo', substr(repo, 5)) AS camel_name,
         |       concat('REPOFILES.REPO', substr(repo, 5)) AS upper_name
         |FROM ev""".stripMargin,
    // exclude list "files_0:lang, content": content dropped in every
    // collection, lang only in files_0 (part even); repo/path are the
    // always-kept key.
    "q94_sink_field_filter" ->
      s"""$cte
         |SELECT lsn, concat('files_', cast(part % 2 AS varchar)) AS topic,
         |       repo, path, commit,
         |       CASE WHEN part % 2 = 0 THEN NULL ELSE lang END AS lang,
         |       CAST(NULL AS VARCHAR) AS content
         |FROM ev""".stripMargin,
    // files_0 (even parts) keyed by repo alone; files_1 by (repo, path).
    // lsn is unique per event, so each window has a single winner.
    "q95_custom_key_columns" ->
      s"""$cte
         |, routed AS (
         |  SELECT *, concat('files_', cast(part % 2 AS varchar)) AS topic FROM ev)
         |SELECT topic, repo, path, commit, op, lsn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY repo ORDER BY commit DESC, lsn DESC) AS rn
         |  FROM routed WHERE topic = 'files_0') t0
         |WHERE rn = 1
         |UNION ALL
         |SELECT topic, repo, path, commit, op, lsn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |  FROM routed WHERE topic = 'files_1') t1
         |WHERE rn = 1""".stripMargin,
    // decode(encode(x)) = x for every wire form; the floor-of-scaled
    // doubles make the float comparisons engine-exact (both engines run
    // the same IEEE op chain before the floor).
    "q96_semantic_types_ext" ->
      """SELECT event_id,
        |       event_id % 40000 AS bits16,
        |       CASE WHEN event_type IN ('click','view','purchase')
        |            THEN event_type END AS etype,
        |       CASE WHEN event_type IN ('click','view','purchase')
        |            THEN concat(event_type, ',view') ELSE 'view' END AS eset,
        |       CAST(floor(((user_id - 500) / 1000.0) * 1000) AS BIGINT) AS vscale_milli,
        |       CAST(floor(value * 10000) AS BIGINT) AS d2_e4,
        |       CAST(4 AS INT) AS dims
        |FROM events""".stripMargin,
    "q97_semantic_time_types" ->
      """SELECT event_id,
        |       (epoch_ms(ts) % 86400000) * 1000 AS time_us,
        |       (epoch_ms(ts) % 86400000) * 1000 AS nanotime_us,
        |       epoch_us(ts) % 86400000000 AS zt_us,
        |       event_id * 7 AS dur_us,
        |       CAST((event_id % 3) * 12 + (user_id % 12) AS INT) AS iv_months,
        |       CAST(event_id % 28 AS INT) AS iv_days,
        |       (event_id % 24) * 3600000000 + (user_id % 60) * 60000000
        |         + (event_id % 60) * 1000000 + 250000 AS iv_micros
        |FROM events""".stripMargin,
    // Document-CDC family: the oracle rebuilds each canonical document
    // text with json_object/json_array (argument order = the sorted key
    // order the engine emits). mongoCte mirrors DocumentLog.events.
    "q98_mongo_extract_document" ->
      s"""$mongoCte
         |SELECT id, lsn, op,
         |  CASE
         |    WHEN op = 'd' THEN CAST(json_object('__deleted', true, '_id', id) AS varchar)
         |    WHEN op = 'c' OR lsn % 2 = 0 THEN CAST(json_object(
         |      '__deleted', false, '_id', id, 'commit', commit_v, 'lang', lang,
         |      'meta', json_object('head', head_v, 'len', len_v),
         |      'tags', json_array('p' || CAST(part AS varchar), 'v' || CAST(v AS varchar))) AS varchar)
         |    WHEN lsn % 4 = 1 THEN CAST(json_object(
         |      '__deleted', false, '_id', id, 'commit', commit_v, 'lang', lang,
         |      'meta', json_object('head', head_v, 'len', len_v)) AS varchar)
         |    ELSE CAST(json_object(
         |      '__deleted', false, '_id', id, 'commit', commit_v, 'lang', lang,
         |      'meta', json_object('head', head_v, 'len', len_v),
         |      'tags', json_array('p' || CAST(part AS varchar), 'v' || CAST(v - 1 AS varchar))) AS varchar)
         |  END AS doc
         |FROM d""".stripMargin,
    "q99_mongo_array_flatten" ->
      s"""$mongoCte
         |SELECT id, lsn,
         |  CAST(json_object('_id', id, 'commit', commit_v, 'lang', lang,
         |    'meta', json_object('head', head_v, 'len', len_v),
         |    'tags', json_object('_0', 'p' || CAST(part AS varchar),
         |                        '_1', 'v' || CAST(v AS varchar))) AS varchar) AS doc_ad,
         |  CAST(json_object('_id', id, 'commit', commit_v, 'lang', lang,
         |    'meta_head', head_v, 'meta_len', len_v,
         |    'tags__0', 'p' || CAST(part AS varchar),
         |    'tags__1', 'v' || CAST(v AS varchar)) AS varchar) AS doc_flat
         |FROM d WHERE op = 'c' OR (op = 'u' AND lsn % 2 = 0)""".stripMargin,
    "q100_mongo_extended_json" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |         'repo' || lpad(CAST(doc_id % 10 AS varchar), 2, '0')
        |           || '/src/f' || CAST(doc_id AS varchar) || '.txt' AS id
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(json_object('_id', substr(md5(id), 1, 24),
        |    'blob', to_base64(encode(substr(text, 1, 8))),
        |    'created', 1700000000000 + doc_id * 1000,
        |    'n', doc_id % 7,
        |    'price', CAST(length(text) AS varchar) || '.25') AS varchar) AS doc,
        |  substr(md5(id), 1, 24) AS oid,
        |  1700000000000 + doc_id * 1000 AS created_ms,
        |  CAST(doc_id % 7 AS int) AS n,
        |  CAST(length(text) AS varchar) || '.25' AS price,
        |  to_base64(encode(substr(text, 1, 8))) AS blob_b64
        |FROM d""".stripMargin,
    "q101_mongo_outbox" ->
      s"""$mongoCte
         |SELECT 'outbox.event.' || lang AS topic, id AS key,
         |       head_v AS head, CAST(len_v AS int) AS len, lsn
         |FROM d WHERE op = 'c'""".stripMargin,
    "q102_sqlserver_change_table" ->
      s"""$mongoCte
         |SELECT op, lsn,
         |  'repo' || lpad(CAST(doc_id % 10 AS varchar), 2, '0') AS repo,
         |  'src/f' || CAST(doc_id AS varchar) || '.txt' AS path,
         |  CASE WHEN op = 'd' THEN 'c' || lpad(CAST(lsn - 1 AS varchar), 10, '0')
         |       ELSE commit_v END AS commit,
         |  lang,
         |  CASE WHEN op = 'd' THEN substr(text, 1, 200) || ' #v' || CAST(v - 1 AS varchar)
         |       ELSE substr(text, 1, 200) || ' #v' || CAST(v AS varchar) END AS content,
         |  CASE WHEN op = 'u' THEN (CASE WHEN lsn % 5 = 0 THEN NULL ELSE '__unavailable__' END)
         |       ELSE 'note' || CAST(doc_id AS varchar) END AS notes,
         |  CASE WHEN op = 'u' THEN
         |    (CASE WHEN lsn % 5 = 0 THEN 'repo,path,commit,lang,content,notes'
         |          ELSE 'commit,content' END) END AS changed
         |FROM d""".stripMargin,
    // The committed set holds every lsn % 7 <> 0 GTID; fencing keeps the rest.
    "q103_gtid_fencing" ->
      s"""$cte
         |SELECT repo, path, commit, lang, content, op, part, lsn
         |FROM ev0 WHERE lsn % 7 = 0""".stripMargin,
    // streaming path converges to the same fold as the batch replay
    "q107_cdc_streaming_e2e" -> s"$cte\n$applyStateSql",
    // constant window ⇒ result is the fold minus keys touched in
    // (max/4, max/2], each emitted at lsn = max/4 — independent of which
    // surrogate-range chunk served the row (exactly-once partition check)
    "q108_cdc_surrogate_snapshot" ->
      s"""$cte
         |, state AS (
         |  SELECT repo, path, commit, lang, content
         |  FROM (
         |    SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |    FROM ev0) t
         |  WHERE rn = 1 AND op <> 'd')
         |SELECT s.repo, s.path, s.commit, s.lang, s.content,
         |       (SELECT max(lsn) FROM ev0) // 4 AS lsn
         |FROM state s
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM ev0 e
         |  WHERE e.repo = s.repo AND e.path = s.path
         |    AND e.lsn > (SELECT max(lsn) FROM ev0) // 4
         |    AND e.lsn <= (SELECT max(lsn) FROM ev0) // 2)""".stripMargin,
    // first-wins chain: commit UPPER (CHAR converter), never lower-cased
    // by the later byName converter; lsn hex-encoded lowercase
    "q109_custom_converters" ->
      s"""$cte
         |SELECT repo, path, upper(commit) AS commit, lang, content, op,
         |       lower(to_hex(lsn)) AS lsn
         |FROM ev0""".stripMargin,
    // snapshot side reads through the user SELECT (java rows excluded,
    // content upper-cased) at offset S; streamed tail (lsn > S) unmodified;
    // LWW winner-pick over the union
    "q110_snapshot_select_override" ->
      s"""$cte
         |, snap AS (
         |  SELECT repo, path, commit, lang, upper(content) AS content,
         |         'r' AS op, (SELECT max(lsn) // 2 FROM ev0) AS lsn
         |  FROM (
         |    SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |    FROM ev0 WHERE lsn <= (SELECT max(lsn) // 2 FROM ev0)) t
         |  WHERE rn = 1 AND op <> 'd' AND lang <> 'java')
         |, unioned AS (
         |  SELECT * FROM snap
         |  UNION ALL
         |  SELECT repo, path, commit, lang, content, op, lsn FROM ev0
         |  WHERE lsn > (SELECT max(lsn) // 2 FROM ev0))
         |SELECT repo, path, commit, lang, content, sha256(content) AS content_sha
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |  FROM unioned) t
         |WHERE rn = 1 AND op <> 'd'""".stripMargin,
    // expected JSON reconstructed from source truth (keys sorted:
    // commit < k"ey < lang); DuckDB '' literals keep backslashes verbatim
    "q111_pg_hstore_json" ->
      s"""$cte
         |SELECT repo, path, lsn,
         |       '{"commit":"' || commit || '","k\\"ey":"v\\\\al","lang":' ||
         |       CASE WHEN lsn % 7 = 0 THEN 'null' ELSE '"' || lang || '"' END || '}'
         |         AS attrs_json
         |FROM ev0""".stripMargin,
    "q104_txn_buffer_commit" ->
      s"""$txnCte
         |SELECT l.txn_id, l.scn, l.op, l.row_id, l.content,
         |       d.decision_scn AS commit_scn,
         |       CAST(row_number() OVER (PARTITION BY l.txn_id ORDER BY l.scn) AS int) AS emit_seq
         |FROM live l JOIN dec d ON l.txn_id = d.txn_id AND d.kind = 'COMMIT'
         |WHERE l.op <> 'lob'""".stripMargin,
    "q105_txn_buffer_state" ->
      s"""$txnCte
         |SELECT l.txn_id, count(*) AS events_live,
         |       min(l.scn) AS start_scn, max(l.scn) AS end_scn,
         |       CASE WHEN d.kind = 'COMMIT' THEN 'committed'
         |            WHEN d.kind = 'ROLLBACK' THEN 'rolled_back'
         |            WHEN min(l.scn) < 160 THEN 'abandoned'
         |            ELSE 'in_flight' END AS status
         |FROM live l LEFT JOIN dec d USING (txn_id)
         |WHERE l.op <> 'lob'
         |GROUP BY l.txn_id, d.kind""".stripMargin,
    "q106_txn_lob_merge" ->
      s"""$txnCte
         |, frag AS (
         |  SELECT txn_id, row_id, min(scn) AS ffs,
         |         string_agg(content, '' ORDER BY scn) AS lobtxt
         |  FROM live WHERE op = 'lob' GROUP BY txn_id, row_id
         |), own AS (
         |  SELECT l.*, f.ffs, f.lobtxt,
         |         max(CASE WHEN l.scn < f.ffs THEN l.scn END)
         |           OVER (PARTITION BY l.txn_id, l.row_id) AS owner_scn
         |  FROM (SELECT * FROM live WHERE op <> 'lob') l
         |  LEFT JOIN frag f USING (txn_id, row_id)
         |)
         |SELECT o.txn_id, o.scn, o.op, o.row_id,
         |       CASE WHEN o.scn = o.owner_scn AND o.lobtxt IS NOT NULL
         |            THEN o.lobtxt ELSE o.content END AS content,
         |       d.decision_scn AS commit_scn,
         |       CAST(row_number() OVER (PARTITION BY o.txn_id ORDER BY o.scn) AS int) AS emit_seq
         |FROM own o JOIN dec d ON o.txn_id = d.txn_id AND d.kind = 'COMMIT'""".stripMargin,
    "q62_cdc_rebucket" -> s"$cte\n$applyStateSql",
    // replay slices are lsn ranges of width (hi-lo)//4 + 1; version 2 holds
    // the fold of the first two slices.
    "q63_cdc_time_travel" ->
      s"""$cte
         |, cut AS (SELECT min(lsn) + 2 * ((max(lsn) - min(lsn)) // 4 + 1) AS c FROM ev)
         |SELECT repo, path, commit, lang, content, sha256(content) AS content_sha FROM (
         |  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |  FROM ev WHERE lsn < (SELECT c FROM cut)) t
         |WHERE rn = 1 AND op <> 'd'""".stripMargin,
    "q64_cdc_point_lookup" ->
      s"""$cte
         |SELECT repo, path, commit, lang, content, sha256(content) AS content_sha FROM (
         |  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |  FROM ev WHERE repo = 'repo01' AND path = 'src/f1.txt') t
         |WHERE rn = 1 AND op <> 'd'""".stripMargin,
    // Change feed (2, 4]: live LWW states at versions 2/3/4 (v slices of
    // lsn width (hi-lo)//4 + 1 each), then per consecutive pair the keyed
    // diff classified insert/delete/update_pre+postimage.
    "q112_cdc_change_feed" ->
      s"""$cte
         |, b AS (SELECT min(lsn) AS lo, (max(lsn) - min(lsn)) // 4 + 1 AS w FROM ev)
         |, st AS (
         |  SELECT * FROM (
         |    SELECT g.v AS sv, e.*, row_number() OVER (
         |      PARTITION BY g.v, e.repo, e.path ORDER BY e.commit DESC, e.lsn DESC) AS rn
         |    FROM ev e CROSS JOIN (VALUES (2),(3),(4)) AS g(v)
         |    WHERE e.lsn < (SELECT lo FROM b) + g.v * (SELECT w FROM b)) t
         |  WHERE rn = 1 AND op <> 'd')
         |, keys AS (
         |  SELECT DISTINCT p.v AS ver, s.repo, s.path
         |  FROM (VALUES (3),(4)) AS p(v) JOIN st s ON s.sv IN (p.v - 1, p.v))
         |, d AS (
         |  SELECT k.ver, k.repo, k.path,
         |         a.commit AS a_commit, a.lang AS a_lang, a.content AS a_content,
         |         a.op AS a_op, a.lsn AS a_lsn, a.part AS a_part, a.ts_ms AS a_ts,
         |         b2.commit AS b_commit, b2.lang AS b_lang, b2.content AS b_content,
         |         b2.op AS b_op, b2.lsn AS b_lsn, b2.part AS b_part, b2.ts_ms AS b_ts,
         |         a.repo IS NOT NULL AS has_a, b2.repo IS NOT NULL AS has_b
         |  FROM keys k
         |  LEFT JOIN st a ON a.sv = k.ver - 1 AND a.repo = k.repo AND a.path = k.path
         |  LEFT JOIN st b2 ON b2.sv = k.ver AND b2.repo = k.repo AND b2.path = k.path)
         |, diffs AS (SELECT *,
         |    (a_commit IS DISTINCT FROM b_commit OR a_lang IS DISTINCT FROM b_lang
         |     OR a_content IS DISTINCT FROM b_content OR a_op IS DISTINCT FROM b_op
         |     OR a_lsn IS DISTINCT FROM b_lsn OR a_part IS DISTINCT FROM b_part
         |     OR a_ts IS DISTINCT FROM b_ts) AS changed FROM d)
         |SELECT repo, path, b_commit AS commit, b_lang AS lang, sha256(b_content) AS content_sha,
         |       b_lsn AS lsn, b_op AS op, 'insert' AS change_type, CAST(ver AS bigint) AS commit_version
         |FROM diffs WHERE has_b AND NOT has_a
         |UNION ALL
         |SELECT repo, path, a_commit, a_lang, sha256(a_content), a_lsn, a_op, 'delete', CAST(ver AS bigint)
         |FROM diffs WHERE has_a AND NOT has_b
         |UNION ALL
         |SELECT repo, path, a_commit, a_lang, sha256(a_content), a_lsn, a_op, 'update_preimage', CAST(ver AS bigint)
         |FROM diffs WHERE has_a AND has_b AND changed
         |UNION ALL
         |SELECT repo, path, b_commit, b_lang, sha256(b_content), b_lsn, b_op, 'update_postimage', CAST(ver AS bigint)
         |FROM diffs WHERE has_a AND has_b AND changed""".stripMargin,
    "q45_cdc_mor_replay" -> s"$cte\n$applyStateSql",
    "q17_smt_reselect" ->
      s"""$cte
         |, state AS (
         |  SELECT repo, path, content FROM (
         |    SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |    FROM ev0) t
         |  WHERE rn = 1 AND op <> 'd')
         |, events AS (
         |  SELECT repo, path, lsn,
         |         CASE WHEN lsn % 5 = 0 THEN '__unavailable__' ELSE content END AS content
         |  FROM ev0 WHERE op = 'u')
         |SELECT e.repo, e.path, e.lsn,
         |       CASE WHEN e.content = '__unavailable__' THEN s.content ELSE e.content END AS content
         |FROM events e LEFT JOIN state s ON e.repo = s.repo AND e.path = s.path""".stripMargin,
    "q18_smt_header_to_value" ->
      s"""$cte
         |SELECT repo, path, lsn, op, 'repos' AS src_db, lang AS src_lang FROM ev""".stripMargin,
    "q19_smt_vector_json" ->
      """SELECT vec_id,
        |       concat('[', array_to_string(
        |         [CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) for x in embedding], ','), ']') AS vec_json
        |FROM embeddings""".stripMargin,
    "q70_embed_quantize" ->
      """WITH base AS (
        |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings)
        |, s AS (
        |  SELECT vec_id, v,
        |         greatest(list_max([abs(x) for x in v]) / 127.0, 1e-30) AS scale
        |  FROM base)
        |SELECT vec_id,
        |       round(scale, 6) AS scale6,
        |       array_to_string([CAST(round(x / scale) AS INT) for x in v], '|') AS codes,
        |       round(list_max([abs(x - round(x / scale) * scale) for x in v]), 6) AS max_err6,
        |       (list_max([abs(x - round(x / scale) * scale) for x in v]) <= scale / 2 + 1e-12) AS bound_ok
        |FROM s""".stripMargin,

    "q33_cdc_tx_metadata" ->
      s"""$cte
         |SELECT lsn // 10 AS tx_id,
         |       count(*) AS event_count,
         |       min(lsn) AS begin_lsn,
         |       max(lsn) AS end_lsn,
         |       count(DISTINCT repo) AS data_collections
         |FROM ev0 GROUP BY 1""".stripMargin,

    "q43_cdc_tx_events" ->
      s"""$cte
         |, base AS (SELECT lsn // 10 AS tx_id, repo AS coll, lsn FROM ev0)
         |SELECT 'event' AS kind, CAST(1 AS INT) AS ord, tx_id, lsn,
         |       CAST(row_number() OVER (PARTITION BY tx_id ORDER BY lsn) AS BIGINT) AS total_order,
         |       CAST(row_number() OVER (PARTITION BY tx_id, coll ORDER BY lsn) AS BIGINT) AS data_collection_order,
         |       CAST(NULL AS BIGINT) AS event_count
         |FROM base
         |UNION ALL
         |SELECT 'begin', CAST(0 AS INT), tx_id, min(lsn), NULL, NULL, NULL FROM base GROUP BY tx_id
         |UNION ALL
         |SELECT 'end', CAST(2 AS INT), tx_id, max(lsn), NULL, NULL, count(*) FROM base GROUP BY tx_id""".stripMargin,
    "q44_cdc_readonly_incremental" ->
      s"""$cte
         |, b AS (SELECT min(lsn) - 1 AS lo0, max(lsn) AS mx,
         |               greatest(1, (max(lsn) - (min(lsn) - 1)) // 4 + 1) AS w
         |        FROM ev0)
         |, state AS (
         |  SELECT repo, path, commit, lang, content,
         |         CAST(regexp_extract(path, 'f([0-9]+)', 1) AS BIGINT) % 4 AS chunk
         |  FROM (
         |    SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |    FROM ev0) t
         |  WHERE rn = 1 AND op <> 'd')
         |SELECT s.repo, s.path, s.commit, s.lang, s.content,
         |       b.lo0 + s.chunk * b.w AS lsn
         |FROM state s, b
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM ev0 e
         |  WHERE e.repo = s.repo AND e.path = s.path
         |    AND e.lsn > b.lo0 + s.chunk * b.w
         |    AND e.lsn <= least(b.lo0 + (s.chunk + 1) * b.w, b.mx))""".stripMargin,
    "q34_cdc_quarantine" ->
      s"""$cte
         |SELECT repo,
         |       CASE WHEN lsn % 41 = 0 THEN NULL ELSE path END AS path,
         |       lsn,
         |       CASE WHEN lsn % 43 = 0 THEN 'x' ELSE op END AS op
         |FROM ev0
         |WHERE lsn % 41 = 0 OR lsn % 43 = 0""".stripMargin,

    "q35_smt_cloudevents" ->
      s"""$cte
         |SELECT repo, path, lsn,
         |       concat('{"id":"graft-', CAST(lsn AS VARCHAR),
         |              '","source":"/graft/repolog","specversion":"1.0",',
         |              '"type":"io.graft.repolog.DataChangeEvent.', op,
         |              '","time_ms":', CAST(ts_ms AS VARCHAR),
         |              ',"data":{"repo":', to_json(repo),
         |              ',"path":', to_json(path),
         |              ',"commit":', to_json(commit),
         |              ',"lang":', to_json(lang), '}}') AS cloud_event
         |FROM ev0""".stripMargin,
    "q36_sink_update_mode" ->
      s"""$cte
         |, state AS (
         |  SELECT repo, path FROM (
         |    SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |    FROM ev0 WHERE lsn % 2 = 0) t
         |  WHERE rn = 1 AND op <> 'd')
         |, tail_winners AS (
         |  SELECT repo, path, commit, lang, content, lsn FROM (
         |    SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |    FROM ev0 WHERE lsn % 2 = 1
         |      AND op IN ('r', 'c', 'u')) t
         |  WHERE rn = 1)
         |SELECT w.repo, w.path, w.commit, w.lang, w.content, w.lsn
         |FROM tail_winners w
         |WHERE EXISTS (SELECT 1 FROM state s WHERE w.repo = s.repo AND w.path = s.path)""".stripMargin,
    "q37_sink_insert_mode" ->
      s"""$cte
         |SELECT repo, path, commit, lang, content, op, lsn
         |FROM ev WHERE op IN ('r', 'c', 'u')""".stripMargin,
    "q39_semantic_types" ->
      """SELECT event_id,
        |       CAST(ts AS DATE) AS d_date,
        |       ts AS ts_ntz,
        |       ts AS zts_ntz,
        |       epoch_us(ts) % 86400000000 AS micro_time,
        |       CAST(year(ts) AS INT) AS yr,
        |       concat(substr(md5(CAST(event_id AS VARCHAR)), 1, 8), '-',
        |              substr(md5(CAST(event_id AS VARCHAR)), 9, 4), '-',
        |              substr(md5(CAST(event_id AS VARCHAR)), 13, 4), '-',
        |              substr(md5(CAST(event_id AS VARCHAR)), 17, 4), '-',
        |              substr(md5(CAST(event_id AS VARCHAR)), 21, 12)) AS uuid,
        |       CAST(concat(CAST(user_id AS VARCHAR), '.25') AS DECIMAL(18,2)) AS dec,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        |FROM events""".stripMargin,
    "q38_multi_table" ->
      s"""$cte
         |, routed AS (
         |  SELECT *, CASE WHEN lang = 'en' THEN 'files_en' ELSE 'heads_rest' END AS sink_table
         |  FROM ev0)
         |SELECT sink_table, repo, path, commit, lang, content, lsn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |  FROM routed WHERE sink_table = 'files_en') t
         |WHERE rn = 1 AND op <> 'd'
         |UNION ALL
         |SELECT sink_table, repo, path, commit, lang, content, lsn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY repo ORDER BY commit DESC, lsn DESC) AS rn
         |  FROM routed WHERE sink_table = 'heads_rest') t
         |WHERE rn = 1 AND op <> 'd'""".stripMargin,

    "q46_smt_table_filter" ->
      s"""$cte
         |SELECT repo, path, lsn, op, concat('files_', lang) AS source_table
         |FROM ev WHERE regexp_matches(concat('files_', lang), 'files_(en|de)')""".stripMargin,
    "q47_smt_projection" ->
      s"""$cte
         |SELECT repo, path, op, part, lsn, ts_ms FROM ev""".stripMargin,
    "q48_smt_scripting_filter" ->
      s"""$cte
         |SELECT repo, path, lsn, lang, CAST(length(content) AS BIGINT) AS n_chars
         |FROM ev WHERE op = 'u' AND length(content) > 80 AND lang IN ('en', 'fr')""".stripMargin,
    "q49_smt_record_size" ->
      s"""$cte
         |SELECT repo, path, lsn, op,
         |       CAST(octet_length(encode(content)) AS BIGINT) AS payload_bytes
         |FROM ev WHERE content IS NULL OR octet_length(encode(content)) <= 120""".stripMargin,
    "q50_smt_read_to_insert" ->
      s"""$cte
         |SELECT repo, path, 'c' AS op, (SELECT max(lsn) FROM ev0) AS lsn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |  FROM ev0) t
         |WHERE rn = 1 AND op <> 'd'""".stripMargin,
    "q51_cdc_chunked_snapshot" ->
      s"""$cte
         |SELECT repo, path, commit, lang, content FROM (
         |  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |  FROM ev0) t
         |WHERE rn = 1 AND op <> 'd'""".stripMargin,
    "q52_smt_schema_extract" ->
      s"""$cte
         |SELECT repo, path, lsn,
         |       'STRING' AS __content_type, 'BIGINT' AS __lsn_type
         |FROM ev""".stripMargin,
    "q53_smt_timezone" ->
      s"""$cte
         |SELECT repo, path, lsn,
         |       strftime(epoch_ms(ts_ms + 19800000), '%Y-%m-%d %H:%M:%S') AS ts_kolkata
         |FROM ev""".stripMargin,

    "q20_dedup_exact" ->
      s"""WITH ${Corpus.Sql.corpus}
         |SELECT sha256(text) AS content_sha,
         |       count(*) AS copies,
         |       min(doc_id) AS canonical_id
         |FROM corpus GROUP BY sha256(text)""".stripMargin,
    "q21_dedup_minhash_lsh" ->
      s"""WITH ${Corpus.Sql.corpus}
         |, $shingled
         |, sigs AS (
         |  SELECT doc_id,
         |         [list_aggregate([md5(concat(CAST(h AS VARCHAR), '|', s)) for s in sh], 'min')
         |          for h in generate_series(0, 15)] AS sig
         |  FROM shingled)
         |, banded AS (
         |  SELECT doc_id, b, md5(array_to_string(sig[b*4+1:b*4+4], '|')) AS bkey
         |  FROM sigs, (VALUES (0),(1),(2),(3)) bs(b))
         |, cand AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM banded l JOIN banded r ON l.b = r.b AND l.bkey = r.bkey AND l.doc_id < r.doc_id)
         |SELECT a, b, est_jaccard FROM (
         |  SELECT c.a, c.b,
         |         round(len([i for i in generate_series(1, 16) if sa.sig[i] = sb.sig[i]]) / 16.0, 4) AS est_jaccard
         |  FROM cand c
         |  JOIN sigs sa ON sa.doc_id = c.a
         |  JOIN sigs sb ON sb.doc_id = c.b) t
         |WHERE est_jaccard >= 0.7""".stripMargin,
    // clusters = min-reachable-id per doc over the UNDIRECTED pair graph;
    // the recursive closure recomputes exactly what min-label propagation
    // converges to.
    "q73_dedup_clusters" ->
      s"""WITH RECURSIVE ${Corpus.Sql.corpus}
         |, $shingled
         |, sigs AS (
         |  SELECT doc_id,
         |         [list_aggregate([md5(concat(CAST(h AS VARCHAR), '|', s)) for s in sh], 'min')
         |          for h in generate_series(0, 15)] AS sig
         |  FROM shingled)
         |, banded AS (
         |  SELECT doc_id, b, md5(array_to_string(sig[b*4+1:b*4+4], '|')) AS bkey
         |  FROM sigs, (VALUES (0),(1),(2),(3)) bs(b))
         |, cand AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM banded l JOIN banded r ON l.b = r.b AND l.bkey = r.bkey AND l.doc_id < r.doc_id)
         |, pairs AS (
         |  SELECT a, b FROM (
         |    SELECT c.a, c.b,
         |           round(len([i for i in generate_series(1, 16) if sa.sig[i] = sb.sig[i]]) / 16.0, 4) AS est_jaccard
         |    FROM cand c
         |    JOIN sigs sa ON sa.doc_id = c.a
         |    JOIN sigs sb ON sb.doc_id = c.b) t
         |  WHERE est_jaccard >= 0.7)
         |, edges AS (
         |  SELECT a AS s, b AS d FROM pairs UNION SELECT b, a FROM pairs)
         |, cc AS (
         |  SELECT s AS doc, d AS reach FROM edges
         |  UNION
         |  SELECT cc.doc, e.d FROM cc JOIN edges e ON cc.reach = e.s)
         |SELECT doc, least(doc, min(reach)) AS cluster FROM cc GROUP BY doc""".stripMargin,
    "q113_semdedup" ->
      s"""WITH RECURSIVE ${Corpus.Sql.emb}
         |, cents AS (SELECT vec_id AS ccid, embedding AS cv FROM emb ORDER BY vec_id LIMIT 8)
         |, sa AS (
         |  SELECT vec_id, va, cid, ($embDot) / (${embNorm("va")} * ${embNorm("vb")}) AS ccos_raw
         |  FROM (SELECT e.vec_id, e.embedding AS va, c.ccid AS cid, c.cv AS vb
         |        FROM emb e CROSS JOIN cents c))
         |, assign AS (
         |  SELECT vec_id, va AS v, cid AS list_id, round(ccos_raw, 4) AS ccos FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos_raw DESC, cid) AS rn FROM sa) t
         |  WHERE rn = 1)
         |, pairs AS (
         |  SELECT a, b FROM (
         |    SELECT l.vec_id AS a, r.vec_id AS b, l.v AS va, r.v AS vb, $embCos AS cos
         |    FROM assign l JOIN assign r ON l.list_id = r.list_id AND l.vec_id < r.vec_id) t
         |  WHERE cos >= 0.98)
         |, edges AS (
         |  SELECT a AS s, b AS d FROM pairs UNION SELECT b, a FROM pairs)
         |, cc AS (
         |  SELECT s AS doc, d AS reach FROM edges
         |  UNION
         |  SELECT cc.doc, e.d FROM cc JOIN edges e ON cc.reach = e.s)
         |, comp AS (SELECT doc, least(doc, min(reach)) AS cluster FROM cc GROUP BY doc)
         |SELECT comp.doc, comp.cluster, a.ccos,
         |       (row_number() OVER (PARTITION BY comp.cluster ORDER BY a.ccos, comp.doc) = 1) AS keep
         |FROM comp JOIN assign a ON a.vec_id = comp.doc""".stripMargin,
    "q121_semantic_decontam" ->
      s"""WITH ${Corpus.Sql.emb}
         |, ev AS (
         |  SELECT vec_id AS eval_id, [CAST(x AS DOUBLE) for x in embedding] AS vb
         |  FROM embeddings WHERE vec_id % 7 = 0)
         |SELECT vec_id, eval_id, cos FROM (
         |  SELECT c.vec_id, e.eval_id, c.embedding AS va, e.vb, $embCos AS cos
         |  FROM emb c CROSS JOIN ev e) t
         |WHERE cos >= 0.98""".stripMargin,

    // The maintained join view must equal the direct join of the two
    // final LWW states: the file fold joined to the per-repo dimension
    // (latest non-delete event per repo).
    "q122_cdc_join_view" ->
      s"""$cte
         |, st AS (
         |  SELECT repo, path, lang, content FROM (
         |    SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |    FROM ev) t
         |  WHERE rn = 1 AND op <> 'd')
         |, dim AS (
         |  SELECT repo, lang FROM (
         |    SELECT repo, lang, row_number() OVER (PARTITION BY repo ORDER BY commit DESC, lsn DESC) AS rn
         |    FROM ev WHERE op <> 'd') t
         |  WHERE rn = 1)
         |SELECT st.repo AS l_repo, st.path AS l_path, st.lang AS l_lang, st.content AS l_content,
         |       dim.repo AS r_repo, dim.lang AS r_lang
         |FROM st JOIN dim ON st.repo = dim.repo""".stripMargin,

    // The maintained LEFT-OUTER view equals the direct LEFT JOIN of the
    // final states (dimension restricted to repos with digit % 3 != 0).
    "q124_cdc_left_join_view" ->
      s"""$cte
         |, st AS (
         |  SELECT repo, path, lang, content FROM (
         |    SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |    FROM ev) t
         |  WHERE rn = 1 AND op <> 'd')
         |, dim AS (
         |  SELECT repo, lang FROM (
         |    SELECT repo, lang, row_number() OVER (PARTITION BY repo ORDER BY commit DESC, lsn DESC) AS rn
         |    FROM ev WHERE op <> 'd'
         |      AND CAST(regexp_extract(repo, '([0-9]+)', 1) AS int) % 3 <> 0) t
         |  WHERE rn = 1)
         |SELECT st.repo AS l_repo, st.path AS l_path, st.lang AS l_lang, st.content AS l_content,
         |       dim.repo AS r_repo, dim.lang AS r_lang
         |FROM st LEFT JOIN dim ON st.repo = dim.repo""".stripMargin,

    // The maintained FULL-OUTER view equals the direct FULL JOIN of the
    // final states (dimension: digit % 3 != 0 repos, plus '#x' rows no
    // left row matches).
    "q128_cdc_full_join_view" ->
      s"""$cte
         |, st AS (
         |  SELECT repo, path, lang, content FROM (
         |    SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |    FROM ev) t
         |  WHERE rn = 1 AND op <> 'd')
         |, dim0 AS (
         |  SELECT repo, lang FROM (
         |    SELECT repo, lang, row_number() OVER (PARTITION BY repo ORDER BY commit DESC, lsn DESC) AS rn
         |    FROM ev WHERE op <> 'd'
         |      AND CAST(regexp_extract(repo, '([0-9]+)', 1) AS int) % 3 <> 0) t
         |  WHERE rn = 1)
         |, dim AS (
         |  SELECT repo, lang FROM dim0
         |  UNION ALL
         |  SELECT repo || '#x' AS repo, lang FROM dim0
         |  WHERE CAST(regexp_extract(repo, '([0-9]+)', 1) AS int) % 3 = 1)
         |SELECT st.repo AS l_repo, st.path AS l_path, st.lang AS l_lang, st.content AS l_content,
         |       dim.repo AS r_repo, dim.lang AS r_lang
         |FROM st FULL JOIN dim ON st.repo = dim.repo""".stripMargin,

    // AVG = the sum/count quotient; COUNT DISTINCT = the size of the
    // value-level state — both must equal the direct aggregate of the
    // converged LWW state.
    "q129_cdc_ivm_avg_distinct" ->
      s"""$cte
         |SELECT repo, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       CAST(SUM(length(content)) AS BIGINT) AS total_chars,
         |       CAST(SUM(length(content)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_chars,
         |       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |  FROM ev) t
         |WHERE rn = 1 AND op <> 'd'
         |GROUP BY repo""".stripMargin,

    // Batched point lookup equals the fold restricted to the key set.
    "q123_cdc_multi_lookup" ->
      s"""$cte
         |SELECT repo, path, commit, lang, content FROM (
         |  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |  FROM ev) t
         |WHERE rn = 1 AND op <> 'd' AND repo = 'repo05'
         |  AND CAST(regexp_extract(path, 'f([0-9]+)', 1) AS int) % 100 = 5
         |  AND CAST(regexp_extract(path, 'f([0-9]+)', 1) AS int) < 100000""".stripMargin,

    // q13 with a declared DEFAULT: pre-evolution winners read -1, not null.
    "q125_cdc_schema_default" ->
      s"""$cte
         |SELECT repo, path, commit, lang, content,
         |       CASE WHEN lsn > (SELECT max(lsn) // 2 FROM ev0) THEN CAST(length(content) AS BIGINT) ELSE -1 END AS n_chars
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |  FROM ev0) t
         |WHERE rn = 1 AND op <> 'd'""".stripMargin,

    // the DataFrame-keyed lookup equals the fold restricted to the key
    // predicate (3/4 of the live keys — above the lookupMany cap at the
    // driver's scale).
    "q126_cdc_lookup_join" ->
      s"""$cte
         |SELECT repo, path, commit, lang, content FROM (
         |  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |  FROM ev) t
         |WHERE rn = 1 AND op <> 'd'
         |  AND CAST(regexp_extract(path, 'f([0-9]+)', 1) AS int) % 4 <> 0""".stripMargin,

    // the streamed state carries the post-processor chain's outputs, in
    // declared order, for exactly the LWW winners.
    "q127_cdc_post_processors" ->
      s"""$cte
         |SELECT repo, path, commit,
         |       sha256(concat('s1', lang)) AS lang_hash,
         |       substr(content, 1, 40) AS content
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |  FROM ev) t
         |WHERE rn = 1 AND op <> 'd'""".stripMargin,
    "q114_dsir" ->
      """WITH w AS (
        |  SELECT doc_id, lang = 'en' AS t,
        |         unnest(string_split_regex(lower(text), '\s+')) AS g
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, t,
        |         CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 256 AS bk
        |  FROM w),
        |m AS (
        |  SELECT bk, COUNT(*) AS cr, SUM(CASE WHEN t THEN 1 ELSE 0 END) AS ct
        |  FROM b GROUP BY bk),
        |tot AS (SELECT SUM(cr) + 256.0 AS nr, SUM(ct) + 256.0 AS nt FROM m),
        |logit AS (
        |  SELECT gs.bk,
        |         CAST(round(1e6 * ln(((coalesce(m.ct, 0) + 1) / tot.nt) /
        |                             ((coalesce(m.cr, 0) + 1) / tot.nr))) AS BIGINT) AS l
        |  FROM generate_series(0, 255) AS gs(bk) LEFT JOIN m ON m.bk = gs.bk, tot),
        |score AS (
        |  -- CAST: DuckDB SUM(BIGINT) returns HUGEINT, which the driver's
        |  -- pandas compare renders differently from Spark's int64
        |  SELECT b.doc_id, CAST(SUM(l.l) AS BIGINT) AS logw
        |  FROM b JOIN logit l ON l.bk = b.bk GROUP BY b.doc_id),
        |keyed AS (
        |  SELECT doc_id, logw,
        |         logw + CAST(round(1e6 * -ln(-ln(
        |           (CAST(concat('0x', substr(md5(concat('dsir1', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
        |            + 0.5) / 4294967296.0))) AS BIGINT) AS skey
        |  FROM score)
        |SELECT doc_id, logw, skey FROM keyed ORDER BY skey DESC, doc_id LIMIT 200""".stripMargin,
    "q74_corpus_mix_sample" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |         substr(md5(concat('mix1', CAST(doc_id AS VARCHAR))), 1, 8) AS h1,
        |         substr(md5(concat('split1', CAST(doc_id AS VARCHAR))), 1, 8) AS h2
        |  FROM documents)
        |SELECT doc_id, lang,
        |       CASE WHEN h2 < 'cccccccd' THEN 'train'
        |            WHEN h2 < 'e6666666' THEN 'val'
        |            ELSE 'test' END AS split
        |FROM s
        |WHERE h1 < CASE lang WHEN 'en' THEN 'e6666666'
        |                     WHEN 'de' THEN '80000000'
        |                     WHEN 'fr' THEN '40000000'
        |                     ELSE '1999999a' END""".stripMargin,
    "q75_heavy_hitters" ->
      s"""WITH toks AS (
         |  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS term FROM documents)
         |SELECT term, CAST(count(*) AS BIGINT) AS cnt
         |FROM toks
         |WHERE term <> ''
         |GROUP BY term
         |HAVING count(*) >= greatest(5, (SELECT count(*) FROM documents) // 10)""".stripMargin,
    "q76_smt_value_modes" ->
      """SELECT event_id,
        |       CAST(CAST(event_id / 4.0 AS DECIMAL(14,2)) AS DOUBLE) AS dec_dbl,
        |       CAST(CAST(event_id / 4.0 AS DECIMAL(14,2)) AS VARCHAR) AS dec_str,
        |       to_base64(encode(props)) AS bin_b64,
        |       replace(replace(to_base64(encode(props)), '+', '-'), '/', '_') AS bin_b64url,
        |       lower(hex(encode(props))) AS bin_hex,
        |       epoch_us(ts) AS ts_us,
        |       epoch_ms(ts) AS ts_ms
        |FROM events""".stripMargin,
    "q77_seq_packing" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |         CAST(list_sum([CAST(ascii(substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) AS BIGINT)
         |           for i in generate_series(1, 32)]) % 8 AS BIGINT) AS pack_group,
         |         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS tokens
         |  FROM documents),
         |cum AS (
         |  SELECT doc_id, pack_group, tokens,
         |         sum(tokens) OVER (PARTITION BY pack_group ORDER BY doc_id
         |                           ROWS UNBOUNDED PRECEDING) AS cum_tokens
         |  FROM toks)
         |SELECT doc_id, pack_group,
         |       CAST(floor((cum_tokens - tokens) / 2048.0) AS BIGINT) AS pack_seq,
         |       tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM cum""".stripMargin,
    "q22_dedup_simhash" ->
      s"""WITH ${Corpus.Sql.corpus}
         |SELECT doc_id, $simhashSql AS fp
         |FROM (SELECT doc_id, $simhashHs AS hs FROM corpus)""".stripMargin,
    "q40_simhash_pairs" ->
      s"""WITH ${Corpus.Sql.corpus}
         |, fps AS (
         |  SELECT doc_id, $simhashSql AS fp
         |  FROM (SELECT doc_id, $simhashHs AS hs FROM corpus))
         |, seg AS (
         |  SELECT doc_id, fp, s, substr(fp, s * 16 + 1, 16) AS skey
         |  FROM fps, (VALUES (0),(1),(2),(3)) ss(s))
         |, cand AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b, l.fp AS fpa, r.fp AS fpb
         |  FROM seg l JOIN seg r ON l.s = r.s AND l.skey = r.skey AND l.doc_id < r.doc_id)
         |SELECT a, b, hamming FROM (
         |  SELECT a, b,
         |         len([j for j in generate_series(1, 64) if substr(fpa, j, 1) <> substr(fpb, j, 1)]) AS hamming
         |  FROM cand) t
         |WHERE hamming <= 3""".stripMargin,
    "q23_dedup_ngram_jaccard" ->
      s"""WITH ${Corpus.Sql.corpus}
         |, $shingled
         |, sigs AS (
         |  SELECT doc_id,
         |         [list_aggregate([md5(concat(CAST(h AS VARCHAR), '|', s)) for s in sh], 'min')
         |          for h in generate_series(0, 15)] AS sig
         |  FROM shingled)
         |, banded AS (
         |  SELECT doc_id, b, md5(array_to_string(sig[b*4+1:b*4+4], '|')) AS bkey
         |  FROM sigs, (VALUES (0),(1),(2),(3)) bs(b))
         |, cand AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM banded l JOIN banded r ON l.b = r.b AND l.bkey = r.bkey AND l.doc_id < r.doc_id)
         |SELECT a, b, jaccard FROM (
         |  SELECT c.a, c.b,
         |         round(len(list_intersect(sa.sh, sb.sh)) / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE), 4) AS jaccard
         |  FROM cand c
         |  JOIN shingled sa ON sa.doc_id = c.a
         |  JOIN shingled sb ON sb.doc_id = c.b) t
         |WHERE jaccard >= 0.6""".stripMargin,
    "q24_dedup_embedding_cosine" ->
      s"""WITH ${Corpus.Sql.emb}
         |, base AS (SELECT vec_id, embedding AS v, ${lshBucketSql("embedding", 6)} AS bkt FROM emb)
         |SELECT a, b, cos FROM (
         |  SELECT l.vec_id AS a, r.vec_id AS b, l.v AS va, r.v AS vb, $embCos AS cos
         |  FROM base l JOIN base r ON l.bkt = r.bkt AND l.vec_id < r.vec_id) t
         |WHERE cos >= 0.98""".stripMargin,
    "q25_ann_bruteforce" ->
      s"""WITH ${Corpus.Sql.emb}
         |, scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid, q.embedding AS va, c.embedding AS vb,
         |         $embCos AS cos
         |  FROM emb c, (SELECT * FROM emb WHERE vec_id < 10) q
         |  WHERE q.vec_id <> c.vec_id)
         |SELECT qid, nid, cos FROM (
         |  SELECT qid, nid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |  FROM scored) t
         |WHERE rk <= 5""".stripMargin,
    "q26_ann_lsh" ->
      s"""WITH ${Corpus.Sql.emb}
         |, base AS (SELECT vec_id, embedding, ${lshBucketSql("embedding", 4)} AS bkt FROM emb)
         |, scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid, q.embedding AS va, c.embedding AS vb,
         |         $embCos AS cos
         |  FROM base c JOIN (SELECT * FROM base WHERE vec_id < 10) q ON c.bkt = q.bkt
         |  WHERE q.vec_id <> c.vec_id)
         |SELECT qid, nid, cos FROM (
         |  SELECT qid, nid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |  FROM scored) t
         |WHERE rk <= 5""".stripMargin,
    "q56_ann_lsh_multiprobe" ->
      s"""WITH ${Corpus.Sql.emb}
         |, base AS (SELECT vec_id, embedding, ${lshBucketSql("embedding", 6)} AS bkt FROM emb)
         |, probes AS (
         |  SELECT vec_id AS qid, embedding AS qv,
         |         CASE WHEN i = 0 THEN bkt
         |              ELSE concat(substr(bkt, 1, i - 1),
         |                          CASE WHEN substr(bkt, i, 1) = '1' THEN '0' ELSE '1' END,
         |                          substr(bkt, i + 1, 6 - i)) END AS bkt
         |  FROM (SELECT * FROM base WHERE vec_id < 10),
         |       (SELECT unnest(generate_series(0, 6)) AS i))
         |, scored AS (
         |  SELECT p.qid, c.vec_id AS nid, p.qv AS va, c.embedding AS vb,
         |         $embCos AS cos
         |  FROM base c JOIN probes p ON c.bkt = p.bkt
         |  WHERE p.qid <> c.vec_id)
         |SELECT qid, nid, cos FROM (
         |  SELECT qid, nid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |  FROM scored) t
         |WHERE rk <= 5""".stripMargin,
    "q54_ann_ivf" ->
      s"""WITH ${Corpus.Sql.emb}
         |, cents AS (SELECT vec_id AS ccid, embedding AS cv FROM emb ORDER BY vec_id LIMIT 8)
         |, sa AS (
         |  SELECT vec_id, va AS v, cid, ($embDot) / (${embNorm("va")} * ${embNorm("vb")}) AS ccos
         |  FROM (SELECT e.vec_id, e.embedding AS va, c.ccid AS cid, c.cv AS vb
         |        FROM emb e CROSS JOIN cents c))
         |, assign AS (
         |  SELECT vec_id, v, cid AS list_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM sa) t
         |  WHERE rn = 1)
         |, probes AS (
         |  SELECT vec_id AS qid, cid AS list_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
         |    FROM sa WHERE vec_id < 10) t
         |  WHERE rn <= 2)
         |, cand AS (
         |  SELECT p.qid, a.vec_id AS nid, q.v AS va, a.v AS vb
         |  FROM probes p
         |  JOIN assign a ON a.list_id = p.list_id
         |  JOIN assign q ON q.vec_id = p.qid
         |  WHERE a.vec_id <> p.qid)
         |SELECT qid, nid, cos FROM (
         |  SELECT qid, nid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |  FROM (SELECT qid, nid, $embCos AS cos FROM cand) s) t
         |WHERE rk <= 5""".stripMargin,
    "q55_cdc_heartbeat" ->
      s"""$cte
         |, b AS (SELECT min(ts_ms) AS lo, max(ts_ms) AS hi FROM ev0)
         |, perbucket AS (
         |  SELECT part, (ts_ms - (SELECT lo FROM b)) // 10000 AS i, max(lsn) AS bucket_max
         |  FROM ev0 GROUP BY 1, 2)
         |, intervals AS (
         |  SELECT unnest(generate_series(0, (SELECT (hi - lo) // 10000 FROM b))) AS i)
         |, grid AS (
         |  SELECT p.part, iv.i, (SELECT lo FROM b) + iv.i * 10000 AS heartbeat_ts, pb.bucket_max
         |  FROM (SELECT DISTINCT part FROM ev0) p
         |  CROSS JOIN intervals iv
         |  LEFT JOIN perbucket pb ON pb.part = p.part AND pb.i = iv.i)
         |SELECT part, heartbeat_ts, last_lsn FROM (
         |  SELECT part, heartbeat_ts, bucket_max,
         |         max(bucket_max) OVER (
         |           PARTITION BY part ORDER BY i
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_lsn
         |  FROM grid) t
         |WHERE bucket_max IS NULL AND last_lsn IS NOT NULL""".stripMargin,
    // Geometry pipeline algebra: point (1.5d, 0.25d) srid-alternating —
    // even docs (srid 4326) get swapped, odd (3857) don't; EWKB adds 4
    // bytes; linestring (d,d+1),(d+2,d+3),(d+4,d+5) swapped → x-sum is
    // the original y-sum 3d+9 and vice versa.
    "q57_smt_geometry" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id ELSE 6 * doc_id END AS BIGINT) AS x4,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 6 * doc_id ELSE doc_id END AS BIGINT) AS y4,
        |  true AS is_ext,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 4326 ELSE 3857 END AS INT) AS srid_out,
        |  CAST(4 AS INT) AS len_delta,
        |  CAST(3 * doc_id + 9 AS BIGINT) AS ls_sx,
        |  CAST(3 * doc_id + 6 AS BIGINT) AS ls_sy
        |FROM documents""".stripMargin,
    "q58_smt_timescaledb" ->
      """WITH m AS (
        |  SELECT doc_id, doc_id % 3 + 1 AS h,
        |         '_hyper_' || CAST(doc_id % 3 + 1 AS VARCHAR) || '_' ||
        |           CAST(doc_id AS VARCHAR) || '_chunk' AS chunk_table
        |  FROM documents)
        |SELECT doc_id,
        |  CASE h WHEN 1 THEN 'ts.public.conditions'
        |         WHEN 2 THEN 'ts.public.metrics'
        |         ELSE 'ts.public.conditions_summary' END AS topic,
        |  'public' AS out_schema,
        |  CASE h WHEN 1 THEN 'conditions' WHEN 2 THEN 'metrics'
        |         ELSE 'conditions_summary' END AS out_table,
        |  chunk_table,
        |  CASE h WHEN 3 THEN '_materialized_hypertable_3' END AS hypertable_table
        |FROM m""".stripMargin,
    "q27_text_langid" -> {
      val langs = Seq("en" -> 4, "de" -> 3, "fr" -> 2, "es" -> 1)
      val scores = langs.map { case (l, prio) =>
        val sw = TextAnalysis.Stopwords(l).map(w => s"'$w'").mkString(", ")
        s"len([w for w in words if w IN ($sw)]) * 8 + $prio"
      }
      s"""WITH t AS (
         |  SELECT doc_id, lang, text, string_split_regex(lower(text), '\\s+') AS words
         |  FROM documents)
         |SELECT doc_id, lang,
         |  CASE WHEN length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) > 0 THEN 'zh'
         |       WHEN greatest(${scores.mkString(", ")}) % 8 = 4 THEN 'en'
         |       WHEN greatest(${scores.mkString(", ")}) % 8 = 3 THEN 'de'
         |       WHEN greatest(${scores.mkString(", ")}) % 8 = 2 THEN 'fr'
         |       ELSE 'es' END AS pred_lang
         |FROM t""".stripMargin
    },
    "q28_text_quality" -> {
      val sw = TextAnalysis.Stopwords("en").map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (
         |  SELECT doc_id, text,
         |         CAST(length(text) AS DOUBLE) AS n,
         |         CAST(len(string_split_regex(lower(text), '\\s+')) AS DOUBLE) AS nw,
         |         CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) AS punct,
         |         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS digits,
         |         CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) AS uppr,
         |         CAST(len([w for w in string_split_regex(lower(text), '\\s+') if w IN ($sw)]) AS DOUBLE) AS stop
         |  FROM documents)
         |SELECT doc_id,
         |       n AS n_chars, nw AS n_words,
         |       round((n - nw + 1.0) / nw, 4) AS avg_word_len,
         |       round(punct / n, 4) AS punct_ratio,
         |       round(digits / n, 4) AS digit_ratio,
         |       round(uppr / n, 4) AS upper_ratio,
         |       round(stop / nw, 4) AS stopword_ratio,
         |       round(greatest(least(n / 200.0, 1.0) * 0.4 + least(stop / nw * 5.0, 1.0) * 0.3
         |             - least((punct + digits) / n * 5.0, 1.0) * 0.3, 0.0), 4) AS score
         |FROM t""".stripMargin
    },
    "q29_text_tokens" ->
      s"""SELECT doc_id,
         |       CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS ws_tokens,
         |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens,
         |       CAST(ceil(octet_length(encode(text)) / 4.0) AS BIGINT) AS byte_tokens
         |FROM documents""".stripMargin,
    "q30_text_fingerprint" ->
      s"""SELECT doc_id,
         |       list_reduce([CAST(ascii(substr(text, i, 1)) AS BIGINT) for i in generate_series(1, length(text))],
         |                   (a, c) -> (a * 31 + c) % 1000000007) AS roll_hash,
         |       list_aggregate([md5(substr(text, i, 16)) for i in generate_series(1, greatest(length(text) - 15, 1))],
         |                      'min') AS min_kgram
         |FROM documents""".stripMargin,
    "q65_text_winnow" ->
      s"""WITH grams AS (
         |  SELECT doc_id,
         |         [md5(substr(text, i, 16)) for i in generate_series(1, greatest(length(text) - 15, 1))] AS g
         |  FROM documents)
         |, mins AS (
         |  SELECT doc_id,
         |         list_sort(list_distinct(
         |           [list_min(g[i:i+least(8, len(g))-1]) for i in generate_series(1, greatest(len(g) - 7, 1))])) AS fp
         |  FROM grams)
         |SELECT doc_id, CAST(len(fp) AS INT) AS n_fps, array_to_string(fp, '|') AS fps FROM mins""".stripMargin,
    "q66_text_c4_filter" ->
      s"""WITH lined AS (
         |  SELECT doc_id,
         |         substr(text, 1, 40) || '.' || chr(10) ||
         |         substr(text, 41, 30) || chr(10) ||
         |         substr(text, 71, 40) || '!' || chr(10) ||
         |         'tiny.' || chr(10) ||
         |         substr(text, 111, 40) || '?' AS t
         |  FROM documents)
         |, kept AS (
         |  SELECT doc_id,
         |         coalesce(array_to_string([l for l in string_split(t, chr(10))
         |                          if regexp_matches(l, '[.!?"'']\\s*$$')
         |                          and len(string_split_regex(trim(l), '\\s+')) >= 3
         |                          and trim(l) <> ''], chr(10)), '') AS cleaned
         |  FROM lined)
         |SELECT doc_id, cleaned,
         |       CAST(len(string_split(cleaned, chr(10))) AS INT) AS n_lines
         |FROM kept""".stripMargin,
    "q67_text_pii_scrub" ->
      s"""WITH planted AS (
         |  SELECT doc_id,
         |         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or '
         |              || 'https://ex.com/d/' || CAST(doc_id AS VARCHAR)
         |              || ' key deadbeefcafebabe1234 acct 9876543210' AS t
         |  FROM documents)
         |SELECT doc_id,
         |       regexp_replace(
         |         regexp_replace(
         |           regexp_replace(
         |             regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
         |             'https?://[^\\s]+', '[URL]', 'g'),
         |           '\\b[0-9a-fA-F]{16,}\\b', '[HEX]', 'g'),
         |         '\\b[0-9]{9,}\\b', '[NUM]', 'g') AS scrubbed
         |FROM planted""".stripMargin,
    "q68_text_gopher" ->
      s"""WITH w AS (
         |  SELECT doc_id, text,
         |         string_split_regex(trim(text), '\\s+') AS ws,
         |         string_split(text, chr(10)) AS lines,
         |         CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) AS nchars
         |  FROM documents)
         |, f AS (
         |  SELECT doc_id,
         |         (len(ws) >= 10 AND len(ws) <= 100000) AS word_count_ok,
         |         (nchars / len(ws) >= 3.0 AND nchars / len(ws) <= 10.0) AS mean_word_len_ok,
         |         (CAST(len([l for l in lines if regexp_matches(trim(l), '^[-*•]')]) AS DOUBLE) / len(lines) <= 0.3) AS bullet_ratio_ok,
         |         (CAST(len([l for l in lines if regexp_matches(l, '(\\.\\.\\.|…)\\s*$$')]) AS DOUBLE) / len(lines) <= 0.3) AS ellipsis_ratio_ok,
         |         (CAST(len([x for x in ws if regexp_matches(x, '[A-Za-z]')]) AS DOUBLE) / len(ws) >= 0.6) AS alpha_word_ratio_ok,
         |         (CAST(length(text) - length(regexp_replace(text, '[#…]', '', 'g')) AS DOUBLE) / len(ws) <= 0.1) AS symbol_ratio_ok
         |  FROM w)
         |SELECT *,
         |       (word_count_ok AND mean_word_len_ok AND bullet_ratio_ok AND ellipsis_ratio_ok
         |        AND alpha_word_ratio_ok AND symbol_ratio_ok) AS keep
         |FROM f""".stripMargin,
    // 3-shingles in lock-step with the dedup oracles' `shingled` helper
    "q69_text_repetition" ->
      s"""WITH g AS (
         |  SELECT doc_id,
         |         [array_to_string(words[i:i+2], ' ') for i in generate_series(1, greatest(len(words)-2, 1))] AS grams
         |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS words FROM documents))
         |SELECT doc_id,
         |       round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 4) AS dup3_frac,
         |       (round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 4) <= 0.18) AS repetition_ok
         |FROM g""".stripMargin,
    "q41_field_to_embedding" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |         [(CAST(('0x' || substr(md5(concat(CAST(d AS VARCHAR), '|', text)), 1, 8)) AS BIGINT)
        |           / 2147483648.0 - 1.0) for d in generate_series(0, 15)] AS e
        |  FROM documents)
        |SELECT doc_id,
        |       concat('[', array_to_string(
        |         [CAST(floor(v / sqrt(list_reduce([x * x for x in e], (a, b) -> a + b)) * 1000000) AS BIGINT)
        |          for v in e], ','), ']') AS emb_q6
        |FROM raw""".stripMargin,
    "q42_field_to_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, text, greatest(CAST(ceil(length(text) / 120.0) AS INT), 1) AS n
        |  FROM documents)
        |, ex AS (SELECT doc_id, text, unnest(generate_series(1, n)) AS i FROM t)
        |SELECT doc_id, CAST(i - 1 AS INT) AS chunk_idx,
        |       substr(text, CAST((i - 1) * 120 + 1 AS INT), 120) AS chunk,
        |       length(substr(text, CAST((i - 1) * 120 + 1 AS INT), 120)) AS chunk_chars
        |FROM ex""".stripMargin,
    "q31_multimodal_decode" ->
      s"""WITH t AS (SELECT doc_id, text, CAST(octet_length(encode(text)) AS BIGINT) AS len FROM documents)
         |SELECT doc_id,
         |       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         |       len AS byte_len,
         |       sha256(text) AS payload_sha,
         |       CAST(64 + len % 576 AS INT) AS width,
         |       CAST(64 + len % 320 AS INT) AS height,
         |       CAST(CASE WHEN doc_id % 3 = 2 THEN len % 30 + 1 ELSE 1 END AS INT) AS frames
         |FROM t""".stripMargin,
    "q59_crdt_pn_counter" ->
      s"""$cte
         |SELECT repo,
         |       CAST(sum(CASE WHEN op IN ('c','r') THEN 1 ELSE 0 END) AS BIGINT) AS increments,
         |       CAST(sum(CASE WHEN op = 'd' THEN 1 ELSE 0 END) AS BIGINT) AS decrements,
         |       CAST(sum(CASE WHEN op IN ('c','r') THEN 1 WHEN op = 'd' THEN -1 ELSE 0 END) AS BIGINT) AS "value"
         |FROM ev GROUP BY repo""".stripMargin,
    "q60_crdt_delta_counter" ->
      s"""$cte
         |, per AS (
         |  SELECT repo, CAST(lsn // 500 AS BIGINT) AS "interval",
         |         CAST(sum(CASE WHEN op IN ('c','r') THEN 1 ELSE 0 END) AS BIGINT) AS inc_delta,
         |         CAST(sum(CASE WHEN op = 'd' THEN 1 ELSE 0 END) AS BIGINT) AS dec_delta
         |  FROM ev GROUP BY 1, 2)
         |SELECT repo, "interval", inc_delta, dec_delta,
         |       inc_delta - dec_delta AS change,
         |       CAST(sum(inc_delta) OVER w AS BIGINT) AS increments,
         |       CAST(sum(dec_delta) OVER w AS BIGINT) AS decrements,
         |       CAST(sum(inc_delta) OVER w - sum(dec_delta) OVER w AS BIGINT) AS "value"
         |FROM per WINDOW w AS (PARTITION BY repo ORDER BY "interval" ROWS UNBOUNDED PRECEDING)""".stripMargin,
    // Mirrors the engine: per-table version = commit ordinal over the
    // batches that routed rows there; schema 0 has the 9 base envelope
    // fields, batch 1 adds n_chars; exclude list drops heads_rest.
    "q61_smt_schema_change_filter" ->
      s"""$cte
         |, routed AS (
         |  SELECT CASE WHEN lang = 'en' THEN 'files_en' ELSE 'heads_rest' END AS sink_table,
         |         CASE WHEN lsn <= (SELECT max(lsn) // 2 FROM ev0) THEN 0 ELSE 1 END AS batch_id
         |  FROM ev0)
         |, per AS (SELECT sink_table, batch_id FROM routed GROUP BY 1, 2)
         |SELECT sink_table,
         |       CAST(row_number() OVER (PARTITION BY sink_table ORDER BY batch_id) AS BIGINT) AS version,
         |       CAST(batch_id AS BIGINT) AS batch_id,
         |       CAST(batch_id AS INT) AS schema_idx,
         |       CAST(9 + batch_id AS INT) AS n_fields
         |FROM per
         |WHERE NOT regexp_matches(sink_table, 'heads_.*')""".stripMargin,
    "q71_cdc_notifications" ->
      s"""$cte
         |, state AS (
         |  SELECT repo, path,
         |         CAST(regexp_extract(path, 'f([0-9]+)', 1) AS BIGINT) % 4 AS chunk
         |  FROM (
         |    SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |    FROM ev0) t
         |  WHERE rn = 1 AND op <> 'd')
         |SELECT 'STARTED' AS type, -1 AS chunk, 4 AS chunks, CAST(-1 AS BIGINT) AS rows_applied
         |UNION ALL
         |SELECT 'IN_PROGRESS', CAST(chunk AS INT), 4, count(*) FROM state GROUP BY chunk
         |UNION ALL
         |SELECT 'COMPLETED', -1, 4, CAST(-1 AS BIGINT)""".stripMargin,
    "q72_sink_pk_modes" ->
      s"""$cte
         |, up AS (SELECT * FROM ev WHERE op IN ('r', 'c', 'u'))
         |SELECT 'record_key' AS pk_mode, repo, path, commit, lang, content, part, lsn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
         |  FROM up) t WHERE rn = 1
         |UNION ALL
         |SELECT 'record_value', repo, path, commit, lang, content, part, lsn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY repo, lang ORDER BY commit DESC, lsn DESC) AS rn
         |  FROM up) t WHERE rn = 1
         |UNION ALL
         |SELECT 'kafka', repo, path, commit, lang, content, part, lsn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY part, lsn ORDER BY commit DESC, lsn DESC) AS rn
         |  FROM up) t WHERE rn = 1""".stripMargin,
    // 3-gram md5 overlap vs the doc_id%37 benchmark slice, in lock-step
    // with Decontamination.gramHashes (shingles → md5, distinct per doc).
    "q78_decontaminate" ->
      s"""WITH ${Corpus.Sql.corpus}
         |, cg AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    [md5(array_to_string(words[i:i+2], ' ')) for i in generate_series(1, greatest(len(words)-2, 1))])) AS g
         |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS words FROM corpus))
         |, bg AS (
         |  SELECT DISTINCT unnest(list_distinct(
         |    [md5(array_to_string(words[i:i+2], ' ')) for i in generate_series(1, greatest(len(words)-2, 1))])) AS g
         |  FROM (SELECT string_split_regex(lower(text), '\\s+') AS words
         |        FROM documents WHERE doc_id % 37 = 0))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS matched_grams
         |FROM cg JOIN bg USING (g) GROUP BY doc_id""".stripMargin,
    "q79_ingest_dedup" ->
      s"""WITH ${Corpus.Sql.corpus}
         |, seen AS (SELECT DISTINCT sha256(text) AS content_sha FROM documents WHERE doc_id % 3 <> 0)
         |, b AS (SELECT doc_id, sha256(text) AS content_sha FROM corpus)
         |, w AS (SELECT doc_id, content_sha,
         |               row_number() OVER (PARTITION BY content_sha ORDER BY doc_id) AS rn FROM b)
         |SELECT doc_id, content_sha FROM w
         |WHERE rn = 1 AND content_sha NOT IN (SELECT content_sha FROM seen)""".stripMargin,
    // Independent restatement of the reference's per-mode truth tables
    // (AlwaysSnapshotter..RecoverySnapshotter.java).
    "q80_snapshot_decisions" ->
      """SELECT * FROM (VALUES
        |  ('always',       false, true,  true,  true),
        |  ('always',       true,  true,  true,  true),
        |  ('initial',      false, true,  true,  true),
        |  ('initial',      true,  false, false, true),
        |  ('initial_only', false, true,  true,  false),
        |  ('initial_only', true,  false, false, false),
        |  ('no_data',      false, false, true,  true),
        |  ('no_data',      true,  false, true,  true),
        |  ('never',        false, false, false, true),
        |  ('never',        true,  false, false, true),
        |  ('when_needed',  false, true,  true,  true),
        |  ('when_needed',  true,  false, false, true),
        |  ('recovery',     true,  false, true,  true)
        |) t(mode, offset_exists, snapshot_data, snapshot_schema, stream)""".stripMargin,
    // Line-level gram overlap vs the %37 benchmark slice, lock-step with
    // Decontamination.redactContaminated (3-gram md5s per line; string_agg
    // skips redacted lines; all-redacted docs keep an empty-text row).
    "q81_decontam_redact" ->
      s"""WITH ${Corpus.Sql.corpus}
         |, lined_docs AS (
         |  SELECT doc_id, concat_ws(chr(10), substr(text, 1, 60), substr(text, 61, 60),
         |                           substr(text, 121, 100)) AS text
         |  FROM corpus)
         |, bg AS (
         |  SELECT DISTINCT unnest(list_distinct(
         |    [md5(array_to_string(words[i:i+2], ' ')) for i in generate_series(1, greatest(len(words)-2, 1))])) AS g
         |  FROM (SELECT string_split_regex(lower(text), '\\s+') AS words
         |        FROM documents WHERE doc_id % 37 = 0))
         |, lines AS (
         |  SELECT doc_id, unnest(generate_series(1, len(ls))) AS i, unnest(ls) AS line
         |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined_docs))
         |, lg AS (
         |  SELECT doc_id, i, unnest(list_distinct(
         |    [md5(array_to_string(words[j:j+2], ' ')) for j in generate_series(1, greatest(len(words)-2, 1))])) AS g
         |  FROM (SELECT doc_id, i, string_split_regex(lower(line), '\\s+') AS words FROM lines))
         |, bad AS (SELECT DISTINCT l.doc_id, l.i FROM lg l JOIN bg USING (g))
         |SELECT l.doc_id,
         |       coalesce(string_agg(CASE WHEN b.i IS NULL THEN l.line END, chr(10) ORDER BY l.i), '') AS text,
         |       CAST(count(b.i) AS BIGINT) AS redacted_lines
         |FROM lines l LEFT JOIN bad b ON l.doc_id = b.doc_id AND l.i = b.i
         |GROUP BY l.doc_id""".stripMargin,
  )
}
