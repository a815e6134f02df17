package graft.merge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.merge.CdcApply.BatchResult
import graft.table.LakeTable

/** Row-level DML over a [[LakeTable]] — `DELETE FROM … WHERE` and
  * `UPDATE … SET … WHERE` — expressed the engine's one way: as change
  * events applied through the exactly-once merge. The GDPR/maintenance
  * surface every lake engine needs (Delta/Iceberg row-level DELETE/UPDATE
  * analog), and the JDBC-sink world's ad-hoc DML, without a second write
  * path: no file surgery, no special commit type — the merge, compaction,
  * tombstone retention, change feed, time travel, and derived views all
  * see ordinary events.
  *
  * LWW ordering: each emitted event wins its key by commit-suffixing —
  * `commit → commit ‖ '~'` ('~' = 0x7E sorts above every alphanumeric in
  * ASCII, and zone-map bounds remain ASCII-sound), with the row's own
  * lsn untouched. Per-key the new event strictly dominates the row it
  * replaces; unrelated keys are untouched.
  *
  * Both ops apply OUT-OF-BAND (`fenceByWatermark/fenceByBatchId = false`,
  * like the signal-driven snapshot chunks): they do not advance the
  * stream's batchId, and convergence under redelivery comes from LWW —
  * re-running a delete matches nothing (the rows are gone); re-running an
  * update is a second update, as it would be in SQL.
  *
  * Ordering caveat (the point-in-time cut): a DML event dominates the
  * exact version it observed AND any not-yet-arrived event of the SAME
  * source commit (higher lsn) — `c‖'~' > c` regardless of lsn. On
  * ordered-per-partition transports (the binlog semantics this engine
  * mirrors) a commit's events land together, so the cut falls between
  * source commits as expected; on unordered transports, run DML only
  * once ingest of the target commits has drained, or a same-commit
  * straggler will lose to the DML's rewrite.
  *
  * Scale shape: one manifest-pruned state scan filtered by `pred`
  * (pushed to parquet), then the standard merge whose shuffle is O(hits),
  * never O(state).
  */
object Dml {

  private def bump(c: Column): Column = concat(c, lit("~"))

  /** Ordering/metadata columns a SET may not touch and tombstones keep. */
  private val MetaCols = Set("op", "commit", "lsn", "part", "ts_ms")

  private def noop(table: LakeTable, reason: String): BatchResult =
    BatchResult(committed = false,
      table.lastCommit().map(_.version).getOrElse(0L), 0L, 0L, 0L, -1L, reason)

  /** `DELETE FROM table WHERE pred`: every current-state row matching
    * `pred` gets a dominating tombstone event — with every non-key value
    * column NULLED, like source delete events (a GDPR delete must not
    * write the deleted payload back into live files; only the key and
    * ordering survive in the tombstone until retention compaction drops
    * it). Returns the apply's result; an empty table or no-hit delete is
    * a no-op, as in SQL.
    */
  def deleteWhere(
      spark: SparkSession,
      table: LakeTable,
      pred: Column): BatchResult = {
    val state = table.snapshot(spark) match {
      case Some(s) => s
      case None    => return noop(table, "dml-empty-table")
    }
    val hits = state.where(pred)
    val tombstones = hits.select(hits.columns.toIndexedSeq.map { c =>
      if (table.keyCols.contains(c) || MetaCols(c)) col(c)
      else lit(null).cast(hits.schema(c).dataType).as(c)
    }: _*)
    val events = tombstones
      .withColumn("commit", bump(col("commit")))
      .withColumn("op", lit("d"))
    CdcApply.applyBatch(spark, table, events, batchId = 0L, fenceByWatermark = false, fenceByBatchId = false)
  }

  /** `UPDATE table SET <sets> WHERE pred`: matching rows re-emit with the
    * SET expressions applied (each evaluated against the OLD row, so
    * `"content" -> concat(col("content"), …)` works) and a dominating
    * commit. Key columns cannot be SET (that is an insert+delete, not an
    * update — the key IS the row's identity and bucket), meta columns
    * cannot be SET (a rewritten `lsn` would poison the committed
    * per-partition watermark and fence future stream events), and a SET
    * naming a column the table does not have is a loud config error, not
    * a silent no-op.
    */
  def updateWhere(
      spark: SparkSession,
      table: LakeTable,
      pred: Column,
      sets: Seq[(String, Column)]): BatchResult = {
    val bad = sets.map(_._1).filter(table.keyCols.contains)
    require(bad.isEmpty, s"cannot SET key column(s) ${bad.mkString(", ")} — " +
      "delete and re-insert instead (the key IS the row's identity and bucket)")
    val metaBad = sets.map(_._1).filter(MetaCols)
    require(metaBad.isEmpty,
      s"cannot SET ordering/metadata column(s) ${metaBad.mkString(", ")}")
    val state = table.snapshot(spark) match {
      case Some(s) => s
      case None    => return noop(table, "dml-empty-table")
    }
    val unknown = sets.map(_._1).filterNot(state.columns.contains)
    require(unknown.isEmpty,
      s"unknown column(s) in SET: ${unknown.mkString(", ")} " +
        s"(table columns: ${state.columns.mkString(", ")})")
    val hits = state.where(pred)
    // all SETs evaluate against the old row in ONE projection (sequential
    // withColumn would let a later SET see an earlier SET's output)
    val updated = hits.select(hits.columns.toIndexedSeq.map { c =>
      sets.collectFirst { case (n, e) if n == c => e.as(c) }.getOrElse(col(c))
    }: _*)
    val events = updated
      .withColumn("commit", bump(col("commit")))
      .withColumn("op", lit("u"))
    CdcApply.applyBatch(spark, table, events, batchId = 0L, fenceByWatermark = false, fenceByBatchId = false)
  }
}
