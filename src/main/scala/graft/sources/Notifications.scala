package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Snapshot-progress notification feed — the Spark-shaped analog of the
  * reference's Notification SPI (`debezium-connector-common/src/main/java/
  * io/debezium/pipeline/notification/NotificationService.java:1-110`,
  * `IncrementalSnapshotNotificationService.java`, channels
  * `SinkNotificationChannel`/`LogNotificationChannel`): whoever runs the
  * signal-driven chunk train gets a QUERYABLE "snapshot started /
  * chunk n-of-m applied / completed / paused / resumed / aborted" table.
  *
  * Spark-first shape: instead of a notification topic, rows append to
  * `<table root>/_notifications` parquet (like `_lineage`) — driver-side,
  * O(1) rows per chunk boundary, emitted AFTER the chunk's commit so the
  * feed never claims progress a crash could roll back. Columns mirror the
  * reference's Notification record (id→(chunk, chunks), aggregateType,
  * type, additionalData→data).
  */
object Notifications {

  val AggregateType = "Incremental Snapshot" // IncrementalSnapshotNotificationService aggregate type

  val Started = "STARTED"
  val InProgress = "IN_PROGRESS"
  val Completed = "COMPLETED"
  val Paused = "PAUSED"
  val Resumed = "RESUMED"
  val Aborted = "ABORTED"

  /** Append one notification row. `chunk`/`rowsApplied` are -1 where not
    * applicable (non-chunk events), matching the reference's absent
    * additional-data entries.
    */
  def emit(
      spark: SparkSession,
      tableRoot: String,
      `type`: String,
      chunks: Int,
      chunk: Int = -1,
      rowsApplied: Long = -1L,
      data: String = ""): Unit = {
    import spark.implicits._
    Seq((AggregateType, `type`, chunk, chunks, rowsApplied, data))
      .toDF("aggregate_type", "type", "chunk", "chunks", "rows_applied", "data")
      .coalesce(1)
      .write.mode("append").parquet(s"$tableRoot/_notifications")
  }

  /** The feed, for consumers/specs (empty frame when nothing was emitted
    * yet is the caller's concern — the dir only exists after a first emit).
    */
  def feed(spark: SparkSession, tableRoot: String): DataFrame =
    spark.read.parquet(s"$tableRoot/_notifications")
}
