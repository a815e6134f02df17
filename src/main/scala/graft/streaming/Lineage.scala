package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.merge.CdcApply
import graft.table.LakeTable

/** Data-lineage run-event feed — the Spark re-expression of the
  * reference's OpenLineage integration (`debezium-openlineage/
  * debezium-openlineage-api/.../DebeziumOpenLineageEmitter.java`,
  * `OpenLineageJobCreator.java:14-17` — processingType STREAMING /
  * integration / jobType TASK facets, `dataset/DatasetMetadata.java:20-67`
  * — INPUT/OUTPUT datasets of type TABLE/STREAM with field definitions,
  * and the run-state machine START → RUNNING → COMPLETE/FAIL emitted on
  * connector state transitions). Semantics studied, not copied.
  *
  * Spark-first shape: like `_notifications`, run events append to
  * `<table root>/_lineage` parquet — a queryable feed instead of an HTTP
  * transport (per-batch metrics, by contrast, ride in the commit JSON:
  * `LakeTable.metrics`). Every column is DETERMINISTIC (run ids are
  * content hashes of job identity, not UUIDs; no wall-clock), so the
  * feed is replay-stable and oracle-checkable. Schema facets serialize
  * as OpenLineage-style `[{"name":…,"type":…}]` JSON built from the
  * DataFrame schema — the analog of `SchemaDatasetFacet`.
  */
object Lineage {

  /** Job identity + facets (`OpenLineageJobIdentifier`, documentation /
    * ownership facets collapse to the description string here).
    */
  final case class Job(namespace: String, name: String, description: String = "")

  val ProcessingType = "STREAMING" // OpenLineageJobCreator.PROCESSING_TYPE
  val Integration = "GRAFT"        // .INTEGRATION analog
  val JobTypeTask = "TASK"         // .JOB_TYPE

  val Start = "START"
  val Running = "RUNNING"
  val Complete = "COMPLETE"
  val Fail = "FAIL"

  val KindInput = "INPUT"
  val KindOutput = "OUTPUT"
  val TypeTable = "TABLE"   // DatasetMetadata.TABLE_DATASET_TYPE
  val TypeStream = "STREAM" // DatasetMetadata.STREAM_DATASET_TYPE

  /** Deterministic run id: a content hash of the job identity (the
    * reference uses a random UUID per run; a replay-stable feed wants
    * the same run to hash the same).
    */
  def runId(job: Job): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"${job.namespace}|${job.name}".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** OpenLineage SchemaDatasetFacet fields as compact JSON (names and
    * type strings escaped — quoted identifiers may carry anything).
    */
  def schemaJson(df: DataFrame): String =
    df.schema.fields.map(f =>
      s"""{"name":"${jsonEscape(f.name)}","type":"${jsonEscape(f.dataType.simpleString)}"}""")
      .mkString("[", ",", "]")

  private def append(
      spark: SparkSession, root: String,
      rows: Seq[(Int, String, String, String, String, String, String, String, String, Long, Long)]): Unit = {
    import spark.implicits._
    rows.toDF("seq", "event_type", "job_namespace", "job_name", "run_id",
      "dataset_name", "dataset_kind", "dataset_type", "schema_json", "batch_id", "records")
      .coalesce(1)
      .write.mode("append").parquet(s"$root/_lineage")
  }

  /** START: one row per dataset (inputs then outputs), carrying the
    * dataset type and schema facet. `batch_id`/`records` are -1 (not
    * applicable), the reference's absent-facet convention.
    */
  def emitStart(
      spark: SparkSession, root: String, job: Job,
      inputs: Seq[(String, DataFrame, String)],
      outputs: Seq[(String, DataFrame, String)]): Unit = {
    val rid = runId(job)
    val rows = (inputs.map(_ -> KindInput) ++ outputs.map(_ -> KindOutput)).zipWithIndex.map {
      case (((name, df, dsType), kind), i) =>
        (i, Start, job.namespace, job.name, rid, name, kind, dsType, schemaJson(df), -1L, -1L)
    }
    append(spark, root, rows)
  }

  /** RUNNING: one row per committed microbatch with its record count. */
  def emitRunning(
      spark: SparkSession, root: String, job: Job,
      seq: Int, batchId: Long, records: Long): Unit =
    append(spark, root, Seq(
      (seq, Running, job.namespace, job.name, runId(job), null, null, null, null, batchId, records)))

  /** COMPLETE (or FAIL): terminal row; `records` = rows live in the
    * output dataset at completion.
    */
  def emitTerminal(
      spark: SparkSession, root: String, job: Job,
      seq: Int, state: String, records: Long): Unit =
    append(spark, root, Seq(
      (seq, state, job.namespace, job.name, runId(job), null, null, null, null, -1L, records)))

  /** The feed, for consumers/specs. */
  def feed(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/_lineage")

  /** [[CdcPipeline.replay]] wrapped in the run-state machine: START with
    * the input log and output table dataset facets (the output schema is
    * derived through the state operator [[graft.operators.Lww.applyState]]
    * — schema-only, nothing executes — so the facet tracks what the sink
    * actually holds, not what the input happened to look like), RUNNING
    * per batch AS EACH COMMIT LANDS (records = events entering the batch
    * — a mid-replay crash leaves the already-committed batches' RUNNING
    * rows behind for diagnosis), COMPLETE with the live state count —
    * FAIL with -1 if the replay throws. Lineage writes are driver-side
    * O(1)-row appends outside the data path; the replay plan is
    * untouched.
    */
  def replayWithLineage(
      spark: SparkSession,
      log: DataFrame,
      table: LakeTable,
      job: Job,
      inputName: String,
      outputName: String,
      numBatches: Int = 4): Seq[CdcApply.BatchResult] = {
    val inputs = Seq((inputName, log, TypeStream))
    val outputs = Seq((outputName, graft.operators.Lww.applyState(log, table.keyCols), TypeTable))
    emitStart(spark, table.root, job, inputs, outputs)
    var seq = inputs.size + outputs.size
    try {
      val results = CdcPipeline.replay(spark, log, table, numBatches,
        onBatch = r => { emitRunning(spark, table.root, job, seq, r.batchId, r.eventsIn); seq += 1 })
      val live = table.snapshot(spark).map(_.count()).getOrElse(0L)
      emitTerminal(spark, table.root, job, seq, Complete, live)
      results
    } catch {
      case e: Throwable =>
        emitTerminal(spark, table.root, job, seq, Fail, -1L)
        throw e
    }
  }
}
