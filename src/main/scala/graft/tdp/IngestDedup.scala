package graft.tdp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.table.LakeTable

/** Ingest-time incremental dedup — the CDC × training-data crossover: as
  * new documents stream into the lake, admit only those whose content
  * digest has never been seen, maintaining the seen-set as a digest INDEX
  * table that is itself a [[graft.table.LakeTable]] keyed on
  * `content_sha` and maintained by the same exactly-once CDC apply loop
  * as every other table (idempotent batch replay, atomic commits).
  *
  * Why an index table instead of re-running batch dedup: exact dedup of a
  * GROWING corpus must compare each arriving batch against everything
  * already ingested; recomputing [[Dedup.exact]] over the union is
  * O(corpus) per batch. The index makes it O(batch): the seen-set is
  * hash-bucketed by digest, so the newness check is an anti-join whose
  * state side is the storage-partitioned bucketed scan (ZERO state-side
  * exchange — the same plan shape as the merge itself), and registration
  * appends only the batch's new digests.
  *
  * The index row is (content_sha, canonical_id). Canonical = the MINIMUM
  * doc id ever seen for that digest, enforced through the engine's own
  * LWW by ordering digest events with `lsn = -canonical_id` (the LWW max
  * then prefers the smallest id — deterministic and replay-stable, the
  * dedup analog of first-writer-wins). Index applies run with the
  * watermark fence OFF (digest ids are not a per-partition-ordered
  * transport; the LWW merge alone is idempotent).
  */
object IngestDedup {

  /** A fresh digest-index table at `root` (CoW, bucketed by digest). */
  def indexTable(root: String, numBuckets: Int = 32): LakeTable =
    new LakeTable(root, numBuckets, keyCols = Seq("content_sha"))

  /** Turn a document batch into flat digest change events for the index:
    * one `op='c'` event per distinct digest, canonical id = min doc id in
    * the batch, ordered so LWW keeps the smallest id ever seen.
    */
  def digestEvents(
      batch: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      parts: Int = 8): DataFrame =
    batch
      .select(sha2(col(textCol), 256).as("content_sha"), col(idCol).cast("long").as("canonical_id"))
      .groupBy("content_sha").agg(min("canonical_id").as("canonical_id"))
      .select(
        col("content_sha"), col("canonical_id"),
        lit("c").as("op"),
        pmod(hash(col("content_sha")), lit(parts)).as("part"),
        (-col("canonical_id")).as("lsn"), // LWW max ⇒ min id wins
        lit("ingest").as("commit"),
        lit(1700000000000L).as("ts_ms"))

  /** In-batch winners: one row per digest, the minimum id canonical, with
    * a `content_sha` column appended, laid out on the index's bucket count
    * (one full-width shuffle — the floor for returning winner ROWS, as in
    * [[Dedup.exact]] — whose HashPartitioning co-partitions the anti-join
    * below).
    */
  private def inBatchWinners(
      index: LakeTable, batch: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sha = batch.withColumn("content_sha", sha2(col(textCol), 256))
    val w = Window.partitionBy(col("content_sha")).orderBy(col(idCol))
    sha.repartition(index.numBuckets, col("content_sha"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** Live index digests (None when the index holds no files yet — e.g.
    * only metadata-only commits from empty batches). The bucketed scan
    * reports the on-disk HashPartitioning, so joins against an
    * equally-laid-out batch plan no state-side exchange.
    */
  private def seenState(
      spark: SparkSession, index: LakeTable): Option[DataFrame] =
    index.lastCommit().flatMap { ci =>
      index.bucketedState(spark, ci, None, ci.schema)
        .orElse(index.snapshotRaw(spark, ci, None))
        .map(_.where(col("op") === "c"))
    }

  /** Batch rows whose digest is NOT in the index, deduped within the batch
    * (min id per digest). Appends a `content_sha` column.
    *
    * Plan shape: batch winners anti-join the bucketed state scan — the
    * state side plans no exchange, so per batch the data moved is
    * O(batch) however large the seen-set grows.
    *
    * NOTE the result is LAZY against the index's CURRENT commit; compute
    * it before registering the same batch (or use [[ingest]], which
    * sequences materialize → register for you).
    */
  def unseen(
      spark: SparkSession,
      index: LakeTable,
      batch: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val winners = inBatchWinners(index, batch, idCol, textCol)
    seenState(spark, index) match {
      case None        => winners
      case Some(state) => winners.join(state.select(col("content_sha")), Seq("content_sha"), "left_anti")
    }
  }

  /** One ingest step: compute the batch's unseen rows, register their
    * digests in the index (idempotent per `batchId` — a foreachBatch retry
    * re-commits nothing), and return the admitted rows. The result is
    * materialized BEFORE registration so the caller's DataFrame cannot
    * observe its own digests.
    *
    * RETRY RECOVERY (a retry is a re-call with a batchId the index has
    * already committed): the admitted set must be RE-EMITTED, not lost —
    * the crash happened after the index commit but before the caller wrote
    * the admitted rows downstream. The set is recoverable from the index
    * itself: an admitted row was an in-batch min-id winner whose digest it
    * registered, so its (content_sha, canonical_id = its own id) pair is
    * in the index. The recovery join re-derives exactly that set.
    * Delivery contract: exactly-once for never-before-admitted content;
    * a retry may additionally re-emit a document an EARLIER batch admitted
    * with the same (digest, id) — i.e. a duplicate delivery of the same
    * document — so downstream writes should upsert by id (they already
    * must, to absorb the retry's re-emission).
    */
  def ingest(
      spark: SparkSession,
      index: LakeTable,
      batch: DataFrame,
      batchId: Long,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val fenced = index.lastCommit().exists(_.batchId >= batchId)
    if (fenced) {
      val winners = inBatchWinners(index, batch, idCol, textCol)
      return seenState(spark, index) match {
        case None => winners.limit(0)
        case Some(state) =>
          winners.join(
            state.select(col("content_sha"), col("canonical_id")),
            winners("content_sha") === state("content_sha") &&
              winners(idCol) === col("canonical_id"),
            "left_semi")
      }
    }
    // localCheckpoint, not persist: a persisted `admitted` can still be
    // evicted and silently recomputed on the caller's first action — a
    // re-run of the whole admit pipeline (58 s in the q84 profile).
    // Checkpointing truncates the lineage, so the returned frame can never
    // recompute.
    val admitted = unseen(spark, index, batch, idCol, textCol).localCheckpoint()
    graft.merge.CdcApply.applyBatch(spark, index, digestEvents(admitted, idCol, textCol),
      batchId, fenceByWatermark = false)
    admitted
  }

  // ----------------------------------------------- NEAR-dup ingest (LSH)

  /** Ingest-time incremental NEAR-dedup — the LSH analog of the exact
    * digest index above: the seen-set is a MinHash BAND-KEY index table
    * (keyed on `band_key`, bucketed, maintained by the same exactly-once
    * apply loop), and an arriving document is a near-duplicate of ingested
    * content when ANY of its band keys is already registered — the
    * standard LSH admission rule (collide on all rows of one band ⇒
    * estimated-Jaccard above the band curve's threshold).
    *
    * Per batch: (1) in-batch candidates pair up via a band-key self-join
    * (id pairs only), collapse to clusters with [[Dedup.duplicateClusters]]
    * (min-id canonical — deterministic, order-free); (2) cluster canonicals
    * check their band keys against the index through the bucketed state
    * scan (ZERO state-side exchange, batch side laid out on the index's
    * bucket count); (3) admitted canonicals register ALL their band keys
    * (each is new by construction — `lsn = -id` keeps min-id-wins replay
    * stability). Data moved per step: O(batch × bands) short keys,
    * whatever the corpus has grown to.
    */
  def nearIndexTable(root: String, numBuckets: Int = 32): LakeTable =
    new LakeTable(root, numBuckets, keyCols = Seq("band_key"))

  /** Batch + a `__bkeys` array column: the doc's `bands` MinHash band keys
    * (md5 of each band's `rowsPerBand` minhash lanes — the exact
    * [[Dedup.minhashLsh]] banding, shingling shared across lanes via a
    * real intermediate column).
    */
  private def withBandKeys(
      batch: DataFrame, bands: Int, rowsPerBand: Int, textCol: String): DataFrame =
    batch
      .withColumn("__sh", array_distinct(Dedup.shingles(col(textCol))))
      .withColumn("__bkeys", array((0 until bands).map { b =>
        md5(concat_ws("|", (0 until rowsPerBand).map { r =>
          val hh = b * rowsPerBand + r
          array_min(transform(col("__sh"), s => md5(concat(lit(s"$hh|"), s))))
        }: _*))
      }: _*))
      .drop("__sh")

  /** In-batch near-dup winners over a `__bkeys`-carrying batch: band-key
    * collision pairs (id-only self-join) → connected components → drop
    * every non-canonical cluster member. Two winners never share a band
    * key (sharing one would have merged their clusters).
    */
  private def inBatchNearWinners(keyed: DataFrame, idCol: String): DataFrame = {
    val banded = keyed.select(
      col(idCol).as("id"), posexplode(col("__bkeys")).as(Seq("band", "bkey")))
    val pairs = banded.select(col("band"), col("bkey"), col("id").as("a"))
      .join(banded.select(col("band"), col("bkey"), col("id").as("b")), Seq("band", "bkey"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b")).dropDuplicates("a", "b")
    val losers = Dedup.duplicateClusters(pairs)
      .where(col("doc") =!= col("cluster"))
      .select(col("doc").as(idCol))
    keyed.join(losers, Seq(idCol), "left_anti")
  }

  /** Winner rows' exploded (id, band_key) pairs, laid out on the index's
    * bucket count so joins against the bucketed state scan co-partition.
    */
  private def winnerKeys(
      index: LakeTable, winners: DataFrame, idCol: String): DataFrame =
    winners.select(col(idCol), explode(col("__bkeys")).as("band_key"))
      .repartition(index.numBuckets, col("band_key"))

  /** Admitted band-key change events for the index: one `op='c'` event per
    * band key of the admitted winners (min id per key for safety — winners
    * cannot share keys), ordered so LWW keeps the smallest id ever seen.
    */
  def bandEvents(admitted: DataFrame, idCol: String = "doc_id", parts: Int = 8): DataFrame =
    admitted
      .select(explode(col("__bkeys")).as("band_key"), col(idCol).cast("long").as("canonical_id"))
      .groupBy("band_key").agg(min("canonical_id").as("canonical_id"))
      .select(
        col("band_key"), col("canonical_id"),
        lit("c").as("op"),
        pmod(hash(col("band_key")), lit(parts)).as("part"),
        (-col("canonical_id")).as("lsn"),
        lit("ingest").as("commit"),
        lit(1700000000000L).as("ts_ms"))

  /** LSH admission rule, shared by [[unseenNear]] and [[ingestNear]]:
    * winners whose band keys have ZERO collisions with the registered
    * index (a single registered key flags the doc as a near-dup of
    * ingested content).
    */
  private def admitAgainstIndex(
      spark: SparkSession, index: LakeTable, winners: DataFrame, idCol: String): DataFrame =
    seenState(spark, index) match {
      case None => winners
      case Some(state) =>
        val flagged = winnerKeys(index, winners, idCol)
          .join(state.select(col("band_key")), Seq("band_key"), "left_semi")
          .select(col(idCol)).distinct()
        winners.join(flagged, Seq(idCol), "left_anti")
    }

  /** Batch rows admissible against the index right now: in-batch cluster
    * canonicals with zero registered band keys, `__bkeys` appended —
    * the near analog of [[unseen]]. Unlike the cheap exact path this one
    * MATERIALIZES (eager localCheckpoint) before returning: the band-keyed
    * batch feeds the clustering self-join, the collision check and the
    * result, and leaving it lazy recomputes the shingling/minhash pass
    * once per consumer. A checkpoint, not a persist: a persisted frame can
    * be evicted, and its silent recompute re-runs that pass.
    */
  def unseenNear(
      spark: SparkSession,
      index: LakeTable,
      batch: DataFrame,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val keyed = withBandKeys(batch, bands, rowsPerBand, textCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      keyed.count() // materialize BEFORE the self-join (see ingestNear)
      admitAgainstIndex(spark, index, inBatchNearWinners(keyed, idCol), idCol)
        .localCheckpoint()
    } finally keyed.unpersist()
  }

  /** The UN-materialized [[unseenNear]] plan (no persist, no checkpoint) —
    * for plan inspection: the admission join's state side must be the
    * index's bucketed scan. Checkpointing truncates lineage, so the shape
    * is only visible here. It recomputes the shingling pass per action;
    * callers wanting rows use [[unseenNear]].
    */
  private[graft] def unseenNearLazy(
      spark: SparkSession,
      index: LakeTable,
      batch: DataFrame,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    admitAgainstIndex(spark, index,
      inBatchNearWinners(withBandKeys(batch, bands, rowsPerBand, textCol), idCol), idCol)

  /** One near-dedup ingest step (see the section doc): returns the
    * admitted rows — batch columns plus the `__bkeys` band-key array —
    * MATERIALIZED (eager localCheckpoint) before the index registration,
    * so the caller's frame cannot observe its own keys. Retry recovery
    * mirrors [[ingest]]: an admitted doc registered every one of its band
    * keys under its own id (all were new at admit time, and ids are
    * unique), so on a fenced re-call the semi-join on
    * (band_key, canonical_id = own id) re-derives exactly the admitted
    * set; non-admitted docs never registered anything under their id.
    */
  def ingestNear(
      spark: SparkSession,
      index: LakeTable,
      batch: DataFrame,
      batchId: Long,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val keyed = withBandKeys(batch, bands, rowsPerBand, textCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // Materialize the band-keyed batch BEFORE anything consumes it: the
      // shingle+minhash pass (16 md5 minima over every shingle) is the
      // single most expensive map in the pipeline, and the first consumer
      // is a SELF-join — two scan branches racing to populate the same
      // cache partitions compute that pass up to twice (profiled: the
      // edges materialization dropped ~2× with this count in place).
      keyed.count()
      val winners = inBatchNearWinners(keyed, idCol)
      val fenced = index.lastCommit().exists(_.batchId >= batchId)
      if (fenced) {
        return seenState(spark, index) match {
          case None => winners.limit(0)
          case Some(state) =>
            val owned = winnerKeys(index, winners, idCol)
              .join(state.select(col("band_key"), col("canonical_id")), Seq("band_key"))
              .where(col(idCol) === col("canonical_id"))
              .select(col(idCol)).distinct()
            winners.join(owned, Seq(idCol), "left_semi")
        }
      }
      // localCheckpoint, not persist — same reason as [[ingest]]: an
      // evicted result would re-run the whole admit pipeline on the
      // caller's first action (profiled: 58 s at sf0.1).
      val admitted = admitAgainstIndex(spark, index, winners, idCol).localCheckpoint()
      graft.merge.CdcApply.applyBatch(spark, index, bandEvents(admitted, idCol),
        batchId, fenceByWatermark = false)
      admitted
    } finally keyed.unpersist()
  }
}
