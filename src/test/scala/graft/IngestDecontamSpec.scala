package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.tdp.{Decontamination, Dedup, IngestDedup}

/** Benchmark decontamination + ingest-time incremental dedup (the round-3
  * training-data additions).
  */
class IngestDecontamSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------- decontamination

  test("decontamination: gram overlap flags exactly the overlapping docs") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"), // shares grams with the benchmark
      (2L, "one two three four five"),        // clean
      (3L, "alpha beta gamma delta epsilon")) // identical to 1 — also flagged
      .toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma")).toDF("doc_id", "text")

    val report = Decontamination.contaminationReport(docs, bench, n = 3)
      .as[(Long, Long)].collect().toMap
    // doc 1 grams (k=3): {alpha beta gamma, beta gamma delta, gamma delta epsilon};
    // bench grams: {alpha beta gamma} → exactly 1 match.
    assert(report === Map(1L -> 1L, 3L -> 1L))

    val kept = Decontamination.decontaminate(docs, bench, n = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(2L))

    // Scale shape: both joins broadcast (the corpus side never shuffles
    // into a sort-merge join); the only exchange feeds the matched-gram
    // count aggregation.
    val plan = Decontamination.decontaminate(docs, bench, n = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus must not sort-merge:\n$plan")
  }

  test("decontamination: minOverlap raises the bar") {
    val docs = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val bench = Seq((9L, "a b c d")).toDF("doc_id", "text")
    // doc grams {a b c, b c d, c d e, d e f}; bench {a b c, b c d} → 2 matches
    assert(Decontamination.contaminationReport(docs, bench, n = 3, minOverlap = 3).count() === 0)
    assert(Decontamination.contaminationReport(docs, bench, n = 3, minOverlap = 2)
      .as[(Long, Long)].collect().toMap === Map(1L -> 2L))
  }

  test("span-level redaction drops only contaminated lines, keeps order; fully-redacted docs survive") {
    val docs = Seq(
      (1L, "alpha beta gamma delta\none two three four\nalpha beta gamma end"),
      (2L, "alpha beta gamma"), // every line contaminated
      (3L, "five six seven eight"))
      .toDF("doc_id", "text")
    val bench = Seq((9L, "alpha beta gamma")).toDF("doc_id", "text")
    val out = Decontamination.redactContaminated(docs, bench, n = 3)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) === (("one two three four", 2L)))
    assert(out(2L) === (("", 1L)), "fully-redacted doc keeps an empty-text row")
    assert(out(3L) === (("five six seven eight", 0L)))
  }

  // ----------------------------------------------------------- ingest dedup

  test("ingest dedup: admits only unseen digests, min-id canonical, idempotent retry") {
    val index = IngestDedup.indexTable(
      Files.createTempDirectory("graft-ingest-spec").resolve("idx").toString, numBuckets = 4)

    val batch1 = Seq((10L, "text X"), (11L, "text Y")).toDF("doc_id", "text")
    val admitted1 = IngestDedup.ingest(spark, index, batch1, 0L)
    assert(admitted1.select("doc_id").as[Long].collect().toSet === Set(10L, 11L))
    admitted1.unpersist()

    // batch 2: a seen digest (X), and a NEW digest (Z) carried by two rows
    // — the smaller id is canonical within the batch.
    val batch2 = Seq((20L, "text X"), (21L, "text Z"), (5L, "text Z")).toDF("doc_id", "text")
    val admitted2 = IngestDedup.ingest(spark, index, batch2, 1L)
    assert(admitted2.select("doc_id").as[Long].collect().toSet === Set(5L))
    admitted2.unpersist()

    // retry of the same batchId (crash after the index commit, before the
    // caller wrote admitted downstream): the admitted set is RE-EMITTED
    // from the index — losing it would lose the documents forever — and
    // the index apply is batchId-fenced (no new commit).
    val vBefore = index.lastCommit().get.version
    val retry = IngestDedup.ingest(spark, index, batch2, 1L)
    assert(retry.select("doc_id").as[Long].collect().toSet === Set(5L),
      "retry must re-emit the batch's admitted rows")
    assert(index.lastCommit().get.version === vBefore, "retry must not commit")

    // the index records the minimum id ever seen per digest
    val canon = index.snapshot(spark).get
      .select("content_sha", "canonical_id").as[(String, Long)].collect().toMap
    val shaZ = batch2.select(sha2(col("text"), 256)).where(col("doc_id") === 5L)
    assert(canon(shaZ.as[String].head()) === 5L)

    // plan shape AT SCALE: with auto-broadcast off (a 10^9-digest seen-set
    // does not broadcast), the state side of the newness anti-join reads
    // the bucketed scan — the ONLY exchange is the batch-side repartition.
    // (At spec size the state broadcasts, which is also correct — this
    // assertion pins the big-state shape.)
    val batch3 = Seq((30L, "text Y"), (31L, "text W")).toDF("doc_id", "text")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val lazyUnseen = IngestDedup.unseen(spark, index, batch3)
      val plan = lazyUnseen.queryExecution.executedPlan.toString
      assert("Exchange".r.findAllMatchIn(plan).size === 1,
        s"state side must be storage-partitioned (one batch-side exchange only):\n$plan")
      assert(plan.contains("Bucketed: true"), s"expected a bucketed state scan:\n$plan")
      assert(lazyUnseen.select("doc_id").as[Long].collect().toSet === Set(31L))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("ingest dedup: empty first batch (metadata-only commit, zero files) does not break the next ingest") {
    val index = IngestDedup.indexTable(
      Files.createTempDirectory("graft-ingest-empty").resolve("idx").toString, numBuckets = 2)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    IngestDedup.ingest(spark, index, empty, 0L).unpersist()
    assert(index.lastCommit().exists(_.files.isEmpty), "empty batch commits metadata only")
    val admitted = IngestDedup.ingest(spark, index, Seq((1L, "t")).toDF("doc_id", "text"), 1L)
    assert(admitted.select("doc_id").as[Long].collect().toSeq === Seq(1L))
    admitted.unpersist()
  }

  test("ingest dedup property: ANY batching admits each digest exactly once") {
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      // 60 docs over 20 distinct texts → heavy cross-batch duplication
      val docs = (0 until 60).map(i => (i.toLong, s"text ${rnd.nextInt(20)}"))
      val nBatches = 2 + rnd.nextInt(3)
      val batches = docs.groupBy(_ => rnd.nextInt(nBatches)).toSeq.sortBy(_._1).map(_._2)
      val index = IngestDedup.indexTable(
        Files.createTempDirectory(s"graft-ingest-prop$seed").resolve("idx").toString, numBuckets = 4)
      val admitted = batches.zipWithIndex.flatMap { case (b, i) =>
        val out = IngestDedup.ingest(spark, index, b.toDF("doc_id", "text"), i.toLong)
        val rows = out.select("doc_id", "content_sha").as[(Long, String)].collect()
        out.unpersist()
        rows
      }
      val distinctTexts = docs.map(_._2).distinct.size
      assert(admitted.size === distinctTexts, s"seed=$seed: each digest admitted exactly once")
      assert(admitted.map(_._2).distinct.size === distinctTexts, s"seed=$seed: no digest twice")
      // canonical = min id within the FIRST batch that carried the digest
      val firstBatchOf = scala.collection.mutable.Map.empty[String, Long]
      batches.zipWithIndex.foreach { case (b, _) =>
        val seen = firstBatchOf.keySet.toSet
        b.groupBy(_._2).foreach { case (t, rs) =>
          if (!seen.contains(t)) firstBatchOf(t) = rs.map(_._1).min
        }
      }
      val admittedIds = admitted.map(_._1).toSet
      assert(admittedIds === firstBatchOf.values.toSet, s"seed=$seed: canonical ids")
    }
  }

  test("ingest dedup: digest events order LWW so the smallest id ever seen stays canonical") {
    import graft.merge.CdcApply
    val index = IngestDedup.indexTable(
      Files.createTempDirectory("graft-ingest-lww").resolve("idx").toString, numBuckets = 2)
    // register id 7 first, then a replayed/duplicate registration with id 3:
    // lsn = -id makes LWW keep 3 (min id), replay-stable in any order.
    CdcApply.applyBatch(spark, index,
      IngestDedup.digestEvents(Seq((7L, "same text")).toDF("doc_id", "text")),
      batchId = 0L, fenceByWatermark = false)
    CdcApply.applyBatch(spark, index,
      IngestDedup.digestEvents(Seq((3L, "same text")).toDF("doc_id", "text")),
      batchId = 1L, fenceByWatermark = false)
    val canon = index.snapshot(spark).get.select("canonical_id").as[Long].collect().toSeq
    assert(canon === Seq(3L))
  }

  // ---------------------------------------------------- near-dup ingest (LSH)

  test("near ingest: seen content turned away, in-batch clusters keep min id, fenced retry re-emits") {
    val index = IngestDedup.nearIndexTable(
      Files.createTempDirectory("graft-near-spec").resolve("idx").toString, numBuckets = 4)
    val t1 = "the quick brown fox jumps over the lazy dog again and again until done"
    val t2 = "completely different words about mountains rivers oceans forests deserts plains valleys"
    val a0 = IngestDedup.ingestNear(spark, index,
      Seq((10L, t1), (11L, t2)).toDF("doc_id", "text"), 0L)
    assert(a0.select("doc_id").as[Long].collect().toSet === Set(10L, 11L))
    a0.unpersist()

    // 20 = exact dup of t1 (every band collides with the index);
    // 21/22 = identical new text (in-batch cluster → min id 21 canonical);
    // 30 = fresh text
    val t3 = "novel sentences describing satellites orbits telescopes galaxies nebulae quasars comets"
    val t4 = "fresh unrelated content regarding cooking baking roasting grilling steaming frying boiling"
    val b1 = Seq((20L, t1), (22L, t3), (21L, t3), (30L, t4)).toDF("doc_id", "text")
    val a1 = IngestDedup.ingestNear(spark, index, b1, 1L)
    assert(a1.select("doc_id").as[Long].collect().toSet === Set(21L, 30L))
    a1.unpersist()

    // retry of the committed batchId: admitted set re-derived from the
    // index (band keys registered under the doc's own id), no new commit
    val v = index.lastCommit().get.version
    val retry = IngestDedup.ingestNear(spark, index, b1, 1L)
    assert(retry.select("doc_id").as[Long].collect().toSet === Set(21L, 30L),
      "retry must re-emit the batch's admitted rows")
    assert(index.lastCommit().get.version === v, "retry must not commit")
  }

  test("near ingest admission matches the batch LSH candidate rule") {
    // For an ingested text A and a candidate B: the index turns B away
    // exactly when minhashLsh over {A, B} (threshold 0 ⇒ raw band
    // collisions) pairs them — the index IS the streaming form of the
    // batch operator's blocking rule.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val cases = Seq(
      "identical" -> base,
      "near" -> (base + " extra trailing tail"),
      "far" -> "one two three four five six seven eight nine ten")
    cases.foreach { case (label, tb) =>
      val collides = Dedup.minhashLsh(
        Seq((1L, base), (2L, tb)).toDF("doc_id", "text"),
        bands = 4, rowsPerBand = 4, threshold = 0.0).count() > 0
      val index = IngestDedup.nearIndexTable(
        Files.createTempDirectory(s"graft-near-$label").resolve("idx").toString, numBuckets = 2)
      IngestDedup.ingestNear(spark, index,
        Seq((1L, base)).toDF("doc_id", "text"), 0L).unpersist()
      val admitted = IngestDedup.ingestNear(spark, index,
        Seq((2L, tb)).toDF("doc_id", "text"), 1L)
      val got = admitted.select("doc_id").as[Long].collect().toSet
      admitted.unpersist()
      assert(got === (if (collides) Set.empty[Long] else Set(2L)),
        s"case '$label': index admission must match band collision ($collides)")
    }
  }

  test("near ingest: the index-collision check reads the bucketed state scan") {
    val index = IngestDedup.nearIndexTable(
      Files.createTempDirectory("graft-near-plan").resolve("idx").toString, numBuckets = 4)
    IngestDedup.ingestNear(spark, index,
      Seq((1L, "seed text one of several words"), (2L, "another seeded document with words"))
        .toDF("doc_id", "text"), 0L).unpersist()
    val batch = Seq((3L, "seed text one of several words"), (4L, "wholly new arrival content here"))
      .toDF("doc_id", "text")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // unseenNear returns a CHECKPOINTED frame (lineage truncated), so the
      // join shape is asserted on its lazy twin and the values on the real one.
      val lazyUnseen = IngestDedup.unseenNearLazy(spark, index, batch)
      val plan = lazyUnseen.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"a 10^9-key band index must join through the bucketed scan (no state re-shuffle):\n$plan")
      assert(IngestDedup.unseenNear(spark, index, batch)
        .select("doc_id").as[Long].collect().toSet === Set(4L))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("near ingest property: with duplicate TEXTS any batching admits each text once (exact-dup degeneration)") {
    // identical texts collide on every band, so the near path must
    // reproduce the exact path's contract: one admission per distinct
    // text, canonical = min id within the first batch that carried it
    (1 to 2).foreach { seed =>
      val rnd = new scala.util.Random(100 + seed)
      // token-DISJOINT vocabulary across n (zero shared shingles between
      // distinct texts — no accidental band collisions to fuzz the contract)
      val docs = (0 until 40).map { i =>
        val n = rnd.nextInt(12)
        (i.toLong, s"alpha$n beta$n gamma$n delta$n epsilon$n zeta$n")
      }
      val nBatches = 2 + rnd.nextInt(2)
      val batches = docs.groupBy(_ => rnd.nextInt(nBatches)).toSeq.sortBy(_._1).map(_._2)
      val index = IngestDedup.nearIndexTable(
        Files.createTempDirectory(s"graft-near-prop$seed").resolve("idx").toString, numBuckets = 4)
      val admitted = batches.zipWithIndex.flatMap { case (b, i) =>
        val out = IngestDedup.ingestNear(spark, index, b.toDF("doc_id", "text"), i.toLong)
        val rows = out.select("doc_id").as[Long].collect()
        out.unpersist()
        rows
      }
      val firstBatchOf = scala.collection.mutable.Map.empty[String, Long]
      batches.foreach { b =>
        val seen = firstBatchOf.keySet.toSet
        b.groupBy(_._2).foreach { case (t, rs) =>
          if (!seen.contains(t)) firstBatchOf(t) = rs.map(_._1).min
        }
      }
      assert(admitted.toSet === firstBatchOf.values.toSet, s"seed=$seed: canonical ids")
      assert(admitted.size === docs.map(_._2).distinct.size, s"seed=$seed: one admission per text")
    }
  }

  test("streaming ingest dedup: exactly-once admission across a checkpoint restart") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("graft-stream-ingest")
    val in = root.resolve("in").toString
    val ckpt = root.resolve("ckpt").toString
    val outDir = root.resolve("admitted").toString
    val index = IngestDedup.indexTable(root.resolve("idx").toString, numBuckets = 4)

    // 10 distinct texts, each arriving 4× across the stream (ids i, i+10,
    // i+20, i+30) — every re-arrival after the first admission must be
    // turned away, including ones landing AFTER the checkpoint restart.
    def writeDocs(ids: Range): Unit =
      ids.map(i => (i.toLong, s"text ${i % 10}")).toDF("doc_id", "text")
        .repartition(2).write.mode("append").parquet(in)

    // The streaming wiring: file tail → foreachBatch { ingest → sink }.
    // The streaming epoch id is the ingest batchId, so a replayed epoch
    // (crash between the index commit and the downstream write) hits the
    // ingest fence and re-emits its admitted rows instead of re-admitting.
    def run(): Unit =
      spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).parquet(in)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, batchId: Long) =>
          val admitted = IngestDedup.ingest(b.sparkSession, index, b, batchId)
          admitted.write.mode("append").parquet(outDir)
          admitted.unpersist(); ()
        }
        .start().awaitTermination()

    writeDocs(0 until 20)
    run() // first half of the input
    writeDocs(20 until 40)
    run() // RESTART against the same checkpoint: only the new files replay

    val out = spark.read.parquet(outDir).select("doc_id", "text").as[(Long, String)].collect()
    assert(out.length === 10, s"one admission per distinct text, got ${out.toSeq}")
    assert(out.map(_._2).toSet === (0 until 10).map(i => s"text $i").toSet)
    // every admitted id is from the pre-restart half (all texts seen there)
    assert(out.map(_._1).forall(_ < 20), "post-restart re-arrivals must be turned away")
    // the index canonicals are exactly the admitted ids
    val canon = index.snapshot(spark).get.select("canonical_id").as[Long].collect().toSet
    assert(canon === out.map(_._1).toSet)
    // an idle restart (no new input) processes nothing and commits nothing
    val vBefore = index.lastCommit().get.version
    run()
    assert(index.lastCommit().get.version === vBefore)
    graft.core.Fs.deleteTree(root)
  }
}
