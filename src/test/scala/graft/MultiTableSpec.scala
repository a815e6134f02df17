package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.merge.MultiTable
import graft.merge.MultiTable.{Registry, TableDef}

/** Multi-table capture: one change stream routed into several LakeTables
  * with independent primary keys, offset fences, and schema histories —
  * the `Tables`/`TableSchema` + per-table sink scenario
  * (`BinlogConnectorIT.shouldConsumeAllEventsFromDatabaseUsingSnapshot`
  * consumes several tables from one binlog).
  */
class MultiTableSpec extends SparkSpec {
  import spark.implicits._

  private def foldBy[K](evs: Seq[FlatEvent], key: FlatEvent => K): Map[K, FlatEvent] =
    evs.sortBy(e => (e.commit, e.lsn)).foldLeft(Map.empty[K, FlatEvent]) { (st, e) =>
      if (e.op == "d") st - key(e) else st + (key(e) -> e)
    }

  test("one log routes into two tables with independent keys and fences") {
    val log = (1 to 300).map { i =>
      FlatEvent.mk((s"repo${i % 4}", s"p${i % 7}.txt"), i.toLong, Seq("c", "u", "u", "d")(i % 4))
    }
    val reg = new Registry(Files.createTempDirectory("multi").toString, Seq(
      TableDef("kv", Seq("repo", "path"), numBuckets = 4),
      TableDef("heads", Seq("repo"), numBuckets = 2)))
    val routed = log.toDF().withColumn("route",
      when(pmod(regexp_extract(col("repo"), "([0-9]+)", 1).cast("int"), lit(2)) === 0, "kv")
        .otherwise("heads"))
    val r0 = MultiTable.applyBatch(spark, reg, routed.where(col("lsn") <= 150), "route", 0)
    val r1 = MultiTable.applyBatch(spark, reg, routed.where(col("lsn") > 150), "route", 1)
    assert((r0.values ++ r1.values).forall(_.committed))

    val evens = log.filter(_.repo.drop(4).toInt % 2 == 0)
    val odds = log.filter(_.repo.drop(4).toInt % 2 == 1)
    val kvState = reg("kv").snapshot(spark).get.as[FlatEvent].collect()
      .map(e => ((e.repo, e.path), e)).toMap
    assert(kvState === foldBy(evens, e => (e.repo, e.path)))
    val headState = reg("heads").snapshot(spark).get.as[FlatEvent].collect()
      .map(e => (e.repo, e)).toMap
    assert(headState === foldBy(odds, _.repo), "repo-keyed table keeps one head row per repo")

    // replaying batch 1 against every table is a no-op (per-table fences)
    val files = reg.defs.map(d => d.name -> reg(d.name).lastCommit().get.files.toSet).toMap
    val r2 = MultiTable.applyBatch(spark, reg, routed.where(col("lsn") > 150), "route", 1)
    assert(r2.values.forall(r => !r.committed && r.reason == "batchId-fenced"))
    reg.defs.foreach(d => assert(reg(d.name).lastCommit().get.files.toSet === files(d.name)))

    // snapshotAll unions states with the sink_table tag
    val all = MultiTable.snapshotAll(spark, reg).get
    assert(all.groupBy("sink_table").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("kv" -> kvState.size.toLong, "heads" -> headState.size.toLong))
  }

  test("parallel applyBatch: concurrent per-table applies equal the serial catalog, fences intact") {
    // op must not be a function of (i mod 8) — repo = i%8 would then pin
    // whole tables to one op (t3 all-deletes → empty state)
    val log = (1 to 400).map { i =>
      FlatEvent.mk((s"repo${i % 8}", s"p${i % 5}.txt"), i.toLong, Seq("c", "u", "u", "d")((i / 8) % 4))
    }
    val routed = log.toDF().withColumn("route",
      concat(lit("t"), pmod(regexp_extract(col("repo"), "([0-9]+)", 1).cast("int"), lit(4))))
    def defs = (0 until 4).map(i => TableDef(s"t$i", Seq("repo", "path"), numBuckets = 2))
    val serialReg = new Registry(Files.createTempDirectory("multi-ser").toString, defs)
    val parReg = new Registry(Files.createTempDirectory("multi-par").toString, defs)
    Seq(0L, 1L).foreach { b =>
      val slice = routed.where(col("lsn") > b * 200 && col("lsn") <= (b + 1) * 200)
      MultiTable.applyBatch(spark, serialReg, slice, "route", b)
      MultiTable.applyBatch(spark, parReg, slice, "route", b, parallelism = 4)
    }
    defs.foreach { d =>
      val s = serialReg(d.name).snapshot(spark).get.as[FlatEvent].collect()
        .sortBy(e => (e.repo, e.path)).toSeq
      val p = parReg(d.name).snapshot(spark).get.as[FlatEvent].collect()
        .sortBy(e => (e.repo, e.path)).toSeq
      assert(p === s, s"concurrently-applied table ${d.name} diverged from the serial catalog")
      assert(p.nonEmpty, s"table ${d.name} must route SOME rows — else the scenario tests nothing")
    }
    // concurrent re-apply of an already-committed batch: every table fences
    val r = MultiTable.applyBatch(spark, parReg,
      routed.where(col("lsn") > 200), "route", 1, parallelism = 4)
    assert(r.values.forall(x => !x.committed && x.reason == "batchId-fenced"))
  }

  test("startRouted: one envelope stream fans out to the catalog across restarts, exactly-once per table") {
    import graft.streaming.CdcPipeline
    val root = Files.createTempDirectory("multi-stream").toString
    val inDir = s"$root/in"; val ckpt = s"$root/ckpt"
    val reg = new Registry(s"$root/cat",
      (0 until 3).map(i => TableDef(s"t$i", Seq("repo", "path"), numBuckets = 2)))
    val route = "concat('t', pmod(cast(regexp_extract(repo, '([0-9]+)', 1) AS int), 3))"
    def run() = CdcPipeline.startRouted(spark, inDir, ckpt, reg, route, parallelism = 3)
      .awaitTermination()

    val log = (1 to 300).map { i =>
      FlatEvent.mk((s"repo${i % 6}", s"p${i % 4}.txt"), i.toLong, Seq("c", "u", "u", "d")((i / 6) % 4))
    }
    val (w1, w2) = log.partition(_.lsn <= 150)
    graft.core.Envelope.wrap(w1.toDF()).write.mode("append").parquet(inDir)
    run()
    graft.core.Envelope.wrap(w2.toDF()).write.mode("append").parquet(inDir)
    run() // restart from the checkpoint picks up only wave 2

    val oracle = log.groupBy(e => e.repo.drop(4).toInt % 3)
    (0 until 3).foreach { i =>
      val got = reg(s"t$i").snapshot(spark).get.as[FlatEvent].collect()
        .map(e => ((e.repo, e.path), e)).toMap
      assert(got === foldBy(oracle(i), e => (e.repo, e.path)), s"table t$i")
      assert(got.nonEmpty, s"table t$i must hold rows — else the routing tests nothing")
    }

    // a third run with no new input leaves every commit log untouched
    val versions = reg.defs.map(d => d.name -> reg(d.name).lastCommit().get.version).toMap
    run()
    reg.defs.foreach(d =>
      assert(reg(d.name).lastCommit().get.version === versions(d.name), s"table ${d.name} moved"))
  }

  test("atomic catalog commit: a crash between two tables' commits exposes neither, recovery exposes both") {
    val log = (1 to 300).map { i =>
      FlatEvent.mk((s"repo${i % 4}", s"p${i % 7}.txt"), i.toLong, Seq("c", "u", "u", "d")(i % 4))
    }
    val reg = new Registry(Files.createTempDirectory("multi-atomic").toString, Seq(
      TableDef("kv", Seq("repo", "path"), numBuckets = 4),
      TableDef("heads", Seq("repo"), numBuckets = 2)))
    val routed = log.toDF().withColumn("route",
      when(pmod(regexp_extract(col("repo"), "([0-9]+)", 1).cast("int"), lit(2)) === 0, "kv")
        .otherwise("heads"))
    def atomicState(): Map[String, Set[(String, String, String)]] =
      MultiTable.snapshotAllAtomic(spark, reg)
        .map(_.select("sink_table", "repo", "path", "commit").collect()
          .groupBy(_.getString(0))
          .map { case (t, rows) =>
            t -> rows.map(r => (r.getString(1), r.getString(2), r.getString(3))).toSet
          })
        .getOrElse(Map.empty)

    // before the first manifest, atomic readers see NOTHING (no torn
    // bootstrap), even though per-table heads may exist
    MultiTable.applyBatch(spark, reg, routed.where(col("lsn") <= 100), "route", 0)
    assert(MultiTable.snapshotAllAtomic(spark, reg).isEmpty,
      "no manifest yet → atomic read must be empty")
    MultiTable.commitCatalog(reg, 0)
    val afterB0 = atomicState()
    assert(afterB0.nonEmpty)

    // CRASH SIMULATION for batch 1: only the kv table's apply lands —
    // the writer dies before heads' apply and before the manifest
    val slice1 = routed.where(col("lsn") > 100 && col("route") === "kv").drop("route")
    graft.merge.CdcApply.applyBatch(spark, reg("kv"), slice1, batchId = 1)
    // non-atomic (head) read sees the torn state...
    val headCounts = MultiTable.snapshotAll(spark, reg).get
      .groupBy("sink_table").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // ...but the atomic read still reflects batch 0 for BOTH tables
    assert(atomicState() === afterB0,
      "half-committed batch leaked into the atomic catalog read")
    assert(MultiTable.lastCatalogCommit(reg).get.batchId === 0L)

    // RECOVERY: the checkpoint-replayed batch re-applies (kv no-ops on
    // its fence, heads commits) and publishes the manifest — both tables
    // flip in together
    val r = MultiTable.applyBatchAtomic(spark, reg, routed.where(col("lsn") > 100), "route", 1)
    assert(!r("kv").committed && r("kv").reason == "batchId-fenced",
      "kv must fence the replayed batch, not double-apply")
    assert(r("heads").committed)
    assert(MultiTable.lastCatalogCommit(reg).get.batchId === 1L)
    val finalAtomic = MultiTable.snapshotAllAtomic(spark, reg).get
      .groupBy("sink_table").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(finalAtomic === headCounts.updated("heads",
      foldBy(log.filter(_.repo.drop(4).toInt % 2 == 1), (_: FlatEvent).repo).size.toLong),
      "recovered atomic read must expose the full batch for both tables")
    // and it now equals the direct fold of the whole log per table
    val kvWant = foldBy(log.filter(_.repo.drop(4).toInt % 2 == 0), (e: FlatEvent) => (e.repo, e.path))
    assert(finalAtomic("kv") === kvWant.size.toLong)

    // idempotent re-publish: same batch, same versions → same manifest
    val seqBefore = MultiTable.lastCatalogCommit(reg).get.seq
    MultiTable.commitCatalog(reg, 1)
    assert(MultiTable.lastCatalogCommit(reg).get.seq === seqBefore,
      "re-publishing an identical manifest must not append a new one")
  }

  test("catalog manifest records the versions the batch committed, not later heads") {
    var reg: Registry = null
    // b applies after a (parallelism 1, catalog order); its post-processor
    // lands an out-of-band commit on a between a's apply and the publish
    val outOfBand: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = df => {
      val a = reg("a")
      a.registerSchema(a.lastCommit().get.schema.add("note", "string").json)
      df
    }
    reg = new Registry(Files.createTempDirectory("multi-catalog").toString, Seq(
      TableDef("a", numBuckets = 2), TableDef("b", numBuckets = 2, postProcessors = Seq(outOfBand))))
    val evs = (1 to 20).map(i => FlatEvent.mk((s"repo${i % 2}", s"p$i.txt"), i.toLong, "c"))
    val routed = evs.toDF().withColumn("route", when(col("repo") === "repo0", "a").otherwise("b"))
    val res = MultiTable.applyBatchAtomic(spark, reg, routed, "route", 0)
    assert(reg("a").lastCommit().get.version === res("a").version + 1, "out-of-band commit landed")
    assert(MultiTable.lastCatalogCommit(reg).get.versions ===
      Map("a" -> res("a").version, "b" -> res("b").version))
  }

  test("catalog manifests parse as JSON: fields after versions, quoted names; malformed throws") {
    val reg = new Registry(Files.createTempDirectory("multi-manifest").toString, Seq(
      TableDef("kv", Seq("repo", "path"), numBuckets = 4)))
    // the writer's own manifest round-trips
    val c1 = MultiTable.commitCatalog(reg, 0)
    assert(MultiTable.lastCatalogCommit(reg) === Some(c1))
    assert(c1.versions === Map("kv" -> 0L))

    val dir = java.nio.file.Paths.get(reg.root, "_catalog")
    def put(seq: Int, json: String): Unit = Files.writeString(dir.resolve(f"c$seq%020d.json"), json)
    // a field AFTER versions, whose nested keys look like versions, and a
    // table name carrying an escaped quote
    put(2, """{"seq":2,"batchId":7,"versions":{"kv":3,"b\"q":4},"note":{"x":9}}""")
    assert(MultiTable.lastCatalogCommit(reg) ===
      Some(MultiTable.CatalogCommit(2L, 7L, Map("kv" -> 3L, "b\"q" -> 4L))))
    assert(MultiTable.catalogCommits(reg).map(_.seq) === Seq(1L, 2L))

    put(3, """{"seq":3,"batchId":8,"versions":{"kv":""")
    intercept[com.fasterxml.jackson.core.JsonProcessingException](MultiTable.lastCatalogCommit(reg))
    put(3, """{"seq":3,"batchId":8,"versions":{"kv":"5"}}""")
    intercept[IllegalStateException](MultiTable.lastCatalogCommit(reg))
    put(3, """{"seq":3,"batchId":8}""")
    intercept[IllegalStateException](MultiTable.lastCatalogCommit(reg))
  }

  test("schema evolution stays per-table: a slice that routes zero rows does not evolve") {
    val reg = new Registry(Files.createTempDirectory("multi-evo").toString, Seq(
      TableDef("a", Seq("repo", "path"), 2),
      TableDef("b", Seq("repo", "path"), 2)))
    val base = Seq(FlatEvent.mk(("r1", "x"), 1, "c"), FlatEvent.mk(("r2", "y"), 2, "c")).toDF()
      .withColumn("route", when(col("repo") === "r1", "a").otherwise("b"))
    MultiTable.applyBatch(spark, reg, base, "route", 0)
    // batch 1 carries a new column but routes rows only to table a
    val wide = Seq(FlatEvent.mk(("r1", "z"), 3, "c")).toDF()
      .withColumn("stars", lit(7)).withColumn("route", lit("a"))
    MultiTable.applyBatch(spark, reg, wide, "route", 1)
    assert(reg("a").lastCommit().get.schema.fieldNames.contains("stars"))
    assert(!reg("b").lastCommit().get.schema.fieldNames.contains("stars"),
      "empty slice must not leak the wider batch schema into table b")

    // schema-change event feed: one row per schema transition per table;
    // tableFilter applies the SchemaChangeEventFilter exclude semantics
    val ev = MultiTable.schemaChangeEvents(spark, reg)
      .orderBy("sink_table", "version").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(4)))
    val nBase = Seq(FlatEvent.mk(("r1", "x"), 1, "c")).toDF().schema.fields.length
    assert(ev.toSeq === Seq(("a", 1L, nBase), ("a", 2L, nBase + 1), ("b", 1L, nBase)))
    val kept = graft.operators.Transforms.tableFilter(
      MultiTable.schemaChangeEvents(spark, reg), exclude = Some("b"),
      tableCol = col("sink_table")).select("sink_table").distinct().collect()
    assert(kept.map(_.getString(0)).toSeq === Seq("a"))
  }

  test("customKeyMapper: regex tables, spec order, PK fallback (message.key.columns)") {
    val cols = Seq("pk1", "pk2", "pk3", "pk4", "other")
    val m = MultiTable.customKeyMapper(
      "inventory.customers:pk1,pk2;(.*).purchaseorders:pk4,pk3", // the reference's own example
      defaultKey = Seq("pk1"))
    assert(m("inventory.customers", cols) === Seq("pk1", "pk2"))
    // regex table part matches any schema prefix; key order follows the SPEC
    assert(m("shop.purchaseorders", cols) === Seq("pk4", "pk3"))
    // no predicate match → the table's own PK
    assert(m("inventory.orders", cols) === Seq("pk1"))
    // anchored: a column regex must cover the whole table.column string
    assert(m("inventory.customers2", cols) === Seq("pk1"))
    // case-insensitive, Predicates.includes semantics
    assert(m("INVENTORY.CUSTOMERS", cols) === Seq("pk1", "pk2"))
    // degenerate entries are config errors (MSG_KEY_COLUMNS_PATTERN), not
    // silent PK-fallback no-ops
    intercept[IllegalArgumentException](MultiTable.customKeyMapper("inventory.orders:"))
    intercept[IllegalArgumentException](MultiTable.customKeyMapper(":repo"))
    intercept[IllegalArgumentException](MultiTable.customKeyMapper("no-colon-here"))
  }
}
