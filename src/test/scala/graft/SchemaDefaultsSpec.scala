package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.merge.CdcApply
import graft.table.{LakeTable, SchemaEvolution}

/** Column DEFAULT values in schema evolution (round-4 VERDICT item 5;
  * reference `relational/Column.java:136` defaultValueExpression +
  * `relational/DefaultValueConverter.java`, applied by the JDBC sink when
  * altering columns): an added column tagged with a default reads the
  * default — not null — for every row written before the column existed,
  * across snapshot, change-feed, and compaction reads.
  */
class SchemaDefaultsSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(): LakeTable =
    new LakeTable(Files.createTempDirectory("schema-default").toString, numBuckets = 4)

  private def batch(lsns: Range, op: String = "c") =
    lsns.map(i => FlatEvent.mk((s"repo${i % 4}", s"f${i % 8}.txt"), i.toLong, op)).toDF()

  test("added column with DEFAULT reads the default for pre-evolution rows, the value for new ones") {
    val t = mkTable()
    CdcApply.applyBatch(spark, t, batch(1 to 16), 0L)
    // evolve: add n_chars DEFAULT -1 and a string column DEFAULT 'unknown'
    val evolved = batch(17 to 20, "u").select(col("*"),
      SchemaEvolution.withDefault(length(col("content")).cast("long"), "n_chars", "-1"),
      SchemaEvolution.withDefault(lit("fresh"), "origin", "'unknown'"))
    CdcApply.applyBatch(spark, t, evolved, 1L)

    val rows = t.snapshot(spark).get
      .select(col("lsn"), col("n_chars"), col("origin")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val lsn = r.getLong(0)
      if (lsn >= 17) {
        assert(r.getLong(1) > 0, s"lsn $lsn: new rows carry the real value")
        assert(r.getString(2) == "fresh")
      } else {
        assert(r.getLong(1) == -1L, s"lsn $lsn: pre-evolution rows must read the -1 default")
        assert(r.getString(2) == "unknown", s"lsn $lsn: string default must apply")
      }
    }
    assert(rows.exists(_.getLong(0) < 17), "scenario must retain pre-evolution winners")

    // defaults survive compaction (the rewrite burns them into data)
    t.compact(spark)
    val after = t.snapshot(spark).get.where(col("lsn") < 17)
      .select(col("n_chars"), col("origin")).distinct().collect()
    assert(after.toSeq.map(r => (r.getLong(0), r.getString(1))) == Seq((-1L, "unknown")))
  }

  test("change feed fills defaults for pre-evolution versions") {
    val t = mkTable()
    CdcApply.applyBatch(spark, t, batch(1 to 8), 0L)
    CdcApply.applyBatch(spark, t, batch(9 to 10, "u").select(col("*"),
      SchemaEvolution.withDefault(lit(7L), "rank", "-1")), 1L)
    val feed = t.changeFeed(spark, 0L, 2L).get
    // version-1 rows (written without the column) read -1; version-2
    // postimages read the real value
    val v1 = feed.where(col("_commit_version") === 1 && col("_change_type") === "insert")
    assert(v1.count() > 0)
    assert(v1.select("rank").distinct().as[Long].collect().toSeq == Seq(-1L))
    val v2post = feed.where(col("_commit_version") === 2 &&
      col("_change_type").isin("insert", "update_postimage"))
    assert(v2post.select("rank").distinct().as[Long].collect().toSeq == Seq(7L))
  }

  test("malformed defaults fail at declaration, never at read time") {
    // the default is burned into the commit log and evaluated by every
    // later read — an unquoted string (a bare column reference) or a
    // computed expression must be rejected HERE, not brick snapshots
    val ex1 = intercept[IllegalArgumentException](
      SchemaEvolution.withDefault(lit("x"), "origin", "unknown")) // meant "'unknown'"
    assert(ex1.getMessage.contains("foldable"))
    intercept[IllegalArgumentException](
      SchemaEvolution.withDefault(lit(1L), "n", "length(content)")) // row-dependent
    intercept[IllegalArgumentException](
      SchemaEvolution.withDefault(lit(1L), "n", "NOT ( VALID")) // unparseable
    // query-time expressions are foldable PER QUERY but drift per read —
    // pre-evolution rows would read a different "default" every snapshot
    // (round-4 ADVICE); they must be rejected at declaration too
    Seq("current_timestamp", "current_timestamp()", "now()", "current_date",
      "rand()", "uuid()").foreach { bad =>
      intercept[IllegalArgumentException](
        SchemaEvolution.withDefault(lit(1L), "n", bad))
    }
    // valid literal / constant-foldable forms pass
    SchemaEvolution.withDefault(lit(1L), "n", "-1")
    SchemaEvolution.withDefault(lit("a"), "s", "'unknown'")
    SchemaEvolution.withDefault(lit(5), "m", "CAST('5' AS INT)")
    SchemaEvolution.withDefault(lit(1L), "t", "TIMESTAMP '2024-01-01 00:00:00'")
  }

  test("bucketed state reads fill defaults: merge-on-read stacks and the copy-on-write join") {
    def wide(lsns: Range, op: String = "c") =
      lsns.map(i => FlatEvent.mk((s"repo${i % 4}", s"w$i.txt"), i.toLong, op)).toDF()
    for (mor <- Seq(true, false)) {
      val t = new LakeTable(Files.createTempDirectory("schema-default").toString,
        numBuckets = 4, mergeOnRead = mor)
      CdcApply.applyBatch(spark, t, wide(1 to 64), 0L)
      // one event against 64 keys of state: a copy-on-write merge prefers
      // the storage-partitioned join over the bucketed state read
      CdcApply.applyBatch(spark, t, wide(65 to 65, "u").select(col("*"),
        SchemaEvolution.withDefault(lit(5L), "rank", "-1")), 1L)
      val old = t.snapshot(spark).get.where(col("lsn") < 65).select("rank").distinct().collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
      assert(old == Seq(Some(-1L)), s"mergeOnRead=$mor: pre-evolution rows must read the default")
    }
  }

  test("undeclared defaults keep null-fill semantics (q13 compatibility)") {
    val t = mkTable()
    CdcApply.applyBatch(spark, t, batch(1 to 8), 0L)
    CdcApply.applyBatch(spark, t,
      batch(9 to 10, "u").withColumn("rank", lit(7L)), 1L)
    val old = t.snapshot(spark).get.where(col("lsn") < 9).select("rank").distinct().collect()
    assert(old.length == 1 && old.head.isNullAt(0), "no default declared → null-fill")
  }
}
