package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.merge.CdcApply

/** Shows that the output checks catch a wrong table: a small table is
  * applied and checked (must pass), then one of its data files is replaced
  * by a copy with every `content` altered, and the same checks must fail.
  */
object SelfTest {
  def run(spark: SparkSession, work: Path): Int = {
    val seed = 7L
    val gen = new Gen(seed, 2100, hotKeys = 100, hotShare = 0.1)
    val batches = Seq(gen.snapshot(2000), gen.events(500), gen.events(500))
    val oracle = new Oracle(seed, gen.numKeys, 100)
    val dir = work.resolve("self-test")
    Gen.stageFlat(spark, seed, 100, batches, dir.resolve("in").toString)
    val ctx = new Ctx(spark, new Tracer(spark.sparkContext), None)
    val table = ctx.table(dir.resolve("table"))
    batches.indices.foreach { b =>
      CdcApply.applyBatch(spark, table, spark.read.schema(Gen.flatSchema).parquet(dir.resolve(s"in/b=$b").toString), b)
      oracle(batches(b))
    }
    val keys = (0 until 64).map(k => k * 31)
    def lookupProblems = Check.lookup(
      Check.lookupRows(table.lookupMany(spark, keys.map(Workloads.keyTuple(_, 100)))), keys, oracle)
    val clean = Check.state(spark, table, oracle) ++ lookupProblems
    println(s"self-test: intact table: ${if (clean.isEmpty) "checks pass" else clean.mkString("; ")}")

    val ci = table.lastCommit().get
    val victim = ci.files.filter(_.rows > 0).maxBy(_.rows)
    val file = Paths.get(table.root, victim.path)
    val tmp = dir.resolve("corrupt").toString
    spark.read.parquet(file.toString).withColumn("content", concat(col("content"), lit(" ")))
      .coalesce(1).write.parquet(tmp)
    val rewritten = Files.list(Paths.get(tmp)).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.copy(rewritten, file, StandardCopyOption.REPLACE_EXISTING)
    Files.deleteIfExists(file.resolveSibling(s".${file.getFileName}.crc"))
    val corrupt = Check.state(spark, table, oracle) ++ lookupProblems
    println(s"self-test: corrupted ${victim.path}: ${if (corrupt.isEmpty) "checks pass" else corrupt.mkString("; ")}")
    val ok = clean.isEmpty && corrupt.nonEmpty
    println(if (ok) "self-test: ok (the checks pass on the intact table and fail on the corrupted one)"
      else "self-test: FAILED")
    if (ok) 0 else 1
  }
}
