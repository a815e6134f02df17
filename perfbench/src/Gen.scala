package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One change event as the generator emits it. Every payload column is a
  * pure function of (seed, key, lsn) — see [[Gen]] — so the staged files
  * and the oracle never have to carry the payload in driver memory.
  */
final case class Ev(key: Int, op: String, lsn: Long)

/** The benchmark's own seeded input generator (FIXTURES.md §1–§2 shapes).
  * It is deliberately independent of the engine's `SyntheticLog`, so a
  * change to the engine cannot change the workload.
  *
  * Keys `[0, hotKeys)` are hot: they draw `hotShare` of all events and live
  * in four hot repos; the rest spread uniformly over `numKeys - hotKeys`
  * keys in 64 repos. Per-key event sequences are prefix-valid: a missing
  * key gets a create (or a snapshot read), a live key an update or a
  * delete. `lsn` is one global counter, so it also increases within every
  * source partition; `commit` groups four consecutive events.
  */
final class Gen(val seed: Long, val numKeys: Int, hotKeys: Int, hotShare: Double) {
  require(numKeys > hotKeys && hotKeys > 0)
  private val rng = new java.util.SplittableRandom(seed)
  private val alive = new java.util.BitSet(numKeys)
  private var lsn = 0L

  /** Snapshot-read events ('r') for keys `[0, n)`, marking them live. */
  def snapshot(n: Int): Array[Ev] = Array.tabulate(n) { k =>
    alive.set(k); lsn += 1; Ev(k, "r", lsn)
  }

  /** `n` change events drawn with the hot-key skew. */
  def events(n: Int): Array[Ev] = Array.fill(n) {
    val k =
      if (rng.nextDouble() < hotShare) rng.nextInt(hotKeys)
      else hotKeys + rng.nextInt(numKeys - hotKeys)
    val p = rng.nextDouble()
    val op =
      if (!alive.get(k)) { alive.set(k); if (p < 0.9) "c" else "r" }
      else if (p < 0.88) "u"
      else { alive.clear(k); "d" }
    lsn += 1
    Ev(k, op, lsn)
  }

  /** A key id that the generator never emits (for absent-key lookups). */
  def absentKey(i: Int): Int = numKeys + i
}

object Gen {
  val SourceParts = 8
  val TsBase = 1700000000000L

  def repo(k: Int, hotKeys: Int): String =
    if (k < hotKeys) f"hot/repo${k % 4}" else f"org${k % 64}%02d/proj"
  def path(k: Int): String = s"src/p${k % 16}/F$k.scala"
  def commit(lsn: Long): String = f"c${lsn / 4}%012d"
  def lang(k: Int): String = Langs(k % 5)
  private val Langs = IndexedSeq("scala", "java", "py", "rs", "md")
  def part(k: Int): Int = k % SourceParts

  private def mix(a: Long): Long = {
    var z = a + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic pseudo-code body of a key at an lsn (60–240 bytes). */
  def content(seed: Long, k: Int, lsn: Long): String = {
    val h = mix(seed ^ mix(k.toLong * 1000003L + lsn))
    val sb = new java.lang.StringBuilder(256)
    sb.append("object F").append(k).append(" { // rev ").append(lsn).append('\n')
    var i = 0
    val lines = 1 + (h & 3).toInt
    while (i < lines) {
      sb.append("  def f").append(i).append("(x: Long) = x * ")
        .append((h >>> (8 * i)) & 0xffff).append(" + ").append((h >>> (8 * i + 16)) & 0xfff)
        .append('\n')
      i += 1
    }
    sb.append("}\n").toString
  }

  val flatSchema: StructType = StructType(Seq(
    StructField("repo", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("commit", StringType, nullable = false),
    StructField("lang", StringType),
    StructField("content", StringType),
    StructField("op", StringType, nullable = false),
    StructField("part", IntegerType, nullable = false),
    StructField("lsn", LongType, nullable = false),
    StructField("ts_ms", LongType)))

  def row(seed: Long, hotKeys: Int, e: Ev): Row =
    Row(repo(e.key, hotKeys), path(e.key), commit(e.lsn), lang(e.key),
      if (e.op == "d") null else content(seed, e.key, e.lsn),
      e.op, part(e.key), e.lsn, TsBase + e.lsn)

  /** Flat events of several batches as one frame with a batch column `b`. */
  def flatFrame(spark: SparkSession, seed: Long, hotKeys: Int, batches: Seq[Array[Ev]]): DataFrame = {
    val tagged = batches.zipWithIndex.flatMap { case (evs, b) => evs.iterator.map(e => (b, e)) }
    val slices = math.max(1, math.min(batches.size, 4 * spark.sparkContext.defaultParallelism))
    val rdd = spark.sparkContext.parallelize(tagged, slices).map { case (b, e) =>
      Row.fromSeq(row(seed, hotKeys, e).toSeq :+ b)
    }
    spark.createDataFrame(rdd, flatSchema.add(StructField("b", IntegerType, nullable = false)))
  }

  /** Stage flat batches as parquet: `<dir>/b=<i>/` per batch. */
  def stageFlat(spark: SparkSession, seed: Long, hotKeys: Int, batches: Seq[Array[Ev]], dir: String): Unit =
    flatFrame(spark, seed, hotKeys, batches).write.partitionBy("b").parquet(dir)

  /** Debezium-envelope shape of a flat frame (FIXTURES.md §2): deletes
    * carry `before`, every other op `after`; position in `source`.
    */
  def envelope(flat: DataFrame): DataFrame = {
    val rowStruct = struct(Seq("repo", "path", "commit", "lang", "content").map(col): _*)
    val isDelete = col("op") === "d"
    flat.select(
      when(isDelete, rowStruct).as("before"),
      when(!isDelete, rowStruct).as("after"),
      struct(
        lit("0.1.0").as("version"), lit("perfbench").as("connector"), lit("repolog").as("name"),
        col("ts_ms"), lit("false").as("snapshot"), lit("repos").as("db"),
        lit("repo_files").as("table"), col("part"), col("lsn")).as("source"),
      col("op"),
      col("ts_ms"),
      (col("ts_ms") * 1000L).as("ts_us"),
      (col("ts_ms") * 1000000L).as("ts_ns"),
      lit(null).cast("struct<id:string,total_order:bigint,data_collection_order:bigint>").as("transaction"),
      col("b"))
  }

  /** Stage envelope batches as parquet: one file under `<dir>/b=<i>/` each. */
  def stageEnvelopes(spark: SparkSession, seed: Long, hotKeys: Int, batches: Seq[Array[Ev]], dir: String): Unit =
    envelope(flatFrame(spark, seed, hotKeys, batches)).repartition(col("b"))
      .write.partitionBy("b").parquet(dir)

  def sha256(s: String): String = {
    val d = MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
    val sb = new java.lang.StringBuilder(64)
    d.foreach(x => sb.append(f"${x & 0xff}%02x"))
    sb.toString
  }
}

/** Independent per-key fold of the staged log (the sequential-fold oracle,
  * FIXTURES.md §5): last writer by (commit, lsn) wins, a delete winner
  * leaves the key absent.
  */
final class Oracle(seed: Long, numKeys: Int, hotKeys: Int) {
  private val winLsn = Array.fill(numKeys)(0L)
  private val winOp = new Array[String](numKeys)

  def apply(evs: Array[Ev]): Unit = evs.foreach { e =>
    val cur = winLsn(e.key)
    val newer = cur == 0L || {
      val (c0, c1) = (Gen.commit(cur), Gen.commit(e.lsn))
      c1 > c0 || (c1 == c0 && e.lsn > cur)
    }
    if (newer) { winLsn(e.key) = e.lsn; winOp(e.key) = e.op }
  }

  def live(k: Int): Boolean = k < numKeys && winOp(k) != null && winOp(k) != "d"

  def liveCount: Long = (0 until numKeys).count(live).toLong

  /** Expected live row of a key: (repo, path, commit, content). */
  def expected(k: Int): Option[(String, String, String, String)] =
    if (!live(k)) None
    else Some((Gen.repo(k, hotKeys), Gen.path(k), Gen.commit(winLsn(k)), Gen.content(seed, k, winLsn(k))))

  /** Order-independent hash of (repo, path, sha256(content)) over live rows. */
  def stateHash: Long =
    (0 until numKeys).iterator.filter(live).map { k =>
      Check.rowHash(Gen.repo(k, hotKeys), Gen.path(k), Gen.sha256(Gen.content(seed, k, winLsn(k))))
    }.sum

  /** Expected view rows: repo -> (rows, total content length). */
  def view: Map[String, (Long, Long)] =
    (0 until numKeys).filter(live).groupBy(k => Gen.repo(k, hotKeys)).map { case (r, ks) =>
      r -> (ks.size.toLong, ks.map(k => Gen.content(seed, k, winLsn(k)).length.toLong).sum)
    }
}
