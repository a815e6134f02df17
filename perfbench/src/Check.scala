package perfbench

import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.table.LakeTable

/** Output checks. Each returns the list of mismatches it found (empty =
  * correct), so a run can count them as failed operations.
  */
object Check {

  def rowHash(repo: String, path: String, sha: String): Long = {
    val s = s"$repo\u0001$path\u0001$sha"
    (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  /** Live table state vs the oracle: row count plus an order-independent
    * hash of (repo, path, sha2(content)).
    */
  def state(spark: SparkSession, table: LakeTable, oracle: Oracle): Seq[String] = {
    val rows = table.snapshot(spark)
      .map(_.select(col("repo"), col("path"), sha2(col("content"), 256)).collect())
      .getOrElse(Array.empty[Row])
    val hash = rows.iterator.map(r => rowHash(r.getString(0), r.getString(1), r.getString(2))).sum
    val want = oracle.liveCount
    Seq(
      Option.when(rows.length != want)(s"state: ${rows.length} live rows, oracle has $want"),
      Option.when(hash != oracle.stateHash)("state: (repo, path, sha2(content)) hash differs from the oracle")
    ).flatten
  }

  /** The maintained view vs a direct groupBy(repo) over the live snapshot
    * and vs the oracle.
    */
  def view(spark: SparkSession, base: LakeTable, viewTable: LakeTable, oracle: Oracle): Seq[String] = {
    def asMap(df: DataFrame): Map[String, (Long, Long)] =
      df.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = viewTable.snapshot(spark)
      .map(v => asMap(v.select(col("repo"), col("n_rows"), col("total_chars")))).getOrElse(Map.empty)
    val direct = base.snapshot(spark)
      .map(s => asMap(s.groupBy(col("repo"))
        .agg(count(lit(1)).as("n"), sum(length(col("content")).cast("long")).as("c"))))
      .getOrElse(Map.empty)
    val baseV = base.lastCommit().map(_.version).getOrElse(0L)
    val viewV = viewTable.lastCommit().map(_.batchId).getOrElse(-1L)
    Seq(
      Option.when(viewV != baseV)(s"view: reflects base version $viewV, head is $baseV"),
      Option.when(got != direct)(s"view: ${diff(got, direct)} vs groupBy(repo) over the snapshot"),
      Option.when(direct != oracle.view)(s"view: snapshot groupBy(repo) ${diff(direct, oracle.view)} vs the oracle")
    ).flatten
  }

  private def diff(a: Map[String, (Long, Long)], b: Map[String, (Long, Long)]): String = {
    val bad = (a.keySet ++ b.keySet).filter(k => a.get(k) != b.get(k))
    s"${bad.size} groups differ (e.g. ${bad.take(2).map(k => s"$k: ${a.get(k)} != ${b.get(k)}").mkString("; ")})"
  }

  type LookupRow = (String, String, String, String)

  def lookupRows(df: Option[DataFrame]): Set[LookupRow] =
    df.map(_.select("repo", "path", "commit", "content").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet)
      .getOrElse(Set.empty)

  /** One lookup result vs the oracle's rows for the requested keys. */
  def lookup(got: Set[LookupRow], keys: Seq[Int], oracle: Oracle): Seq[String] = {
    val want = keys.flatMap(oracle.expected).toSet
    if (got == want) Nil
    else Seq(s"lookup: ${(got diff want).size} unexpected and ${(want diff got).size} missing rows of ${keys.size} keys")
  }

  /** A lookup result vs a filter of the live snapshot for the same keys. */
  def lookupVsSnapshot(spark: SparkSession, table: LakeTable, got: Set[LookupRow],
      keys: Seq[(String, String)]): Seq[String] = {
    val direct = lookupRows(table.snapshot(spark).map(_.where(
      keys.map { case (r, p) => col("repo") === r && col("path") === p }.reduce(_ || _))))
    if (direct == got) Nil else Seq(s"lookup: result differs from the snapshot filter for the same keys")
  }
}
