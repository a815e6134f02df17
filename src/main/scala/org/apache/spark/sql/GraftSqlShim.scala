package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Minimal access shim for graft's custom Catalyst expressions and
  * relations.
  *
  * Spark 4's unified `Column` no longer exposes its Catalyst expression
  * publicly (`Column.expr` is gone; the classic bridge
  * `org.apache.spark.sql.classic.ExpressionUtils` and
  * `types.AbstractDataType` are `private[sql]`). This object — compiled
  * into the `org.apache.spark.sql` package from this repo — re-exports
  * exactly the two lift functions, the input-type supertype needed to
  * define codegen'd expressions outside Spark's own tree, and one parquet
  * scan constructor over a fixed file list. No Spark internals are
  * modified; this is the conventional integration point used by
  * expression libraries targeting the classic engine.
  */
object GraftSqlShim {
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  /** Lift a Catalyst expression into a user-facing Column. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Recover the Catalyst expression backing a classic Column. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A parquet scan over exactly `files`, read as `schema` made nullable
    * (as every file source reads). The file index hands the given statuses
    * to the planner as they are: no listing, no file-system call.
    *
    * With a `bucketSpec` the scan is what a `CLUSTERED BY … INTO n
    * BUCKETS` catalog table plans, without the catalog: it groups files by
    * the bucket id in their names (`…_00003.c000.snappy.parquet`, which
    * every file must carry) and reports `HashPartitioning(bucketColumns,
    * numBuckets)`.
    */
  def parquetScan(
      spark: SparkSession,
      files: Seq[FileStatus],
      schema: StructType,
      bucketSpec: Option[BucketSpec]): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(new ManifestFileIndex(files), new StructType(),
      schema.asNullable, bucketSpec, new ParquetFileFormat, Map.empty)(spark))

  /** A file index of a fixed, unpartitioned file list. */
  private final class ManifestFileIndex(files: Seq[FileStatus]) extends FileIndex {
    override def rootPaths: Seq[Path] = files.map(_.getPath)
    override def listFiles(
        partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files.toArray))
    override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.getLen).sum
    override def partitionSchema: StructType = new StructType()
  }
}
