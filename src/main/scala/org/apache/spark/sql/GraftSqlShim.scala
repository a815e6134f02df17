package org.apache.spark.sql

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Minimal access shim for graft's custom Catalyst expressions and
  * relations.
  *
  * Spark 4's unified `Column` no longer exposes its Catalyst expression
  * publicly (`Column.expr` is gone; the classic bridge
  * `org.apache.spark.sql.classic.ExpressionUtils` and
  * `types.AbstractDataType` are `private[sql]`), and a Dataset over a
  * hand-built logical plan (`classic.Dataset.ofRows`) is likewise
  * package-private. This object — compiled into the `org.apache.spark.sql`
  * package from this repo — re-exports exactly the two lift functions, the
  * input-type supertype needed to define codegen'd expressions outside
  * Spark's own tree, and one bucketed-relation constructor. No Spark
  * internals are modified; this is the conventional integration point
  * used by expression libraries targeting the classic engine.
  */
object GraftSqlShim {
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  /** Lift a Catalyst expression into a user-facing Column. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Recover the Catalyst expression backing a classic Column. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A parquet scan over exactly `files`, declared bucketed by `keyCols`
    * into `numBuckets` — what a `CLUSTERED BY … INTO n BUCKETS` catalog
    * table plans, without the catalog. Every file name must carry its
    * bucket id (`…_00003.c000.snappy.parquet`): the scan groups files by
    * the id in the name and reports `HashPartitioning(keyCols, numBuckets)`.
    * The file index lists `files` when built, so build it where the
    * listing should run.
    */
  def bucketedParquet(
      spark: SparkSession,
      files: Seq[String],
      schema: StructType,
      keyCols: Seq[String],
      numBuckets: Int): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val index = new InMemoryFileIndex(session, files.map(new Path(_)), Map.empty, Some(schema))
    val relation = HadoopFsRelation(index, new StructType(), schema,
      Some(BucketSpec(numBuckets, keyCols, Nil)), new ParquetFileFormat, Map.empty)(session)
    classic.Dataset.ofRows(session, LogicalRelation(relation))
  }
}
