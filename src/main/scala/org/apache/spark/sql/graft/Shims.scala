package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession => ClassicSession}
import org.apache.spark.sql.connector.catalog.{Table, V1Table}
import org.apache.spark.sql.types.StructType

/** graft's one set of `private[sql]` seams, re-exported from inside the
  * `org.apache.spark.sql` package (the standard extension technique —
  * Spark's own connectors, Delta's `DeltaSource` among them, ship the
  * same kind of shim file). Nothing here adds behavior; each member is
  * the Dataset/Column factory Spark itself uses:
  *   - [[ofRows]] turns a captured [[LogicalPlan]] back into a DataFrame,
  *     as every Spark command does;
  *   - [[v1Table]] unwraps the `V1Table` envelope the session catalog
  *     hands to v2 code paths (DELETE/UPDATE/MERGE resolution) for
  *     v1-provider tables;
  *   - [[streamingDf]]/[[batchDf]] re-tag an RDD of rows as a streaming
  *     or batch frame for the DataSource-V1 streaming source and sink;
  *   - [[column]]/[[expression]] move between a Column and the Catalyst
  *     expression it wraps, so graft's native expressions need no
  *     function-registry entry.
  */
object Shims {

  /** `Dataset.ofRows` — LogicalPlan → DataFrame on the given session. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** The wrapped [[CatalogTable]] when `table` is the session catalog's
    * v1 envelope; None for genuine v2 tables. */
  def v1Table(table: Table): Option[CatalogTable] = table match {
    case v1: V1Table => Some(v1.v1Table)
    case _ => None
  }

  /** A V1 streaming `Source.getBatch` must return a frame whose plan
    * carries `isStreaming = true` (MicroBatchExecution asserts it); the
    * only way to tag an already-planned batch frame is
    * `internalCreateDataFrame(rdd, schema, isStreaming = true)`. */
  def streamingDf(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[ClassicSession].internalCreateDataFrame(rdd, schema, isStreaming = true)

  /** The inverse, for a streaming SINK: `addBatch` receives an
    * incrementally-planned frame that batch writers refuse; re-wrapping
    * its row RDD as a plain batch frame is the v1-sink counterpart. */
  def batchDf(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[ClassicSession].internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** A Catalyst expression as a Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** The Catalyst expression a Column wraps. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
