package org.apache.spark.sql

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.streaming.runtime.{StreamExecution, StreamingQueryWrapper}
import org.apache.spark.sql.execution.streaming.sources.MemorySink
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Bridge into `private[sql]` Column↔Expression conversion (Spark 4 moved
  * the Expression constructor of Column behind classic.ExpressionUtils),
  * local-relation frames and a streaming query's sink. Lives in the
  * org.apache.spark.sql package solely for access; no Spark internals are
  * modified.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `rows` of `schema` as a frame over a driver-local relation of unsafe
    * rows: the rows are copied, so the frame holds no reference to `rows`. */
  def localFrame(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame = {
    val toRow = ExpressionEncoder(schema).createSerializer()
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows.map(toRow(_).copy())))
  }

  /** The engine behind the query handle `q`. */
  def execution(q: StreamingQuery): Option[StreamExecution] = q match {
    case w: StreamingQueryWrapper => Some(w.streamingQuery)
    case e: StreamExecution => Some(e)
    case _ => None
  }

  /** The memory sink `q` writes to, if it writes to one. */
  def memorySink(q: StreamingQuery): Option[MemorySink] =
    execution(q).map(_.sink).collect { case m: MemorySink => m }
}
