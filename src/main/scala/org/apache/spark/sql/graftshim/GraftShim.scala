package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's private[sql] surface: build a public `Column` from a
  * raw Catalyst `Expression` (Spark 4 routes Column through ColumnNode, so
  * library code needs this one hop to attach custom codegen expressions).
  */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Re-tag a batch DataFrame as streaming input: V1 `Source.getBatch` must
    * return a frame with isStreaming=true, which only
    * `internalCreateDataFrame` can produce (the same hop Spark's own V1
    * sources take).
    */
  def asStreaming(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val classic = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    classic.sparkSession.internalCreateDataFrame(
      classic.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** Clone a session: shared SparkContext/catalog, an independent copy of
    * the SQL conf. Streaming jobs that need a different state width
    * (`spark.sql.shuffle.partitions`) run on a clone so the caller's
    * session is never mutated — `cloneSession` is `private[sql]`, hence
    * this hop. (`newSession()` is public but resets conf to context
    * defaults instead of inheriting the caller's read confs.)
    */
  def cloneSession(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Reliable-checkpoint directory backing a `df.checkpoint(true)` result:
    * the checkpointed Dataset wraps a `LogicalRDD` over the materialized
    * RDD, whose `getCheckpointFile` is the on-disk `rdd-<id>` path. None
    * for local checkpoints (block-store only) or non-checkpoint frames —
    * lets iterative loops delete superseded checkpoint files themselves
    * instead of leaking them until the context dies (Spark only reclaims
    * reliable checkpoints with `cleanCheckpoints=true`, default false).
    */
  def checkpointFile(df: org.apache.spark.sql.DataFrame): Option[String] = {
    val classic = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    classic.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.flatMap(_.getCheckpointFile)
  }

  /** `e` with floating values normalized the way Spark normalizes join
    * keys: `-0.0` becomes `0.0` and every NaN one NaN, nested levels
    * included (`normalize` is `private[sql]`).
    */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** The schema with every level nullable — what Spark's own file reader
    * does to a user-supplied schema (`asNullable` is `private[spark]`).
    */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable
}
