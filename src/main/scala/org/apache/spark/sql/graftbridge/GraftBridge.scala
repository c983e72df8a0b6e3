package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark 4's Column ↔ Expression conversions, which are
  * `private[sql]` in the classic API. This is the supported pattern for
  * extension libraries that define custom Catalyst expressions and expose
  * them as Columns.
  */
object GraftBridge {
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)

  /** `df`'s rows under a one-node logical plan: a leaf over the rows its
    * physical plan produces, so a frame persisted on top of it is
    * described by that one node instead of `df`'s whole plan. */
  def planLeaf(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd.map(_.copy()), df.schema)

  /** slice's INVALID_PARAMETER_VALUE.LENGTH, for kernels that fuse a slice. */
  def negativeLengthError(function: String, length: Int): RuntimeException =
    org.apache.spark.sql.errors.QueryExecutionErrors
      .unexpectedValueForLengthInFunctionError(function, length)
}

/** Bridge into Spark's `private[sql]` Arrow machinery (ArrowWriter /
  * ArrowUtils) for the Arrow IPC sink (SURVEY §2.1 S7). Everything here is
  * executor-side and allocates from Spark's own root allocator.
  */
object ArrowBridge {
  import org.apache.arrow.vector.VectorSchemaRoot
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.execution.arrow.ArrowWriter
  import org.apache.spark.sql.types.StructType
  import org.apache.spark.sql.util.ArrowUtils

  /** One partition's rows → Arrow IPC stream on `out`, batched every
    * `batchRows` rows. Returns the row count. */
  def writeIpcStream(rows: Iterator[InternalRow], schema: StructType,
      timeZoneId: String, batchRows: Int,
      out: java.nio.channels.WritableByteChannel): Long = {
    // a non-positive batch size would make the == flush check below
    // unreachable and buffer the WHOLE partition into one Arrow batch
    // (r13 review)
    require(batchRows > 0, s"batchRows=$batchRows (must be positive)")
    val arrowSchema =
      ArrowUtils.toArrowSchema(schema, timeZoneId,
        errorOnDuplicatedFieldNames = true, largeVarTypes = false)
    val allocator =
      ArrowUtils.rootAllocator.newChildAllocator("graft-arrow-sink", 0, Long.MaxValue)
    // the root sits INSIDE the allocator's try scope: if
    // VectorSchemaRoot.create throws mid-allocation (wide schema, memory
    // pressure), the child allocator must still close, or its
    // registration leaks on Spark's shared root allocator for the
    // executor's lifetime and accumulates across task retries (r13
    // review); nested try/finally also keeps allocator.close() reachable
    // when root.close() itself throws
    try {
      val root = VectorSchemaRoot.create(arrowSchema, allocator)
      try {
        val writer = ArrowWriter.create(root)
        val ipc = new org.apache.arrow.vector.ipc.ArrowStreamWriter(root, null, out)
        ipc.start()
        var total = 0L
        var inBatch = 0
        rows.foreach { row =>
          writer.write(row)
          total += 1
          inBatch += 1
          if (inBatch == batchRows) {
            writer.finish(); ipc.writeBatch(); writer.reset(); inBatch = 0
          }
        }
        if (inBatch > 0) { writer.finish(); ipc.writeBatch() }
        ipc.end()
        total
      } finally root.close()
    } finally allocator.close()
  }

  /** The physical-plan row iterator feeding the sink (InternalRow RDD). */
  def toRdd(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.rdd.RDD[InternalRow] =
    df.queryExecution.toRdd
}
