package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Narrow bridge to the `private[sql]` Column↔Expression converters —
  * Spark 4 wraps Column around ColumnNode, so third-party Catalyst
  * expressions need this hop to surface as user-facing Columns.
  * (Same technique spark-avro and other first-party connectors use from
  * inside the sql package.)
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Cheap data fingerprint over a plan's file-backed leaves, for
  * staleness-safe memo keys (graft.util.Caches.PlanMemo): a
  * canonicalized file-scan plan is just the path, so a parquet dir
  * REWRITTEN mid-session would silently serve a stale memoized model.
  * The fingerprint folds every leaf's cached file listing (paths —
  * Spark writers embed a fresh job UUID in part-file names, so any
  * rewrite changes them) plus total size; it reads the FileIndex's
  * already-materialized listing, no filesystem round-trip. Non-file
  * leaves (in-memory locals, streaming sources) contribute nothing —
  * for those the canonicalized plan already IS the identity. */
object FingerprintBridge {
  def dataFingerprint(df: org.apache.spark.sql.DataFrame): Long = {
    var h = 1125899906842597L
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources
              .HadoopFsRelation =>
            val files = fs.location.inputFiles
            java.util.Arrays.sort(files,
              java.util.Comparator.naturalOrder[String]())
            files.foreach(f => h = h * 31 + f.hashCode)
            h = h * 31 + fs.location.sizeInBytes
          case _ =>
        }
      case _ =>
    }
    h
  }
}

/** Same bridge, one level up: build a DataFrame from a raw
  * LogicalPlan (for custom operators like graft.plans.TopKPerKey) and
  * read a DataFrame's analyzed plan back. */
object PlanBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed
}

/** Batch-mode `transformWithState` loads its (ephemeral) RocksDB state
  * store through the driver's StateStoreCoordinator RPC endpoint —
  * which only STREAMING query startup registers. A batch query that
  * runs first in a fresh session would die with
  * RpcEndpointNotFoundException, so the StateKernel fold ensures the
  * endpoint exists up front. `forDriver` is create-or-lookup
  * (idempotent), same call the StreamingQueryManager makes. */
object StateStoreBridge {
  def ensureCoordinator(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStoreCoordinatorRef
      .forDriver(org.apache.spark.SparkEnv.get, spark.sessionState.conf)
}

/** Waits until every listener has seen every event posted so far
  * (`private[spark]`; throws TimeoutException past Spark's default). */
object ListenerBridge {
  def drain(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}

/** The exception `raise_error(msg)` throws (`private[sql]` factory), so
  * a custom expression that guards its input fails a query exactly as
  * a `raise_error` guard in the plan would. */
object ErrorBridge {
  def raise(msg: String): RuntimeException = {
    import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
    import org.apache.spark.unsafe.types.UTF8String.fromString
    org.apache.spark.sql.errors.QueryExecutionErrors.raiseError(
      fromString("USER_RAISED_EXCEPTION"),
      new ArrayBasedMapData(
        new GenericArrayData(Array[Any](fromString("errorMessage"))),
        new GenericArrayData(Array[Any](fromString(msg)))))
  }
}
