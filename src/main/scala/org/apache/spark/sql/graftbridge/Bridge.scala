package org.apache.spark.sql.graftbridge

import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, Executors}
import scala.jdk.CollectionConverters._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Column <-> Expression bridge. Spark 4 made `Column` wrap a ColumnNode and
  * the conversion helpers `private[sql]`, so libraries adding native
  * Catalyst expressions use a bridge object inside the org.apache.spark.sql
  * package — the established pattern for Spark extension libraries. The
  * same holds for building a DataFrame straight from a logical plan.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a SQL function on an ALREADY-BUILT session — the
    * `spark.sql.extensions` conf only applies at session construction, and
    * `sessionState` is `private[sql]`, so post-hoc registration (notebooks,
    * shared sessions) needs this bridge too.
    */
  def registerFunction(spark: SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(ident, info, builder)

  /** A DataFrame over `rows` (InternalRows laid out as `schema`) whose plan
    * reports `stats` = (sizeInBytes, rowCount) when given. Without it the
    * LogicalRDD that `createDataFrame(rdd)` builds estimates
    * `spark.sql.defaultSizeInBytes` (8 EiB), so no join against it can be
    * planned as a broadcast. The InternalRows skip the Row encoder.
    */
  def internalRowFrame(spark: SparkSession, schema: StructType, rows: RDD[InternalRow],
      stats: Option[(BigInt, BigInt)] = None): DataFrame = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    Dataset.ofRows(s, LogicalRDD(DataTypeUtils.toAttributes(schema), rows)(s,
      stats.map { case (bytes, n) => Statistics(bytes, Some(n)) }))
  }

  /** `df` materialized for reuse: the one way an operator reads an
    * intermediate twice. It is planned as Spark's lazy local checkpoint
    * plans it (a LogicalRDD keeping `df`'s attributes, partitioning,
    * ordering and statistics; with AQE, `df`'s shuffle stages run here and
    * the first action fills the blocks), but the rows are persisted
    * MEMORY_AND_DISK with their lineage: a lost block is recomputed, where
    * a local checkpoint's fails every later action. Unlike
    * `Dataset.persist` it makes no CacheManager entry, which a caller of a
    * lazy frame could never release; the ContextCleaner frees the blocks
    * with the frame. The price is one stored copy of the rows meanwhile.
    */
  def reused(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    val qe = ds.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("reused")) {
      qe.executedPlan.resetMetrics()
      qe.executedPlan.execute().map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
    }
    Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rows, ds, ds.isStreaming))
  }

  /** Run `jobs` at once, one daemon thread each: the one way to submit
    * concurrent Spark jobs. Each thread carries the caller's active session
    * and local properties (job group, description, scheduler pool) through
    * `SQLExecution.withThreadLocalCaptured`, so listeners attribute its jobs
    * as if the caller ran them. It waits for every job; if any fail, it then
    * throws the failure of the first failing job in `jobs` order, with the
    * others suppressed on it. No thread outlives the call.
    */
  def concurrently(spark: SparkSession)(jobs: Seq[() => Unit]): Unit = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val threads = new ConcurrentLinkedQueue[Thread]()
    val pool = Executors.newFixedThreadPool(math.max(1, jobs.size), (r: Runnable) => {
      val t = new Thread(r, s"graft-concurrent-${threads.size}")
      t.setDaemon(true)
      threads.add(t)
      t
    })
    try {
      val futures = jobs.map(j => SQLExecution.withThreadLocalCaptured(s, pool)(j()))
      val failures = futures.flatMap { f =>
        try { f.get(); None } catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      }
    } finally {
      pool.shutdownNow()
      threads.asScala.foreach(_.join())
    }
  }
}
