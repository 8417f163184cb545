package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Catalyst Expression bridge.
  *
  * Spark 4 made `Column` a thin wrapper over a connect-compatible
  * `ColumnNode`; the classic-backend conversion helpers live in
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is
  * `private[sql]`. This shim (compiled inside the `org.apache.spark.sql`
  * package tree — our own source, no Spark code copied) re-exports the
  * two conversions so graft's native expressions can participate in the
  * public Column algebra.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a temp SQL function on an EXISTING session (the driver
    * hands us its session, so `SparkSessionExtensions.injectFunction`
    * at build time isn't available — this is the post-hoc equivalent).
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Apply an extensions object's function injections to a live
    * session's registry — the test hook for the
    * `spark.sql.extensions` build path (`registerFunctions` is
    * `private[sql]`, hence surfaced here).
    */
  def applyFunctionInjections(
      ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: org.apache.spark.sql.SparkSession): Unit =
    ext.registerFunctions(spark.sessionState.functionRegistry)

  /** Wrap a custom logical plan as a DataFrame (`Dataset.ofRows` is
    * `private[sql]`).
    */
  def dataset(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Eager `Dataset.localCheckpoint()` (or `checkpoint()` when
    * `durable`) that also returns how many rows its one materializing
    * job wrote. The steps are Spark's own — run the physical plan
    * under a new SQL execution named like the built-in action, copy
    * each row, mark the RDD for a local or reliable checkpoint,
    * `doCheckpoint` it — with an accumulator on the copying map. Spark
    * merges a result task's accumulator updates once per partition and
    * before the job returns, so the count is exact and adds no job and
    * no operator to the plan.
    */
  def checkpoint(
      df: org.apache.spark.sql.DataFrame,
      durable: Boolean): (org.apache.spark.sql.execution.LogicalRDD, Long) = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val qe = ds.queryExecution
    val rows = ds.sparkSession.sparkContext.longAccumulator
    val name = if (durable) "checkpoint" else "localCheckpoint"
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some(name)) {
      qe.executedPlan.resetMetrics()
      val rdd = qe.executedPlan.execute().map { r => rows.add(1L); r.copy() }
      if (durable) rdd.checkpoint() else rdd.localCheckpoint()
      rdd.doCheckpoint()
      (org.apache.spark.sql.execution.LogicalRDD.fromDataset(rdd, ds, ds.isStreaming),
        rows.value.longValue)
    }
  }

  /** Re-state a lineage cut (the `LogicalRDD` that `localCheckpoint()`
    * / `checkpoint()` return) with MEASURED statistics. Spark seeds it
    * with the optimizer's pre-cut estimate (`LogicalRDD.fromDataset`),
    * which for joins and aggregates is off by orders of magnitude; the
    * copy keeps the RDD, output partitioning, ordering and constraints
    * and swaps only the statistics, so the planner's own size rules see
    * the real frame. The session and statistics are `LogicalRDD`
    * constructor arguments with no accessor, hence this shim.
    */
  def withStats(
      cut: org.apache.spark.sql.execution.LogicalRDD,
      spark: org.apache.spark.sql.SparkSession,
      bytes: Long,
      rows: Long): org.apache.spark.sql.DataFrame = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val stats = org.apache.spark.sql.catalyst.plans.logical.Statistics(
      BigInt(bytes), Some(BigInt(rows)))
    dataset(session, cut.copy()(session, Some(stats), Some(cut.constraints)))
  }

  /** Bytes an RDD's persisted blocks hold in executor storage (memory +
    * disk), as the block manager master holds them — one driver-side
    * ask, no job. Executors report a block to the master before its
    * task ends, so the figure is complete once the job that wrote the
    * blocks returns (the status store behind `getRDDStorageInfo` is
    * fed by the listener bus and can lag). The master is
    * `private[spark]`.
    */
  def storedBytes(rdd: org.apache.spark.rdd.RDD[_]): Long =
    org.apache.spark.SparkEnv.get.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks)
      .collect { case (org.apache.spark.storage.RDDBlockId(id, _), s) if id == rdd.id =>
        s.memSize + s.diskSize }
      .sum

  /** `spark.sql.autoBroadcastJoinThreshold` as the planner reads it
    * (bytes; negative = broadcast joins off).
    */
  def broadcastThreshold(spark: org.apache.spark.sql.SparkSession): Long =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold

  /** Idempotently add a planner strategy to a live session — the
    * post-build equivalent of `SparkSessionExtensions.injectPlannerStrategy`.
    */
  def addStrategy(
      spark: org.apache.spark.sql.SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(strategy))
      exp.extraStrategies = exp.extraStrategies :+ strategy
  }
}
