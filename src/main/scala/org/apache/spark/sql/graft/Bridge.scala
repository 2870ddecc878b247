package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made these conversions
  * `private[sql]` (columnNodeSupport.scala); libraries adding native
  * Catalyst expressions conventionally expose them via an object inside
  * the `org.apache.spark.sql` package namespace. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Drain the listener bus (private[spark]) — lets Bench read task
    * metrics deterministically after a sequential query finishes. */
  def drainListenerBus(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** `Dataset.ofRows` (private[sql]) — lets graft operators hand a
    * custom LogicalPlan (e.g. `AsofJoinNode`) back to the session. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame (classic-mode accessor). */
  def analyzed(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.analyzed

  /** `localCheckpoint` WITHOUT origin-stats propagation.
    *
    * Spark 4's `Dataset.localCheckpoint` wraps the materialized RDD in
    * a `LogicalRDD` that KEEPS the origin plan's statistics. For an
    * iterative dataflow whose round contains a self-join (connected
    * components' pointer jump), the size-in-bytes estimate then grows
    * as S_{k+1} ≈ S_k³ — after ~20 rounds the estimate is a BigInt
    * with millions of digits and Catalyst's stats visitor spends
    * MINUTES per round inside BigInteger.multiply (observed on a
    * diameter-3M path graph: the driver, not the cluster, became the
    * bottleneck). Rewrapping the same checkpointed RDD in a LogicalRDD
    * with `originStats = None` resets every round's estimate to the
    * session default — constant-size stats, identical results, and the
    * broadcast decisions inside the loop don't WANT origin stats
    * anyway (label frames are never broadcastable at scale).
    *
    * VERSION PIN (Spark 4.1.x): this leans on three internal shapes —
    * the `classic.Dataset` cast, `LogicalRDD.fromDataset(rdd, ds,
    * isStreaming)`, and the curried `copy()(session, originStats,
    * originConstraints)` whose two `None`s are exactly the stats-drop
    * this method exists for. A Spark upgrade that changes any of them
    * fails COMPILATION here (good — loud), but if `copy`'s signature
    * gains parameters with defaults it could silently stop dropping
    * stats: BridgeStatsSpec pins the behavior (estimate stays at the
    * session default through self-join rounds, vs the cubing plain
    * localCheckpoint baseline), so a silent regression fails CI.
    */
  def freshLocalCheckpoint(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    checkpointInto(ds, ds.sparkSession)
  }

  /** [[freshLocalCheckpoint]] of `df` hash-partitioned on `key` into
    * `parts` partitions and sorted within them, compiled with AQE off
    * so the checkpoint's LogicalRDD carries that HashPartitioning and
    * ordering (AQE's plan hides both). Compiles in a private clone of
    * `df`'s session and hands the checkpoint back to `df`'s session,
    * whose conf is never written. */
  def freshLocalCheckpoint(df: org.apache.spark.sql.DataFrame, key: String,
      parts: Int): org.apache.spark.sql.DataFrame = {
    val laidOut = df.repartition(parts, org.apache.spark.sql.functions.col(key))
      .sortWithinPartitions(key)
    val caller = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val clone = caller.cloneSession()
    clone.sessionState.conf.setConf(
      org.apache.spark.sql.internal.SQLConf.ADAPTIVE_EXECUTION_ENABLED, false)
    checkpointInto(org.apache.spark.sql.classic.Dataset.ofRows(clone, analyzed(laidOut)), caller)
  }

  private def checkpointInto(ds: org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row],
      spark: org.apache.spark.sql.classic.SparkSession): org.apache.spark.sql.DataFrame = {
    val rdd = ds.queryExecution.toRdd.map(_.copy()).localCheckpoint()
    // fromDataset keeps outputPartitioning/ordering (so a frame
    // pre-partitioned on its join key re-enters the next round with
    // ZERO exchange); the copy then drops originStats/originConstraints
    // — partitioning is cheap metadata, stats are the poison
    val withStats = org.apache.spark.sql.execution.LogicalRDD
      .fromDataset(rdd, ds, isStreaming = false)
    org.apache.spark.sql.classic.Dataset.ofRows(spark,
      withStats.copy()(spark, None, None))
  }

  /** Eager stats-dropping localCheckpoint ([[freshLocalCheckpoint]])
    * that ALSO returns, from the SAME materialization job, the row
    * count and — when `flagCol` names a boolean column — the number of
    * rows where that column is true (a LongAccumulator riding the
    * checkpoint). One job where checkpoint-then-probe would pay two:
    * the iterative-loop convergence probe (`filter(changed).isEmpty`)
    * and the "materialize and size it" pre-pass both collapse into the
    * materialization every consumer needs anyway. Accumulator caveat
    * (same as [[localCheckpointCountingOver]]): a retried task can
    * OVERcount the flag — for a convergence probe that can only add a
    * (results-identical) extra round, never stop a loop early. */
  def freshLocalCheckpointCounted(df: org.apache.spark.sql.DataFrame,
      flagCol: Option[String] = None): (org.apache.spark.sql.DataFrame, Long, Long) = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val spark = ds.sparkSession
    val rdd0 = ds.queryExecution.toRdd
    val acc = flagCol.map(c => spark.sparkContext.longAccumulator(s"graft.flag.$c"))
    val rdd = flagCol match {
      case Some(c) =>
        val idx = df.schema.fieldIndex(c)
        val a = acc.get
        rdd0.mapPartitions { it =>
          it.map { r =>
            if (!r.isNullAt(idx) && r.getBoolean(idx)) a.add(1L)
            r.copy()
          }
        }.localCheckpoint()
      case None => rdd0.map(_.copy()).localCheckpoint()
    }
    val n = rdd.count()
    val withStats = org.apache.spark.sql.execution.LogicalRDD
      .fromDataset(rdd, ds, isStreaming = false)
    (org.apache.spark.sql.classic.Dataset.ofRows(spark,
      withStats.copy()(spark, None, None)), n, acc.map(_.value.longValue()).getOrElse(0L))
  }

  /** Eager `localCheckpoint` that ALSO counts, inside the same
    * materialization job, the rows whose int column `colName` exceeds
    * `cap` — a LongAccumulator riding the checkpoint instead of a
    * separate probe action over the frame. A caller that needs both
    * "materialize this once for N consumers" and "how many rows
    * exceed the cap" (the candidate-cap drop probes) pays exactly ONE
    * job; when the cap cannot bind, the probe costs nothing beyond
    * the materialization every consumer reads anyway. The count is
    * exact on a clean run; a retried task can overcount (Spark's
    * at-least-once transformation-accumulator semantics) — callers
    * use it for logging, where an overcount is harmless. */
  def localCheckpointCountingOver(df: org.apache.spark.sql.DataFrame,
      colName: String, cap: Int): (org.apache.spark.sql.DataFrame, Long) = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val spark = ds.sparkSession
    val idx = df.schema.fieldIndex(colName)
    val acc = spark.sparkContext.longAccumulator(s"graft.over_cap.$colName")
    val rdd = ds.queryExecution.toRdd.mapPartitions { it =>
      it.map { r => if (r.getInt(idx) > cap) acc.add(1L); r.copy() }
    }.localCheckpoint()
    rdd.count()
    val withStats = org.apache.spark.sql.execution.LogicalRDD
      .fromDataset(rdd, ds, isStreaming = false)
    (org.apache.spark.sql.classic.Dataset.ofRows(spark, withStats), acc.value)
  }
}
