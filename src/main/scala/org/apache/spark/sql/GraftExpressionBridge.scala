package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column <-> Expression conversions of
  * Spark 4 (classic.ExpressionUtils), used by graft's native Catalyst
  * expressions. Lives in the org.apache.spark.sql package scope for
  * access; contains no logic. */
object GraftExpressionBridge {
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)

  /** DataFrame from an RDD[InternalRow] WITHOUT the GenericRow round-trip:
    * `spark.createDataFrame(RDD[Row])` deserializes every row to boxed
    * JVM objects and re-encodes them — on a full-corpus pass (GlobalIndex)
    * that is a 2-5x constant-factor tax. `internalCreateDataFrame` mounts
    * the UnsafeRow RDD directly as a LogicalRDD, keeping the pass on the
    * Tungsten binary format end to end (the `private[sql]` API localCheckpoint
    * itself uses). Rows fed in MUST be UnsafeRows matching `schema`. */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** DataFrame over rows `plan` has already computed, whose logical plan
    * declares `plan`'s partitioning and ordering, so the planner drops the
    * exchange and the sort that a consumer's repartition, window or
    * sort-within-partitions would repeat. `rdd` MUST hold `plan`'s output
    * rows in `plan`'s partitions (same count, same order); `stats` are
    * the size estimates joins plan with. The one `LogicalRDD` built in the
    * engine. */
  def laidOut(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      plan: org.apache.spark.sql.execution.SparkPlan,
      stats: org.apache.spark.sql.catalyst.plans.logical.Statistics): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(session, org.apache.spark.sql.execution.LogicalRDD(
      plan.output, rdd, plan.outputPartitioning, plan.outputOrdering)(session, Some(stats)))
  }

  /** The session's UUID (`private[sql]` in Spark 4.1): unique per live
    * session, where `identityHashCode` may repeat. */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

  /** Leaf attribute name of a (possibly qualified / sort-directed) column:
    * `col("k")`, `df("k")`, `col("t.k")`, `col("k").asc` all yield "k" —
    * used by stringly-typed preconditions (GlobalIndex range_excl) so a
    * resolved or direction-wrapped column is not false-rejected (ADVICE
    * r12). Non-attribute shapes yield None (callers fail loud). */
  def leafAttrName(c: Column): Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, SortOrder => CatSortOrder}
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute => CatAttr}
    def fromExpr(e: Expression): Option[String] = e match {
      case s: CatSortOrder => fromExpr(s.child)
      case a: AttributeReference => Some(a.name)
      case u: CatAttr => u.nameParts.lastOption
      case _ => None
    }
    def fromNode(n: internal.ColumnNode): Option[String] = n match {
      case s: internal.SortOrder => fromNode(s.child)
      case u: internal.UnresolvedAttribute => u.nameParts.lastOption
      case e: classic.ExpressionColumnNode => fromExpr(e.expression)
      case _ => None
    }
    fromNode(c.node)
  }

  /** True iff the column is wrapped in a DESCENDING sort order. Used by
    * GlobalIndex.range_excl's precondition: the direction-insensitive
    * leafAttrName (above) would otherwise silently ADMIT `col("k").desc`,
    * whose two dispatch paths disagree (the plain-window branch hardcodes
    * an ascending RANGE frame while repartitionByRange would honor the
    * descending order) — desc must be rejected loud, as the pre-r13
    * toString compare did by accident. */
  def isDescendingSort(c: Column): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Descending, SortOrder => CatSortOrder}
    def fromExpr(e: Expression): Boolean = e match {
      case s: CatSortOrder => s.direction == Descending
      case _ => false
    }
    c.node match {
      case s: internal.SortOrder => s.sortDirection == internal.SortOrder.Descending
      case e: classic.ExpressionColumnNode => fromExpr(e.expression)
      case _ => false
    }
  }

  /** Drain the async scheduler listener bus. Scheduler-level audits
    * (bayes100's per-sweep transport bounds) aggregate task metrics in a
    * SparkListener and read them AFTER the action returns — without a
    * drain the last tasks' events may not have posted yet. The bus is
    * `private[spark]`, hence bridged here. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
