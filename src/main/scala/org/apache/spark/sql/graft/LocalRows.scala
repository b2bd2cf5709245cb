package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, RowOrdering, Unevaluable, UnsafeProjection}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Rows held on the driver as a `LocalRelation`, so that Catalyst's
  * `ConvertToLocalRelation` answers filter, project and limit over them
  * without a Spark job. Columns are nullable, as in a parquet read.
  *
  * (Lives under `org.apache.spark.sql` because `Dataset.ofRows` is
  * `private[sql]`.)
  */
object LocalRows {
  /** Sorts a `LocalRelation` on the driver, as `ConvertToLocalRelation`
    * filters it. Without this a sorted query over held rows whose limit
    * Catalyst dropped (the filtered rows already fit it) plans a
    * range-partitioned sort: three jobs, where a parquet scan took one.
    */
  object SortLocalRelation extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case Sort(order, true, r: LocalRelation, _) if !r.isStreaming && order.forall(o =>
          o.child.deterministic && !o.child.exists {
            case _: AttributeReference => false
            case e => e.isInstanceOf[Unevaluable]
          }) =>
        r.copy(data = r.data.sorted(RowOrdering.create(order, r.output)))
    }
  }

  /** Adds the sort fold to the session's optimizer once, followed by
    * `ConvertToLocalRelation` again so a limit over the sorted rows folds.
    */
  def install(spark: SparkSession): Unit = synchronized {
    val rules = spark.experimental.extraOptimizations
    if (!rules.contains(SortLocalRelation))
      spark.experimental.extraOptimizations = rules ++ Seq(SortLocalRelation, ConvertToLocalRelation)
  }

  def plan(schema: StructType, rows: Seq[InternalRow]): LogicalPlan =
    LocalRelation(DataTypeUtils.toAttributes(schema.asNullable), rows)

  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** External rows of `schema` to compact `UnsafeRow`s (not thread-safe). */
  def encoder(schema: StructType): Row => InternalRow = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val toUnsafe = UnsafeProjection.create(schema.asNullable)
    r => toUnsafe(toCatalyst(r).asInstanceOf[InternalRow]).copy()
  }

  /** Runs `df` once; its rows as the `UnsafeRow`s the physical plan made. */
  def collect(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** Estimated size within `spark.sql.autoBroadcastJoinThreshold` (never when it is -1). */
  def fitsDriver(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes <=
      df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
}
