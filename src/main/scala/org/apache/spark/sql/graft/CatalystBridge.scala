package org.apache.spark.sql.graft

import java.util.concurrent.{CompletableFuture, ExecutorService}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, QueryPlanningTracker}
import org.apache.spark.sql.catalyst.expressions.{Attribute, CodegenObjectFactoryMode, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.classic.{ClassicConversions, Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.internal.SQLConf

/** Spark 4's Column⇄Expression converters and its plan→DataFrame factory
  * are private[sql]; this bridge lives inside the org.apache.spark.sql
  * namespace to re-export the calls our custom Catalyst expressions and
  * the facade need. (Same technique every Spark extension library uses
  * for classic-API interop.) */
object CatalystBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `f` applied to `args` as the session converts it for a plan. */
  def call(spark: SparkSession, f: UserDefinedFunction, args: Seq[Expression]): Expression =
    ClassicConversions.castToImpl(spark).expression(f(args.map(column): _*))

  /** What `spark.sql(sqlText)` gives, with `rewrite` applied to the
    * parsed plan before analysis. */
  def sql(spark: SparkSession, sqlText: String)(rewrite: LogicalPlan => LogicalPlan): DataFrame = {
    val session = ClassicConversions.castToImpl(spark)
    session.withActive {
      val tracker = new QueryPlanningTracker
      val parsed = tracker.measurePhase(QueryPlanningTracker.PARSING)(
        session.sessionState.sqlParser.parsePlan(sqlText))
      Dataset.ofRows(session, rewrite(parsed), tracker)
    }
  }

  /** A DataFrame over `rows`, laid out as `output`, with its physical
    * rows prepared: collecting it runs no Spark job and compiles nothing.
    * The scan's one row projection runs interpreted, here: compiling it
    * would cost a compile per output schema for a small local result. */
  def local(spark: SparkSession, output: Seq[Attribute], rows: Seq[InternalRow]): DataFrame = {
    val session = ClassicConversions.castToImpl(spark)
    val df = Dataset.ofRows(session, LocalRelation(output, rows))
    val conf = session.sessionState.conf.clone()
    conf.setConf(SQLConf.CODEGEN_FACTORY_MODE, CodegenObjectFactoryMode.NO_CODEGEN)
    SQLConf.withExistingConf(conf)(df.queryExecution.executedPlan.executeCollect())
    df
  }

  /** The cache entry `df` reads when it is persisted: one object from
    * `persist()` until `unpersist()`. */
  def cacheEntry(df: DataFrame): Option[AnyRef] =
    df.sparkSession.sharedState.cacheManager
      .lookupCachedData(ClassicConversions.castToImpl(df)).map(_.cachedRepresentation)

  /** `body` run on `pool` as if on the calling thread: the caller's
    * local properties (job group, job tags, any property a listener
    * reads) and active session carry over to every job it starts.
    * Spark's own capture for work it submits from other threads. */
  def async[T](spark: SparkSession, pool: ExecutorService)(body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(ClassicConversions.castToImpl(spark), pool)(body)
}
