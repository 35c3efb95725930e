package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ClassicConversions, Dataset, ExpressionUtils}

/** Spark 4's Column⇄Expression converters and its plan→DataFrame factory
  * are private[sql]; this bridge lives inside the org.apache.spark.sql
  * namespace to re-export the calls our custom Catalyst expressions and
  * the facade need. (Same technique every Spark extension library uses
  * for classic-API interop.) */
object CatalystBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

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

  /** The cache entry `df` reads when it is persisted: one object from
    * `persist()` until `unpersist()`. */
  def cacheEntry(df: DataFrame): Option[AnyRef] =
    df.sparkSession.sharedState.cacheManager
      .lookupCachedData(ClassicConversions.castToImpl(df)).map(_.cachedRepresentation)
}
