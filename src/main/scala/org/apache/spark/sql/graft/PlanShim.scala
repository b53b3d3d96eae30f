package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Bridge for graft code that analyzes SQL in a copy of a session and
  * turns a resolved logical plan back into a DataFrame. Spark 4 gates
  * these calls as private[sql]; this shim lives in the sql package solely
  * to re-export them.
  */
object PlanShim {
  /** A session with the same SQL conf, temp views and functions, whose
    * own temp views do not reach `spark`. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** The analyzed plan of `sqlText`; unlike `spark.sql`, a command is
    * analyzed, never run. */
  def analyze(spark: SparkSession, sqlText: String): LogicalPlan = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    state.executePlan(state.sqlParser.parsePlan(sqlText)).analyzed
  }

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
