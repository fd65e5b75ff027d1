package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the `private[sql]` Dataset constructor — how every
  * out-of-tree Spark extension turns a custom logical plan back into a
  * user-facing DataFrame. */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The session's name resolver (case-insensitive under the default
    * spark.sql.caseSensitive=false) — custom DSLs should resolve
    * column names exactly like the analyzer does. */
  def resolver(spark: SparkSession): (String, String) => Boolean =
    spark.asInstanceOf[classic.SparkSession]
      .sessionState.conf.resolver

  /** Self-join attribute dedup for CUSTOM binary nodes: the analyzer's
    * `DeduplicateRelations` only rewrites node shapes it knows, so a
    * custom operator whose two children share lineage (both derived
    * from one scan → same exprIds) must dedup before composing. Wrap
    * the children in a throwaway standard Join, run the real rule, and
    * hand back the rewritten right side. */
  def dedupRight(left: LogicalPlan, right: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}
    if (right.outputSet.intersect(left.outputSet).isEmpty) right
    else catalyst.analysis.DeduplicateRelations(
      Join(left, right, Inner, None, JoinHint.NONE))
      .asInstanceOf[Join].right
  }
}
