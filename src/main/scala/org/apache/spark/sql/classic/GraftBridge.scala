package org.apache.spark.sql.classic

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's private[sql] Column<->Expression converters so graft's
  * custom Catalyst expressions can be exposed as plain `Column`s. This is the
  * standard extension-library pattern for Spark 4, where `Column` wraps a
  * ColumnNode rather than an Expression.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Drain the async listener bus — so a progress listener's totals can
    * be read deterministically right after an action returns
    * (`listenerBus` is private[spark]; this shim is the sanctioned way
    * for an extension library to reach it).
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The tags `SparkContext.addJobTag` put on a job, read from the
    * job's properties (the property key is private[spark]).
    */
  def jobTags(props: java.util.Properties): Set[String] =
    Option(props)
      .flatMap(p => Option(p.getProperty(org.apache.spark.SparkContext.SPARK_JOB_TAGS)))
      .fold(Set.empty[String])(_.split(org.apache.spark.SparkContext.SPARK_JOB_TAGS_SEP).toSet)
}
