package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for graft's native Catalyst expressions.
  * Spark 4 made the converters `private[sql]`
  * (`classic.ExpressionUtils`), so third-party expressions reach them
  * from a child package of `org.apache.spark.sql` — the established
  * pattern for Catalyst extension libraries. The same package reaches
  * the `private[spark]` listener bus.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Blocks until every posted listener event has been delivered, so a
    * listener's counters are complete for the jobs run so far. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
