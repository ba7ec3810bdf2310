/** Bridge into Spark's package-private members.
  *
  * Spark 4 moved the classic Column's expression plumbing behind
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`). Custom
  * Catalyst expressions still need to surface as `Column`s; the supported
  * pattern for libraries is a one-file bridge declared inside the
  * `org.apache.spark.sql` package. The run loop ([[graft.Run]]) also
  * needs the `private[spark]` listener bus, to wait until every posted
  * event has reached the listeners. Nothing else in this repo lives
  * outside the `graft` namespace.
  */
package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}

object GraftListenerBus {
  /** Blocks until every posted event has reached every listener (10 s at most). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
