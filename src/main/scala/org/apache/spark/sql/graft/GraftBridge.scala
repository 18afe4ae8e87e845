package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 hides the classic conversion behind
  * `private[sql]` ([[ExpressionUtils]]). The library's Scala helpers build
  * every graft expression directly through it — so they need no function
  * registration on the session, and an expression carrying a runtime
  * object a literal cannot express (a `Broadcast` handle — see
  * [[graft.functions.BroadcastL2DistSqExpr]]) is built the same way. The
  * registered-function route ([[graft.functions.GraftFunctions]]) remains
  * for SQL-text callers. This shim is the single place the library reaches
  * through the package-private seam, so a Spark upgrade that moves the
  * conversion breaks one file. The probe census's listener-bus access
  * (`private[spark]` too) goes through here for the same reason. */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Blocks until the listener bus has delivered every event posted so far. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Listeners currently attached to `sc`'s bus. */
  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
