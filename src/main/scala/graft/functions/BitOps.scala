package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.ShiftRightUnsigned

/** Column-shift-amount bit op (the public Scala functions API only accepts
  * Int shift amounts; Catalyst's expressions take arbitrary columns, which
  * higher-order-function lambdas need — e.g. per-bit SimHash extraction).
  */
object BitOps {
  def shiftRU(c: Column, n: Column): Column =
    GraftBridge.column(ShiftRightUnsigned(GraftBridge.expression(c), GraftBridge.expression(n)))
}
