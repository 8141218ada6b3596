package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.types.{DataType, ObjectType}

/** A custom function as a call of its Scala kernel: one JVM method that
  * whole-stage codegen calls directly and interpreted evaluation calls
  * reflectively, so each algorithm exists once.
  *
  * A null argument yields null without calling the kernel, and the call is
  * null-intolerant, so the optimizer still infers `isnotnull` on its input.
  * `returnNullable` marks kernels that may return null on non-null input
  * (a regex miss, a dim-key miss). Constant parameters pass as `lit(..)`
  * arguments, which codegen inlines.
  */
private[functions] object Kernel {

  /** `obj.fn(args)`: a stateless kernel on a Scala object, called through
    * the object's static forwarder.
    */
  def static(obj: AnyRef, fn: String, dataType: DataType, args: Seq[Column],
             returnNullable: Boolean = false): Column =
    GraftBridge.column(StaticInvoke(obj.getClass, dataType, fn,
      args.map(GraftBridge.expression), returnNullable = returnNullable))

  /** `state.fn(args)`: a kernel over constant state (a table, a compiled
    * pattern), which reaches the plan as a literal. The state must compare
    * by value, so that two constructions of one query canonicalize equal,
    * and print a short `toString`, which is what the plan text shows.
    */
  def invoke(state: AnyRef, fn: String, dataType: DataType, args: Seq[Column],
             returnNullable: Boolean = false): Column =
    GraftBridge.column(Invoke(
      Literal.fromObject(state, ObjectType(state.getClass)), fn, dataType,
      args.map(GraftBridge.expression), returnNullable = returnNullable))
}
