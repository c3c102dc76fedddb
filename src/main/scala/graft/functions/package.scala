package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.DataType

package object functions {

  /** The one way a row kernel enters Catalyst: Spark's `StaticInvoke`
    * of the static method `method` on Scala object `obj`. Whole-stage
    * codegen emits one direct call per row; the interpreted path calls
    * the same method by reflection. A null argument yields null without
    * a call; `returnNullable` declares that the method itself may return
    * null. Scalar parameters are passed as literal columns. */
  private[functions] def staticCall(obj: AnyRef, dataType: DataType,
      method: String, args: Seq[Column],
      returnNullable: Boolean = false): Column =
    Bridge.column(StaticInvoke(obj.getClass, dataType, method,
      args.map(Bridge.expression), returnNullable = returnNullable))
}
