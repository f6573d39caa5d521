package graft.functions.expressions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.DataType

/** `child`'s value in a broadcast driver-built map of Catalyst values,
  * NULL when absent: a map-side lookup against a bounded key set. Unlike
  * a join with a driver-built frame, it runs no broadcast job in the
  * queries that read it. */
private[graft] case class BroadcastLookup(child: Expression, bc: Broadcast[java.util.HashMap[Any, Any]], dataType: DataType)
    extends UnaryExpression with CodegenFallback {

  @transient private lazy val table = bc.value

  override def nullable: Boolean = true
  override def prettyName: String = "graft_broadcast_lookup"

  override protected def nullSafeEval(input: Any): Any = table.get(input)

  override protected def withNewChildInternal(newChild: Expression): BroadcastLookup =
    copy(child = newChild)
}
