package graft.expressions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._

/** True when `child` is null or not in `keys`: the membership test a
  * delta read applies to every base row.
  *
  * The set travels as a broadcast variable, fetched once per executor,
  * so a plan that filters by thousands of keys ships a handle, not the
  * keys, with every task, and prints as `key NOT IN <n keys>`, not the
  * list. The filter adds no exchange and no join. `keys` holds
  * Catalyst's internal values of `child`'s type (UTF8String for
  * strings, boxed primitives for numbers).
  */
case class NotInKeySet(child: Expression, keys: Broadcast[java.util.Set[Any]], size: Int)
  extends UnaryExpression with Predicate {

  override def nullable: Boolean = false
  override def toString: String = s"$child NOT IN <$size keys>"
  override def sql: String = s"(${child.sql} NOT IN <$size keys>)"

  override def eval(input: InternalRow): Any = {
    val k = child.eval(input)
    k == null || !keys.value.contains(k)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("keys", keys, classOf[Broadcast[_]].getName)
    val set = ctx.addMutableState("java.util.Set", "keySet", v => s"$v = (java.util.Set) $ref.value();")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.value} = ${c.isNull} || !$set.contains(${c.value});""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): NotInKeySet = copy(child = newChild)
}
