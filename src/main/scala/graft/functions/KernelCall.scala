package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.types.{ArrayType, DoubleType, ObjectType}

/** The one binding from a custom scalar expression to its kernel call.
  *
  * An expression states its call once, as [[static]] (a method of a Scala
  * object) or [[invoke]] (a method of a held object: a bank, broadcast
  * rules), over its children and constant arguments (codebooks,
  * centroids, an agent string ride as [[const]]s).
  * Both evaluation paths run that call: `doGenCode` emits it as a direct
  * Java call (`Impl.canonicalizeUrl(v)`, `bank.mightContain(b, k)`) inside
  * whole-stage codegen, and `eval` runs it through Spark's own
  * `StaticInvoke`/`Invoke` (reflection — constant folding, local relations,
  * the codegen fallback). There is no second hand-written copy of the call
  * and no Java string to keep in step with it.
  *
  * The expression itself stays a real plan node: its class, `prettyName`
  * and `nullIntolerant` are its own, so plans, `registerAll` and plan
  * matchers see it, not the call. A null argument gives null; a kernel
  * that may also return null declares `nullable`, and the call takes that
  * as its `returnNullable`.
  */
trait KernelCall extends Expression {

  /** This expression's kernel call, built with [[static]] or [[invoke]]. */
  protected def call: Expression

  @transient private lazy val bound: Expression = call

  override def eval(input: InternalRow): Any = bound.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    bound.genCode(ctx)

  /** `obj.fn(args…)` for a Scala `object` (its static forwarders). */
  protected def static(obj: AnyRef, fn: String, args: Expression*): Expression =
    StaticInvoke(obj.getClass, dataType, fn, args,
      propagateNull = true, returnNullable = nullable)

  /** `target.fn(args…)` on a held object: a [[const]] or a [[broadcastValue]]. */
  protected def invoke(target: Expression, fn: String, args: Expression*): Expression =
    Invoke(target, fn, dataType, args, propagateNull = true, returnNullable = nullable)

  /** The value of a broadcast, read by the task that runs the call. */
  protected def broadcastValue(bc: Broadcast[_], cls: Class[_]): Expression =
    Invoke(Literal(bc, ObjectType(classOf[Broadcast[_]])), "value", ObjectType(cls))

  /** A constant argument the kernel takes as a plain JVM object (a bank,
    * a `String`, a coefficient table); generated code reads it from the
    * stage's references.
    */
  protected def const(v: AnyRef): Expression = Literal(v, ObjectType(v.getClass))

  /** Whether an ARRAY<FLOAT|DOUBLE> argument holds doubles. */
  protected def elemIsDouble(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  /** A string argument as `java.lang.String`, for kernels over `String`. */
  protected def str(e: Expression): Expression =
    Invoke(e, "toString", ObjectType(classOf[String]), Nil)
}
