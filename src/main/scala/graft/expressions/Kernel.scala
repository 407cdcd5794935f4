package graft.expressions

import graft.GraftExtensions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/**
 * The one Catalyst node behind every pass-through `graft_*` kernel: a SQL
 * function whose whole per-row work is one call into a Scala row method
 * (`argminRow`, `adcRow`, `survivorsRow`, …). What differs per kernel —
 * input-type check, result type, row function — is the entry of
 * [[graft.GraftExtensions.table]] named `name`.
 *
 *  - Identity: equality and hashing are (name, children, model). The row
 *    function is rebuilt from those values wherever the node lands and is
 *    never a constructor field, so canonicalisation, CSE and exchange
 *    reuse compare exactly the values that define the computation.
 *  - Nulls: a NULL in any child gives NULL without calling the row
 *    function; the row function itself may return NULL only for entries
 *    marked `nullable` (graft_adc, graft_adc_dyn, graft_residual;
 *    graft_adc_table NULLs table entries, never the whole table).
 *  - Codegen: one call per row into the row function, referenced once per
 *    generated class through `addReferenceObj` — a `scala.FunctionN` over
 *    the N children's values. The row loops themselves JIT; the fused
 *    stage only grows by a method call per kernel.
 */
case class Kernel(name: String, children: Seq[Expression], model: Seq[Any]) extends Expression {

  @transient private lazy val spec: GraftExtensions.Kern = GraftExtensions.kernels(name)

  /** The row function: a `FunctionN` over the N children's non-NULL values. */
  @transient lazy val fn: AnyRef = spec.row(model, children.map(_.dataType))

  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] = (children ++ model).iterator
  override def dataType: DataType = spec.result
  override def nullable: Boolean = spec.nullable || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)

  override def checkInputDataTypes(): TypeCheckResult =
    spec.check(children.map(_.dataType)) match {
      case Some(msg) => TypeCheckResult.TypeCheckFailure(s"$name $msg")
      // the row function's model invariants (a table that does not
      // divide into ksub rows, …) are checked when it is built
      case None =>
        try { fn; TypeCheckResult.TypeCheckSuccess }
        catch { case e: IllegalArgumentException => TypeCheckResult.TypeCheckFailure(e.getMessage) }
    }

  override def eval(input: InternalRow): Any = {
    val a = children.head.eval(input)
    if (a == null) null
    else fn match {
      case f: Function1[_, _] => f.asInstanceOf[Any => Any](a)
      case f: Function2[_, _, _] =>
        val b = children(1).eval(input)
        if (b == null) null else f.asInstanceOf[(Any, Any) => Any](a, b)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref   = ctx.addReferenceObj(name, fn, s"scala.Function${children.size}")
    val evals = children.map(_.genCode(ctx))
    val boxed = CodeGenerator.boxedType(dataType)
    val res   = ctx.freshName("res")
    val call  = s"$boxed $res = ($boxed) $ref.apply(${evals.map(_.value).mkString(", ")});"
    val store =
      if (spec.nullable) s"if ($res != null) { ${ev.isNull} = false; ${ev.value} = $res; }"
      else if (nullable) s"${ev.isNull} = false; ${ev.value} = $res;"
      else s"${ev.value} = $res;"
    // each child is evaluated only once every child before it is non-NULL
    val body = children.zip(evals).foldRight(s"$call\n$store") { case ((c, e), inner) =>
      s"${e.code}\n${ctx.nullSafeExec(c.nullable, e.isNull.toString)(inner)}"
    }
    val decl = s"${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};"
    if (nullable) ev.copy(code = code"boolean ${ev.isNull} = true;\n$decl\n$body")
    else ev.copy(code = code"$decl\n$body", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}
