package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, BoundReference,
  Expression, JoinedRow, LambdaFunction, NamedLambdaVariable, SpecificInternalRow,
  UnaryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DataType

/** `transform(array, x => body)` with the body compiled. Spark evaluates
  * a lambda body interpreted, element by element, with no common
  * subexpression elimination: `load`'s per-sample QC fold over a
  * 10k-record × 8-sample VCF took ~10 s that way (4-core host,
  * `local[2]`), against ~0.6 s for the rest of the parse, and ~0.4 s
  * compiled. This wraps the resolved `ArrayTransform`
  * and, on its first row, compiles the body into a generated projection
  * (with subexpression elimination) over the outer row joined with the
  * element, so outer columns the body reads stay where the plan bound
  * them. Same semantics as `transform`; any other shape of the child
  * (e.g. folded to a literal) is evaluated as is. */
case class CompiledTransform(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "compiled_transform"

  @transient private lazy val parts = child match {
    case ArrayTransform(arg, LambdaFunction(body, Seq(x: NamedLambdaVariable), _)) =>
      Some((arg, x, body))
    case _ => None
  }
  @transient private var proj: UnsafeProjection = _
  @transient private var elem: SpecificInternalRow = _

  override def eval(row: InternalRow): Any = parts match {
    case None => child.eval(row)
    case Some((arg, x, body)) =>
      val arr = arg.eval(row).asInstanceOf[ArrayData]
      if (arr == null) return null
      if (proj == null) {
        val at = row.numFields
        proj = UnsafeProjection.create(Seq(body.transform {
          case v: NamedLambdaVariable if v.exprId == x.exprId =>
            BoundReference(at, v.dataType, v.nullable)
        }))
        elem = new SpecificInternalRow(Seq(x.dataType))
      }
      val in = new JoinedRow(row, elem)
      val out = new Array[Any](arr.numElements())
      var i = 0
      while (i < out.length) {
        elem.update(0, if (arr.isNullAt(i)) null else arr.get(i, x.dataType))
        out(i) = InternalRow.copyValue(proj(in).get(0, body.dataType))
        i += 1
      }
      new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): CompiledTransform =
    copy(child = newChild)
}

object CompiledTransform {
  /** `transform(array, f)`, with `f`'s body compiled. */
  def apply(array: Column, f: Column => Column): Column =
    ColumnBridge.column(CompiledTransform(ColumnBridge.expression(
      org.apache.spark.sql.functions.transform(array, f))))
}
