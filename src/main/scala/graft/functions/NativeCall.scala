package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.DataType

/** One SQL function over a static Scala kernel: `name(args)` calls
  * `kernel.method(args)` with the arguments cast to `inputTypes`, and is
  * null when any argument is. `check` rejects arguments the kernel cannot
  * take as columns (an error message, or None).
  */
private[graft] final case class Native(name: String, kernel: AnyRef,
    method: String, dataType: DataType, inputTypes: Seq[DataType],
    check: Seq[Expression] => Option[String] = _ => None) {

  def apply(args: Column*): Column =
    toColumn(NativeCall(this, args.map(toExpr)))
}

/** A [[Native]] call. Analysis sees `name(args)`: the column name, the
  * implicit casts and the type checks. The optimizer then swaps in Spark's
  * `StaticInvoke`, which constant-folds literal calls and generates a
  * direct call to the kernel inside whole-stage codegen.
  */
private[graft] case class NativeCall(fn: Native, children: Seq[Expression])
    extends RuntimeReplaceable with ImplicitCastInputTypes {

  override def prettyName: String = fn.name
  override def inputTypes: Seq[DataType] = fn.inputTypes
  override protected def stringArgs: Iterator[Any] = children.iterator

  override lazy val replacement: Expression =
    StaticInvoke(fn.kernel.getClass, fn.dataType, fn.method, children,
      fn.inputTypes, returnNullable = false)

  override def checkInputDataTypes(): TypeCheckResult =
    super.checkInputDataTypes() match {
      case TypeCheckResult.TypeCheckSuccess => fn.check(children)
        .fold[TypeCheckResult](TypeCheckResult.TypeCheckSuccess)(
          TypeCheckResult.TypeCheckFailure(_))
      case failure => failure
    }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NativeCall =
    copy(children = newChildren)
}
