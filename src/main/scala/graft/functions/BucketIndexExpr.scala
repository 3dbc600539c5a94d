package graft.functions

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RowOrdering, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Native Catalyst expression: how many of `bounds` sort strictly below
  * the key, by binary search under Spark's own ordering of the key's
  * type (a null key counts 0, as nulls sort first). `bounds` are
  * internal values of the key's type in that order (see
  * [[BucketIndexExpr.sorted]]).
  *
  * The bounds ride as one referenced array, so the generated code has
  * the same size at 8 bounds or 2,000: a tree of `when` literals over
  * them grows the generated method with the bound count, past the
  * JVM's 64 KB method limit at a few thousand. */
case class BucketIndexExpr(child: Expression, bounds: IndexedSeq[Any])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (RowOrdering.isOrderable(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bucket_index requires an orderable key, got ${child.dataType.catalogString}")
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "bucket_index"

  @transient private lazy val ordering = TypeUtils.getInterpretedOrdering(child.dataType)

  override def eval(input: InternalRow): Any = {
    val key = child.eval(input)
    var lo = 0
    if (key != null) {
      var hi = bounds.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ordering.compare(key, bounds(mid)) > 0) lo = mid + 1 else hi = mid
      }
    }
    lo
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val bs = ctx.addReferenceObj("bounds", bounds.map(_.asInstanceOf[AnyRef]).toArray,
      "Object[]")
    val hi = ctx.freshName("hi")
    val mid = ctx.freshName("mid")
    val b = ctx.freshName("b")
    val t = CodeGenerator.javaType(child.dataType)
    ev.copy(code = code"""
      ${c.code}
      int ${ev.value} = 0;
      if (!${c.isNull}) {
        int $hi = $bs.length;
        while (${ev.value} < $hi) {
          int $mid = (${ev.value} + $hi) >>> 1;
          $t $b = (${CodeGenerator.boxedType(child.dataType)}) $bs[$mid];
          if (${ctx.genComp(child.dataType, c.value, b)} > 0) ${ev.value} = $mid + 1;
          else $hi = $mid;
        }
      }""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): BucketIndexExpr =
    copy(child = newChild)
}

object BucketIndexExpr {

  /** External `values` of type `dt` as internal values in Spark's
    * ascending order of `dt`, nulls dropped. */
  def sorted(values: Seq[Any], dt: DataType): IndexedSeq[Any] = {
    val toInternal = CatalystTypeConverters.createToCatalystConverter(dt)
    values.map(toInternal).filter(_ != null).sorted(TypeUtils.getInterpretedOrdering(dt))
      .toIndexedSeq
  }
}
