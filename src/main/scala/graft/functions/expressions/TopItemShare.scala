package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native occurrence share of the most frequent element of a string
  * array: one hash-count pass, max count ÷ array size.
  *
  * Bit-identical to the composable `TextFunctions.topItemShare`
  * (`array_max(transform(array_distinct(g), x -> size(filter(g,
  * y -> y = x)))) / size(g)`), which counts every distinct element
  * with its own interpreted scan — quadratic per row. Same semantics
  * to the bit: the same double division of the same two integers;
  * null elements match nothing under `=`, so they are not counted
  * but are included in the size; empty array → 0.0; null array →
  * null. Equality is binary, as `=` on default-collation strings.
  */
case class TopItemShare(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"top_item_share requires array<string>, got $t")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "top_item_share"

  override def nullSafeEval(input: Any): Any =
    share(input.asInstanceOf[ArrayData])

  def share(items: ArrayData): Double = {
    val n = items.numElements()
    if (n == 0) return 0.0
    val counts = new java.util.HashMap[UTF8String, Integer]()
    var top = 0
    var i = 0
    while (i < n) {
      if (!items.isNullAt(i)) {
        val item = items.getUTF8String(i)
        val prev = counts.get(item)
        val c = if (prev == null) 1 else prev.intValue + 1
        counts.put(item, c)
        if (c > top) top = c
      }
      i += 1
    }
    top.toDouble / n.toDouble
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("topItemShare", this)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.share($a);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): TopItemShare = copy(child = newChild)
}
