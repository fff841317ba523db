package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native SimHash over a pre-hashed feature array for ANY width up
  * to 63 bits (32 included: one expression serves every width). The
  * width is a parameter because LSH band capacity must scale with
  * the corpus: band-key
  * space is 2^(bits/bands), so a 32-bit sketch with byte bands
  * saturates around 10⁵ documents (every band value holds thousands
  * of docs and the candidate mass grows quadratically); a 60-bit
  * sketch with 15-bit bands holds ~32k values per band and keeps
  * collisions linear well past 10⁶. Feed it 60-bit feature hashes
  * (TextFunctions.shingleHashes) so every sketch bit has signal.
  *
  * Semantics identical to `TextFunctions.simhashOfHashes(hs, bits)`:
  * bit_b(out) = 1 iff strictly more than half the items have bit b
  * set. Null array → null; null element → null here (the composable
  * form counts a null element as a −1 vote; hashes from
  * simhashHashes/simhashHashes60 are never null, so the two agree on
  * all real inputs — the parity spec pins this).
  */
case class SimHashBits(child: Expression, bits: Int)
    extends UnaryExpression {

  require(bits > 0 && bits <= 63, "simhash_bits supports 1..63 bits")

  // a null ELEMENT yields null even when the array itself is
  // non-nullable — without this the codegen would assign to a
  // constant-false isNull and the interpreted path would break the
  // declared contract
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"simhash_bits requires array<long>, got $t")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "simhash_bits"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new Array[Int](bits)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val h = arr.getLong(i)
      var b = 0
      while (b < bits) {
        if (((h >>> b) & 1L) != 0L) counts(b) += 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) {
      if (counts(b) * 2 > n) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val counts = ctx.freshName("counts")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      s"""
      final int $n = $a.numElements();
      final int[] $counts = new int[$bits];
      for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
        if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
        final long $h = $a.getLong($i);
        for (int $b = 0; $b < $bits; $b++) {
          if ((($h >>> $b) & 1L) != 0L) $counts[$b]++;
        }
      }
      if (!${ev.isNull}) {
        long $out = 0L;
        for (int $b = 0; $b < $bits; $b++) {
          if ($counts[$b] * 2 > $n) $out |= (1L << $b);
        }
        ${ev.value} = $out;
      }
      """
    })

  override protected def withNewChildInternal(
      newChild: Expression): SimHashBits = copy(child = newChild)
}
