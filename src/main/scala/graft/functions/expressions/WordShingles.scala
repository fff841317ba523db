package graft.functions.expressions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word-k-shingles of a text column: normalize (lowercase,
  * collapse whitespace, trim) → whitespace tokens → k-word sliding
  * windows joined by single spaces — one JVM pass per document.
  *
  * Bit-identical to the composable
  * `TextFunctions.shingles(text, k)` =
  * `when(n=0, []).when(n<=k, [join(ts)]).otherwise(transform(seq,
  * i -> concat_ws(" ", slice(ts, i, k))))` over
  * `tokens(normalize(text))`; lowercasing goes through the same
  * `UTF8String.toLowerCase` the built-in `lower` uses, and the
  * whitespace split uses the same Java regex `\s+` as the built-in
  * `split` — the parity spec pins the equality. The composable form
  * interprets a lambda per window and allocates a slice per window;
  * this walks the token array once.
  *
  * Null text → null. Documents shorter than k tokens yield a single
  * shingle of all tokens (never an empty array for non-empty docs).
  */
case class WordShingles(child: Expression, k: Int) extends UnaryExpression {

  require(k > 0, "word_shingles requires k > 0")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"word_shingles requires string, got $t")
    }

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any = {
    // normalize → tokens: collapse-then-split ≡ split on runs; a doc
    // shorter than k is one window of all its tokens
    val toks = WordShingles.lowerTokens(input.asInstanceOf[UTF8String])
    val grams =
      if (toks.isEmpty) Array.empty[UTF8String]
      else WordShingles.positionalGrams(toks, math.min(k, toks.length))
    new GenericArrayData(grams.asInstanceOf[Array[Any]])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordShingles", this)
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
          $ref.nullSafeEval($a);""")
  }

  override protected def withNewChildInternal(
      newChild: Expression): WordShingles = copy(child = newChild)
}

object WordShingles {
  /** Same pattern the composable form passes to `split`. */
  private[expressions] val Ws: Pattern = Pattern.compile("\\s+")

  /** Whitespace tokens of the lowercased text, empties dropped — the
    * composable `tokens(lower(text))`: same `UTF8String.toLowerCase`
    * the built-in `lower` uses, same Java `\s+` split as the built-in
    * `split` (a leading separator yields one empty first token). */
  private[expressions] def lowerTokens(input: UTF8String): Array[String] =
    Ws.split(input.toLowerCase.toString).filter(_.nonEmpty)

  /** The shared positional-gram walk of [[WordShingles]],
    * [[WordGramHashes]] and [[WordNgrams]] (single source of truth for
    * the parity-critical join): gram i joins tokens [i, i+n) with
    * single spaces; fewer than n tokens yield no grams. */
  private[expressions] def positionalGrams(toks: Array[String], n: Int)
      : Array[UTF8String] = {
    if (toks.length < n) return Array.empty
    val out = new Array[UTF8String](toks.length - n + 1)
    val sb = new java.lang.StringBuilder()
    var s = 0
    while (s < out.length) {
      sb.setLength(0)
      sb.append(toks(s))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(s + j)); j += 1 }
      out(s) = UTF8String.fromString(sb.toString)
      s += 1
    }
    out
  }
}

/** Native positional word-n-gram 60-bit hashes: lowercase →
  * whitespace tokens (empties dropped) → the gram starting at token
  * position i (0-based array index i) spans tokens [i, i+n), hashed
  * via the shared md5-prefix recipe — one JVM pass per document.
  *
  * Bit-identical to the composable
  * `TextFunctions.shingleHashes(TextFunctions.wordNgrams(text, n))`
  * (parity spec pins it): same `UTF8String.toLowerCase`, same `\s+`
  * split, single-space joins, and the [[MinhashSignature.hash60]]
  * value DuckDB reproduces as
  * `CAST(concat('0x', substring(md5(gram), 1, 15)) AS BIGINT)`.
  * The composable form re-tokenizes the text for every use of the
  * token array (interpreted HOFs, ~µs per element — NOTES.md rule)
  * and allocates a slice + joined string per window; at corpus scale
  * that projection dominated the whole duplicated-n-gram query.
  *
  * Null text → null; fewer than n tokens → empty array (positions
  * would be meaningless on a partial gram).
  */
case class WordGramHashes(child: Expression, n: Int)
    extends UnaryExpression {

  require(n > 0, "word_gram_hashes requires n > 0")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"word_gram_hashes requires string, got $t")
    }

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def prettyName: String = "word_gram_hashes"

  override def nullSafeEval(input: Any): Any = {
    val grams = WordShingles.positionalGrams(
      WordShingles.lowerTokens(input.asInstanceOf[UTF8String]), n)
    val out = new Array[Long](grams.length)
    var s = 0
    while (s < grams.length) {
      out(s) = MinhashSignature.hash60(grams(s)); s += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordGramHashes", this)
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
          $ref.nullSafeEval($a);""")
  }

  override protected def withNewChildInternal(
      newChild: Expression): WordGramHashes = copy(child = newChild)
}

/** Native positional word n-grams: lowercase → whitespace tokens
  * (empties dropped) → element i joins tokens [i, i+n) with single
  * spaces — one JVM pass per document, the [[WordGramHashes]] walk
  * without the hashing.
  *
  * Bit-identical to the composable `TextFunctions.wordNgrams(text, n)`
  * (`transform(sequence(0, size(ts) - n), i -> concat_ws(" ",
  * slice(ts, i + 1, n)))` over `tokens(lower(text))`), element order
  * included; the parity spec pins it. The composable form rebuilds
  * the token array inside the lambda for every window.
  *
  * Null text → null; fewer than n tokens → empty array.
  */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {

  require(n > 0, "word_ngrams requires n > 0")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"word_ngrams requires string, got $t")
    }

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def prettyName: String = "word_ngrams"

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(WordShingles.positionalGrams(
      WordShingles.lowerTokens(input.asInstanceOf[UTF8String]), n)
      .asInstanceOf[Array[Any]])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordNgrams", this)
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
          $ref.nullSafeEval($a);""")
  }

  override protected def withNewChildInternal(
      newChild: Expression): WordNgrams = copy(child = newChild)
}
