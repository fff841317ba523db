package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.SparkSpec
import graft.functions.TextFunctions._
import graft.functions.expressions.{TopItemShare, WordNgrams}

/** Parity of the native n-gram repetition kernels with the composable
  * formulas they replace on the executed path:
  * [[graft.functions.expressions.WordNgrams]] must equal
  * `wordNgrams(text, n)` element for element, order included, and
  * [[graft.functions.expressions.TopItemShare]] must equal
  * `topItemShare(items)` to the bit, on gram arrays, token arrays and
  * hand-built arrays with nulls and ties. Every comparison runs on a
  * local relation (interpreted, folded on the driver) and behind a
  * shuffle (whole-stage codegen on the executors).
  */
class NgramShareSpec extends SparkSpec {
  import spark.implicits._

  GraftFunctions.register(spark)

  private val corpus = WordGramHashesSpec.corpus ++ Seq(
    "x y x y x y",
    "the cat the cat the dog",
    "a b a b",
    "Loop LOOP loop loop",
    "one two three one two three one two three")

  private def bothPaths(df: DataFrame): Seq[DataFrame] =
    Seq(df, df.repartition(2))

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  test("native word_ngrams == wordNgrams, element order included") {
    for (n <- Seq(2, 3, 5); df <- bothPaths(corpus.toDF("text"))) {
      df.select(col("text"),
          GraftFunctions.wordNgramsNative(col("text"), n).as("native"),
          wordNgrams(col("text"), n).as("composable"))
        .collect().foreach { r =>
          assert(r.getSeq[String](1) == r.getSeq[String](2),
            s"n=$n '${r.getString(0)}': ${r.getSeq[String](1)} vs " +
              s"${r.getSeq[String](2)}")
        }
    }
  }

  test("native top_item_share == topItemShare on gram and token arrays") {
    val arrays = Seq(2, 3, 5).map(n => wordNgrams(col("text"), n)) :+
      tokens(lower(col("text")))
    val pairs = arrays.map(items =>
      GraftFunctions.topItemShareNative(items) -> topItemShare(items)) :+
      // the executed q_text_repetition / RedundancyFilter form
      (GraftFunctions.topItemShareNative(tokens(lower(col("text")))) ->
        topTokenShare(col("text")))
    for ((native, composable) <- pairs; df <- bothPaths(corpus.toDF("text"))) {
      df.select(col("text"), native, composable).collect().foreach { r =>
        assert(bits(r.getDouble(1)) == bits(r.getDouble(2)),
          s"'${r.getString(0)}': ${r.getDouble(1)} vs ${r.getDouble(2)}")
      }
    }
  }

  test("top_item_share on hand-built arrays: empty, nulls, ties") {
    val cases = Seq[(Option[Seq[String]], Option[Double])](
      (Some(Seq.empty), Some(0.0)),
      (None, None),
      (Some(Seq(null)), Some(0.0)),
      (Some(Seq(null, null, "a")), Some(1.0 / 3.0)),
      (Some(Seq("a", null, "a")), Some(2.0 / 3.0)),
      (Some(Seq("a", "b")), Some(0.5)),
      (Some(Seq("a", "b", "a", "b")), Some(0.5)),
      (Some(Seq("b", "a", "b", "a", "c", "c")), Some(2.0 / 6.0)),
      (Some(Seq("x", "y", "x")), Some(2.0 / 3.0)),
      (Some(Seq("A", "a", "a")), Some(2.0 / 3.0)))
    val df = cases.map(_._1).zipWithIndex.toDF("items", "i")
    for (d <- bothPaths(df)) {
      val got = d.select(col("i"),
          GraftFunctions.topItemShareNative(col("items")).as("native"),
          topItemShare(col("items")).as("composable"))
        .collect().map(r => r.getInt(0) -> r).toMap
      cases.zipWithIndex.foreach { case ((items, want), i) =>
        val r = got(i)
        want match {
          case None =>
            assert(r.isNullAt(1) && r.isNullAt(2), s"$items: not null")
          case Some(w) =>
            assert(bits(r.getDouble(1)) == bits(w), s"$items: ${r.getDouble(1)}")
            assert(bits(r.getDouble(2)) == bits(w), s"$items: ${r.getDouble(2)}")
        }
      }
    }
  }

  test("null text yields null grams and a null share") {
    val df = Seq[Option[String]](None).toDF("text")
    for (d <- bothPaths(df)) {
      val r = d.select(
          GraftFunctions.wordNgramsNative(col("text"), 2),
          GraftFunctions.topItemShareNative(
            GraftFunctions.wordNgramsNative(col("text"), 2)))
        .collect().head
      assert(r.isNullAt(0) && r.isNullAt(1))
    }
  }

  test("codegen compiles and matches the interpreted path") {
    val text = BoundReference(0, StringType, nullable = false)
    val items = BoundReference(1, ArrayType(StringType), nullable = false)
    val exprs = Seq(WordNgrams(text, 2), TopItemShare(items))
    val proj = GenerateUnsafeProjection.generate(exprs)
    val row = InternalRow(UTF8String.fromString("a b a b a"),
      ArrayData.toArrayData(Array[Any](UTF8String.fromString("p"), null,
        UTF8String.fromString("p"), UTF8String.fromString("q"))))
    val out = proj(row)
    assert(out.getArray(0).toSeq[UTF8String](StringType).map(_.toString) ==
      Seq("a b", "b a", "a b", "b a"))
    assert(out.getDouble(1) == 0.5)
    assert(out.getDouble(1) == exprs(1).eval(row))
  }
}
