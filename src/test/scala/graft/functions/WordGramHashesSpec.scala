package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.TextFunctions._

/** Parity of the native positional-gram hasher with the composable
  * formula it replaces, on well-formed and adversarial input —
  * [[graft.functions.expressions.WordGramHashes]] must stay
  * bit-identical to `shingleHashes(wordNgrams(text, n))` (order
  * INCLUDED: array index = gram start position), and the
  * split-arithmetic token count in the coverage query must equal
  * `size(tokens(text))` on every whitespace shape.
  */
class WordGramHashesSpec extends SparkSpec {
  import spark.implicits._

  GraftFunctions.register(spark)

  import WordGramHashesSpec.corpus

  test("native word_gram_hashes == shingleHashes(wordNgrams), positions too") {
    for (n <- Seq(2, 3, 5)) {
      val df = corpus.toDF("text").select(
        GraftFunctions.wordGramHashes(col("text"), n).as("native"),
        shingleHashes(wordNgrams(col("text"), n)).as("composable"))
      df.collect().foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1),
          s"n=$n mismatch: ${r.getSeq[Long](0)} vs ${r.getSeq[Long](1)}")
      }
    }
  }

  test("null text yields null, not an empty array") {
    val r = Seq[Option[String]](None).toDF("text")
      .select(GraftFunctions.wordGramHashes(col("text"), 3)).collect()
    assert(r.head.isNullAt(0))
  }

  test("split-arithmetic token count == size(tokens(text)) on all shapes") {
    val sz = size(split(col("text"), "\\s+"))
    val arith = when(length(col("text")) === 0, lit(0L))
      .otherwise((sz
        - when(col("text").rlike("^\\s"), 1).otherwise(0)
        - when(col("text").rlike("\\s$"), 1).otherwise(0)).cast("long"))
    corpus.toDF("text")
      .select(col("text"), arith.as("a"),
        tokenCount(col("text")).cast("long").as("b"))
      .collect().foreach { r =>
        assert(r.getLong(1) == r.getLong(2),
          s"'${r.getString(0)}': ${r.getLong(1)} vs ${r.getLong(2)}")
      }
  }
}

object WordGramHashesSpec {
  /** Well-formed and adversarial whitespace shapes, shared with the
    * other positional-gram parity suites. */
  val corpus: Seq[String] = Seq(
    "one two three four five six",
    "  leading and trailing  ",
    "\ttabs\tbetween\ttokens\t",
    "newlines\nare\nseparators\ntoo\n",
    "short doc",
    "a",
    "",
    "   ",
    "\t\n",
    "MiXeD Case TOKENS repeat mixed case tokens",
    "unicode: café naïve 你好 你好 tokens here",
    "exactly five tokens right here")
}
