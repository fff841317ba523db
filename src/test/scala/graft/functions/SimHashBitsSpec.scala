package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.TextFunctions._

class SimHashBitsSpec extends SparkSpec {
  import spark.implicits._

  test("simhash_bits at 32 is bit-identical to the composable formula") {
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(11)
    val docs = Seq.fill(100)(
      Seq.fill(5 + rnd.nextInt(60))("w" + rnd.nextInt(500)).mkString(" "))
    val df = docs.toDF("t")
      .withColumn("hs", simhashHashes(tokens(col("t"))))
    val r = df.select(
      simhashOfHashes(col("hs"), 32).as("hof"),
      GraftFunctions.simhashBits(col("hs"), 32).as("native")).collect()
    r.foreach(row => assert(row.getLong(0) == row.getLong(1)))
  }

  test("simhash_bits at 60 is bit-identical to the composable formula") {
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(17)
    val docs = Seq.fill(80)(
      Seq.fill(5 + rnd.nextInt(60))("w" + rnd.nextInt(500)).mkString(" "))
    val df = docs.toDF("t")
      .withColumn("hs", simhashHashes60(tokens(col("t"))))
    val r = df.select(
      simhashOfHashes(col("hs"), 60).as("hof"),
      GraftFunctions.simhashBits(col("hs"), 60).as("native")).collect()
    r.foreach(row => assert(row.getLong(0) == row.getLong(1)))
  }

  test("simhash_bits at 32: empty and null inputs") {
    GraftFunctions.register(spark)
    val df = Seq(
      (1, Some(Seq.empty[Long])),
      (2, None)).toDF("id", "hs")
    val r = df.select(col("id"), GraftFunctions.simhashBits(col("hs"), 32))
      .collect().map(x => x.getInt(0) -> (if (x.isNullAt(1)) None
        else Some(x.getLong(1)))).toMap
    assert(r(1).contains(0L)) // no features → all-zero sketch
    assert(r(2).isEmpty)
  }
}
