package graft.operators

import graft.SparkSpec
import graft.queries.Tables
import org.apache.spark.sql.functions._

/** DriverGate.collectAtMost: one capped collect that returns the rows
  * when there are at most `cap` of them and None otherwise — the
  * boundary on multi-partition frames, the degenerate caps, and the
  * callers that fail by name past their cap. */
class DriverGateSpec extends SparkSpec {

  test("an empty frame returns Some(empty)") {
    val got = DriverGate.collectAtMost(spark.range(0, 0, 1, 3).toDF(), 10)
    assert(got.map(_.length).contains(0))
  }

  test("exactly cap rows return Some, cap + 1 rows return None, " +
      "across partitions") {
    val at = DriverGate.collectAtMost(spark.range(0, 50, 1, 7).toDF(), 50)
    assert(at.map(_.map(_.getLong(0)).toSet).contains((0L until 50L).toSet))
    assert(DriverGate.collectAtMost(spark.range(0, 51, 1, 7).toDF(), 50)
      .isEmpty)
  }

  test("cap = 0 admits only the empty frame; a negative cap acts as 0") {
    assert(DriverGate.collectAtMost(spark.range(0, 0).toDF(), 0)
      .map(_.length).contains(0))
    assert(DriverGate.collectAtMost(spark.range(0, 1).toDF(), 0).isEmpty)
    assert(DriverGate.collectAtMost(spark.range(0, 1).toDF(), -5).isEmpty)
  }

  test("a cap above Int.MaxValue clamps instead of wrapping") {
    // a wrapped cap would make limit(negative) and refuse every frame
    Seq(Int.MaxValue.toLong, Int.MaxValue + 1L, Long.MaxValue).foreach { cap =>
      assert(DriverGate.collectAtMost(spark.range(0, 3, 1, 2).toDF(), cap)
        .map(_.length).contains(3), s"cap $cap")
    }
  }

  test("the collect stops scanning once the cap is exceeded") {
    // rows past the first partition fail when computed: an over-cap
    // answer from the first partition alone must never reach them
    val df = spark.range(0, 1000, 1, 10).select(
      when(col("id") < 100, col("id"))
        .otherwise(raise_error(lit("scanned past the cap"))).as("id"))
    assert(DriverGate.collectAtMost(df, 10).isEmpty)
  }

  test("sealTempResult fails naming itself past its cap, and seals a " +
      "bounded result") {
    val tmp = java.nio.file.Files.createTempDirectory("seal")
    val ex = intercept[IllegalArgumentException] {
      Tables.sealTempResult(spark, spark.range(0, 10001, 1, 4).toDF(),
        tmp.toString)
    }
    assert(ex.getMessage.contains("sealTempResult"), ex.getMessage)
    assert(java.nio.file.Files.exists(tmp))
    val got = Tables.sealTempResult(spark, spark.range(0, 10000, 1, 4)
      .toDF(), tmp.toString)
    assert(!java.nio.file.Files.exists(tmp))
    assert(got.count() == 10000)
  }
}
