package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** The keyed touch-scan's IN-FILTER fast path (round-8 optimization):
  * on a long-kinded stats key, MERGE/DELETE test membership with a
  * typed pushed `In` over the batch's already-collected keys instead
  * of two broadcast joins. These tests pin that the fast path and the
  * broadcast-join path (which a no-stats-key table still takes)
  * produce IDENTICAL tables — including the null-key arm, where a
  * NULL key must match nothing in the semi scan and survive the anti
  * rewrite. */
class TableLogInFilterSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private def baseRows = (0L until 500L)
    .map(i => (i, s"body $i")) :+ ((-1L, "keyless"))

  // one null-keyed resident row: the contract allows one, and it is
  // exactly the row whose handling differs between a naive NOT-IN
  // filter and the anti join the fast path must mirror
  private def baseDf = baseRows.toDF("id", "body")
    .withColumn("id", when(col("id") === -1L,
      lit(null).cast("long")).otherwise(col("id")))

  private def content(dir: String): Seq[(Option[Long], String)] =
    TableLog.readVersion(spark, dir).collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        r.getString(1)))
      .sortBy(t => (t._1.getOrElse(Long.MinValue), t._2)).toSeq

  test("MERGE + DELETE land identically through the IN-filter fast " +
      "path (stats key) and the broadcast-join path (no stats key)") {
    val fast = Files.createTempDirectory("tl_infilter_fast").toString
    val slow = Files.createTempDirectory("tl_infilter_join").toString
    TableLog.writeBase(spark, baseDf.repartition(4), fast,
      statsKey = Some("id"))
    TableLog.writeBase(spark, baseDf.repartition(4), slow)

    val batch = Seq((7L, "updated 7"), (444L, "updated 444"),
      (9001L, "fresh")).toDF("id", "body")
    TableLog.upsert(spark, fast, batch, "id")
    TableLog.upsert(spark, slow, batch, "id")
    val afterMerge = content(fast)
    afterMerge shouldBe content(slow)
    // the null-keyed resident survived the rewrite on both paths
    assert(afterMerge.contains((None, "keyless")))
    assert(afterMerge.contains((Some(7L), "updated 7")))
    assert(afterMerge.contains((Some(9001L), "fresh")))
    afterMerge.size shouldBe 502

    val doomed = Seq(7L, 100L, 101L).toDF("id")
    TableLog.delete(spark, fast, doomed, "id")
    TableLog.delete(spark, slow, doomed, "id")
    val afterDelete = content(fast)
    afterDelete shouldBe content(slow)
    assert(!afterDelete.exists(_._1.contains(7L)))
    assert(afterDelete.contains((None, "keyless")))
    afterDelete.size shouldBe 499
  }

  test("a null-keyed BATCH row inserts without disturbing the " +
      "null-keyed resident, same as the join path") {
    val fast = Files.createTempDirectory("tl_infilter_nullb").toString
    val slow = Files.createTempDirectory("tl_infilter_nullbj").toString
    TableLog.writeBase(spark, baseDf.repartition(4), fast,
      statsKey = Some("id"))
    TableLog.writeBase(spark, baseDf.repartition(4), slow)
    val batch = Seq((Some(3L), "updated 3"), (None, "keyless v2"))
      .toDF("id", "body")
    TableLog.upsert(spark, fast, batch, "id")
    TableLog.upsert(spark, slow, batch, "id")
    val got = content(fast)
    got shouldBe content(slow)
    // null matches nothing: the resident null row is NOT replaced,
    // the batch's null row inserts alongside it (join semantics)
    got.count(_._1.isEmpty) shouldBe 2
    assert(got.contains((Some(3L), "updated 3")))
  }

  // ---- round-9 arms ----

  private def strContent(dir: String): Seq[(Option[String], String)] =
    TableLog.readVersion(spark, dir).collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getString(0)),
        r.getString(1)))
      .sortBy(t => (t._1.getOrElse(""), t._2)).toSeq

  test("STRING-keyed MERGE + DELETE land identically through the " +
      "exact-string IN path and the broadcast-join path — null and " +
      "empty-string keys included") {
    val fast = Files.createTempDirectory("tl_infilter_str").toString
    val slow = Files.createTempDirectory("tl_infilter_strj").toString
    // resident null-keyed row AND resident empty-string row: the two
    // arms where membership semantics can silently diverge (null
    // matches nothing; "" is an ordinary value that must match)
    val rows = ((0 until 300).map(i => (Some(f"k$i%04d"), s"body $i"))
      :+ ((Some(""), "empty-key resident"))
      :+ ((None: Option[String], "keyless"))).toDF("skey", "body")
    TableLog.writeBase(spark, rows.repartition(4), fast,
      statsKey = Some("skey"))
    TableLog.writeBase(spark, rows.repartition(4), slow)
    TableLog.statsKeyKindOf(spark, fast) shouldBe Some("string")

    val batch = Seq((Some("k0007"), "updated 7"), (Some(""), "empty v2"),
      (Some("zzz"), "fresh"), (None: Option[String], "keyless v2"))
      .toDF("skey", "body")
    TableLog.upsert(spark, fast, batch, "skey")
    TableLog.upsert(spark, slow, batch, "skey")
    val afterMerge = strContent(fast)
    afterMerge shouldBe strContent(slow)
    assert(afterMerge.contains((Some(""), "empty v2")))
    assert(!afterMerge.exists(_._2 == "empty-key resident"))
    // null matches nothing: both null rows live
    afterMerge.count(_._1.isEmpty) shouldBe 2
    assert(afterMerge.contains((Some("zzz"), "fresh")))

    val doomed = Seq(Some(""), Some("k0100"), None: Option[String])
      .toDF("skey")
    TableLog.delete(spark, fast, doomed, "skey")
    TableLog.delete(spark, slow, doomed, "skey")
    val afterDelete = strContent(fast)
    afterDelete shouldBe strContent(slow)
    assert(!afterDelete.exists(_._1.contains("")))
    assert(!afterDelete.exists(_._1.contains("k0100")))
    // a null DELETE key matches nothing — the null residents survive
    afterDelete.count(_._1.isEmpty) shouldBe 2
  }

  test("an out-of-range LONG key against a narrow-typed key column " +
      "matches NOTHING (no wrap-around), same as the join path") {
    val fast = Files.createTempDirectory("tl_infilter_wrap").toString
    val slow = Files.createTempDirectory("tl_infilter_wrapj").toString
    val rows = (0 until 100).map(i => (i, s"body $i")).toDF("id", "body")
    TableLog.writeBase(spark, rows.repartition(4), fast,
      statsKey = Some("id"))
    TableLog.writeBase(spark, rows.repartition(4), slow)
    // 2^32 + 5 wraps to 5 under a bare .toInt — the join path (which
    // compares under widening) deletes only id 7; the IN path must too
    val doomed = Seq((1L << 32) + 5L, 7L).toDF("id")
    TableLog.delete(spark, fast, doomed, "id")
    TableLog.delete(spark, slow, doomed, "id")
    val got = TableLog.readVersion(spark, fast).collect()
      .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    got shouldBe TableLog.readVersion(spark, slow).collect()
      .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got.exists(_._1 == 5), "id 5 was wrongly deleted (wrap)")
    assert(!got.exists(_._1 == 7))
    got.size shouldBe 99
  }

  test("a pre-collected knownKeys hint lands byte-identically to the " +
      "collect-it-yourself path for MERGE") {
    val hinted = Files.createTempDirectory("tl_infilter_hint").toString
    val plain = Files.createTempDirectory("tl_infilter_plain").toString
    TableLog.writeBase(spark, baseDf.repartition(4), hinted,
      statsKey = Some("id"))
    TableLog.writeBase(spark, baseDf.repartition(4), plain,
      statsKey = Some("id"))
    val batch = Seq((7L, "updated 7"), (444L, "updated 444"),
      (9001L, "fresh")).toDF("id", "body")
    TableLog.upsertKnownKeys(spark, hinted, batch, "id",
      Some(Array(7L, 444L, 9001L)))
    TableLog.upsert(spark, plain, batch, "id")
    val got = content(hinted)
    got shouldBe content(plain)
    got.size shouldBe 502
  }
}
