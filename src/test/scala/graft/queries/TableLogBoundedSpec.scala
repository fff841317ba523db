package graft.queries

import java.net.URI
import java.nio.file.{Files, StandardCopyOption}

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, LocalFileSystem, Path}
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.sources.NioLocalFileSystem

/** Round-8 [[TableLog]] hardening: bounded log metadata (the
  * `_last_checkpoint` pointer, txn marks folded into checkpoints,
  * manifest truncation), the orphan-sweeping vacuum with its grace
  * window, the evolved-merge-key touch-scan, the MERGE delete arm,
  * and multi-writer optimistic rebase (winner + rebased loser both
  * land; true conflicts abort loudly). */
class TableLogBoundedSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private def fs(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifest(dir: String, v: Int) =
    new Path(f"$dir/_log/v$v%05d.manifest")
  private def cpFile(dir: String, v: Int) =
    new Path(f"$dir/_log/v$v%05d.checkpoint")

  private def base(n: Long = 2000L) = (0L until n)
    .map(i => (i, s"body $i")).toDF("id", "body")

  test("_last_checkpoint pointer: one-file version resolution and " +
      "prev-retaining checkpoint pruning") {
    val dir = Files.createTempDirectory("tl-ptr").toString
    TableLog.writeBase(spark, base(), dir)
    (0 until 5).foreach { i =>
      TableLog.appendOnce(spark, dir,
        Seq((10000L + i, s"a$i")).toDF("id", "body"), "app", i.toLong)
    }
    TableLog.checkpoint(spark, dir)
    val f = fs(dir)
    val ptr = new Path(s"$dir/_log/_last_checkpoint")
    assert(f.exists(ptr), "no _last_checkpoint pointer after checkpoint")
    // the pointer names the checkpointed version
    TableLog.replayCost(spark, dir) shouldBe 1
    TableLog.currentVersion(spark, dir) shouldBe 5
    // commits after the checkpoint: resolution is pointer + forward
    // probe, and stays exact
    (5 until 8).foreach { i =>
      TableLog.appendOnce(spark, dir,
        Seq((10000L + i, s"a$i")).toDF("id", "body"), "app", i.toLong)
    }
    TableLog.currentVersion(spark, dir) shouldBe 8
    TableLog.readVersion(spark, dir).count() shouldBe 2008

    // second checkpoint: the previous file is RETAINED (a concurrent
    // reader resolving the old pointer must not hit a missing file)…
    TableLog.checkpoint(spark, dir)
    assert(f.exists(cpFile(dir, 5)), "previous checkpoint was deleted")
    assert(f.exists(cpFile(dir, 8)))
    // …and a third prunes the oldest
    TableLog.appendOnce(spark, dir,
      Seq((20000L, "z")).toDF("id", "body"), "app", 8L)
    TableLog.checkpoint(spark, dir)
    assert(!f.exists(cpFile(dir, 5)), "superseded checkpoint not pruned")
    assert(f.exists(cpFile(dir, 8)) && f.exists(cpFile(dir, 9)))
    TableLog.readVersion(spark, dir).count() shouldBe 2009
  }

  test("txn high-water marks fold into the checkpoint: exactly-once " +
      "holds with every pre-checkpoint manifest gone") {
    val dir = Files.createTempDirectory("tl-txn").toString
    TableLog.writeBase(spark, base(100), dir)
    (0 until 4).foreach { i =>
      TableLog.appendOnce(spark, dir,
        Seq((1000L + i, s"a$i")).toDF("id", "body"), "appA", i.toLong)
    }
    TableLog.checkpoint(spark, dir) // at v4, format 2
    val f = fs(dir)
    // simulate truncation: delete EVERY manifest below the checkpoint
    (0 until 4).foreach(v => assert(f.delete(manifest(dir, v), false)))

    // a replayed batch must STILL be a no-op — its stamp now lives
    // only in the checkpoint's txn lines
    TableLog.appendOnce(spark, dir,
      Seq((1002L, "dup")).toDF("id", "body"), "appA", 2L)
    TableLog.currentVersion(spark, dir) shouldBe 4
    TableLog.readVersion(spark, dir).count() shouldBe 104
    // a genuinely new batch still lands, and a different app is not
    // fenced by appA's marks
    TableLog.appendOnce(spark, dir,
      Seq((2000L, "new")).toDF("id", "body"), "appA", 4L)
    TableLog.appendOnce(spark, dir,
      Seq((3000L, "b0")).toDF("id", "body"), "appB", 0L)
    TableLog.currentVersion(spark, dir) shouldBe 6
    TableLog.readVersion(spark, dir).count() shouldBe 106
    // time travel BELOW the truncation point fails loudly with the
    // truncation message, not a scan error
    val ex = intercept[IllegalArgumentException] {
      TableLog.readVersion(spark, dir, Some(2))
    }
    ex.getMessage should include("missing manifest")
  }

  test("vacuum sweeps removed history AND orphan attempt dirs, " +
      "honors the grace window, truncates dead manifests") {
    val dir = Files.createTempDirectory("tl-vac").toString
    TableLog.writeBase(spark, base().repartition(4), dir,
      statsKey = Some("id"))
    TableLog.upsert(spark, dir,
      Seq((1L, "u1"), (2L, "u2")).toDF("id", "body"), "id")
    TableLog.compact(spark, dir, targetBytes = 1L << 20)
    TableLog.checkpoint(spark, dir) // v2
    val latest = TableLog.readVersion(spark, dir).count()
    val f = fs(dir)
    // a crashed writer's orphan attempt dir — no manifest references it
    Seq((777777L, "orphan")).toDF("id", "body")
      .write.parquet(s"$dir/data/v00099-deadbeef")

    // grace window: everything on disk is younger than an hour, so a
    // graced vacuum deletes NOTHING (in-flight-writer protection)…
    TableLog.vacuum(spark, dir, retainVersions = 1,
      orphanGraceMs = 3600L * 1000) shouldBe 0
    assert(f.exists(new Path(s"$dir/data/v00099-deadbeef")))
    // …but the watermark already advanced: old versions are fenced
    intercept[IllegalArgumentException] {
      TableLog.readVersion(spark, dir, Some(0))
    }.getMessage should include("vacuumed")

    // zero grace (maintenance window): history AND the orphan go
    val deleted = TableLog.vacuum(spark, dir, retainVersions = 1)
    deleted should be > 0
    assert(!f.exists(new Path(s"$dir/data/v00099-deadbeef")),
      "orphan attempt dir survived the sweep")
    TableLog.readVersion(spark, dir).count() shouldBe latest
    // manifests below the checkpoint (which is <= the watermark) are
    // truncated; the checkpoint carries the state
    assert(!f.exists(manifest(dir, 0)), "dead manifest not truncated")
    assert(!f.exists(manifest(dir, 1)), "dead manifest not truncated")
    assert(f.exists(manifest(dir, 2)))
    TableLog.replayCost(spark, dir) shouldBe 1
    // idempotent: a second sweep finds nothing
    TableLog.vacuum(spark, dir, retainVersions = 1) shouldBe 0
    // and the table still mutates normally afterwards
    TableLog.upsert(spark, dir,
      Seq((3L, "u3")).toDF("id", "body"), "id")
    TableLog.readVersion(spark, dir).count() shouldBe latest
  }

  test("upsert keyed on a column ADDED by schema evolution: the " +
      "touch-scan schema-merges instead of trusting one footer") {
    val dir = Files.createTempDirectory("tl-evokey").toString
    TableLog.writeBase(spark, base(100).repartition(3), dir)
    // evolution adds `tag`; only id 1 carries a non-null value
    TableLog.upsert(spark, dir,
      Seq((1L, "tagged", "T1")).toDF("id", "body", "tag"), "id",
      allowSchemaEvolution = true)
    TableLog.isEvolved(spark, dir) shouldBe true
    // MERGE keyed on the evolved column: most live files predate
    // `tag` entirely — a single-footer read could drop or miss the
    // column; the merged touch-scan must null-fill and match row id 1
    TableLog.upsert(spark, dir,
      Seq((500L, "replacement", "T1")).toDF("id", "body", "tag"), "tag")
    val got = TableLog.readVersion(spark, dir)
    got.count() shouldBe 100
    got.filter(col("id") === 1L).count() shouldBe 0
    got.filter(col("id") === 500L && col("tag") === "T1")
      .count() shouldBe 1
  }

  test("MERGE delete arm: stats-pruned COW removal, evolved tables " +
      "included; prior versions still read the deleted rows") {
    val dir = Files.createTempDirectory("tl-del").toString
    TableLog.writeBase(spark,
      base().repartitionByRange(8, col("id"))
        .sortWithinPartitions(col("id")),
      dir, statsKey = Some("id"))
    val before = TableLog.liveFiles(spark, dir).toSet
    // delete three ids from ONE id-range file; only that file rewrites
    TableLog.delete(spark, dir,
      Seq(42L, 43L, 44L).toDF("id"), "id")
    val after = TableLog.liveFiles(spark, dir).toSet
    before.diff(after).size shouldBe 1
    val v1 = TableLog.readVersion(spark, dir)
    v1.count() shouldBe 1997
    v1.filter(col("id").isin(42L, 43L, 44L)).count() shouldBe 0
    // time travel still reads the deleted rows at v0
    TableLog.readVersion(spark, dir, Some(0))
      .filter(col("id") === 42L).count() shouldBe 1
    // deleting keys that exist nowhere is a no-op, not a version bump
    TableLog.delete(spark, dir, Seq(999999L).toDF("id"), "id")
    TableLog.currentVersion(spark, dir) shouldBe 1
    // deleting EVERYTHING leaves an honestly-empty table that still
    // reads and can be re-populated by a later upsert
    val edir = Files.createTempDirectory("tl-delall").toString
    TableLog.writeBase(spark, base(30), edir)
    TableLog.delete(spark, edir,
      (0L until 30L).toDF("id"), "id")
    TableLog.readVersion(spark, edir).count() shouldBe 0
    TableLog.upsert(spark, edir,
      Seq((1L, "reborn")).toDF("id", "body"), "id")
    TableLog.readVersion(spark, edir).count() shouldBe 1
    // …and the arm works across evolution (key present since v0,
    // files mixed before/after an evolving upsert)
    TableLog.upsert(spark, dir,
      Seq((7L, "seven", 0.5)).toDF("id", "body", "score"), "id",
      allowSchemaEvolution = true)
    TableLog.delete(spark, dir, Seq(7L).toDF("id"), "id")
    val v3 = TableLog.readVersion(spark, dir)
    v3.count() shouldBe 1996
    v3.filter(col("id") === 7L).count() shouldBe 0
  }

  test("commit rebase: a loser with provably-disjoint work lands at " +
      "the new head; true conflicts abort loudly") {
    val dir = Files.createTempDirectory("tl-rebase").toString
    TableLog.writeBase(spark,
      base().repartitionByRange(4, col("id"))
        .sortWithinPartitions(col("id")),
      dir, statsKey = Some("id"))
    val v0Files = TableLog.liveFiles(spark, dir).toSet
    // winner A: a normal MERGE on key 42 commits v1
    TableLog.upsert(spark, dir,
      Seq((42L, "A's update")).toDF("id", "body"), "id")
    val removedByA = v0Files.diff(TableLog.liveFiles(spark, dir).toSet)
    removedByA.size shouldBe 1

    // loser B planned against v0 (stale): pure insert of key 5000,
    // data already written under its own attempt dir
    val bSub = "data/v00001-loserb1"
    Seq((5000L, "B's insert")).toDF("id", "body")
      .coalesce(1).write.parquet(s"$dir/$bSub")
    val bAdds = fs(dir).listStatus(new Path(s"$dir/$bSub"))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(s => TableLog.AddEntry(s"$bSub/${s.getPath.getName}",
        Some((5000L, 5000L)))).toSeq
    // B touched no files and its keys are disjoint from A's adds →
    // the rebase lands it at v2, data files untouched
    TableLog.commitRebased(spark, dir, firstV = 1, adds = bAdds,
      removes = Nil, keyed = true, batchKeys = Some(Array(5000L)),
      txn = None, maxRebases = 2)
    TableLog.currentVersion(spark, dir) shouldBe 2
    val now = TableLog.readVersion(spark, dir)
    now.count() shouldBe 2001
    now.filter(col("id") === 42L).select("body")
      .head.getString(0) shouldBe "A's update"
    now.filter(col("id") === 5000L).count() shouldBe 1

    // conflict 1: a loser that touched (removes) the same file A
    // rewrote must abort — its rewrite would resurrect pre-A rows
    val c1 = intercept[IllegalArgumentException] {
      TableLog.commitRebased(spark, dir, firstV = 1, adds = Nil,
        removes = removedByA.toSeq, keyed = true,
        batchKeys = Some(Array(43L)), txn = None, maxRebases = 2)
    }
    c1.getMessage should include("conflict")
    // conflict 2: a loser whose batch keys fall inside a winner-added
    // file's range must abort — the winner may hold those keys
    val c2 = intercept[IllegalArgumentException] {
      TableLog.commitRebased(spark, dir, firstV = 1, adds = Nil,
        removes = Nil, keyed = true, batchKeys = Some(Array(42L)),
        txn = None, maxRebases = 2)
    }
    c2.getMessage should include("conflict")
    // conflict 3: keyed work whose keys could not be collected can't
    // prove disjointness — abort, never assume
    val c3 = intercept[IllegalArgumentException] {
      TableLog.commitRebased(spark, dir, firstV = 1, adds = Nil,
        removes = Nil, keyed = true, batchKeys = None,
        txn = None, maxRebases = 2)
    }
    c3.getMessage should include("conflict")
    // rebase budget: refuses after maxRebases lost races
    intercept[IllegalArgumentException] {
      TableLog.commitRebased(spark, dir, firstV = 1, adds = Nil,
        removes = Nil, keyed = false, batchKeys = None,
        txn = None, maxRebases = 0)
    }.getMessage should include("rebases")
    // the aborted losers changed nothing
    TableLog.currentVersion(spark, dir) shouldBe 2
    TableLog.readVersion(spark, dir).count() shouldBe 2001
  }

  test("readVersionRange prunes the file list FROM THE LOG and still " +
      "matches the full-scan filter; CDC nets out rewrite noise") {
    val dir = Files.createTempDirectory("tl-skipcdc").toString
    TableLog.writeBase(spark,
      base().repartitionByRange(10, col("id"))
        .sortWithinPartitions(col("id")),
      dir, statsKey = Some("id"))
    // a 10% key range must prune most of the 10 range files
    val pruned = TableLog.prunedLiveFiles(spark, dir, 500L, 699L)
    pruned.size should be < 3
    val got = TableLog.readVersionRange(spark, dir, 500L, 699L)
      .select("id", "body").collect().map(r =>
        (r.getLong(0), r.getString(1))).sorted
    val want = TableLog.readVersion(spark, dir)
      .filter(col("id").between(500L, 699L))
      .select("id", "body").collect().map(r =>
        (r.getLong(0), r.getString(1))).sorted
    got.toSeq shouldBe want.toSeq
    got.length shouldBe 200
    // an out-of-domain range reads nothing but keeps the schema
    TableLog.readVersionRange(spark, dir, 50000L, 60000L)
      .count() shouldBe 0
    // no statsKey -> loud refusal, not a silent full scan
    val plain = Files.createTempDirectory("tl-nostat").toString
    TableLog.writeBase(spark, base(100), plain)
    intercept[IllegalArgumentException] {
      TableLog.readVersionRange(spark, plain, 0L, 10L)
    }.getMessage should include("statsKey")

    // CDC: upsert (update 3, insert 9001) + delete 7 -> exactly 3 ops
    TableLog.upsert(spark, dir,
      Seq((3L, "updated 3"), (9001L, "fresh")).toDF("id", "body"), "id")
    TableLog.delete(spark, dir, Seq(7L).toDF("id"), "id")
    val cdc = TableLog.changesBetween(spark, dir, 0,
      TableLog.currentVersion(spark, dir), "id")
      .collect().map(r => (r.getString(0), r.getAs[Long]("id"),
        r.getAs[String]("body"))).sorted
    cdc.toSeq shouldBe Seq(
      ("delete", 7L, "body 7"),     // pre-image
      ("insert", 9001L, "fresh"),   // post-image
      ("update", 3L, "updated 3"))  // post-image
    // a compaction between versions changes NOTHING row-level: the
    // file diff is total but every key's content is identical
    val v = TableLog.currentVersion(spark, dir)
    TableLog.compact(spark, dir, targetBytes = 1L << 20)
    TableLog.changesBetween(spark, dir, v,
      TableLog.currentVersion(spark, dir), "id").count() shouldBe 0
  }

  test("CDC survives full wipes, schema evolution, separator-laden " +
      "values, and null keys; emptiness keeps the logged schema") {
    // 1. full-table wipe: every row surfaces as a delete (the toV
    // live set is EMPTY — the schema must come from the churn, not
    // from a readable snapshot)
    val dir = Files.createTempDirectory("tl-cdcwipe").toString
    TableLog.writeBase(spark, base(40), dir, statsKey = Some("id"))
    TableLog.delete(spark, dir, (0L until 40L).toDF("id"), "id")
    val wiped = TableLog.changesBetween(spark, dir, 0,
      TableLog.currentVersion(spark, dir), "id")
    wiped.count() shouldBe 40
    wiped.filter(col("_op") =!= "delete").count() shouldBe 0
    // force a TRULY empty live set (delete may leave 0-row files —
    // remove every live file by manifest, the vacuum-of-empties
    // shape): the schema must OUTLIVE the data files
    val residue = TableLog.liveFiles(spark, dir)
    if (residue.nonEmpty)
      TableLog.commitRebased(spark, dir,
        TableLog.currentVersion(spark, dir) + 1, adds = Nil,
        removes = residue, keyed = false, batchKeys = None,
        txn = None, maxRebases = 0)
    TableLog.liveFiles(spark, dir) shouldBe empty
    TableLog.readVersion(spark, dir).columns.toSeq shouldBe
      Seq("id", "body")
    TableLog.readVersionRange(spark, dir, 0L, 10L).columns.toSeq shouldBe
      Seq("id", "body")
    // re-population still honors the remembered contract: a
    // type-conflicting batch is refused BEFORE anything writes
    intercept[IllegalArgumentException] {
      TableLog.upsert(spark, dir,
        Seq(("1", "smuggled")).toDF("id", "body"), "id")
    }.getMessage should include("type conflict")

    // 2. CDC across a column-adding evolution: the pre side reads
    // files that PREDATE the column and must null-fill, not crash;
    // carried rows in the rewritten file still net out
    val edir = Files.createTempDirectory("tl-cdcevo").toString
    TableLog.writeBase(spark, base(50), edir, statsKey = Some("id"))
    TableLog.upsert(spark, edir,
      Seq((3L, "with tag", "T")).toDF("id", "body", "tag"), "id",
      allowSchemaEvolution = true)
    val evo = TableLog.changesBetween(spark, edir, 0, 1, "id")
      .collect().map(r => (r.getString(0), r.getAs[Long]("id"),
        r.getAs[String]("tag")))
    evo.toSeq shouldBe Seq(("update", 3L, "T"))
    // feed shape is STABLE across windows: a later window whose
    // churned files all predate an evolved column still emits it
    // (null-filled) — the logged schema aligns the feed
    TableLog.upsert(spark, edir,
      Seq((5L, "u5", "T5")).toDF("id", "body", "tag"), "id")
    val win01cols = TableLog.changesBetween(spark, edir, 1, 2, "id")
      .columns.toSet
    win01cols should contain("tag")

    // 3. a value CONTAINING a separator-ish control character must
    // not alias across column boundaries: (x | y␁z) -> (x␁y | z) is
    // an UPDATE, not a no-change
    val cdir = Files.createTempDirectory("tl-cdccoll").toString
    TableLog.writeBase(spark,
      Seq((1L, "x", "y\u0001z"), (2L, "p", "q")).toDF("id", "c1", "c2"),
      cdir, statsKey = Some("id"))
    TableLog.upsert(spark, cdir,
      Seq((1L, "x\u0001y", "z")).toDF("id", "c1", "c2"), "id")
    val coll = TableLog.changesBetween(spark, cdir, 0, 1, "id")
      .collect()
    coll.length shouldBe 1
    coll.head.getString(0) shouldBe "update"

    // 4. a null-KEYED row carried through a COW rewrite nets out
    // like any other row (no phantom delete+insert pair), and its
    // genuine deletion would classify as delete, not insert
    val ndir = Files.createTempDirectory("tl-cdcnull").toString
    TableLog.writeBase(spark,
      Seq((Option(1L), "one"), (Option.empty[Long], "null-key"),
        (Option(2L), "two")).toDF("id", "body").coalesce(1), ndir)
    TableLog.upsert(spark, ndir,
      Seq((1L, "one v2")).toDF("id", "body"), "id")
    val nc = TableLog.changesBetween(spark, ndir, 0, 1, "id")
      .collect().map(r => (r.getString(0), r.getAs[String]("body")))
    nc.toSeq shouldBe Seq(("update", "one v2"))
  }

  test("a table without _log/_schema is refused, naming the file") {
    val dir = Files.createTempDirectory("tl-noschema").toString
    TableLog.writeBase(spark, base(40), dir, statsKey = Some("id"))
    val schemaFile = s"$dir/_log/_schema"
    fs(dir).delete(new Path(schemaFile), false)
    intercept[IllegalArgumentException] {
      TableLog.readVersion(spark, dir)
    }.getMessage should include(schemaFile)
    // refused before anything is written
    intercept[IllegalArgumentException] {
      TableLog.upsert(spark, dir, Seq((1L, "x")).toDF("id", "body"), "id")
    }.getMessage should include(schemaFile)
    TableLog.currentVersion(spark, dir) shouldBe 0
    new java.io.File(s"$dir/data").list().length shouldBe 1
  }

  test("RESTORE rolls the content back as a NEW commit with zero " +
      "data movement; history stays time-travelable and listable") {
    val dir = Files.createTempDirectory("tl-restore").toString
    TableLog.writeBase(spark,
      base(100).repartitionByRange(4, col("id"))
        .sortWithinPartitions(col("id")),
      dir, statsKey = Some("id"))
    TableLog.upsert(spark, dir,
      Seq((3L, "updated"), (9000L, "fresh")).toDF("id", "body"), "id")
    TableLog.delete(spark, dir, Seq(7L).toDF("id"), "id")
    val dataFilesBefore = fs(dir).listStatus(new Path(s"$dir/data"))
      .length

    TableLog.restore(spark, dir, 0)
    // the restore is v3 and reads EXACTLY v0's content
    TableLog.currentVersion(spark, dir) shouldBe 3
    val v3 = TableLog.readVersion(spark, dir)
      .select("id", "body").collect().map(r =>
        (r.getLong(0), r.getString(1))).sorted
    val v0 = TableLog.readVersion(spark, dir, Some(0))
      .select("id", "body").collect().map(r =>
        (r.getLong(0), r.getString(1))).sorted
    v3.toSeq shouldBe v0.toSeq
    // zero data movement: no new attempt dir appeared
    fs(dir).listStatus(new Path(s"$dir/data"))
      .length shouldBe dataFilesBefore
    // the pre-restore head still time-travels
    TableLog.readVersion(spark, dir, Some(2))
      .filter(col("id") === 9000L).count() shouldBe 1
    // restoring to the head is a no-op, out-of-range is loud
    TableLog.restore(spark, dir, 3)
    TableLog.currentVersion(spark, dir) shouldBe 3
    intercept[IllegalArgumentException] {
      TableLog.restore(spark, dir, 9)
    }.getMessage should include("cannot restore")

    // history lists every readable version with its shape
    val h = TableLog.history(spark, dir)
      .orderBy(col("version")).collect()
    h.length shouldBe 4
    h.map(_.getInt(0)).toSeq shouldBe Seq(0, 1, 2, 3)
    h(1).getInt(2) should be > 0 // the upsert removed (rewrote) files
    h(3).getInt(1) should be > 0 // the restore re-added v0 files

    // a vacuumed target refuses loudly
    TableLog.vacuum(spark, dir, retainVersions = 1)
    intercept[IllegalArgumentException] {
      TableLog.restore(spark, dir, 1)
    }.getMessage should include("vacuumed")
  }

  test("exclusive publish is ATOMIC on the local filesystem: a racer " +
      "that missed the exists() check still loses, never clobbers") {
    val dir = Files.createTempDirectory("tl-excl").toString
    val f = fs(dir)
    f.mkdirs(new Path(s"$dir/_log"))
    val p = new Path(s"$dir/_log/v00001.manifest")
    // winner publishes
    assert(TableLog.writeSmallFileAtomic(f, p, "winner\n",
      overwrite = false))
    // loser bypasses the exists() fast-fail (the TOCTOU window) and
    // goes straight to the publish — POSIX rename would REPLACE the
    // winner here; the hard-link publish must refuse
    assert(!TableLog.writeSmallFileAtomic(f, p, "loser\n",
      overwrite = false))
    val in = f.open(p)
    val body = try scala.io.Source.fromInputStream(in).mkString
    finally in.close()
    assert(body == "winner\n", s"winner's manifest was clobbered: $body")
    // no temp debris left behind
    assert(f.listStatus(new Path(s"$dir/_log"))
      .forall(!_.getPath.getName.endsWith(".tmp")))
  }

  test("overwriting publish on the local filesystem leaves only the " +
      "final file: no temp checksum debris") {
    val dir = Files.createTempDirectory("tl-over").toString
    val f = fs(dir)
    f.mkdirs(new Path(s"$dir/_log"))
    val p = new Path(s"$dir/_log/_last_checkpoint")
    (1 to 3).foreach { v =>
      assert(TableLog.writeSmallFileAtomic(f, p, v.toString,
        overwrite = true))
    }
    assert(TableLog.readSmallFile(f, p) == "3")
    val names = new java.io.File(s"$dir/_log").list().toSeq
    assert(names == Seq("_last_checkpoint"), names)
  }

  test("log publishes refuse a raw local filesystem that replaces on " +
      "rename, naming fs.file.impl") {
    val dir = Files.createTempDirectory("tl-stockfs").toString
    val stock = new LocalFileSystem()
    stock.initialize(URI.create("file:///"), new Configuration())
    intercept[IllegalArgumentException] {
      TableLog.writeSmallFileAtomic(stock,
        new Path(s"$dir/_log/v00000.manifest"), "add\tx\n",
        overwrite = false)
    }.getMessage should include("fs.file.impl")
    new java.io.File(s"$dir/_log").exists shouldBe false
  }

  test("readSmallFile returns the file it opened when an atomic " +
      "replace lands between the open and the read") {
    val dir = Files.createTempDirectory("tl-openrace")
    val target = dir.resolve("_last_checkpoint")
    @volatile var replacement: Option[String] = None
    val racing = new NioLocalFileSystem {
      override def open(p: Path, bufferSize: Int): FSDataInputStream = {
        val in = super.open(p, bufferSize)
        replacement.foreach { body =>
          val tmp = Files.createTempFile(dir, ".next", ".tmp")
          Files.write(tmp, body.getBytes("UTF-8"))
          Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        }
        in
      }
    }
    racing.initialize(URI.create("file:///"), new Configuration())
    // a growing pointer (99 -> 100) and a shrinking constraint list
    // (what dropConstraint publishes)
    for ((old, next) <- Seq("99" -> "100",
        "a\tid > 0\nb\tid < 9" -> "a\tid > 0")) {
      Files.write(target, old.getBytes("UTF-8"))
      replacement = Some(next)
      TableLog.readSmallFile(racing, new Path(target.toString)) shouldBe old
      replacement = None
      TableLog.readSmallFile(racing, new Path(target.toString)) shouldBe next
    }
  }

  test("a checkpoint without the format-2 header is refused loudly, " +
      "naming its file") {
    val dir = Files.createTempDirectory("tl-legacy").toString
    TableLog.writeBase(spark, base(50), dir)
    (0 until 3).foreach { i =>
      TableLog.appendOnce(spark, dir,
        Seq((1000L + i, s"a$i")).toDF("id", "body"), "appA", i.toLong)
    }
    // hand-write a round-7-style checkpoint at v3 (add lines only, no
    // header, no txn lines) + its pointer
    val f = fs(dir)
    val body = TableLog.liveFileStats(spark, dir).map {
      case TableLog.AddEntry(rel, Some((lo, hi))) => s"add\t$rel\t$lo\t$hi"
      case TableLog.AddEntry(rel, None) => s"add\t$rel"
    }.mkString("", "\n", "\n")
    assert(TableLog.writeSmallFileAtomic(f, cpFile(dir, 3), body,
      overwrite = false))
    assert(TableLog.writeSmallFileAtomic(f,
      new Path(s"$dir/_log/_last_checkpoint"), "3", overwrite = true))

    // its txn state is missing, so neither a read nor an idempotent
    // append may trust it: both fail, naming the file
    val cp = cpFile(dir, 3).toString
    intercept[IllegalArgumentException] {
      TableLog.readVersion(spark, dir)
    }.getMessage should include(cp)
    intercept[IllegalArgumentException] {
      TableLog.appendOnce(spark, dir,
        Seq((1002L, "dup")).toDF("id", "body"), "appA", 2L)
    }.getMessage should include(cp)
    TableLog.currentVersion(spark, dir) shouldBe 3
  }

  test("two genuinely concurrent disjoint upserts both land (one " +
      "rebases); concurrent appends from two apps both land") {
    val dir = Files.createTempDirectory("tl-conc").toString
    TableLog.writeBase(spark,
      base().repartitionByRange(4, col("id"))
        .sortWithinPartitions(col("id")),
      dir, statsKey = Some("id"))
    // ids 10 and 1900 live in different range files; neither batch's
    // keys can land in the other's touched or written ranges
    val fut1 = Future(TableLog.upsert(spark, dir,
      Seq((10L, "w1")).toDF("id", "body"), "id", maxRebases = 4))
    val fut2 = Future(TableLog.upsert(spark, dir,
      Seq((1900L, "w2")).toDF("id", "body"), "id", maxRebases = 4))
    Await.result(fut1, 120.seconds)
    Await.result(fut2, 120.seconds)
    TableLog.currentVersion(spark, dir) shouldBe 2
    val got = TableLog.readVersion(spark, dir)
    got.count() shouldBe 2000
    got.filter(col("id") === 10L).select("body")
      .head.getString(0) shouldBe "w1"
    got.filter(col("id") === 1900L).select("body")
      .head.getString(0) shouldBe "w2"

    // a DELETE racing an upsert on disjoint range files: the delete
    // rewrites id 20's file, the upsert id 1950's — both land
    val fd = Future(TableLog.delete(spark, dir,
      Seq(20L).toDF("id"), "id", maxRebases = 4))
    val fu = Future(TableLog.upsert(spark, dir,
      Seq((1950L, "w3")).toDF("id", "body"), "id", maxRebases = 4))
    Await.result(fd, 120.seconds)
    Await.result(fu, 120.seconds)
    TableLog.currentVersion(spark, dir) shouldBe 4
    val afterDelete = TableLog.readVersion(spark, dir)
    afterDelete.count() shouldBe 1999
    afterDelete.filter(col("id") === 20L).count() shouldBe 0
    afterDelete.filter(col("id") === 1950L).select("body")
      .head.getString(0) shouldBe "w3"
    afterDelete.filter(col("id") === 10L).select("body")
      .head.getString(0) shouldBe "w1"

    // concurrent appendOnce from two different apps: pure adds never
    // conflict — both land exactly once
    val fa = Future(TableLog.appendOnce(spark, dir,
      Seq((30000L, "a")).toDF("id", "body"), "appA", 0L))
    val fb = Future(TableLog.appendOnce(spark, dir,
      Seq((40000L, "b")).toDF("id", "body"), "appB", 0L))
    Await.result(fa, 120.seconds)
    Await.result(fb, 120.seconds)
    TableLog.currentVersion(spark, dir) shouldBe 6
    TableLog.readVersion(spark, dir).count() shouldBe 2001
  }
}
