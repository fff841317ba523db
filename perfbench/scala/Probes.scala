package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{FilePayload, FilesConfig, Modality, ShardsConfig}
import graft.functions.{GraftFunctions, TextFunctions}
import graft.operators.{AudioFingerprintFilter, DataFilter, ImageDedup,
  PHashFilter, Processor, SyntheticAudio, SyntheticImages}
import graft.queries.{Dedup, MaterializedAgg, TableLog, Tables}
import graft.sources.{DatasetReader, ShardWriters}

/** Direct calls into each layer's public functions, timed by the traced
  * run after the workload pass. Every call runs inside a
  * [[Harness.span]] labelled `layer:<name>`, so the event-log parser
  * can count the jobs each call started. Each timing is the median of
  * `Reps` calls unless noted. Inputs are the timed pass's own tables.
  */
object Probes {
  private val Reps = 3

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timed(spark: SparkSession, label: String)(body: => Unit)
      : Double = {
    val t0 = System.nanoTime()
    Harness.span(spark, s"layer:$label")(body)
    (System.nanoTime() - t0) / 1e9
  }

  /** Bytes of every regular file under `dir`, by path. */
  private def files(dir: String): Map[String, Long] = {
    val root = new File(dir).toPath
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try {
        val b = Map.newBuilder[String, Long]
        s.filter(Files.isRegularFile(_))
          .forEach(p => b += p.toString -> Files.size(p))
        b.result()
      } finally s.close()
    }
  }

  def all(spark: SparkSession, data: String, scratch: String)
      : Seq[(String, Double)] = {
    val media = s"$scratch/media"
    val images = render(spark, data, media, "png", Modality.Image,
      "image_path", (t, near) =>
        SyntheticImages.renderPng(SyntheticImages.seedOf(t), near))
    val audio = render(spark, data, media, "wav", Modality.Audio,
      "audio_path", (t, near) =>
        SyntheticAudio.renderWav(SyntheticAudio.seedOf(t), near))
    tableLog(spark, data, s"$scratch/tablelog") ++
      sources(spark, data, images, s"$scratch/sources") ++
      operators(spark, images, audio, media) ++
      functions(spark, data)
  }

  /** Loose media files for the first 100 documents, rendered from each
    * document's text (every 7th a near copy of the one 3 before it, as
    * the media queries plant them), and a processor over them. */
  private def render(spark: SparkSession, data: String, dir: String,
      ext: String, m: Modality, pathCol: String,
      draw: (String, Boolean) => Array[Byte]): Processor = {
    val texts = Tables.t(spark, data, "documents")
      .filter(col("doc_id") < 100).select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val payload = s"$dir/$ext"
    new File(payload).mkdirs()
    texts.keys.foreach { id =>
      val near = id % 7 == 3 && texts.contains(id - 3)
      Files.write(new File(payload, s"$id.$ext").toPath,
        draw(texts(if (near) id - 3 else id), near))
    }
    val meta = spark.createDataFrame(texts.keys.toSeq.sorted
      .map(id => (id, s"$payload/$id.$ext"))).toDF("doc_id", pathCol)
    Processor(meta, FilesConfig(payload, Seq(FilePayload(m, pathCol))))
  }

  /** `queries.tablelog.*`: a documents table taken through three rounds
    * of upsert, delete, compact and materialized-view maintenance. */
  def tableLog(spark: SparkSession, data: String, dir: String)
      : Seq[(String, Double)] = {
    val src = s"$dir/src"
    val view = s"$dir/view"
    val docs = Tables.t(spark, data, "documents")
      .select(col("doc_id"), col("text"), col("lang"),
        col("n_chars").cast("long").as("n_chars"), col("source"))
    val mx = docs.agg(max(col("doc_id"))).head.getLong(0)
    TableLog.writeBase(spark, docs.repartitionByRange(8, col("doc_id"))
      .sortWithinPartitions(col("doc_id")), src, statsKey = Some("doc_id"))
    def maintain() = MaterializedAgg.maintain(spark, src, "doc_id", view,
      Seq("source", "lang"), Seq("n_chars"))
    maintain()
    val upserts, deletes, compacts, reads, changes, maintains =
      scala.collection.mutable.ArrayBuffer.empty[Double]
    var rewritten = 0L
    var written = 0L
    var input = 0L
    for (round <- 1 to Reps) {
      val batch = docs.filter(pmod(col("doc_id"), lit(13)) === round)
        .select(col("doc_id"), concat(col("text"), lit(s" r$round"))
          .as("text"), col("lang"), (col("n_chars") + 3).as("n_chars"),
          col("source"))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(17)) === round)
          .select((col("doc_id") + lit((mx + 1) * round)).as("doc_id"),
            col("text"), col("lang"), col("n_chars"), col("source")))
      batch.write.parquet(s"$dir/batch$round")
      input += files(s"$dir/batch$round").values.sum
      val before = files(src)
      val liveBefore = TableLog.liveFiles(spark, src).toSet
      upserts += timed(spark, s"tablelog.upsert:$round") {
        TableLog.upsert(spark, src,
          spark.read.parquet(s"$dir/batch$round"), "doc_id")
      }
      rewritten += liveBefore.diff(TableLog.liveFiles(spark, src).toSet).size
      val lo = round * mx / 5
      deletes += timed(spark, s"tablelog.delete:$round") {
        TableLog.delete(spark, src, docs.filter(col("doc_id")
          .between(lo, lo + mx / 50)).select("doc_id"), "doc_id")
      }
      written += files(src).filter { case (p, _) => !before.contains(p) }
        .values.sum
      compacts += timed(spark, s"tablelog.compact:$round") {
        TableLog.compact(spark, src, 1L << 20)
      }
      val v = TableLog.currentVersion(spark, src)
      reads += timed(spark, s"tablelog.read_version:$round") {
        Harness.noop(TableLog.readVersion(spark, src, Some(v - 1)))
      }
      changes += timed(spark, s"tablelog.changes_between:$round") {
        Harness.noop(TableLog.changesBetween(spark, src, math.max(0, v - 3), v,
          "doc_id"))
      }
      maintains += timed(spark, s"tablelog.matagg_maintain:$round") {
        maintain()
      }
    }
    Seq(
      "queries.tablelog.upsert_s" -> median(upserts.toSeq),
      "queries.tablelog.delete_s" -> median(deletes.toSeq),
      "queries.tablelog.compact_s" -> median(compacts.toSeq),
      "queries.tablelog.read_version_s" -> median(reads.toSeq),
      "queries.tablelog.changes_between_s" -> median(changes.toSeq),
      "queries.tablelog.matagg_maintain_s" -> median(maintains.toSeq),
      "queries.tablelog.files_rewritten_per_upsert" ->
        rewritten.toDouble / Reps,
      "queries.tablelog.bytes_written_per_input_byte" ->
        written.toDouble / input)
  }

  /** `sources.*`: the rendered images through the file-to-tar shard
    * writer and the tar member scan, and a footer-only row count over a
    * 64-file parquet dir. */
  def sources(spark: SparkSession, data: String, images: Processor,
      dir: String): Seq[(String, Double)] = {
    val writes, reads = scala.collection.mutable.ArrayBuffer.empty[Double]
    var tarBytes = 0L
    for (i <- 1 to Reps) {
      val out = s"$dir/shards$i"
      var cfg: ShardsConfig = null
      writes += timed(spark, s"sources.shard_write:$i") {
        cfg = ShardWriters.saveToShards(images, out, maxFilesInShard = 25)
      }
      tarBytes = files(out).filter(_._1.endsWith(".tar")).values.sum
      reads += timed(spark, s"sources.shard_read:$i") {
        Harness.noop(DatasetReader.readShards(spark, cfg).df)
        Harness.noop(DatasetReader.readShardMembers(spark, cfg))
      }
    }
    Tables.t(spark, data, "documents").repartition(64)
      .write.parquet(s"$dir/multi")
    val footer = (1 to Reps).map { i =>
      timed(spark, s"sources.footer_meta:$i") {
        spark.catalog.refreshByPath(s"$dir/multi")
        DatasetReader.readFiles(spark,
          FilesConfig(s"$dir/multi", Nil, format = "parquet")).df.count()
      }
    }
    val read = median(reads.toSeq)
    Seq(
      "sources.shard_write_s" -> median(writes.toSeq),
      "sources.shard_read_s" -> read,
      "sources.shard_read_mb_per_s" -> tarBytes / 1048576.0 / read,
      "sources.footer_meta_s" -> median(footer))
  }

  /** `operators.*`: the rendered images and clips through tar shards,
    * then the fingerprint filters and the keep-first dedup. Each filter
    * timing includes its tar scan; `sources.shard_read_s` is that scan
    * alone. */
  def operators(spark: SparkSession, images: Processor, audio: Processor,
      dir: String): Seq[(String, Double)] = {
    val imageShards = ShardWriters.saveToShards(images, s"$dir/png-shards",
      maxFilesInShard = 25)
    val audioShards = ShardWriters.saveToShards(audio, s"$dir/wav-shards",
      maxFilesInShard = 25)
    def hashed(cfg: ShardsConfig, f: DataFilter): DataFrame =
      DatasetReader.readShards(spark, cfg).applyDataFilter(f).df
    val phash = (1 to Reps).map(i => timed(spark, s"operators.phash:$i") {
      Harness.noop(hashed(imageShards, PHashFilter(8)))
    })
    val audioFp = (1 to Reps).map(i =>
      timed(spark, s"operators.audio_fp:$i") {
        Harness.noop(hashed(audioShards, AudioFingerprintFilter()))
      })
    hashed(imageShards, PHashFilter(8))
      .select(col("doc_id").cast("long").as("doc_id"), col("image_phash_8"))
      .write.parquet(s"$dir/fps")
    val survivors = (1 to Reps).map(i =>
      timed(spark, s"operators.dedup_survivors:$i") {
        Harness.noop(ImageDedup.survivors(spark.read.parquet(s"$dir/fps"),
          "doc_id", "image_phash_8"))
      })
    Seq(
      "operators.phash_s" -> median(phash),
      "operators.audio_fp_s" -> median(audioFp),
      "operators.dedup_survivors_s" -> median(survivors))
  }

  /** `functions.*`: nanoseconds per row of one noop-forced select over
    * the cached documents table (spread over every core), or over the
    * cached pairs of consecutive embeddings for `cosine`. Each name is
    * measured on the expression the catalog queries call for it: the
    * `TextFunctions` column formulas where the catalog uses them, the
    * native `GraftFunctions` expressions where it uses those (minhash,
    * simhash, quality features, language id, cosine). */
  def functions(spark: SparkSession, data: String): Seq[(String, Double)] = {
    GraftFunctions.register(spark)
    val docs = Tables.fanOut(Tables.t(spark, data, "documents")
      .select(col("text"))).cache()
    val e = Tables.t(spark, data, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val pairs = Tables.fanOut(e.as("a").join(e.as("b"),
        col("b.vec_id") === col("a.vec_id") + 1)
      .select(col("a.embedding").cast("array<double>").as("a"),
        col("b.embedding").cast("array<double>").as("b"))).cache()
    val nDocs = docs.count().toDouble
    val nPairs = pairs.count().toDouble
    val text = col("text")
    val shingles = GraftFunctions.wordShingles(text, Dedup.ShingleK)
    val probes: Seq[(String, DataFrame, Double)] = Seq(
      ("topItemShare", docs.select(TextFunctions.topItemShare(
        split(text, " "))), nDocs),
      ("topTokenShare", docs.select(TextFunctions.topTokenShare(text)), nDocs),
      ("minhashSignature", docs.select(
        GraftFunctions.minhashSig(shingles, Dedup.NumHashes)), nDocs),
      ("simhash", docs.select(GraftFunctions.simhashBits(
        TextFunctions.simhashHashes60(shingles), Dedup.SimhashBits)), nDocs),
      ("wordNgrams", docs.select(TextFunctions.wordNgrams(text, 3)), nDocs),
      ("qualityScore", docs.select(TextFunctions.qualityScoreFromFeatures(
        GraftFunctions.textFeatures(text))), nDocs),
      ("langId", docs.select(GraftFunctions.langIdNative(text)), nDocs),
      ("cosine", pairs.select(GraftFunctions.cosineSim(col("a"), col("b"))),
        nPairs))
    val res = probes.map { case (name, df, rows) =>
      val ts = (1 to Reps).map(i =>
        timed(spark, s"functions.$name:$i")(Harness.noop(df)))
      s"functions.${name}_ns_per_row" -> median(ts) * 1e9 / rows
    }
    docs.unpersist()
    pairs.unpersist()
    res
  }
}
