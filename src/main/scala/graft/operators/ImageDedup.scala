package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate IMAGE detection over perceptual hashes — the
  * multimodal twin of the SimHash text pipeline, composing the pieces
  * the engine already has: [[PHashFilter]] supplies the 64-bit DCT
  * hash (reference: DPF/filters/images/hash_filters.py), this object
  * supplies the banded candidate generation + hamming verify +
  * cluster/survivor steps the reference lacks (its dedup is
  * hash-EQUALITY only; re-encoded or slightly retouched images
  * diverge by a few bits and survive equality dedup).
  *
  * Scale design is identical to the text sketches: the 64-bit hash
  * splits into [[Bands]] 16-bit bands; pairs colliding in ≥1 band
  * are candidates (pigeonhole: hamming ≤ [[Bands]]−1 pairs ALWAYS
  * share a band — recall is guaranteed, not probabilistic); ids-only
  * through the band self-join and pair-distinct; the popcount verify
  * re-attaches the two hashes by key join. Band keys are 16-bit —
  * fine to ~10⁶ images per the log₂ N rule; beyond that the text
  * pipeline's band-widening applies unchanged (the hash is 64 bits,
  * so 4 bands of 16 is the widest hamming-3-complete split; larger
  * corpora trade guaranteed recall for wider 21-bit × 3 bands at
  * hamming ≤ 2). */
object ImageDedup {

  /** 4 × 16-bit bands: complete recall for hamming ≤ 3. */
  val Bands = 4
  val BandBits = 16
  val MaxHamming = 3

  /** 16-hex-digit pHash → signed 64-bit long. Parsed in two 32-bit
    * halves: `conv(…, 16, 10)` emits a DECIMAL STRING, and a direct
    * long cast of a ≥2⁶³ value is null — recombine by shift+or,
    * which is wrap-exact and safe under ANSI overflow checking
    * (a plain ·2³² multiply throws for top-bit-set hashes).
    *
    * Non-null inputs that are not exactly 16 hex chars FAIL LOUDLY
    * instead of parsing to null: a `PHashFilter(hashSize != 8)`
    * column would otherwise silently empty the candidate set and
    * turn dedup into a no-op (nulls stay null — undecodable images
    * are legitimately skipped). */
  def phashLong(c: Column): Column =
    when(c.isNull, lit(null).cast("long"))
      // content check, not just length: conv() silently parses the
      // valid prefix of junk digits (conv('zz…',16,10) = '0'), which
      // would collapse unrelated images onto h=0 and "dedup" them
      .when(c.rlike("^[0-9a-fA-F]{16}$"),
        shiftleft(conv(substring(c, 1, 8), 16, 10).cast("long"), 32)
          .bitwiseOR(conv(substring(c, 9, 8), 16, 10).cast("long")))
      .otherwise(raise_error(concat(
        lit("ImageDedup expects 16-hex-char (64-bit) pHashes, got: "), c)))

  private def bandKeys(h: Column): Column =
    array((0 until Bands).map { b =>
      lit(b.toLong * (1L << BandBits)) +
        shiftright(h, b * BandBits).bitwiseAND(lit((1L << BandBits) - 1L))
    }: _*)

  /** Candidate pairs sharing ≥1 band, verified by exact hamming
    * distance ≤ `maxHamming`. Input: one row per image with a unique
    * id column and the hex hash column produced by [[PHashFilter]];
    * null hashes (undecodable images) are skipped. Output:
    * (id_a, id_b, hamming). */
  def nearDupPairs(df: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = MaxHamming): DataFrame =
    // pinned: a long-lived-pipeline operator's caches (the hash cache
    // here) must not outlive the call
    withPairs(df, idCol, hashCol, maxHamming)(_.localCheckpoint(true))

  /** Lends the verified pairs, unpinned, to `use` while the hash cache
    * they read is held (so under the components' fast-path gate one
    * capped collect is their only action); releases that cache after. */
  private def withPairs[A](df: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int)(use: DataFrame => A): A = {
    val h = df.select(col(idCol).as("id"), phashLong(col(hashCol)).as("h"))
      .filter(col("h").isNotNull)
      .persist()
    val banded = h.select(col("id"), explode(bandKeys(col("h"))).as("band"))
    val cands = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val ha = h.select(col("id").as("id_a"), col("h").as("h_a"))
    val hb = h.select(col("id").as("id_b"), col("h").as("h_b"))
    val pairs = cands.join(ha, "id_a").join(hb, "id_b")
      .withColumn("hamming",
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
    try use(pairs) finally h.unpersist()
  }

  /** Keep-first survivor set: near-dup pairs → connected components
    * → lowest id per cluster survives. Returns the survivor ids. */
  def survivors(df: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = MaxHamming): DataFrame = {
    val drops = withPairs(df, idCol, hashCol, maxHamming) { pairs =>
      val comp = ConnectedComponents.connectedComponents(
        pairs, "id_a", "id_b")
      // pin the (tiny) drop list, then RELEASE the label blocks
      // through Caches.release — Dataset.unpersist is a no-op on
      // checkpoint-backed frames (the round-7 lesson), and pipeline
      // callers invoke this per batch, so silently-lingering blocks
      // would accumulate until a driver GC
      val d = comp.filter(col("node") =!= col("component"))
        .select(col("node").as("id")).localCheckpoint(true)
      Caches.release(comp)
      d
    }
    df.select(col(idCol).as("id")).distinct()
      .join(drops, Seq("id"), "left_anti")
  }
}
