package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFunctions._
import graft.queries.Num._

/** Deduplication operator catalog over the `documents` table — the
  * scale-critical family of a training-data pipeline. The reference
  * only has exact dedup (`drop_duplicates`,
  * DPF/pipelines/pipeline_stages.py:50-60 and the README
  * `duplicated()` idiom); near-dup detection is the 100 TB extension.
  *
  * Scale design: every near-dup operator is
  *   sketch (narrow per-row map) → band explode → equi-join on band
  *   key → verify candidates,
  * so the only shuffles are on short band keys and the candidate set
  * is a tiny fraction of the N² pair space. No operator here compares
  * all pairs.
  *
  * All sketches are md5-derived, so the DuckDB oracles reproduce them
  * bit-for-bit.
  *
  * Cache scope: queries persist() sketch/candidate tables that their
  * own multi-branch plans consume; because a query function returns a
  * LAZY DataFrame, the persists cannot be unpersisted here. The
  * harness mains (Verify/Bench) clear the cache after executing each
  * query — any other long-lived caller should do the same.
  */
object Dedup {
  import Tables.t

  type Q = (SparkSession, String) => DataFrame

  // ---- parameters (shared by Spark queries and oracle SQL) ----
  val ShingleK = 3 // word-shingle width
  val NumHashes = 16 // minhash signature length
  // 2 bands × 8 rows: the synthetic corpus has ~0.5 baseline Jaccard
  // (31-word vocabulary), so r must be large enough that random pairs
  // rarely collide (0.5^8 ≈ 0.4%) while true near-dups (j ≈ 0.99)
  // still hit a band with p ≈ 1-(1-0.92)^2 ≈ 0.994
  val Bands = 2
  val RowsPerBand: Int = NumHashes / Bands
  val MinEstJaccard = 0.75 // signature-agreement verify threshold
  // SimHash sizing: band-key space is 2^(bits/bands), and collision
  // mass grows with N²/2^bandBits — the 32-bit/byte-band config
  // saturated at the 100× corpus (each band value held ~2k docs →
  // quadratic candidates, 83 s). 60-bit sketch, 4 × 15-bit bands:
  // ~32k values per band keeps collisions linear past 10⁶ docs while
  // the 4-band pigeonhole still guarantees recall at hamming ≤ 3.
  val SimhashBits = 60
  val SimhashBands = 4
  val SimhashBandBits: Int = SimhashBits / SimhashBands // 15
  val MaxHamming = 3 // tighter in relative terms at 60 bits (≈95%+)
  val MinNgramJaccard = 0.8 // char-4-gram verify threshold
  val NgramN = 4

  // ---- DuckDB fragments ----
  import TextAnalysis.SqlNorm

  /** word ShingleK-shingles of the normalized text (TextFunctions.shingles) */
  private val SqlShingles =
    s"""CASE WHEN length(ts) = 0 THEN []::VARCHAR[]
        WHEN length(ts) <= $ShingleK THEN [array_to_string(ts, ' ')]
        ELSE list_transform(generate_series(1, length(ts) - ${ShingleK - 1}),
               i -> array_to_string(list_slice(ts, i, i + ${ShingleK - 1}), ' ')) END"""

  private val SqlToksOfNorm =
    """list_filter(string_split_regex(nt, ' '), x -> x <> '')"""

  /** CTE prefix producing (doc_id, s = shingle list) from documents. */
  private val SqlShingleCte =
    s"""WITH n AS (SELECT doc_id, $SqlNorm AS nt FROM documents),
       tk AS (SELECT doc_id, $SqlToksOfNorm AS ts FROM n),
       sh AS (SELECT doc_id, $SqlShingles AS s FROM tk)"""

  /** Exact dedup: keep the first doc_id per content fingerprint —
    * deterministic `drop_duplicates` (pipeline_stages.py:50-60). One
    * shuffle on the 128-bit fingerprint. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    t(spark, dir, "documents")
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("fp"))
  }

  val dedupExactSql: String =
    s"""SELECT doc_id, fp FROM (
         SELECT doc_id, md5($SqlNorm) AS fp,
           row_number() OVER (PARTITION BY md5($SqlNorm) ORDER BY doc_id) AS rn
         FROM documents) WHERE rn = 1"""

  /** Per-document MinHash signature via the native fused expression
    * ([[graft.functions.expressions.MinhashSignature]]): one md5 per
    * shingle + 16 integer affine maps in a single JVM loop —
    * bit-identical to the composable HOF formula but without its
    * 17 interpreted passes. PERSISTED: the sketch table is consumed
    * three times (two band-join branches + the verify joins) —
    * sketch-once, reuse-everywhere is the correct shape at any scale
    * (at 100 TB this persist is a checkpoint of a few GB of sketches
    * vs re-hashing the corpus per branch). */
  private def docSignatures(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables.fanOut(t(spark, dir, "documents").select(col("doc_id"), col("text")))
      .withColumn("sh3",
        graft.functions.GraftFunctions.wordShingles(col("text"), ShingleK))
      .select(col("doc_id"),
        graft.functions.GraftFunctions.minhashSig(col("sh3"), NumHashes)
          .as("sig"))
      .persist()
  }

  /** Candidate pairs sharing ≥1 MinHash LSH band — ids ONLY through
    * the wide operations: the band self-join and the pair-distinct
    * shuffle rows of (band, id) / (id, id), never the signatures or
    * feature arrays. Sketches re-attach by key join afterwards; at
    * 100 TB that is the difference between shuffling kilobyte rows
    * and shuffling integers. */
  private def minhashCandPairs(sigs: DataFrame): DataFrame = {
    val banded = sigs.select(col("doc_id"),
      explode(minhashBands(col("sig"), Bands, RowsPerBand)).as("band"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** MinHash + LSH near-duplicate pairs: [[NumHashes]]-long signature
    * (one md5 base hash per word [[ShingleK]]-shingle, affine maps per
    * seed); [[Bands]] band keys; candidates = pairs sharing a band;
    * verified by signature agreement ≥ [[MinEstJaccard]]. est_jaccard
    * is an exact multiple of 1/16 — no float rounding needed for the
    * oracle. */
  /** Band candidates verified by signature agreement — the shared
    * first verify tier: O(signature) per pair, killing the random
    * band collisions (the corpus's ~0.5 baseline Jaccard makes those
    * plentiful) before anything expensive touches a pair. */
  private def minhashVerified(spark: SparkSession, dir: String): DataFrame = {
    val sigs = docSignatures(spark, dir)
    val sa = sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val sb = sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    val agree = size(filter(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), p => p))
    minhashCandPairs(sigs)
      .join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("est_jaccard", agree.cast("double") / NumHashes.toDouble)
      .filter(col("est_jaccard") >= MinEstJaccard)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
  }

  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    minhashVerified(spark, dir)

  /** CTE chain ending in `sig` (doc_id, sg) and `cand` (doc_a, doc_b)
    * — the DuckDB mirror of [[docSignatures]] + [[minhashCandPairs]]. */
  private val SqlMinhashCandCte: String = {
    import graft.functions.TextFunctions.{MinhashP, minhashA, minhashB}
    val sigItems = (0 until NumHashes).map(seed =>
      s"list_min(list_transform(hs, h -> (${minhashA(seed)} * (h % $MinhashP) + ${minhashB(seed)}) % $MinhashP))")
      .mkString(",\n           ")
    val bandItems = (0 until Bands).map { b =>
      val elems = (0 until RowsPerBand)
        .map(r => s"sg[${b * RowsPerBand + r + 1}]").mkString(", ")
      s"md5(concat_ws('|', 'band$b', $elems))"
    }.mkString(", ")
    s"""$SqlShingleCte,
       hss AS (SELECT doc_id, list_transform(s,
         x -> CAST(concat('0x', substring(md5(x), 1, 15)) AS BIGINT)) AS hs
         FROM sh),
       sig AS (SELECT doc_id, [$sigItems] AS sg FROM hss),
       bands AS (SELECT doc_id, unnest([$bandItems]) AS band FROM sig),
       cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM bands a JOIN bands b
                ON a.band = b.band AND a.doc_id < b.doc_id)"""
  }

  val dedupMinhashSql: String =
    s"""$SqlMinhashCandCte
       SELECT doc_a, doc_b,
         length(list_filter(generate_series(1, $NumHashes),
           i -> x.sg[i] = y.sg[i]))::DOUBLE / $NumHashes.0 AS est_jaccard
       FROM cand JOIN sig x ON x.doc_id = cand.doc_a
                 JOIN sig y ON y.doc_id = cand.doc_b
       WHERE length(list_filter(generate_series(1, $NumHashes),
         i -> x.sg[i] = y.sg[i]))::DOUBLE / $NumHashes.0 >= $MinEstJaccard"""

  /** Spark-side simhash-banded candidate pairs: (doc_a, doc_b, sh_a,
    * sh_b) for pairs sharing ≥1 of the [[SimhashBands]] 15-bit bands
    * of the 60-bit sketch. SimHash runs over distinct word-shingles
    * (a 31-word vocabulary makes token-set simhash degenerate; the
    * shingle space is rich). The rows through the band join are
    * (id, long, band) — sketch longs are cheap enough to ride the
    * shuffle. */
  private def simhashCandidates(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables.fanOut(t(spark, dir, "documents")
      .select(col("doc_id"), col("text")))
      .withColumn("hs", simhashHashes60(
        graft.functions.GraftFunctions.wordShingles(col("text"), ShingleK)))
      .select(col("doc_id"), col("hs"))
      // native codegen'd sketch: one fused loop instead of 60
      // interpreted aggregate passes (bit-identical, see SimHashBits)
      .withColumn("sh",
        graft.functions.GraftFunctions.simhashBits(col("hs"), SimhashBits))
      .drop("hs")
      .persist() // consumed by both band-join branches
    val bandMask = (1L << SimhashBandBits) - 1L
    val bandKeys = array((0 until SimhashBands).map { b =>
      shiftright(col("sh"), SimhashBandBits * b).bitwiseAND(lit(bandMask)) +
        lit(b.toLong * (bandMask + 1L))
    }: _*)
    val banded = docs.withColumn("bk", explode(bandKeys))
    // verify BEFORE the pair-distinct: hamming is a per-row bit op,
    // the distinct is a shuffle — filtering first means only real
    // near-dup pairs (not the collision mass) ride the exchange
    banded.as("a")
      .join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sh").as("sh_a"), col("b.sh").as("sh_b"))
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= MaxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .distinct()
  }

  /** DuckDB CTE chain computing (doc_id, sh = simhash) plus banded
    * keys, mirroring [[simhashCandidates]]. Ends with `cand`. */
  private def sqlSimhashCte(): String = {
    val votes = (0 until SimhashBits).map { b =>
      val mask = 1L << b
      s"CASE WHEN coalesce(list_sum(list_transform(hs, h -> CASE WHEN (h & $mask) > 0 THEN 1 ELSE -1 END)), 0) > 0 THEN $mask ELSE 0 END"
    }.mkString(" + ")
    val bandMask = (1L << SimhashBandBits) - 1L
    val bandItems = (0 until SimhashBands)
      .map(b => s"((sh >> ${SimhashBandBits * b}) & $bandMask) + ${b * (bandMask + 1L)}")
      .mkString(", ")
    s"""$SqlShingleCte,
       hsh AS (SELECT doc_id, list_transform(list_distinct(s),
         x -> CAST(concat('0x', substring(md5(x), 1, 15)) AS BIGINT)) AS hs
         FROM sh),
       sim AS (SELECT doc_id, ($votes)::BIGINT AS sh FROM hsh),
       banded AS (SELECT doc_id, sh, unnest([$bandItems]) AS bk FROM sim),
       cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.sh AS sh_a, b.sh AS sh_b
                FROM banded a JOIN banded b
                ON a.bk = b.bk AND a.doc_id < b.doc_id)"""
  }

  /** SimHash near-duplicate pairs: hamming distance ≤ [[MaxHamming]]
    * over banded candidates. The [[SimhashBands]] 15-bit bands
    * pigeonhole-guarantee that every pair within hamming 3 shares a
    * band — the LSH is lossless at this threshold. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashCandidates(spark, dir)

  val dedupSimhashSql: String =
    s"""${sqlSimhashCte()}
       SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b))::BIGINT AS hamming
       FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= $MaxHamming"""

  /** N-gram Jaccard near-duplicate pairs: char-[[NgramN]]-gram set
    * Jaccard ≥ [[MinNgramJaccard]] as the exact verify over MinHash
    * LSH candidates (sketch-block → exact-verify, the scalable
    * shape). The n-gram arrays attach to the tiny candidate set by
    * key join — they never ride the band shuffle. */
  def dedupNgram(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // CASCADE: signature agreement (cheap) kills the random band
    // collisions before the exact set ops touch a pair — at 10× data
    // the un-cascaded version spent 75 s intersecting ~5M random
    // collisions (the corpus's ~0.5 baseline Jaccard makes them
    // plentiful); the cascaded one verifies only the survivors
    val verified = minhashVerified(spark, dir).persist()
    // n-gram features ONLY for docs that appear in a candidate pair
    // (a broadcast-able id set): the exact-verify features are never
    // computed for the non-candidate bulk — at 100 TB that is the
    // difference between featurizing ~0.1% of the corpus and all of
    // it. (The sketch pass above already read every doc; this pass
    // re-reads just the candidates via a semi join on the scan.)
    val candIds = verified.select(col("doc_a").as("doc_id"))
      .union(verified.select(col("doc_b").as("doc_id"))).distinct()
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    // fanOut AFTER the semi join: the surviving candidate docs (not
    // the corpus) spread across all cores for the n-gram featurize —
    // without it a single-file scan leaves one task doing all of it
    // (observed 140 s at the 10× corpus where every doc is a candidate)
    // no broadcast hint on candIds: its size is corpus-dependent (the
    // 10× experiment had EVERY doc as a candidate), so a forced
    // broadcast can exceed the driver limit on adversarial corpora —
    // AQE sees the actual size at runtime and broadcasts iff small
    // grams travel as 60-bit HASHES (array<long>), not strings: the
    // verify join copies each pair's two ~300-element feature arrays
    // into its output rows, and a long array is a flat memcpy where a
    // string array pays per-element offset bookkeeping (measured 15 s
    // → ~4 s on the 10× corpus); the long-long jaccard path then
    // sort-merges primitives with no boxing
    val grams = Tables.fanOut(
        docs.join(candIds, Seq("doc_id"), "left_semi"))
      .select(col("doc_id"),
        graft.functions.GraftFunctions.ngramHashes(col("text"), NgramN)
          .as("gs"))
      .persist() // consumed by both verify joins
    val ga = grams.select(col("doc_id").as("doc_a"), col("gs").as("gs_a"))
    val gb = grams.select(col("doc_id").as("doc_b"), col("gs").as("gs_b"))
    verified
      .join(ga, "doc_a").join(gb, "doc_b")
      .withColumn("jac",
        graft.functions.GraftFunctions.jaccardSim(col("gs_a"), col("gs_b")))
      .filter(col("jac") >= MinNgramJaccard)
      .select(col("doc_a"), col("doc_b"), r4(col("jac")).as("jaccard"))
  }

  val dedupNgramSql: String = {
    // charNgrams over the normalized text (distinct n-grams)
    val gs =
      s"""CASE WHEN length(nt) < $NgramN THEN
            CASE WHEN length(nt) = 0 THEN []::VARCHAR[] ELSE [nt] END
          ELSE list_distinct(list_transform(
            generate_series(1, length(nt) - ${NgramN - 1}),
            i -> substring(nt, i, $NgramN))) END"""
    val jac = """CASE WHEN length(list_distinct(list_concat(ga.gs, gb.gs))) = 0
          THEN 0.0
          ELSE length(list_intersect(ga.gs, gb.gs))::DOUBLE
               / length(list_distinct(list_concat(ga.gs, gb.gs))) END"""
    // mirrors the cascade: band candidates → est_jaccard tier →
    // exact n-gram verify on survivors
    s"""$SqlMinhashCandCte,
       verified AS (SELECT doc_a, doc_b
             FROM cand JOIN sig x ON x.doc_id = cand.doc_a
                       JOIN sig y ON y.doc_id = cand.doc_b
             WHERE length(list_filter(generate_series(1, $NumHashes),
               i -> x.sg[i] = y.sg[i]))::DOUBLE / $NumHashes.0
               >= $MinEstJaccard),
       grams AS (SELECT doc_id, list_transform($gs,
           x -> CAST(concat('0x', substring(md5(x), 1, 15)) AS BIGINT))
         AS gs FROM n),
       x AS (SELECT doc_a, doc_b, $jac AS jac
             FROM verified JOIN grams ga ON ga.doc_id = verified.doc_a
                           JOIN grams gb ON gb.doc_id = verified.doc_b)
       SELECT doc_a, doc_b, ${sqlR("jac", 4)} AS jaccard
       FROM x WHERE jac >= $MinNgramJaccard"""
  }

  // ---- corpus-duplicated n-gram coverage (exact-substring signal) ----
  val CoverN = 5 // word n-gram width for the coverage signal
  val CoverMinDocs = 2 // "duplicated" = the gram appears in ≥ this many docs

  /** Corpus-duplicated n-gram coverage — the ExactSubstr dedup signal
    * of Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (arXiv:2107.06499), re-expressed relationally: for each
    * document, the fraction of token positions covered by at least one
    * word [[CoverN]]-gram occurring in ≥ [[CoverMinDocs]] distinct
    * documents — i.e. shared with at least one other document. (The
    * reference has no analog; its dedup is whole-row
    * `drop_duplicates`.)
    *
    * Scale shape: positional grams ride every shuffle as 60-bit
    * md5-prefix LONGS (hash-before-shuffle rule, NOTES.md) — the gram
    * strings never leave the map side. The duplicated-gram set is one
    * partial-agg'd distinct count over gram hashes; coverage is the
    * per-doc distinct count of exploded [pos, pos+N) intervals, one
    * shuffle on doc_id. Everything is groupBy/semi-join on hashed
    * keys — no pair blow-up, no driver state; linear in corpus token
    * count. */
  def dupGramCoverage(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // token count WITHOUT higher-order functions: split yields one
    // empty field per whitespace END of the text (leading and, with
    // Spark's limit=-1, trailing) — subtract those instead of running
    // the interpreted filter-lambda chain, which cost ~1 ms/doc at
    // the 100× corpus; identical to size(tokens(text)) on all input
    val sz = size(split(col("text"), "\\s+"))
    val nTokens = when(length(col("text")) === 0, lit(0L))
      .otherwise((sz
        - when(col("text").rlike("^\\s"), 1).otherwise(0)
        - when(col("text").rlike("\\s$"), 1).otherwise(0)).cast("long"))
    // (doc_id, pos, gram-hash): pos is the gram's 0-based start token
    val occ = Tables.fanOut(t(spark, dir, "documents"))
      .select(col("doc_id"),
        posexplode(graft.functions.GraftFunctions
          .wordGramHashes(col("text"), CoverN)).as(Seq("pos", "gh")))
    val dup = occ.groupBy(col("gh"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= CoverMinDocs)
      .select(col("gh"))
    val covered = occ.join(dup, Seq("gh"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(CoverN - 1))).as("p"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("p")).as("covered_tokens"))
    t(spark, dir, "documents")
      .select(col("doc_id"), nTokens.as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        r4(when(col("n_tokens") === 0, 0.0)
          .otherwise(coalesce(col("covered_tokens"), lit(0L)).cast("double")
            / col("n_tokens").cast("double"))).as("dup_coverage"))
  }

  val dupGramCoverageSql: String = {
    import TextAnalysis.SqlToksLower
    s"""WITH w AS (SELECT doc_id, $SqlToksLower AS ts FROM documents),
       o AS (SELECT doc_id, ts AS ws,
         unnest(range(0, greatest(length(ts) - ${CoverN - 1}, 0))) AS i
       FROM w),
       g AS (SELECT doc_id, i,
         CAST(concat('0x', substring(md5(
           array_to_string(ws[i+1:i+$CoverN], ' ')), 1, 15)) AS BIGINT) AS gh
       FROM o),
       d AS (SELECT gh FROM g GROUP BY gh
             HAVING count(DISTINCT doc_id) >= $CoverMinDocs),
       cp AS (SELECT doc_id, i + unnest(range(0, $CoverN)) AS p
              FROM g JOIN d USING (gh)),
       c AS (SELECT doc_id, count(DISTINCT p)::BIGINT AS covered_tokens
             FROM cp GROUP BY doc_id),
       n AS (SELECT doc_id, length(ts)::BIGINT AS n_tokens FROM w)
       SELECT n.doc_id, n_tokens,
         coalesce(covered_tokens, 0)::BIGINT AS covered_tokens,
         ${sqlR("CASE WHEN n_tokens = 0 THEN 0.0 ELSE coalesce(covered_tokens, 0)::DOUBLE / n_tokens END", 4)} AS dup_coverage
       FROM n LEFT JOIN c USING (doc_id)"""
  }

  /** ExactSubstr-STYLE REMOVAL (Lee et al. 2107.06499 §4.1, the
    * cleanup step on top of [[dupGramCoverage]]'s signal): rewrite
    * each document with duplicated spans removed, keeping exactly ONE
    * canonical copy corpus-wide. Span proxy = word [[CoverN]]-grams
    * occurring in ≥ [[CoverMinDocs]] docs (the suffix-array maximal
    * match of the paper does not distribute; the fixed-width gram
    * grid is the standard scalable proxy). Canonical occurrence of a
    * gram = lexicographic min (doc_id, pos); a token position is
    * removed iff some duplicated-gram occurrence covers it and NO
    * canonical occurrence does — so the first copy survives intact
    * and later copies lose exactly the duplicated region. Output is
    * the normalized token stream (lowercased, single-spaced), the
    * convention of pipelines that tokenize before dedup and
    * detokenize after.
    *
    * Scale shape: grams ride shuffles as positional 60-bit longs
    * (strings never leave the map side); the canonical occurrence is
    * one `min(struct(doc, pos))` partial-agg per gram — no window,
    * no sort; covered positions aggregate per (doc, pos) with a
    * boolean max. The rebuild never shuffles the corpus: removed
    * positions collapse to ONE per-doc int list (leak-sized — dup
    * coverage × corpus, the vanishing fraction at 100 TB) and join
    * back to a second narrow scan; clean docs take the null branch
    * (no per-token lambda), only leaking docs pay the HOF filter. */
  def dupGramRemoval(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // The occurrence set has two consumers (dup-set aggregate,
    // canonical re-join) and is deliberately NOT persisted: caching
    // the corpus-sized gram arrays was MEASURED slower than hashing
    // twice (500k docs: 30.5s cached vs 24.3s recomputed — the
    // MEMORY_AND_DISK round-trip of ~GB arrays costs more than the
    // md5 map work it saves), the same lesson as packSequences.
    val occ = Tables.fanOut(t(spark, dir, "documents"))
      .select(col("doc_id"),
        posexplode(graft.functions.GraftFunctions
          .wordGramHashes(col("text"), CoverN)).as(Seq("pos", "gh")))
    val dup = occ.groupBy(col("gh"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= CoverMinDocs)
      .select(col("gh"))
    val docc = occ.join(dup, Seq("gh"), "left_semi")
    val canon = docc.groupBy(col("gh"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("c"))
    val removed = docc.join(canon, Seq("gh"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(CoverN - 1))).as("p"),
        (struct(col("doc_id"), col("pos")) === col("c")).as("is_canon"))
      .groupBy(col("doc_id"), col("p"))
      .agg(max(col("is_canon")).as("anyc"))
      .filter(!col("anyc"))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("p")).as("rem_ps"))
    // array_remove(split) = tokens() without the interpreted HOF —
    // empties only arise at the edges, so removal ≡ the filter form
    val ws = array_remove(split(lower(col("text")), "\\s+"), "")
    t(spark, dir, "documents")
      .select(col("doc_id"), ws.as("ws"))
      .join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        when(col("rem_ps").isNull, lit(0L))
          .otherwise(size(col("rem_ps")).cast("long")).as("n_removed"),
        when(col("rem_ps").isNull, concat_ws(" ", col("ws")))
          .otherwise(concat_ws(" ",
            filter(col("ws"),
              (w, i) => !array_contains(col("rem_ps"), i))))
          .as("clean_text"))
  }

  val dupGramRemovalSql: String = {
    import TextAnalysis.SqlToksLower
    s"""WITH w AS (SELECT doc_id, $SqlToksLower AS ts FROM documents),
       o AS (SELECT doc_id, ts AS ws,
         unnest(range(0, greatest(length(ts) - ${CoverN - 1}, 0))) AS i
       FROM w),
       g AS (SELECT doc_id, i,
         CAST(concat('0x', substring(md5(
           array_to_string(ws[i+1:i+$CoverN], ' ')), 1, 15)) AS BIGINT) AS gh
       FROM o),
       d AS (SELECT gh FROM g GROUP BY gh
             HAVING count(DISTINCT doc_id) >= $CoverMinDocs),
       dc AS (SELECT doc_id, i, gh,
              row_number() OVER (PARTITION BY gh ORDER BY doc_id, i) = 1
                AS canon
              FROM g JOIN d USING (gh)),
       cp AS (SELECT doc_id, i + unnest(range(0, $CoverN)) AS p, canon
              FROM dc),
       rp AS (SELECT doc_id, p FROM cp GROUP BY doc_id, p
              HAVING NOT bool_or(canon)),
       tok AS (SELECT doc_id, unnest(range(0, length(ts))) AS p FROM w),
       kept AS (SELECT tok.doc_id, tok.p FROM tok
                ANTI JOIN rp USING (doc_id, p)),
       cln AS (SELECT kept.doc_id,
                 string_agg(w.ts[kept.p + 1], ' ' ORDER BY kept.p) AS ct
               FROM kept JOIN w ON kept.doc_id = w.doc_id
               GROUP BY kept.doc_id),
       r AS (SELECT doc_id, count(*)::BIGINT AS n_removed
             FROM rp GROUP BY doc_id)
       SELECT w.doc_id, length(ts)::BIGINT AS n_tokens,
         coalesce(r.n_removed, 0)::BIGINT AS n_removed,
         coalesce(cln.ct, '') AS clean_text
       FROM w LEFT JOIN r USING (doc_id) LEFT JOIN cln USING (doc_id)"""
  }

  /** Near-dup CLUSTERS from the verified MinHash pairs: transitive
    * closure via [[graft.operators.ConnectedComponents]], one row per
    * cluster with its size. Component id = min doc_id = the survivor
    * key — pairwise keep-min under-deletes (a–b, b–c leaves both a
    * and c) and this is the step that fixes it. The oracle mirrors
    * the closure with a DuckDB recursive CTE over the same pair
    * set. */
  def dedupComponents(spark: SparkSession, dir: String): DataFrame =
    graft.operators.ConnectedComponents.componentSizes(
      minhashVerified(spark, dir), "doc_a", "doc_b")

  /** Recursive-CTE closure over the verified pair set, ending in
    * `lab (node, component)` — shared by the components and survivors
    * oracles. Starts with WITH RECURSIVE (DuckDB requires the marker
    * at the head of the whole chain). */
  private[queries] lazy val SqlClosureCte: String = {
    val cte = SqlMinhashCandCte.replaceFirst("WITH ", "WITH RECURSIVE ")
    s"""$cte,
       pairs AS (
         SELECT doc_a, doc_b
         FROM cand JOIN sig x ON x.doc_id = cand.doc_a
                   JOIN sig y ON y.doc_id = cand.doc_b
         WHERE length(list_filter(generate_series(1, $NumHashes),
           i -> x.sg[i] = y.sg[i]))::DOUBLE / $NumHashes.0 >= $MinEstJaccard),
       e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
             UNION SELECT doc_b AS u, doc_a AS v FROM pairs),
       reach(node, comp) AS (
         SELECT u, u FROM (SELECT DISTINCT u FROM e)
         UNION
         SELECT e.v, r.comp FROM e JOIN reach r ON e.u = r.node),
       lab AS (SELECT node, min(comp) AS component FROM reach GROUP BY node)"""
  }

  val dedupComponentsSql: String =
    s"""$SqlClosureCte
       SELECT component, count(*) AS n_docs FROM lab GROUP BY 1"""

  /** The end-to-end dedup deliverable: the corpus AFTER near-dup
    * cluster deletion — every doc that is not a non-minimum member of
    * a near-dup cluster, audited per source. One anti-join of the
    * (tiny) drop list against the corpus; at 100 TB the drop list is
    * the only thing the closure ever materializes. */
  def dedupSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val drops = nearDupDrops(spark, dir)
    t(spark, dir, "documents")
      .join(drops, Seq("doc_id"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
  }

  /** The near-dup DROP LIST — every doc that is a non-minimum member
    * of a verified MinHash near-dup cluster. The tiny frame every
    * downstream survivor/pipeline query anti-joins; at 100 TB this
    * is the only thing the closure ever materializes. */
  private[queries] def nearDupDrops(spark: SparkSession,
      dir: String): DataFrame = {
    val labels = graft.operators.ConnectedComponents
      .connectedComponents(minhashVerified(spark, dir), "doc_a", "doc_b")
    // pin the (tiny) drop list, release the node-sized label cache
    val drops = labels.filter(col("component") =!= col("node"))
      .select(col("node").as("doc_id"))
      .localCheckpoint(true)
    graft.operators.Caches.release(labels)
    drops
  }

  val dedupSurvivorsSql: String =
    s"""$SqlClosureCte,
       drops AS (SELECT node FROM lab WHERE node <> component)
       SELECT source, count(*)::BIGINT AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars
       FROM documents WHERE doc_id NOT IN (SELECT node FROM drops)
       GROUP BY source"""

  /** Quality-aware survivor election: within each near-dup cluster,
    * keep the HIGHEST-QUALITY copy (doc_id tie-break) instead of the
    * arbitrary minimum id — the curation-correct dedup policy (near
    * duplicates usually differ by boilerplate, truncation, or OCR
    * noise, and min-id throws away the clean copy as readily as the
    * dirty one). Output: one row per cluster with its elected
    * survivor, the survivor's quality, and the cluster size.
    *
    * Scale shape: the closure labels only docs that are IN clusters
    * (a tiny fraction of the corpus); the quality join touches that
    * set alone via a co-keyed doc_id join, and the election window
    * partitions by component — cluster-sized partitions, never
    * corpus-sized. The quality score is the shared r4'd formula, so
    * the argmax is deterministic cross-engine. */
  def dedupBestSurvivor(spark: SparkSession, dir: String): DataFrame = {
    val labels = graft.operators.ConnectedComponents
      .connectedComponents(minhashVerified(spark, dir), "doc_a", "doc_b")
    // pin the (cluster-membership-sized, tiny) projection, release
    // the localCheckpoint-backed label cache per the CC caller
    // contract — same pattern as dedupSurvivors above
    val lab = labels.select(col("node").as("doc_id"), col("component"))
      .localCheckpoint(true)
    graft.operators.Caches.release(labels)
    val q = TextAnalysis.textQuality(spark, dir)
      .select(col("doc_id"), col("quality"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("quality").desc, col("doc_id"))
    lab
      .join(q, "doc_id")
      .withColumn("rk", row_number().over(w))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"),
        max(when(col("rk") === 1, col("doc_id"))).as("survivor_id"),
        max(when(col("rk") === 1, col("quality"))).as("survivor_quality"))
  }

  val dedupBestSurvivorSql: String = {
    val cte = SqlClosureCte
    s"""$cte,
       q AS (SELECT doc_id, ${sqlR(TextAnalysis.SqlQualityExpr, 4)}
               AS quality
             FROM (${TextAnalysis.SqlFeatureSelect}) f),
       ranked AS (SELECT component, node AS doc_id, quality,
               row_number() OVER (PARTITION BY component
                 ORDER BY quality DESC, node) AS rk
             FROM lab JOIN q ON q.doc_id = lab.node)
       SELECT component, count(*)::BIGINT AS n_docs,
         max(CASE WHEN rk = 1 THEN doc_id END) AS survivor_id,
         max(CASE WHEN rk = 1 THEN quality END) AS survivor_quality
       FROM ranked GROUP BY 1"""
  }

  /** Cross-source duplicate matrix: for every source pair, how many
    * bag-of-words fingerprints they share — the corpus forensics a
    * mixing decision needs before weighting sources (is src A a
    * re-crawl of src B? how much would admitting both double-count?).
    * The fingerprint is order-insensitive (sorted distinct lowercase
    * words), so shuffled re-renders of the same content count as
    * shared; exact-dup analysis is [[dedupExact]].
    *
    * Scale shape: distinct on (source, fingerprint) is one shuffle of
    * narrow rows; the self-join key is the fingerprint, whose fan-out
    * per key is bounded by the SOURCE COUNT (each side keeps at most
    * one row per (source, fp)), so no hot keys exist at any corpus
    * size; the pair aggregate is ≤ S² rows with map-side combine. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanOut(t(spark, dir, "documents"))
      .select(col("source"),
        md5(concat_ws(" ",
          array_sort(array_distinct(split(lower(col("text")), " ")))))
          .as("fp"))
      .distinct()
    d.as("a").join(d.as("b"), Seq("fp"))
      .filter(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  val sourceOverlapSql: String =
    s"""WITH d AS (SELECT DISTINCT source,
         md5(array_to_string(list_sort(list_distinct(
           string_split(lower(text), ' '))), ' ')) AS fp
       FROM documents)
       SELECT a.source AS src_a, b.source AS src_b,
         count(*) AS n_shared
       FROM d a JOIN d b ON a.fp = b.fp AND a.source < b.source
       GROUP BY 1, 2"""

  /** Increment boundary for [[dedupIncremental]]: doc_id below is the
    * already-ingested corpus, at/above is the new batch. */
  val IncrementalCut = 400L

  /** Incremental exact dedup — the operational shape of a corpus
    * that GROWS (daily crawl drops): the existing corpus is
    * represented only by its fingerprint store, and a new batch
    * survives if (a) its fingerprint is absent from the store and
    * (b) it is first within the batch. The reference's
    * `drop_duplicates` re-scans the whole corpus per run; at 100 TB
    * the store is a materialized fingerprint table (a few bytes per
    * document) and each increment costs one anti-join of the BATCH
    * against it — corpus text is never re-read.
    *
    * Scale shape: both join sides are narrow (fp[, doc_id]); with the
    * store parquet bucketed by fp the anti-join co-locates and only
    * the increment shuffles. Survivors' fingerprints appended to the
    * store keep the next run incremental. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val f = t(spark, dir, "documents")
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
    val store = f.filter(col("doc_id") < IncrementalCut)
      .select(col("fp")).distinct()
    val inc = f.filter(col("doc_id") >= IncrementalCut)
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    inc.join(store, Seq("fp"), "left_anti")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("fp"))
  }

  val dedupIncrementalSql: String =
    s"""WITH f AS (SELECT doc_id, md5($SqlNorm) AS fp FROM documents),
       store AS (SELECT DISTINCT fp FROM f WHERE doc_id < $IncrementalCut),
       inc AS (SELECT doc_id, fp FROM f WHERE doc_id >= $IncrementalCut)
       SELECT doc_id, fp FROM (
         SELECT doc_id, fp,
           row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
         FROM inc WHERE fp NOT IN (SELECT fp FROM store)) WHERE rn = 1"""

  /** Chunk width (words) for [[paragraphDedup]] — the "paragraph"
    * granule of a corpus whose documents carry no layout breaks. */
  val ChunkWords = 20

  /** Paragraph-granularity exact dedup — the C4 recipe (Raffel et al.
    * 2020, arXiv:1910.10683 §2.2 dedups three-sentence spans across
    * the whole corpus, keeping first occurrence): documents split
    * into fixed [[ChunkWords]]-word chunks (this corpus has no
    * newline structure, so the granule is positional), every chunk
    * deduped GLOBALLY keep-first in (doc_id, chunk_idx) order, and
    * each document re-assembled from its surviving chunks.
    *
    * Scale shape: same single-shuffle cost class as [[dedupExact]],
    * just at chunk granularity — the explode is narrow (doc_id, idx,
    * chunk) and the one corpus-wide shuffle partitions on the chunk
    * text (which must ride the shuffle anyway for re-assembly); the
    * re-assembly group-by shuffles the SURVIVING chunks back on
    * doc_id. No pair space exists anywhere — this is the exact-match
    * complement of the sketch families above, and the first pass a
    * C4-style pipeline runs before near-dup sketching. */
  def paragraphDedup(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.fanOut(t(spark, dir, "documents"))
      .select(col("doc_id"),
        expr("filter(split(lower(text), ' '), x -> x != '')").as("ws"))
      .filter(size(col("ws")) > 0)
    val chunks = toks.select(col("doc_id"), posexplode(expr(
      s"""transform(sequence(0, (size(ws) - 1) div $ChunkWords),
            i -> array_join(slice(ws, i * $ChunkWords + 1, $ChunkWords), ' '))"""))
      .as(Seq("cidx", "chunk")))
    val w = Window.partitionBy(col("chunk"))
      .orderBy(col("doc_id"), col("cidx"))
    chunks.withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_join(expr(
          """transform(array_sort(collect_list(
               CASE WHEN rn = 1 THEN struct(cidx, chunk) END)),
             s -> s.chunk)"""), " ").as("kept_text"))
  }

  val paragraphDedupSql: String =
    s"""WITH tk AS (SELECT doc_id,
           list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
         FROM documents),
       ne AS (SELECT * FROM tk WHERE len(ws) > 0),
       cl AS (SELECT doc_id,
                list_transform(generate_series(0, (len(ws) - 1) // $ChunkWords),
                  i -> {'cidx': i, 'chunk': array_to_string(
                    list_slice(ws, i * $ChunkWords + 1,
                      i * $ChunkWords + $ChunkWords), ' ')}) AS cs
              FROM ne),
       ch AS (SELECT doc_id, u.cidx AS cidx, u.chunk AS chunk
              FROM (SELECT doc_id, unnest(cs) AS u FROM cl)),
       k AS (SELECT doc_id, cidx, chunk,
               row_number() OVER (PARTITION BY chunk
                 ORDER BY doc_id, cidx) AS rn FROM ch)
       SELECT doc_id, count(*)::BIGINT AS n_chunks,
         sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         coalesce(string_agg(chunk, ' ' ORDER BY cidx)
           FILTER (WHERE rn = 1), '') AS kept_text
       FROM k GROUP BY doc_id"""

  // ---- KMV distinct-count sketch ----

  /** Sketch size: estimator std error ≈ 1/√(k−2) ≈ 9%. */
  val KmvK = 128

  /** 2^60 — exactly representable as a double (power of two), so
    * `h / 2^60` is the same IEEE value in Spark and DuckDB. */
  private[graft] val KmvScale = 1152921504606846976.0

  /** K-minimum-values distinct-count sketch (Bar-Yossef et al. 2002)
    * over the corpus's text fingerprints: keep the [[KmvK]] smallest
    * DISTINCT 60-bit md5 hashes; the k-th smallest, scaled to (0,1),
    * estimates the distinct count as (k−1)/u_k. When the corpus has
    * fewer than k distinct values the sketch IS the exact answer.
    *
    * Why a sketch when [[dedupExact]] computes exact distinct: the
    * exact path shuffles every distinct fingerprint; the sketch's
    * per-partition state is a bounded k-element heap and only ≤ k
    * survivors per partition reach the final top-k — at 100 TB that
    * is ~k·P longs through one TakeOrdered, no corpus-wide shuffle
    * at all. The per-partition cap is lossless for the global result:
    * the k smallest distinct values overall are a subset of the union
    * of each partition's k smallest distinct values. The sketch is
    * also mergeable across corpora (union the kept sets, re-take k) —
    * the property monitoring pipelines need.
    *
    * The bounded per-partition heap is genuine imperative
    * per-partition state — the mapPartitions tier of SURVEY.md §7.3,
    * used because no composition of relational ops keeps the
    * pre-shuffle row count bounded AND distinct-aware. Everything
    * around it stays declarative.
    *
    * md5-derived, so the DuckDB oracle reproduces the kept set and
    * the estimate bit-for-bit. */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // null texts hash to null: drop them before the primitive-long
    // encoder (the SQL mirror's WHERE h IS NOT NULL)
    val h = Tables.fanOut(t(spark, dir, "documents"))
      .select(hash60(col("text")).as("h"))
      .filter(col("h").isNotNull)
    val kept = h.as[Long].mapPartitions { it =>
      val set = new java.util.TreeSet[java.lang.Long]()
      it.foreach { v =>
        set.add(v)
        if (set.size > KmvK) set.pollLast() // keep the k smallest
      }
      import scala.jdk.CollectionConverters._
      set.iterator().asScala.map(_.longValue())
    }.toDF("h").distinct().orderBy(col("h")).limit(KmvK)
    kept.agg(
      count(lit(1)).as("n_kept"),
      max(col("h")).as("kth_hash"),
      r6(when(count(lit(1)) < KmvK, count(lit(1)).cast("double"))
        .otherwise(lit(KmvK - 1.0) / (max(col("h")) / lit(KmvScale))))
        .as("est_distinct"))
  }

  val kmvDistinctSql: String =
    s"""WITH h AS (SELECT DISTINCT
           CAST(concat('0x', substring(md5(text), 1, 15)) AS BIGINT) AS h
         FROM documents WHERE text IS NOT NULL),
       k AS (SELECT h FROM h ORDER BY h LIMIT $KmvK)
       SELECT count(*)::BIGINT AS n_kept, max(h) AS kth_hash,
         ${sqlR(
        s"""CASE WHEN count(*) < $KmvK THEN count(*)
            ELSE ($KmvK - 1.0) / (max(h) / $KmvScale) END""", 6)}
           AS est_distinct
       FROM k"""

  // ---- exact all-pairs cosine similarity (prefix filtering) ----

  /** Cosine threshold as a rational num/den, so the pair gate is
    * integer arithmetic: cos ≥ 4/5 ⇔ 25·dot² ≥ 16·‖a‖²·‖b‖². */
  val CosNum = 4
  val CosDen = 5

  /** Gram order for the EXACT tier — deliberately wider than the
    * sketch tier's [[ShingleK]]. An exact similarity join enumerates
    * Σ_t df(t)² collision rows, so the feature space must outgrow the
    * corpus (V^K ≫ N) to keep per-term document frequencies O(1) —
    * the exact-join twin of the LSH band-sizing rule (bandBits ≳
    * log₂ N). Measured on the 10× corpus (50k docs, 31-word vocab):
    * 3-grams saturate at 30,669 distinct terms → median df 62,
    * Σdf² = 120 M collision rows (→ ~12 B at 100×, quadratic death);
    * 5-grams give 1.56 M terms, median df 1, Σdf² = 2.2 M ≈ the
    * posting count itself — linear. */
  val AllPairsGramK = 5

  /** Prefix-posting count under which allpairsCosine broadcasts its
    * candidate doc lists: each list has at most this many longs
    * (≈16 MB), since every candidate doc is a prefix-posting doc. */
  val AllPairsBroadcastMaxRows = 2L << 20

  /** The V^K ≥ N sizing rule as code (the [[Similarity.lshSizing]]
    * precedent, for the exact tier): smallest gram order K whose
    * feature space covers the corpus's gram instances `margin` times
    * over — E[df] ≤ 1/margin under uniform hashing, so Σdf², the
    * exact join's collision mass, stays O(postings). Measured
    * decades behind the margin-1 default (NOTES.md): on the 31-word
    * vocab, K=5 at 100× has instances at 0.62× the space and is
    * linear (median df 1, Σdf² ≈ 1.8× postings); at 1000× instances
    * are 6.2× the space and Σdf² = 1.31 B (7.4× postings, quadratic
    * onset) — the rule then says K=6 (31⁶ ≈ 887 M ≥ 178 M).
    * Natural corpora obey Heaps' law (vocab grows with N), so df
    * stays bounded at fixed K far longer than on a bounded synthetic
    * vocabulary — the rule still guards the tail. */
  def allPairsGramSizing(corpusGramInstances: Long, vocabSize: Long,
      margin: Double = 1.0): Int = {
    require(corpusGramInstances > 0 && vocabSize > 1 && margin > 0)
    val target = corpusGramInstances * margin
    var k = 1
    var space = vocabSize.toDouble
    while (space < target && k < 16) { k += 1; space *= vocabSize }
    k
  }

  /** Exact all-pairs cosine similarity join over word
    * [[AllPairsGramK]]-gram tf vectors — the EXACT member of the
    * near-dup cascade (no probabilistic recall loss), via AllPairs
    * prefix filtering (Bayardo, Ma & Srikant, WWW 2007, §3: only a
    * vector's "prefix" features need indexing; pairs sharing only
    * suffix features cannot reach the threshold).
    *
    * The pruning argument, in the integer form used here: fix a
    * global term order (ascending document frequency, so prefixes
    * hold the RAREST shingles — smallest join fan-out). For a true
    * pair, let t be the first shared term; every shared term sits in
    * both suffixes from t, so by Cauchy-Schwarz
    * cos ≤ ‖a_{≥t}‖/‖a‖ (and symmetrically for b). cos ≥ θ therefore
    * forces CosDen²·sufsq(t) ≥ CosNum²·n2 on BOTH sides — candidates
    * are pairs sharing a term marked "prefix" in both docs. Measured
    * at sf0.01 over 5-grams: 37 doc pairs share ≥1 gram, the prefix
    * join emits exactly the 25 true pairs — zero recall loss, zero
    * false candidates (under 3-grams the same machinery pruned
    * 11,533 sharing pairs to 68). The ORACLE IS THE UNPRUNED EXACT
    * JOIN, so the driver's hash gate doubles as the losslessness
    * proof of the pruning.
    *
    * Scale shape: postings shuffle on (term) for df, on (doc) for
    * norms/windows — both standard; the candidate join touches only
    * prefix postings (37% here, rarest-first); the verify expands
    * each surviving pair by one doc's posting list. Everything is
    * long arithmetic until the single final cosine division
    * (dot/√(na·nb): one IEEE-exact sqrt + one division, r6'd).
    * Overflow guard: the integer gate needs CosDen²·na·nb < 2⁶³,
    * i.e. per-doc squared norms below ~6·10⁸ — ~2.4 M tokens per doc
    * at tf ≤ 16; docs beyond that belong in chunked form anyway. */
  def allpairsCosine(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // posting list (doc_id, term=shingle, tf) — persisted: consumed
    // by the df/norm aggregates, the prefix index, and both verify
    // joins (sketch-once, reuse-everywhere; Verify/Bench clear the
    // cache per query, see the object scaladoc)
    // terms travel as 60-bit md5 hashes, never as 3-word strings
    // (NOTES rule: hash string feature sets to longs BEFORE they ride
    // a join or shuffle), and the hashing is the fused native
    // word_gram_hashes pass — the composable shingle-then-hash form
    // cost 3.3 ms/doc in interpreted conv/md5 projections (measured,
    // the whole query's top CPU stage). The oracle hashes
    // identically, so even a hash collision — ~N²/2⁶¹, nil below
    // ~10⁹ distinct grams — cannot diverge the two engines. Gram
    // convention (matches dup_gram_coverage, NOT the minhash
    // shingles): docs with fewer than AllPairsGramK tokens
    // contribute no grams.
    val tf = Tables.fanOut(t(spark, dir, "documents"))
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions.wordGramHashes(col("text"),
          AllPairsGramK)).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist()
    // df and both norms ride windows on the two shuffles the plan
    // needs ANYWAY (term-partitioned, then doc-partitioned) instead
    // of separate aggregate+join round trips — at micro scale that
    // halves the stage count, at 100 TB it halves the number of
    // full-postings shuffles (2 instead of 4)
    val wTerm = Window.partitionBy("term")
    val wDoc = Window.partitionBy("doc_id")
    val wOrd = Window.partitionBy("doc_id").orderBy(col("df"), col("term"))
    val marked = tf
      .withColumn("df", count(lit(1)).over(wTerm))
      .withColumn("n2", sum(col("tf") * col("tf")).over(wDoc))
      // suffix-inclusive squared norm at each term under the global
      // (df asc, term) order; prefix = terms whose suffix could
      // still carry a θ-sized dot on its own
      .withColumn("cum", sum(col("tf") * col("tf")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("sufsq", col("n2") - col("cum") + col("tf") * col("tf"))
    // persisted: the candidate join consumes prefixIdx TWICE (self-
    // join) and canonicalization does NOT reuse the sides' exchanges —
    // a round-9 stage census caught the whole tf→window(term)→
    // window(doc)→filter chain executing twice (duplicate ~10 s +
    // ~3.5 s + ~8 s stage pairs with identical 250k-record shuffle
    // counts at sf0.1). The frame is prefix-postings-sized (≈37% of
    // the postings), far cheaper to hold than to recompute (guide §5)
    val prefixIdx = marked
      .filter(lit((CosDen * CosDen).toLong) * col("sufsq") >=
        lit((CosNum * CosNum).toLong) * col("n2"))
      .select(col("doc_id"), col("term"), col("n2"))
      .persist()
    // FORCE the cache before the self-join consumes it twice: AQE
    // submits the join's two child stages concurrently, and two
    // racing materializations of an unpopulated cache each re-run
    // the whole tf→window(term)→window(doc) chain (event-log-caught:
    // the term-exchange's 250k-record shuffle written 3× per run,
    // read 2×). One cheap count serializes the chain to exactly one
    // execution; every later consumer reads blocks (guide §5). Every
    // doc_a and doc_b below is a prefixIdx doc_id, so the count also
    // bounds both candidate doc lists for the broadcast choice.
    val smallDocLists = prefixIdx.count() < AllPairsBroadcastMaxRows
    // near-ids-only through the wide ops (same discipline as the LSH
    // band joins), except each side carries its 8-byte norm so the
    // final gate needs no join back to a norms table
    val cands = prefixIdx.as("a")
      .join(prefixIdx.as("b"),
        col("a.term") === col("b.term") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n2").as("na"), col("b.n2").as("nb"))
      .distinct()
      .persist()
    // semi-filter the postings to candidate docs BEFORE any verify
    // join. EXPLICIT broadcast, not AQE's runtime conversion: AQE
    // plans these as shuffle joins first and submits both child
    // stages eagerly, so the full 250k-record posting shuffle was
    // already WRITTEN by the time the doc-list side turned out tiny
    // (event-log-caught; the join then executed as broadcast over a
    // shuffle nobody read). The doc lists are bounded by 2·|candidate
    // pairs| longs — the prefix filter's output, the quantity the
    // whole algorithm exists to keep small. Past
    // [[AllPairsBroadcastMaxRows]] prefix postings the join choice is
    // left to AQE instead of forcing a driver-built broadcast.
    def docs(c: String) = {
      val d = cands.select(col(c)).distinct()
      if (smallDocLists) broadcast(d) else d
    }
    val ta = tf.join(docs("doc_a"), col("doc_id") === col("doc_a"), "left_semi")
      .select(col("doc_id").as("doc_a"), col("term"), col("tf").as("tfa"))
    val tb = tf.join(docs("doc_b"), col("doc_id") === col("doc_b"), "left_semi")
      .select(col("doc_id").as("doc_b"), col("term"), col("tf").as("tfb"))
    cands.join(ta, "doc_a").join(tb, Seq("doc_b", "term"))
      .groupBy("doc_a", "doc_b", "na", "nb")
      .agg(sum(col("tfa") * col("tfb")).as("dot"))
      .filter(lit((CosDen * CosDen).toLong) * col("dot") * col("dot") >=
        lit((CosNum * CosNum).toLong) * col("na") * col("nb"))
      .select(col("doc_a"), col("doc_b"), col("dot"), col("na"), col("nb"),
        r6(col("dot").cast("double") /
          sqrt(col("na").cast("double") * col("nb").cast("double")))
          .as("cos"))
  }

  /** The unpruned exact join — deliberately NOT mirroring the prefix
    * filter, so the hash gate proves the Spark-side pruning lossless. */
  val allpairsCosineSql: String = {
    import TextAnalysis.SqlToksLower
    s"""WITH w AS (SELECT doc_id, $SqlToksLower AS ts FROM documents),
       o AS (SELECT doc_id, ts AS ws,
         unnest(range(0, greatest(length(ts) - ${AllPairsGramK - 1}, 0))) AS i
       FROM w),
       tfx AS (SELECT doc_id,
               CAST(concat('0x', substring(md5(
                 array_to_string(ws[i+1:i+$AllPairsGramK], ' ')), 1, 15))
                 AS BIGINT) AS term
             FROM o),
       tfc AS (SELECT doc_id, term, count(*)::BIGINT AS tf
               FROM tfx GROUP BY 1, 2),
       nn AS (SELECT doc_id, sum(tf * tf)::BIGINT AS n2
              FROM tfc GROUP BY 1),
       d AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               sum(a.tf * b.tf)::BIGINT AS dot
             FROM tfc a JOIN tfc b
               ON a.term = b.term AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
       SELECT doc_a, doc_b, dot, na.n2 AS na, nb.n2 AS nb,
         ${sqlR("dot / sqrt(na.n2 * nb.n2)", 6)} AS cos
       FROM d JOIN nn na ON na.doc_id = d.doc_a
              JOIN nn nb ON nb.doc_id = d.doc_b
       WHERE ${CosDen * CosDen} * dot * dot
             >= ${CosNum * CosNum} * na.n2 * nb.n2"""
  }

  val queries: Map[String, Q] = Map(
    "q_allpairs_cosine" -> (allpairsCosine _),
    "q_kmv_distinct" -> (kmvDistinct _),
    "q_dedup_survivors" -> (dedupSurvivors _),
    "q_dedup_best_survivor" -> (dedupBestSurvivor _),
    "q_dedup_components" -> (dedupComponents _),
    "q_dup_gram_coverage" -> (dupGramCoverage _),
    "q_dup_gram_removal" -> (dupGramRemoval _),
    "q_dedup_exact" -> (dedupExact _),
    "q_dedup_minhash" -> (dedupMinhash _),
    "q_dedup_simhash" -> (dedupSimhash _),
    "q_dedup_ngram" -> (dedupNgram _),
    "q_source_overlap" -> (sourceOverlap _),
    "q_paragraph_dedup" -> (paragraphDedup _),
    "q_dedup_incremental" -> (dedupIncremental _),
  )

  val oracles: Map[String, String] = Map(
    "q_allpairs_cosine" -> allpairsCosineSql,
    "q_kmv_distinct" -> kmvDistinctSql,
    "q_dedup_survivors" -> dedupSurvivorsSql,
    "q_dedup_best_survivor" -> dedupBestSurvivorSql,
    "q_dedup_components" -> dedupComponentsSql,
    "q_dup_gram_coverage" -> dupGramCoverageSql,
    "q_dup_gram_removal" -> dupGramRemovalSql,
    "q_dedup_exact" -> dedupExactSql,
    "q_dedup_minhash" -> dedupMinhashSql,
    "q_dedup_simhash" -> dedupSimhashSql,
    "q_dedup_ngram" -> dedupNgramSql,
    "q_source_overlap" -> sourceOverlapSql,
    "q_paragraph_dedup" -> paragraphDedupSql,
    "q_dedup_incremental" -> dedupIncrementalSql,
  )
}
