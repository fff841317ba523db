package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.functions.TextFunctions._
import graft.queries.Num._

/** Text-analysis operator catalog over the `documents` table: token
  * counting, quality scoring, language ID, document fingerprinting —
  * the metadata-only ColumnFilter family of the reference
  * (DPF/filters/column_filter.py:8-68; texts/lang_filter.py:8)
  * re-expressed as codegen'd column expressions (no UDFs).
  *
  * Every query is a narrow per-row map (or one cheap aggregation):
  * no shuffles except where the operator itself is an aggregation, so
  * the plans scale linearly with input size. Each oracle mirrors the
  * exact formula in DuckDB SQL, including the epsilon-rounding of
  * [[Num]].
  */
object TextAnalysis {
  import Tables.t

  type Q = (SparkSession, String) => DataFrame

  // ---- shared DuckDB fragments (mirrors of TextFunctions) ----
  // Java's \s is [ \t\n\x0B\f\r]; RE2's \s lacks \x0B. The oracles
  // spell the class contents out so both engines tokenize identically
  // even on vertical-tab input (bare contents — they compose into
  // larger character classes below).
  private val SqlWsChars = """ \t\n\x{0b}\f\r"""
  /** whitespace tokens with empties removed (TextFunctions.tokens) */
  private[queries] val SqlToks = s"""list_filter(string_split_regex(text, '[$SqlWsChars]+'), x -> x <> '')"""
  /** lowercased whitespace tokens (tokens(lower(text))) */
  private[queries] val SqlToksLower = s"""list_filter(string_split_regex(lower(text), '[$SqlWsChars]+'), x -> x <> '')"""
  /** TextFunctions.normalize */
  private[queries] val SqlNorm = s"""trim(regexp_replace(lower(text), '[$SqlWsChars]+', ' ', 'g'))"""
  /** punctRatio numerator helper */
  private val SqlNoPunct = s"""regexp_replace(text, '[^\\p{L}\\p{N}$SqlWsChars]', '', 'g')"""
  private val SqlLetters = """regexp_replace(text, '[^\p{L}]', '', 'g')"""
  private val SqlUppers  = """regexp_replace(text, '[^\p{Lu}]', '', 'g')"""

  private def sqlList(items: Seq[String]): String =
    items.map(s => s"'$s'").mkString("[", ", ", "]")

  /** Per-document token statistics (the token-counting / length half
    * of quality scoring). Pure project — reads (doc_id, text) only. */
  def textStats(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables.fanOut(t(spark, dir, "documents"))
      .withColumn("f", graft.functions.GraftFunctions.textFeatures(col("text")))
      .select(
        col("doc_id"),
        col("f.ntok").as("n_tokens"),
        col("f.nsubw").as("n_subwords"),
        r4(col("f.meanlen")).as("mean_tok_len"),
        r4(col("f.punct")).as("punct_ratio"),
        r4(col("f.upper_r")).as("upper_ratio"))
  }

  val textStatsSql: String =
    s"""WITH f AS (SELECT doc_id, text, $SqlToks AS ts FROM documents)
       SELECT doc_id,
         length(ts)::BIGINT AS n_tokens,
         coalesce(list_sum(list_transform(
           list_filter(string_split_regex(text, '[^\\p{L}\\p{N}]+'), x -> x <> ''),
           w -> (length(w) + 3) // 4)), 0)::BIGINT AS n_subwords,
         ${sqlR("CASE WHEN length(ts) = 0 THEN 0.0 ELSE coalesce(list_sum(list_transform(ts, x -> length(x))), 0)::DOUBLE / length(ts) END", 4)} AS mean_tok_len,
         ${sqlR(s"CASE WHEN length(text) = 0 THEN 0.0 ELSE (length(text) - length($SqlNoPunct))::DOUBLE / length(text) END", 4)} AS punct_ratio,
         ${sqlR(s"CASE WHEN length($SqlLetters) = 0 THEN 0.0 ELSE length($SqlUppers)::DOUBLE / length($SqlLetters) END", 4)} AS upper_ratio
       FROM f"""

  /** Composite quality score per document. */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables.fanOut(t(spark, dir, "documents"))
      .withColumn("f", graft.functions.GraftFunctions.textFeatures(col("text")))
      .select(col("doc_id"),
        r4(qualityScoreFromFeatures(col("f"))).as("quality"))
  }

  /** Shared feature CTE body (SELECT ... FROM documents) used by the
    * quality and model-score oracles — ONE set of feature formulas to
    * keep in sync with TextFunctions. */
  private[queries] lazy val SqlFeatureSelect: String = {
    val stopList = sqlList(EnglishStopwords)
    s"""SELECT doc_id, source, n_chars,
         length($SqlToks)::DOUBLE AS ntok,
         CASE WHEN length($SqlToks) = 0 THEN 0.0
           ELSE coalesce(list_sum(list_transform($SqlToks, x -> length(x))), 0)::DOUBLE
                / length($SqlToks) END AS meanlen,
         CASE WHEN length(text) = 0 THEN 0.0
           ELSE (length(text) - length($SqlNoPunct))::DOUBLE / length(text) END AS punct,
         CASE WHEN length($SqlLetters) = 0 THEN 0.0
           ELSE length($SqlUppers)::DOUBLE / length($SqlLetters) END AS upper_r,
         CASE WHEN length($SqlToksLower) = 0 THEN 0.0
           ELSE length(list_filter($SqlToksLower, x -> list_contains($stopList, x)))::DOUBLE
                / length($SqlToksLower) END AS stop_r
       FROM documents"""
  }

  /** The quality-score formula over [[SqlFeatureSelect]]'s columns —
    * shared with the curation threshold oracle. */
  private[queries] val SqlQualityExpr: String =
    "(CASE WHEN ntok >= 5 AND ntok <= 5000 THEN 1.0 WHEN ntok = 0 THEN 0.0 ELSE 0.5 END) * 0.3" +
      " + (1.0 - least(punct * 2.0, 1.0)) * 0.3" +
      " + (1.0 - upper_r) * 0.2" +
      " + least(stop_r * 4.0, 1.0) * 0.2"

  val textQualitySql: String =
    s"""WITH f AS ($SqlFeatureSelect)
       SELECT doc_id, ${sqlR(SqlQualityExpr, 4)} AS quality
       FROM f"""

  /** Heuristic language ID per document (script check then marker-word
    * argmax with first-wins ties). Runs the fused native
    * [[graft.functions.expressions.LangId]] — the composable
    * TextFunctions.langId fold re-tokenizes per duplicated CASE branch
    * in interpreted projection (no CSE outside codegen; measured
    * ~0.5 ms/row at sf0.1); the parity spec pins native == fold. */
  def textLangId(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    t(spark, dir, "documents").select(
      col("doc_id"),
      graft.functions.GraftFunctions.langIdNative(col("text"))
        .as("lang_pred"))
  }

  val textLangIdSql: String = {
    val scoreCols = LangMarkers.map { case (l, ms) =>
      s"length(list_filter(lt, x -> list_contains(${sqlList(ms)}, x)))::BIGINT AS s_$l"
    }.mkString(",\n         ")
    val langs = LangMarkers.map(_._1)
    val maxExpr = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    // first language attaining the max == the fold's first-wins argmax
    val argmax = langs.init.map(l => s"WHEN s_$l = $maxExpr THEN '$l'")
      .mkString(" ") + s" ELSE '${langs.last}'"
    s"""WITH s AS (SELECT doc_id, text, $SqlToksLower AS lt FROM documents),
       sc AS (SELECT doc_id, text, $scoreCols FROM s)
       SELECT doc_id,
         CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
              WHEN regexp_matches(text, '[\\x{0400}-\\x{04ff}]') THEN 'ru'
              WHEN $maxExpr = 0 THEN 'und'
              $argmax END AS lang_pred
       FROM sc"""
  }

  /** Exact + rolling-window content fingerprints per document. The
    * window sketch builds on the native [[graft.functions.expressions
    * .WordShingles]]: the composable `shingles` inlines its token
    * array into the per-window slice lambda, so interpreted eval
    * re-tokenizes the document once PER WINDOW (~1 ms/row at sf0.1);
    * with the fused shingler the md5 lambda touches only materialized
    * strings. Bit-equality is the WordShingles parity spec. */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    t(spark, dir, "documents").select(
      col("doc_id"),
      fingerprint(col("text")).as("fp"),
      array_min(transform(
        graft.functions.GraftFunctions.wordShingles(col("text"), 8),
        s => md5(s.cast("binary")))).as("win_fp"))
  }

  val textFingerprintSql: String =
    s"""WITH n AS (SELECT doc_id, $SqlNorm AS nt FROM documents),
       tk AS (SELECT doc_id, nt,
         list_filter(string_split_regex(nt, ' '), x -> x <> '') AS ts FROM n),
       sh AS (SELECT doc_id, nt,
         CASE WHEN length(ts) = 0 THEN []::VARCHAR[]
              WHEN length(ts) <= 8 THEN [array_to_string(ts, ' ')]
              ELSE list_transform(generate_series(1, length(ts) - 7),
                     i -> array_to_string(list_slice(ts, i, i + 7), ' ')) END AS s
       FROM tk)
       SELECT doc_id, md5(nt) AS fp,
         list_min(list_transform(s, x -> md5(x))) AS win_fp
       FROM sh"""

  /** Model-backed scoring shape (featurize → linear head → algebraic
    * squash) — see TextFunctions.modelScoreRaw for why the squash is
    * z/(1+|z|) and not a libm exp. */
  def textModelScore(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables.fanOut(t(spark, dir, "documents"))
      .withColumn("f", graft.functions.GraftFunctions.textFeatures(col("text")))
      .select(col("doc_id"),
        r4(modelScoreFromFeatures(col("f"))).as("model_score"))
  }

  val textModelScoreSql: String = {
    val w = DefaultModelWeights
    s"""WITH f AS ($SqlFeatureSelect),
       z AS (SELECT doc_id, ${w.bias}
         + ntok * ${w.wTokens} + meanlen * ${w.wMeanLen}
         + punct * ${w.wPunct} + upper_r * ${w.wUpper}
         + stop_r * ${w.wStop} AS zv FROM f)
       SELECT doc_id,
         ${sqlR("(1.0 + zv / (1.0 + abs(zv))) * 0.5", 4)} AS model_score
       FROM z"""
  }

  /** Regex caption-cleaning pipeline applied to the documents table —
    * the RegexFilter operator (texts/regex_filter.py) through the
    * oracle gate; the same chained-regexp_replace expressions as
    * [[graft.operators.RegexCleanFilter]]. */
  def textClean(spark: SparkSession, dir: String): DataFrame = {
    val cleaned = graft.operators.RegexCleanFilter()
      .resultColumns.head._2
    t(spark, dir, "documents").select(col("doc_id"),
      cleaned.as("clean_caption"))
  }

  val textCleanSql: String = {
    // same rule chain; RE2 flavor with the 'g' flag per rule
    val rules = graft.operators.RegexCleanFilter.DefaultRules
    // DuckDB string literals are escape-free: the Scala pattern text
    // (single backslashes) goes into the SQL literal verbatim
    val chained = rules.foldLeft("trim(lower(text))") {
      case (acc, (pat, rep)) =>
        s"regexp_replace($acc, '${pat.replace("'", "''")}', '$rep', 'g')"
    }
    s"SELECT doc_id, trim($chained) AS clean_caption FROM documents"
  }

  /** Aggregation over computed text features, grouped by the table's
    * declared language — one narrow shuffle on a 5-value key. */
  def textByLang(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        r2(avg(col("n_chars"))).as("avg_chars"),
        sum(tokenCount(col("text")).cast("long")).as("sum_tokens"),
        r4(avg(tokenCount(col("text")))).as("avg_tokens"))

  val textByLangSql: String =
    s"""SELECT lang, count(*) AS n_docs,
       ${sqlR("avg(n_chars)", 2)} AS avg_chars,
       sum(length($SqlToks))::BIGINT AS sum_tokens,
       ${sqlR(s"avg(length($SqlToks))", 4)} AS avg_tokens
       FROM documents GROUP BY lang"""

  /** Corpus term frequencies (the explode/Generator shape — the one
    * row-expanding operator in the catalog): tokenize, explode, count,
    * global top-20 under a total tie-break. The explode happens
    * map-side; partial aggregation collapses each partition's terms
    * before the single shuffle on the term key, and the final top-k is
    * TakeOrdered over the (vocabulary-sized) aggregate — no full sort. */
  def textWordcount(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(t(spark, dir, "documents"))
      .select(explode(tokens(lower(col("text")))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(20)

  val textWordcountSql: String =
    s"""SELECT term, count(*) AS n FROM (
         SELECT unnest($SqlToksLower) AS term FROM documents)
       GROUP BY term ORDER BY n DESC, term LIMIT 20"""

  /** Count-min sketch depth (hash rows) and width (buckets/row). */
  val CmsD = 4
  val CmsW = 512L

  /** Row-`seed` CMS bucket of a 60-bit term hash: the minhash affine
    * family re-used as the pairwise-independent hash rows, then
    * folded mod [[CmsW]] — every constant md5/affine-derived so the
    * DuckDB oracle re-derives the identical sketch. */
  private[graft] def cmsBucket(h: org.apache.spark.sql.Column, seed: Int) =
    ((lit(minhashA(seed)) * (h % lit(MinhashP)) + lit(minhashB(seed)))
      % lit(MinhashP)) % lit(CmsW)

  /** Count-min sketch (Cormode & Muthukrishnan 2005) heavy-hitter
    * check: build the d×w counter grid over the corpus token stream,
    * then read the top-10 exact terms back through the sketch —
    * `est_n = min over rows of counter[r][bucket_r(term)]`, always ≥
    * `exact_n` (one-sided error; [[CmsSketchSpec]] pins the
    * overestimate property and mergeability — counters of corpus
    * parts ADD, the third mergeable sketch of the family next to
    * [[graft.queries.Dedup.kmvDistinct]] (distinct count) and
    * [[graft.operators.HllSketch]] (distinct count, bounded state):
    * this one answers point-frequency queries in d·w integers.
    *
    * Scale shape: the d-fold expansion of the token stream is
    * map-side and partial aggregation collapses each task to ≤ d·w
    * counter cells before the one shuffle, so the sketch build moves
    * ~d·w·tasks rows at ANY corpus size; the exact side (the
    * verification dial) is the wordcount aggregate; the final probe
    * joins the 2048-cell grid against 40 exploded probe rows with the
    * probe side broadcast. Integer-only arithmetic — the oracle hash
    * gate is exact with no rounding anywhere. */
  /** The d×w counter grid of a `term` stream — exposed so sketches of
    * corpus parts can be built (and added — see [[CmsSketchSpec]])
    * independently of the catalog query. */
  def cmsCounters(terms: DataFrame): DataFrame =
    terms.select(hash60(col("term")).as("h"))
      .select(posexplode(array(
        (0 until CmsD).map(i => cmsBucket(col("h"), i)): _*))
        .as(Seq("r", "bucket")))
      .groupBy(col("r"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  def cmsHeavy(spark: SparkSession, dir: String): DataFrame = {
    val terms = Tables.fanOut(t(spark, dir, "documents"))
      .select(explode(tokens(lower(col("text")))).as("term"))
    val counters = cmsCounters(terms)
    val top = terms.groupBy(col("term")).agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("term")).limit(10)
      .withColumn("h", hash60(col("term")))
      .select(col("term"), col("exact_n"), posexplode(array(
        (0 until CmsD).map(i => cmsBucket(col("h"), i)): _*))
        .as(Seq("r", "bucket")))
    counters.join(broadcast(top), Seq("r", "bucket"))
      .groupBy(col("term"), col("exact_n"))
      .agg(min(col("cnt")).as("est_n"))
  }

  val cmsHeavySql: String = {
    import graft.functions.TextFunctions.{MinhashP, minhashA, minhashB}
    def buckets(src: String) = (0 until CmsD).map { i =>
      s"""SELECT *, $i AS r, ((${minhashA(i)} * (h % $MinhashP)
            + ${minhashB(i)}) % $MinhashP) % $CmsW AS bucket FROM $src"""
    }.mkString("\n UNION ALL ")
    s"""WITH toks AS (SELECT unnest($SqlToksLower) AS term FROM documents),
       h AS (SELECT CAST(concat('0x', substring(md5(term), 1, 15))
               AS BIGINT) AS h FROM toks),
       hits AS (${buckets("h")}),
       counters AS (SELECT r, bucket, count(*) AS cnt
                    FROM hits GROUP BY 1, 2),
       ex AS (SELECT term, count(*) AS exact_n FROM toks
              GROUP BY 1 ORDER BY exact_n DESC, term LIMIT 10),
       exh AS (SELECT term, exact_n,
                 CAST(concat('0x', substring(md5(term), 1, 15))
                   AS BIGINT) AS h FROM ex),
       eb AS (${buckets("exh")})
       SELECT term, exact_n, min(cnt) AS est_n
       FROM eb JOIN counters USING (r, bucket) GROUP BY 1, 2"""
  }

  /** BPE merge-learning iterations. */
  val BpeSteps = 5

  /** Learn the first [[BpeSteps]] BPE merges over the corpus — the
    * tokenizer-TRAINING loop (Sennrich et al. 2016, arXiv:1508.07909
    * §3.2): count adjacent symbol pairs weighted by word frequency,
    * merge the most frequent pair everywhere, repeat. Output: one row
    * per learned merge (step, s1, s2, cnt).
    *
    * Scale shape — the reason tokenizer training fits a 100 TB
    * corpus: the ONLY corpus-scale stage is the word-frequency
    * aggregate (the [[textWordcount]] shuffle); every merge iteration
    * runs on the VOCAB-SIZED (word, count) table, exactly how
    * production BPE trainers factor the problem. Per step: one
    * pair-count aggregate over the vocab table (explode is map-side,
    * partial agg collapses to distinct-pair cells) and one bounded
    * argmax collect (a single row — the same license as a broadcast
    * threshold), then the merge applies as a narrow per-row rewrite.
    * The vocab table is persisted once (bounded, vocab-sized — the
    * [[graft.queries.Curation.lmFluency]] discipline).
    *
    * Symbol encoding: each word becomes `|c|` per character — every
    * symbol carries its OWN opening and closing pipe (tokens
    * containing '|' are excluded from training; guard below). A merge
    * of (s1, s2) is the literal replace of `|s1||s2|` with `|s1s2|`:
    * both ends of both symbols are anchored, so a pair can never
    * match inside a longer symbol (a one-sided `s1|s2|` encoding
    * matches `y|z|` INSIDE `xy|z|`, silently merging a never-learned
    * symbol — caught by review, pinned by the suffix-collision spec),
    * and because the replacement re-emits a closing-opening pipe
    * pair, consecutive occurrences still chain left-to-right, which
    * IS greedy BPE application; both engines' `replace` agree on it.
    * Ties break on (count desc, s1, s2). Integer-only — no rounding
    * anywhere. */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vocab0 = Tables.fanOut(t(spark, dir, "documents"))
      .select(explode(tokens(lower(col("text")))).as("w"))
      // '|' is the symbol terminator of the encoding below — a token
      // containing it would corrupt the merge bookkeeping, so such
      // tokens are excluded from training (the SQL mirror agrees)
      .filter(!col("w").contains("|"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(regexp_replace(col("w"), "(.)", "|$1|").as("syms"), col("n"))
      .persist() // vocab-sized
    var vocab: DataFrame = vocab0
    val learned = scala.collection.mutable.ArrayBuffer.empty[
      (Long, String, String, Long)]
    var step = 1
    var dry = false
    while (step <= BpeSteps && !dry) {
      val pairs = vocab
        .select(col("n"),
          filter(split(col("syms"), "\\|"), s => s =!= "").as("a"))
        .filter(size(col("a")) >= 2)
        .select(col("n"), explode(expr(
          """zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1),
             (x, y) -> struct(x AS s1, y AS s2))""")).as("p"))
        .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
        .agg(sum(col("n")).as("cnt"))
      // bounded argmax collect: one row per step
      val best = pairs.orderBy(col("cnt").desc, col("s1"), col("s2"))
        .limit(1).collect()
      if (best.isEmpty) dry = true
      else {
        val (s1, s2, cnt) = (best.head.getString(0),
          best.head.getString(1), best.head.getLong(2))
        learned += ((step.toLong, s1, s2, cnt))
        vocab = vocab.select(
          replace(col("syms"), lit(s"|$s1||$s2|"), lit(s"|$s1$s2|"))
            .as("syms"), col("n"))
        step += 1
      }
    }
    learned.toSeq.toDF("step", "s1", "s2", "cnt")
  }

  /** The shared CTE body of the BPE training loop (v0 + the
    * [[BpeSteps]] unrolled pair-count/argmax/rewrite layers) —
    * composed by both [[bpeMergesSql]] and [[bpeTokenizeSql]]. */
  private val bpeCtes: String = {
    val layers = (1 to BpeSteps).map { i =>
      val prev = s"v${i - 1}"
      s"""p$i AS (SELECT s1, s2, CAST(sum(n) AS BIGINT) AS cnt FROM (
             SELECT n, z[1] AS s1, z[2] AS s2 FROM (
               SELECT n, unnest(list_zip(a[1:len(a)-1], a[2:len(a)])) AS z
               FROM (SELECT n, list_filter(string_split(syms, '|'),
                       x -> x <> '') AS a FROM $prev)
               WHERE len(a) >= 2))
           GROUP BY 1, 2),
         m$i AS (SELECT ${i}::BIGINT AS step, s1, s2, cnt FROM p$i
                 ORDER BY cnt DESC, s1, s2 LIMIT 1),
         v$i AS (SELECT replace(syms,
                   (SELECT '|' || s1 || '||' || s2 || '|' FROM m$i),
                   (SELECT '|' || s1 || s2 || '|' FROM m$i)) AS syms, n
                 FROM $prev)"""
    }.mkString(",\n ")
    s"""v0 AS (SELECT regexp_replace(w, '(.)', '|\\1|', 'g') AS syms,
           count(*) AS n
         FROM (SELECT unnest($SqlToksLower) AS w FROM documents)
         WHERE w NOT LIKE '%|%'
         GROUP BY 1),
       $layers"""
  }

  val bpeMergesSql: String = {
    val union = (1 to BpeSteps)
      .map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ")
    s"""WITH $bpeCtes
       $union"""
  }

  /** Apply the [[bpeMerges]]-learned tokenizer to the corpus — the
    * INFERENCE side of BPE: every word re-encodes as symbols, the
    * learned merges replay in training order (merge order is the
    * tokenizer — applying them in learned order IS greedy BPE
    * segmentation), and the output is per-document word and
    * BPE-token counts — the "how many tokens is this corpus under
    * MY tokenizer" question every training-budget calculation needs.
    *
    * Scale shape: training reruns first (corpus wordcount + vocab-
    * sized iterations, see [[bpeMerges]]); segmentation is then a
    * pure per-row map — the ≤ [[BpeSteps]] learned merges arrive as
    * literal replace chains (no join, no broadcast table needed at
    * this K; a production 50k-merge vocab would broadcast a trie
    * instead), and the per-doc aggregate is the one narrow shuffle.
    * Symbol counting is arithmetic, not parsing: merges preserve
    * characters, so #symbols = (len(encoded) − len(word)) / 2.
    * Tokens containing '|' are excluded from both counts (the
    * [[bpeMerges]] guard). Integer-exact. */
  def bpeTokenize(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeMerges(spark, dir).collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2)))
    val words = Tables.fanOut(t(spark, dir, "documents"))
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("w"))
      .filter(!col("w").contains("|"))
    val encoded = merges.foldLeft(
      regexp_replace(col("w"), "(.)", "|$1|")) { case (c, (s1, s2)) =>
      replace(c, lit(s"|$s1||$s2|"), lit(s"|$s1$s2|"))
    }
    words.select(col("doc_id"), col("w"), encoded.as("syms"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        expr("CAST(sum(length(syms) - length(w)) AS BIGINT) div 2")
          .as("bpe_tokens"))
  }

  val bpeTokenizeSql: String = {
    // dry-corpus guard: an empty m_i makes the scalar subqueries
    // NULL; coalesce to a sentinel absent from the encoding so the
    // replace degrades to a no-op instead of NULLing the text
    val chain = (1 to BpeSteps).foldLeft(
      s"regexp_replace(w, '(.)', '|\\1|', 'g')") { (acc, i) =>
      s"""replace($acc,
           coalesce((SELECT '|' || s1 || '||' || s2 || '|' FROM m$i), '§§'),
           coalesce((SELECT '|' || s1 || s2 || '|' FROM m$i), ''))"""
    }
    s"""WITH $bpeCtes,
       wds AS (SELECT doc_id, w FROM (
           SELECT doc_id, unnest($SqlToksLower) AS w FROM documents
           WHERE text IS NOT NULL)
         WHERE w NOT LIKE '%|%'),
       seg AS (SELECT doc_id, w, $chain AS syms FROM wds)
       SELECT doc_id, count(*)::BIGINT AS n_words,
         CAST(sum(length(syms) - length(w)) AS BIGINT) // 2 AS bpe_tokens
       FROM seg GROUP BY doc_id"""
  }

  /** Keywords kept per document by [[tfidfKeywords]]. */
  val TfidfTopJ = 3

  /** TF-IDF keyword extraction — the classic per-document salient-
    * term signal (tag generation, index keys, near-dup explanation):
    * for every document, the [[TfidfTopJ]] terms with the highest
    * tf · ln(N/df) weight (raw idf — every corpus term has df ≥ 1,
    * so the log is finite). The weight is r6'd BEFORE ranking and
    * ties break by term — the BM25-family rule: libm ln wiggle
    * between engines must not be able to reorder near-ties.
    *
    * Scale shape: one token scan → per-(doc, term) tf counts
    * (map-side combined — explode preserves row locality); df is a
    * vocab-sized aggregate joined back BROADCAST; the top-j window
    * partitions by doc_id — document-sized partitions at any corpus
    * size. Nothing corpus-sized persists or shuffles twice. */
  def tfidfKeywords(spark: SparkSession, dir: String): DataFrame = {
    // N counts the UN-fanned frame: fanOut repartitions (and would
    // ship every text byte through an exchange just to count rows)
    val n = t(spark, dir, "documents")
      .filter(col("text").isNotNull).count()
    // persisted: the df broadcast build and the weight join each
    // evaluate tf — unpersisted, the plan holds TWO full
    // scan→explode→(doc,w)-aggregate subtrees (verified in explain:
    // no ReusedExchange across the broadcast boundary), i.e. the
    // corpus is tokenized and shuffled twice for one tf table.
    // Bench/Verify clear caches per query.
    val tf = Tables.fanOut(t(spark, dir, "documents"))
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
      .persist()
    val df = tf.groupBy(col("w"))
      .agg(count(lit(1)).as("df"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("weight").desc, col("w"))
    tf.join(broadcast(df), "w")
      .withColumn("weight",
        r6(col("tf") * log(lit(n.toDouble) / col("df"))))
      .withColumn("rk", row_number().over(win))
      .filter(col("rk") <= TfidfTopJ)
      .select(col("doc_id"), col("rk").cast("long").as("rk"),
        col("w").as("term"), col("weight"))
  }

  val tfidfKeywordsSql: String =
    s"""WITH toks AS (SELECT doc_id, unnest($SqlToksLower) AS w
           FROM documents WHERE text IS NOT NULL),
       tf AS (SELECT doc_id, w, count(*)::BIGINT AS tf
              FROM toks GROUP BY 1, 2),
       df AS (SELECT w, count(*)::BIGINT AS df FROM tf GROUP BY 1),
       nn AS (SELECT count(*)::DOUBLE AS n FROM documents
              WHERE text IS NOT NULL),
       wt AS (SELECT tf.doc_id, tf.w,
               ${sqlR("tf.tf * ln(n / df.df)", 6)} AS weight
             FROM tf JOIN df USING (w) CROSS JOIN nn),
       r AS (SELECT doc_id, w, weight,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY weight DESC, w) AS rk
             FROM wt)
       SELECT doc_id, rk::BIGINT AS rk, w AS term, weight
       FROM r WHERE rk <= $TfidfTopJ"""

  /** BM25 constants (Robertson & Walker; the Lucene-default dials)
    * and the fixed benchmark query. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25Terms: Seq[String] = Seq("query", "scan", "join", "filter")
  val Bm25TopN = 10

  /** Okapi BM25 top-k retrieval for a fixed term query — the sparse
    * (lexical) retrieval twin of the embedding ANN family: idf-
    * weighted, length-normalized term-frequency saturation,
    * `score = Σ_t idf_t · tf(k1+1) / (tf + k1(1−b+b·dl/avgdl))`
    * with the always-positive Lucene idf `ln((N−df+½)/(df+½)+1)`.
    *
    * Scale shape: ONE token scan feeds a per-doc aggregate that
    * computes document length AND the per-query-term tf columns
    * together (the query is a handful of terms, so tf fans out as
    * columns, not rows — no join against a postings table at all);
    * corpus statistics (N, avgdl, df_t) are one tiny aggregate
    * broadcast back over the per-doc table; scoring is a pure map
    * and the top-k is one TakeOrdered. Nothing corpus-sized
    * shuffles except the narrow per-doc aggregate.
    *
    * Determinism: avgdl and each idf are r6-rounded before use, the
    * summed score r6-rounded before the rank ordering, ties break on
    * doc_id — the ln's cross-libm ulp wiggle sits ~1e-16 relative,
    * absorbed by the epsilon-round (the [[graft.operators.HllSketch]]
    * linear-counting precedent). */
  /** The scored core of the column plan: (doc_id, dl, score) for
    * every document with at least one token. */
  private def bm25Scored(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.fanOut(t(spark, dir, "documents"))
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("w"))
    val tfCols = Bm25Terms.zipWithIndex.map { case (term, i) =>
      count(when(col("w") === term, 1)).as(s"tf$i")
    }
    val docAggs = count(lit(1)).as("dl") +: tfCols
    val perDoc = toks.groupBy(col("doc_id"))
      .agg(docAggs.head, docAggs.tail: _*)
    val statAggs = count(lit(1)).as("n") +:
      r6(avg(col("dl"))).as("avgdl") +:
      Bm25Terms.indices.map { i =>
        count(when(col(s"tf$i") > 0, 1)).as(s"df$i")
      }
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
    val termScores = Bm25Terms.indices.map { i =>
      val idf = r6(log((col("n") - col(s"df$i") + lit(0.5)) /
        (col(s"df$i") + lit(0.5)) + lit(1.0)))
      val sat = col(s"tf$i") * lit(Bm25K1 + 1.0) /
        (col(s"tf$i") + lit(Bm25K1) *
          (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl")))
      idf * sat
    }
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl"),
        r6(termScores.reduce(_ + _)).as("score"))
  }

  def bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id"))
    bm25Scored(spark, dir)
      .orderBy(col("score").desc, col("doc_id")).limit(Bm25TopN)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("doc_id"), col("dl"), col("score"))
  }

  /** BM25 through the POSTINGS-JOIN plan — the shape that scales to
    * arbitrary query sets, where [[bm25TopK]]'s fan-terms-out-as-
    * columns trick stops working: term frequencies become ROWS
    * ((doc, term, tf) — candidates only, filtered map-side against
    * the broadcast query term set), per-term idf joins in as a
    * broadcast of the tiny df aggregate, partial scores sum per doc,
    * and a left join from the per-doc length table restores the
    * zero-score documents the candidate stream never saw (identical
    * ranking semantics — ties still break on doc_id).
    *
    * Oracle: [[bm25TopKSql]] VERBATIM — the hash gate doubles as the
    * cross-plan equivalence proof (the [[graft.queries.Curation]]
    * decontaminate-bloom discipline); per-doc sums re-associate
    * freely under the final r6. */
  def bm25TopKJoin(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.fanOut(t(spark, dir, "documents"))
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("w"))
    // persist the two SMALL aggregates (doc-sized lengths, query-
    // term-filtered tfs), never the corpus-sized token stream: dlTab
    // feeds stats, the partial-score join AND the final ranking join,
    // cand feeds dfTab and the partial scores — unpersisted, each
    // consumer re-token-explodes the whole corpus (5 corpus passes
    // per query; 2 after). Bench/Verify clear caches per query.
    val dlTab = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      .persist()
    val cand = toks.filter(col("w").isInCollection(Bm25Terms))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      .persist()
    val stats = dlTab.agg(count(lit(1)).as("n"),
      r6(avg(col("dl"))).as("avgdl"))
    val dfTab = cand.groupBy(col("w"))
      .agg(count(lit(1)).as("df")) // one row per (doc, term) ⇒ doc count
      .crossJoin(broadcast(stats))
      .select(col("w"), col("n"), col("avgdl"),
        r6(log((col("n") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0))).as("idf"))
    val partial = cand.join(broadcast(dfTab), Seq("w"))
      .join(dlTab, Seq("doc_id"))
      .select(col("doc_id"), col("dl"),
        (col("idf") * (col("tf") * lit(Bm25K1 + 1.0) /
          (col("tf") + lit(Bm25K1) * (lit(1.0 - Bm25B) +
            lit(Bm25B) * col("dl") / col("avgdl"))))).as("ts"))
      .groupBy(col("doc_id")).agg(sum(col("ts")).as("s"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id"))
    dlTab.join(partial, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dl"),
        r6(coalesce(col("s"), lit(0.0))).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(Bm25TopN)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("doc_id"), col("dl"), col("score"))
  }

  /** Materialize the BM25 postings index — the index-once /
    * query-many layout (the [[graft.queries.Similarity.buildIvfIndex]]
    * discipline for text): `postings/` holds (doc_id, tf, dl) rows
    * Hive-partitioned BY TERM, so a query's scan prunes to its own
    * terms' partition directories and never opens the rest of the
    * corpus vocabulary; `stats/` holds the one-row (n, avgdl)
    * aggregate. Document length is denormalized into each posting —
    * the probe is then a single pruned scan with no doc-table join.
    * Per-term df is NOT stored: the probe reads its terms' full
    * posting lists anyway, so df is a free count over them.
    *
    * Build cost: one token scan, the per-doc length aggregate, and
    * one narrow (doc, term) count joined back on doc_id — all
    * shuffles narrow, one-time. A production layout would bucket
    * rare terms together to bound partition-directory count at
    * web-scale vocabularies. */
  def buildPostingsIndex(spark: SparkSession, dir: String,
      outPath: String): Unit = {
    val toks = Tables.fanOut(t(spark, dir, "documents"))
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
    val dlTab = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    // distribute by the partition key before the partitioned write
    // (the IVF clusterPacked discipline): the (doc,term) grouping
    // leaves every shuffle partition holding most of the vocabulary,
    // so the unshuffled write fans tasks × terms near-empty files;
    // rebalancing packs each term dir (AQE splits the heavy terms)
    toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .join(dlTab, Seq("doc_id"))
      .hint("rebalance", col("term"))
      .write.mode("overwrite").partitionBy("term")
      .parquet(s"$outPath/postings")
    dlTab.agg(count(lit(1)).as("n"), r6(avg(col("dl"))).as("avgdl"))
      .write.mode("overwrite").parquet(s"$outPath/stats")
  }

  /** BM25 against a materialized [[buildPostingsIndex]] layout: the
    * scan prunes to the query terms' partitions ([[Bm25IndexSpec]]
    * asserts it on the physical plan), df comes free from the loaded
    * posting lists, and scoring/ranking is the [[bm25TopKJoin]]
    * arithmetic. Matching-docs-only by construction (an index probe
    * cannot see documents containing none of the query terms) — the
    * positive-score prefix of the full rankings. */
  def bm25FromIndex(spark: SparkSession, indexPath: String,
      terms: Seq[String] = Bm25Terms, topN: Int = Bm25TopN): DataFrame = {
    // explicit schemas (the layout is fixed by buildPostingsIndex):
    // parquet schema inference runs a one-task footer job per read —
    // a probe should pay a pruned scan, not two metadata jobs. The
    // `term` partition column stays directory-inferred as before.
    val stats = spark.read.schema("n LONG, avgdl DOUBLE")
      .parquet(s"$indexPath/stats")
    val post = spark.read.schema("doc_id LONG, tf LONG, dl LONG")
      .parquet(s"$indexPath/postings")
      .filter(col("term").isInCollection(terms))
    val dfTab = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("term"), col("avgdl"),
        r6(log((col("n") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0))).as("idf"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id"))
    post.join(broadcast(dfTab), Seq("term"))
      .select(col("doc_id"), col("dl"),
        (col("idf") * (col("tf") * lit(Bm25K1 + 1.0) /
          (col("tf") + lit(Bm25K1) * (lit(1.0 - Bm25B) +
            lit(Bm25B) * col("dl") / col("avgdl"))))).as("ts"))
      .groupBy(col("doc_id"), col("dl"))
      .agg(r6(sum(col("ts"))).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(topN)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("doc_id"), col("dl"), col("score"))
  }

  lazy val bm25TopKSql: String = {
    s"""WITH $bm25SqlCtes,
       k AS (SELECT doc_id, dl, score,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             FROM sc ORDER BY score DESC, doc_id LIMIT $Bm25TopN)
       SELECT rank, doc_id, dl, score FROM k"""
  }

  /** The shared CTE body of the BM25 scoring pipeline (toks → d → s →
    * sc with (doc_id, dl, score)) — composed by [[bm25TopKSql]] and
    * [[rrfFuseSql]]. */
  private lazy val bm25SqlCtes: String = {
    val tfSel = Bm25Terms.zipWithIndex.map { case (term, i) =>
      s"count(*) FILTER (WHERE w = '$term') AS tf$i"
    }.mkString(", ")
    val dfSel = Bm25Terms.indices.map { i =>
      s"count(*) FILTER (WHERE tf$i > 0) AS df$i"
    }.mkString(", ")
    val terms = Bm25Terms.indices.map { i =>
      val idf = sqlR(s"ln((n - df$i + 0.5) / (df$i + 0.5) + 1.0)", 6)
      s"""($idf * (tf$i * ${Bm25K1 + 1.0} /
          (tf$i + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * dl / avgdl))))"""
    }.mkString(" + ")
    s"""toks AS (SELECT doc_id, unnest($SqlToksLower) AS w
           FROM documents WHERE text IS NOT NULL),
       d AS (SELECT doc_id, count(*) AS dl, $tfSel
             FROM toks GROUP BY doc_id),
       s AS (SELECT count(*) AS n, ${sqlR("avg(dl)", 6)} AS avgdl, $dfSel
             FROM d),
       sc AS (SELECT doc_id, dl, ${sqlR(terms, 6)} AS score
              FROM d CROSS JOIN s)"""
  }

  /** RRF constants: the canonical k = 60 (Cormack et al. 2009) and
    * the per-list truncation depth. */
  val RrfK = 60
  val RrfDepth = 50

  /** Hybrid ranking via reciprocal-rank fusion: fuse the BM25
    * relevance list with the document-quality list —
    * `rrf(d) = Σ_lists 1/(k + rank_d)` over the lists that contain d
    * in their top [[RrfDepth]]. The curation move this encodes: when
    * selecting documents for a topic, relevance alone surfaces spam
    * and quality alone surfaces off-topic prose; RRF is the standard
    * scoreless fusion (no calibration between BM25 points and
    * quality points is needed because only RANKS enter).
    *
    * Scale shape: the two input rankings are TakeOrdered top-50s —
    * driver-bounded lists regardless of corpus size — and the fusion
    * is a full-outer join of two 50-row sets. All heavy lifting
    * happens in the already-audited scoring pipelines upstream.
    * Ranks are integers; each reciprocal is one IEEE division and
    * the ≤2-term sum is fixed-order, r6'd before the final rank. */
  def rrfFuse(spark: SparkSession, dir: String): DataFrame = {
    val wa = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id"))
    val a = bm25Scored(spark, dir)
      .orderBy(col("score").desc, col("doc_id")).limit(RrfDepth)
      .withColumn("ra", row_number().over(wa).cast("long"))
      .select(col("doc_id"), col("ra"))
    val wb = org.apache.spark.sql.expressions.Window
      .orderBy(col("quality").desc, col("doc_id"))
    val b = textQuality(spark, dir)
      .orderBy(col("quality").desc, col("doc_id")).limit(RrfDepth)
      .withColumn("rb", row_number().over(wb).cast("long"))
      .select(col("doc_id"), col("rb"))
    val wf = org.apache.spark.sql.expressions.Window
      .orderBy(col("rrf").desc, col("doc_id"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        r6(coalesce(lit(1.0) / (lit(RrfK) + col("ra")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("rb")), lit(0.0)))
          .as("rrf"),
        col("ra"), col("rb"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(Bm25TopN)
      .withColumn("rank", row_number().over(wf).cast("long"))
      .select(col("rank"), col("doc_id"), col("rrf"), col("ra"), col("rb"))
  }

  lazy val rrfFuseSql: String =
    s"""WITH $bm25SqlCtes,
       f AS ($SqlFeatureSelect),
       q AS (SELECT doc_id, ${sqlR(SqlQualityExpr, 4)} AS quality FROM f),
       ra AS (SELECT doc_id,
                row_number() OVER (ORDER BY score DESC, doc_id) AS ra
              FROM sc ORDER BY score DESC, doc_id LIMIT $RrfDepth),
       rb AS (SELECT doc_id,
                row_number() OVER (ORDER BY quality DESC, doc_id) AS rb
              FROM q ORDER BY quality DESC, doc_id LIMIT $RrfDepth),
       fu AS (SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
                ${sqlR(
        s"""coalesce(1.0 / ($RrfK + ra), 0.0)
            + coalesce(1.0 / ($RrfK + rb), 0.0)""", 6)} AS rrf,
                ra, rb
              FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id),
       k AS (SELECT doc_id, rrf, ra, rb,
               row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank
             FROM fu ORDER BY rrf DESC, doc_id LIMIT $Bm25TopN)
       SELECT rank, doc_id, rrf, ra, rb FROM k"""

  /** Token-repetition signals per document (the Gopher-style
    * repetition rules a quality pipeline gates on): distinct-token
    * ratio and the share of the single most frequent token. Narrow
    * per-row map, no shuffle: the top share is the native
    * `top_item_share` over the lowercased tokens — one hash-count pass
    * over a token array built once per row — bit-identical to the
    * composable [[TextFunctions.topTokenShare]] the oracle mirrors. */
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables.fanOut(t(spark, dir, "documents")).select(
      col("doc_id"),
      tokenCount(lower(col("text"))).cast("long").as("n_tokens"),
      r4(distinctTokenRatio(col("text"))).as("distinct_ratio"),
      r4(graft.functions.GraftFunctions.topItemShareNative(
        tokens(lower(col("text"))))).as("top_token_share"))
  }

  val textRepetitionSql: String =
    s"""WITH f AS (SELECT doc_id, $SqlToksLower AS ts FROM documents),
       c AS (SELECT doc_id, ts,
         list_transform(list_distinct(ts),
           x -> length(list_filter(ts, y -> y = x))) AS cnts FROM f)
       SELECT doc_id, length(ts)::BIGINT AS n_tokens,
         ${sqlR("CASE WHEN length(ts) = 0 THEN 0.0 ELSE length(list_distinct(ts))::DOUBLE / length(ts) END", 4)} AS distinct_ratio,
         ${sqlR("CASE WHEN length(ts) = 0 THEN 0.0 ELSE list_max(cnts)::DOUBLE / length(ts) END", 4)} AS top_token_share
       FROM c"""

  /** Gopher-style n-gram repetition gates (Rae et al.,
    * arXiv:2112.11446, Table A1: "fraction of characters in the most
    * common n-gram" family, here as occurrence shares): the share of
    * the single most frequent word 2-gram and 3-gram per document.
    * High shares mark boilerplate/templated text that token-level
    * signals ([[textRepetition]]) miss — a doc can have a healthy
    * distinct-token ratio while looping one phrase. Narrow per-row
    * map, no shuffle, linear per document: the native `word_ngrams`
    * builds each gram array in one walk and `top_item_share` counts
    * it in one hash pass. Both are bit-identical to the composable
    * [[TextFunctions.wordNgrams]] / [[TextFunctions.topItemShare]]
    * forms the oracle mirrors, which are quadratic per document. */
  def textTopgram(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables.fanOut(t(spark, dir, "documents"))
      .withColumn("g2",
        graft.functions.GraftFunctions.wordNgramsNative(col("text"), 2))
      .withColumn("g3",
        graft.functions.GraftFunctions.wordNgramsNative(col("text"), 3))
      .select(col("doc_id"),
        size(col("g2")).cast("long").as("n_bigrams"),
        r4(graft.functions.GraftFunctions.topItemShareNative(col("g2")))
          .as("top_bigram_share"),
        r4(graft.functions.GraftFunctions.topItemShareNative(col("g3")))
          .as("top_trigram_share"))
  }

  val textTopgramSql: String =
    s"""WITH f AS (SELECT doc_id, $SqlToksLower AS ts FROM documents),
       g AS (SELECT doc_id,
         CASE WHEN length(ts) < 2 THEN []::VARCHAR[]
           ELSE list_transform(range(1, length(ts)),
             i -> ts[i] || ' ' || ts[i+1]) END AS g2,
         CASE WHEN length(ts) < 3 THEN []::VARCHAR[]
           ELSE list_transform(range(1, length(ts) - 1),
             i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) END AS g3
       FROM f),
       c AS (SELECT doc_id, g2, g3,
         list_transform(list_distinct(g2),
           x -> length(list_filter(g2, y -> y = x))) AS c2,
         list_transform(list_distinct(g3),
           x -> length(list_filter(g3, y -> y = x))) AS c3
       FROM g)
       SELECT doc_id, length(g2)::BIGINT AS n_bigrams,
         ${sqlR("CASE WHEN length(g2) = 0 THEN 0.0 ELSE list_max(c2)::DOUBLE / length(g2) END", 4)} AS top_bigram_share,
         ${sqlR("CASE WHEN length(g3) = 0 THEN 0.0 ELSE list_max(c3)::DOUBLE / length(g3) END", 4)} AS top_trigram_share
       FROM c"""

  // ---- PII redaction ----

  /** Dialect-portable PII patterns: the subset of regex syntax Java's
    * engine and DuckDB's RE2 evaluate identically (no lookaround, no
    * backreferences; \b and \p{L} are in both). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+1-555-[0-9]{4}"
  val IpRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII-redaction audit — the scrubbing pass (emails, phone numbers,
    * IPv4 addresses → typed placeholder tokens) every released corpus
    * runs before training. The corpus text itself is synthetic word
    * soup with no PII, so the query plants deterministic PII spans
    * derived from doc_id (the oracle plants the SAME spans), then
    * redacts: the md5 fingerprint of the redacted text pins the two
    * engines to byte-identical redaction — pattern semantics, match
    * boundaries, and replacement order all checked, and the planted
    * variation (docs with 0 or 1 of each kind) checks that clean text
    * passes through untouched.
    *
    * Redaction order is email → phone → IP so a dotted-quad inside a
    * hostname is consumed by the email rule first. Scale shape: pure
    * per-row map, no shuffle, all codegen'd regexp_replace. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val aug = concat(col("text"),
      when(col("doc_id") % 3 =!= 0,
        concat(lit(" contact user"), col("doc_id"), lit("@mail"),
          col("doc_id") % 7, lit(".example.com")))
        .otherwise(lit(" no-email")),
      when(col("doc_id") % 2 === 0,
        concat(lit(" srv 10."), col("doc_id") % 250, lit(".0."),
          col("doc_id") % 100)).otherwise(lit("")),
      when(col("doc_id") % 5 < 2,
        concat(lit(" tel +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")))
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(aug, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      IpRe, "<IP>")
    t(spark, dir, "documents").select(
      col("doc_id"),
      size(regexp_extract_all(aug, lit(EmailRe), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(aug, lit(PhoneRe), lit(0)))
        .cast("long").as("n_phones"),
      size(regexp_extract_all(aug, lit(IpRe), lit(0)))
        .cast("long").as("n_ips"),
      length(redacted).cast("long").as("redacted_len"),
      md5(redacted.cast("binary")).as("fp"))
  }

  val textPiiRedactSql: String =
    s"""WITH a AS (SELECT doc_id, text
         || (CASE WHEN doc_id % 3 <> 0 THEN ' contact user' || doc_id
               || '@mail' || (doc_id % 7) || '.example.com'
             ELSE ' no-email' END)
         || (CASE WHEN doc_id % 2 = 0 THEN ' srv 10.' || (doc_id % 250)
               || '.0.' || (doc_id % 100) ELSE '' END)
         || (CASE WHEN doc_id % 5 < 2 THEN ' tel +1-555-'
               || lpad((doc_id % 10000)::VARCHAR, 4, '0')
             ELSE '' END) AS aug
       FROM documents),
       r AS (SELECT doc_id, aug,
         regexp_replace(regexp_replace(regexp_replace(aug,
           '$EmailRe', '<EMAIL>', 'g'),
           '$PhoneRe', '<PHONE>', 'g'),
           '$IpRe', '<IP>', 'g') AS red
       FROM a)
       SELECT doc_id,
         length(regexp_extract_all(aug, '$EmailRe', 0))::BIGINT AS n_emails,
         length(regexp_extract_all(aug, '$PhoneRe', 0))::BIGINT AS n_phones,
         length(regexp_extract_all(aug, '$IpRe', 0))::BIGINT AS n_ips,
         length(red)::BIGINT AS redacted_len,
         md5(red) AS fp
       FROM r"""

  /** Power-of-two document-length histogram — the power-law sanity
    * check a corpus profile opens with (a web crawl's length
    * distribution should decay smoothly; a spike in one bucket marks
    * truncation or boilerplate). Bucket = ⌊log₂ n_chars⌋ computed in
    * INTEGER space as length(bin(n)) − 1 — both engines strip
    * leading zeros from bin(), so no libm log in the key. One
    * map-side-combined groupBy; the histogram is ≤ 63 rows at any
    * corpus size. */
  def lengthHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(t(spark, dir, "documents"))
      .filter(col("n_chars") >= 1)
      .withColumn("bucket",
        (length(bin(col("n_chars"))) - 1).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).cast("long").as("min_chars"),
        max(col("n_chars")).cast("long").as("max_chars"),
        sum(col("n_chars")).cast("long").as("sum_chars"))

  val lengthHistogramSql: String =
    """SELECT length(bin(n_chars)) - 1 AS bucket,
       count(*)::BIGINT AS n_docs,
       min(n_chars)::BIGINT AS min_chars,
       max(n_chars)::BIGINT AS max_chars,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
       FROM documents WHERE n_chars >= 1 GROUP BY 1"""

  /** Minimum bigram count for [[wordPmi]] — the sparsity floor every
    * collocation extractor applies (a 1-count pair's PMI is noise). */
  val PmiMinCount = 5L

  /** Word-level PMI collocations over adjacent token pairs — the
    * phrase/collocation detector (word2vec's phrase pass, Mikolov et
    * al. arXiv:1310.4546 §4 uses exactly this score shape) that
    * complements the event-graph [[Graph.itemPmi]].
    *
    * pmi(a,b) = ln(c(a,b)·N / (lm(a)·rm(b))) over bigram occurrences,
    * with left/right marginals from the same bigram table so the
    * probabilities are consistent positionwise.
    *
    * Scale shape: one corpus pass explodes adjacent pairs (pipelined,
    * no materialization), then three map-side-combined aggregates
    * whose keys are vocabulary-sized; the marginal joins broadcast
    * (vocab ≪ corpus). The count floor prunes before the joins. */
  def wordPmi(spark: SparkSession, dir: String): DataFrame = {
    val ts = graft.functions.TextFunctions.tokens(lower(col("text")))
    val pairs = t(spark, dir, "documents")
      .select(ts.as("ts"))
      .select(explode(when(size(col("ts")) < 2,
        array().cast("array<struct<a:string,b:string>>"))
        .otherwise(transform(sequence(lit(0), size(col("ts")) - 2),
          i => struct(element_at(col("ts"), i + 1).as("a"),
            element_at(col("ts"), i + 2).as("b"))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    // ONE corpus pass: marginals and the total are re-aggregations of
    // the vocab²-sized count table, not fresh corpus scans (c is
    // persisted — it feeds four consumers)
    val c = pairs.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_ab")).persist()
    val lm = c.groupBy(col("a")).agg(sum(col("n_ab")).as("lm"))
    val rm = c.groupBy(col("b")).agg(sum(col("n_ab")).as("rm"))
    val tot = c.agg(sum(col("n_ab")).as("n"))
    c.filter(col("n_ab") >= PmiMinCount)
      .join(broadcast(lm), "a").join(broadcast(rm), "b")
      .crossJoin(broadcast(tot))
      .select(col("a"), col("b"), col("n_ab"),
        r6(log(col("n_ab").cast("double") * col("n") /
          (col("lm").cast("double") * col("rm")))).as("pmi"))
  }

  val wordPmiSql: String =
    s"""WITH tk AS (SELECT $SqlToksLower AS ts FROM documents),
       bgp AS (SELECT unnest(list_transform(
                 generate_series(1, greatest(length(ts) - 1, 0)),
                 i -> {'a': ts[i], 'b': ts[i + 1]})) AS p FROM tk),
       bg AS (SELECT p.a AS a, p.b AS b FROM bgp),
       c AS MATERIALIZED (SELECT a, b, count(*)::BIGINT AS n_ab
            FROM bg GROUP BY 1, 2),
       lm AS (SELECT a, sum(n_ab)::BIGINT AS lm FROM c GROUP BY 1),
       rm AS (SELECT b, sum(n_ab)::BIGINT AS rm FROM c GROUP BY 1),
       tt AS (SELECT sum(n_ab)::BIGINT AS n FROM c)
       SELECT a, b, n_ab,
         ${sqlR("ln(n_ab::DOUBLE * n / (lm::DOUBLE * rm))", 6)} AS pmi
       FROM c JOIN lm USING (a) JOIN rm USING (b) CROSS JOIN tt
       WHERE n_ab >= $PmiMinCount"""

  /** Unigram^0.75 negative-sampling table — the noise distribution of
    * word2vec / NCE training (Mikolov et al. arXiv:1310.4546 §2.2):
    * per-token probability ∝ count^0.75 plus the cumulative upper
    * edge, so a uniform draw u ∈ [0,1) binary-searches its token by
    * `cum`. The cumulative window is VOCABULARY-sized (bounded by the
    * token domain, not the corpus — same license as the bounded
    * histograms); the corpus contributes only through the one
    * map-side-combined count. */
  def negSampleTable(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ts = graft.functions.TextFunctions.tokens(lower(col("text")))
    val counts = t(spark, dir, "documents")
      .select(explode(ts).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    // ONE corpus pass: the normalizer z is a full-frame window over
    // the vocabulary-sized count table (same bounded license as the
    // ordered cum window), not a second corpus aggregate
    val full = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val w = Window.orderBy(col("n").desc, col("w"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .withColumn("z", sum(pow(col("n").cast("double"), 0.75)).over(full))
      .withColumn("p", pow(col("n").cast("double"), 0.75) / col("z"))
      .withColumn("cum",
        sum(pow(col("n").cast("double"), 0.75)).over(w) / col("z"))
      .select(col("w"), col("n"), r6(col("p")).as("p"),
        r6(col("cum")).as("cum"))
  }

  val negSampleTableSql: String =
    s"""WITH tk AS (SELECT $SqlToksLower AS ts FROM documents),
       u AS (SELECT unnest(ts) AS w FROM tk),
       c AS MATERIALIZED (SELECT w, count(*)::BIGINT AS n FROM u GROUP BY 1),
       z AS (SELECT sum(pow(n::DOUBLE, 0.75)) AS z FROM c)
       SELECT w, n,
         ${sqlR("pow(n::DOUBLE, 0.75) / z.z", 6)} AS p,
         ${sqlR(
      """sum(pow(n::DOUBLE, 0.75)) OVER (ORDER BY n DESC, w
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / z.z""",
      6)} AS cum
       FROM c, z"""

  /** Per-source KL divergence from the corpus token distribution —
    * the domain-shift monitor behind mixture reweighting (a source
    * whose KL spikes is drifting away from the corpus it is supposed
    * to represent; DoReMi-style domain weighting starts from exactly
    * these divergences).
    *
    * KL(P_s ‖ Q) = Σ_w P_s(w) · ln(P_s(w)/Q(w)), where P_s is source
    * s's token distribution and Q the whole corpus's. Every source
    * token is in the corpus vocabulary by construction, so Q(w) > 0
    * wherever P_s(w) > 0 and the sum is finite.
    *
    * Scale shape: ONE corpus pass builds the (source, token) count
    * table (map-side combined, persisted — it feeds three
    * re-aggregations); everything downstream is source×vocab-sized
    * with the corpus marginals broadcast. */
  def sourceKl(spark: SparkSession, dir: String): DataFrame = {
    val ts = graft.functions.TextFunctions.tokens(lower(col("text")))
    val sw = t(spark, dir, "documents")
      .select(col("source"), explode(ts).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("n"))
      .persist()
    val perSource = sw.groupBy(col("source")).agg(sum(col("n")).as("ns"))
    val corpus = sw.groupBy(col("w")).agg(sum(col("n")).as("nw"))
    val tot = sw.agg(sum(col("n")).as("nt"))
    sw.join(broadcast(corpus), "w")
      .join(broadcast(perSource), "source")
      .crossJoin(broadcast(tot))
      .withColumn("term",
        (col("n") / col("ns")) *
          log((col("n") / col("ns")) / (col("nw") / col("nt"))))
      .groupBy(col("source"))
      .agg(max(col("ns")).cast("long").as("n_tokens"),
        r6(sum(col("term"))).as("kl"))
  }

  val sourceKlSql: String =
    s"""WITH tk AS (SELECT source, $SqlToksLower AS ts FROM documents),
       u AS (SELECT source, unnest(ts) AS w FROM tk),
       sw AS MATERIALIZED (SELECT source, w, count(*)::BIGINT AS n
            FROM u GROUP BY 1, 2),
       ps AS (SELECT source, sum(n)::BIGINT AS ns FROM sw GROUP BY 1),
       cw AS (SELECT w, sum(n)::BIGINT AS nw FROM sw GROUP BY 1),
       tt AS (SELECT sum(n)::BIGINT AS nt FROM sw)
       SELECT sw.source, max(ps.ns)::BIGINT AS n_tokens,
         ${sqlR(
      """sum((sw.n::DOUBLE / ps.ns) *
           ln((sw.n::DOUBLE / ps.ns) / (cw.nw::DOUBLE / tt.nt)))""", 6)}
         AS kl
       FROM sw JOIN cw USING (w) JOIN ps USING (source) CROSS JOIN tt
       GROUP BY 1"""

  val queries: Map[String, Q] = Map(
    "q_source_kl" -> (sourceKl _),
    "q_word_pmi" -> (wordPmi _),
    "q_neg_table" -> (negSampleTable _),
    "q_length_histogram" -> (lengthHistogram _),
    "q_tfidf_keywords" -> (tfidfKeywords _),
    "q_bm25_topk" -> (bm25TopK _),
    "q_bm25_join" -> (bm25TopKJoin _),
    "q_rrf_fuse" -> (rrfFuse _),
    "q_bpe_merges" -> (bpeMerges _),
    "q_bpe_tokenize" -> (bpeTokenize _),
    "q_cms_heavy" -> (cmsHeavy _),
    "q_text_pii_redact" -> (piiRedact _),
    "q_text_topgram" -> (textTopgram _),
    "q_text_repetition" -> (textRepetition _),
    "q_text_wordcount" -> (textWordcount _),
    "q_text_stats" -> (textStats _),
    "q_text_quality" -> (textQuality _),
    "q_text_langid" -> (textLangId _),
    "q_text_fingerprint" -> (textFingerprint _),
    "q_text_clean" -> (textClean _),
    "q_text_model_score" -> (textModelScore _),
    "q_text_by_lang" -> (textByLang _),
  )

  val oracles: Map[String, String] = Map(
    "q_source_kl" -> sourceKlSql,
    "q_word_pmi" -> wordPmiSql,
    "q_neg_table" -> negSampleTableSql,
    "q_length_histogram" -> lengthHistogramSql,
    "q_tfidf_keywords" -> tfidfKeywordsSql,
    "q_bm25_topk" -> bm25TopKSql,
    // postings-join plan ≡ column plan: same oracle verbatim — the
    // hash gate is the cross-plan equivalence proof
    "q_bm25_join" -> bm25TopKSql,
    "q_rrf_fuse" -> rrfFuseSql,
    "q_bpe_merges" -> bpeMergesSql,
    "q_bpe_tokenize" -> bpeTokenizeSql,
    "q_cms_heavy" -> cmsHeavySql,
    "q_text_pii_redact" -> textPiiRedactSql,
    "q_text_topgram" -> textTopgramSql,
    "q_text_repetition" -> textRepetitionSql,
    "q_text_wordcount" -> textWordcountSql,
    "q_text_stats" -> textStatsSql,
    "q_text_quality" -> textQualitySql,
    "q_text_langid" -> textLangIdSql,
    "q_text_fingerprint" -> textFingerprintSql,
    "q_text_clean" -> textCleanSql,
    "q_text_model_score" -> textModelScoreSql,
    "q_text_by_lang" -> textByLangSql,
  )
}
