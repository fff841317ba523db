package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Regex caption-cleaning pipeline — contract of the reference's
  * RegexFilter (DPF/filters/texts/regex_filter.py:15-56): an ordered
  * list of (pattern → replacement) rules applied to a lowercased,
  * trimmed caption, as chained codegen'd `regexp_replace` expressions.
  *
  * The reference ships large RU/EN regex corpora as data
  * (texts/regexs.py); the corpus here is deliberately our own small
  * general-purpose set — the operator (ordered rule chain) is the
  * ported surface, corpora are user-supplied data. */
final case class RegexCleanFilter(
    textColumn: String = "text",
    outputColumn: String = "clean_caption",
    rules: Seq[(String, String)] = RegexCleanFilter.DefaultRules)
    extends ColumnFilter {
  override def requiredColumns: Seq[String] = Seq(textColumn)
  override def resultColumns: Seq[(String, Column)] = {
    val cleaned = rules.foldLeft(trim(lower(col(textColumn)))) {
      case (c, (pat, rep)) => regexp_replace(c, pat, rep)
    }
    Seq(outputColumn -> trim(cleaned))
  }
}

object RegexCleanFilter {
  /** html tags, urls, emails, bracketed refs, punctuation runs,
    * whitespace collapse — applied in order. Patterns deliberately
    * avoid backreferences so the same rules run on RE2 engines
    * (punctuation runs are per-character rules). */
  val DefaultRules: Seq[(String, String)] = Seq(
    "<[^>]{1,100}>" -> " ",
    "https?://\\S+" -> " ",
    "\\S+@\\S+\\.\\S+" -> " ",
    "\\[[0-9]{1,4}\\]" -> " ",
    "!{2,}" -> "!",
    "\\?{2,}" -> "?",
    ",{2,}" -> ",",
    "\\.{3,}" -> ".",
    ";{2,}" -> ";",
    ":{2,}" -> ":",
    "\\s{2,}" -> " ")
}

/** Language-ID column filter — contract of the reference's LangFilter
  * (DPF/filters/texts/lang_filter.py:8-44: `lang`, `lang_score`),
  * using the deterministic marker heuristic of
  * [[graft.functions.TextFunctions.langId]]; the score is the winning
  * language's marker-hit ratio rounded to 2 places (the reference
  * rounds its model score the same way, lang_filter.py:42-44). */
final case class LangIdFilter(textColumn: String = "text")
    extends ColumnFilter {
  override def requiredColumns: Seq[String] = Seq(textColumn)
  override def resultColumns: Seq[(String, Column)] = {
    val text = col(textColumn)
    val nTok = TextFunctions.tokenCount(lower(text))
    val best = TextFunctions.LangMarkers
      .map { case (_, ms) => TextFunctions.langScore(text, ms) }
      .reduce((a, b) => greatest(a, b))
    val score = when(nTok === 0, lit(0.0))
      .otherwise(round(best.cast("double") / nTok.cast("double"), 2))
    Seq("lang" -> TextFunctions.langId(text), "lang_score" -> score)
  }
}

/** Text-quality column filter: the composite score plus its raw
  * ingredients (ColumnFilter family, DPF/filters/column_filter.py). */
final case class TextQualityFilter(textColumn: String = "text")
    extends ColumnFilter {
  override def requiredColumns: Seq[String] = Seq(textColumn)
  override def resultColumns: Seq[(String, Column)] = {
    val text = col(textColumn)
    Seq(
      "n_tokens" -> TextFunctions.tokenCount(text).cast("long"),
      "punct_ratio" -> round(TextFunctions.punctRatio(text), 4),
      "upper_ratio" -> round(TextFunctions.upperRatio(text), 4),
      "quality_score" -> TextFunctions.qualityScore(text))
  }
}

/** Redundancy column filter: deflate compression ratio plus
  * repetition signals (distinct-token ratio, top-token share) — the
  * Gopher-style gates a training pipeline filters on before spending
  * model compute. Pure column expressions; `compress_ratio` and
  * `top_item_share` are graft's native expressions (registered by
  * `applyColumnFilter`). */
final case class RedundancyFilter(textColumn: String = "text")
    extends ColumnFilter {
  override def requiredColumns: Seq[String] = Seq(textColumn)
  override def resultColumns: Seq[(String, Column)] = {
    val text = col(textColumn)
    // epsilon-then-round, matching the catalog's Num.r4 policy (the
    // same ratios feed q_text_repetition's oracle)
    def r4(c: Column): Column = round(c + lit(1e-9), 4)
    Seq(
      "compress_ratio" ->
        r4(graft.functions.GraftFunctions.compressRatio(text)),
      "distinct_token_ratio" ->
        r4(TextFunctions.distinctTokenRatio(text)),
      "top_token_share" -> r4(graft.functions.GraftFunctions
        .topItemShareNative(TextFunctions.tokens(lower(text)))))
  }
}
