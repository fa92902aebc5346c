package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.rules.Rules._

/** Deterministic heuristic language detector with the same interface as the
  * reference's `detect_language(text) -> (lang, confidence)`
  * (`streaming/quality_engine.py:149-161`). The reference uses `langdetect`
  * (a seeded Naive-Bayes model over ~55 languages); for a reproducible,
  * oracle-checkable engine we use stopword-profile match counts expressed as
  * pure column expressions — no UDF, fully codegen'd, and identically
  * computable in SQL.
  *
  * Decision:
  *  - `en` iff >= 1 English-stopword match — the SUPPORTED-language gate,
  *    bit-identical to the original binary detector, so the accepted set
  *    and every en confidence are unchanged;
  *  - otherwise the argmax non-English profile (es/de/fr/pt/it/nl stopword
  *    counts; zh/ru/ja/ko/ar script-codepoint counts) with the
  *    deterministic [[OtherLangs]] order as tie preference — the refinement
  *    of the old 'unknown' bucket that gives rejected records a real
  *    detected language, like the reference;
  *  - 'unknown' only when every profile counts zero.
  *
  * confidence = min(1.0, round(0.15 * matches_of_detected_profile, 2)),
  * the reference-shaped monotone proxy (quality_engine.py:156-158 returns
  * langdetect's probability; the clean pipeline only thresholds it).
  */
object Language {

  /** Detector profile order after `en` (also the tie preference). The
    * original four (es/de/fr/zh) stay first so their mutual tie-breaks are
    * unchanged; the breadth profiles (r3: pt/it/nl stopwords, ru/ja/ko/ar
    * scripts; r4: sv/da/no/fi/pl/cs/tr/id/ro/hu stopwords,
    * el/he/hi/th/bn/ta/vi scripts) only win where they strictly outscore
    * every earlier profile.
    */
  val OtherLangs: Seq[String] =
    Seq("es", "de", "fr", "zh", "pt", "it", "nl", "ru", "ja", "ko", "ar",
      "sv", "da", "no", "fi", "pl", "cs", "tr", "id", "ro", "hu",
      "el", "he", "hi", "th", "bn", "ta", "vi")

  private val profileRe: Map[String, String] =
    TextAnalysis.StopwordProfiles.toMap
  val scriptRe: Map[String, String] = TextAnalysis.ScriptProfiles.toMap

  /** Match count for one profile, 0 on empty/null text. Script languages
    * (zh/ru/ja/ko/ar) count codepoints in their script class; the rest
    * count stopword occurrences in the lowered text.
    */
  def matchesFor(lang: String, t: Column): Column = {
    val lc = lower(t)
    val raw = lang match {
      case "en" => regexp_count(lc, lit(EnStopwords))
      case l if scriptRe.contains(l) =>
        length(lc) - length(regexp_replace(lc, scriptRe(l), ""))
      case l => regexp_count(lc, lit(profileRe(l)))
    }
    when(TextFeatures.emptyText(t), lit(0)).otherwise(raw)
  }

  /** The regex for one profile (the exact pattern [[matchesFor]] runs). */
  def regexFor(lang: String): String = lang match {
    case "en" => EnStopwords
    case l if scriptRe.contains(l) => scriptRe(l)
    case l => profileRe(l)
  }

  /** ALL 29 detector profile counts ("en" then [[OtherLangs]] order) in
    * one fused scan of the lowered text ([[graft.functions.LangCounts]])
    * — value-identical to 29 [[matchesFor]] regex passes (LangCountsSpec
    * pins it); `array<int>`, null on null text (callers guard like the
    * regex form's emptyText branch did).
    */
  def matchCounts(t: Column): Column =
    graft.functions.LangCounts(lower(t),
      ("en" +: OtherLangs).map(regexFor))

  /** Language decision from precomputed match-count columns — `en` plus one
    * per [[OtherLangs]] entry, in that order — see the object doc for the
    * gate + argmax semantics.
    *
    * The argmax is a lexicographic `array_max` over `(count, -index, lang)`
    * structs: the max struct has the highest count, and among equal counts
    * the highest `-index` — i.e. the EARLIEST profile — exactly the
    * OtherLangs-order tie preference. Each profile column appears ONCE in
    * the expression. The previous formulation (a CaseWhen whose branch i
    * conjoins `count_i >= count_j` for every later j) referenced the
    * columns O(n²) times; growing from 11 to 28 profiles took it from ~55
    * to ~378 references, and once Catalyst's constraint propagation
    * substituted each reference with its regexp-count tree, planning any
    * query through Clean.annotate spun for tens of MINUTES in pairwise
    * `semanticEquals` (observed live in getAllValidConstraints). Expression
    * SIZE is a planning-time scale axis just like row count is an
    * execution-time one.
    */
  def languageFrom(en: Column, others: Seq[Column]): Column = {
    require(others.length == OtherLangs.length,
      s"expected ${OtherLangs.length} profile columns, got ${others.length}")
    val best = array_max(array(others.zipWithIndex.map { case (c, i) =>
      struct(c.as("m"), lit(-i).as("pri"), lit(OtherLangs(i)).as("lang"))
    }: _*))
    when(en >= 1, lit("en"))
      .when(best.getField("m") === 0, lit("unknown"))
      .otherwise(best.getField("lang"))
  }

  /** Match count of the language `languageFrom` picks. */
  def detectedMatches(en: Column, others: Seq[Column]): Column =
    when(en >= 1, en).otherwise(greatest(others: _*))

  def confidenceFrom(en: Column, others: Seq[Column]): Column =
    least(lit(1.0),
      round(detectedMatches(en, others) * lit(ConfPerMatch), 2))

  /** Single-expression form (recomputes the counts with one regex pass per
    * profile; the clean pipeline stages the fused counts as columns
    * instead and uses the *From variants) — the reference the specs check
    * the fused path against.
    */
  def language(t: Column): Column =
    languageFrom(matchesFor("en", t), OtherLangs.map(matchesFor(_, t)))
}
