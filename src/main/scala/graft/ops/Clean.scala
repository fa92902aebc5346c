package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StringType}

import graft.rules.Rules._

/** The full `clean_review` pipeline (`streaming/quality_engine.py:223-358`)
  * as a STAGED declarative DataFrame transform. The reference evaluates an
  * ordered short-circuit filter chain per record; we compute the same
  * decision as a sequence of narrow projections — every record is annotated
  * with its (first-failure) rejection stage, the accumulated issue list,
  * text features, sub-scores and the final quality score.
  *
  * Why staged projections instead of one wide select: every expensive
  * subexpression (`lower(text)`, the 5 spam rlikes, regexp counts) is
  * computed ONCE as a named column and referenced by attribute afterwards.
  * Catalyst's CollapseProject keeps non-cheap aliases that are consumed more
  * than once un-inlined, so the generated code stays small (fast Janino
  * compile, tight whole-stage-codegen) and higher-order-function fallback
  * islands (array filter/aggregate) reference attributes instead of
  * re-interpreting whole regex subtrees per row. No shuffles — at 100 TB
  * this is embarrassingly parallel scan-project work.
  *
  * Stage order (reject unless noted):
  *   1. missing text and/or missing rating (rating==0 counts as missing —
  *      `not raw_review.rating`, quality_engine.py:226)         [both issues]
  *   2. language not in SUPPORTED_LANGUAGES
  *   3. language confidence < 0.8            -> WARN only (record continues)
  *   4. spam (>=2 of 5 patterns)
  *   5. text shorter than 10 chars
  *   6. text longer than 5000 chars          -> WARN + truncate to 5000
  *   7. rating outside [1, 5]
  *   8. pydantic re-validation (models.py:71-83): cleaned text empty after
  *      strip, or < 40% alphabetic            -> invalid_format
  *
  * Scoring subtleties (preserved): validity + spam sub-scores use the RAW
  * (pre-truncation) text; features use the TRUNCATED text; the output text
  * is the truncated text TRIMMED (the pydantic validator returns v.strip()).
  */
object Clean {

  val IssueFields: Seq[String] =
    Seq("issue_type", "field_name", "og_value", "expected_range", "severity")

  private def issue(issueType: String, fieldName: String, ogValue: Column,
                    expectedRange: Column, severity: Int): Column =
    struct(
      lit(issueType).as("issue_type"),
      lit(fieldName).as("field_name"),
      ogValue.cast(StringType).as("og_value"),
      expectedRange.cast(StringType).as("expected_range"),
      lit(severity).as("severity"))

  private val nullStr = lit(null).cast(StringType)

  private def spamFlag(i: Int) = col(s"_spam_p$i")

  /** Annotate a RawYelpReview-shaped DataFrame (review_id, business_id,
    * user_id, rating, text, date, useful, funny, cool, source) with
    * language, features, sub-scores, score, `accepted`, `stage` and
    * `issues: array<struct>`. Internal `_`-prefixed helper columns are left
    * in place — downstream column pruning removes them for free.
    */
  def annotate(raw: DataFrame): DataFrame = {
    val text = col("text")
    val rating = col("rating")

    // L0: single-pass derivations of the raw text
    val l0 = Par.fanOut(raw).withColumns(Map(
      "_lc" -> lower(text),
      "_raw_len" -> length(text)))

    // L1: everything that scans _lc / text exactly once. The fused
    // TextStats expression (graft.functions) yields all char-class counts,
    // token stats and repeated-run counts of the lowered raw text in ONE
    // code-point scan (vs ~5 regex traversals + a codegen-blocking HOF).
    val l1 = l0.withColumns(Map(
      "_text_missing" -> (text.isNull || col("_raw_len") === 0),
      "_rating_missing" -> (rating.isNull || rating === 0), // Python truthiness
      "_lcs" -> graft.functions.TextStats(col("_lc")),
      "cleaned_text" -> when(col("_raw_len") > TextMaxLength,
        substring(text, 1, TextMaxLength)).otherwise(text)
    ) + ("_lm" -> {
      // all 29 language-profile counts fused into ONE struct alias (the
      // TextStats idiom). 29 separate alias columns made Catalyst's
      // constraint propagation quadratic-explode: getAllValidConstraints
      // re-maps the whole constraint set (transform + semanticEquals per
      // node) once per PROJECT ALIAS, so 29 aliases each carrying a
      // regex-count tree over a multi-KB stopword literal, stacked across
      // the annotate Projects, spun planning for tens of minutes. One
      // struct alias = one constraint entry; every downstream reference is
      // a cheap GetStructField.
      //
      // r8: the counts come from ONE native scan (Language.matchCounts /
      // LangCounts) instead of 29 regex traversals per row; codegen
      // subexpression elimination evaluates the shared array once. The
      // emptyText guard keeps the regex form's null-text value (0, not
      // null).
      val langs = "en" +: Language.OtherLangs
      val counts = Language.matchCounts(text)
      struct(langs.zipWithIndex.map { case (l, i) =>
        when(TextFeatures.emptyText(text), lit(0))
          .otherwise(counts.getItem(i)).as(l) }: _*)
    }) ++ SpamPatterns.zipWithIndex.map { case (p, i) =>
      s"_spam_p$i" -> col("_lc").rlike(p)
    })
    def langM(l: String) = col("_lm").getField(l)

    // L2: derived from L1 columns; one fused scan of cleaned_text
    val l2 = l1.withColumns(Map(
      "_pattern_matches" ->
        SpamPatterns.indices
          .map(i => when(spamFlag(i), lit(1)).otherwise(lit(0)))
          .reduce(_ + _),
      // multi-language detection: the en gate (and thus the accepted set
      // and en confidences) is unchanged; non-en docs get their argmax
      // profile instead of a flat 'unknown' (see Language)
      "language" -> Language.languageFrom(langM("en"),
        Language.OtherLangs.map(langM)),
      "language_confidence" -> Language.confidenceFrom(langM("en"),
        Language.OtherLangs.map(langM)),
      "_cts" -> graft.functions.TextStats(col("cleaned_text")),
      "_stripped_empty" -> (length(trim(col("cleaned_text"))) === 0)))

    // L3: flags + features assembled from the fused stats
    def lcs(f: String) = col("_lcs").getField(f)
    def cts(f: String) = col("_cts").getField(f)
    val cleanedLen = cts("char_count")
    val emptyCt = col("cleaned_text").isNull || cleanedLen === 0
    val l3 = l2.withColumns(Map(
      "_spam_hit" -> (col("_pattern_matches") >= SpamPatternThreshold),
      "_too_short" -> (col("_raw_len") < TextMinLength),
      "_too_long" -> (col("_raw_len") > TextMaxLength),
      "_rating_out" -> (rating < RatingMin || rating > RatingMax),
      "_invalid_format" -> (col("_stripped_empty") ||
        (cts("alpha") / cleanedLen) < lit(MinAlphaRatio)),
      "word_count" -> when(emptyCt, lit(0)).otherwise(cts("word_count")),
      "char_count" -> when(emptyCt, lit(0)).otherwise(cleanedLen),
      "sentence_count" -> when(emptyCt, lit(0))
        .otherwise(greatest(lit(1), cts("sentence_marks"))),
      "avg_word_length" -> when(emptyCt || cts("word_count") === 0, lit(0.0))
        .otherwise(round(cts("strip_sum") / cts("word_count"), 2))))

    // L4: stage reachability + sub-scores (cheap arithmetic on attributes)
    val pastMissing = !(col("_text_missing") || col("_rating_missing"))
    val pastLang = pastMissing && col("language").isin(SupportedLanguages: _*)
    val pastSpam = pastLang && !col("_spam_hit")
    val pastShort = pastSpam && !col("_too_short")
    val pastRange = pastShort && !col("_rating_out")
    val l4 = l3.withColumns(Map(
      "_past_missing" -> pastMissing,
      "_past_lang" -> pastLang,
      "_past_spam" -> pastSpam,
      "_past_short" -> pastShort,
      "_past_range" -> pastRange,
      "accepted" -> (pastRange && !col("_invalid_format")),
      "completeness_score" -> Quality.completeness(
        required = Seq(col("review_id"), col("business_id"), col("user_id"),
          text, rating, col("date")),
        optional = Seq(col("useful"), col("funny"), col("cool"))),
      // Q2 validity on the RAW text length + rating
      "validity_score" ->
        Quality.validityFrom(col("_text_missing"), col("_raw_len"), rating),
      "freshness_score" -> Quality.freshness(col("date")),
      // Q4 spam sub-score (quality_engine.py:113-147) on the RAW lowered
      // text (fused-stat fields): 1.0 minus 0.3 per pattern match, 0.3 if
      // the '!?.,;:' ratio > 0.3, 0.2 if more than 2 runs of 4+ repeated
      // chars, 0.3 if the digit ratio > 0.3; clamped to [0, 1]. The
      // reference's text.isupper() deduction is dead code — the text was
      // lowered at :117, so isupper() is always False — and is left out.
      "spam_check_score" -> when(col("_text_missing"), lit(0.0)).otherwise(
        greatest(lit(0.0), least(lit(1.0),
          lit(1.0) - lit(0.3) * col("_pattern_matches") -
            when(lcs("punct_spam") / col("_raw_len") > lit(0.3),
              lit(0.3)).otherwise(lit(0.0)) -
            when(lcs("runs4") > 2, lit(0.2)).otherwise(lit(0.0)) -
            when(lcs("digit") / col("_raw_len") > lit(0.3),
              lit(0.3)).otherwise(lit(0.0)))))))

    // L5: final score; L6: anomaly flag + stage label + issue accumulation
    val l5 = l4.withColumn("data_quality_score",
      Quality.score(col("completeness_score"), col("validity_score"),
        col("freshness_score"), col("spam_check_score")))

    val matchedRepr = concat(lit("Matched patterns: ["),
      array_join(filter(array(SpamPatterns.indices.map(i =>
        when(spamFlag(i), lit(s"'pattern_$i'"))): _*), e => e.isNotNull), ", "),
      lit("]"))

    l5.withColumns(Map(
      "is_anomaly" -> Quality.isAnomaly(col("data_quality_score")),
      "stage" -> when(!col("_past_missing"), lit("missing_value"))
        .when(!col("_past_lang"), lit("unsupported_language"))
        .when(!col("_past_spam"), lit("spam_detected"))
        .when(!col("_past_short"), lit("too_short"))
        .when(!col("_past_range"), lit("out_of_range"))
        .when(!col("accepted"), lit("invalid_format"))
        .otherwise(lit("accepted")),
      // issue accumulation in reference emission order
      "issues" -> filter(array(
        when(col("_text_missing"),
          issue("missing_value", "text", nullStr, nullStr, SevMissing)),
        when(col("_rating_missing"),
          issue("missing_value", "rating", nullStr, nullStr, SevMissing)),
        when(col("_past_missing") && !col("language").isin(SupportedLanguages: _*),
          issue("unsupported_language", "text", col("language"),
            lit(s"['${SupportedLanguages.mkString("', '")}']"),
            SevUnsupportedLanguage)),
        when(col("_past_lang") &&
          col("language_confidence") < lit(LangConfThreshold),
          issue("wrong_language", "language_confidence",
            col("language_confidence").cast(DecimalType(4, 2)),
            lit(s">=$LangConfThreshold"), SevWrongLanguage)),
        when(col("_past_lang") && col("_spam_hit"),
          issue("spam_detected", "text", matchedRepr, nullStr, SevSpam)),
        when(col("_past_spam") && col("_too_short"),
          issue("too_short", "text", col("_raw_len"),
            lit(s">=$TextMinLength"), SevTooShort)),
        when(col("_past_short") && col("_too_long"),
          issue("too_long", "text", col("_raw_len"),
            lit(s"<=$TextMaxLength"), SevTooLong)),
        when(col("_past_short") && col("_rating_out"),
          issue("out_of_range", "rating", rating,
            lit(s"$RatingMin-$RatingMax"), SevOutOfRange)),
        when(col("_past_range") && col("_invalid_format"),
          issue("invalid_format", "multiple",
            when(col("_stripped_empty"),
              lit("Text cannot be empty or whitespace"))
              .otherwise(
                lit("Text must contain at least 40% alphabetic characters")),
            nullStr, SevInvalidFormat))
      ), i => i.isNotNull)))
  }

  /** Accepted records in CleanedYelpReview shape (models.py:40-69), minus the
    * wall-clock ingestion/processing timestamps (non-deterministic; the
    * streaming layer adds them — graft.streaming).
    */
  def cleaned(annotated: DataFrame): DataFrame =
    annotated.filter(col("accepted")).select(
      col("review_id"), col("business_id"), col("user_id"),
      trim(col("cleaned_text")).as("text"), // validator returns v.strip()
      col("rating").cast("int").as("rating"), // CleanedYelpReview.rating: int
      col("date"),
      coalesce(col("useful"), lit(0)).as("useful"), // `useful or 0`
      coalesce(col("funny"), lit(0)).as("funny"),
      coalesce(col("cool"), lit(0)).as("cool"),
      col("word_count"), col("char_count"), col("sentence_count"),
      col("avg_word_length"), col("language"), col("language_confidence"),
      col("data_quality_score"),
      lit(false).as("is_spam"), // always false on accepted (:342)
      col("is_anomaly"), col("source"))

  /** The issue stream: one row per issue (the reference's 1->0..n Generator
    * shape, faust_app.py:168-170), via the built-in explode.
    */
  def issues(annotated: DataFrame): DataFrame =
    annotated.filter(size(col("issues")) > 0)
      .select(col("review_id"), explode(col("issues")).as("issue"))
      .select(col("review_id") +: IssueFields.map(f => col(s"issue.$f").as(f)): _*)
}
