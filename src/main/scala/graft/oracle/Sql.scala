package graft.oracle

import graft.rules.Rules._

/** DuckDB oracle-SQL generator.
  *
  * Every query in `SparkEntry.queries` has a DuckDB-equivalent here. The SQL
  * is GENERATED from the same `graft.rules.Rules` constants the Spark column
  * expressions use, and mirrors the Spark expressions' arithmetic order
  * exactly, so doubles come out bit-identical (same IEEE-754 op sequence).
  *
  * Parity rules observed throughout (verified empirically against DuckDB):
  *  - fractional literals are CAST(x AS DOUBLE) — bare `0.3` is DECIMAL in
  *    DuckDB, which would change the arithmetic;
  *  - int/int division is double division in BOTH engines (`/`);
  *  - double->int conversion always goes through floor() (DuckDB CAST rounds,
  *    Spark CAST truncates);
  *  - DuckDB regexp_replace needs the 'g' flag (Spark replaces all matches
  *    by default);
  *  - both engines round() half-away-from-zero for positive doubles;
  *  - counts are cast to INTEGER/BIGINT explicitly to match Spark's types.
  */
object Sql {

  /** SQL string literal with quote escaping. */
  def s(v: String): String = "'" + v.replace("'", "''") + "'"

  /** Double literal (DuckDB parses bare decimals as DECIMAL type). */
  def d(v: Double): String = s"CAST($v AS DOUBLE)"

  /** Mirror of Relational.qsum: order-independent fixed-point-exact sum —
    * per-row quantize (bit-identical double product in both engines),
    * exact integer sum (HUGEINT here, decimal(38,0) in Spark), one
    * division back. A plain sum(double) is summation-order-dependent and
    * made THIS oracle flap run-to-run at sf1 (16-thread DuckDB sum).
    */
  def qsum(x: String, scale: Double): String =
    s"CAST(sum(CAST(floor($x * ${d(scale)} + 0.5) AS HUGEINT)) AS DOUBLE)" +
      s" / ${d(scale)}"

  /** round(qsum, dp) with the cross-engine round pattern. */
  def qsumR(x: String, scale: Double, dp: Int): String =
    s"CAST(round(CAST(${qsum(x, scale)} AS DECIMAL(38, 12)), $dp) AS DOUBLE)"

  /** Occurrences of single-char regex class `cls`. */
  def classCount(e: String, cls: String): String =
    s"(length($e) - length(regexp_replace($e, ${s(cls)}, '', 'g')))"

  /** Number of non-overlapping matches. Mirrors Spark regexp_count. */
  def reCount(e: String, pattern: String): String =
    s"len(regexp_extract_all($e, ${s(pattern)}))"

  def reMatch(e: String, pattern: String): String =
    s"regexp_matches($e, ${s(pattern)})"

  /** Mirror of Language.matchesFor for the non-en profiles — generated
    * from the SAME profile tables the Spark expressions read (stopword
    * counts for Latin-script profiles, script-codepoint counts for
    * zh/ru/ja/ko/ar), 0 on empty text.
    */
  private def langMatchCols(emptyT: String): String = {
    val profiles = graft.ops.TextAnalysis.StopwordProfiles.toMap
    val scripts = graft.ops.Language.scriptRe
    graft.ops.Language.OtherLangs.map { l =>
      val count =
        if (scripts.contains(l)) classCount("lower(text)", scripts(l))
        else reCount("lower(text)", profiles(l))
      s"CASE WHEN $emptyT THEN 0 ELSE $count END AS ${l}_matches"
    }.mkString(",\n    ")
  }

  /** Mirror of Language.languageFrom's argmax CASE: lang i wins iff its
    * count >= every later profile's count (OtherLangs order = tie
    * preference), after the en gate and the all-zero 'unknown' case.
    */
  private def languageCase: String = {
    val ol = graft.ops.Language.OtherLangs
    val arms = ol.init.zipWithIndex.map { case (l, i) =>
      val ge = ol.drop(i + 1)
        .map(o => s"${l}_matches >= ${o}_matches").mkString(" AND ")
      s"WHEN $ge THEN '$l'"
    }
    (s"CASE WHEN en_matches >= 1 THEN 'en'" +:
      s"WHEN ${allLangGreatest} = 0 THEN 'unknown'" +:
      arms :+ s"ELSE '${ol.last}' END").mkString("\n         ")
  }

  private def allLangGreatest: String =
    graft.ops.Language.OtherLangs.map(l => s"${l}_matches")
      .mkString("greatest(", ", ", ")")

  private def spamFlag(i: Int): String =
    s"(CASE WHEN ${reMatch("text_lc", SpamPatterns(i))} THEN 1 ELSE 0 END)"

  /** Mirror of graft.ops.Reviews.docsAsReviews over the `documents` table. */
  val rawReviewsCte: String =
    s"""raw AS (
       |  SELECT
       |    CAST(doc_id AS VARCHAR) AS review_id,
       |    source AS business_id,
       |    'u' || CAST(doc_id % 50 AS VARCHAR) AS user_id,
       |    CASE WHEN doc_id % 19 = 0 THEN NULL
       |         ELSE CAST(doc_id % 8 AS DOUBLE) END AS rating,
       |    CASE WHEN doc_id % 23 = 0 THEN NULL
       |         WHEN doc_id % 29 = 0 THEN substr(text, 1, 5)
       |         WHEN doc_id % 31 = 0 THEN
       |           repeat(text, CAST(floor(5001 / n_chars) AS INTEGER) + 1)
       |         WHEN doc_id % 37 = 0 THEN
       |           concat(text, ' ', repeat('0123456789 ',
       |             CAST(floor(2 * n_chars / 11) AS INTEGER) + 1))
       |         ELSE text END AS text,
       |    TIMESTAMP '2024-01-01 00:00:00'
       |      + CAST(doc_id % 100000000 AS INTEGER) * INTERVAL 1 MINUTE
       |        AS "date",
       |    CASE WHEN doc_id % 7 = 0 THEN NULL
       |         ELSE CAST(doc_id % 4 AS INTEGER) END AS useful,
       |    CAST(doc_id % 3 AS INTEGER) AS funny,
       |    CAST(doc_id % 5 AS INTEGER) AS cool,
       |    source
       |  FROM documents
       |)""".stripMargin

  /** Mirror of graft.ops.Clean.annotate: layered CTEs ending in `ann`.
    *
    * `ann` is MATERIALIZED: the issue-stream oracles reference it from 9
    * UNION ALL branches, and DuckDB inlines plain CTEs per reference — 9
    * copies of the 46-regex annotate pipeline, compiled per thread,
    * exhausted the kernel's vm.max_map_count (65k mappings, observed) and
    * poisoned the whole oracle run with spurious OOM "bad allocation"
    * errors. Materializing evaluates the pipeline once.
    */
  val annCtes: String = {
    val emptyT = "(text IS NULL OR length(text) = 0)"
    val emptyCt = "(cleaned_text IS NULL OR length(cleaned_text) = 0)"
    val wordsExpr =
      s"list_filter(regexp_split_to_array(cleaned_text, ${s("""\s+""")}), w -> w != '')"
    val stripLen =
      s"length(regexp_replace(w, ${s(WordStripClass)}, '', 'g'))"
    val spamPunctRatio = s"(${classCount("text_lc", PunctSpamClass)} / length(text_lc))"
    val spamDigitRatio = s"(${classCount("text_lc", DigitClass)} / length(text_lc))"
    val matchedRepr = SpamPatterns.indices.map { i =>
      s"CASE WHEN ${reMatch("text_lc", SpamPatterns(i))} THEN '''pattern_$i''' END"
    }.mkString("[", ", ", "]")
    s"""$rawReviewsCte,
       |c1 AS (
       |  SELECT *,
       |    lower(text) AS text_lc,
       |    length(text) AS raw_len,
       |    $emptyT AS text_missing,
       |    (rating IS NULL OR rating = 0) AS rating_missing,
       |    CASE WHEN $emptyT THEN 0
       |         ELSE ${reCount("lower(text)", EnStopwords)} END AS en_matches,
       |    ${langMatchCols(emptyT)}
       |  FROM raw
       |),
       |c2 AS (
       |  SELECT *,
       |    $languageCase AS language,
       |    least(${d(1.0)}, CAST(round(CAST(
       |      (CASE WHEN en_matches >= 1 THEN en_matches
       |            ELSE $allLangGreatest END)
       |      * ${d(ConfPerMatch)} AS DECIMAL(38, 12)), 2) AS DOUBLE))
       |      AS language_confidence,
       |    (${SpamPatterns.indices.map(spamFlag).mkString(" + ")})
       |      AS pattern_matches,
       |    list_aggregate(list_filter($matchedRepr, x -> x IS NOT NULL),
       |      'string_agg', ', ') AS matched_list,
       |    CASE WHEN raw_len > $TextMaxLength
       |         THEN substr(text, 1, $TextMaxLength)
       |         ELSE text END AS cleaned_text
       |  FROM c1
       |),
       |c3 AS (
       |  SELECT *,
       |    (raw_len < $TextMinLength) AS too_short,
       |    (raw_len > $TextMaxLength) AS too_long,
       |    (rating < $RatingMin OR rating > $RatingMax) AS rating_out,
       |    (pattern_matches >= $SpamPatternThreshold) AS spam_hit,
       |    length(cleaned_text) AS cleaned_len,
       |    ${classCount("cleaned_text", AlphaClass)} AS alpha_count,
       |    (length(trim(cleaned_text)) = 0) AS stripped_empty,
       |    $wordsExpr AS words
       |  FROM c2
       |),
       |c4 AS (
       |  SELECT *,
       |    (stripped_empty OR (alpha_count / cleaned_len) < ${d(MinAlphaRatio)})
       |      AS invalid_format,
       |    NOT (text_missing OR rating_missing) AS past_missing,
       |    (NOT (text_missing OR rating_missing)
       |      AND language IN (${SupportedLanguages.map(s).mkString(", ")}))
       |      AS past_lang,
       |    CASE WHEN $emptyCt THEN 0
       |         ELSE CAST(len(words) AS INTEGER) END AS word_count,
       |    CASE WHEN $emptyCt THEN 0
       |         ELSE CAST(length(cleaned_text) AS INTEGER) END AS char_count,
       |    CASE WHEN $emptyCt THEN 0
       |         ELSE CAST(greatest(1, ${classCount("cleaned_text", SentenceClass)})
       |              AS INTEGER) END AS sentence_count,
       |    CASE WHEN $emptyCt OR len(words) = 0 THEN ${d(0.0)}
       |         ELSE CAST(round(CAST(
       |           CAST(list_sum(list_transform(words, w -> $stripLen)) AS BIGINT)
       |             / len(words) AS DECIMAL(38, 12)), 2) AS DOUBLE) END AS avg_word_length
       |  FROM c3
       |),
       |c5 AS (
       |  SELECT *,
       |    (past_lang AND NOT spam_hit) AS past_spam,
       |    (past_lang AND NOT spam_hit AND NOT too_short) AS past_short,
       |    (past_lang AND NOT spam_hit AND NOT too_short AND NOT rating_out)
       |      AS past_range
       |  FROM c4
       |),
       |c6 AS (
       |  SELECT *,
       |    (past_range AND NOT invalid_format) AS accepted,
       |    ((CASE WHEN review_id IS NOT NULL THEN 1 ELSE 0 END
       |      + CASE WHEN business_id IS NOT NULL THEN 1 ELSE 0 END
       |      + CASE WHEN user_id IS NOT NULL THEN 1 ELSE 0 END
       |      + CASE WHEN text IS NOT NULL THEN 1 ELSE 0 END
       |      + CASE WHEN rating IS NOT NULL THEN 1 ELSE 0 END
       |      + CASE WHEN "date" IS NOT NULL THEN 1 ELSE 0 END) / 6 * ${d(0.8)}
       |     + (CASE WHEN useful IS NOT NULL THEN 1 ELSE 0 END
       |      + CASE WHEN funny IS NOT NULL THEN 1 ELSE 0 END
       |      + CASE WHEN cool IS NOT NULL THEN 1 ELSE 0 END) / 3 * ${d(0.2)})
       |      AS completeness_score,
       |    ((CASE WHEN $emptyT THEN ${d(0.0)}
       |           WHEN raw_len >= $TextMinLength AND raw_len <= $TextMaxLength
       |             THEN ${d(1.0)}
       |           WHEN raw_len < $TextMinLength THEN raw_len / $TextMinLength
       |           ELSE $TextMaxLength / raw_len END
       |      + CASE WHEN rating IS NULL OR rating = 0 THEN ${d(0.0)}
       |             WHEN rating >= $RatingMin AND rating <= $RatingMax
       |               THEN ${d(1.0)}
       |             ELSE ${d(0.0)} END) / 2) AS validity_score,
       |    ${d(0.0)} AS freshness_score,
       |    (CASE WHEN $emptyT THEN ${d(0.0)}
       |          ELSE greatest(${d(0.0)}, least(${d(1.0)},
       |            ${d(1.0)} - ${d(0.3)} * pattern_matches
       |            - CASE WHEN $spamPunctRatio > ${d(0.3)}
       |                   THEN ${d(0.3)} ELSE ${d(0.0)} END
       |            - CASE WHEN ${reCount("text_lc", RepeatedRun4)} > 2
       |                   THEN ${d(0.2)} ELSE ${d(0.0)} END
       |            - CASE WHEN $spamDigitRatio > ${d(0.3)}
       |                   THEN ${d(0.3)} ELSE ${d(0.0)} END))
       |     END) AS spam_check_score
       |  FROM c5
       |),
       |ann AS MATERIALIZED (
       |  SELECT *,
       |    CAST(round(CAST(completeness_score * ${d(WeightCompleteness)}
       |      + validity_score * ${d(WeightValidity)}
       |      + freshness_score * ${d(WeightFreshness)}
       |      + spam_check_score * ${d(WeightSpamCheck)} AS DECIMAL(38, 12)), 2) AS DOUBLE)
       |      AS data_quality_score
       |  FROM c6
       |)""".stripMargin
  }

  /** Oracle for q_clean_docs: accepted records in CleanedYelpReview shape. */
  val cleanDocs: String =
    s"""WITH $annCtes
       |SELECT review_id, business_id, user_id,
       |  trim(cleaned_text) AS text,
       |  CAST(rating AS INTEGER) AS rating,
       |  "date",
       |  COALESCE(useful, 0) AS useful,
       |  COALESCE(funny, 0) AS funny,
       |  COALESCE(cool, 0) AS cool,
       |  word_count, char_count, sentence_count, avg_word_length,
       |  language, language_confidence, data_quality_score,
       |  FALSE AS is_spam,
       |  (data_quality_score < ${d(AnomalyThreshold)}) AS is_anomaly,
       |  source
       |FROM ann WHERE accepted
       |ORDER BY review_id""".stripMargin

  /** Oracle for q_quality_issues: the exploded issue stream. */
  val qualityIssues: String = {
    val sev = "CAST(%d AS INTEGER)"
    s"""WITH $annCtes
       |, iss AS (
       |  SELECT review_id, 'missing_value' AS issue_type, 'text' AS field_name,
       |    CAST(NULL AS VARCHAR) AS og_value, CAST(NULL AS VARCHAR) AS expected_range,
       |    ${sev.format(SevMissing)} AS severity
       |  FROM ann WHERE text_missing
       |  UNION ALL
       |  SELECT review_id, 'missing_value', 'rating', NULL, NULL,
       |    ${sev.format(SevMissing)}
       |  FROM ann WHERE rating_missing
       |  UNION ALL
       |  SELECT review_id, 'unsupported_language', 'text', language,
       |    '[''en'']', ${sev.format(SevUnsupportedLanguage)}
       |  FROM ann WHERE past_missing
       |    AND language NOT IN (${SupportedLanguages.map(s).mkString(", ")})
       |  UNION ALL
       |  SELECT review_id, 'wrong_language', 'language_confidence',
       |    CAST(CAST(language_confidence AS DECIMAL(4,2)) AS VARCHAR),
       |    '>=$LangConfThreshold', ${sev.format(SevWrongLanguage)}
       |  FROM ann WHERE past_lang AND language_confidence < ${d(LangConfThreshold)}
       |  UNION ALL
       |  SELECT review_id, 'spam_detected', 'text',
       |    'Matched patterns: [' || matched_list || ']', NULL,
       |    ${sev.format(SevSpam)}
       |  FROM ann WHERE past_lang AND spam_hit
       |  UNION ALL
       |  SELECT review_id, 'too_short', 'text', CAST(raw_len AS VARCHAR),
       |    '>=$TextMinLength', ${sev.format(SevTooShort)}
       |  FROM ann WHERE past_spam AND too_short
       |  UNION ALL
       |  SELECT review_id, 'too_long', 'text', CAST(raw_len AS VARCHAR),
       |    '<=$TextMaxLength', ${sev.format(SevTooLong)}
       |  FROM ann WHERE past_short AND too_long
       |  UNION ALL
       |  SELECT review_id, 'out_of_range', 'rating', CAST(rating AS VARCHAR),
       |    '$RatingMin-$RatingMax', ${sev.format(SevOutOfRange)}
       |  FROM ann WHERE past_short AND rating_out
       |  UNION ALL
       |  SELECT review_id, 'invalid_format', 'multiple',
       |    CASE WHEN stripped_empty THEN 'Text cannot be empty or whitespace'
       |         ELSE 'Text must contain at least 40% alphabetic characters' END,
       |    NULL, ${sev.format(SevInvalidFormat)}
       |  FROM ann WHERE past_range AND invalid_format
       |)
       |SELECT * FROM iss ORDER BY review_id, issue_type, field_name""".stripMargin
  }

  /** Oracle for q_hourly_stats: full ReviewStats per event-time hour.
    * Mirrors graft.ops.Stats.hourlyStats (stage predicates expanded to the
    * underlying flags).
    */
  val hourlyStats: String = {
    def countIf(c: String) =
      s"CAST(sum(CASE WHEN $c THEN 1 ELSE 0 END) AS BIGINT)"
    def avgIf(c: String, v: String) =
      s"CAST(round(CAST(avg(CASE WHEN $c THEN $v END) AS DECIMAL(38, 12)), 2) AS DOUBLE)"
    val hist = (1 to 5).map(k =>
      s"${countIf(s"accepted AND rating = $k")} AS rating_$k").mkString(",\n  ")
    s"""WITH $annCtes
       |SELECT date_trunc('hour', "date") AS window_start,
       |  CAST(count(*) AS BIGINT) AS total_reviews,
       |  ${countIf("accepted")} AS valid_reviews,
       |  ${countIf("NOT accepted")} AS rejected_reviews,
       |  ${avgIf("accepted", "data_quality_score")} AS avg_quality_score,
       |  ${countIf("past_lang AND spam_hit")} AS spam_count,
       |  ${countIf(s"past_missing AND language NOT IN (${SupportedLanguages.map(s).mkString(", ")})")} AS wrong_language_count,
       |  $hist,
       |  ${avgIf("accepted", "rating")} AS avg_rating,
       |  ${avgIf("accepted", "word_count")} AS avg_word_count,
       |  ${avgIf("accepted", "sentence_count")} AS avg_sentence_count
       |FROM ann
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Oracle for q_issue_histogram. */
  val issueHistogram: String =
    qualityIssues.replace(
      "SELECT * FROM iss ORDER BY review_id, issue_type, field_name",
      "SELECT issue_type, CAST(count(*) AS BIGINT) AS n FROM iss " +
        "GROUP BY 1 ORDER BY n DESC, issue_type")

  /** Oracle for q_business_stats (per business_id over accepted records). */
  val businessStats: String =
    s"""WITH $annCtes
       |SELECT business_id,
       |  CAST(count(*) AS BIGINT) AS n_reviews,
       |  CAST(round(CAST(avg(CAST(rating AS INTEGER)) AS DECIMAL(38, 12)), 2) AS DOUBLE) AS avg_rating,
       |  CAST(round(CAST(avg(data_quality_score) AS DECIMAL(38, 12)), 2) AS DOUBLE) AS avg_quality,
       |  min(data_quality_score) AS min_quality,
       |  max(data_quality_score) AS max_quality
       |FROM ann WHERE accepted
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Oracle for q_top_quality (top-20 by score; deterministic tiebreak). */
  val topQuality: String =
    s"""WITH $annCtes
       |SELECT review_id, business_id, CAST(rating AS INTEGER) AS rating,
       |  data_quality_score
       |FROM ann WHERE accepted
       |ORDER BY data_quality_score DESC, review_id LIMIT 20""".stripMargin

  /** Oracle for q_recent_reviews (date DESC index pattern, init_db.sql:34). */
  val recentReviews: String =
    s"""WITH $annCtes
       |SELECT review_id, "date", CAST(rating AS INTEGER) AS rating,
       |  data_quality_score
       |FROM ann WHERE accepted
       |ORDER BY "date" DESC, review_id LIMIT 50""".stripMargin

  /** Oracle for q_dedup_events / q_dup_events (deterministic first-per-key
    * dedup; SURVEY §2.4).
    */
  private def dedupSql(keep: String): String =
    s"""SELECT event_id, ts, user_id, event_type, value, props
       |FROM events
       |QUALIFY row_number() OVER (
       |  PARTITION BY user_id, event_type, date_trunc('hour', ts)
       |  ORDER BY ts, event_id) $keep
       |ORDER BY event_id""".stripMargin
  val dedupEvents: String = dedupSql("= 1")
  val dupEvents: String = dedupSql("> 1")

  /** Oracle for q1_pricing (TPC-H Q1 shape). */
  val q1Pricing: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${qsumR("l_quantity", 1, 2)} AS sum_qty,
       |  ${qsumR("l_extendedprice", 100, 2)} AS sum_base_price,
       |  ${qsumR("l_extendedprice * (1 - l_discount)", 100, 2)} AS sum_disc_price,
       |  ${qsumR("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 100, 2)}
       |    AS sum_charge,
       |  CAST(round(CAST(${qsum("l_quantity", 1)} / count(*) AS DECIMAL(38, 12)), 2) AS DOUBLE) AS avg_qty,
       |  CAST(round(CAST(${qsum("l_extendedprice", 100)} / count(*) AS DECIMAL(38, 12)), 2) AS DOUBLE) AS avg_price,
       |  CAST(round(CAST(${qsum("l_discount", 10000)} / count(*) AS DECIMAL(38, 12)), 4) AS DOUBLE) AS avg_disc,
       |  CAST(count(*) AS BIGINT) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '2001-06-01 00:00:00'
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Oracle for q3_shipping (TPC-H Q3 shape, top-10). */
  val q3Shipping: String =
    s"""SELECT l_orderkey,
      |  o_orderdate, o_orderpriority,
      |  ${qsumR("l_extendedprice * (1 - l_discount)", 100, 2)} AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** Oracle for q_top_orders (window rank per customer). */
  val topOrdersPerCustomer: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    CAST(row_number() OVER (
      |      PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rnk
      |  FROM orders)
      |WHERE rnk <= 3
      |ORDER BY o_custkey, rnk""".stripMargin

  /** Oracle for q_region_revenue (dimension star-join). */
  val regionRevenue: String =
    s"""SELECT r_name, CAST(year(o_orderdate) AS INTEGER) AS yr,
      |  ${qsumR("l_extendedprice * (1 - l_discount)", 100, 2)} AS revenue,
      |  CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Oracle for q_pricing_rollup (multi-level aggregate via ROLLUP). */
  val pricingRollup: String =
    s"""SELECT CAST(GROUPING_ID(l_returnflag, l_linestatus) AS INTEGER) AS gid,
      |  l_returnflag, l_linestatus,
      |  ${qsumR("l_quantity", 1, 2)} AS sum_qty,
      |  ${qsumR("l_extendedprice * (1 - l_discount)", 100, 2)} AS sum_disc_price,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin

  /** Oracles for the set-operation surface (distinct semantics match
    * Spark's except/intersect).
    */
  val clickNoPurchase: String =
    """SELECT user_id FROM events WHERE event_type = 'click'
      |EXCEPT
      |SELECT user_id FROM events WHERE event_type = 'purchase'
      |ORDER BY user_id""".stripMargin
  val clickAndPurchase: String =
    """SELECT user_id FROM events WHERE event_type = 'click'
      |INTERSECT
      |SELECT user_id FROM events WHERE event_type = 'purchase'
      |ORDER BY user_id""".stripMargin

  /** Oracle for q_price_stats (exact interpolated percentiles + distinct
    * counts).
    */
  val priceStats: String =
    """SELECT l_returnflag,
      |  CAST(round(CAST(quantile_cont(l_extendedprice, 0.5) AS DECIMAL(38, 12)), 2) AS DOUBLE) AS p50_price,
      |  CAST(round(CAST(quantile_cont(l_extendedprice, 0.95) AS DECIMAL(38, 12)), 2) AS DOUBLE) AS p95_price,
      |  CAST(round(CAST(quantile_cont(l_quantity, 0.5) AS DECIMAL(38, 12)), 2) AS DOUBLE) AS p50_qty,
      |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
      |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** Oracle for q_asof_purchase: DuckDB's NATIVE ASOF JOIN against our
    * union+window implementation (ties at equal ts match; inner as-of).
    */
  val clickLastPurchase: String =
    """WITH clicks AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      |purchases AS (
      |  SELECT user_id, ts, CAST(round(CAST(max(value) AS DECIMAL(38, 12)), 2) AS DOUBLE) AS purchase_value
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT c.event_id, c.user_id, c.ts, p.purchase_value
      |FROM clicks c ASOF JOIN purchases p
      |  ON c.user_id = p.user_id AND c.ts >= p.ts
      |ORDER BY c.event_id""".stripMargin

  /** Oracle for q_event_props (JSON path extraction + agg). */
  val eventPropsAgg: String =
    s"""SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(json_extract_string(props, '$$.k') AS INTEGER))
      |    AS BIGINT) AS sum_k,
      |  CAST(round(CAST(avg(CAST(json_extract_string(props, '$$.k') AS INTEGER)) AS DECIMAL(38, 12)), 2) AS DOUBLE)
      |    AS avg_k,
      |  ${qsumR("value", 1000000, 2)} AS sum_value
      |FROM events
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Oracle for q_sessions: 30-min-gap sessionization, the sorted-lag
    * formulation of Spark's `session_window` merge. Session windows merge
    * INCLUSIVELY at the end boundary (verified in SessionizeSpec: an event
    * at exactly prev + gap stays in the session), so a new session starts
    * only when the gap is STRICTLY greater than the threshold.
    */
  val sessions: String = {
    val gapUs = graft.ops.Sessionize.GapMinutes.toLong * 60L * 1000000L
    s"""WITH e AS (
       |  SELECT user_id, ts, event_id, event_type, value,
       |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS prev_ts
       |  FROM events),
       |sess AS (
       |  SELECT *, sum(CASE WHEN prev_ts IS NULL
       |      OR epoch_us(ts) - epoch_us(prev_ts) > $gapUs
       |      THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
       |  FROM e)
       |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       |  CAST(count(*) AS BIGINT) AS n_events,
       |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_clicks,
       |  CAST(round(CAST(sum(value) AS DECIMAL(38, 12)), 2) AS DOUBLE)
       |    AS total_value,
       |  (max(epoch_us(ts)) - min(epoch_us(ts))) / 1000000.0 AS duration_sec
       |FROM sess GROUP BY user_id, sid
       |ORDER BY user_id, session_start""".stripMargin
  }

  /** Oracle for q_promo_attrib. The oracle states the PLAIN range join —
    * `ts ∈ [w_start, w_end)` with no bucket key — so the engine's
    * banded-interval rewrite (bucket expand + broadcast hash join +
    * residual range check, Relational.promoAttrib) is verified against
    * the declarative semantics it claims to implement.
    */
  val promoAttrib: String =
    s"""WITH wins AS (SELECT DISTINCT date_trunc('hour', ts) AS h FROM events),
       |p AS (SELECT epoch_us(h) // 3600000000 AS promo_id,
       |    h + INTERVAL 30 MINUTE AS w_start,
       |    h + INTERVAL 75 MINUTE AS w_end
       |  FROM wins)
       |SELECT promo_id, CAST(count(*) AS BIGINT) AS n_events,
       |  CAST(round(CAST(${qsum("e.value", 1000000)} AS DECIMAL(38, 12)), 2)
       |    AS DOUBLE) AS sum_value
       |FROM events e JOIN p ON e.ts >= p.w_start AND e.ts < p.w_end
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Oracle for q_rolling_spend (trailing-hour RANGE-frame rolling count
    * and quantized-long spend per user; mirrors Relational.rollingSpend —
    * the numeric epoch-micros frame keeps both engines on the identical
    * RANGE arithmetic).
    */
  val rollingSpend: String =
    s"""WITH p AS (SELECT event_id, user_id, ts, epoch_us(ts) AS _us,
       |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS _q
       |  FROM events WHERE event_type = 'purchase')
       |SELECT event_id, user_id, ts,
       |  CAST(count(*) OVER w AS BIGINT) AS n_1h,
       |  sum(_q) OVER w / 100.0 AS spend_1h
       |FROM p
       |WINDOW w AS (PARTITION BY user_id ORDER BY _us
       |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
       |ORDER BY event_id""".stripMargin

  /** Oracle for q_funnel. The oracle states the declarative form — for
    * each click, the min purchase timestamp strictly after it (left
    * join + group) — against which the engine's union-and-window
    * forward scan is verified. Conversion = next purchase within 1 h.
    */
  val funnel: String =
    s"""WITH c AS (SELECT user_id, event_id, ts FROM events
       |  WHERE event_type = 'click'),
       |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
       |j AS (SELECT c.user_id, c.event_id, c.ts AS cts, min(p.ts) AS np
       |  FROM c LEFT JOIN p
       |    ON p.user_id = c.user_id AND p.ts > c.ts
       |  GROUP BY 1, 2, 3)
       |SELECT user_id, CAST(count(*) AS BIGINT) AS n_clicks,
       |  CAST(sum(CASE WHEN np <= cts + INTERVAL 1 HOUR THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_converted,
       |  CAST(round(CAST(
       |      sum(CASE WHEN np <= cts + INTERVAL 1 HOUR THEN 1 ELSE 0 END)
       |        / count(*) AS DECIMAL(38, 12)), 6) AS DOUBLE)
       |    AS conversion_rate
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  /** Oracle for q_cohort. Mirrors graft.ops.Cohort.retention: Monday
    * date_trunc weeks in both engines; the week offset divides an exact
    * multiple of 7, and retention is one int/int division rounded once.
    */
  val cohort: String =
    s"""WITH cohorts AS (SELECT user_id, date_trunc('week', min(ts))
       |    AS cohort_week FROM events GROUP BY 1),
       |active AS (SELECT DISTINCT user_id, date_trunc('week', ts)
       |    AS active_week FROM events),
       |cells AS (SELECT cohort_week,
       |    CAST(date_diff('day', cohort_week, active_week) / 7 AS INT)
       |      AS week_offset,
       |    count(*) AS n_active
       |  FROM active JOIN cohorts USING (user_id) GROUP BY 1, 2),
       |sizes AS (SELECT cohort_week, count(*) AS cohort_size
       |  FROM cohorts GROUP BY 1)
       |SELECT cohort_week, week_offset,
       |  CAST(n_active AS BIGINT) AS n_active,
       |  CAST(cohort_size AS BIGINT) AS cohort_size,
       |  CAST(round(CAST(n_active / cohort_size AS DECIMAL(38, 12)), 4)
       |    AS DOUBLE) AS retention
       |FROM cells JOIN sizes USING (cohort_week) ORDER BY 1, 2""".stripMargin

  /** Oracle for q_hourly_anomaly. Mirrors graft.ops.Anomaly.hourlyAnomaly:
    * integer moment sums per event_type, z = (n·cnt − s1)/sqrt(n·s2 − s1²)
    * — one correctly-rounded sqrt + one division, bit-identical to Spark.
    */
  val hourlyAnomaly: String = {
    val z = """CASE WHEN n * s2 - s1 * s1 > 0
      THEN CAST(n * n_events - s1 AS DOUBLE)
        / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE))
      ELSE CAST(0.0 AS DOUBLE) END"""
    s"""WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour,
       |  count(*) AS n_events FROM events GROUP BY 1, 2),
       |m AS (SELECT event_type, count(*) AS n, sum(n_events) AS s1,
       |  sum(n_events * n_events) AS s2 FROM h GROUP BY 1)
       |SELECT h.event_type, hour, CAST(n_events AS BIGINT) AS n_events,
       |  CAST(round(CAST($z AS DECIMAL(38, 12)), 4) AS DOUBLE) AS z_score,
       |  ($z > ${d(graft.ops.Anomaly.ZThreshold)}
       |    OR $z < -${d(graft.ops.Anomaly.ZThreshold)}) AS is_anomaly
       |FROM h JOIN m USING (event_type) ORDER BY 1, 2""".stripMargin
  }

  /** Oracle for q_hopping. Mirrors graft.ops.TimeWindows.hopping: each
    * event lands in exactly size/slide = 2 hopping windows, enumerated as
    * the epoch-aligned 30-min bucket and its predecessor. Window starts
    * are built with make_timestamp(us) (timezone-free TIMESTAMP — never
    * to_timestamp, whose TIMESTAMPTZ would re-anchor on the session TZ).
    */
  val hopping: String = {
    val slideUs = graft.ops.TimeWindows.HopSlideMinutes.toLong * 60000000L
    s"""WITH hops AS (
       |  SELECT make_timestamp(
       |      ((epoch_us(ts) // $slideUs) - off) * $slideUs) AS window_start,
       |    event_type, user_id, value
       |  FROM events, (SELECT unnest([0, 1]) AS off) o)
       |SELECT window_start, event_type,
       |  CAST(count(*) AS BIGINT) AS n_events,
       |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       |  CAST(round(CAST(${qsum("value", 100)} AS DECIMAL(38, 12)), 2)
       |    AS DOUBLE) AS total_value
       |FROM hops GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }
}
