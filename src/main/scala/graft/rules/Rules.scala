package graft.rules

/** Validation / scoring constants mirroring the reference configuration.
  *
  * Source of semantics: `streaming/models.py:132-191` (VALIDATION_RULES,
  * SPAM_PATTERNS, SUPPORTED_LANGUAGES, QUALITY_WEIGHTS) and
  * `streaming/quality_engine.py` in hwong511/yelp-streaming-etl-pipeline.
  *
  * These constants are consumed BOTH by the Spark column expressions
  * (graft.ops.*) and by the DuckDB oracle-SQL generator (graft.oracle.Sql),
  * so the two implementations agree by construction.
  */
object Rules {
  val TextMinLength = 10 // models.py:134
  val TextMaxLength = 5000 // models.py:135
  val MinAlphaRatio = 0.4 // models.py:136 + validator models.py:79-81
  val RatingMin = 1 // models.py:142
  val RatingMax = 5 // models.py:143
  val LangConfThreshold = 0.8 // models.py:148

  // QUALITY_WEIGHTS (models.py:185-191). `consistency` (0.20) is declared but
  // never computed (quality_engine.py:32-35) -> max achievable score is 0.80.
  // Freshness is provably 0.0 for every input (see Quality.freshness), so the
  // practical max is 0.70.
  val WeightCompleteness = 0.25
  val WeightValidity = 0.25
  val WeightFreshness = 0.10
  val WeightSpamCheck = 0.20

  val AnomalyThreshold = 0.5 // quality_engine.py:343
  val SpamPatternThreshold = 2 // quality_engine.py:173 (>=2 patterns => spam)

  private def escRe(c: Char): String =
    if ("\\^$.|?*+()[]{}".contains(c)) "\\" + c else c.toString

  /** `(a{n,}|b{n,}|...)` — equivalent of a backreference run pattern
    * `(.)\1{n-1,}` restricted to `chars`. The reference's patterns use
    * backreferences (models.py:180, quality_engine.py:137) which RE2 (the
    * DuckDB oracle's regex engine) does not support; both our Spark code and
    * the oracle use this identical alternation instead. On lowered ASCII text
    * (the only text the reference ever feeds these patterns after `.lower()`)
    * the semantics coincide.
    */
  private def runAlternation(chars: String, minRun: Int): String =
    chars.map(c => s"${escRe(c)}{$minRun,}").mkString("(", "|", ")")

  // SPAM_PATTERNS (models.py:175-181), searched against lowered text.
  val SpamPromo = """\b(buy|purchase|discount|promo|click here)\b"""
  val SpamUrl = """http[s]?://"""
  val SpamPhone = """\b\d{3}[-.\s]?\d{3}[-.\s]?\d{4}\b"""
  val SpamEmail = """\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b"""
  // reference: r'(\w)\1{4,}' = 5+ repeated word chars
  val SpamRepeated: String =
    runAlternation("abcdefghijklmnopqrstuvwxyz0123456789_", 5)
  val SpamPatterns: Seq[String] =
    Seq(SpamPromo, SpamUrl, SpamPhone, SpamEmail, SpamRepeated)

  // quality_engine.py:137: r'(.)\1{3,}' = 4+ repeated chars of ANY kind; text
  // is lowered first (quality_engine.py:117), so lowercase + digits + space +
  // punctuation covers it on ASCII data.
  val RepeatedRun4: String =
    runAlternation("abcdefghijklmnopqrstuvwxyz0123456789_ .,!?;:'\"()-", 4)

  // Character classes for text features (quality_engine.py:177-221).
  // ASCII approximations of Python's str.isupper/isdigit/isalpha — the
  // testdata is ASCII; divergence on non-ASCII is documented in SURVEY §7.
  val SentenceClass = """[.!?]""" // quality_engine.py:193
  val WordStripClass = """^[.,!?;:]+|[.,!?;:]+$""" // .strip('.,!?;:') per token
  val DigitClass = """[0-9]""" // digit_ratio numerator
  val AlphaClass = """[A-Za-z]""" // pydantic validator alpha ratio
  val PunctSpamClass = """[!?.,;:]""" // Q4 spam punct set (6 chars)

  // Deterministic heuristic language detector replacing `langdetect`
  // (quality_engine.py:149-161). Interface-compatible: (language, confidence).
  // confidence = min(1.0, 0.15 * #stopword-matches), rounded to 2dp.
  val EnStopwords =
    """\b(the|a|an|and|of|to|in|is|it|for|on|with|was|this)\b"""
  val ConfPerMatch = 0.15
  val SupportedLanguages: Seq[String] = Seq("en") // models.py:183

  // Issue severities (quality_engine.py:223-358)
  val SevMissing = 10
  val SevUnsupportedLanguage = 8
  val SevWrongLanguage = 6
  val SevSpam = 9
  val SevTooShort = 7
  val SevTooLong = 5
  val SevOutOfRange = 10
  val SevInvalidFormat = 10
  val SevDuplicate = 7 // faust_app.py:115-124
}
