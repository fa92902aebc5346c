package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.rules.Rules._

/** Weighted quality scoring. Semantics:
  * `streaming/quality_engine.py:29-111` (calculate_quality_score and the
  * four sub-scores). All pure column arithmetic; the arithmetic ORDER matches
  * the Python evaluation order so doubles are bit-identical to the DuckDB
  * oracle's (same IEEE-754 op sequence).
  */
object Quality {

  /** Q1 completeness (quality_engine.py:43-58): presence means IS NOT NULL
    * (`getattr(review, field, None) is not None` — note rating == 0 counts
    * as PRESENT here, unlike the missing-value filter's truthiness check).
    */
  def completeness(required: Seq[Column], optional: Seq[Column]): Column = {
    def present(cs: Seq[Column]): Column =
      cs.map(c => when(c.isNotNull, lit(1)).otherwise(lit(0))).reduce(_ + _)
    present(required) / lit(required.size) * lit(0.8) +
      present(optional) / lit(optional.size) * lit(0.2)
  }

  /** Q2 validity (quality_engine.py:60-86): mean of a text-length score and
    * a rating score, both computed on the RAW (pre-truncation) values.
    * Text falsy -> 0.0; rating falsy (None or 0) -> 0.0. Takes precomputed
    * (textMissing, rawLen) so callers share the length/emptiness columns
    * instead of re-embedding the text scans.
    */
  def validityFrom(textMissing: Column, len: Column, rating: Column): Column = {
    val textScore = when(textMissing, lit(0.0))
      .when(len >= TextMinLength && len <= TextMaxLength, lit(1.0))
      .when(len < TextMinLength, len / lit(TextMinLength))
      .otherwise(lit(TextMaxLength) / len)
    val ratingScore = when(rating.isNull || rating === 0, lit(0.0))
      .when(rating >= RatingMin && rating <= RatingMax, lit(1.0))
      .otherwise(lit(0.0))
    (textScore + ratingScore) / lit(2)
  }

  /** Q3 freshness (quality_engine.py:88-111) is provably 0.0 for EVERY input:
    * future dates return 0.0 (:92-93); age <= 5 years returns 0.0 via the
    * inverted guard (:100-101, `if age_hours <= rules['max']: return 0.0`);
    * and age > 5 years lands in the `else` at :107-109 where
    * `remaining > 0` and `max_remaining = max - stale_threshold` make the
    * score negative, clamped to 0.0 at :111. (The `age <= stale_threshold`
    * branch at :104 is unreachable: stale_threshold=720h < max=43800h.)
    * We preserve the constant rather than the dead arithmetic.
    */
  def freshness(date: Column): Column = lit(0.0)

  /** Weighted total (quality_engine.py:29-41): Python dict insertion order is
    * completeness, validity, freshness, spam_check — the sum is evaluated in
    * that order. consistency (weight 0.20) is never computed, so the max is
    * 0.80 (and with freshness === 0, practically 0.70). Rounded to 2dp.
    */
  def score(completeness: Column, validity: Column, freshness: Column,
            spamCheck: Column): Column =
    round(completeness * lit(WeightCompleteness) +
      validity * lit(WeightValidity) +
      freshness * lit(WeightFreshness) +
      spamCheck * lit(WeightSpamCheck), 2)

  /** quality_engine.py:343: anomaly iff (rounded) score < 0.5. */
  def isAnomaly(score: Column): Column = score < lit(AnomalyThreshold)
}
