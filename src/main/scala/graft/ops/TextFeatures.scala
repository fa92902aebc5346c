package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-feature helpers shared by the quality pipeline. The features
  * themselves (`streaming/quality_engine.py:177-221`, calculate_text_features)
  * come from the fused [[graft.functions.TextStats]] scan in
  * [[Clean.annotate]].
  *
  * Null/empty text yields all-zero features (quality_engine.py:178-187).
  */
object TextFeatures {

  def emptyText(t: Column): Column = t.isNull || length(t) === 0
}
