package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7 + FIXTURES.md. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.cleanDocs(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.registry

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = Queries.oracles

  /** The registry names a comma-separated subset selects (Bench's and
    * Verify's `SPARK_GRAFT_ONLY`), sorted; every name when `only` is None.
    * Fails fast on a misspelled name: an unknown entry would otherwise
    * yield a partial or empty run that exits cleanly and can be mistaken
    * for a result.
    */
  def selected(only: Option[String]): Seq[String] = {
    val subset = only.map(_.split(",").map(_.trim).toSet)
    subset.foreach { names =>
      val unknown = names.diff(queries.keySet)
      require(unknown.isEmpty, "SPARK_GRAFT_ONLY names not in " +
        "SparkEntry.queries: " + unknown.toSeq.sorted.mkString(", "))
    }
    queries.keys.toSeq.sorted.filter(n => subset.forall(_.contains(n)))
  }
}
