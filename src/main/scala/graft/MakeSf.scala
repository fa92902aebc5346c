package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scales a driver-generated SF directory N× to probe the data-bound
  * scaling regime (SCALING.md's sf1 column): dimensions are kept as-is,
  * fact tables are replicated with per-copy key offsets so every copy's
  * INTERNAL structure (dup rate, session shape, near-dup cliques, injected
  * embedding twins) is exactly the original's while copies stay unrelated
  * to each other — the growth profile a real corpus has, as opposed to the
  * pathological one naive replication has (10 identical twins per document
  * would turn every near-dup query into one giant clique and measure the
  * cap logic, not the operator).
  *
  * Cross-copy decorrelation, per table:
  *  - `documents.text`: every alphabetic token ≥4 chars gets a per-copy
  *    suffix — word/char shingles diverge across copies (MinHash/SimHash/
  *    Jaccard see unrelated docs) while short stopwords survive untouched,
  *    so language-ID and stopword-ratio workloads keep their per-row cost.
  *  - `embeddings.embedding`: the vector is ROTATED by the copy index —
  *    norm-preserving and deterministic, within-copy cosine structure is
  *    identical, cross-copy cosines decorrelate.
  *  - `events`: event_id and user_id offset per copy (new users → the
  *    per-user session/dedup structure replicates verbatim); ts passed
  *    through bit-identical in whatever physical encoding the source
  *    shipped (Tables.events normalizes both known encodings on read).
  *  - `orders`/`lineitem`: orderkey offset per copy, dim FKs untouched —
  *    fact-to-dim fan-in grows N×, dims stay fixed, like production.
  *
  * Usage: runMain graft.MakeSf [srcDir] [outDir] [multiplier]
  */
object MakeSf {

  private val KeyOff = 1L << 40 // far above any sf0.1 key

  private def copies(spark: SparkSession, mult: Int)(
      one: (DataFrame, Int) => DataFrame)(src: DataFrame): DataFrame =
    (0 until mult).map(i => one(src, i)).reduce(_.unionByName(_))

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.drop(1).headOption.getOrElse("/tmp/graft_sf1")
    val mult = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    val spark = Sessions.builder(Sessions.cpus).appName("graft-makesf")
      .getOrCreate()

    def load(t: String) = Tables.load(spark, src, t)
    def save(t: String, df: DataFrame, files: Int): Unit =
      df.coalesce(files).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")

    // dims: fixed — facts grow, dimensions don't
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => save(t, load(t), 1))

    val c = copies(spark, mult) _

    save("orders", c((d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * KeyOff)))(
      load("orders")), 4)

    save("lineitem", c((d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i * KeyOff)))(
      load("lineitem")), 8)

    save("events", c((d, i) =>
      d.withColumn("event_id", col("event_id") + lit(i * KeyOff))
        .withColumn("user_id", col("user_id") + lit(i * KeyOff)))(
      load("events")), 4)

    save("documents", c { (d, i) =>
      if (i == 0) d
      else {
        val txt = regexp_replace(col("text"), "(\\p{Alpha}{4,})", s"$$1zq$i")
        d.withColumn("doc_id", col("doc_id") + lit(i * KeyOff))
          .withColumn("text", txt)
          .withColumn("n_chars", length(txt).cast("long"))
      }
    }(load("documents")), 4)

    save("embeddings", c { (d, i) =>
      val rot =
        if (i == 0) col("embedding")
        else concat(slice(col("embedding"), i + 1, 4096),
          slice(col("embedding"), 1, i))
      d.withColumn("vec_id", col("vec_id") + lit(i * KeyOff))
        .withColumn("embedding", rot)
    }(load("embeddings")), 4)

    println(s"""{"out":"$out","mult":$mult,""" +
      s""""lineitem":${spark.read.parquet(s"$out/lineitem.parquet").count()},""" +
      s""""documents":${spark.read.parquet(s"$out/documents.parquet").count()}}""")
    spark.stop()
  }
}
