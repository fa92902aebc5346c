package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.DotProduct

/** Random-hyperplane LSH over the embedding column — the second ANN scale
  * path next to [[EmbedSim.knnIvf]], per the training-data-pipeline
  * charter ("an IVF or LSH-bucketed variant as the scale path").
  *
  * Sign-random-projection LSH (Charikar's SimHash for vectors): bit i of a
  * vector's signature is `sign(dot(v, h_i))` for a fixed hyperplane h_i; the
  * collision probability of one bit is `1 - angle(a,b)/pi`, so banding
  * B bands of W bits gives near-certain collision for high-cosine pairs and
  * vanishing collision for near-orthogonal ones. That makes it the right
  * tool exactly for NEAR-DUP detection (threshold 0.9 => angle ~26 deg =>
  * per-bit match ~0.86), and the wrong tool for general top-k over this
  * corpus (background neighbors at cos 0.3-0.5 collide rarely) — which is
  * why the general-KNN scale path stays IVF.
  *
  * Band geometry is CORPUS-ADAPTIVE. A fixed band width keeps the bucket
  * COUNT fixed, so bucket size grows linearly with the corpus and pair
  * generation quadratically — the sf1 sweep measured ~35× cost for 10×
  * vectors at the old fixed 6-bit bands, with the bucket cap silently
  * never tripping. Instead:
  *
  *  - width W = smallest w >= [[MinBits]] with 2^w * [[TargetBucket]] >= n
  *    (expected bucket size stays ~[[TargetBucket]] at any corpus size —
  *    pair work per band stays LINEAR in n);
  *  - band count B = [[bandsFor]](W): the smallest B whose 1-of-B
  *    collision probability at the dup threshold still clears
  *    [[RecallTarget]] (more, narrower bands keep recall as W grows).
  *
  * Both rules are integer-exact cross-engine: W is an integer-shift
  * comparison on the same count, and B comes from a Scala-computed
  * (w -> b) table interpolated into the oracle SQL as literals, so no
  * transcendental function ever has to agree between JVM and DuckDB at a
  * decision boundary. At the driver verify scales (n <= 1024·16) the
  * formula is exactly the historical fixed geometry, 6 bands × 6 bits.
  *
  * Scale shape: signatures are a shuffle-free projection (B*W native dot
  * products per row, whole-stage codegen'd); candidate generation is ONE
  * shuffle (groupBy bucket) with per-bucket suffix pairing and a hard
  * bucket-size cap (dropped buckets observable via `observe` metrics, same
  * trade as [[TextDedup.candidatePairs]]); verification joins candidates
  * back to the corpus by key — never an all-pairs product.
  *
  * Hyperplanes are deterministic Rademacher vectors (entries +-1 from the
  * low bit of md5("lsh:<plane>:<dim>")) — sign random projections with
  * +-1 entries are a standard LSH family, and exact +-1.0 doubles make the
  * dot products bit-identical in Spark and in the DuckDB oracle, which
  * regenerates the same planes in SQL from md5() hex parity
  * (see SqlText.embedDupsLsh).
  */
object EmbedLsh {

  /** Hyperplane dimensionality — matches the testdata embedding dim; for
    * wider embeddings regenerate with a larger Dim (DotProduct folds over
    * the shorter of the two arrays, so a mismatch truncates, not crashes).
    */
  val Dim = 64

  /** Smallest/largest band width the adaptive rule considers. MinBits=6
    * makes every corpus up to 2^6*16 = 1024 vectors use the historical
    * 6×6 geometry (all driver verify scales); MaxBits=40 covers corpora
    * to 2^40*16 ≈ 1.7e13 rows.
    */
  val MinBits = 6
  val MaxBits = 40

  /** Expected rows per band bucket the width rule aims for: W is chosen so
    * n / 2^W <= TargetBucket, keeping per-bucket pairing O(TargetBucket²)
    * and total pair work per band O(n · TargetBucket).
    */
  val TargetBucket = 16

  /** Probability that one pair at >= this recall target is emitted as a
    * candidate (collides in >= 1 band) when its cosine is exactly
    * [[EmbedSim.DupThreshold]]; higher-cosine pairs collide more often.
    */
  val RecallTarget = 0.95

  /** Per-bit collision probability at the dup threshold (Goemans-
    * Williamson / Charikar): P[sign agree] = 1 - acos(cos) / pi.
    * Computed only HERE in Scala — the oracle receives derived integers,
    * never this double.
    */
  val BitProb: Double = 1.0 - math.acos(EmbedSim.DupThreshold) / math.Pi

  /** Historical fixed geometry == the adaptive rule at small n; kept as
    * the default for [[bucketCols]]'s no-argument form (specs, docs).
    */
  val Bands = 6
  val BandBits = 6
  val MaxBucket = 1000

  /** Band width for an n-vector corpus: smallest w in [MinBits, MaxBits]
    * with 2^w * TargetBucket >= n. Pure integer comparison — identical in
    * Spark (here) and the oracle's SQL (`(1::BIGINT << w) * 16 >= n`).
    */
  def bandBits(n: Long): Int =
    (MinBits to MaxBits)
      .find(w => (1L << w) * TargetBucket >= n)
      .getOrElse(MaxBits)

  /** Band count for width w: smallest B with 1 - (1 - p^w)^B >=
    * [[RecallTarget]], p = [[BitProb]]. At w=6 this is exactly 6 — the
    * historical 6×6 geometry is the formula's small-n fixed point.
    */
  def bandsFor(w: Int): Int =
    math.ceil(
      math.log(1.0 - RecallTarget) / math.log(1.0 - math.pow(BitProb, w))
    ).toInt

  /** The (w -> bands) table the oracle interpolates as integer literals —
    * the cross-engine contract is integers only, so a last-ulp
    * disagreement in acos/pow/log between JVM and DuckDB libm can never
    * flip a band count at a ceil() boundary.
    */
  lazy val bandTable: IndexedSeq[(Int, Int)] =
    (MinBits to MaxBits).map(w => (w, bandsFor(w)))

  /** Deterministic Rademacher hyperplanes, plane p component d =
    * +-1.0 by the low bit of md5("lsh:p:d") (== the hex parity of the
    * digest's last character, which is how the oracle recomputes it).
    */
  def hyperplanes(nPlanes: Int): IndexedSeq[Array[Double]] =
    (0 until nPlanes).map { p =>
      Array.tabulate(Dim) { d =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"lsh:$p:$d".getBytes("UTF-8"))
        if ((h(15) & 1) == 1) 1.0 else -1.0
      }
    }

  /** One bucket id per band, encoded band-major: bucket = band * 2^W + key,
    * key = sum of sign bits within the band (bit j set iff
    * dot(emb, h_{band*W+j}) >= 0). Long-typed: W can reach [[MaxBits]].
    *
    * Fused native form ([[graft.functions.LshBucketSig]]): one pass over
    * the embedding computes all B*W plane dots. The per-plane
    * expression-tree form below ([[bucketColsRef]]) is kept as the
    * reference — at the sf1 adaptive geometry it is 130 DotProduct
    * sub-expressions per row, which pushed codegen into split/fallback
    * paths (measured ~3x the signature-stage cost). Bit-identical by
    * construction; asserted in LshBucketSigSpec.
    */
  def bucketCols(emb: Column, w: Int, bands: Int): Column =
    graft.functions.LshBucketSig(emb, w, bands)

  /** Reference per-plane expression-tree form of [[bucketCols]] — used by
    * the equivalence spec; semantics documented there.
    */
  def bucketColsRef(emb: Column, w: Int, bands: Int): Column = {
    val planes = hyperplanes(bands * w)
    array((0 until bands).map { b =>
      (0 until w).map { j =>
        when(DotProduct(emb, lit(planes(b * w + j))) >= 0,
          lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _) + lit(b.toLong * (1L << w))
    }: _*)
  }

  /** Fixed small-corpus geometry ([[Bands]] × [[BandBits]]). */
  def bucketCols(emb: Column): Column = bucketCols(emb, BandBits, Bands)

  /** Candidate pairs sharing >= 1 band bucket: one shuffle (groupBy bucket),
    * per-bucket ordered suffix pairing, buckets above `maxBucket` dropped
    * with the drop observable (`emb_lsh_buckets` observe metrics) — pair
    * count is quadratic in bucket size, so one hot bucket (e.g. a
    * zero-vector pileup) must bound, not straggle, the stage. With the
    * adaptive width the cap is a SKEW guard (a pileup of near-identical
    * vectors), not a load-bearing limit: expected bucket size is
    * ~[[TargetBucket]] at any corpus size.
    */
  def candidatePairs(sigs: DataFrame,
      maxBucket: Int = MaxBucket): DataFrame = {
    val fanout =
      sigs.sparkSession.sessionState.conf.numShufflePartitions
    val buckets = sigs
      .select(col("vec_id"), explode(col("buckets")).as("bucket"))
      // pin the bucket exchange's partition count (same-key repartition,
      // no extra shuffle): AQE's size-based coalescing sees tiny band
      // rows and would serialize the quadratic per-bucket pair explode —
      // see TextDedup.candidatePairs
      .repartition(fanout, col("bucket"))
      .groupBy(col("bucket"))
      .agg(sort_array(collect_list(col("vec_id"))).as("ids"))
      .observe("emb_lsh_buckets",
        sum(when(size(col("ids")) > maxBucket, 1L).otherwise(0L))
          .as("emb_lsh_dropped_buckets"),
        max(size(col("ids"))).as("emb_lsh_max_bucket"))
    val ids = col("ids")
    val pairs = flatten(transform(ids, (a, i) =>
      transform(slice(ids, i + lit(2), size(ids)),
        b => struct(a.as("vec_a"), b.as("vec_b")))))
    buckets
      .filter(size(ids) <= maxBucket)
      .select(explode(pairs).as("p"))
      .select(col("p.vec_a"), col("p.vec_b"))
      .distinct()
  }

  /** Embedding-cosine near-dup detection over the perturbed corpus
    * ([[EmbedSim.dupCorpus]]), LSH-bucketed: candidates from band-bucket
    * collisions, then exact cosine >= [[EmbedSim.DupThreshold]] verify.
    * Output matches q_embed_dups: (vec_a, vec_b, cos_sim).
    */
  def embedDupsLsh(spark: SparkSession, dir: String): DataFrame =
    embedDupsLshOf(EmbedSim.dupCorpus(spark, dir))

  def embedDupsLshOf(corpusIn: DataFrame): DataFrame = {
    // the corpus frame is consumed four times (count + signatures + both
    // verify join sides), and each re-derivation re-runs the cast /
    // perturb / norm subtree from parquet — persist once, like the
    // signature index a production LSH build would materialize
    val corpus = graft.Pin.cache(corpusIn)
    // index-build-time sizing decision: ONE count picks the band geometry
    // (the same count the oracle computes in its params CTE)
    val w = bandBits(corpus.count())
    val sigs = corpus.select(col("vec_id"),
      bucketCols(col("emb"), w, bandsFor(w)).as("buckets"))
    val cand = candidatePairs(sigs)
    val a = corpus.select(col("vec_id").as("vec_a"), col("emb").as("aemb"),
      col("norm").as("anorm"))
    val b = corpus.select(col("vec_id").as("vec_b"), col("emb").as("bemb"),
      col("norm").as("bnorm"))
    cand.join(a, "vec_a").join(b, "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(DotProduct(col("aemb"), col("bemb")) /
          (col("anorm") * col("bnorm")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= EmbedSim.DupThreshold)
      .orderBy("vec_a", "vec_b")
  }
}
