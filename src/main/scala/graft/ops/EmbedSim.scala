package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.DotProduct

/** Similarity search over the `embeddings` table (vec_id, embedding:
  * array<float>, label).
  *
  * Two paths, per the training-data-pipeline charter:
  *  - [[knnBrute]]: exact brute-force cosine top-k — the baseline. Query set
  *    broadcast against a full scan: one pass, no shuffle except the final
  *    per-query top-k (TakeOrdered per partition via window rank).
  *  - [[knnIvf]]: IVF-style approximate path that scales — vectors are
  *    assigned to their nearest coarse centroid (one broadcast join), and a
  *    query probes only its 2 nearest centroids' inverted lists. At 100 TB
  *    the full cross product is impossible; probing c of C lists cuts the
  *    scored candidates by ~C/c while keeping recall high.
  *
  * All arithmetic is double (embeddings cast once) and sequential
  * (`aggregate` left fold ≡ DuckDB list_reduce), and cosine is rounded to
  * 6dp BEFORE ranking, so results are bit-identical to the DuckDB oracle,
  * including top-k boundaries (rank tiebreak on vec_id).
  */
object EmbedSim {

  val TopK = 10
  val QueryMod = 100 // vec_id % 100 == 0 are the query vectors
  val CentroidMod = 50 // small-corpus centroid-seed modulus (see centroidMod)
  val Probes = 2
  val LloydIters = 2 // k-means refinement rounds over the modulo seed
  val QuantScale = 1e6 // centroid-mean quantization (see trainedCentroids)

  /** Adaptive coarse-centroid seed modulus: seeds are vec_id % m == 0 with
    * m = max(CentroidMod, floor(sqrt(n)/2)), i.e. C ≈ min(n/50, 2·sqrt(n))
    * centroids for an n-vector corpus.
    *
    * A FIXED modulus makes C grow linearly with the corpus, so the
    * broadcast-assignment step (n × C dot products) is quadratic in n —
    * measured 100× cost for 10× vectors on the sf1 sweep. C ~ sqrt(n) is
    * the classic IVF balance point (assignment n·sqrt(n), probe work
    * probes·n/sqrt(n) per query); the max() keeps every driver-verify
    * scale (n ≤ 2k, where sqrt(n)/2 < 50) bit-identical to the fixed-mod
    * form. The oracle computes the same integer from the same count —
    * floor/sqrt on a BIGINT count is exact in both engines.
    */
  def centroidMod(n: Long): Long =
    math.max(CentroidMod.toLong, math.floor(math.sqrt(n.toDouble) / 2).toLong)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Sequential-order dot product of two double arrays — a native codegen'd
    * Catalyst expression (one primitive loop). The HOF form
    * `aggregate(zip_with(a, b, _ * _), 0.0, _ + _)` is arithmetic-identical
    * (strict left-to-right fold) but interpreted: it blocked whole-stage
    * codegen and allocated an intermediate array per (query, candidate)
    * pair. See [[graft.functions.DotProduct]].
    */
  def dot(a: Column, b: Column): Column = DotProduct(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Embeddings with the L2 norm precomputed ONCE per vector — every
    * (query, candidate) pair then costs a single dot product instead of
    * three (the norms would otherwise be recomputed per pair: 3x the work
    * at any scale).
    */
  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("norm", sqrt(dot(col("emb"), col("emb"))))

  private def cosByNorm(dotC: Column, na: Column, nb: Column): Column =
    round(dotC / (na * nb), 6)

  /** Exact cosine top-10 for each query vector (vec_id % 100 == 0). */
  def knnBrute(spark: SparkSession, dir: String): DataFrame = {
    val all = embeddings(spark, dir)
    val queries = all.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"),
        col("norm").as("qnorm"))
    val scored = all.join(broadcast(queries),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosByNorm(dot(col("qemb"), col("emb")), col("qnorm"), col("norm"))
          .as("cos_sim"))
    // bounded-heap TopK instead of a row_number window: the window sorts
    // all |Q|·|corpus| scores per query partition — the heap keeps TopK
    // rows per key with map-side pruning before one shuffle (measured at
    // sf3: 17.6 → 9.5 s). Ranks are then numbered over the tiny
    // |Q|·TopK result; the order is total, so rows are identical.
    val top = graft.plans.TopK.perKey(scored, Seq("query_id"),
      Seq(graft.plans.TopK.desc("cos_sim"),
        graft.plans.TopK.asc("neighbor_id")), k = TopK)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos_sim"), col("neighbor_id"))
    top.withColumn("rank", row_number().over(w))
      .orderBy("query_id", "rank")
  }

  val DupThreshold = 0.9
  val DupMod = 25 // vec_id % 25 == 0 get a perturbed near-dup copy

  /** Embedding-cosine near-dup detection, IVF-bucketed (the scale path:
    * pairs form only within a coarse-centroid inverted list, never across
    * the full corpus). The corpus gains deterministic near-dups — every
    * (vec_id % 25 == 0) vector is repeated under vec_id + 100000 with
    * +0.05 on every dimension (cos ≈ 0.92-0.95 vs a 0.51 background max,
    * so the 0.9 threshold cleanly separates). Mirrored in the oracle.
    */
  def embedDups(spark: SparkSession, dir: String): DataFrame =
    embedDupsOf(dupAssigned(spark, dir))

  /** The IVF assignment of the perturbed corpus — the expensive subtree
    * (|corpus| x |centroids| dot products). Exposed so callers (Queries)
    * can persist it: the self-join below otherwise computes it twice.
    */
  def dupAssigned(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    // index-build-time sizing decision: ONE count (column-pruned scan)
    // picks the centroid density — the same count the oracle computes
    val mod = centroidMod(base.count())
    // seeds come from the BASE corpus only (a perturbed copy of a seed
    // would otherwise double every seed into a near-identical pair);
    // training then runs over the full perturbed corpus being indexed
    val seeds = base.filter(col("vec_id") % mod === 0)
      .select(col("vec_id").as("centroid_id"), col("emb").as("cemb"))
      .withColumn("cnorm", sqrt(dot(col("cemb"), col("cemb"))))
    val corpus = dupCorpus(spark, dir)
    nearestCentroid(corpus, trainedCentroids(corpus, seeds))
  }

  /** The deterministically-perturbed near-dup corpus shared by the IVF
    * ([[embedDups]]) and LSH ([[EmbedLsh.embedDupsLsh]]) near-dup paths:
    * base embeddings plus, for every (vec_id % 25 == 0) vector, a copy
    * under vec_id + 100000 with +0.05 on every dimension, L2 norms
    * precomputed. Columns: vec_id, emb, norm.
    */
  def dupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    val perturbed = base.filter(col("vec_id") % DupMod === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("emb"), x => x + lit(0.05)).as("emb"))
    base.unionAll(perturbed)
      .withColumn("norm", sqrt(dot(col("emb"), col("emb"))))
  }

  /** Nearest-centroid assignment as a map-side-combining aggregation.
    *
    * The |corpus| x C expanded scores collapse to ONE row per vector via
    * `groupBy(vec_id).agg(max_by(...))` — partial aggregation reduces each
    * map partition to one candidate per vector BEFORE the shuffle, so the
    * exchange carries |corpus| rows. The previous window-argmin
    * (`row_number().over(Window.partitionBy(vec_id))`) shuffled the full
    * C-fold expansion: a C-fold shuffle amplification at 100 TB.
    *
    * Only (vec_id, centroid_id, _cc) flow through the expansion and the
    * aggregate — SKINNY rows. An earlier form carried the full embedding
    * array inside the max_by candidate struct, which materialized a
    * |corpus| x C stream of array copies through the aggregation (the
    * dominant cost of the whole IVF path once C grows: at 20k vectors x
    * 400 centroids that is 8M x 64-double struct constructions per
    * round). The winning centroid_id is joined back to the corpus by
    * vec_id instead: the exchange still carries |corpus| wide rows
    * exactly once, and the C-fold expanded stream stays primitive-typed
    * and codegen-friendly.
    *
    * Tie-break matches the window form (and the oracle): highest cosine,
    * then LOWEST centroid_id — encoded as `max_by` over
    * `struct(_cc, -centroid_id)` (lexicographic struct ordering).
    */
  private[ops] def nearestCentroid(corpus: DataFrame, centroids: DataFrame)
      : DataFrame = {
    val best = corpus.join(broadcast(centroids), lit(true))
      .select(col("vec_id"), col("centroid_id"),
        cosByNorm(dot(col("emb"), col("cemb")), col("norm"), col("cnorm"))
          .as("_cc"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("centroid_id"),
        struct(col("_cc"), (-col("centroid_id")).as("_tb")))
        .as("centroid_id"))
    corpus.join(best, "vec_id")
      .select(col("vec_id"), col("emb"), col("norm"), col("centroid_id"))
  }

  /** Lloyd's-trained coarse centroids: [[LloydIters]] k-means rounds over
    * the modulo seed. A modulo sample is data-OBLIVIOUS — on clustered real
    * embedding spaces it gives unbalanced inverted lists (the salt cap then
    * hides the imbalance instead of fixing it); a few Lloyd's rounds make
    * list sizes data-adaptive with machinery that already exists
    * (broadcast-centroid assignment + one partial-agg shuffle per round).
    *
    * The per-dimension mean is computed over QUANTIZED components:
    * qv = floor(v * [[QuantScale]] + 0.5) as a BIGINT, summed exactly, then
    * one double division by (QuantScale * n). Why not avg(v): FP summation
    * order differs between Spark partitions and the DuckDB oracle (and
    * between Spark runs), so a plain double mean is only
    * reproducible-modulo-rounding — and the driver compare is EXACT.
    * Integer sums are order-independent, and every step here (the quantize
    * multiply/floor on bit-identical inputs, the exact integer sum, the
    * single division) is bit-identical across engines. No overflow
    * headroom issues: |v| < 1 => |qv| <= 1e6, so ~9e12 members per
    * centroid fit in the BIGINT sum.
    *
    * Scale shape per round: one broadcast-join assignment over the corpus
    * (map-side-combined argmax, see [[nearestCentroid]]), then
    * posexplode → groupBy(centroid_id, pos) — partial aggregation collapses
    * each map partition to C·dim rows before the shuffle — and a C-row
    * groupBy to re-assemble arrays. A centroid whose list empties simply
    * drops out (deterministic in both engines).
    */
  def trainedCentroids(corpus: DataFrame, seeds: DataFrame,
      iters: Int = LloydIters): DataFrame = {
    var cent = seeds
    for (_ <- 1 to iters) {
      cent = nearestCentroid(corpus, cent)
        .select(col("centroid_id"), posexplode(col("emb")).as(Seq("pos", "v")))
        .withColumn("qv",
          floor(col("v") * lit(QuantScale) + lit(0.5)).cast("long"))
        .groupBy(col("centroid_id"), col("pos"))
        .agg(sum(col("qv")).as("_s"), count(lit(1)).as("_n"))
        .select(col("centroid_id"), col("pos"),
          (col("_s").cast("double") / (lit(QuantScale) * col("_n"))).as("m"))
        .groupBy(col("centroid_id"))
        .agg(transform(
          sort_array(collect_list(struct(col("pos"), col("m")))),
          p => p("m")).as("cemb"))
        .withColumn("cnorm", sqrt(dot(col("cemb"), col("cemb"))))
    }
    // truncate lineage: the trained frame is tiny (<= C rows) but its plan
    // embeds `iters` corpus-assignment rounds, and every downstream
    // reference (inverted-list assignment + probes, or a pair self-join)
    // would re-expand — and re-compute — the whole training subtree.
    // The lazy localCheckpoint computes training ONCE and turns the
    // centroids into a leaf, exactly the train-once/reuse contract a
    // production IVF index has.
    graft.Pin.checkpoint(cent, eager = false)
  }

  /** SemDeDup-style pruning decision (Abbas et al. 2023: cluster the
    * embedding space, then drop all-but-one of each within-cluster
    * near-duplicate group). The keep rule is the deterministic greedy
    * form: a vector is DROPPED iff some same-cluster vector with a
    * SMALLER vec_id is cosine-similar above [[DupThreshold]] ("min-id
    * wins"). No transitive chasing — the decision is a pure function of
    * the within-cluster pair set, so re-running any partition of the
    * corpus yields the same verdicts (what makes incremental re-curation
    * reproducible; contrast CC-based dedup where labels depend on the
    * global component).
    *
    * Scale shape: identical to [[embedDupsOf]] — candidate pairs form
    * only WITHIN a coarse-centroid inverted list (never all-pairs), only
    * the loser ids flow through one distinct, and verdicts attach back
    * with a single left join keyed on vec_id. Runs over the perturbed
    * [[dupCorpus]] so there are true semantic dups to prune.
    */
  def semDedup(spark: SparkSession, dir: String,
      assignedIn: Option[DataFrame] = None): DataFrame = {
    val assigned = assignedIn.getOrElse(dupAssigned(spark, dir))
    val dropped = assigned.as("a")
      .join(assigned.as("b"), col("a.centroid_id") === col("b.centroid_id") &&
        col("a.vec_id") < col("b.vec_id"))
      .filter(cosByNorm(dot(col("a.emb"), col("b.emb")), col("a.norm"),
        col("b.norm")) >= DupThreshold)
      .select(col("b.vec_id").as("vec_id"))
      .distinct()
      .withColumn("_dropped", lit(true))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"),
        coalesce(!col("_dropped"), lit(true)).as("keep"))
      .orderBy("vec_id")
  }

  /** Benchmark stand-in modulus for [[decontaminateSemantic]]: the base
    * vectors at vec_id % 25 == 0 play the eval benchmark — their
    * perturbed +100000 copies in [[dupCorpus]] are then EXACTLY the
    * planted leakage (an eval item paraphrased into the training set).
    */
  val SemBenchMod: Int = DupMod

  /** Contamination threshold — shared with the near-dup family. */
  val SemThreshold: Double = DupThreshold

  /** Embedding-space decontamination: every training vector annotated
    * with its nearest BENCHMARK vector and the cosine to it, flagged
    * contaminated at >= [[SemThreshold]] — the semantic sibling of the
    * n-gram [[TextDedup.decontaminate]] family, catching paraphrased
    * eval leakage that exact-gram matching cannot see.
    *
    * Scale shape: a real eval benchmark is small and fixed, so it
    * BROADCASTS and the whole pass is one corpus scan — no corpus
    * shuffle at all until the skinny (vec_id, bench_id, cos) argmax,
    * which partial-aggregates to one row per vector before its single
    * exchange (the [[nearestCentroid]] pattern). A benchmark too big to
    * broadcast would go through the IVF probe path instead
    * ([[knnIvf]]'s salted list join); at the stand-in's 4% density the
    * broadcast form is the honest representation of the production
    * shape.
    */
  def decontaminateSemantic(spark: SparkSession, dir: String): DataFrame = {
    val corpusAll = dupCorpus(spark, dir)
    val isBench = (col("vec_id") % SemBenchMod === 0) &&
      (col("vec_id") < 100000)
    val bench = corpusAll.filter(isBench)
      .select(col("vec_id").as("bench_id"), col("emb").as("bemb"),
        col("norm").as("bnorm"))
    semAnnotate(corpusAll.filter(!isBench), bench).orderBy("vec_id")
  }

  /** The annotation body of [[decontaminateSemantic]], factored over
    * explicit frames: `corpus` (vec_id, emb, norm) × broadcast `bench`
    * (bench_id, bemb, bnorm) → per-vector nearest benchmark neighbor
    * (ties: smaller bench_id) with the 6dp-quantized cosine and the
    * contamination bit. Unsorted — the registry entry adds the
    * oracle-determinism sort; [[graft.streaming.StreamSemGate]] pins its
    * per-row streaming scorer value-identical to this declarative form.
    */
  def semAnnotate(corpus: DataFrame, bench: DataFrame): DataFrame =
    corpus.join(broadcast(bench), lit(true))
      .select(col("vec_id"), col("bench_id"),
        cosByNorm(dot(col("emb"), col("bemb")), col("norm"), col("bnorm"))
          .as("bench_cos"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("bench_id"), col("bench_cos")),
        struct(col("bench_cos"), (-col("bench_id")).as("_tb"))).as("w"))
      .select(col("vec_id"), col("w.bench_id").as("bench_id"),
        col("w.bench_cos").as("bench_cos"),
        (col("w.bench_cos") >= SemThreshold).as("contaminated"))

  /** Increment ids start here (the perturbed-copy convention every
    * incremental tier shares: ids >= the base are "today's batch").
    */
  val NewVecBase = 100000L

  /** Today's embedding batch for the incremental tier: the perturbed
    * near-copies of every (vec_id % [[DupMod]] == 0) base vector under
    * vec_id + [[NewVecBase]] — "an eval item paraphrased into today's
    * crawl", the same planted increment [[dupCorpus]] injects, exposed
    * as its own frame so the incremental path never touches the
    * standing corpus rows. Columns: vec_id, emb, norm.
    */
  def embedIncrement(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .filter(col("vec_id") % DupMod === 0)
      .select((col("vec_id") + NewVecBase).as("vec_id"),
        transform(col("emb"), x => x + lit(0.05)).as("emb"))
      .withColumn("norm", sqrt(dot(col("emb"), col("emb"))))

  /** The standing IVF inverted-list state: every BASE vector's nearest
    * trained-centroid assignment (vec_id, emb, norm, centroid_id) —
    * what a production ANN service persists alongside its centroids.
    * Exposed so Queries can make it durable via [[graft.IndexStore]]:
    * built once, every daily increment consults it without re-scoring
    * a single standing vector.
    */
  def standingAssigned(spark: SparkSession, dir: String,
      centroids: DataFrame): DataFrame =
    nearestCentroid(
      embeddings(spark, dir).select(col("vec_id"), col("emb"), col("norm")),
      centroids)

  /** Public assignment entry: a (vec_id, emb, norm) frame assigned to a
    * given trained centroid set — the building block the incremental
    * tier and its rebuild-equivalence spec share.
    */
  def assignTo(corpus: DataFrame, centroids: DataFrame): DataFrame =
    nearestCentroid(corpus, centroids)

  /** Incremental embedding near-dup: (indexed_id, new_id, cos_sim) of
    * today's vector batch against the STANDING IVF index — the daily
    * path a production semantic-dedup service runs, completing the
    * embedding family's standing-index contract (the analog of
    * [[TextDedup.incrementalDups]] over inverted lists instead of
    * MinHash bands).
    *
    * The standing state is never re-scored: centroids come from the
    * durable trained index ([[ivfCentroids]], built on the BASE corpus
    * — a daily increment must not silently retrain the coarse
    * quantizer), and the standing assignments come from the durable
    * [[standingAssigned]] table. Only the INCREMENT is assigned here
    * (|increment| × C dot products, map-side-combined argmax), and
    * candidate pairs form exclusively increment-vs-index within shared
    * inverted lists — never index-vs-index, never all-pairs.
    *
    * Scale shape: the increment assignment is one broadcast-centroid
    * scan over today's batch; the pair join broadcasts the assigned
    * increment against the standing list table, so the 100 TB index is
    * consulted by ONE scan with no index shuffle (an increment too big
    * to broadcast key-partitions on centroid_id against the standing
    * bucketed lists instead — the [[knnIvf]] salted-join path).
    * Verification is the exact 6dp cosine on candidates only.
    */
  def embedDupsIncremental(spark: SparkSession, dir: String,
      index: Option[DataFrame] = None,
      standing: Option[DataFrame] = None): DataFrame = {
    val centroids = index.getOrElse(ivfCentroids(spark, dir))
    val standingAsg = standing.getOrElse(standingAssigned(spark, dir, centroids))
    val incr = nearestCentroid(embedIncrement(spark, dir), centroids)
    standingAsg.as("a")
      .join(broadcast(incr.as("b")),
        col("a.centroid_id") === col("b.centroid_id"))
      .select(col("a.vec_id").as("indexed_id"),
        col("b.vec_id").as("new_id"),
        cosByNorm(dot(col("a.emb"), col("b.emb")), col("a.norm"),
          col("b.norm")).as("cos_sim"))
      .filter(col("cos_sim") >= DupThreshold)
      .orderBy("indexed_id", "new_id")
  }

  /** Incremental SemDeDup verdicts: keep/drop for TODAY'S batch against
    * the standing corpus — the decision form of [[embedDupsIncremental]]
    * (pairs tell you what matched; a curation service acts on keep
    * bits). Semantics are exactly [[semDedup]]'s min-id-wins greedy
    * restricted to the increment: an arriving vector is DROPPED iff
    * some same-cluster vector with a smaller vec_id clears
    * [[DupThreshold]] — and since every standing id sits below
    * [[NewVecBase]], that means "any standing near-dup, or an earlier
    * arrival in today's batch". Standing verdicts never re-open (the
    * curated corpus is immutable history — the same standing-wins rule
    * as the substring tier).
    *
    * Scale shape: increment assigned to the FROZEN centroids (one
    * broadcast-argmax scan of the batch), standing near-dups from the
    * broadcast increment-vs-index list join (one index scan, as
    * [[embedDupsIncremental]]), plus one increment-sized within-batch
    * self-join — no standing-vs-standing work anywhere.
    */
  def semDedupIncremental(spark: SparkSession, dir: String,
      index: Option[DataFrame] = None,
      standing: Option[DataFrame] = None): DataFrame = {
    val centroids = index.getOrElse(ivfCentroids(spark, dir))
    val standingAsg = standing.getOrElse(standingAssigned(spark, dir, centroids))
    // persisted: the assigned batch feeds four subtrees (both pair
    // sides of the self-join, the index join, the verdict spine) — an
    // unpersisted frame would re-run the broadcast-argmax assignment
    // per consumer
    val incr = nearestCentroid(embedIncrement(spark, dir), centroids)
      .transform(graft.Pin.cache)
    val vsIndex = standingAsg.as("a")
      .join(broadcast(incr.as("b")),
        col("a.centroid_id") === col("b.centroid_id"))
      .filter(cosByNorm(dot(col("a.emb"), col("b.emb")), col("a.norm"),
        col("b.norm")) >= DupThreshold)
      .select(col("b.vec_id").as("vec_id"))
    val vsBatch = incr.as("a")
      .join(incr.as("b"), col("a.centroid_id") === col("b.centroid_id") &&
        col("a.vec_id") < col("b.vec_id"))
      .filter(cosByNorm(dot(col("a.emb"), col("b.emb")), col("a.norm"),
        col("b.norm")) >= DupThreshold)
      .select(col("b.vec_id").as("vec_id"))
    val dropped = vsIndex.unionAll(vsBatch).distinct()
      .withColumn("_dropped", lit(true))
    incr.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"),
        coalesce(!col("_dropped"), lit(true)).as("keep"))
      .orderBy("vec_id")
  }

  /** The two-frame form of [[semDedupIncremental]]: per-vector SemDeDup
    * verdicts for an explicit assigned `fresh` batch against an explicit
    * assigned standing `index` frame — the per-micro-batch call of the
    * streaming embedding ingest (the [[graft.streaming.IndexLeg]] that
    * [[graft.streaming.StreamEmbedDedup]] builds),
    * mirroring [[Perceptual.bandedDupsFromBands]] so batch and streaming
    * verdicts share one cosine/threshold implementation and cannot
    * drift. Both frames carry (vec_id, emb, norm, centroid_id); ids
    * must be disjoint (the caller's contract); `fresh` must be cheap to
    * rescan (it feeds both self-join sides, the index join, and the
    * verdict spine — the streaming caller persists it).
    *
    * Semantics: an arriving vector is DROPPED iff some same-cluster
    * vector clears `threshold` among (a) ANY standing/index vector —
    * standing wins regardless of id, the curated corpus is immutable
    * history — or (b) an earlier (smaller-id) vector of the SAME batch
    * (the min-id-wins greedy of [[semDedup]]); a batch vector dropped
    * by (a) still participates in (b), exactly as the batch operator's
    * unconditioned self-join does. `matched_id`/`score` report the
    * BEST clearing match (max cosine, then lowest id) for lineage.
    *
    * Scale shape: the batch is broadcast against the standing frame
    * (one scan of the index side — file-pruned to the touched
    * centroids' buckets when the caller reads it from a
    * [[graft.streaming.FoldStore]]), plus one increment-sized
    * within-batch self-join; no standing-vs-standing work anywhere.
    */
  def semVerdictsAgainst(index: DataFrame, fresh: DataFrame,
      threshold: Double = DupThreshold): DataFrame = {
    def pairs(a: DataFrame, b: DataFrame, cond: Column) =
      a.as("a").join(b.as("b"),
          col("a.centroid_id") === col("b.centroid_id") && cond)
        .select(col("b.vec_id").as("vec_id"),
          col("a.vec_id").as("matched_id"),
          cosByNorm(dot(col("a.emb"), col("b.emb")), col("a.norm"),
            col("b.norm")).as("cos"))
        .filter(col("cos") >= threshold)
    val vsIndex = pairs(index, broadcast(fresh), lit(true))
    val vsBatch = pairs(fresh, fresh, col("a.vec_id") < col("b.vec_id"))
    val best = vsIndex.unionByName(vsBatch)
      .groupBy(col("vec_id"))
      .agg(min(struct((-col("cos")).as("_nc"), col("matched_id"))).as("m"))
      .select(col("vec_id"), col("m.matched_id").as("matched_id"),
        (-col("m._nc")).as("score"))
    fresh.select(col("vec_id"), col("centroid_id"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"),
        col("matched_id").isNull.as("keep"), col("matched_id"),
        col("score"))
  }

  def embedDupsOf(assigned: DataFrame): DataFrame =
    assigned.as("a")
      .join(assigned.as("b"), col("a.centroid_id") === col("b.centroid_id") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        cosByNorm(dot(col("a.emb"), col("b.emb")), col("a.norm"),
          col("b.norm")).as("cos_sim"))
      .filter(col("cos_sim") >= DupThreshold)
      .orderBy("vec_a", "vec_b")

  /** Salt factor for the probe ⋈ inverted-lists join. The join keys on
    * centroid_id, so one HOT centroid (skewed cluster structure — common in
    * real embedding spaces) would land its entire inverted list in a single
    * shuffle task: the classic straggler at 100 TB. AQE's skew split cannot
    * separate identical join keys, so the key itself is salted: list rows
    * spread over (centroid_id, salt) by vec_id hash, probes replicated
    * [[IvfSalts]]×. Probes are tiny (queries × 2 centroids), so the
    * replication is bounded; results are provably identical (SkewSpec).
    */
  val IvfSalts = 4

  /** IVF-style ANN: assign every vector to its nearest coarse centroid
    * (seeded vec_id % [[centroidMod]](n) == 0, Lloyd's-refined), then each
    * query scores only the vectors in its 2 nearest centroids' lists.
    * Deterministic ties: (cos desc, centroid_id).
    */
  def knnIvf(spark: SparkSession, dir: String): DataFrame =
    knnIvf(spark, dir, IvfSalts)

  /** The trained coarse-centroid set for the plain (unperturbed) corpus —
    * the INDEX of the IVF path, exposed separately so callers can persist
    * it across probe invocations (Queries memoizes it for Bench): a
    * production IVF index is built once and amortized over every query
    * batch, so the bench's repeated passes should pay training once, not
    * per pass.
    */
  def ivfCentroids(spark: SparkSession, dir: String): DataFrame = {
    val all = embeddings(spark, dir)
    val seeds = all.filter(col("vec_id") % centroidMod(all.count()) === 0)
      .select(col("vec_id").as("centroid_id"), col("emb").as("cemb"),
        col("norm").as("cnorm"))
    trainedCentroids(all.select("vec_id", "emb", "norm"), seeds)
  }

  /** Semantic clustering of the embedding space: every vector's trained
    * k-means cluster plus the cluster's population — the grouping stage
    * of SemDeDup-style curation (cluster the corpus semantically, then
    * dedup/diversify WITHIN clusters) and the inspection surface for the
    * IVF index itself (the cluster_size column is the inverted-list
    * balance the salt cap guards).
    *
    * Scale shape: one broadcast-centroid argmax pass over the corpus
    * (map-side combined), cluster sizes via partial-agg groupBy + join
    * back (NOT a window over centroid_id — a mega-cluster would be one
    * unbounded task), output sort. Accepts the memoized trained index.
    */
  def kmeansAssign(spark: SparkSession, dir: String,
      index: Option[DataFrame] = None): DataFrame = {
    val all = embeddings(spark, dir)
    val centroids = index.getOrElse(ivfCentroids(spark, dir))
    val assigned =
      nearestCentroid(all.select(col("vec_id"), col("emb"), col("norm")),
        centroids)
    val sizes = assigned.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("cluster_size"))
    assigned.join(sizes, "centroid_id")
      .select(col("vec_id"), col("centroid_id"), col("cluster_size"))
      .orderBy("vec_id")
  }

  /** Members kept per cluster by [[clusterSample]]. */
  val ClusterSampleK = 5

  /** Within-cluster diversity sampling — the pruning stage that keeps the
    * [[ClusterSampleK]] members FARTHEST from their cluster centroid
    * (lowest cosine): D4/SemDeDup-style prototypicality pruning, where
    * near-centroid members are redundant with the cluster's "prototype"
    * and the far members carry the cluster's diversity.
    *
    * Scale shape: one broadcast-argmax assignment pass (shared trained
    * index), one broadcast join back to the C-row centroid set for the
    * member-to-centroid cosine, then the custom bounded-heap
    * [[graft.plans.TopK]] physical operator per centroid_id — partial
    * per-partition heaps prune to k BEFORE the single key exchange, so a
    * mega-cluster ships k rows, not its population (contrast a window
    * rank, which shuffles every member to one task). Cosine is rounded
    * 6dp before ranking (cross-engine-exact tie surface; vec_id breaks
    * ties).
    */
  def clusterSample(spark: SparkSession, dir: String,
      index: Option[DataFrame] = None,
      k: Int = ClusterSampleK): DataFrame = {
    val all = embeddings(spark, dir)
    val centroids = index.getOrElse(ivfCentroids(spark, dir))
    val assigned =
      nearestCentroid(all.select(col("vec_id"), col("emb"), col("norm")),
        centroids)
    val scored = assigned.join(broadcast(centroids), Seq("centroid_id"))
      .select(col("centroid_id"), col("vec_id"),
        cosByNorm(dot(col("emb"), col("cemb")), col("norm"), col("cnorm"))
          .as("cos_center"))
    graft.plans.TopK.perKey(scored, Seq("centroid_id"),
        Seq(graft.plans.TopK.asc("cos_center"),
          graft.plans.TopK.asc("vec_id")), k)
      .orderBy(col("centroid_id"), col("cos_center"), col("vec_id"))
  }

  def knnIvf(spark: SparkSession, dir: String, salts: Int,
      index: Option[DataFrame] = None): DataFrame = {
    val all = embeddings(spark, dir)
    val centroids = index.getOrElse(ivfCentroids(spark, dir))

    // inverted lists: nearest centroid per vector (broadcast C centroids,
    // map-side-combined argmax — see nearestCentroid)
    val assigned =
      nearestCentroid(all.select("vec_id", "emb", "norm"), centroids)

    // probe lists: 2 nearest centroids per query
    val queries = all.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"),
        col("norm").as("qnorm"))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(desc("_qc"), col("centroid_id"))
    val probes = queries.join(broadcast(centroids), lit(true))
      .withColumn("_qc",
        cosByNorm(dot(col("qemb"), col("cemb")), col("qnorm"), col("cnorm")))
      .withColumn("_rn", row_number().over(probeW))
      .filter(col("_rn") <= Probes)
      .select(col("query_id"), col("qemb"), col("qnorm"), col("centroid_id"))

    // score only the probed lists — salted on (centroid_id, salt) so a hot
    // centroid's list spreads over `salts` shuffle tasks (see IvfSalts)
    val probed =
      if (salts <= 1) probes.join(assigned, Seq("centroid_id"))
      else Salted.join(assigned, probes, key = "centroid_id",
        saltSource = "vec_id", salts = salts)
    val scored = probed
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosByNorm(dot(col("qemb"), col("emb")), col("qnorm"), col("norm"))
          .as("cos_sim"))
    // bounded-heap TopK, not a row_number window over every candidate
    // score (same plan-layer fix as knnBrute — map-side heap pruning
    // before one shuffle; total order → identical rows)
    val top = graft.plans.TopK.perKey(scored, Seq("query_id"),
      Seq(graft.plans.TopK.desc("cos_sim"),
        graft.plans.TopK.asc("neighbor_id")), k = TopK)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos_sim"), col("neighbor_id"))
    top.withColumn("rank", row_number().over(w))
      .orderBy("query_id", "rank")
  }
}
