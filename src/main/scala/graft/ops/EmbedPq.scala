package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.DotProduct

/** Product quantization for embedding search (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011) — the memory
  * side of the ANN story: [[EmbedSim.knnIvf]] cuts how many vectors a
  * query SCORES; PQ cuts how many bytes each scored vector COSTS. The
  * 64-dim double vector compresses to [[SubSpaces]] = 8 codebook codes
  * (8 bytes vs 512: 64×), which is what lets a 100 TB embedding corpus
  * hold its index in executor memory, with scoring done against the
  * codes alone via ADC (asymmetric distance computation): the query
  * precomputes its dot product with every codebook entry (M·K = 64 dots
  * per query, independent of corpus size) and each candidate then costs
  * M table lookups + adds instead of a D-dim dot.
  *
  * Determinism/oracle contract (same policies as the IVF path):
  *  - codebooks are per-subspace k-means, seeded from the [[CodebookK]]
  *    lowest vec_ids and refined [[PqIters]] Lloyd's rounds with the
  *    QUANTIZED order-independent means of [[EmbedSim.trainedCentroids]];
  *  - assignment is true-L2 argmin, expressed as argmax of
  *    round(dot(x,c) − ‖c‖²/2, 6) with lowest-code tiebreak;
  *  - the ADC sums over the M per-subspace lookups are quantized to 1e-6
  *    and summed as integers (an M-term double sum is summation-order-
  *    dependent; the compare is exact);
  *  - ADC ranks by the approximate cosine (reconstruction-norm
  *    denominator √Σcn2 — the exact baseline is cosine, so dot-ranking
  *    would fold candidate-norm variance into the approximation error),
  *    takes the [[Rerank]]-deep shortlist, and the TRUE cosine reranks
  *    only those R rows — the production PQ shape (measured recall@10
  *    0.92 vs exact brute force on the isotropic synthetic corpus, the
  *    stress case for any quantizer);
  *  - every ranking rounds to 6dp with vec_id tiebreak.
  *
  * Scale shape: training is bounded per round (broadcast M·K codebook,
  * skinny max_by argmax, partial-agg quantized means); encoding is one
  * broadcast join + one (vec_id, m) partial-agg groupBy; ADC scoring is
  * one broadcast of the Q·M·K lookup table + one partial-agg groupBy —
  * the corpus is never shuffled wide, and nothing depends on |corpus|
  * except linearly.
  */
object EmbedPq {

  val SubSpaces = 8 // M subspaces
  val SubDim = 8 // 64-dim embeddings / M
  val CodebookK = 64 // entries per subspace codebook
  val PqIters = 2 // Lloyd's rounds (same budget as the IVF index)
  val TopK = EmbedSim.TopK
  val Rerank = 64 // ADC shortlist size fed to the exact rerank

  /** Probe count for the COMPOSED IVF-PQ path — escalated over the plain
    * IVF's [[EmbedSim.Probes]] because the composition stacks two losses
    * (coarse pruning × code quantization): at the shared probe budget the
    * production shape retrieved WORSE than flat PQ (measured recall@10
    * 0.78 vs 0.92 on the isotropic stress corpus — the wrong trade for
    * the path users actually deploy). The measured probe-coverage curve
    * (ProbeCurveSpec, isotropic corpus, 10 lists) is the recall CEILING
    * any IVF composition can reach: 2→0.80, 4→0.88, 6→0.96 — so 6 probes
    * is the smallest budget whose ceiling clears the 0.90 floor after
    * the measured ~0.04 quantization loss (PqSpec pins recall@10 ≥ 0.9).
    * Candidate volume stays Probes/|lists| of the corpus, and |lists|
    * GROWS with corpus size (√n-scaled centroid budget), so the
    * escalated fraction shrinks at scale — the stress cost is confined
    * to exactly the tiny-corpus case that needs it. (The standard
    * alternative, residual IVFADC, attacks the quantization loss — the
    * 0.04, not the 0.16 pruning loss that dominates here — and would
    * couple the PQ index to the coarse index, breaking their independent
    * memoization/reuse.)
    */
  val IvfPqProbes = EmbedSim.Probes * 3

  private def dot(a: Column, b: Column): Column = DotProduct(a, b)
  private def r6(c: Column): Column = round(c, 6)

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))

  /** Tall (vec_id, m, semb) subvector frame — literal-offset slices keep
    * the projection codegen-friendly.
    */
  private def subVectors(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"),
      posexplode(array((0 until SubSpaces).map(m =>
        slice(col("emb"), m * SubDim + 1, SubDim)): _*)).as(Seq("m", "semb")))

  /** Nearest codebook entry per (vec_id, m) by true L2: argmin ‖x−c‖² ≡
    * argmax (x·c − ‖c‖²/2). Skinny map-side-combined max_by (the
    * [[EmbedSim]] assignment pattern, keyed by subspace too).
    */
  private def assign(subs: DataFrame, cb: DataFrame): DataFrame =
    subs.join(broadcast(cb), Seq("m"))
      .select(col("vec_id"), col("m"), col("code"),
        r6(dot(col("semb"), col("cemb")) - col("cn2") / 2).as("_sc"))
      .groupBy(col("vec_id"), col("m"))
      .agg(max_by(col("code"),
        struct(col("_sc"), (-col("code")).as("_tb"))).as("code"))

  /** One Lloyd's update: quantized order-independent per-dimension means
    * of each (m, code) cell (see EmbedSim.trainedCentroids for why a
    * plain avg cannot cross the oracle boundary). Emptied cells drop out.
    */
  private def rebuild(subs: DataFrame, asg: DataFrame): DataFrame =
    subs.join(asg, Seq("vec_id", "m"))
      .select(col("m"), col("code"),
        posexplode(col("semb")).as(Seq("pos", "v")))
      .withColumn("qv",
        floor(col("v") * lit(EmbedSim.QuantScale) + lit(0.5)).cast("long"))
      .groupBy(col("m"), col("code"), col("pos"))
      .agg(sum(col("qv")).as("_s"), count(lit(1)).as("_n"))
      .select(col("m"), col("code"), col("pos"),
        (col("_s").cast("double") / (lit(EmbedSim.QuantScale) * col("_n")))
          .as("cv"))
      .groupBy(col("m"), col("code"))
      .agg(transform(
        sort_array(collect_list(struct(col("pos"), col("cv")))),
        p => p("cv")).as("cemb"))
      .withColumn("cn2", dot(col("cemb"), col("cemb")))

  /** Trained per-subspace codebooks (m, code, cemb, cn2) — the PQ INDEX
    * half 1: built once, reused by every encode/query pass (Queries
    * memoizes it). Lineage localCheckpoint'ed for the same reason as
    * [[EmbedSim.trainedCentroids]].
    */
  def pqCodebooks(spark: SparkSession, dir: String): DataFrame = {
    val vecs = emb(spark, dir)
    val subs = subVectors(vecs)
    val seeds = vecs.orderBy("vec_id").limit(CodebookK)
      .select(col("vec_id").as("sid"))
      .withColumn("code",
        row_number().over(Window.orderBy(col("sid"))).cast("long") - 1)
    var cb = subs.join(broadcast(seeds), col("vec_id") === col("sid"))
      .select(col("m"), col("code"), col("semb").as("cemb"))
      .withColumn("cn2", dot(col("cemb"), col("cemb")))
    for (_ <- 1 to PqIters) cb = rebuild(subs, assign(subs, cb))
    graft.Pin.checkpoint(cb, eager = false)
  }

  /** Encode an arbitrary (vec_id, embedding) frame against trained
    * codebooks — public because encoding is a PER-ROW map once the
    * codebooks are frozen: codes(A ∪ B) ≡ codes(A) ∪ codes(B), which is
    * exactly the [[graft.IndexStore.mergeOrBuild]] contract. A daily
    * embedding increment encodes against the standing codebooks and its
    * codes APPEND to the standing code index — no corpus re-encode
    * (IndexStoreSpec pins merge ≡ full-encode value identity).
    */
  def encode(vecs: DataFrame, cb: DataFrame): DataFrame =
    assign(subVectors(
      vecs.select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))), cb)

  /** PQ codes (vec_id, m, code) — the PQ INDEX half 2: the whole corpus
    * encoded against the trained codebooks (8 codes per vector).
    */
  def pqCodes(spark: SparkSession, dir: String, cb: DataFrame): DataFrame =
    encode(Tables.load(spark, dir, "embeddings"), cb)

  /** Codes packed one row per vector, `codes[m]` = the code for subspace
    * m — the M-bytes-per-vector layout a real PQ index ships. The skinny
    * (vec_id, m, code) frame stays the persisted/merged INDEX form
    * (per-row map → [[graft.IndexStore.mergeOrBuild]]-able); packing is
    * one partial-agg groupBy at query time.
    */
  private def packedCodes(codes: DataFrame): DataFrame =
    codes.groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("m"), col("code")))),
        s => s("code")).as("codes"))

  /** Dense per-query ADC lookup tables: slot m·K+code → (qdot, cn2) as
    * flat arrays, built once per query (M·K map probes). Scoring a
    * candidate then costs M O(1) `element_at`s inside ONE codegen'd
    * projection row — the in-memory-LUT shape of real ADC — instead of
    * the former relational join on (m, code), which materialized M rows
    * PER (query, candidate) pair before a groupBy could fold them
    * (measured at sf3: 47.7 s, 2.7× the brute-force baseline it exists
    * to undercut; packed: see SCALING.md).
    */
  private def denseLut(lut: DataFrame): DataFrame = {
    val slots = SubSpaces * CodebookK
    // dense assembly by GRID LEFT-JOIN + one sorted collect per query —
    // NOT per-slot element_at over a map column: Spark's map lookup is a
    // linear entry scan, so the map form costs O(slots²) interpreted
    // comparisons per query inside one AQE-coalesced task (measured as a
    // flat ~4 s serial floor on every knnPq pass at sf1). The grid join
    // is |Q|·slots tiny rows through codegen'd hash join + partial agg.
    val grid = lut.select("query_id").distinct()
      .join(broadcast(
        lut.sparkSession.range(slots).toDF("slot")), lit(true))
    val withSlot = lut.withColumn("slot",
      (col("m") * CodebookK + col("code")).cast("long"))
    grid.join(withSlot.drop("m", "code"), Seq("query_id", "slot"), "left")
      .groupBy("query_id")
      .agg(array_sort(collect_list(struct(col("slot"),
        coalesce(col("qdot"), lit(0.0)).as("q"),
        coalesce(col("cn2"), lit(0.0)).as("c")))).as("_a"))
      .select(col("query_id"),
        transform(col("_a"), s => s("q")).as("qd"),
        transform(col("_a"), s => s("c")).as("cn"))
  }

  /** M-term ADC sum over a packed code array and a dense LUT, with the
    * SAME quantize-to-1e-6 / integer-sum arithmetic as the former
    * per-(m) aggregation (order-independent, cross-engine exact — the
    * oracle is unchanged). One native codegen'd expression
    * ([[graft.functions.AdcSum]]) — the per-pair inner loop of the
    * operator, same rationale as [[graft.functions.DotProduct]]: it runs
    * at candidate volume, so interpreted higher-order functions (69 s at
    * sf3) or a 16-term element_at chain (20 s) multiply per-pair
    * overhead by the corpus.
    */
  private def qsumArr(codes: Column, lutArr: Column): Column =
    graft.functions.AdcSum(codes, lutArr, CodebookK, EmbedSim.QuantScale)
      .cast("double") / lit(EmbedSim.QuantScale)

  /** ADC top-k: each query (vec_id % QueryMod == 0) precomputes its
    * lookup table (dot with every codebook entry), candidates are scored
    * from their codes alone as the approximate COSINE
    * `Σ qdot / (‖q‖ · √Σ cn2)` — the reconstruction-norm denominator
    * matters because the exact baseline ranks by cosine, and dot-ranking
    * would fold candidate-norm variance into the approximation error.
    * Both M-term sums are quantized to 1e-6 and summed as integers
    * (order-independent, cross-engine exact); rank by (approx desc,
    * vec_id).
    *
    * Scale shape: the query×corpus pairing is the operator's labeled
    * cost (flat PQ scores EVERY vector — IVF-PQ is the pruned tier);
    * what must NOT grow is the per-pair cost, so candidates ship as one
    * packed code array and score via [[qsumArr]] against broadcast dense
    * LUTs — one projected row per (query, candidate), no (m, code) join,
    * no M-row expansion, no groupBy.
    */
  def knnPq(spark: SparkSession, dir: String,
      cbIn: Option[DataFrame] = None,
      codesIn: Option[DataFrame] = None): DataFrame = {
    val cb = cbIn.getOrElse(pqCodebooks(spark, dir))
    val codes = codesIn.getOrElse(pqCodes(spark, dir, cb))
    val queries = emb(spark, dir)
      .filter(col("vec_id") % EmbedSim.QueryMod === 0)
    val qsubs = subVectors(queries)
      .select(col("vec_id").as("query_id"), col("m"), col("semb").as("qsemb"))
    val lut = qsubs.join(broadcast(cb), Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        dot(col("qsemb"), col("cemb")).as("qdot"), col("cn2"))
    val scored = packedCodes(codes)
      .join(broadcast(denseLut(lut)), lit(true))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        qsumArr(col("codes"), col("qd")).as("adot"),
        qsumArr(col("codes"), col("cn")).as("rn2"))
    rerankTail(spark, dir, scored, queries)
  }

  /** IVF-PQ: the production composition — the coarse IVF index prunes
    * WHICH vectors a query scores ([[EmbedSim.Probes]] inverted lists
    * instead of the corpus), the PQ codes price WHAT each scored vector
    * costs (M lookups against 8 bytes of codes), and the exact rerank
    * restores the true metric on the [[Rerank]]-deep shortlist. This is
    * the non-residual IVFADC variant (codes quantize raw vectors, not
    * per-list residuals, so the coarse index and the codebooks stay
    * independently reusable/memoizable); Jégou et al.'s residual
    * refinement is the documented delta.
    */
  def knnIvfPq(spark: SparkSession, dir: String,
      centroidsIn: Option[DataFrame] = None,
      cbIn: Option[DataFrame] = None,
      codesIn: Option[DataFrame] = None): DataFrame = {
    val centroids = centroidsIn.getOrElse(EmbedSim.ivfCentroids(spark, dir))
    val cb = cbIn.getOrElse(pqCodebooks(spark, dir))
    val codes = codesIn.getOrElse(pqCodes(spark, dir, cb))
    val all = emb(spark, dir)
      .withColumn("norm", sqrt(dot(col("emb"), col("emb"))))
    val assigned = EmbedSim.nearestCentroid(all, centroids)
      .select("vec_id", "centroid_id")
    val queries = all.filter(col("vec_id") % EmbedSim.QueryMod === 0)
    val wP = Window.partitionBy(col("query_id"))
      .orderBy(desc("_qc"), col("centroid_id"))
    val probes = queries
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"),
        col("norm").as("qnorm"))
      .join(broadcast(centroids), lit(true))
      .withColumn("_qc",
        r6(dot(col("qemb"), col("cemb")) / (col("qnorm") * col("cnorm"))))
      .withColumn("_rn", row_number().over(wP))
      .filter(col("_rn") <= IvfPqProbes)
      .select(col("query_id"), col("centroid_id"))
    val cands = probes.join(assigned, Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    val qsubs = subVectors(queries)
      .select(col("vec_id").as("query_id"), col("m"), col("semb").as("qsemb"))
    val lut = qsubs.join(broadcast(cb), Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        dot(col("qsemb"), col("cemb")).as("qdot"), col("cn2"))
    // packed candidates score against broadcast dense LUTs — one row per
    // (query, candidate), M O(1) lookups, no (m, code) join expansion
    // (same arithmetic as knnPq; see qsumArr)
    val scored = cands.join(packedCodes(codes), Seq("vec_id"))
      .join(broadcast(denseLut(lut)), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        qsumArr(col("codes"), col("qd")).as("adot"),
        qsumArr(col("codes"), col("cn")).as("rn2"))
    rerankTail(spark, dir,
      scored, queries.select(col("vec_id"), col("emb")))
  }

  /** ADC-shortlist + exact rerank shared tail: scored = (query_id,
    * vec_id, adot, rn2) → approximate-cosine shortlist of [[Rerank]]
    * rows per query → TRUE-cosine rerank of only those rows — the
    * production PQ shape (codes prune |corpus| -> R; full vectors are
    * touched R times per query, never |corpus| times).
    */
  private def rerankTail(spark: SparkSession, dir: String,
      scored: DataFrame, queries: DataFrame): DataFrame = {
    val qnorms = queries.select(col("vec_id").as("query_id"),
      sqrt(dot(col("emb"), col("emb"))).as("qnorm"))
    // shortlist via the bounded-heap TopK physical operator, NOT a
    // row_number window: the window sorts EVERY (query, candidate) score
    // inside each query partition — at flat-PQ candidate volume
    // (|Q|·|corpus| rows) that sort IS the query's cost ceiling, while
    // the heap keeps Rerank rows per key with map-side pruning before
    // the one shuffle. Same total order (score desc, vec_id tiebreak) →
    // identical rows, oracle unchanged.
    val withA6 = scored.join(broadcast(qnorms), Seq("query_id"))
      .withColumn("_a6",
        r6(col("adot") / (col("qnorm") * sqrt(col("rn2")))))
    val shortlist = graft.plans.TopK.perKey(withA6, Seq("query_id"),
        Seq(graft.plans.TopK.desc("_a6"), graft.plans.TopK.asc("vec_id")),
        k = Rerank)
      .select(col("query_id"), col("vec_id"))
    val all = emb(spark, dir)
      .withColumn("norm", sqrt(dot(col("emb"), col("emb"))))
    val qfull = queries
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"),
        sqrt(dot(col("emb"), col("emb"))).as("qnorm"))
    val wX = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos_sim"), col("neighbor_id"))
    shortlist.join(all, Seq("vec_id"))
      .join(broadcast(qfull), Seq("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        r6(dot(col("qemb"), col("emb")) / (col("qnorm") * col("norm")))
          .as("cos_sim"))
      .withColumn("rank", row_number().over(wX))
      .filter(col("rank") <= TopK)
      .orderBy("query_id", "rank")
  }
}
