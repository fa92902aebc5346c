package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import TextHash._

/** Deduplication family for large-scale training-data pipelines:
  * exact (hash-groupBy), MinHash+LSH near-dup candidates, true n-gram
  * Jaccard verification, SimHash fingerprints, and MOD-sampled k-gram
  * document fingerprints.
  *
  * Scale design (100 TB): every operator is shuffle-minimal —
  *  - exact dedup: one window/groupBy on the content hash (the only shuffle);
  *  - MinHash: per-row shingling/hashing (no shuffle), then ONE shuffle on
  *    the band key; candidate pairs are generated per-bucket, never all-pairs
  *    (the classic LSH trade: recall vs the quadratic blowup);
  *  - Jaccard verification joins shingle sets only for LSH candidates;
  *  - SimHash/fingerprints: embarrassingly parallel projections.
  */
object TextDedup {

  val ShingleK = 3
  val MinhashK = 16
  val Bands = 8
  val BandRows = 2

  /** Exact dedup over whitespace-normalized lowered text. One row per doc:
    * its canonical (min) doc_id, group size, and dup flag.
    *
    * Group stats come from a partially-aggregated groupBy(_h) + join
    * back, NOT `min/count().over(Window.partitionBy(_h))`: a window over
    * the content hash has no partial aggregation, and the hottest hash at
    * web scale (the empty/boilerplate document, easily 1M+ copies) would
    * land in one task's sort buffer — the same no-window-straggler rule
    * as [[withClusterCols]]. The groupBy is map-side combined (one row
    * per distinct hash reaches the exchange) and the join back is
    * key-partitioned on the same hash.
    */
  def exactDedup(corpus: DataFrame): DataFrame = {
    val norm = lower(trim(regexp_replace(col("text"), """\s+""", " ")))
    val withH = corpus.withColumn("_h", md5(norm))
    val groups = withH.groupBy(col("_h"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).cast("long").as("group_size"))
    withH.join(groups, "_h")
      .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id"), col("canonical_id"), col("group_size"),
        col("is_dup"))
      .orderBy("doc_id")
  }

  /** doc_id, shingles (distinct h56 HASHES), minhash vector, band keys —
    * the shared prefix of the MinHash pipeline. Docs with < ShingleK
    * words carry no shingles and are dropped (no signature to compare).
    *
    * The shingle column stores hashes, not gram strings (r8): every
    * consumer is set algebra (`array_intersect`/`array_union`/`size` in
    * the jaccard/containment/incremental verify joins), which is
    * value-identical over h56 hashes under the standing 2^56 policy,
    * and the persisted band index plus both verify-join shuffles shrink
    * from gram text to 8-byte longs. One native pass (ShingleHashes)
    * replaces the interpreted per-window transform/concat_ws HOF.
    */
  def signatures(corpus: DataFrame): DataFrame =
    Par.fanOut(corpus)
      .withColumn("shingles",
        graft.functions.ShingleHashes(lower(col("text")), ShingleK,
          distinct = true))
      .filter(size(col("shingles")) >= 1)
      // native one-pass signature (value-identical to
      // TextHash.minhashes(shingles); equivalence spec'd in FunctionsSpec)
      .withColumn("mh", graft.functions.MinHashSig(lower(col("text"))))
      .withColumn("bands", bandKeys(col("mh"), Bands, BandRows))

  /** Pair generation is quadratic in bucket size, so one hot bucket (empty
    * or boilerplate docs sharing a band) is a straggler task at scale;
    * buckets above this size are dropped — the standard LSH recall trade.
    * At the test scales no bucket comes near the cap, so results are
    * identical to uncapped generation (the oracle mirrors the cap anyway).
    */
  val MaxBucket = 1000

  /** LSH candidate pairs: doc_a < doc_b sharing >= 1 band bucket.
    *
    * Shape: ONE shuffle (groupBy band), pairs generated inside each bucket
    * from the collected id list — strictly better than the former
    * exploded-self-join (two scan branches into a shuffle join, no place to
    * bound bucket fan-out). Buckets larger than `maxBucket` are dropped,
    * and the drop is observable: the named `observe` metrics
    * `lsh_dropped_buckets` / `lsh_max_bucket` surface through
    * QueryExecutionListener (see DedupCapSpec).
    */
  def candidatePairs(sigs: DataFrame,
      maxBucket: Int = MaxBucket): DataFrame = {
    val fanout =
      sigs.sparkSession.sessionState.conf.numShufflePartitions
    val buckets = sigs
      .select(col("doc_id"), explode(col("bands")).as("band"))
      // same-key repartition pins the bucket exchange's partition count:
      // band rows are tiny in bytes, so AQE's size-based coalescing would
      // fold the shuffle to ~1 partition and serialize the quadratic
      // per-bucket pair explode below (see simhashDups for the measured
      // cost of that trap). No extra shuffle — the aggregation reuses
      // this exchange.
      .repartition(fanout, col("band"))
      .groupBy(col("band"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .observe("lsh_buckets",
        sum(when(size(col("ids")) > maxBucket, 1L).otherwise(0L))
          .as("lsh_dropped_buckets"),
        max(size(col("ids"))).as("lsh_max_bucket"))
    suffixPairs(buckets, maxBucket)
  }

  /** Per-bucket ordered pairs from a frame with a sorted-asc `ids` array:
    * pairing each element with its strict suffix yields exactly {a < b}
    * once per bucket; buckets above the cap are dropped (the LSH recall
    * trade — quadratic pair generation must be bounded).
    */
  private[ops] def suffixPairs(buckets: DataFrame, maxBucket: Int): DataFrame = {
    val ids = col("ids")
    val pairs = flatten(transform(ids, (a, i) =>
      transform(slice(ids, i + lit(2), size(ids)),
        b => struct(a.as("doc_a"), b.as("doc_b")))))
    buckets
      .filter(size(ids) <= maxBucket)
      .select(explode(pairs).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
  }

  def minhashPairs(corpus: DataFrame): DataFrame =
    minhashPairsOf(signatures(corpus).select("doc_id", "shingles", "mh", "bands"))

  /** Candidate pairs with the estimated Jaccard = fraction of equal minhash
    * components; `sigs` is a (cached) signatures() projection.
    */
  def minhashPairsOf(sigs: DataFrame): DataFrame =
    minhashPairsOf(sigs, candidatePairs(sigs))

  /** As above with the candidate set supplied by the caller — the
    * registry memoizes ONE candidatePairs frame per corpus snapshot and
    * feeds every pair consumer (minhash estimate, jaccard/edit verify,
    * clusters, overlap matrix) from it, the same shared-index contract
    * as the memoized signatures themselves (r12).
    */
  def minhashPairsOf(sigs: DataFrame, pairs: DataFrame): DataFrame = {
    val mhOf = sigs.select(col("doc_id"), col("mh"))
    pairs
      .join(mhOf.as("ma"), col("doc_a") === col("ma.doc_id"))
      .join(mhOf.as("mb"), col("doc_b") === col("mb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (size(filter(zip_with(col("ma.mh"), col("mb.mh"),
          (x, y) => x === y), b => b)) / lit(MinhashK))
          .as("est_jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  def jaccardPairs(corpus: DataFrame): DataFrame =
    jaccardPairsOf(signatures(corpus).select("doc_id", "shingles", "mh", "bands"))

  /** True shingle-set Jaccard for the LSH candidates (the scale path:
    * LSH narrows, exact similarity verifies), kept at j >= 0.5.
    */
  def jaccardPairsOf(sigs: DataFrame): DataFrame =
    jaccardPairsOf(sigs, candidatePairs(sigs))

  /** See [[minhashPairsOf(sigs:*]] — caller-supplied candidate set. */
  def jaccardPairsOf(sigs: DataFrame, pairs: DataFrame): DataFrame = {
    val shOf = sigs.select(col("doc_id"), col("shingles"))
    pairs
      .join(shOf.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(shOf.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("jaccard",
        size(array_intersect(col("sa.shingles"), col("sb.shingles"))) /
          size(array_union(col("sa.shingles"), col("sb.shingles"))))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Minimum max-direction containment for [[containmentPairsOf]]. */
  val ContainMin = 0.9

  def containmentPairs(corpus: DataFrame): DataFrame =
    // one materialization of the signature pass (r12): the consumer reads
    // sigs THREE times (band buckets + both verify-join sides), and with
    // no shared exchange below them the ShingleHashes text pass ran three
    // times per execution — same single-materialization rationale as the
    // substring family's gram checkpoint
    containmentPairsOf(
      signatures(corpus).select("doc_id", "shingles", "mh", "bands")
        .localCheckpoint(true))

  /** Asymmetric shingle containment |A∩B| / |A| (both directions) for the
    * LSH candidates, kept when either direction >= [[ContainMin]] —
    * separates "one document essentially INSIDE the other" (quotes,
    * excerpts, boilerplate-wrapped reposts; see
    * [[Corpus.withExcerpts]]) from the sibling-edit relation symmetric
    * Jaccard measures: an excerpt at 60% of the original has containment
    * 1.0 but Jaccard only ~0.6, and the gap widens as the excerpt
    * shrinks. Candidate recall is the documented LSH trade — band
    * collision probability falls with Jaccard (~0.97 at j≈0.6 for 8
    * bands × 2 rows), and the oracle mirrors bands + cap exactly, so
    * discovered pairs are bit-identical even where recall < 1.
    *
    * Scale shape: identical to [[jaccardPairsOf]] — candidates only,
    * never all-pairs; two key-partitioned joins back to the shingle
    * store; the intersection computed once and reused for both
    * directions.
    */
  def containmentPairsOf(sigs: DataFrame): DataFrame = {
    val pairs = candidatePairs(sigs)
    val shOf = sigs.select(col("doc_id"), col("shingles"))
    pairs
      .join(shOf.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(shOf.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("_i",
        size(array_intersect(col("sa.shingles"), col("sb.shingles"))))
      .withColumn("contain_a", col("_i") / size(col("sa.shingles")))
      .withColumn("contain_b", col("_i") / size(col("sb.shingles")))
      .filter(greatest(col("contain_a"), col("contain_b")) >= ContainMin)
      .select(col("doc_a"), col("doc_b"), col("contain_a"),
        col("contain_b"))
      .orderBy("doc_a", "doc_b")
  }

  /** Cross-source near-duplication matrix: for every ordered source pair
    * (src_a, src_b), the number of verified near-dup (doc of src_a, doc
    * of src_b) ordered pairs, how many DISTINCT src_a documents have at
    * least one near-dup in src_b, and that count as a fraction of
    * src_a's size — the report that prices a source's marginal value
    * before mixing (a source 80% near-contained in an already-selected
    * one contributes 20% of its nominal size).
    *
    * Counts are DIRECTIONAL — each unordered pair contributes to both
    * (a,b) and (b,a), and within-source cells count both directions —
    * so every cell reads uniformly as "pairs (x in a, y in b)".
    *
    * Scale shape: `pairs` is the verified candidate set (churn-sized,
    * never all-pairs); two doc_id-keyed joins attach sources (co-located
    * on a doc_id-clustered warehouse layout); the matrix agg is
    * |sources|² rows and per-source totals broadcast.
    */
  def sourceOverlap(corpus: DataFrame, pairs: DataFrame): DataFrame = {
    val src = corpus.select(col("doc_id"), col("source"))
    // annotate the UNDIRECTED pairs first, then mirror by projection: the
    // former swap-then-annotate shape unioned two copies of the whole
    // pair-verification subtree and joined sources onto both (r12 — the
    // union of two projections over ONE annotated frame is plan-free)
    val annotated = pairs.select(col("doc_a"), col("doc_b"))
      .join(src.select(col("doc_id").as("doc_a"),
        col("source").as("src_a")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"),
        col("source").as("src_b")), "doc_b")
    val ann = annotated
      .select(col("doc_a").as("x"), col("src_a"), col("src_b"))
      .unionAll(annotated.select(col("doc_b").as("x"),
        col("src_b").as("src_a"), col("src_a").as("src_b")))
    val totals = corpus.groupBy(col("source").as("src_a"))
      .agg(count(lit(1)).as("n_docs_a"))
    ann.groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("x")).as("n_docs_dup"))
      .join(broadcast(totals), "src_a")
      .select(col("src_a"), col("src_b"), col("n_pairs"),
        col("n_docs_dup"), col("n_docs_a"),
        (col("n_docs_dup") / col("n_docs_a")).as("dup_frac"))
      .orderBy("src_a", "src_b")
  }

  /** Id base separating the standing index from the new batch in
    * [[incrementalDups]]' registry form: [[graft.ops.Corpus.withNearDups]]
    * injects near-copies at doc_id + 100000, which is exactly the
    * "today's crawl contains near-copies of already-indexed docs" shape.
    */
  val NewIdBase = 100000L

  /** The two-frame form of [[incrementalDups]], over ALREADY
    * band-exploded rows that CARRY their shingle sets ((doc_id, band,
    * shingles) — the stored shape of the durable standing index of the
    * text [[graft.streaming.IndexLeg]] that
    * [[graft.streaming.StreamTextDedup]] builds): candidates
    * from shared band keys with the hot-band cap decided on the index
    * side, verification by the SAME exact shingle-set jaccard the batch
    * operator runs, so streaming and batch verdicts cannot drift.
    * Doc ids must be disjoint across the two frames.
    *
    * Scale shape: mirrors [[Perceptual.bandedDupsFromBands]] — the
    * index side is restricted by one broadcast semi-join against the
    * increment's distinct band keys (file-pruned BEFORE that when read
    * from a FoldStore, whose pk is a function of the band key, so every
    * touched band's full population survives and the cap sees true
    * standing bucket sizes); shingle sets ride the band rows, so the
    * verify needs no join back to a signature frame — the candidate
    * pairs reduce by (indexed_id, new_id) with first(shingles) (the
    * sets are functionally dependent on the ids) and the exact jaccard
    * runs on candidates only. Index-vs-index pairs never form. The
    * ~bands-fold duplication of each shingle set across its band rows
    * is the classic LSH-index storage trade (8-byte h56 hashes, not
    * gram text); a deployment that cannot afford it stores sets once in
    * a doc-keyed side table and pays a second pruned lookup.
    */
  private[graft] def incrementalDupsFromBands(indexBands: DataFrame,
      freshBands: DataFrame, minJaccard: Double = 0.5): DataFrame = {
    val touched = indexBands
      .join(broadcast(freshBands.select(col("band")).distinct()),
        Seq("band"), "leftsemi")
    val okBands = touched
      .groupBy(col("band"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") <= MaxBucket)
      .select(col("band"))
    freshBands.as("f")
      .join(touched.join(okBands, "band").as("ix"), "band")
      .groupBy(col("ix.doc_id").as("indexed_id"),
        col("f.doc_id").as("new_id"))
      .agg(first(col("ix.shingles")).as("_sa"),
        first(col("f.shingles")).as("_sb"))
      .withColumn("jaccard",
        size(array_intersect(col("_sa"), col("_sb"))) /
          size(array_union(col("_sa"), col("_sb"))))
      .filter(col("jaccard") >= minJaccard)
      .select(col("indexed_id"), col("new_id"), col("jaccard"))
      .orderBy("indexed_id", "new_id")
  }

  /** Incremental near-dup detection: a NEW batch against the STANDING
    * signature index, without touching corpus-vs-corpus pairs — the daily
    * crawl-increment path of a production dedup service (index once,
    * join each increment against it).
    *
    * Scale shape: the increment's band keys join the index's band table —
    * shuffle volume is proportional to the INCREMENT, never the corpus
    * (at 100 TB the index bands are a standing bucketed table and this
    * join co-locates on it; a small-enough increment broadcasts). The
    * hot-band cap is decided on the INDEX side alone — the standing
    * index already knows its boilerplate buckets, so a pathological
    * increment cannot re-admit a banned bucket. Verification is true
    * shingle Jaccard on candidates only, same contract as
    * [[jaccardPairsOf]].
    */
  def incrementalDups(sigs: DataFrame,
      newIdBase: Long = NewIdBase): DataFrame = {
    val fanout =
      sigs.sparkSession.sessionState.conf.numShufflePartitions
    def bandsOf(df: DataFrame) =
      df.select(col("doc_id"), explode(col("bands")).as("band"))
    val index = sigs.filter(col("doc_id") < newIdBase)
    val fresh = sigs.filter(col("doc_id") >= newIdBase)
    val okBands = bandsOf(index)
      .repartition(fanout, col("band"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") <= MaxBucket)
      .select(col("band"))
    val cand = bandsOf(fresh).as("f")
      .join(bandsOf(index).join(okBands, "band").as("ix"), "band")
      .select(col("ix.doc_id").as("indexed_id"), col("f.doc_id").as("new_id"))
      .distinct()
    val shOf = sigs.select(col("doc_id"), col("shingles"))
    cand
      .join(shOf.as("sa"), col("indexed_id") === col("sa.doc_id"))
      .join(shOf.as("sb"), col("new_id") === col("sb.doc_id"))
      .withColumn("jaccard",
        size(array_intersect(col("sa.shingles"), col("sb.shingles"))) /
          size(array_union(col("sa.shingles"), col("sb.shingles"))))
      .filter(col("jaccard") >= 0.5)
      .select(col("indexed_id"), col("new_id"), col("jaccard"))
      .orderBy("indexed_id", "new_id")
  }

  /** Max edit distance for [[editPairs]] verification. The near-dup
    * corpus's injected dups drop one trailing word (~5-10 chars), so true
    * pairs land well under this; unrelated docs differ by hundreds.
    */
  val EditMax = 32

  /** Edit-distance verification of the LSH candidates — the
    * character-level alternative to shingle Jaccard (catches
    * transposition-style near-dups whose word sets diverge). Same scale
    * contract as [[jaccardPairsOf]]: distance is computed ONLY for
    * candidate pairs, never all-pairs, and Spark's built-in
    * `levenshtein(l, r, threshold)` short-circuits the DP once the
    * distance provably exceeds the bound — O(threshold·len) instead of
    * O(len²) per pair, which is the difference between a verify pass and
    * a quadratic blowup on long documents.
    *
    * The candidate frame is explicitly re-fanned-out before the verify
    * joins: the pair set is TINY in bytes (two longs/row), so AQE's
    * small-shuffle coalescing folds it into ONE partition — and then the
    * CPU-bound DP verify runs serially in that one task (measured 12.8 s
    * single-task vs ~0.5 s spread at sf1). Bytes-based coalescing is the
    * wrong cost model for compute-heavy verify stages; the explicit
    * numPartitions pins the fan-out AQE cannot see.
    */
  def editPairsOf(sigs: DataFrame, corpus: DataFrame): DataFrame =
    editPairsOf(sigs, corpus, candidatePairs(sigs))

  /** See [[minhashPairsOf(sigs:*]] — caller-supplied candidate set. */
  def editPairsOf(sigs: DataFrame, corpus: DataFrame,
      candidates: DataFrame): DataFrame = {
    val fanout =
      sigs.sparkSession.sessionState.conf.numShufflePartitions
    // round-robin, NOT repartition(n, doc_a, doc_b): the distinct already
    // hash-partitions on exactly those keys, so a same-key repartition is
    // elided as redundant — and then AQE coalesces the distinct's own
    // exchange back to one partition
    val pairs = candidates.repartition(fanout)
    // the text side carries the verify's parallelism too (r12): once the
    // candidate frame is a cached, known-small relation, AQE broadcasts
    // it — and then the stream side's partitioning (a near-single-file
    // scan at test scale) is where the DP executes, re-creating the
    // single-task verify the pair fan-out was built to prevent
    val txt = Par.fanOut(corpus.select(col("doc_id"), col("text")))
    // the DP is guarded by the O(1) length test INSIDE one expression
    // (|len(a)-len(b)| > EditMax already implies edit_dist > EditMax):
    // a separate .filter would be merged into the join condition AFTER
    // the levenshtein conjuncts, where short-circuit AND order makes it
    // useless. Semantics-preserving either way: the oracle needs no
    // mirror.
    val guardedDist = when(
      abs(length(col("ta.text")) - length(col("tb.text"))) <= EditMax,
      levenshtein(col("ta.text"), col("tb.text"), EditMax))
      .otherwise(lit(-1))
    pairs
      .join(txt.as("ta"), col("doc_a") === col("ta.doc_id"))
      .join(txt.as("tb"), col("doc_b") === col("tb.doc_id"))
      .withColumn("edit_dist", guardedDist.cast("long"))
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= EditMax)
      .select(col("doc_a"), col("doc_b"), col("edit_dist"))
      .orderBy("doc_a", "doc_b")
  }

  /** Default decontamination gram length — production pipelines use 8-13
    * word grams (long enough that a match means real overlap, not idiom).
    */
  val ContamGram = 8

  /** Gram length for the registry query: the synthetic corpus shares
    * almost no >= 5-word grams across docs, so the q_decontaminate query
    * uses 3-grams to exercise a non-trivial match set (171 docs at
    * sf0.01); production calls keep the 8-gram default.
    */
  val ContamGramSynthetic = 3

  /** Train/eval decontamination: flag corpus documents sharing >= 1 word
    * k-gram with a benchmark (evaluation) set — the standard guard against
    * test-set leakage into training data. Benchmark docs are excluded from
    * the output (they trivially match themselves).
    *
    * Scale shape: the benchmark gram set (eval suites — thousands of docs)
    * is tiny next to a 100 TB corpus, so it BROADCASTS onto a single
    * corpus scan: no corpus shuffle, just the per-doc group-count of
    * matched grams. Were the benchmark ever too big to broadcast, removing
    * the hint degrades gracefully to a shuffle join on the gram hash.
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame,
      k: Int = ContamGram): DataFrame =
    decontaminateAgainstGrams(docs, benchGramSet(benchmark, k),
      benchmark.select(col("doc_id").as("_bid")), k)

  /** The benchmark's distinct word-k-gram set AS H56 HASHES (`gh` long
    * column) — the broadcast dimension of [[decontaminate]], exposed so
    * a long-lived consumer (the streaming ingest gate) can derive it
    * ONCE, cache it, and reuse it across every micro-batch instead of
    * re-shingling the benchmark per trigger.
    *
    * Grams travel as hashes through this whole family (r8, the
    * ShingleHashes/BigramPairHashes precedent): the prior form exploded
    * every gram as a fresh concatenated STRING through interpreted
    * transform/concat_ws HOFs and joined on arbitrary-width text keys.
    * Per-doc distinct-hash counts equal the oracle's distinct-string
    * counts under the engine's standing 2^56 collision policy.
    */
  def benchGramSet(benchmark: DataFrame, k: Int = ContamGram): DataFrame =
    gramHashesOf(benchmark, k).select("gh").distinct()

  /** [[decontaminate]] against a PRE-DERIVED benchmark gram-hash set
    * (and the benchmark id frame for the self-match anti-join) —
    * identical output, but the caller owns the dimension's lifetime.
    */
  def decontaminateAgainstGrams(docs: DataFrame, benchGrams: DataFrame,
      benchIds: DataFrame, k: Int = ContamGram): DataFrame =
    sharedGramCounts(docs, benchIds, k,
      gs => gs.join(broadcast(benchGrams), "gh"))

  /** One native pass per doc: first-occurrence-distinct h56 hashes of
    * every word k-shingle (docs with < k words carry no rows — the
    * empty-array explode mirrors the prior `size(words) >= k` gate).
    */
  private def gramHashesOf(df: DataFrame, k: Int): DataFrame = df
    .select(col("doc_id"),
      explode(graft.functions.ShingleHashes(lower(col("text")), k,
        distinct = true)).as("gh"))

  /** Common decontamination tail: corpus gram hashes (benchmark docs
    * anti-joined out via `benchIds`, a one-column `_bid` frame) through
    * `matchGrams`, then the per-doc shared count. Plain `count`: the
    * per-doc hash stream is already first-occurrence-distinct and the
    * benchmark set is distinct, so joined rows are unique per (doc, gh)
    * — no count_distinct Expand needed.
    */
  private def sharedGramCounts(docs: DataFrame, benchIds: DataFrame,
      k: Int, matchGrams: DataFrame => DataFrame): DataFrame = {
    matchGrams(gramHashesOf(Par.fanOut(docs), k)
      .join(broadcast(benchIds), col("doc_id") === col("_bid"), "left_anti"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_grams"))
      .orderBy("doc_id")
  }

  /** Bloom sketch sizing for [[decontaminateBloom]]: 2^20 expected grams /
    * 2^23 bits (1 MiB, ~1% fpp at capacity) — well under Spark's
    * runtime-bloom conf caps. The sketch is CONSTANT-size regardless of
    * corpus scale; only the benchmark's gram cardinality matters.
    */
  val BloomEstItems: Long = 1L << 20
  val BloomNumBits: Long = 1L << 23

  /** Decontamination at the scale where the benchmark gram SET is too big
    * to broadcast-join cheaply: the benchmark grams are folded into a
    * fixed-size Bloom sketch (Spark's own `BloomFilterAggregate` — the
    * expression behind its runtime bloom-join filters), the sketch is
    * inlined as a literal, and the corpus gram stream is prefiltered by
    * codegen'd `might_contain` BEFORE the exact gram join. Bloom false
    * positives are killed by that exact join, so output is IDENTICAL to
    * [[decontaminate]] (same oracle).
    *
    * Scale shape (100 TB): the per-partition blooms are OR-merged up a
    * partial aggregation and only the fixed-size (1 MiB) sketch reaches
    * the driver — exactly what Spark's adaptive runtime filter does with
    * its scalar subquery, and unlike a collect this is bounded by sketch
    * size, not data size. The prefilter then drops ~99% of corpus grams
    * map-side, so the exact verify join (left UNHINTED here — at real
    * benchmark cardinality it is a shuffle join) moves only survivors.
    */
  def decontaminateBloom(docs: DataFrame, benchmark: DataFrame,
      k: Int = ContamGram): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType

    val benchGrams = benchGramSet(benchmark, k)
    val bloomAgg = GraftBridge.column(
      new BloomFilterAggregate(
        GraftBridge.expression(xxhash64(col("gh"))),
        Literal(BloomEstItems), Literal(BloomNumBits)).toAggregateExpression())
    val sketch = benchGrams.agg(bloomAgg.as("_bf"))
      .head().getAs[Array[Byte]](0)
    val mightContain = GraftBridge.column(
      BloomFilterMightContain(Literal(sketch, BinaryType),
        GraftBridge.expression(xxhash64(col("gh")))))
    sharedGramCounts(docs, benchmark.select(col("doc_id").as("_bid")), k,
      gs => gs.filter(mightContain).join(benchGrams, "gh"))
  }

  /** Tier cutoff for [[decontaminateAuto]]: benchmark gram sets up to
    * this cardinality broadcast-join cheaply (~8 B hash + overhead per
    * gram ≈ tens of MB at 4M — inside a sane broadcast budget); above
    * it the fixed-size Bloom prefilter wins. Measured at bench scale the
    * bloom tier costs 1.6× the exact tier when the benchmark is small
    * (sketch build + prefilter overhead with nothing to prune), which is
    * exactly why the tier must be picked from the data, not by the
    * caller.
    */
  val ContamAutoMaxBroadcastGrams: Long = 4L << 20

  /** Upper bound on the benchmark's gram cardinality from ONE linear scan
    * of the benchmark alone (total k-windows; distinct grams can only be
    * fewer) — the corpus is never touched by the decision.
    */
  def contamGramBound(benchmark: DataFrame, k: Int): Long = {
    val row = benchmark
      .agg(coalesce(sum(greatest(
        size(words(col("text"))) - (k - 1), lit(0)).cast("long")), lit(0L)))
      .head()
    row.getLong(0)
  }

  /** Self-tuning decontamination: picks [[decontaminate]] (broadcast
    * exact join) when the benchmark gram set is small enough to broadcast
    * and [[decontaminateBloom]] (fixed-size sketch prefilter + exact
    * verify) when it is not. Both tiers produce IDENTICAL output (bloom
    * false positives die in the exact verify join), so the choice is
    * purely a cost decision — and one a production user should not have
    * to make by hand. The gram-cardinality bound comes from one linear
    * scan of the benchmark only.
    */
  def decontaminateAuto(docs: DataFrame, benchmark: DataFrame,
      k: Int = ContamGram,
      maxBroadcastGrams: Long = ContamAutoMaxBroadcastGrams): DataFrame =
    if (contamGramBound(benchmark, k) <= maxBroadcastGrams)
      decontaminate(docs, benchmark, k)
    else decontaminateBloom(docs, benchmark, k)

  /** Per-document contamination SCORE — the graded companion to the
    * boolean [[decontaminate]] flag: the fraction of a document's distinct
    * word k-grams that appear anywhere in the benchmark set. Production
    * contamination reports (GPT-3 appendix C, Llama eval cards) rank and
    * threshold on exactly this overlap fraction rather than drop on first
    * match; documents at 0 overlap stay in the output so the score is a
    * curation COLUMN, not a filter.
    *
    * Scale shape: same as [[decontaminate]] — benchmark gram-hash set
    * broadcast onto one corpus gram-hash scan, ONE per-doc fold. The
    * native pass emits first-occurrence-distinct hashes per doc, so the
    * prior per-doc (doc_id, gram) dedup groupBy — a whole extra shuffle
    * — is gone. Docs with < k words carry no grams and are excluded,
    * mirroring the oracle's `len(words) >= k` gate.
    */
  def contaminationOverlap(docs: DataFrame, benchmark: DataFrame,
      k: Int = ContamGram): DataFrame = {
    val benchGrams = benchGramSet(benchmark, k).withColumn("_hit", lit(1))
    val benchIds = benchmark.select(col("doc_id").as("_bid"))
    gramHashesOf(Par.fanOut(docs), k)
      .join(broadcast(benchIds), col("doc_id") === col("_bid"), "left_anti")
      .join(broadcast(benchGrams), Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(col("_hit")).as("n_shared_grams"))
      .withColumn("overlap_frac",
        round(col("n_shared_grams").cast("double") / col("n_grams"), 6))
      .orderBy("doc_id")
  }

  /** Edge-count ceiling for the driver-local union-find tier of
    * [[dedupClusters]] (r12 optimization round).
    * The verified near-dup pair set is CHURN-sized, not corpus-sized —
    * LSH-capped candidates that survive an exact-jaccard verify — so at
    * bench scale it is a few thousand rows and even the sf10 sweep stays
    * far under this cap. Below the cap, iterating a distributed
    * fixpoint (3 key-partitioned exchanges + one action PER ROUND) costs
    * ~10× the data's worth in scheduling latency; a bounded collect
    * (16 MB at the cap — well under the 1 GB driver default) + union-find
    * + one broadcast join back is the honest plan, exactly the tiered
    * decision the engine already makes for broadcast-sized benchmarks
    * (StreamGate) and increments. Above the cap the distributed star
    * loop runs unchanged — the 100 TB shape is untouched.
    *
    * Conf `spark.graft.cc.localMaxEdges` overrides (0 disables — specs
    * pin the distributed tier's round semantics that way).
    */
  val LocalEdgeMax = 1000000L

  private def localEdgeCap(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get("spark.graft.cc.localMaxEdges", LocalEdgeMax.toString).toLong

  /** Driver union-find over a bounded edge array: (node, minRep, size)
    * rows. Roots merge min-under (attach the larger root below the
    * smaller), so a tree's root IS its component minimum by invariant;
    * iterative find with full path compression keeps adversarial chains
    * amortized near-linear.
    */
  private def unionFindLabels(
      edges: Array[(Long, Long)]): Array[(Long, Long, Long)] = {
    val parent = new scala.collection.mutable.LongMap[Long]()
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) x = parent(x)
      var y = x0
      while (parent(y) != y) { val n = parent(y); parent(y) = x; y = n }
      x
    }
    edges.foreach { case (a, b) =>
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    val size = new scala.collection.mutable.LongMap[Long]()
    val keys = parent.keys.toArray
    keys.foreach { k => val r = find(k); size(r) = size.getOrElse(r, 0L) + 1L }
    keys.map { k => val r = find(k); (k, r, size(r)) }
  }

  /** Finalize the local tier: broadcast the (paired-docs-only) label
    * frame onto the corpus; singletons coalesce to themselves. Same
    * output contract as [[withClusterCols]]. Precondition (shared with
    * the distributed tier's cluster_size semantics): pair endpoints are
    * corpus doc_ids.
    */
  private def smallGraphClusters(corpus: DataFrame,
      edges: Array[(Long, Long)]): DataFrame = {
    val sp = corpus.sparkSession
    import sp.implicits._
    val lbl = unionFindLabels(edges).toSeq
      .toDF("doc_id", "rep", "sz")
    corpus.select(col("doc_id"))
      .join(broadcast(lbl), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("rep"), col("doc_id")).as("cluster_rep"),
        coalesce(col("sz"), lit(1L)).as("cluster_size"),
        (col("doc_id") === coalesce(col("rep"), col("doc_id")))
          .as("is_canonical"))
      .orderBy("doc_id")
  }

  /** Rounds the last [[dedupClusters]] run took to converge (0 on the
    * union-find tier) — spec introspection only (DedupClustersSpec pins
    * the O(log n) round bound on a long-chain fixture).
    */
  @volatile var lastStarRounds: Int = 0

  /** Whether the last [[dedupClusters]] run reached the edge-set
    * fixpoint. lastStarRounds alone cannot distinguish "converged on the
    * last allowed round" from "round cap exhausted mid-iteration" — and a
    * capped-out run silently returns UNDER-clustered labels (each node gets
    * the min of its current star neighborhood, not the component minimum).
    */
  @volatile var lastStarConverged: Boolean = true

  /** Connected-component dedup clusters: near-dup PAIRS are only half a
    * dedup pipeline — keeping one representative per duplicate CLUSTER
    * needs the transitive closure (a~b, b~c => {a,b,c} share one
    * canonical), which pairwise joins cannot express.
    *
    * Tiered (r12): pair sets at or under [[LocalEdgeMax]] take the driver
    * union-find (exact, 0 rounds). Above the cap, connected components via
    * alternating large-star/small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond"): plain min-label propagation
    * needs rounds = component DIAMETER (a 1M-doc boilerplate chain at
    * 100 TB = 1M rounds), while star contraction converges in O(log n)
    * rounds on any graph because each round rewires whole neighborhoods
    * to their minimum, halving effective diameter. `maxRounds` binds only
    * this tier; a capped-out run is flagged in [[lastStarConverged]].
    *
    * Edges are kept canonically directed big→small (u > v). Per round:
    *  - LARGE-STAR: for every node u (both directions), attach each
    *    strictly-larger neighbor v > u to m = min(N(u) ∪ {u}) — one
    *    groupBy(u) min + one join back, both key-partitioned.
    *  - SMALL-STAR: for every node u over its smaller neighbors
    *    (canonical direction), attach u and all v ∈ N(u) to m = min(N(u))
    *    — same one-agg + one-join shape.
    * Nothing is ever collected to the driver; convergence is detected from
    * a (count, xor of xxhash64(u,v)) edge-set signature — a fixpoint of
    * both stars means every edge already points at its component minimum.
    * Only the paired subgraph iterates: singletons attach in ONE final
    * left join.
    *
    * Lineage is localCheckpoint'ed EVERY round: a star round references
    * the previous round's frame ~12× (both stars union/join their own
    * input), so the analyzed plan grows ~12^N between truncations — at
    * every-4 that is a ~20,000× planning blow-up that pegs the driver
    * single-threaded (measured: the 32-node chain spec spun for 10+
    * minutes planning). The eager checkpoint is free here because the
    * signature aggregate materializes every round regardless.
    *
    * Output: (doc_id, cluster_rep, cluster_size, is_canonical) for EVERY
    * corpus doc (non-paired docs are their own singleton cluster), labeled
    * by the component minimum on both tiers.
    */
  def dedupClusters(corpus: DataFrame, pairs: DataFrame,
      maxRounds: Int = 30): DataFrame = {
    val p = pairs.select(col("doc_a"), col("doc_b")).persist()
    val nPairs = p.count()
    // cap > 0: "cap 0 disables the local tier" must hold for EMPTY pair
    // sets too (r13, advisor note) — specs pinning distributed-loop
    // semantics with withLocalCap(0) would otherwise silently exercise
    // the local tier on empty inputs
    val cap = localEdgeCap(corpus.sparkSession)
    if (cap > 0 && nPairs <= cap) {
      val collected = p.collect().map(r => (r.getLong(0), r.getLong(1)))
      p.unpersist(blocking = false)
      lastStarRounds = 0
      lastStarConverged = true
      return smallGraphClusters(corpus, collected)
    }
    var edges = p
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .persist()

    // (count, hash-xor) signature: order-independent over a DISTINCT edge
    // set (xor would cancel duplicates — the stars end in distinct());
    // xor, unlike sum, cannot overflow under ANSI arithmetic
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // large-star: (v, m) for v ∈ N(u), v > u, m = min(N(u) ∪ {u}).
    // No distinct here: duplicate edges cannot change small-star's min
    // aggregate and its terminal distinct removes them — skipping the
    // intermediate dedup saves one shuffle per round.
    def largeStar(e: DataFrame): DataFrame = {
      val und = e.select(col("u"), col("v"))
        .unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = und.groupBy(col("u")).agg(min(col("v")).as("_mn"))
        .select(col("u"), least(col("_mn"), col("u")).as("m"))
      und.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")) // v > u >= m
    }

    // small-star: (x, m) for x ∈ N(u) ∪ {u} \ {m}, m = min(N(u)); operates
    // on the canonical direction (v < u), so m <= every emitted x
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      e.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(mins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    var sig = signature(edges)
    // the canonical edges are materialized in cache now; the pairs can go
    p.unpersist(blocking = false)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      // LAZY checkpoint: the plan is truncated either way, and the
      // signature aggregate right below is the action that materializes
      // the checkpointed blocks — one job per round instead of two
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      val nextSig = signature(next)
      converged = nextSig == sig
      release(edges)
      edges = next
      sig = nextSig
      round += 1
    }
    lastStarRounds = round
    lastStarConverged = converged
    // warned loudly, not thrown: a capped-out run is still a usable
    // (conservative, under-merged) clustering, but silently treating it
    // as exact would be an invisible correctness degradation at scale
    if (!converged)
      System.err.println(
        s"WARN dedupClusters: round cap ($maxRounds) exhausted before " +
          "edge-set fixpoint — labels are UNDER-clustered (per-node star " +
          "minimum, not component minimum); raise maxRounds")
    // fixpoint edges are star edges (node → component min); the groupBy min
    // is a cheap guard making the label unique per node by construction.
    // EAGER checkpoint before releasing the edges: the final round's edges
    // are a localCheckpoint (truncated lineage), so labels left lazy over
    // them would be unrecomputable once their blocks are dropped
    val labels = corpus.select(col("doc_id"))
      .join(edges.groupBy(col("u").as("doc_id")).agg(min(col("v")).as("_rep")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("_rep"), col("doc_id")).as("rep"))
      .localCheckpoint(true)
    release(edges)
    withClusterCols(labels)
  }

  /** Drop a round's edge blocks now, not at the next GC. `unpersist` only
    * reaches frames the CacheManager holds (the first round's `persist`);
    * a localCheckpoint frame is a LogicalRDD it never sees, so its blocks
    * are freed through the RDD itself.
    */
  private def release(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }

  /** Finalize a (doc_id, rep) label frame to the cluster output contract.
    *
    * cluster_size comes from groupBy(rep).count() + a join back, NOT a
    * window over rep: `count().over(Window.partitionBy(rep))` has no
    * partial aggregation, so the classic mega-cluster (1M+ boilerplate
    * docs under one rep at 100 TB) lands entirely in one task's sort
    * buffer. The groupBy is map-side combined (one row per rep reaches
    * the shuffle) and the per-rep size frame is tiny, so AQE broadcasts
    * it back — same shuffle count, no unbounded per-key task.
    */
  private def withClusterCols(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy(col("rep"))
      .agg(count(lit(1)).cast("long").as("cluster_size"))
    labels.join(sizes, "rep")
      .select(col("doc_id"), col("rep").as("cluster_rep"),
        col("cluster_size"),
        (col("doc_id") === col("rep")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** Quality-aware canonical selection over dedup clusters: per cluster
    * keep the HIGHEST-quality member (tiebreak: smallest doc_id), not the
    * min-id representative — the policy real dedup pipelines run, where
    * near-dup variants differ in truncation/boilerplate and the kept copy
    * should be the best one, not an arbitrary one.
    *
    * Scale shape: one key join (clusters x quality on doc_id) into a
    * partially-aggregated groupBy(cluster_rep) whose argmax is a
    * `max(struct(quality, -doc_id))` — struct ordering is lexicographic,
    * so the combiner keeps one candidate row per rep per partition and a
    * mega-cluster ships ONE row per partition through the exchange (the
    * same no-window-straggler rule as [[withClusterCols]]).
    *
    * @param clusters (doc_id, cluster_rep, ...) from [[dedupClusters]]
    * @param quality  (doc_id, quality) — any deterministic per-doc score;
    *                 the registry uses [[TextAnalysis.docQuality]]
    */
  def keepBest(clusters: DataFrame, quality: DataFrame): DataFrame =
    clusters
      .join(quality.select(col("doc_id"), col("quality")), "doc_id")
      .groupBy("cluster_rep")
      .agg(count(lit(1)).cast("long").as("cluster_size"),
        max(struct(col("quality"), (-col("doc_id")).as("_nid"))).as("_b"))
      .select(col("cluster_rep"),
        (-col("_b._nid")).as("best_doc"),
        col("_b.quality").as("best_quality"),
        col("cluster_size"))
      .orderBy("cluster_rep")

  val SimhashBits = 56

  /** 56-bit SimHash fingerprint per doc as a '0'/'1' string (bit b set iff
    * the signed sum of word-hash bits at position b is positive) —
    * formatted from the native packed signature.
    */
  def simhash(corpus: DataFrame): DataFrame = {
    val sh = graft.functions.SimHashSig(lower(col("text")))
    Par.fanOut(corpus)
      .withColumn("_words", words(col("text")))
      .filter(size(col("_words")) >= 1)
      .withColumn("_sh", sh)
      // one codegen'd call instead of a 56-step interpreted HOF: bin()
      // renders MSB-first, the original transform rendered bit 0 first
      // (LSB-first), so reverse(lpad(bin)) reproduces it exactly
      .withColumn("simhash",
        reverse(lpad(bin(col("_sh")), SimhashBits, "0")))
      .select(col("doc_id"), col("simhash"))
      .orderBy("doc_id")
  }

  val SimBands = 4
  val SimBandBits = 14 // 4 x 14 = 56 bits
  val SimHamMax = 8

  /** Column-expression reference for the native
    * [[graft.functions.SimHashSig]] (equivalence spec'd in FunctionsSpec,
    * same role as TextHash.minhashes for MinHashSig): the 56 signed bit
    * sums as one BIGINT signature, bit b set iff the sum at position b is
    * positive. The HOF form allocates a 56-wide array per word per row —
    * interpreted, codegen-blocking — which is why production paths use
    * the native expression.
    */
  private[graft] def simhashLongRef(textCol: Column): Column = {
    val hashes = transform(words(textCol), w => h56(w))
    val bitsOf = (h: Column) =>
      transform(sequence(lit(0), lit(SimhashBits - 1)),
        b => when(call_function("shiftright", h, b).bitwiseAND(lit(1)) === 1,
          lit(1)).otherwise(lit(-1)))
    val bitSums = aggregate(hashes,
      array_repeat(lit(0), SimhashBits),
      (acc, h) => zip_with(acc, bitsOf(h), (a, b) => a + b))
    aggregate(
      zip_with(bitSums, sequence(lit(0), lit(SimhashBits - 1)),
        (v, b) => when(v > 0,
          call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** SimHash near-dup JOIN — the fingerprint put to work. Signatures are
    * bucketed on [[SimBands]] disjoint [[SimBandBits]]-bit bands
    * (pigeonhole: hamming <= SimBands - 1 GUARANTEES two signatures agree
    * on at least one band, so recall is exact for distance <= 3; pairs in
    * the 4..[[SimHamMax]] range surface only when their differing bits
    * cluster outside one band — the documented banding trade, mirrored
    * bit-for-bit in the oracle). Verification is exact:
    * `bit_count(xor)` on the two signatures.
    *
    * Scale shape identical to MinHash-LSH: one groupBy(band) shuffle,
    * capped per-bucket suffix pairing (never all-pairs), then two key
    * joins to fetch signatures for the exact hamming filter.
    */
  def simhashDups(corpus: DataFrame,
      maxHamming: Int = SimHamMax): DataFrame = {
    // the signature frame is consumed THREE times (bucketing + both verify
    // join sides); it is two longs per row, so materialize it once — a
    // production pipeline computes the signature index once, and without
    // this the regex tokenizer + SimHashSig subtree re-runs per consumer
    // (measured ~3x the whole query's useful work at sf1)
    val sigs = corpus
      .withColumn("_words", words(col("text")))
      .filter(size(col("_words")) >= 1)
      // native one-pass signature (value-identical to simhashLongRef)
      .select(col("doc_id"),
        graft.functions.SimHashSig(lower(col("text"))).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fanout =
      corpus.sparkSession.sessionState.conf.numShufflePartitions
    val mask = (1L << SimBandBits) - 1L
    val buckets = sigs
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(SimBands - 1))).as("i"), col("sh"))
      .withColumn("bv",
        call_function("shiftright", col("sh"), col("i") * lit(SimBandBits))
          .bitwiseAND(lit(mask)))
      // pin the bucket exchange: the band rows are tiny in BYTES, so AQE
      // coalesces the groupBy shuffle to one partition — and then the
      // quadratic per-bucket pair explode runs serially in that one task
      // (measured 5.7 s single-task at sf1). An explicit same-key
      // repartition satisfies the aggregation's distribution requirement,
      // so it costs no extra shuffle — it only pins the partition count
      // AQE would otherwise fold.
      .repartition(fanout, col("i"), col("bv"))
      .groupBy(col("i"), col("bv"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
    val pairs = suffixPairs(buckets, MaxBucket)
    val shOf = sigs.select(col("doc_id"), col("sh"))
    pairs
      .join(shOf.as("ha"), col("doc_a") === col("ha.doc_id"))
      .join(shOf.as("hb"), col("doc_b") === col("hb.doc_id"))
      .withColumn("hamming",
        bit_count(col("ha.sh").bitwiseXOR(col("hb.sh"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  val GramLen = 8
  val FpMod = 16

  /** MOD-sampled k-gram rolling fingerprint: hash every 8-char gram, keep
    * h % 16 == 0 as the doc's fingerprint set; summarized to scalars
    * (count/min/max/sum-mod) for engine-portable comparison.
    */
  def fingerprints(corpus: DataFrame): DataFrame = {
    val t = col("text")
    val nGrams = greatest(length(t) - (GramLen - 1), lit(0))
    // native one-pass gram hashing (see Winnow.scala) — the interpreted
    // substr+md5 HOF chain was the whole cost of this projection
    val fps = filter(graft.functions.CharGramHashes(t, GramLen),
      h => h % FpMod === 0)
    Par.fanOut(corpus)
      .withColumn("_fps", fps)
      .select(col("doc_id"),
        nGrams.cast("long").as("n_grams"),
        size(col("_fps")).cast("long").as("n_fp"),
        array_min(col("_fps")).as("min_fp"),
        array_max(col("_fps")).as("max_fp"),
        aggregate(col("_fps"), lit(0L), (acc, h) => acc + h % 1000003)
          .as("fp_sum_mod"))
      .orderBy("doc_id")
  }

  /** Winnowing window: every W consecutive gram hashes contribute one
    * selected fingerprint, so any shared substring of length >=
    * W + GramLen - 1 chars is guaranteed to share a fingerprint (the
    * winnowing guarantee — MOD sampling above has no such bound: a long
    * match can fall entirely between kept hashes).
    */
  val WinnowW = 4

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003 —
    * the MOSS scheme): hash every [[GramLen]]-char gram, slide a
    * [[WinnowW]]-hash window, select each window's MINIMUM hash taking the
    * RIGHTMOST occurrence on ties, and keep each selected position once.
    * The guarantee-bearing alternative to [[fingerprints]]' MOD sampling,
    * summarized to the same engine-portable scalars.
    *
    * Scale shape: per-row array work, shuffle-free until the output sort.
    * The rightmost-argmin is expressed as
    * `p + W - array_position(reverse(window), array_min(window))` — pure
    * array primitives with identical semantics in DuckDB's list functions,
    * so no per-window struct fold has to agree across engines. O(n*W)
    * array slicing per doc; a fused native expression (the
    * [[graft.functions.LshBucketSig]] pattern) is the upgrade path if
    * this projection ever dominates a profile.
    */
  def winnow(corpus: DataFrame): DataFrame = {
    val t = col("text")
    val w = WinnowW
    val nGrams = greatest(length(t) - (GramLen - 1), lit(0))
    val hs = col("_hs")
    Par.fanOut(corpus)
      // fused natives (one O(n) pass each) — the interpreted
      // per-window array_min(slice) form re-scanned every window and
      // dominated the honest sf1 profile (11.9x slope on 10x data);
      // selection is value-identical (WinnowSpec pins equivalence
      // against the declarative rule the oracle still states)
      .withColumn("_hs", graft.functions.CharGramHashes(t, GramLen))
      .withColumn("_fps", graft.functions.WinnowFps(hs, w))
      .select(col("doc_id"),
        nGrams.cast("long").as("n_grams"),
        greatest(size(hs) - (w - 1), lit(0)).cast("long").as("n_windows"),
        size(col("_fps")).cast("long").as("n_fp"),
        array_min(col("_fps")).as("min_fp"),
        array_max(col("_fps")).as("max_fp"),
        aggregate(col("_fps"), lit(0L), (acc, h) => acc + h % 1000003)
          .as("fp_sum_mod"))
      .orderBy("doc_id")
  }

  val ChunkTokens = 10

  /** Position-encoding base the DUCKDB ORACLES use for their
    * first-occurrence min (keeper = min(doc_id * base + pos)) — valid at
    * oracle scale (sf0.01). The ENGINE does not pack: it takes
    * min(struct(doc_id, pos)) — the same lexicographic order — because
    * the packed long overflows for doc_id >= Long.MaxValue / 1e5
    * (~9.2e13), and real corpora key documents by arbitrary 64-bit ids
    * (hashes). Caught by the r9 sf10 sweep: MakeSf's decorrelation
    * offsets ids by i·2^40, and at 100x the whole substring family
    * failed with ARITHMETIC_OVERFLOW.
    */
  val ChunkPosBase = 100000L

  /** The corpus-global first-occurrence ordering key: lexicographic
    * (doc_id, position) as an orderable struct — overflow-free for the
    * full 64-bit doc_id domain, consumed only by min() and equality.
    */
  private def firstOcc(pos: Column): Column = struct(col("doc_id"), pos)

  /** Sub-document (chunk-level) dedup — the C4 "discard any previously-seen
    * three-sentence span" pass (Raffel et al. 2020, §2.1) / RefinedWeb's
    * line-level dedup, at a deterministic K-token granularity: documents
    * split into consecutive K-token chunks, each chunk kept only at its
    * corpus-global FIRST occurrence (minimal (doc_id, chunk_pos)), and the
    * survivors reassembled per document in original order. Unlike
    * whole-document dedup (exactDedup) this removes repeated boilerplate
    * EMBEDDED in otherwise-unique documents — at web scale the largest
    * single cleanup after URL dedup.
    *
    * Scale shape (100 TB): chunking is a narrow per-row explode; the
    * global first-occurrence is ONE partial-aggregated groupBy on the
    * chunk text (map-side combine collapses each partition's repeats
    * before the exchange); the keeper joins back on the same chunk key
    * (AQE splits skewed boilerplate chunks); reassembly is one
    * groupBy(doc_id) whose per-group state is bounded by document length.
    * No window over an unbounded key, no driver round-trip.
    *
    * Docs with zero words cannot be chunked and pass through with
    * clean_text = "" and n_chunks = 0 (mirrored by the oracle).
    */
  def chunkDedup(corpus: DataFrame, k: Int = ChunkTokens): DataFrame = {
    val base = Par.fanOut(corpus)
      .withColumn("_words", words(col("text")))
      .withColumn("n_chunks",
        when(size(col("_words")) === 0, lit(0L))
          .otherwise(floor((size(col("_words")) - 1) / k) + 1))
    val chunks = base
      .filter(col("n_chunks") > 0)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), (col("n_chunks") - 1).cast("int")),
          i => concat_ws(" ", slice(col("_words"), i * k + 1, lit(k)))))
          .as(Seq("chunk_pos", "chunk")))
      .withColumn("_ord", firstOcc(col("chunk_pos")))
      // chunks travel as 128-bit md5 hashes through the keeper agg and
      // its join (r13; r12 used xxhash64): the group/join key was once
      // the chunk TEXT itself — arbitrary-width strings through the
      // exchange where a fixed-width hash decides. 64 bits was flagged
      // by the r12 advisor: this operator's contract is EXACT dedup,
      // and at ~10^12 chunks the 64-bit birthday bound expects tens of
      // thousands of silent cross-chunk merges. 128-bit md5 is the
      // SAME identity policy [[exactDedup]] already keys whole-document
      // dedup on (collision probability ~10^-14 at 10^12 keys — below
      // hardware error rates); internal-only, the output still carries
      // text.
      .withColumn("_ch", md5(col("chunk")))
      // one materialization, two consumers (r13): the keeper aggregate
      // and the kept-join stream both hang off the chunk build, so the
      // words+slice+concat chunking pass ran twice per execution. Lazy
      // per the r13 lazy/eager A/B (OPTIMIZATION_r13.md §3).
      .localCheckpoint(false)
    // only DUPLICATED chunks need a keeper row (a unique chunk's sole
    // occurrence IS its first occurrence): filtering the join's build
    // side to them keeps it churn-sized — AQE broadcasts it and the
    // chunk stream never shuffles for the join (r12, the same
    // restructure substringDedup got in r8)
    val dupKeeper = chunks.groupBy(col("_ch"))
      .agg(min(col("_ord")).as("_keeper"), count(lit(1)).as("_n"))
      .filter(col("_n") > 1)
      .select(col("_ch"), col("_keeper"))
    val kept = chunks
      .join(dupKeeper, Seq("_ch"), "left")
      .filter(col("_keeper").isNull || col("_ord") === col("_keeper"))
    val rebuilt = kept.groupBy("doc_id")
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("chunk_pos"), col("chunk")))),
          s => s("chunk"))).as("_clean"),
        count(lit(1)).as("_kept"))
    base
      .select(col("doc_id"), col("n_chunks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("_clean"), lit("")).as("clean_text"),
        col("n_chunks"),
        coalesce(col("_kept"), lit(0L)).as("n_kept"))
      .orderBy("doc_id")
  }

  /** Sliding-window gram length for [[substringDedup]] — any verbatim
    * repeat of >= this many tokens is removed (Lee et al. 2022 use 50 BPE
    * tokens at web scale; 8 suits the short synthetic docs).
    */
  val SubstrGram = 8

  /** EXACT substring dedup at sliding-window granularity — the Lee et al.
    * 2022 ("Deduplicating Training Data Makes Language Models Better")
    * pass: remove every token that lies inside a verbatim repeat of >=
    * [[SubstrGram]] tokens, keeping only the corpus-global FIRST
    * occurrence. This closes [[chunkDedup]]'s alignment blind spot: chunk
    * dedup removes repeats only when they tile the K-token chunk grid, so
    * a long verbatim span straddling two chunk boundaries survives it —
    * here every K-token WINDOW of the span is keyed, so any >= K-token
    * repeat is caught regardless of position ([[chunkDedup]] stays as the
    * cheaper aligned tier).
    *
    * Mechanics: a window starting at token p is a duplicate occurrence
    * iff its gram is not the corpus-global minimal (doc_id, p); tokens
    * covered by any duplicate window [p, p+K-1] are removed; survivors
    * reassemble in document order. Within-doc self-repeats dedupe the
    * same way (the earlier start wins). Grams travel as [[TextHash.h56]]
    * hashes of the window text — never the text itself.
    *
    * Scale shape (100 TB): window expansion is a narrow per-row explode
    * (doc_id, p, h56); the first-occurrence pass is ONE partial-aggregated
    * groupBy on the 8-byte gram hash; duplicate spans expand to covered
    * positions bounded by K x duplicate-starts; the token anti-join and
    * the reassembly groupBy are both keyed by doc_id (co-partitioned, one
    * exchange each, per-group state bounded by document length). No
    * window over an unbounded key, no driver round-trip.
    */
  def substringDedup(corpus: DataFrame, k: Int = SubstrGram): DataFrame =
    substringDedupFrom(substrWordRows(corpus),
      // pin ONE materialization of the gram build: the keeper aggregate
      // and the covered join's stream side both read this checkpoint —
      // without it each self-join branch re-runs the window hashing,
      // the expensive part of the pass (measured: attribute dedup
      // re-aliases the branches and exchange reuse does not unify them).
      // Deserialized storage (MEMORY_AND_DISK, the default) — this
      // checkpoint is read by BOTH join branches, and the serialized
      // tier's per-read deserialization measured 23.2 → 58.8 s on
      // q_substring_dedup_bpe at sf1 (r7 same-condition A/B).
      substrGramPos(substrWordRows(corpus), k)
        .localCheckpoint(true), k)

  /** The word-split doc stream shared by the substring-dedup family:
    * (doc_id, text, _words). The registry memoizes ONE such frame per
    * corpus snapshot and feeds [[substringDedupFrom]] (word windows),
    * [[substringDedupBpeFrom]] (the same words re-encoded as BPE
    * symbols) and the standing gram-index build from it — a production
    * substring-dedup service tokenizes the corpus once for all three
    * passes (r13, the candPairs shared-frame contract).
    */
  def substrWordRows(corpus: DataFrame): DataFrame =
    Par.fanOut(corpus).withColumn("_words", words(col("text")))

  /** The POSITIONAL word-gram frame (doc_id, p, gh) over a word-split
    * corpus ([[substrWordRows]]) — the frame [[substringDedupFrom]]
    * checkpoints and [[substrGramRowsFrom]] collapses into standing
    * index rows. The first-occurrence struct is derived AFTER
    * materialization by the consumer — it is a pure function of these
    * columns, so storing it would only widen every row.
    */
  def substrGramPos(withWords: DataFrame, k: Int = SubstrGram): DataFrame =
    withWords
      .filter(size(col("_words")) >= k)
      .select(col("doc_id"),
        posexplode(graft.functions.WindowHash(col("_words"), k))
          .as(Seq("p", "gh")))

  /** [[substringDedup]] body over caller-supplied shared frames: the
    * word-split doc stream and the (materialized) positional gram frame
    * — both memoized by the registry so the family's three variants
    * share one tokenize pass and one gram build (r13).
    */
  def substringDedupFrom(withWords: DataFrame, gramsPos: DataFrame,
      k: Int = SubstrGram): DataFrame = {
    val base = withWords
      .withColumn("n_words", size(col("_words")).cast("long"))
    val grams = gramsPos
      .withColumn("_ord", firstOcc(col("p")))
    // only DUPLICATED grams can cover anything (a unique gram's sole
    // occurrence IS the keeper): filtering the join's build side to them
    // keeps it churn-sized — AQE broadcasts it at runtime and the gram
    // stream never shuffles for the join
    val dupKeeper = grams.groupBy(col("gh"))
      .agg(min(col("_ord")).as("_keeper"), count(lit(1)).as("_n"))
      .filter(col("_n") > 1)
      .select(col("gh"), col("_keeper"))
    // Reassembly is ONE per-row walk over (tokens, covered positions)
    // per AFFECTED doc (r8): the losing-window starts ride a single
    // per-doc groupBy (bounded by document length), CoverPositions
    // merges them into the covered-position union, and RebuildWords
    // emits the cleaned text + kept count directly. The prior shape —
    // explode every losing window x K positions into a corpus-wide
    // distinct, explode every affected doc to per-token rows, anti-join
    // on (doc_id, pos), rebuild through two collect_list groupBys —
    // shuffled ~120M intermediate rows on a duplication-heavy corpus
    // and dominated the query (measured at sf1; same fix in
    // substringDedupBpe). Unaffected docs never leave the final
    // projection. grams is checkpointed and docStarts has one consumer,
    // so the gram chain still executes exactly once.
    val docStarts = grams
      .join(dupKeeper, "gh")
      .filter(col("_ord") =!= col("_keeper"))
      .groupBy("doc_id")
      .agg(collect_list(col("p")).as("_starts"))
    val rebuilt = base
      .join(docStarts, Seq("doc_id"))
      .select(col("doc_id"),
        graft.functions.RebuildWords(col("_words"),
          graft.functions.CoverPositions(col("_starts"), k)).as("_rb"))
      .select(col("doc_id"),
        col("_rb").getField("clean").as("_clean"),
        col("_rb").getField("n_kept").as("_nk"))
    base
      .select(col("doc_id"), col("n_words"), col("_words"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("_clean"), concat_ws(" ", col("_words")))
          .as("clean_text"),
        col("n_words"),
        (col("n_words") - coalesce(col("_nk"), col("n_words")))
          .as("n_removed"))
      .orderBy("doc_id")
  }

  /** The standing substring-gram index rows for one corpus: per-doc
    * DISTINCT window-gram hashes, the skinny (doc_id, gh) projection
    * [[substringDedupIncremental]] consults. A per-document map —
    * build(A ∪ B) ≡ build(A) ∪ build(B) as multisets — so
    * [[graft.IndexStore.mergeOrBuild]] folds a daily increment into the
    * standing index in O(increment) bytes, exactly the contract the
    * MinHash band index already uses. Per-doc distinctness loses nothing:
    * the consumer asks only "has this gram EVER been seen", and keeps the
    * index at one row per distinct gram per doc.
    */
  def substrGramRows(corpus: DataFrame, k: Int = SubstrGram): DataFrame =
    Par.fanOut(corpus)
      .withColumn("_words", words(col("text")))
      .filter(size(col("_words")) >= k)
      .select(col("doc_id"),
        explode(array_distinct(
          graft.functions.WindowHash(col("_words"), k))).as("gh"))

  /** [[substrGramRows]] derived from a (memoized) positional gram frame
    * ([[substrGramPos]]) instead of a fresh corpus scan: per-doc distinct
    * (doc_id, gh) — value-identical (one row per distinct gram per doc,
    * SubstrSharedSpec pins it), so the standing-index build shares the
    * family's one gram materialization (r13).
    */
  def substrGramRowsFrom(gramsPos: DataFrame): DataFrame =
    gramsPos.select(col("doc_id"), col("gh")).distinct()

  /** INCREMENTAL [[substringDedup]]: dedupe today's crawl against the
    * STANDING gram index without rescanning the standing corpus — the
    * substring-tier answer to [[incrementalDups]]. A window of an
    * arriving document loses iff its gram was EVER seen by the standing
    * corpus (any occurrence there predates the increment — the standing
    * text is already published and immutable, so it always wins) or an
    * earlier increment window holds the same gram (within-batch
    * first-occurrence, [[substringDedup]]'s own rule). When standing
    * `_ord`s precede increment `_ord`s (the realistic deployment:
    * monotonically assigned ids), this is EXACTLY the full-rebuild
    * semantics restricted to the increment's documents —
    * SubstrIncrSpec pins that value identity.
    *
    * Scale shape (the whole point): the gram explode, keeper aggregate,
    * covered-position union, and reassembly all run over the INCREMENT
    * only — increment-sized shuffles end to end. The standing index is
    * consulted by ONE scan, semi-joined against the increment's
    * (broadcast) distinct gram set — the 100 TB index never shuffles,
    * never re-aggregates, and grows by an O(increment) IndexStore merge
    * per day.
    */
  def substringDedupIncremental(standingGrams: DataFrame,
      increment: DataFrame, k: Int = SubstrGram): DataFrame = {
    val base = Par.fanOut(increment)
      .withColumn("_words", words(col("text")))
      .withColumn("n_words", size(col("_words")).cast("long"))
      // one materialization, three consumers (r13): the gram build, the
      // covered-rebuild join and the final projection each re-derived
      // the increment (a documents scan + filter + rebuild per branch).
      // Lazy per the r13 lazy/eager A/B (OPTIMIZATION_r13.md §3);
      // increment-sized either way.
      .localCheckpoint(false)
    val grams = base
      .filter(col("n_words") >= k)
      .select(col("doc_id"),
        posexplode(graft.functions.WindowHash(col("_words"), k))
          .as(Seq("p", "gh")))
      // one materialization, two consumers (keeper agg + the covered
      // join) — same rationale as substringDedup, with the ordering
      // struct derived post-checkpoint
      .localCheckpoint(true)
      .withColumn("_ord", firstOcc(col("p")))
    val bKeeper = grams.groupBy(col("gh"))
      .agg(min(col("_ord")).as("_keeper"), count(lit(1)).as("_n"))
    // grams the standing corpus has seen, restricted to grams the
    // increment actually carries: one SCAN of the standing index against
    // the broadcast increment-gram set — increment-bounded output.
    // The distinct gram set IS the keeper aggregate's key set (r13):
    // deriving it from bKeeper removes a second full aggregation of the
    // gram stream (the keeper exchange is reused for both consumers)
    val bSet = bKeeper.select(col("gh"))
    val aHits = standingGrams.select(col("gh"))
      .join(broadcast(bSet), Seq("gh"), "left_semi")
      .distinct()
      .withColumn("_in_a", lit(true))
    // a gram can cover something iff it repeats within the increment or
    // the standing corpus has it — the join build side stays churn-sized
    val losing = bKeeper.join(aHits, Seq("gh"), "left")
      .filter(col("_n") > 1 || coalesce(col("_in_a"), lit(false)))
      .select(col("gh"), col("_keeper"), col("_in_a"))
    val docStarts = grams
      .join(losing, "gh")
      .filter(coalesce(col("_in_a"), lit(false)) ||
        col("_ord") =!= col("_keeper"))
      .groupBy("doc_id")
      .agg(collect_list(col("p")).as("_starts"))
    val rebuilt = base
      .join(docStarts, Seq("doc_id"))
      .select(col("doc_id"),
        graft.functions.RebuildWords(col("_words"),
          graft.functions.CoverPositions(col("_starts"), k)).as("_rb"))
      .select(col("doc_id"),
        col("_rb").getField("clean").as("_clean"),
        col("_rb").getField("n_kept").as("_nk"))
    base
      .select(col("doc_id"), col("n_words"), col("_words"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("_clean"), concat_ws(" ", col("_words")))
          .as("clean_text"),
        col("n_words"),
        (col("n_words") - coalesce(col("_nk"), col("n_words")))
          .as("n_removed"))
      .orderBy("doc_id")
  }

  /** Sliding-window gram length for [[substringDedupBpe]], in TRAINED-BPE
    * tokens — Lee et al. 2022's production granularity is 50 BPE tokens;
    * 20 suits the short synthetic docs while still sitting well inside
    * the injected boilerplate span's ~3× token inflation (words outside
    * the trained vocabulary split into several sub-word symbols).
    */
  val SubstrBpeGram = 20

  /** [[substringDedup]] at PRODUCTION granularity: windows slide over the
    * TRAINED-BPE token sequence ([[graft.rules.Bpe]] frozen merges — the
    * tokenizer every real token-budget decision runs on), not whitespace
    * words. This is the r5 pieces composing: any verbatim repeat of >=
    * [[SubstrBpeGram]] BPE tokens is removed wherever it starts,
    * INCLUDING repeats that word-level windows cannot see — a short
    * phrase of < SubstrGram words can still span >= SubstrBpeGram
    * sub-word tokens once out-of-vocabulary words split (spec pins such
    * a case), and removal is sub-word exact: a word partially inside a
    * duplicate span keeps only its uncovered symbols.
    *
    * Mechanics: per-word symbols come from the codegen'd
    * [[graft.functions.BpeEncode]] (bounded Zipf-vocabulary cache, no
    * UDF serde), flattened doc-wide as (word_index, symbol) structs —
    * pure array ops, no per-token explode until gram generation, no
    * window over any key. First-occurrence / covered-position / rebuild
    * logic is [[substringDedup]]'s, with one extra doc-keyed groupBy to
    * reassemble words from their surviving symbols (BPE symbols
    * partition the word's codepoints, so full survivors rebuild
    * verbatim).
    *
    * Scale shape (100 TB): identical to [[substringDedup]] — narrow
    * (doc_id, p, h56) gram explode, ONE partial-agg groupBy on the
    * 8-byte gram hash, covered expansion bounded by K×dup-starts, both
    * reassembly groupBys keyed by doc_id with per-group state bounded by
    * document length. BPE cost itself tracks the vocabulary, not the
    * corpus.
    */
  def substringDedupBpe(corpus: DataFrame, k: Int = SubstrBpeGram): DataFrame =
    substringDedupBpeFrom(substrWordRows(corpus), k)

  /** [[substringDedupBpe]] body over a caller-supplied word-split doc
    * stream ([[substrWordRows]], memoized by the registry) — the BPE
    * variant shares the family's one tokenize pass (r13); the BPE
    * symbol encode and gram build stay its own (single-consumer) work.
    */
  def substringDedupBpeFrom(withWords: DataFrame,
      k: Int = SubstrBpeGram): DataFrame = {
    val base = withWords
      // (wi, sym) structs for the whole doc: word boundaries survive into
      // reassembly while windows see the flat token stream. ONE native
      // pass (BpeSymbols) — the prior nested transform/split/flatten ran
      // two interpreted HOFs per word and allocated a nested array per
      // word before flattening (r8; same class as ShingleHashes)
      .select(col("doc_id"), col("_words"),
        graft.functions.BpeSymbols(col("_words")).as("_syms"))
      .withColumn("n_tokens", size(col("_syms")).cast("long"))
      // one materialization, three consumers (r13): the gram build, the
      // affected-doc rebuild and the final projection each re-ran the
      // BPE encode — the query's per-row-heaviest stage — over the whole
      // corpus (the final projection via the count-only BpeTokenCount
      // pass). ONE encode pass now feeds all three; the pinned frame is
      // corpus-sized (same class as the gram checkpoint below) and n_
      // tokens ≡ the former BpeTokenCount(text) by the shared encoder
      // (size(BpeSymbols) — the equivalence the final projection already
      // relied on, pinned in its spec). Lazy per the r13 lazy/eager A/B
      // (OPTIMIZATION_r13.md §3); the eager gram checkpoint materializes
      // it at construction.
      .localCheckpoint(false)
    val symsOf = transform(col("_syms"), s => s("sym"))
    val grams = base
      .filter(col("n_tokens") >= k)
      .select(col("doc_id"),
        posexplode(graft.functions.WindowHash(symsOf, k))
          .as(Seq("p", "gh")))
      // single materialization of the BPE window hashing (see
      // substringDedup — the same checkpoint pin, same tier policy,
      // ordering struct derived post-checkpoint)
      .localCheckpoint(true)
      .withColumn("_ord", firstOcc(col("p")))
    // duplicated grams only on the build side; affected docs only in the
    // reassembly — see [[substringDedup]] (same two restructures)
    val dupKeeper = grams.groupBy(col("gh"))
      .agg(min(col("_ord")).as("_keeper"), count(lit(1)).as("_n"))
      .filter(col("_n") > 1)
      .select(col("gh"), col("_keeper"))
    // reassembly = one per-row walk per affected doc (see
    // substringDedup — same CoverPositions + Rebuild rationale); the
    // sub-word grouping (surviving symbols concatenate within a word,
    // words join with a space) happens inside RebuildSyms' walk, so the
    // per-(doc, word) and per-doc collect_list groupBys are gone too.
    // Only this branch re-encodes BPE, and only for affected docs.
    val docStarts = grams
      .join(dupKeeper, "gh")
      .filter(col("_ord") =!= col("_keeper"))
      .groupBy("doc_id")
      .agg(collect_list(col("p")).as("_starts"))
    val rebuilt = base
      .join(docStarts, Seq("doc_id"))
      .select(col("doc_id"),
        graft.functions.RebuildSyms(col("_syms"),
          graft.functions.CoverPositions(col("_starts"), k)).as("_rb"))
      .select(col("doc_id"),
        col("_rb").getField("clean").as("_clean"),
        col("_rb").getField("n_kept").as("_nk"))
    // final projection: n_tokens reads the checkpointed base (r13) —
    // the former count-only BpeTokenCount(text) pass re-encoded the
    // whole corpus once more per execution, and BpeTokenCount ≡
    // size(BpeSymbols) by the shared encoder anyway
    base
      .select(col("doc_id"), col("n_tokens"), col("_words"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("_clean"), concat_ws(" ", col("_words")))
          .as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("_nk"), col("n_tokens")))
          .as("n_removed"))
      .orderBy("doc_id")
  }
}
