package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._
import graft.oracle.{Sql, SqlText}

/** Query registry backing SparkEntry.queries / SparkEntry.oracleSql.
  * Every entry returns a deterministic, oracle-comparable result: stable
  * column names/types and an explicit total ORDER BY mirrored in the SQL.
  */
object Queries {

  /** The session memo: one map, keyed (session, dir, key), for
    * [[Tables.load]]'s unexecuted parquet handles (key `<table>.parquet`)
    * and the pinned frames [[memoize]] builds (a bare key without a dot,
    * one private accessor per key, which resolves its own dependencies).
    * Cell rule: `computeIfAbsent` only creates a [[Cell]]; the build runs
    * in the cell's `lazy val`, outside the map's lock. So a build may read
    * other entries in any order, concurrent callers of one key build it
    * once, and a build that throws leaves the cell unset for the next call
    * to retry. [[clear]] is the only clear, for both key spaces.
    *
    * Verify/Bench run every query in one session, so pinning the shared
    * frames avoids recomputing the regex-heavy pipelines per query. They
    * are stored deserialized (MEMORY_AND_DISK). The r7 sf1 A/B priced the
    * serialized tier under one condition: it shrinks the resident set 2-4×
    * but charges a deserialization per read, and re-read-heavy consumers
    * pay it many times over — a 10-25% tax across memo consumers,
    * q_substring_dedup_bpe 23.2 → 58.8 s and q_ccnet_buckets 17.3 → 27.3 s
    * on their checkpoints. The sf3+ pool pressure it was introduced for
    * (q_ccnet_buckets 51.7 → 120 s across passes) was dead blocks
    * lingering between passes, cured by the query scope ([[Pin]]), not the
    * live set's size. Where the live pinned set does approach the storage
    * pool, size executor storage to it.
    */
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String),
      Cell]()
  private final class Cell(build: => DataFrame) {
    lazy val df: DataFrame = build
  }
  /** The memo's one lookup: `key`'s frame, built on first use. */
  private[graft] def cell(spark: SparkSession, dir: String, key: String)
                         (build: => DataFrame): DataFrame =
    memo.computeIfAbsent((spark, dir, key), _ => new Cell(build)).df

  /** Owns every memo entry and what its build pinned, until [[clear]]. */
  private val session = new Pin.Scope
  private def memoize(spark: SparkSession, dir: String, what: String)
                     (build: => DataFrame): DataFrame =
    cell(spark, dir, what)(session {
      val df = Pin.cache(build)
      // materialize eagerly: the first consumer query otherwise fans out
      // into several concurrent scans that race to compute the uncached
      // plan (measured 114 s vs 12 s for the MinHash family at sf0.1)
      df.count()
      df
    })

  /** Materialize the four memo families up front, one thread per family
    * root; each root's build resolves the memos below it. Bench calls this
    * before timing so cache-build cost is its own line item instead of
    * being attributed to whichever query alphabetically consumes the memo
    * first (q_jaccard_pairs absorbed the whole signature build in round 1).
    */
  def warmup(spark: SparkSession, dir: String): Unit = {
    // the families are independent and none saturates the cores on its
    // own (few input partitions each) — build them concurrently so warmup
    // wall time is the max, not the sum
    val roots = Seq[(SparkSession, String) => DataFrame](
      docsAnnotated, candPairs, embAssigned, substrGramsPos)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val threads = roots.map { root =>
      val t = new Thread(() =>
        try root(spark, dir)
        catch { case e: Throwable => failure.compareAndSet(null, e) })
      t.start(); t
    }
    threads.foreach(_.join())
    if (failure.get != null) throw failure.get
  }

  /** Unpersist and drop every memo entry — long-lived JVMs (test suites,
    * repeated Verify/Bench sessions) otherwise accumulate cached plans and
    * strong session references unboundedly.
    */
  def clear(): Unit = {
    try session.close() catch { case _: Throwable => () }
    // operators that persist their own shared subframes (simhashDups'
    // signature index, embedDupsLshOf's corpus) register in the session
    // CacheManager, not the memo — drop those too
    memo.keySet.forEach { k =>
      try k._1.catalog.clearCache() catch { case _: Throwable => () }
    }
    memo.clear()
  }

  /** Session memo over the durable [[IndexStore]]: standing indexes (IVF
    * centroids, PQ codebooks/codes, the MinHash band index, dedup cluster
    * labels) load from disk when this corpus snapshot was already indexed
    * — by an earlier query in this session (memo) or by a PREVIOUS
    * session (parquet keyed by corpus content signature + build params) —
    * and train + publish otherwise. Builds are deterministic, so load and
    * build are value-identical and every consumer stays oracle-exact
    * either way.
    */
  private def durableIndex(spark: SparkSession, dir: String, what: String,
      sourceTable: String, params: String)(build: => DataFrame): DataFrame =
    memoize(spark, dir, what) {
      IndexStore.loadOrBuild(spark, what,
        Tables.load(spark, dir, sourceTable), params)(build)
    }

  /** Build-parameter fingerprints for each persisted index: any change to
    * these constants (exactly the r5 SubSpaces 4→8 case) renames the
    * store directory, so an index trained under old parameters is never
    * served to new code.
    */
  private val sigParams =
    // shingles=h56: r8 stores shingle HASHES, not gram strings — the
    // param bump keeps a pre-r8 persisted index from being served to
    // code that expects the long-array schema
    s"shingleK=${TextDedup.ShingleK},minhashK=${TextDedup.MinhashK}," +
      s"bands=${TextDedup.Bands},rows=${TextDedup.BandRows},shingles=h56"
  private val ivfParams =
    s"mod=${EmbedSim.CentroidMod},iters=${EmbedSim.LloydIters}," +
      s"q=${EmbedSim.QuantScale}"
  private val pqParams =
    s"m=${EmbedPq.SubSpaces},k=${EmbedPq.CodebookK}," +
      s"iters=${EmbedPq.PqIters},q=${EmbedSim.QuantScale}"
  private val clusterParams = s"$sigParams,jaccard=0.5"
  private val substrParams =
    s"k=${TextDedup.SubstrGram},grams=h56,docdistinct"
  private val imgHashParams =
    s"grid=${graft.functions.ImageDHashUtil.GridW}x" +
      s"${graft.functions.ImageDHashUtil.GridH}," +
      s"bands=${ImageDedup.ImgBands}x${ImageDedup.ImgBandBits}"
  private val audHashParams =
    s"frames=${graft.functions.AudioFingerprintUtil.Frames}," +
      s"bands=${AudioDedup.AudBands}x${AudioDedup.AudBandBits}"
  private val vidHashParams =
    s"grid=${graft.functions.ImageDHashUtil.GridW}x" +
      s"${graft.functions.ImageDHashUtil.GridH}," +
      s"sets=h64n,cap=${TextDedup.MaxBucket}"

  private def docsAnnotated(spark: SparkSession, dir: String): DataFrame =
    memoize(spark, dir, "ann") {
      Clean.annotate(Reviews.docsAsReviews(Tables.load(spark, dir, "documents")))
    }

  /** The standing MinHash band index (doc_id, shingles, mh, bands) —
    * durable AND incrementally maintained: the base corpus (documents) is
    * signed and indexed once; the near-dup increment
    * ([[graft.ops.Corpus.nearDupIncrement]] — "today's crawl") is signed,
    * row-mapped, and APPENDED via [[IndexStore.mergeOrBuild]], publishing
    * the merged index under the combined signature. Day N+1 never
    * re-shingles the corpus; every consumer (q_dedup_incremental,
    * q_minhash_pairs, q_dedup_clusters, …) reads the merged index, which
    * is value-identical to a full rebuild because signatures() is a
    * per-document map (IndexStoreSpec pins the equivalence).
    */
  private def nearSignatures(spark: SparkSession, dir: String): DataFrame =
    memoize(spark, dir, "sigs") {
      def sigRows(corpus: DataFrame) =
        TextDedup.signatures(corpus).select("doc_id", "shingles", "mh", "bands")
      IndexStore.mergeOrBuild(spark, "sigs",
        Tables.load(spark, dir, "documents")
          .select("doc_id", "text", "source"),
        Corpus.nearDupIncrement(spark, dir), sigParams) {
        sigRows(Tables.load(spark, dir, "documents")
          .select("doc_id", "text", "source"))
      } {
        sigRows(Corpus.nearDupIncrement(spark, dir))
      }
    }

  /** The LSH candidate-pair set over the standing MinHash band index —
    * memoized like the signatures themselves (r12): six registry queries
    * consume the same banded candidate generation (minhash estimate,
    * jaccard verify, edit verify, both cluster variants via the verified
    * pairs, the overlap matrix), and a production dedup service derives
    * the candidate set once per corpus snapshot for all of them.
    */
  private def candPairs(spark: SparkSession, dir: String): DataFrame =
    memoize(spark, dir, "candpairs") {
      TextDedup.candidatePairs(nearSignatures(spark, dir))
    }

  /** The dedup cluster labels, a standing index like the IVF centroids. */
  private def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    durableIndex(spark, dir, "dedup_clusters", "documents", clusterParams) {
      TextDedup.dedupClusters(Corpus.withNearDups(spark, dir),
        TextDedup.jaccardPairsOf(nearSignatures(spark, dir),
          candPairs(spark, dir)))
    }

  /** The word-split boilerplate corpus (doc_id, text, _words) — the
    * substring-dedup family's shared doc stream (r13): q_substring_dedup
    * consumes word windows of it, q_substring_dedup_bpe re-encodes the
    * same words as BPE symbols, and the standing gram index derives from
    * the same gram frame. One tokenize pass per corpus snapshot, built in
    * warmup (counted in the bench total).
    */
  private def substrWords(spark: SparkSession, dir: String): DataFrame =
    memoize(spark, dir, "subwords") {
      TextDedup.substrWordRows(Corpus.withBoilerplate(spark, dir))
    }

  /** The positional word-gram frame (doc_id, p, gh) over [[substrWords]]
    * — the materialization q_substring_dedup's keeper/covered branches
    * read and the standing subgram index collapses (per-doc distinct).
    */
  private def substrGramsPos(spark: SparkSession, dir: String): DataFrame =
    memoize(spark, dir, "subgramspos") {
      TextDedup.substrGramPos(substrWords(spark, dir))
    }

  /** The standing substring gram index. Cold builds collapse the shared
    * positional gram frame (per-doc distinct ≡ substrGramRows, pinned in
    * SubstrSharedSpec) instead of re-scanning the corpus (r13).
    */
  private def standingSubGrams(spark: SparkSession, dir: String): DataFrame =
    memoize(spark, dir, "subgrams") {
      val standing = Corpus.withBoilerplate(spark, dir)
      val incr = Corpus.substrIncrement(spark, dir)
      val a = IndexStore.loadOrBuild(spark, "subgrams", standing,
        substrParams)(TextDedup.substrGramRowsFrom(substrGramsPos(spark, dir)))
      // publish the merged standing ∪ increment index for tomorrow — one
      // new segment + manifest, the standing segments untouched
      IndexStore.mergeOrBuild(spark, "subgrams", standing, incr,
        substrParams)(TextDedup.substrGramRowsFrom(substrGramsPos(spark, dir)))(
        TextDedup.substrGramRows(incr))
      a
    }

  private def ivfCentroids(spark: SparkSession, dir: String): DataFrame =
    durableIndex(spark, dir, "ivf_centroids", "embeddings", ivfParams) {
      EmbedSim.ivfCentroids(spark, dir)
    }

  private def ivfAssign(spark: SparkSession, dir: String): DataFrame =
    durableIndex(spark, dir, "ivf_assign", "embeddings", ivfParams) {
      EmbedSim.standingAssigned(spark, dir, ivfCentroids(spark, dir))
    }

  private def pqCodebooks(spark: SparkSession, dir: String): DataFrame =
    durableIndex(spark, dir, "pq_codebooks", "embeddings", pqParams) {
      EmbedPq.pqCodebooks(spark, dir)
    }

  private def pqCodes(spark: SparkSession, dir: String): DataFrame =
    durableIndex(spark, dir, "pq_codes", "embeddings", pqParams) {
      EmbedPq.pqCodes(spark, dir, pqCodebooks(spark, dir))
    }

  private def embAssigned(spark: SparkSession, dir: String): DataFrame =
    memoize(spark, dir, "emb_assigned")(EmbedSim.dupAssigned(spark, dir))

  private def imgHashes(spark: SparkSession, dir: String): DataFrame =
    memoize(spark, dir, "imghash") {
      IndexStore.mergeOrBuild(spark, "imghash",
        ImageDedup.imageTable(spark), ImageDedup.incrementTable(spark),
        imgHashParams) {
        ImageDedup.hashRows(ImageDedup.imageTable(spark))
      } {
        ImageDedup.hashRows(ImageDedup.incrementTable(spark))
      }
    }

  private def audHashes(spark: SparkSession, dir: String): DataFrame =
    memoize(spark, dir, "audhash") {
      IndexStore.mergeOrBuild(spark, "audhash",
        AudioDedup.audioTable(spark), AudioDedup.incrementTable(spark),
        audHashParams) {
        AudioDedup.hashRows(AudioDedup.audioTable(spark))
      } {
        AudioDedup.hashRows(AudioDedup.incrementTable(spark))
      }
    }

  /** The clip count follows the dir's `events` size, counted in the build. */
  private def vidHashes(spark: SparkSession, dir: String): DataFrame =
    memoize(spark, dir, "vidhash") {
      val g = VideoDedup.groupsFor(spark, dir)
      IndexStore.mergeOrBuild(spark, "vidhash",
        VideoDedup.videoTable(spark, g), VideoDedup.incrementTable(spark, g),
        vidHashParams) {
        VideoDedup.hashRows(VideoDedup.videoTable(spark, g))
      } {
        VideoDedup.hashRows(VideoDedup.incrementTable(spark, g))
      }
    }

  /** q_video_dups' per-clip frame-hash sets, decoded once per session;
    * built on first use, not in [[warmup]].
    */
  private def videoSets(spark: SparkSession, dir: String): DataFrame =
    memoize(spark, dir, "vidsets") {
      VideoDedup.frameSets(
        VideoDedup.videoTable(spark, VideoDedup.groupsFor(spark, dir)))
    }

  def cleanDocs(spark: SparkSession, dir: String): DataFrame =
    Clean.cleaned(docsAnnotated(spark, dir)).orderBy("review_id")

  def qualityIssues(spark: SparkSession, dir: String): DataFrame =
    Clean.issues(docsAnnotated(spark, dir))
      .orderBy("review_id", "issue_type", "field_name")

  def hourlyStats(spark: SparkSession, dir: String): DataFrame =
    Stats.hourlyStats(docsAnnotated(spark, dir))

  def issueHistogram(spark: SparkSession, dir: String): DataFrame =
    Stats.issueHistogram(Clean.issues(docsAnnotated(spark, dir)))

  def businessStats(spark: SparkSession, dir: String): DataFrame =
    Stats.businessStats(Clean.cleaned(docsAnnotated(spark, dir)))

  def topQuality(spark: SparkSession, dir: String): DataFrame =
    Clean.cleaned(docsAnnotated(spark, dir))
      .select(col("review_id"), col("business_id"), col("rating"),
        col("data_quality_score"))
      .orderBy(desc("data_quality_score"), col("review_id"))
      .limit(20)

  def recentReviews(spark: SparkSession, dir: String): DataFrame =
    Clean.cleaned(docsAnnotated(spark, dir))
      .select(col("review_id"), col("date"), col("rating"),
        col("data_quality_score"))
      .orderBy(desc("date"), col("review_id"))
      .limit(50)

  def dedupEvents(spark: SparkSession, dir: String): DataFrame =
    Dedup.firstEventPerKey(Tables.events(spark, dir))

  def dupEvents(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicateEvents(Tables.events(spark, dir))

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    // quality pipeline (SURVEY §2.2-2.6)
    "q_clean_docs" -> (cleanDocs _),
    "q_quality_issues" -> (qualityIssues _),
    // aggregations (§2.5) + sorts/limits (§2.7)
    "q_hourly_stats" -> (hourlyStats _),
    "q_issue_histogram" -> (issueHistogram _),
    "q_business_stats" -> (businessStats _),
    "q_top_quality" -> (topQuality _),
    "q_recent_reviews" -> (recentReviews _),
    // dedup (§2.4, batch semantics)
    "q_dedup_events" -> (dedupEvents _),
    "q_dup_events" -> (dupEvents _),
    // relational surface (§2.7 joins/windows — north star)
    "q1_pricing" -> (Relational.q1Pricing _),
    "q3_shipping" -> (Relational.q3Shipping _),
    "q_top_orders" -> (Relational.topOrdersPerCustomer _),
    "q_region_revenue" -> (Relational.regionRevenue _),
    "q_event_props" -> (Relational.eventPropsAgg _),
    // gap-based sessionization via native session_window (the same
    // grouping expression sessionizes the streaming path)
    "q_sessions" -> ((s: SparkSession, d: String) =>
      Sessionize.sessions(Tables.events(s, d))),
    // hopping (sliding) event-time windows: native window(ts, size, slide)
    // generator — bounded 2x map-side expand, one partial-agg groupBy
    "q_hopping" -> ((s: SparkSession, d: String) =>
      TimeWindows.hopping(Tables.events(s, d))),
    // per-type hourly volume z-scores: two partial-agg groupBys + a
    // broadcast of the tiny per-type moment frame (never a window)
    "q_hourly_anomaly" -> ((s: SparkSession, d: String) =>
      Anomaly.hourlyAnomaly(Tables.events(s, d))),
    // weekly cohort retention: ONE user exchange for cohorting + activity
    // dedup (co-partitioned join), cohort sizes broadcast onto the cells
    "q_cohort" -> ((s: SparkSession, d: String) =>
      Cohort.retention(Tables.events(s, d))),
    // interval/range join via the banded rewrite: bucket expand + broadcast
    // HASH join + residual range check (oracle states the plain range join)
    "q_promo_attrib" -> (Relational.promoAttrib _),
    // trailing-hour RANGE-frame rolling window (interval frame edges,
    // peers share a frame — the window type row frames can't express)
    "q_rolling_spend" -> ((s: SparkSession, d: String) =>
      Relational.rollingSpend(Tables.events(s, d))),
    // click->purchase conversion funnel: forward-looking union-and-window
    // attribution (oracle states the declarative left-join min form)
    "q_funnel" -> (Relational.funnel _),
    "q_pricing_rollup" -> (Relational.pricingRollup _),
    // custom physical operator (plans/TopKPerKey): per-key bounded-heap
    // top-k — no per-group sort, map-side pruning before one shuffle
    "q_topk_custom" -> ((s: SparkSession, d: String) =>
      graft.plans.TopK.perKey(
          Tables.load(s, d, "orders")
            .select("o_custkey", "o_orderkey", "o_totalprice"),
          Seq("o_custkey"),
          Seq(graft.plans.TopK.desc("o_totalprice"),
            graft.plans.TopK.asc("o_orderkey")), k = 3)
        .orderBy(col("o_custkey"), desc("o_totalprice"), col("o_orderkey"))),
    "q_click_no_purchase" -> (Relational.clickNoPurchase _),
    "q_click_and_purchase" -> (Relational.clickAndPurchase _),
    // as-of join (union+window; oracle = DuckDB native ASOF JOIN)
    "q_asof_purchase" -> (Relational.clickLastPurchase _),
    "q_price_stats" -> (Relational.priceStats _),
    // LLM-data-pipeline: dedup family (north star)
    "q_dedup_exact" -> ((s: SparkSession, d: String) =>
      TextDedup.exactDedup(Corpus.withExactDups(s, d))),
    // C4-style sub-document dedup: K-token chunks, corpus-global first
    // occurrence wins, survivors reassembled per doc
    "q_chunk_dedup" -> ((s: SparkSession, d: String) =>
      TextDedup.chunkDedup(Tables.load(s, d, "documents"))),
    // Lee et al. 2022 sliding-window substring dedup: any >= K-token
    // verbatim repeat removed wherever it starts — closes chunkDedup's
    // alignment blind spot (the injected boilerplate crosses chunk
    // boundaries on purpose)
    "q_substring_dedup" -> ((s: SparkSession, d: String) =>
      TextDedup.substringDedupFrom(substrWords(s, d), substrGramsPos(s, d))),
    // the same pass at PRODUCTION granularity: windows slide over the
    // trained-BPE token sequence (sub-word exact removal) — catches
    // repeats word-level windows cannot see once OOV words split
    "q_substring_dedup_bpe" -> ((s: SparkSession, d: String) =>
      TextDedup.substringDedupBpeFrom(substrWords(s, d))),
    // incremental substring tier: today's crawl deduped against the
    // STANDING gram index (loaded, never rescanned), and the increment's
    // grams folded into the index in O(increment) for day N+1 — the
    // substring sibling of q_dedup_incremental
    "q_substring_dedup_incr" -> ((s: SparkSession, d: String) =>
      TextDedup.substringDedupIncremental(standingSubGrams(s, d),
        Corpus.substrIncrement(s, d))),
    "q_minhash_pairs" -> ((s: SparkSession, d: String) =>
      TextDedup.minhashPairsOf(nearSignatures(s, d), candPairs(s, d))),
    "q_jaccard_pairs" -> ((s: SparkSession, d: String) =>
      TextDedup.jaccardPairsOf(nearSignatures(s, d), candPairs(s, d))),
    // asymmetric containment over the EXCERPT corpus: catches
    // quote/extract duplication (one doc inside another) that symmetric
    // Jaccard dilutes by the length ratio
    "q_containment_pairs" -> ((s: SparkSession, d: String) =>
      TextDedup.containmentPairs(Corpus.withExcerpts(s, d))),
    // cross-source near-dup matrix: how much of each source already sits
    // inside every other (the mixing-decision report)
    "q_source_overlap" -> ((s: SparkSession, d: String) =>
      TextDedup.sourceOverlap(Corpus.withNearDups(s, d),
        TextDedup.jaccardPairsOf(nearSignatures(s, d), candPairs(s, d)))),
    // character-level verification of the same candidates (bounded
    // levenshtein short-circuits the DP at EditMax)
    "q_edit_pairs" -> ((s: SparkSession, d: String) =>
      TextDedup.editPairsOf(nearSignatures(s, d), Corpus.withNearDups(s, d),
        candPairs(s, d))),
    // incremental path: the injected near-copies (doc_id >= 100000) play
    // the NEW batch against the originals' standing band index
    "q_dedup_incremental" -> ((s: SparkSession, d: String) =>
      TextDedup.incrementalDups(nearSignatures(s, d))),
    // pairs -> transitive-closure clusters -> canonical rep (driver
    // union-find up to LocalEdgeMax pairs, large-star/small-star
    // contraction above it; oracle = recursive CTE)
    "q_dedup_clusters" -> ((s: SparkSession, d: String) =>
      TextDedup.dedupClusters(Corpus.withNearDups(s, d),
        TextDedup.jaccardPairsOf(nearSignatures(s, d), candPairs(s, d)))),
    // the same operator and oracle under a second registry name, kept so
    // the registry's entry set and oracle count stay stable
    "q_dedup_clusters_star" -> ((s: SparkSession, d: String) =>
      TextDedup.dedupClusters(Corpus.withNearDups(s, d),
        TextDedup.jaccardPairsOf(nearSignatures(s, d), candPairs(s, d)))),
    "q_simhash" -> ((s: SparkSession, d: String) =>
      TextDedup.simhash(Tables.load(s, d, "documents"))),
    // simhash as an actual dedup join: 4x14-bit band buckets + exact
    // bit_count(xor) hamming verification
    "q_simhash_dups" -> ((s: SparkSession, d: String) =>
      TextDedup.simhashDups(Corpus.withNearDups(s, d))),
    "q_fingerprints" -> ((s: SparkSession, d: String) =>
      TextDedup.fingerprints(Tables.load(s, d, "documents"))),
    // MOSS winnowing: guarantee-bearing fingerprint selection (any match
    // >= W + GramLen - 1 chars shares a fingerprint)
    "q_winnow" -> ((s: SparkSession, d: String) =>
      TextDedup.winnow(Tables.load(s, d, "documents"))),
    // LLM-data-pipeline: deterministic selection (split / mix / sample)
    "q_doc_split" -> ((s: SparkSession, d: String) =>
      Sampling.docSplit(Tables.load(s, d, "documents"))),
    "q_corpus_mix" -> ((s: SparkSession, d: String) =>
      Sampling.corpusMix(Tables.load(s, d, "documents"))),
    "q_mixed_sample" -> ((s: SparkSession, d: String) =>
      Sampling.mixedSample(Tables.load(s, d, "documents"))),
    "q_seq_pack" -> ((s: SparkSession, d: String) =>
      Packing.seqPack(Tables.load(s, d, "documents"))),
    // the same packing chain chopping at REAL trained-BPE boundaries —
    // the tokenizer every production token budget actually runs on
    "q_seq_pack_bpe" -> ((s: SparkSession, d: String) =>
      Packing.seqPack(Tables.load(s, d, "documents"),
        tokenizer = graft.functions.BpeTokenCount(_))),
    // per-source budget allocation under trained-BPE counts
    "q_corpus_mix_bpe" -> ((s: SparkSession, d: String) =>
      Sampling.corpusMix(Tables.load(s, d, "documents"),
        tokenizer = graft.functions.BpeTokenCount(_))),
    // per-doc trained-merges BPE counts (frozen merges shared verbatim
    // with the oracle's recursive-CTE encoder)
    "q_bpe_tokens" -> ((s: SparkSession, d: String) =>
      TextAnalysis.bpeTokens(Tables.load(s, d, "documents"))),
    // token-balanced training shards: global BPE-token rank (two-phase
    // distributed prefix sum — no whole-corpus single-task window) +
    // snake placement; the parallelizable form of greedy LPT sharding
    "q_shard_pack" -> ((s: SparkSession, d: String) =>
      Packing.shardPack(Tables.load(s, d, "documents"),
        tokenizer = graft.functions.BpeTokenCount(_))),
    // per-source BPE sequence-length bands (the pre-packing audit of
    // truncation loss vs fragment overhead)
    "q_token_histogram" -> ((s: SparkSession, d: String) =>
      TextAnalysis.tokenHistogram(Tables.load(s, d, "documents"))),
    // per-language tokens-per-word (the cross-lingual tokenizer-cost
    // audit feeding mixing weights)
    "q_tokenizer_fertility" -> ((s: SparkSession, d: String) =>
      TextAnalysis.tokenizerFertility(Tables.load(s, d, "documents"))),
    // deterministic per-source uniform sample (hash-ranked "reservoir")
    // through the bounded-heap TopK physical operator
    "q_reservoir" -> ((s: SparkSession, d: String) =>
      Sampling.reservoir(Tables.load(s, d, "documents"))),
    // deterministic Efraimidis-Spirakis WEIGHTED sample (token-count
    // weights — selection mass proportional to token-budget cost)
    "q_weighted_sample" -> ((s: SparkSession, d: String) =>
      Sampling.weightedSample(Tables.load(s, d, "documents"))),
    // content-hash snapshot diff: the added/removed/changed delta that
    // drives incremental re-curation (output ∝ churn, never corpus)
    "q_corpus_diff" -> ((s: SparkSession, d: String) =>
      ops.Snapshot.corpusDiff(
        Tables.load(s, d, "documents").select("doc_id", "text", "source"),
        ops.Snapshot.newSnapshot(s, d))),
    // train/eval decontamination: benchmark = doc_id % 97 == 0 stand-in
    "q_decontaminate" -> ((s: SparkSession, d: String) => {
      val docs = Tables.load(s, d, "documents")
      TextDedup.decontaminate(docs,
        docs.filter(col("doc_id") % 97 === 0),
        k = TextDedup.ContamGramSynthetic)
    }),
    // ...and at the PRODUCTION 8-gram default (near-empty match set on the
    // synthetic corpus, but the oracle pins the production-k semantics)
    "q_decontaminate_k8" -> ((s: SparkSession, d: String) => {
      val docs = Tables.load(s, d, "documents")
      TextDedup.decontaminate(docs,
        docs.filter(col("doc_id") % 97 === 0))
    }),
    // the large-benchmark scale path: benchmark grams folded into a Bloom
    // sketch (Spark's BloomFilterAggregate), corpus grams prefiltered by
    // codegen'd might_contain before the exact verify join; output (and
    // oracle) identical to q_decontaminate
    "q_decontaminate_bloom" -> ((s: SparkSession, d: String) => {
      val docs = Tables.load(s, d, "documents")
      TextDedup.decontaminateBloom(docs,
        docs.filter(col("doc_id") % 97 === 0),
        k = TextDedup.ContamGramSynthetic)
    }),
    // self-tuning tier selection: one linear benchmark scan bounds the
    // gram cardinality and picks broadcast-exact vs bloom-prefilter —
    // both tiers are value-identical, so the oracle is shared
    "q_decontaminate_auto" -> ((s: SparkSession, d: String) => {
      val docs = Tables.load(s, d, "documents")
      TextDedup.decontaminateAuto(docs,
        docs.filter(col("doc_id") % 97 === 0),
        k = TextDedup.ContamGramSynthetic)
    }),
    // graded contamination: per-doc overlap FRACTION vs the benchmark
    // gram set (same 3-gram benchmark stand-in as q_decontaminate)
    "q_contam_overlap" -> ((s: SparkSession, d: String) => {
      val docs = Tables.load(s, d, "documents")
      TextDedup.contaminationOverlap(docs,
        docs.filter(col("doc_id") % 97 === 0),
        k = TextDedup.ContamGramSynthetic)
    }),
    // quality-aware canonical selection: per dedup cluster keep the
    // highest-quality member (tiebreak min doc_id) over the memoized
    // cluster labels
    "q_dedup_keep_best" -> ((s: SparkSession, d: String) =>
      TextDedup.keepBest(clusterLabels(s, d),
        TextAnalysis.docQuality(Corpus.withNearDups(s, d)))),
    // LLM-data-pipeline: text analysis
    "q_lang_id" -> ((s: SparkSession, d: String) =>
      TextAnalysis.langId(Tables.load(s, d, "documents"))),
    // PII redaction over the deterministically-seeded corpus
    "q_pii_scrub" -> ((s: SparkSession, d: String) =>
      Pii.scrub(Pii.withPii(Tables.load(s, d, "documents")))),
    "q_token_stats" -> ((s: SparkSession, d: String) =>
      TextAnalysis.tokenStats(Tables.load(s, d, "documents"))),
    "q_doc_quality" -> ((s: SparkSession, d: String) =>
      TextAnalysis.docQuality(Tables.load(s, d, "documents"))),
    // Gopher word-level quality rules: exact-integer thresholds, first
    // failing rule as the reject reason — shuffle-free single scan
    "q_gopher_rules" -> ((s: SparkSession, d: String) =>
      TextAnalysis.gopherRules(Tables.load(s, d, "documents"))),
    // streaming ingest gate, batch form: Gopher verdicts + benchmark
    // shared-gram counts + the combined admit bit in ONE annotated frame
    // (exactly the stateless body StreamGate runs per micro-batch — the
    // oracle check here is the batch side of the gate's parity claim)
    "q_ingest_gate" -> ((s: SparkSession, d: String) => {
      val docs = Tables.load(s, d, "documents").select("doc_id", "text")
      graft.streaming.StreamGate.gate(docs,
        docs.filter(col("doc_id") % 97 === 0),
        k = TextDedup.ContamGramSynthetic).orderBy("doc_id")
    }),
    // per-doc TF-IDF keyterms: rational idf, bounded-heap TopK per doc
    "q_keyterms" -> ((s: SparkSession, d: String) =>
      TextAnalysis.keyterms(Tables.load(s, d, "documents"))),
    // n-gram novelty (memorization-risk axis): gram-hash df table
    // joined back — grams travel as h56 hashes, never text
    "q_ngram_novelty" -> ((s: SparkSession, d: String) =>
      TextAnalysis.ngramNovelty(Tables.load(s, d, "documents"))),
    // URL-canonical dedup + per-domain cap (C4/RefinedWeb intake):
    // regexp canonicalization, min-id winner, bounded-heap domain cap
    "q_url_dedup" -> ((s: SparkSession, d: String) =>
      Url.urlDedup(Url.withUrls(Tables.load(s, d, "documents")))),
    // corpus-statistic scoring: frequency table joined back to tokens
    "q_rare_tokens" -> ((s: SparkSession, d: String) =>
      TextAnalysis.rareTokens(Tables.load(s, d, "documents"))),
    // fastText-style linear quality filter (hashed features x weight
    // table, inference-only) — CCNet/LLaMA-pipeline pattern
    "q_quality_classifier" -> ((s: SparkSession, d: String) =>
      TextAnalysis.qualityClassifier(Tables.load(s, d, "documents"))),
    // DSIR-style importance resampling: hashed-ngram target-affinity
    // weights (target = lang-en docs) + deterministic md5 resampling draw
    "q_dsir" -> ((s: SparkSession, d: String) =>
      Dsir.importance(Tables.load(s, d, "documents"),
        col("lang") === lit("en"))),
    // corpus bigram-LM predictability (exact-arithmetic cousin of KenLM
    // perplexity filtering): avg conditional bigram probability per doc
    "q_lm_score" -> ((s: SparkSession, d: String) =>
      TextAnalysis.lmScore(Tables.load(s, d, "documents"))),
    // CCNet-style per-source perplexity terciles (head/middle/tail) via
    // a distributed two-phase rank — no per-source single-task window
    "q_ccnet_buckets" -> ((s: SparkSession, d: String) =>
      Ccnet.buckets(Tables.load(s, d, "documents"))),
    "q_repetition" -> ((s: SparkSession, d: String) =>
      TextAnalysis.repetition(Tables.load(s, d, "documents"))),
    // BM25 keyword relevance (rational-idf variant — see TextAnalysis.bm25)
    "q_bm25" -> ((s: SparkSession, d: String) =>
      TextAnalysis.bm25(Tables.load(s, d, "documents"))),
    // hybrid retrieval: BM25 top-k + cosine top-k fused by reciprocal-
    // rank fusion (rank-only fusion — no score calibration needed)
    "q_hybrid_rank" -> (HybridRank.hybridRank _),
    "q_vocab" -> ((s: SparkSession, d: String) =>
      TextAnalysis.vocab(Tables.load(s, d, "documents"))),
    // LLM-data-pipeline: similarity search
    "q_knn_brute" -> (EmbedSim.knnBrute _),
    // the trained centroid set (the IVF INDEX) is memoized: built once,
    // amortized over probe passes — the production train-once contract
    "q_knn_ivf" -> ((s: SparkSession, d: String) =>
      EmbedSim.knnIvf(s, d, EmbedSim.IvfSalts,
        Some(ivfCentroids(s, d)))),
    // semantic clustering (SemDeDup-style grouping stage): trained
    // k-means assignment + cluster populations, same memoized index
    "q_kmeans" -> ((s: SparkSession, d: String) =>
      EmbedSim.kmeansAssign(s, d,
        Some(ivfCentroids(s, d)))),
    // within-cluster diversity sampling (keep the k farthest-from-centroid
    // members per cluster) through the custom bounded-heap TopK operator
    "q_cluster_sample" -> ((s: SparkSession, d: String) =>
      EmbedSim.clusterSample(s, d,
        Some(ivfCentroids(s, d)))),
    // product-quantized ANN: trained per-subspace codebooks + the encoded
    // corpus are the memoized PQ INDEX; queries score codes alone via ADC
    "q_knn_pq" -> ((s: SparkSession, d: String) =>
      EmbedPq.knnPq(s, d, Some(pqCodebooks(s, d)), Some(pqCodes(s, d)))),
    // IVF-PQ: coarse probes prune WHICH vectors get scored, PQ codes
    // price WHAT each costs — both memoized indexes compose
    "q_knn_ivfpq" -> ((s: SparkSession, d: String) =>
      EmbedPq.knnIvfPq(s, d, Some(ivfCentroids(s, d)),
        Some(pqCodebooks(s, d)), Some(pqCodes(s, d)))),
    "q_embed_dups" -> ((s: SparkSession, d: String) =>
      EmbedSim.embedDupsOf(embAssigned(s, d))),
    // the embedding leg of the standing-index contract: today's vector
    // batch assigned to the FROZEN standing centroids (never retrained
    // by an increment), near-dup pairs increment-vs-index only — both
    // the trained centroids and the standing inverted-list assignment
    // are durable IndexStore state, so day N+1 re-scores nothing
    "q_embed_dups_incr" -> ((s: SparkSession, d: String) =>
      EmbedSim.embedDupsIncremental(s, d, Some(ivfCentroids(s, d)),
        Some(ivfAssign(s, d)))),
    // embedding-space decontamination: nearest-benchmark cosine per
    // training vector (broadcast benchmark, one corpus scan + skinny
    // argmax) — catches the paraphrased leakage n-gram matching misses
    "q_decontaminate_sem" -> ((s: SparkSession, d: String) =>
      EmbedSim.decontaminateSemantic(s, d)),
    // SemDeDup-style keep/drop verdicts: within-cluster near-dup pairs
    // (same memoized assignment) pruned min-id-wins
    "q_semdedup" -> ((s: SparkSession, d: String) =>
      EmbedSim.semDedup(s, d, Some(embAssigned(s, d)))),
    // the decision form of q_embed_dups_incr: keep/drop verdicts for
    // today's batch (min-id-wins over standing ∪ earlier-in-batch
    // near-dups), standing verdicts never re-opened — the full daily
    // loop of a semantic-dedup service over the same durable indexes
    "q_semdedup_incr" -> ((s: SparkSession, d: String) =>
      EmbedSim.semDedupIncremental(s, d, Some(ivfCentroids(s, d)),
        Some(ivfAssign(s, d)))),
    // the LSH-bucketed near-dup scale path (random hyperplanes; same
    // corpus + threshold as q_embed_dups, different candidate generation)
    "q_embed_dups_lsh" -> (EmbedLsh.embedDupsLsh _),
    // multimodal: REAL ImageIO decode for images (PNG payloads), stubbed
    // audio/video decode; output is deterministic by construction — oracle
    // is the literal expected VALUES
    "q_media_features" -> ((s: SparkSession, _: String) =>
      Media.featureStats(Media.decode(Media.mediaTable(s, 300)))),
    // cross-modal near-dup: native 64-bit dHash over the REAL ImageIO
    // decode, banded hamming buckets, bit_count(xor) verify — the
    // simhashDups contract for the image modality; the oracle re-derives
    // every pixel/grid/bit by arithmetic, independent of any decoder
    "q_image_dups" -> ((s: SparkSession, _: String) =>
      ImageDedup.imageDups(ImageDedup.imageTable(s))),
    // the perceptual sibling of q_dedup_incremental: today's media batch
    // (re-ingested assets + genuinely new images) against the STANDING
    // fingerprint index — merged in O(increment) via IndexStore, hot-band
    // cap decided on the index side, increment-sized shuffles only
    "q_image_dups_incr" -> ((s: SparkSession, d: String) =>
      ImageDedup.imageDupsIncremental(imgHashes(s, d))),
    // cross-modal near-dup, audio modality: native 64-bit energy-delta
    // fingerprint over the REAL javax.sound.sampled PCM decode, same
    // banded-hamming shape (shared Perceptual.bandedDups); the oracle
    // re-derives every frame energy and bit by arithmetic, independent
    // of any decoder
    "q_audio_dups" -> ((s: SparkSession, _: String) =>
      AudioDedup.audioDups(AudioDedup.audioTable(s))),
    // the audio twin of q_image_dups_incr: today's batch against the
    // standing acoustic fingerprint index, IndexStore-merged
    "q_audio_dups_incr" -> ((s: SparkSession, d: String) =>
      AudioDedup.audioDupsIncremental(audHashes(s, d))),
    // cross-modal near-dup, video modality: per-frame dHashes (native
    // walker over the REAL raw-DIB AVI decode, sharing the image tier's
    // grid fold bit-for-bit) -> frame-set containment over a capped
    // inverted index; the oracle re-derives every pixel/frame/bit/set
    // by arithmetic, decoder-free
    "q_video_dups" -> ((s: SparkSession, d: String) =>
      VideoDedup.videoDupsOf(videoSets(s, d))),
    // the video leg of the standing-index contract (completing the
    // incremental symmetry across MinHash bands, substring grams, and
    // image/audio fingerprints): today's clip batch containment-joined
    // against the standing frame-hash inverted index, IndexStore-merged
    // in O(increment), hot-hash cap decided index-side
    "q_video_dups_incr" -> ((s: SparkSession, d: String) =>
      VideoDedup.videoDupsIncremental(vidHashes(s, d)))
  )

  val oracles: Map[String, String] = Map(
    "q_clean_docs" -> Sql.cleanDocs,
    "q_quality_issues" -> Sql.qualityIssues,
    "q_hourly_stats" -> Sql.hourlyStats,
    "q_issue_histogram" -> Sql.issueHistogram,
    "q_business_stats" -> Sql.businessStats,
    "q_top_quality" -> Sql.topQuality,
    "q_recent_reviews" -> Sql.recentReviews,
    "q_dedup_events" -> Sql.dedupEvents,
    "q_dup_events" -> Sql.dupEvents,
    "q1_pricing" -> Sql.q1Pricing,
    "q3_shipping" -> Sql.q3Shipping,
    "q_top_orders" -> Sql.topOrdersPerCustomer,
    "q_region_revenue" -> Sql.regionRevenue,
    "q_event_props" -> Sql.eventPropsAgg,
    "q_sessions" -> Sql.sessions,
    "q_hopping" -> Sql.hopping,
    "q_hourly_anomaly" -> Sql.hourlyAnomaly,
    "q_cohort" -> Sql.cohort,
    "q_promo_attrib" -> Sql.promoAttrib,
    "q_rolling_spend" -> Sql.rollingSpend,
    "q_funnel" -> Sql.funnel,
    "q_pricing_rollup" -> Sql.pricingRollup,
    "q_topk_custom" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey) <= 3
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin,
    "q_click_no_purchase" -> Sql.clickNoPurchase,
    "q_click_and_purchase" -> Sql.clickAndPurchase,
    "q_asof_purchase" -> Sql.clickLastPurchase,
    "q_price_stats" -> Sql.priceStats,
    "q_dedup_exact" -> SqlText.exactDedup,
    "q_chunk_dedup" -> SqlText.chunkDedup,
    "q_substring_dedup" -> SqlText.substringDedup,
    "q_substring_dedup_bpe" -> SqlText.substringDedupBpe,
    "q_substring_dedup_incr" -> SqlText.substringDedupIncr,
    "q_minhash_pairs" -> SqlText.minhashPairs,
    "q_jaccard_pairs" -> SqlText.jaccardPairs,
    "q_image_dups" -> SqlText.imageDups,
    "q_image_dups_incr" -> SqlText.imageDupsIncr,
    "q_audio_dups" -> SqlText.audioDups,
    "q_audio_dups_incr" -> SqlText.audioDupsIncr,
    "q_video_dups" -> SqlText.videoDups,
    "q_video_dups_incr" -> SqlText.videoDupsIncr,
    "q_containment_pairs" -> SqlText.containmentPairs,
    "q_source_overlap" -> SqlText.sourceOverlap,
    "q_edit_pairs" -> SqlText.editPairs,
    "q_dedup_incremental" -> SqlText.incrementalDups,
    "q_dedup_clusters" -> SqlText.dedupClusters,
    // identical output contract => identical oracle
    "q_dedup_clusters_star" -> SqlText.dedupClusters,
    "q_simhash" -> SqlText.simhash,
    "q_simhash_dups" -> SqlText.simhashDups,
    "q_fingerprints" -> SqlText.fingerprints,
    "q_winnow" -> SqlText.winnow,
    "q_doc_split" -> SqlText.docSplit,
    "q_corpus_mix" -> SqlText.corpusMix,
    "q_mixed_sample" -> SqlText.mixedSample,
    "q_seq_pack" -> SqlText.seqPack,
    "q_seq_pack_bpe" -> SqlText.seqPackBpe,
    "q_corpus_mix_bpe" -> SqlText.corpusMixBpe,
    "q_bpe_tokens" -> SqlText.bpeTokens,
    "q_shard_pack" -> SqlText.shardPack,
    "q_token_histogram" -> SqlText.tokenHistogram,
    "q_tokenizer_fertility" -> SqlText.tokenizerFertility,
    "q_reservoir" -> SqlText.reservoir,
    "q_weighted_sample" -> SqlText.weightedSample,
    "q_corpus_diff" -> SqlText.corpusDiff,
    "q_decontaminate" -> SqlText.decontaminate,
    "q_decontaminate_k8" -> SqlText.decontaminateK8,
    // bloom prefilter + exact verify == exact semantics, same oracle
    "q_decontaminate_bloom" -> SqlText.decontaminate,
    // tier-selected exact/bloom, identical output either way, same oracle
    "q_decontaminate_auto" -> SqlText.decontaminate,
    "q_contam_overlap" -> SqlText.contamOverlap,
    "q_dedup_keep_best" -> SqlText.dedupKeepBest,
    "q_lang_id" -> SqlText.langId,
    "q_pii_scrub" -> SqlText.piiScrub,
    "q_token_stats" -> SqlText.tokenStats,
    "q_doc_quality" -> SqlText.docQuality,
    "q_gopher_rules" -> SqlText.gopherRules,
    "q_ingest_gate" -> SqlText.ingestGate,
    "q_url_dedup" -> SqlText.urlDedup,
    "q_ngram_novelty" -> SqlText.ngramNovelty,
    "q_keyterms" -> SqlText.keyterms,
    "q_rare_tokens" -> SqlText.rareTokens,
    "q_quality_classifier" -> SqlText.qualityClassifier,
    "q_dsir" -> SqlText.dsir,
    "q_lm_score" -> SqlText.lmScore,
    "q_ccnet_buckets" -> SqlText.ccnetBuckets,
    "q_repetition" -> SqlText.repetition,
    "q_bm25" -> SqlText.bm25,
    "q_hybrid_rank" -> SqlText.hybridRank,
    "q_vocab" -> SqlText.vocab,
    "q_knn_brute" -> SqlText.knnBrute,
    "q_knn_ivf" -> SqlText.knnIvf,
    "q_knn_pq" -> SqlText.knnPq,
    "q_knn_ivfpq" -> SqlText.knnIvfPq,
    "q_kmeans" -> SqlText.kmeansAssign,
    "q_cluster_sample" -> SqlText.clusterSample,
    "q_embed_dups" -> SqlText.embedDups,
    "q_embed_dups_incr" -> SqlText.embedDupsIncr,
    "q_semdedup_incr" -> SqlText.semDedupIncr,
    "q_decontaminate_sem" -> SqlText.decontaminateSem,
    "q_semdedup" -> SqlText.semDedup,
    "q_embed_dups_lsh" -> SqlText.embedDupsLsh,
    // q_media_features reads no sf table: its input is the deterministic
    // synthetic media set (Media.mediaTable(300)), so the expected
    // aggregate is a constant — pinned as literals. Every PIXEL / SAMPLE
    // / FRAME statistic is independently derived from the generator
    // arithmetic (constant-gray g(i) = (i*37)%256 rasters decoded by REAL
    // ImageIO: avg_mean_byte = mean g(i) = 126.18, total_px =
    // sum w(i)*h(i) = 66752; constant-amplitude a(i) = (i*53)%1000 PCM16
    // WAVs decoded by REAL javax.sound: avg_mean_byte = mean a(i) =
    // 493.5, total_px = total samples = sum n(i) = 32000, total_bytes =
    // 100 WAV headers (44 B) + 2*sum n(i) = 68400; r5: constant-gray raw
    // DIB frames in REAL pure-JDK-parsed RIFF/AVI: per-video mean =
    // sum_f g(i,f)/nF(i) -> avg 126.3353, total_frames = sum nF(i) = 350
    // TRUE decoded frames, total_px = sum wV(i)*hV(i) = 22424,
    // total_bytes = sum container sizes = 259608 — all from the writer's
    // size arithmetic, no codec involved). The one encoder-dependent
    // literal is the image total_bytes (9726): the summed size of the
    // JDK 17 PNG encoder's output, pinned from a real run — decode truth
    // itself is pinned pixel/sample/frame-level in MediaSpec, not here.
    "q_media_features" ->
      """SELECT kind,
        |       n::BIGINT AS n,
        |       total_bytes::BIGINT AS total_bytes,
        |       avg_mean_byte::DOUBLE AS avg_mean_byte,
        |       total_frames::BIGINT AS total_frames,
        |       total_px::BIGINT AS total_px
        |FROM (VALUES
        |  ('audio', 100, 68400, 493.5, 3150, 32000),
        |  ('image', 100, 9726, 126.18, 100, 66752),
        |  ('video', 100, 259608, 126.3353, 350, 22424))
        |  AS t(kind, n, total_bytes, avg_mean_byte, total_frames, total_px)
        |ORDER BY kind""".stripMargin
  )
}
