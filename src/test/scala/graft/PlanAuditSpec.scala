package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Registry-wide plan audit (the 100-TB safety net): pins the shuffle
  * budget and join strategy of every driver query so a plan regression — a
  * lost broadcast, a window that re-partitions, an accidental cartesian —
  * fails here instead of surfacing as a 100x slowdown at scale.
  *
  * Budgets are ceilings measured at sf0.001 (see `graft.PlanAudit` to
  * re-tabulate). A query BELOW its ceiling is fine (AQE may elide an
  * exchange); above means a new data movement was introduced.
  *
  * The ceilings include the conditional Par.fanOut guard's hash exchange
  * (it triggers at audit scale — single-file inputs — and counts once
  * per STATIC instance of the guarded subtree; on clustered layouts the
  * guard plans to nothing and real counts sit below these).
  */
class PlanAuditSpec extends AnyFunSuite with Matchers with TestSpark {

  private val dir = "/root/testdata/sf0.001"

  /** Max shuffle-Exchange count per query (measured + headroom 0). */
  private val shuffleBudget = Map(
    // q1/rollup +1 (r12): fanOut guard for the decimal partial agg
    "q1_pricing" -> 3, "q3_shipping" -> 1, "q_asof_purchase" -> 3,
    "q_business_stats" -> 4, "q_clean_docs" -> 3,
    "q_click_and_purchase" -> 2, "q_click_no_purchase" -> 2,
    "q_chunk_dedup" -> 6,
    // STATIC count (r13 shared-frame memo): the memoized word-stream and
    // positional-gram frames' CACHED plans (fanOut exchange + gram
    // explode) re-print inside the InMemoryTableScan subtree once per
    // consumer (keeper agg, covered join, two base joins) — computed
    // once at runtime, same convention as q_semdedup_incr/q_edit_pairs.
    // Unique runtime exchanges: keeper agg + doc_id reassembly agg +
    // output sort; the covered and final joins broadcast
    "q_substring_dedup" -> 14,
    // + the per-word symbol-reassembly groupBy over the word version
    "q_substring_dedup_bpe" -> 7,
    // increment-sized end to end: fanOut + gram checkpoint + keeper agg
    // + the increment's distinct gram set + doc-keyed reassembly + output
    // sort; the standing index contributes ONE scan behind a broadcast
    // semi-join — no exchange of index rows
    "q_substring_dedup_incr" -> 7,
    // assignment argmax + cluster-cos broadcast join + custom TopK's one
    // key exchange + output sort
    "q_cluster_sample" -> 3,
    "q_corpus_mix" -> 4,
    "q_decontaminate" -> 5, "q_decontaminate_k8" -> 5,
    "q_decontaminate_bloom" -> 5,
    // tier-selected: resolves to one of the two plans above
    "q_decontaminate_auto" -> 5,
    // broadcast-bench cosine scan: one skinny per-vector argmax agg +
    // output sort; the corpus itself never shuffles
    "q_decontaminate_sem" -> 2,
    // STATIC count: the two-phase rank's subtotal branch textually
    // repeats the lmScore chain (7 exchanges incl. the fanOut guard),
    // but at runtime AQE serves it from the canonical range exchange via
    // ReusedExchange (verified: the executed plan's subtotal branch is a
    // ReusedExchange over the big-side range's plan_id) — 9 unique
    // runtime exchanges: lmScore's bigram chain + range + (_pid, source)
    // window + tiny subtotal aggs + output sort
    // r13: the lmScore chain's one-materialization checkpoint truncates
    // the audited plan at the bigram-stream leaf (the knn_pq convention),
    // so the static count is the rank machinery alone: range exchange +
    // (_pid, source) window + tiny subtotal aggs + output sort
    "q_ccnet_buckets" -> 4,
    // bench-gram distinct (inside the broadcast subtree) + per-doc gram
    // dedup groupBy + per-doc fold + output sort
    "q_contam_overlap" -> 5,
    // band-index join (pinned band exchange + candidate distinct) +
    // verify joins + output sort
    "q_dedup_incremental" -> 3,
    // both cluster tiers end in a leaf (the driver union-find's local
    // relation, or the star loop's eager label checkpoint), broadcast
    // onto the corpus: output sort only
    "q_dedup_clusters" -> 1, "q_dedup_clusters_star" -> 1,
    // the memoized label index broadcast into the member join + the
    // per-cluster best agg + output sort
    "q_dedup_keep_best" -> 2,
    "q_dedup_events" -> 2, "q_dedup_exact" -> 2, "q_doc_quality" -> 1,
    "q_doc_split" -> 1, "q_mixed_sample" -> 4,
    "q_dup_events" -> 2,
    // STATIC count (r12): the memoized candidate frame's CACHED plan
    // (band exchange + pair distinct) prints inside the
    // InMemoryTableScan subtree and the text side gained its own fanOut
    // guard; at runtime the candidates are one cache read, the pair
    // fan-out one exchange, the verify joins broadcast
    "q_edit_pairs" -> 7,
    "q_embed_dups" -> 5, "q_embed_dups_lsh" -> 3,
    // pair pipeline + loser distinct + verdict left join (the assignment
    // subtree appears via the shared memo's cached plan)
    "q_semdedup" -> 8,
    // per-term tf is shuffle-free; one single-row stats agg broadcast
    // back + the global top-k (TakeOrdered needs no exchange)
    "q_bm25" -> 3,
    // both sides reduce via TakeOrdered; rank windows + fusion join run
    // on k-row frames (single-partition exchanges) + output sort
    "q_hybrid_rank" -> 6,
    "q_event_props" -> 2, "q_fingerprints" -> 2, "q_hourly_stats" -> 4,
    // user exchange for cohorting (subtree shared with the activity
    // distinct — statically duplicated, ReuseExchange collapses it),
    // cell agg + broadcast sizes + output sort
    "q_cohort" -> 6,
    // the hour-count agg subtree appears on BOTH sides of the self-join
    // (2 statically; ReuseExchange collapses them at runtime) + per-type
    // moment agg + output sort
    "q_hourly_anomaly" -> 4,
    // pure column expressions: output sort only
    "q_gopher_rules" -> 1,
    // streaming-gate batch form: fanOut'd gram agg + contam/gopher
    // doc_id join + output sort; benchmark grams and ids broadcast
    "q_ingest_gate" -> 3,
    // tf groupBy + df agg on the same word key + join back + TopK's
    // one doc_id exchange + output sort (corpus size: broadcast row);
    // r13: the (now lazy) tf checkpoint truncates the audited plan at
    // the tf leaf — tokenize + tf agg live behind it
    "q_keyterms" -> 4,
    // gram-hash df agg + join back on the same key + per-doc agg +
    // corpus left join + output sort
    "q_ngram_novelty" -> 5,
    // canon-winner agg + join back + TopK's single domain exchange +
    // the kept left join + output sort
    "q_url_dedup" -> 6,
    "q_issue_histogram" -> 4,
    // STATIC counts (r12): the memoized candidate frame's cached plan
    // prints its band exchange + pair distinct inside the
    // InMemoryTableScan subtree; at runtime the candidates are one
    // cache read and the verify joins broadcast
    "q_jaccard_pairs" -> 7,
    // inline signature build: one pinned band exchange feeding the
    // bucket agg + verify join backs (broadcast at audit scale) + sort
    "q_containment_pairs" -> 6,
    "q_knn_brute" -> 2,
    "q_kmeans" -> 5, "q_knn_ivf" -> 6, "q_lang_id" -> 2, "q_media_features" -> 2,
    // encode groupBy (via the memoized codes) + ADC partial-agg groupBy
    // + per-query rank window + output sort; codebook training is
    // lineage-truncated behind the localCheckpoint leaf
    "q_knn_pq" -> 9, // +3: packedCodes groupBy, denseLut grid distinct+agg (512-row frames)
    // + the coarse assignment argmax, probe window, and candidate join
    // on top of the PQ tail
    "q_knn_ivfpq" -> 12, // +3: packedCodes groupBy, denseLut grid distinct+agg (512-row frames)
    // jaccard-pairs chain (incl. its sort, and since r12 the memoized
    // candidate frame's cached plan inside the InMemoryTableScan
    // subtree) + two doc_id source joins + the distinct-x two-phase agg
    // + tiny totals + output sort
    "q_source_overlap" -> 12,
    "q_minhash_pairs" -> 7, // see q_jaccard_pairs (r12 memoized candidates)
    // fanOut (one per static instance: keyStats and the histogram) +
    // the (flag, kind, value) histogram agg + the native percentile agg
    // over histogram rows + the (flag, kind) -> flag pivot agg +
    // keyStats' count_distinct Expand (two aggs) + output sort; the
    // pivoted picks broadcast into the left join
    "q_price_stats" -> 8, "q_pricing_rollup" -> 3, // +1 r12 fanOut
    "q_pii_scrub" -> 2, "q_quality_classifier" -> 1,
    // gram explode -> bucket-table agg (broadcast subtree) + per-doc agg
    // + corpus left join + output sort (the r13 stream checkpoint was
    // reverted on the sf1 A/B — see Dsir)
    "q_dsir" -> 4,
    // fanOut guard + bigram explode -> bigram count agg (prefix table
    // derives FROM it; Ccnet's opt-in checkpoint does not apply to the
    // plain query) + SALTED re-joins (the count tables broadcast at
    // audit scale) + doc collapse + corpus left join + output sort
    "q_lm_score" -> 8,
    // r5: the frequency join back is salted on (tok, salt) — the salt
    // exchange no longer reuses the groupBy(tok) exchange (+1)
    "q_quality_issues" -> 3, "q_rare_tokens" -> 6,
    "q_recent_reviews" -> 2,
    // session_window: one user_id exchange for session assembly + the
    // output sort; the agg itself is within-partition
    "q_sessions" -> 2,
    // native window() generator is map-side; distinct-user Expand agg
    // (2 exchanges) + output sort
    "q_hopping" -> 3,
    // distinct-hour agg (broadcast subtree) + final agg + output sort;
    // the range join itself is a broadcast HASH join on the bucket band
    "q_promo_attrib" -> 3,
    // one user_id window exchange + output sort; purchase filter pushed
    "q_rolling_spend" -> 2,
    // union-and-window forward scan: one user_id exchange + per-user agg
    // + output sort
    "q_funnel" -> 3,
    // TopK partial heaps + one source exchange + output sort
    "q_reservoir" -> 2,
    // same TopK shape under Efraimidis-Spirakis keys
    "q_weighted_sample" -> 2,
    // hash-reduced sides into one full-outer doc_id join + output sort;
    // text never shuffles (hashes computed pre-exchange)
    "q_corpus_diff" -> 3,
    "q_region_revenue" -> 2, "q_repetition" -> 2,     // q_seq_pack: two-phase prefix sum — 2 big-side exchanges (range slice
    // + (_pid,source) window), tiny subtotal agg/window exchanges, final
    // output sort; AQE reuses the canonical range stage at runtime
    // global-rank consumer: the checkpointed ranged frame truncates the
    // token-scan lineage; local window + subtotal agg/window + output sort
    "q_shard_pack" -> 5,
    "q_seq_pack" -> 6,
    // identical chains under the trained-BPE tokenizer (a codegen'd
    // scalar — tokenizer choice must never change the data movement)
    "q_seq_pack_bpe" -> 6, "q_corpus_mix_bpe" -> 4,
    // shuffle-free codegen'd corpus scan + output sort
    "q_bpe_tokens" -> 2,
    // one scan -> (source, bucket) partial agg + tiny totals agg +
    // output sort
    "q_token_histogram" -> 4,
    // one scan -> per-lang partial agg + output sort
    "q_tokenizer_fertility" -> 3,
    "q_simhash" -> 2, "q_simhash_dups" -> 3,
    // same banded-buckets shape as q_simhash_dups (band repartition +
    // pair distinct + output sort; verify joins broadcast at audit scale)
    "q_image_dups" -> 3,
    // incremental perceptual: increment band-key distinct (broadcast
    // semi side) + index-side cap agg over touched bands + candidate
    // distinct + output sort (verify joins broadcast at audit scale) —
    // every exchange increment-bounded, the index itself one scan
    "q_image_dups_incr" -> 5,
    // identical shape, audio modality (shared Perceptual.bandedDups)
    "q_audio_dups" -> 3,
    // incremental acoustic tier — same shape as q_image_dups_incr
    "q_audio_dups_incr" -> 5,
    // video: inverted-index bucket exchange + pair-count agg + output
    // sort (size joins broadcast at audit scale)
    "q_video_dups" -> 4,
    // incremental video tier: increment-hash distinct (broadcast semi
    // side) + index-side cap agg + pair-count agg (set sizes ride it as
    // first(n)) + output sort — every exchange increment-bounded
    "q_video_dups_incr" -> 5,
    // incremental embedding tier: increment argmax assignment + output
    // sort; the standing index (durable parquet) broadcast-joins with
    // zero index shuffle
    "q_embed_dups_incr" -> 2,
    // verdict form: the PERSISTED increment assignment feeds four
    // subtrees and the plan string re-prints its cached child per
    // consumer (computed once at runtime) — the budget counts the
    // textual occurrences, like q_semdedup's
    "q_semdedup_incr" -> 9,
    // per-row winnowing projection: output sort only
    "q_winnow" -> 2,
    "q_token_stats" -> 2,
    "q_top_orders" -> 2, "q_top_quality" -> 2, "q_topk_custom" -> 2,
    "q_vocab" -> 4)

  /** Queries allowed a BroadcastNestedLoopJoin: the deliberate bounded
    * products only (brute-force KNN baseline; C-centroid IVF assignment).
    */
  private val bnljAllowed = Set("q_knn_brute", "q_knn_ivf", "q_knn_ivfpq",
    // flat PQ scores every (query, vector) pair BY CONTRACT (IVF-PQ is
    // the pruned tier); the packed-ADC pairing is a broadcast nested
    // loop exactly like q_knn_brute's
    "q_knn_pq",
    "q_embed_dups",
    // increment-vs-frozen-centroid assignment is the same bounded
    // |batch| x C product as q_kmeans
    "q_embed_dups_incr", "q_semdedup_incr",
    "q_kmeans", "q_semdedup", "q_cluster_sample",
    // single-row broadcast cross join (n_sources / n_docs onto a tiny
    // aggregate frame) — bounded by construction
    "q_corpus_mix", "q_corpus_mix_bpe", "q_mixed_sample", "q_vocab",
    "q_bm25", "q_keyterms",
    // single-row query-vector broadcast + the k-row x k-row fusion join
    "q_hybrid_rank",
    // corpus x broadcast-benchmark scoring scan — the bench side is
    // small and fixed by contract (the eval suite), like q_knn_brute
    "q_decontaminate_sem")

  /** Queries whose parquet scan must carry pushed-down filters.
    * (q_minhash_pairs/q_jaccard_pairs left r5: they now scan the durable
    * band INDEX — already exactly the rows needed, nothing to push.)
    */
  private val mustPush = Set("q1_pricing", "q3_shipping", "q_asof_purchase",
    "q_region_revenue", "q_click_and_purchase", "q_click_no_purchase",
    "q_knn_brute", "q_knn_ivf", "q_embed_dups", "q_embed_dups_lsh",
    "q_semdedup", "q_dedup_exact")

  /** Broadcast-join floor: star joins must broadcast their dims. */
  private val mustBroadcast = Set("q3_shipping", "q_region_revenue",
    "q_click_and_purchase", "q_click_no_purchase")

  test("every registry query stays within its shuffle budget, " +
      "with no cartesian products and only sanctioned BNL joins") {
    val audits = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> PlanAudit.audit(fn(spark, dir))
    }
    audits.foreach { case (name, a) =>
      withClue(s"$name: ") {
        shuffleBudget.get(name).foreach(b =>
          a.shuffles should be <= b)
        a.cartesian shouldBe 0
        if (!bnljAllowed(name)) a.bnlj shouldBe 0
        if (mustPush(name)) a.pushed shouldBe true
        if (mustBroadcast(name)) a.bcast should be >= 1
      }
    }
    // every registry query is budgeted — a new query must add its row
    audits.map(_._1).toSet shouldBe shuffleBudget.keySet
  }

  test("streaming standing-index consult plan: the pruned store read " +
      "carries a pk partition filter, the index side is restricted by a " +
      "broadcast left-semi on the batch's band keys, and no nested-loop " +
      "or cartesian join appears") {
    import org.apache.spark.sql.functions._
    import graft.ops.{ImageDedup, Perceptual}
    import graft.streaming.{FoldStore, IndexLeg}
    val hashes = ImageDedup.hashRows(ImageDedup.imageTable(spark, 12))
    val stored = Perceptual.bandRows(hashes, "media_id",
        ImageDedup.ImgBands, ImageDedup.ImgBandBits)
      .withColumn("pk", FoldStore.pk(IndexLeg.PrefixParts,
        col("i"), col("bv")))
    val store = FoldStore.open(spark,
      java.nio.file.Files.createTempDirectory("audit-ix").toString, stored)
    val freshBands = Perceptual.bandRows(
      ImageDedup.hashRows(ImageDedup.incrementTable(spark, 12)),
      "media_id", ImageDedup.ImgBands, ImageDedup.ImgBandBits)
    val pks = stored.select("pk").distinct().collect()
      .map(_.getInt(0)).take(7).toSeq // a strict subset: pruning visible
    val consult = Perceptual.bandedDupsFromBands(
      store.readFor(pks).select(col("media_id"), col("i"), col("bv"),
        col("h")),
      freshBands, "media_id", ImageDedup.ImgHamMax, "indexed_id", "new_id")
    consult.collect()
    val plan = consult.queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    plan.split("PartitionFilters")(1).take(200) should include("pk")
    (plan should include).regex("BroadcastHashJoin.*LeftSemi")
    plan.contains("CartesianProduct") shouldBe false
    plan.contains("BroadcastNestedLoopJoin") shouldBe false
  }
}
