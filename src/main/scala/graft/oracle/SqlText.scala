package graft.oracle

import graft.ops.{TextAnalysis, TextDedup, EmbedLsh, EmbedPq, EmbedSim}

/** DuckDB oracle SQL for the LLM-data-pipeline operators (dedup family,
  * similarity search, text analysis). Mirrors graft.ops.{TextDedup,
  * TextAnalysis, EmbedSim} expression-for-expression; shares their constants
  * so thresholds cannot drift.
  *
  * Portability invariants (same as graft.oracle.Sql): fractional literals
  * CAST AS DOUBLE; int/int division is double in both engines; the only
  * hash is the md5-prefix h56 (`('0x'||substr(md5(x),1,14))::BIGINT`),
  * bit-identical to Spark's `conv(substring(md5(x),1,14),16,10)`.
  */
object SqlText {
  import Sql.{d, s}

  /** h56 in DuckDB. */
  def h56(e: String): String = s"('0x' || substr(md5($e), 1, 14))::BIGINT"

  /** Literal power table [B^(k-1), ..., B^0] mod P for the rolling
    * window hash (shared constants with
    * [[graft.functions.WindowHashUtil]] — the oracle states the closed
    * form of the recurrence the native expression runs).
    */
  def powListSql(k: Int): String =
    graft.functions.WindowHashUtil.powTable(k).mkString("[", ", ", "]")

  /** Python-split words of lowered text. */
  def wordsOf(e: String): String =
    s"list_filter(regexp_split_to_array(lower($e), '\\s+'), w -> w != '')"

  val exactCorpusCte: String =
    """corpus AS (
      |  SELECT doc_id, text, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, text, source FROM documents
      |  WHERE doc_id % 11 = 0
      |)""".stripMargin

  val nearCorpusCte: String =
    """corpus AS (
      |  SELECT doc_id, text, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000,
      |    regexp_replace(text, '\s+\S+\s*$', '', 'g'), source
      |  FROM documents WHERE doc_id % 13 = 0
      |)""".stripMargin

  /** Oracle for q_dedup_exact. */
  val exactDedup: String =
    s"""WITH $exactCorpusCte,
       |h AS (SELECT doc_id,
       |  md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS _h
       |  FROM corpus)
       |SELECT doc_id,
       |  min(doc_id) OVER (PARTITION BY _h) AS canonical_id,
       |  CAST(count(*) OVER (PARTITION BY _h) AS BIGINT) AS group_size,
       |  doc_id != min(doc_id) OVER (PARTITION BY _h) AS is_dup
       |FROM h ORDER BY doc_id""".stripMargin

  /** documents + excerpt copies (mirrors Corpus.withExcerpts: first
    * max(ShingleK+1, floor(3·len/5)) words of every doc_id % 9 == 0
    * document re-appear under doc_id + 200000).
    */
  val excerptCorpusCte: String =
    s"""corpus AS (
       |  SELECT doc_id, text, source FROM documents
       |  UNION ALL
       |  SELECT doc_id + 200000,
       |    array_to_string(list_slice(w, 1,
       |      greatest(${TextDedup.ShingleK + 1},
       |        CAST(floor(len(w) * 3 / 5) AS INTEGER))), ' '),
       |    source
       |  FROM (SELECT doc_id, ${wordsOf("text")} AS w, source
       |        FROM documents)
       |  WHERE doc_id % 9 = 0
       |)""".stripMargin

  /** Shared MinHash signature CTEs over the near-dup corpus: words ->
    * distinct 3-shingles -> 16 minhashes -> 8 band keys -> candidate pairs.
    */
  val signatureCtes: String = signatureCtesOver(nearCorpusCte)

  /** The same CTE chain over any corpus CTE (the chain only needs a
    * `corpus(doc_id, text, source)` relation).
    */
  def signatureCtesOver(corpusCte: String): String = {
    val k = TextDedup.ShingleK
    s"""$corpusCte,
       |docs AS (SELECT doc_id, ${wordsOf("text")} AS words FROM corpus),
       |sh AS (SELECT doc_id,
       |  list_distinct(list_transform(range(len(words) - ${k - 1}),
       |    i -> list_aggregate(list_slice(words, i + 1, i + $k),
       |           'string_agg', ' '))) AS shingles
       |  FROM docs WHERE len(words) >= $k),
       |un AS (SELECT doc_id, unnest(shingles) AS sgl FROM sh),
       |base AS (SELECT doc_id, ${h56("sgl")} % ${graft.ops.TextHash.P31}
       |  AS h31 FROM un),
       |mhl AS (SELECT doc_id, i,
       |  min((ca[i + 1] * h31 + cb[i + 1]) % ${graft.ops.TextHash.P31}) AS v
       |  FROM base CROSS JOIN
       |    (SELECT unnest(range(${TextDedup.MinhashK})) AS i,
       |       ${(0 until TextDedup.MinhashK)
                   .map(graft.ops.TextHash.affineA).mkString("[", ", ", "]")} AS ca,
       |       ${(0 until TextDedup.MinhashK)
                   .map(graft.ops.TextHash.affineB).mkString("[", ", ", "]")} AS cb)
       |  GROUP BY 1, 2),
       |mh AS (SELECT doc_id, list(v ORDER BY i) AS mh FROM mhl GROUP BY 1),
       |bands AS (SELECT doc_id,
       |  CAST(b AS VARCHAR) || ':' ||
       |    CAST(mh[${TextDedup.BandRows} * b + 1] AS VARCHAR) || ':' ||
       |    CAST(mh[${TextDedup.BandRows} * b + 2] AS VARCHAR) AS band
       |  FROM mh CROSS JOIN (SELECT unnest(range(${TextDedup.Bands})) AS b)),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
       |  FROM bands a JOIN bands b2
       |    ON a.band = b2.band AND a.doc_id < b2.doc_id
       |  WHERE a.band IN (SELECT band FROM bands
       |    GROUP BY band HAVING count(*) <= ${TextDedup.MaxBucket}))""".stripMargin
  }

  /** Oracle for q_minhash_pairs. */
  val minhashPairs: String =
    s"""WITH $signatureCtes
       |SELECT p.doc_a, p.doc_b,
       |  len(list_filter(range(${TextDedup.MinhashK}),
       |    i -> ma.mh[i + 1] = mb.mh[i + 1])) / ${TextDedup.MinhashK}
       |    AS est_jaccard
       |FROM pairs p
       |JOIN mh ma ON p.doc_a = ma.doc_id
       |JOIN mh mb ON p.doc_b = mb.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Oracle for q_jaccard_pairs (true shingle Jaccard >= 0.5 on LSH
    * candidates).
    */
  val jaccardPairs: String =
    s"""WITH $signatureCtes
       |SELECT * FROM (
       |  SELECT p.doc_a, p.doc_b,
       |    len(list_intersect(sa.shingles, sb.shingles)) /
       |      len(list_distinct(list_concat(sa.shingles, sb.shingles)))
       |      AS jaccard
       |  FROM pairs p
       |  JOIN sh sa ON p.doc_a = sa.doc_id
       |  JOIN sh sb ON p.doc_b = sb.doc_id)
       |WHERE jaccard >= ${d(0.5)}
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Oracle for q_containment_pairs (asymmetric shingle containment on
    * LSH candidates over the excerpt corpus, either direction >=
    * ContainMin).
    */
  val containmentPairs: String =
    s"""WITH ${signatureCtesOver(excerptCorpusCte)}
       |SELECT * FROM (
       |  SELECT p.doc_a, p.doc_b,
       |    len(list_intersect(sa.shingles, sb.shingles)) /
       |      len(sa.shingles) AS contain_a,
       |    len(list_intersect(sa.shingles, sb.shingles)) /
       |      len(sb.shingles) AS contain_b
       |  FROM pairs p
       |  JOIN sh sa ON p.doc_a = sa.doc_id
       |  JOIN sh sb ON p.doc_b = sb.doc_id)
       |WHERE greatest(contain_a, contain_b) >= ${d(TextDedup.ContainMin)}
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Oracle for q_source_overlap (directional cross-source near-dup
    * matrix over the verified jaccard pairs; mirrors
    * TextDedup.sourceOverlap).
    */
  val sourceOverlap: String =
    s"""WITH $signatureCtes,
       |jp AS (SELECT doc_a, doc_b FROM (
       |  SELECT p.doc_a, p.doc_b,
       |    len(list_intersect(sa.shingles, sb.shingles)) /
       |      len(list_distinct(list_concat(sa.shingles, sb.shingles)))
       |      AS jaccard
       |  FROM pairs p
       |  JOIN sh sa ON p.doc_a = sa.doc_id
       |  JOIN sh sb ON p.doc_b = sb.doc_id)
       |  WHERE jaccard >= ${d(0.5)}),
       |sym AS (SELECT doc_a AS x, doc_b AS y FROM jp
       |  UNION ALL SELECT doc_b AS x, doc_a AS y FROM jp),
       |ann AS (SELECT cx.source AS src_a, cy.source AS src_b, sym.x
       |  FROM sym JOIN corpus cx ON sym.x = cx.doc_id
       |           JOIN corpus cy ON sym.y = cy.doc_id),
       |agg AS (SELECT src_a, src_b, count(*) AS n_pairs,
       |    count(DISTINCT x) AS n_docs_dup FROM ann GROUP BY 1, 2),
       |tot AS (SELECT source AS src_a, count(*) AS n_docs_a
       |  FROM corpus GROUP BY 1)
       |SELECT src_a, src_b, CAST(n_pairs AS BIGINT) AS n_pairs,
       |  CAST(n_docs_dup AS BIGINT) AS n_docs_dup,
       |  CAST(n_docs_a AS BIGINT) AS n_docs_a,
       |  n_docs_dup / n_docs_a AS dup_frac
       |FROM agg JOIN tot USING (src_a)
       |ORDER BY src_a, src_b""".stripMargin

  /** Oracle for q_dedup_incremental: the new batch (doc_id >= NewIdBase)
    * joined against the standing index's band table, hot-band cap decided
    * on the index side alone, true-Jaccard verified (mirrors
    * TextDedup.incrementalDups; the signatureCtes' `pairs` CTE is unused
    * here and never evaluated).
    */
  val incrementalDups: String =
    s"""WITH $signatureCtes,
       |ixb AS (SELECT doc_id, band FROM bands
       |  WHERE doc_id < ${TextDedup.NewIdBase}),
       |nb AS (SELECT doc_id, band FROM bands
       |  WHERE doc_id >= ${TextDedup.NewIdBase}),
       |ok AS (SELECT band FROM ixb GROUP BY band
       |  HAVING count(*) <= ${TextDedup.MaxBucket}),
       |cand AS (SELECT DISTINCT ix.doc_id AS indexed_id, f.doc_id AS new_id
       |  FROM nb f JOIN ixb ix ON f.band = ix.band
       |  JOIN ok ON ok.band = f.band)
       |SELECT * FROM (
       |  SELECT indexed_id, new_id,
       |    len(list_intersect(sa.shingles, sb.shingles)) /
       |      len(list_distinct(list_concat(sa.shingles, sb.shingles)))
       |      AS jaccard
       |  FROM cand
       |  JOIN sh sa ON indexed_id = sa.doc_id
       |  JOIN sh sb ON new_id = sb.doc_id)
       |WHERE jaccard >= ${d(0.5)}
       |ORDER BY indexed_id, new_id""".stripMargin

  /** Oracle for q_dedup_clusters: connected components over the
    * jaccard-verified near-dup pairs, labeled by minimum doc_id. The
    * recursive CTE enumerates every (node, reachable-node) pair — the
    * transitive closure min-label propagation converges to — and
    * `min(r) GROUP BY id` picks the canonical representative; UNION (not
    * ALL) dedups rows, which is what terminates the recursion.
    */
  /** Shared cluster CTE chain (verified pairs -> symmetric edges ->
    * transitive closure -> min-label rep) over the near-dup corpus; final
    * CTE `rep` is (doc_id, cluster_rep). Used by [[dedupClusters]] and
    * [[dedupKeepBest]].
    */
  private val clusterCtes: String =
    s"""jp AS (SELECT doc_a, doc_b FROM (
       |  SELECT p.doc_a, p.doc_b,
       |    len(list_intersect(sa.shingles, sb.shingles)) /
       |      len(list_distinct(list_concat(sa.shingles, sb.shingles)))
       |      AS jaccard
       |  FROM pairs p
       |  JOIN sh sa ON p.doc_a = sa.doc_id
       |  JOIN sh sb ON p.doc_b = sb.doc_id)
       |  WHERE jaccard >= ${d(0.5)}),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
       |  UNION ALL SELECT doc_b, doc_a FROM jp),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM corpus
       |  UNION
       |  SELECT e.src, rc.r FROM edges e JOIN reach rc ON e.dst = rc.id),
       |rep AS (SELECT id AS doc_id, min(r) AS cluster_rep
       |  FROM reach GROUP BY id)""".stripMargin

  val dedupClusters: String =
    s"""WITH RECURSIVE $signatureCtes,
       |$clusterCtes
       |SELECT doc_id, cluster_rep,
       |  CAST(count(*) OVER (PARTITION BY cluster_rep) AS BIGINT)
       |    AS cluster_size,
       |  doc_id = cluster_rep AS is_canonical
       |FROM rep ORDER BY doc_id""".stripMargin

  /** Oracle for q_dedup_keep_best (quality-aware canonical selection:
    * per cluster the highest-quality member wins, tiebreak smallest
    * doc_id). Quality is the docQuality formula computed over the
    * near-dup CORPUS (injected dups included) — the argmax is expressed
    * as row_number over (quality DESC, doc_id), which equals Spark's
    * max(struct(quality, -doc_id)) combiner exactly.
    */
  val dedupKeepBest: String = {
    val wc = s"len(${wordsOf("text")})"
    s"""WITH RECURSIVE $signatureCtes,
       |$clusterCtes,
       |qt AS (SELECT doc_id, $wc AS wc,
       |  len(regexp_extract_all(lower(text),
       |    ${s(graft.rules.Rules.EnStopwords)})) AS stops,
       |  (length(text) - length(regexp_replace(text,
       |    '[^.,!?;:''"()\\-]', '', 'g'))) AS punct,
       |  greatest(length(text), 1) AS lensafe
       |  FROM corpus),
       |q AS (SELECT doc_id,
       |  CAST(round(CAST(${d(0.4)} * least(${d(1.0)}, wc / ${d(100.0)})
       |    + ${d(0.4)} * least(${d(1.0)},
       |        (stops / greatest(wc, 1)) * 5)
       |    + ${d(0.2)} * (${d(1.0)} - least(${d(1.0)},
       |        (punct / lensafe) * 5)) AS DECIMAL(38, 12)), 3) AS DOUBLE)
       |    AS quality
       |  FROM qt)
       |SELECT cluster_rep, best_doc, best_quality, cluster_size FROM (
       |  SELECT cluster_rep, rep.doc_id AS best_doc,
       |    q.quality AS best_quality,
       |    CAST(count(*) OVER (PARTITION BY cluster_rep) AS BIGINT)
       |      AS cluster_size,
       |    row_number() OVER (PARTITION BY cluster_rep
       |      ORDER BY q.quality DESC, rep.doc_id) AS rn
       |  FROM rep JOIN q ON rep.doc_id = q.doc_id)
       |WHERE rn = 1 ORDER BY cluster_rep""".stripMargin
  }

  /** h32 sampling hash (graft.ops.Sampling.h32) in DuckDB. */
  def h32(salt: String, id: String): String =
    s"('0x' || substr(md5(${s(salt)} || CAST($id AS VARCHAR)), 1, 8))::BIGINT"

  /** Oracle for q_doc_split (deterministic 90/5/5 md5-mod split). */
  val docSplit: String = {
    val tr = graft.ops.Sampling.TrainPct
    val va = tr + graft.ops.Sampling.ValPct
    s"""WITH t AS (SELECT doc_id,
       |  CAST(${h32(graft.ops.Sampling.SplitSalt, "doc_id")} % 100 AS INT)
       |    AS bucket
       |  FROM documents)
       |SELECT doc_id, bucket,
       |  CASE WHEN bucket < $tr THEN 'train'
       |       WHEN bucket < $va THEN 'val'
       |       ELSE 'test' END AS split
       |FROM t ORDER BY doc_id""".stripMargin
  }

  /** Shared CTEs of the corpus-mix pair: per-source token totals and the
    * IEEE-double allocation fraction (unrounded — the SAMPLE filter
    * compares raw doubles; display rounding happens only in q_corpus_mix).
    */
  private def mixCtesFrom(tCte: String): String = {
    val budget = d(graft.ops.Sampling.MixBudgetTokens)
    s"""$tCte,
       |agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(ws) AS BIGINT) AS total_tokens FROM t GROUP BY 1),
       |k AS (SELECT count(*) AS _n FROM agg),
       |f AS (SELECT source, n_docs, total_tokens,
       |  $budget / _n AS target_tokens,
       |  least(${d(1.0)}, ($budget / _n) / total_tokens) AS sample_frac
       |  FROM agg, k)""".stripMargin
  }

  private val mixCtes: String = mixCtesFrom(
    s"""t AS (SELECT doc_id, source, len(${wordsOf("text")}) AS ws
       |  FROM documents)""".stripMargin)

  private val mixSelect: String =
    """SELECT source, n_docs, total_tokens,
      |  CAST(round(CAST(target_tokens AS DECIMAL(38, 12)), 2) AS DOUBLE)
      |    AS target_tokens,
      |  CAST(round(CAST(sample_frac AS DECIMAL(38, 12)), 6) AS DOUBLE)
      |    AS sample_frac
      |FROM f ORDER BY source""".stripMargin

  /** Oracle for q_corpus_mix (per-source budget allocation). */
  val corpusMix: String = s"WITH $mixCtes\n$mixSelect"

  /** Oracle for q_corpus_mix_bpe: the same allocation under REAL
    * trained-BPE token counts.
    */
  lazy val corpusMixBpe: String =
    s"WITH RECURSIVE $bpeCtes,\n" +
      mixCtesFrom(
        "t AS (SELECT doc_id, source, n_bpe_tokens AS ws FROM bpe)") +
      s"\n$mixSelect"

  /** Oracle for q_mixed_sample (budgeted deterministic per-source sample;
    * the filter compares the SAME IEEE doubles Spark computes, so the kept
    * set is bit-identical).
    */
  val mixedSample: String =
    s"""WITH $mixCtes
       |SELECT d.doc_id, d.source
       |FROM documents d JOIN f USING (source)
       |WHERE (${h32(graft.ops.Sampling.MixSalt, "d.doc_id")} % 10000)
       |    / ${d(10000.0)} < sample_frac
       |ORDER BY doc_id""".stripMargin

  /** Oracle for q_vocab (global top-100 words with doc freq and idf). */
  val vocab: String =
    s"""WITH t AS (SELECT doc_id, unnest(${wordsOf("text")}) AS word
       |  FROM documents),
       |n AS (SELECT count(*) AS _n FROM documents),
       |a AS (SELECT word, CAST(count(*) AS BIGINT) AS total_count,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
       |  FROM t GROUP BY 1)
       |SELECT word, total_count, doc_freq,
       |  CAST(round(CAST(ln(_n / doc_freq) AS DECIMAL(38, 12)), 6)
       |    AS DOUBLE) AS idf
       |FROM a, n ORDER BY total_count DESC, word LIMIT 100""".stripMargin

  /** Oracle for q_repetition (Gopher-style intra-doc repetition signals).
    * The oracle computes max-bigram-count by unnest + GROUP BY — the
    * technique differs from Spark's per-row fold, the values must not.
    */
  val repetition: String =
    s"""WITH d AS (SELECT doc_id, ${wordsOf("text")} AS words
       |  FROM documents),
       |b AS (SELECT doc_id, len(words) AS wc,
       |  CASE WHEN len(words) > 0 THEN ${d(1.0)} -
       |    CAST(len(list_distinct(words)) AS DOUBLE) / len(words)
       |    ELSE ${d(0.0)} END AS dwf
       |  FROM d),
       |g AS (SELECT doc_id, unnest(list_transform(range(len(words) - 1),
       |    i -> list_aggregate(list_slice(words, i + 1, i + 2),
       |           'string_agg', ' '))) AS gram
       |  FROM d WHERE len(words) >= 2),
       |m AS (SELECT doc_id, max(cnt) AS maxc FROM
       |  (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2)
       |  GROUP BY 1)
       |SELECT b.doc_id, CAST(wc AS INT) AS word_count,
       |  CAST(round(CAST(dwf AS DECIMAL(38, 12)), 6) AS DOUBLE)
       |    AS dup_word_frac,
       |  CAST(round(CAST(CASE WHEN wc >= 2
       |      THEN CAST(maxc AS DOUBLE) / (wc - 1) ELSE ${d(0.0)} END
       |    AS DECIMAL(38, 12)), 6) AS DOUBLE) AS top_bigram_frac
       |FROM b LEFT JOIN m USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Oracle for q_decontaminate / q_decontaminate_k8 (corpus docs sharing
    * >= 1 word k-gram with the benchmark subset doc_id % 97 == 0,
    * benchmark excluded).
    */
  def decontaminateK(k: Int): String =
    s"""WITH docs AS (SELECT doc_id, ${wordsOf("text")} AS words
       |  FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(len(words) - ${k - 1}),
       |      i -> list_aggregate(list_slice(words, i + 1, i + $k),
       |             'string_agg', ' ')))) AS gram
       |  FROM docs WHERE len(words) >= $k),
       |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
       |SELECT g.doc_id,
       |  CAST(count(DISTINCT g.gram) AS BIGINT) AS n_shared_grams
       |FROM g JOIN bench USING (gram)
       |WHERE g.doc_id % 97 != 0
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Oracle for q_chunk_dedup (C4-style K-token chunk dedup: corpus-global
    * first occurrence wins, survivors reassembled in document order).
    * Mirrors TextDedup.chunkDedup: same tokenizer, same
    * doc_id*base+chunk_pos keeper encoding, zero-word docs pass through
    * with clean_text = '' and n_chunks = 0.
    */
  val chunkDedup: String = {
    val k = TextDedup.ChunkTokens
    val base = TextDedup.ChunkPosBase
    s"""WITH docs AS (SELECT doc_id, ${wordsOf("text")} AS words
       |  FROM documents),
       |base AS (SELECT doc_id, words,
       |  CASE WHEN len(words) = 0 THEN 0
       |       ELSE (len(words) - 1) // $k + 1 END AS n_chunks
       |  FROM docs),
       |pos AS (SELECT doc_id, words,
       |  unnest(range(n_chunks)) AS cp
       |  FROM base WHERE n_chunks > 0),
       |chunks AS (SELECT doc_id, CAST(cp AS INTEGER) AS chunk_pos,
       |  list_aggregate(list_slice(words, cp * $k + 1, cp * $k + $k),
       |    'string_agg', ' ') AS chunk,
       |  doc_id * $base + cp AS _ord
       |  FROM pos),
       |keeper AS (SELECT chunk, min(_ord) AS _keeper
       |  FROM chunks GROUP BY 1),
       |kept AS (SELECT c.doc_id, c.chunk_pos, c.chunk
       |  FROM chunks c JOIN keeper USING (chunk)
       |  WHERE c._ord = _keeper),
       |rebuilt AS (SELECT doc_id,
       |  string_agg(chunk, ' ' ORDER BY chunk_pos) AS _clean,
       |  CAST(count(*) AS BIGINT) AS _kept
       |  FROM kept GROUP BY 1)
       |SELECT b.doc_id,
       |  coalesce(r._clean, '') AS clean_text,
       |  CAST(b.n_chunks AS BIGINT) AS n_chunks,
       |  coalesce(r._kept, 0) AS n_kept
       |FROM base b LEFT JOIN rebuilt r USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Oracle for q_substring_dedup (Lee et al. 2022 sliding-window exact
    * substring dedup over the boilerplate-injected corpus). Mirrors
    * Corpus.withBoilerplate + TextDedup.substringDedup: same tokenizer,
    * same h56 gram keys, same doc_id*base+p keeper encoding, same
    * covered-span expansion; zero-word docs pass through.
    */
  val substringDedup: String = {
    import graft.ops.TextDedup
    val k = TextDedup.SubstrGram
    val base = TextDedup.ChunkPosBase
    val bp = graft.ops.Corpus.Boilerplate.map(s(_)).mkString("[", ", ", "]")
    s"""WITH w0 AS (SELECT doc_id, ${wordsOf("text")} AS w FROM documents),
       |inj AS (SELECT doc_id,
       |  CASE WHEN doc_id % 10 = 0 THEN
       |    list_slice(w, 1, CAST(doc_id % 7 + 1 AS INTEGER)) || $bp ||
       |      list_slice(w, CAST(doc_id % 7 + 2 AS INTEGER), len(w))
       |  ELSE w END AS words FROM w0),
       |base AS (SELECT doc_id, words,
       |  CAST(len(words) AS BIGINT) AS n_words FROM inj),
       |thl AS (SELECT doc_id,
       |  list_transform(words, x -> ${h56("x")}) AS th
       |  FROM base WHERE n_words >= $k),
       |gp AS (SELECT doc_id, th, unnest(range(len(th) - ${k - 1})) AS p
       |  FROM thl),
       |grams AS (SELECT doc_id, p,
       |  CAST(list_sum(list_transform(range($k), j ->
       |    CAST(th[CAST(p + j AS INTEGER) + 1] AS HUGEINT) *
       |      ${powListSql(k)}[CAST(j AS INTEGER) + 1]))
       |    % ${graft.functions.WindowHashUtil.P} AS BIGINT) AS gh,
       |  doc_id * $base + p AS _ord
       |  FROM gp),
       |keeper AS (SELECT gh, min(_ord) AS _k FROM grams GROUP BY 1),
       |cov AS (SELECT DISTINCT doc_id, pos FROM (
       |  SELECT g.doc_id, g.p + unnest(range($k)) AS pos
       |  FROM grams g JOIN keeper USING (gh) WHERE _ord != _k)),
       |tp AS (SELECT doc_id, words, unnest(range(len(words))) AS pos
       |  FROM base WHERE n_words > 0),
       |toks AS (SELECT doc_id, pos, words[CAST(pos AS INTEGER) + 1] AS w
       |  FROM tp),
       |kept AS (SELECT t.doc_id, t.pos, t.w FROM toks t
       |  LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
       |  WHERE c.pos IS NULL),
       |rebuilt AS (SELECT doc_id,
       |  string_agg(w, ' ' ORDER BY pos) AS _clean,
       |  CAST(count(*) AS BIGINT) AS _nk
       |  FROM kept GROUP BY 1)
       |SELECT b.doc_id,
       |  coalesce(r._clean, '') AS clean_text,
       |  b.n_words,
       |  b.n_words - coalesce(r._nk, 0) AS n_removed
       |FROM base b LEFT JOIN rebuilt r USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Oracle for q_substring_dedup_incr: the incremental sliding-window
    * pass. Mirrors Corpus.withBoilerplate (the standing corpus) +
    * Corpus.substrIncrement (recrawl + reversed fresh docs) +
    * TextDedup.substringDedupIncremental: an increment window loses iff
    * its gram appears ANYWHERE in the standing corpus (the published
    * text always wins) or an earlier increment window carries it.
    */
  val substringDedupIncr: String = {
    import graft.ops.TextDedup
    val k = TextDedup.SubstrGram
    val base = TextDedup.ChunkPosBase
    val bp = graft.ops.Corpus.Boilerplate.map(s(_)).mkString("[", ", ", "]")
    val gh = s"""CAST(list_sum(list_transform(range($k), j ->
       |    CAST(th[CAST(p + j AS INTEGER) + 1] AS HUGEINT) *
       |      ${powListSql(k)}[CAST(j AS INTEGER) + 1]))
       |    % ${graft.functions.WindowHashUtil.P} AS BIGINT)""".stripMargin
    s"""WITH w0 AS (SELECT doc_id, ${wordsOf("text")} AS w FROM documents),
       |inj AS (SELECT doc_id,
       |  CASE WHEN doc_id % 10 = 0 THEN
       |    list_slice(w, 1, CAST(doc_id % 7 + 1 AS INTEGER)) || $bp ||
       |      list_slice(w, CAST(doc_id % 7 + 2 AS INTEGER), len(w))
       |  ELSE w END AS words FROM w0),
       |sthl AS (SELECT doc_id,
       |  list_transform(words, x -> ${h56("x")}) AS th
       |  FROM inj WHERE len(words) >= $k),
       |sgp AS (SELECT doc_id, th, unnest(range(len(th) - ${k - 1})) AS p
       |  FROM sthl),
       |sg AS (SELECT DISTINCT $gh AS gh FROM sgp),
       |incw AS (
       |  SELECT doc_id + 200000 AS doc_id,
       |    list_slice(w, 1, 3) || $bp || list_slice(w, 4, len(w)) AS words
       |  FROM w0 WHERE doc_id % 9 = 0
       |  UNION ALL
       |  SELECT doc_id + 300000 AS doc_id, list_reverse(w) AS words
       |  FROM w0 WHERE doc_id % 9 = 3),
       |ibase AS (SELECT doc_id, words,
       |  CAST(len(words) AS BIGINT) AS n_words FROM incw),
       |ithl AS (SELECT doc_id,
       |  list_transform(words, x -> ${h56("x")}) AS th
       |  FROM ibase WHERE n_words >= $k),
       |igp AS (SELECT doc_id, th, unnest(range(len(th) - ${k - 1})) AS p
       |  FROM ithl),
       |igrams AS (SELECT doc_id, p, $gh AS gh,
       |  doc_id * $base + p AS _ord FROM igp),
       |ikeeper AS (SELECT gh, min(_ord) AS _k FROM igrams GROUP BY 1),
       |cov AS (SELECT DISTINCT doc_id, pos FROM (
       |  SELECT g.doc_id, g.p + unnest(range($k)) AS pos
       |  FROM igrams g
       |  JOIN ikeeper USING (gh)
       |  LEFT JOIN sg ON g.gh = sg.gh
       |  WHERE sg.gh IS NOT NULL OR g._ord != _k)),
       |tp AS (SELECT doc_id, words, unnest(range(len(words))) AS pos
       |  FROM ibase WHERE n_words > 0),
       |toks AS (SELECT doc_id, pos, words[CAST(pos AS INTEGER) + 1] AS w
       |  FROM tp),
       |kept AS (SELECT t.doc_id, t.pos, t.w FROM toks t
       |  LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
       |  WHERE c.pos IS NULL),
       |rebuilt AS (SELECT doc_id,
       |  string_agg(w, ' ' ORDER BY pos) AS _clean,
       |  CAST(count(*) AS BIGINT) AS _nk
       |  FROM kept GROUP BY 1)
       |SELECT b.doc_id,
       |  coalesce(r._clean, '') AS clean_text,
       |  b.n_words,
       |  b.n_words - coalesce(r._nk, 0) AS n_removed
       |FROM ibase b LEFT JOIN rebuilt r USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Oracle for q_substring_dedup_bpe: the sliding-window pass at
    * TRAINED-BPE granularity. Mirrors Corpus.withBoilerplate +
    * TextDedup.substringDedupBpe end-to-end: the same recursive-CTE
    * frozen-merges encoder as [[bpeTokens]] (applied to the INJECTED
    * corpus's vocabulary, yielding per-word symbol lists), flat token
    * positions via a per-doc cumulative symbol count, then the h56
    * window / first-occurrence / covered-position chain of
    * [[substringDedup]], and sub-word reassembly (symbols regroup into
    * words by word index, words rejoin by position).
    */
  val substringDedupBpe: String = {
    import graft.ops.TextDedup
    val k = TextDedup.SubstrBpeGram
    val base = TextDedup.ChunkPosBase
    val bp = graft.ops.Corpus.Boilerplate.map(s(_)).mkString("[", ", ", "]")
    val mergeRows = graft.rules.Bpe.Merges.zipWithIndex.map {
      case ((x, y), i) => s"($i, ${s(s" $x $y ")}, ${s(s" $x$y ")})"
    }.mkString(",\n|    ").stripMargin
    s"""WITH RECURSIVE
       |merges AS (SELECT * FROM (VALUES
       |    $mergeRows) m(pri, pat, rep)),
       |w0 AS (SELECT doc_id, ${wordsOf("text")} AS w FROM documents),
       |inj AS (SELECT doc_id,
       |  CASE WHEN doc_id % 10 = 0 THEN
       |    list_slice(w, 1, CAST(doc_id % 7 + 1 AS INTEGER)) || $bp ||
       |      list_slice(w, CAST(doc_id % 7 + 2 AS INTEGER), len(w))
       |  ELSE w END AS words FROM w0),
       |dw AS (SELECT DISTINCT unnest(words) AS word FROM inj),
       |enc AS (
       |  SELECT word,
       |    ' ' || list_aggregate(regexp_extract_all(word, '.'),
       |      'string_agg', ' ') || ' ' AS s
       |  FROM dw
       |  UNION ALL
       |  SELECT word, replace(s, pat, rep) AS s FROM (
       |    SELECT e.word, e.s, m.pat, m.rep,
       |      row_number() OVER (PARTITION BY e.word ORDER BY m.pri) AS rn
       |    FROM enc e JOIN merges m ON contains(e.s, m.pat)) z
       |  WHERE rn = 1),
       |fin AS (SELECT word,
       |  list_filter(string_split(s, ' '), x -> x != '') AS syms
       |  FROM enc e
       |  WHERE NOT EXISTS (SELECT 1 FROM merges m
       |    WHERE contains(e.s, m.pat))),
       |wt AS (SELECT doc_id, wi, words[CAST(wi AS INTEGER) + 1] AS word
       |  FROM (SELECT doc_id, words, unnest(range(len(words))) AS wi
       |        FROM inj)),
       |ws AS (SELECT wt.doc_id, wt.wi, f.syms, len(f.syms) AS ns
       |  FROM wt JOIN fin f USING (word)),
       |woff AS (SELECT doc_id, wi, syms,
       |  coalesce(sum(ns) OVER (PARTITION BY doc_id ORDER BY wi
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
       |  FROM ws),
       |toks AS (SELECT doc_id, wi, o + si AS pos,
       |  syms[CAST(si AS INTEGER) + 1] AS sym
       |  FROM (SELECT doc_id, wi, o, syms, unnest(range(len(syms))) AS si
       |        FROM woff)),
       |base AS (SELECT i.doc_id,
       |  CAST(coalesce(tc.n, 0) AS BIGINT) AS n_tokens
       |  FROM inj i LEFT JOIN (SELECT doc_id, count(*) AS n FROM toks
       |    GROUP BY 1) tc USING (doc_id)),
       |ds AS (SELECT doc_id, list(sym ORDER BY pos) AS syms FROM toks
       |  GROUP BY 1),
       |thl AS (SELECT doc_id,
       |  list_transform(syms, x -> ${h56("x")}) AS th
       |  FROM ds WHERE len(syms) >= $k),
       |gp AS (SELECT doc_id, th, unnest(range(len(th) - ${k - 1})) AS p
       |  FROM thl),
       |grams AS (SELECT doc_id, p,
       |  CAST(list_sum(list_transform(range($k), j ->
       |    CAST(th[CAST(p + j AS INTEGER) + 1] AS HUGEINT) *
       |      ${powListSql(k)}[CAST(j AS INTEGER) + 1]))
       |    % ${graft.functions.WindowHashUtil.P} AS BIGINT) AS gh,
       |  doc_id * $base + p AS _ord
       |  FROM gp),
       |keeper AS (SELECT gh, min(_ord) AS _k FROM grams GROUP BY 1),
       |cov AS (SELECT DISTINCT doc_id, pos FROM (
       |  SELECT g.doc_id, g.p + unnest(range($k)) AS pos
       |  FROM grams g JOIN keeper USING (gh) WHERE _ord != _k)),
       |kept AS (SELECT t.doc_id, t.wi, t.pos, t.sym FROM toks t
       |  LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
       |  WHERE c.pos IS NULL),
       |kw AS (SELECT doc_id, wi,
       |  string_agg(sym, '' ORDER BY pos) AS word,
       |  min(pos) AS wpos, count(*) AS nk
       |  FROM kept GROUP BY 1, 2),
       |rebuilt AS (SELECT doc_id,
       |  string_agg(word, ' ' ORDER BY wpos) AS _clean,
       |  CAST(sum(nk) AS BIGINT) AS _nk
       |  FROM kw GROUP BY 1)
       |SELECT b.doc_id,
       |  coalesce(r._clean, '') AS clean_text,
       |  b.n_tokens,
       |  b.n_tokens - coalesce(r._nk, 0) AS n_removed
       |FROM base b LEFT JOIN rebuilt r USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Oracle for q_quality_classifier: same md5 feature hash, bucket count,
    * Knuth-cycle weight table and keep rule as
    * TextAnalysis.qualityClassifier — integer arithmetic end-to-end (exact
    * in both engines), mean weight rounded 4dp.
    */
  val qualityClassifier: String = {
    import graft.ops.TextAnalysis.{ClfBuckets, ClfCycle, ClfKnuth}
    val half = (ClfCycle - 1) / 2
    s"""WITH docs AS (SELECT doc_id, ${wordsOf("text")} AS words
       |  FROM documents),
       |scored AS (SELECT doc_id,
       |  CAST(len(words) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(list_sum(list_transform(words, w ->
       |    (${h56("w")} % $ClfBuckets) * $ClfKnuth % $ClfCycle - $half)),
       |    0) AS BIGINT) AS score
       |  FROM docs)
       |SELECT doc_id, n_tokens, score,
       |  CASE WHEN n_tokens > 0
       |       THEN round(CAST(score AS DOUBLE) / n_tokens, 4)
       |       ELSE 0.0 END AS mean_weight,
       |  n_tokens > 0 AND score >= 0 AS keep
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** Oracle for q_bm25: rational-idf BM25 (see TextAnalysis.bm25 for why
    * the ln is omitted — cross-engine bit-equality). Mirrors the Spark
    * expression op-for-op: same left-assoc term-sum order, same cast
    * points, constants interpolated from the same TextAnalysis fields.
    */
  val bm25: String = {
    import graft.ops.TextAnalysis.{Bm25B, Bm25K1, Bm25Terms, Bm25TopK}
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(words, w -> w = ${s(t)})) AS tf$i"
    }.mkString(",\n|  ")
    val dfCols = Bm25Terms.indices.map { i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i"
    }.mkString(", ")
    val avgdl = "(CAST(sumdl AS DOUBLE) / n)"
    val score = Bm25Terms.indices.map { i =>
      s"""((CAST(n AS DOUBLE) - df$i + ${d(0.5)}) / (df$i + ${d(0.5)})) *
         |    (CAST(tf$i AS DOUBLE) * (${d(Bm25K1)} + ${d(1.0)})) /
         |    (CAST(tf$i AS DOUBLE) + ${d(Bm25K1)} *
         |      (${d(1.0)} - ${d(Bm25B)} + ${d(Bm25B)} * doc_len / $avgdl))"""
        .stripMargin
    }.mkString(" +\n|  ")
    s"""WITH tf AS (SELECT doc_id,
       |  CAST(len(words) AS BIGINT) AS doc_len,
       |  $tfCols
       |  FROM (SELECT doc_id, ${wordsOf("text")} AS words FROM documents)),
       |stats AS (SELECT count(*) AS n, sum(doc_len) AS sumdl, $dfCols
       |  FROM tf)
       |SELECT doc_id, doc_len,
       |  CAST(round(CAST($score AS DECIMAL(38, 12)), 6) AS DOUBLE) AS bm25
       |FROM tf CROSS JOIN stats
       |ORDER BY bm25 DESC, doc_id LIMIT $Bm25TopK""".stripMargin
  }

  val decontaminate: String =
    decontaminateK(TextDedup.ContamGramSynthetic)

  /** Oracle for q_contam_overlap (per-doc contamination fraction: distinct
    * k-grams shared with the benchmark / distinct k-grams total; zero-
    * overlap docs stay in the output). The `g` CTE unnests list_distinct
    * grams, so count(*) per doc is the distinct-gram count and the left
    * join against the distinct bench set cannot duplicate rows.
    */
  def contamOverlapK(k: Int): String =
    s"""WITH docs AS (SELECT doc_id, ${wordsOf("text")} AS words
       |  FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(len(words) - ${k - 1}),
       |      i -> list_aggregate(list_slice(words, i + 1, i + $k),
       |             'string_agg', ' ')))) AS gram
       |  FROM docs WHERE len(words) >= $k),
       |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
       |SELECT g.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(count(b.gram) AS BIGINT) AS n_shared_grams,
       |  CAST(round(CAST(CAST(count(b.gram) AS DOUBLE) / count(*)
       |    AS DECIMAL(38, 12)), 6) AS DOUBLE) AS overlap_frac
       |FROM g LEFT JOIN bench b ON g.gram = b.gram
       |WHERE g.doc_id % 97 != 0
       |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  val contamOverlap: String = contamOverlapK(TextDedup.ContamGramSynthetic)

  /** The production 8-gram default — the match set is tiny-to-empty on the
    * synthetic corpus, but the hash still pins the semantics at the k the
    * reference of record (production decontamination) actually runs.
    */
  val decontaminateK8: String = decontaminateK(TextDedup.ContamGram)

  /** Oracle for q_seq_pack (per-source concat-and-chop packing at
    * SeqLen-token boundaries; running sum excludes the current row).
    */
  /** The packing chain given a `t(doc_id, source, n_tokens)` CTE body —
    * shared by the whitespace (q_seq_pack) and trained-BPE
    * (q_seq_pack_bpe) tokenizers.
    */
  private def seqPackFrom(withClause: String, tCte: String): String = {
    val L = graft.ops.Packing.SeqLen
    s"""$withClause $tCte,
       |c AS (SELECT doc_id, source, n_tokens,
       |  COALESCE(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS start_tok FROM t)
       |SELECT doc_id, source, n_tokens,
       |  CAST(start_tok AS BIGINT) AS start_tok,
       |  CAST(floor(start_tok / $L) AS BIGINT) AS seq_first,
       |  CAST(floor((start_tok + greatest(n_tokens - 1, 0)) / $L) AS BIGINT)
       |    AS seq_last
       |FROM c ORDER BY source, doc_id""".stripMargin
  }

  val seqPack: String = seqPackFrom("WITH",
    s"""t AS (SELECT doc_id, source,
       |  CAST(len(${wordsOf("text")}) AS BIGINT) AS n_tokens
       |  FROM documents)""".stripMargin)

  /** Frozen-merges BPE encoder as reusable CTE text (ends with
    * `bpe(doc_id, source, n_words, n_bpe_tokens)`). Mirrors
    * graft.rules.Bpe exactly: same merges table (interpolated from the
    * same Vector), same lowest-rank-first loop — each recursion step
    * applies ONE replace-all of the minimum-priority applicable merge,
    * terminating when none applies (DuckDB replace() and Java
    * String.replace share left-to-right continue-after-match semantics).
    * The encoder runs over DISTINCT words (the Zipf vocabulary), then
    * joins counts back onto word occurrences. Requires WITH RECURSIVE.
    */
  private lazy val bpeCtes: String = {
    val mergeRows = graft.rules.Bpe.Merges.zipWithIndex.map {
      case ((x, y), i) => s"($i, ${s(s" $x $y ")}, ${s(s" $x$y ")})"
    }.mkString(",\n|    ").stripMargin
    s"""merges AS (SELECT * FROM (VALUES
       |    $mergeRows) m(pri, pat, rep)),
       |w0 AS (SELECT doc_id, source, ${wordsOf("text")} AS words
       |  FROM documents),
       |dw AS (SELECT DISTINCT unnest(words) AS word FROM w0),
       |enc AS (
       |  SELECT word,
       |    ' ' || list_aggregate(regexp_extract_all(word, '.'),
       |      'string_agg', ' ') || ' ' AS s
       |  FROM dw
       |  UNION ALL
       |  SELECT word, replace(s, pat, rep) AS s FROM (
       |    SELECT e.word, e.s, m.pat, m.rep,
       |      row_number() OVER (PARTITION BY e.word ORDER BY m.pri) AS rn
       |    FROM enc e JOIN merges m ON contains(e.s, m.pat)) z
       |  WHERE rn = 1),
       |fin AS (SELECT word,
       |  CAST(len(list_filter(string_split(s, ' '), x -> x != ''))
       |    AS BIGINT) AS n_tok
       |  FROM enc e
       |  WHERE NOT EXISTS (SELECT 1 FROM merges m
       |    WHERE contains(e.s, m.pat))),
       |occ AS (SELECT doc_id, unnest(words) AS word FROM w0),
       |db AS (SELECT doc_id, CAST(sum(n_tok) AS BIGINT) AS n_bpe
       |  FROM occ JOIN fin USING (word) GROUP BY 1),
       |bpe AS (SELECT w0.doc_id, w0.source,
       |  CAST(len(words) AS BIGINT) AS n_words,
       |  coalesce(db.n_bpe, 0) AS n_bpe_tokens
       |  FROM w0 LEFT JOIN db USING (doc_id))""".stripMargin
  }

  /** Oracle for q_bpe_tokens (per-doc trained-BPE vs whitespace counts). */
  val bpeTokens: String =
    s"""WITH RECURSIVE $bpeCtes
       |SELECT doc_id, n_words, n_bpe_tokens,
       |  CASE WHEN n_words > 0 THEN CAST(round(CAST(
       |    CAST(n_bpe_tokens AS DOUBLE) / n_words
       |    AS DECIMAL(38, 12)), 4) AS DOUBLE)
       |  ELSE ${d(0.0)} END AS tokens_per_word
       |FROM bpe ORDER BY doc_id""".stripMargin

  /** Oracle for q_shard_pack (token-balanced shard assignment: global
    * rank by (n_bpe_tokens DESC, doc_id), snake placement over
    * [[graft.ops.Packing.ShardCount]] shards). The oracle states the
    * single-window global row_number the Spark side deliberately avoids
    * (Ranked.perKey's two-phase distributed rank) — identical values.
    */
  val shardPack: String = {
    val n = graft.ops.Packing.ShardCount
    s"""WITH RECURSIVE $bpeCtes,
       |r AS (SELECT doc_id, n_bpe_tokens,
       |  row_number() OVER (ORDER BY n_bpe_tokens DESC, doc_id) - 1
       |    AS rnk FROM bpe)
       |SELECT doc_id, n_bpe_tokens AS n_tokens,
       |  CAST(CASE WHEN (rnk // $n) % 2 = 0 THEN rnk % $n
       |    ELSE ${n - 1} - (rnk % $n) END AS BIGINT) AS shard
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** Oracle for q_token_histogram (per-source BPE sequence-length
    * bands; mirrors TextAnalysis.tokenHistogram — integer edge compares
    * only).
    */
  val tokenHistogram: String = {
    val edges = graft.ops.TextAnalysis.HistEdges.reverse
      .map(e => s"WHEN n_bpe_tokens >= $e THEN $e").mkString(" ")
    s"""WITH RECURSIVE $bpeCtes,
       |b AS (SELECT source, n_bpe_tokens,
       |  CASE $edges ELSE 0 END AS bucket_lo FROM bpe),
       |agg AS (SELECT source, bucket_lo, count(*) AS n_docs,
       |    sum(n_bpe_tokens) AS n_tokens FROM b GROUP BY 1, 2),
       |tot AS (SELECT source, count(*) AS n_src FROM bpe GROUP BY 1)
       |SELECT source, CAST(bucket_lo AS BIGINT) AS bucket_lo,
       |  CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_tokens AS BIGINT) AS n_tokens,
       |  n_docs / n_src AS doc_frac
       |FROM agg JOIN tot USING (source)
       |ORDER BY source, bucket_lo""".stripMargin
  }

  /** Oracle for q_tokenizer_fertility (per-language BPE tokens per
    * whitespace word; mirrors TextAnalysis.tokenizerFertility).
    */
  val tokenizerFertility: String =
    s"""WITH RECURSIVE $bpeCtes,
       |l AS (SELECT d.lang, bpe.n_words, bpe.n_bpe_tokens
       |  FROM bpe JOIN documents d USING (doc_id)),
       |agg AS (SELECT lang, count(*) AS n_docs, sum(n_words) AS n_words,
       |    sum(n_bpe_tokens) AS n_bpe_tokens FROM l GROUP BY 1)
       |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_words AS BIGINT) AS n_words,
       |  CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
       |  CASE WHEN n_words > 0 THEN n_bpe_tokens / n_words
       |    ELSE ${d(0.0)} END AS fertility
       |FROM agg ORDER BY lang""".stripMargin

  /** Oracle for q_seq_pack_bpe: the same packing chain chopping at REAL
    * trained-BPE token boundaries.
    */
  val seqPackBpe: String = seqPackFrom(s"WITH RECURSIVE $bpeCtes,",
    "t AS (SELECT doc_id, source, n_bpe_tokens AS n_tokens FROM bpe)")

  /** Oracle for q_simhash (56-bit simhash bit-string per doc). */
  val simhash: String =
    s"""WITH docs AS (SELECT doc_id, ${wordsOf("text")} AS words
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest(words) AS w FROM docs
       |  WHERE len(words) >= 1),
       |th AS (SELECT doc_id, ${h56("w")} AS h FROM tok),
       |bits AS (SELECT doc_id, b,
       |  sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS sgn
       |  FROM th CROSS JOIN
       |    (SELECT unnest(range(${TextDedup.SimhashBits})) AS b)
       |  GROUP BY 1, 2)
       |SELECT doc_id,
       |  string_agg(CASE WHEN sgn > 0 THEN '1' ELSE '0' END, '' ORDER BY b)
       |    AS simhash
       |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Oracle for q_simhash_dups: the same 56-bit simhash as a BIGINT,
    * bucketed on 4 disjoint 14-bit bands (capped like the MinHash LSH),
    * exact-verified with bit_count(xor).
    */
  val simhashDups: String = {
    val bits = TextDedup.SimhashBits
    val bb = TextDedup.SimBandBits
    val mask = (1L << bb) - 1
    s"""WITH $nearCorpusCte,
       |docs AS (SELECT doc_id, ${wordsOf("text")} AS words FROM corpus),
       |tok AS (SELECT doc_id, unnest(words) AS w FROM docs
       |  WHERE len(words) >= 1),
       |th AS (SELECT doc_id, ${h56("w")} AS h FROM tok),
       |bits AS (SELECT doc_id, b,
       |  sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS sgn
       |  FROM th CROSS JOIN (SELECT unnest(range($bits)) AS b)
       |  GROUP BY 1, 2),
       |sig AS (SELECT doc_id,
       |  CAST(sum(CASE WHEN sgn > 0 THEN (1::BIGINT << b) ELSE 0 END)
       |    AS BIGINT) AS sh
       |  FROM bits GROUP BY doc_id),
       |bands AS (SELECT doc_id, i, (sh >> ($bb * i)) & $mask AS bv
       |  FROM sig CROSS JOIN
       |    (SELECT unnest(range(${TextDedup.SimBands})) AS i)),
       |okb AS (SELECT i, bv FROM bands GROUP BY i, bv
       |  HAVING count(*) <= ${TextDedup.MaxBucket}),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
       |  FROM bands a
       |  JOIN okb ON okb.i = a.i AND okb.bv = a.bv
       |  JOIN bands b2 ON a.i = b2.i AND a.bv = b2.bv
       |    AND a.doc_id < b2.doc_id)
       |SELECT p.doc_a, p.doc_b,
       |  CAST(bit_count(xor(sa.sh, sb.sh)) AS BIGINT) AS hamming
       |FROM pairs p
       |JOIN sig sa ON p.doc_a = sa.doc_id
       |JOIN sig sb ON p.doc_b = sb.doc_id
       |WHERE bit_count(xor(sa.sh, sb.sh)) <= ${TextDedup.SimHamMax}
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Oracle for q_fingerprints (MOD-sampled 8-gram rolling fingerprints). */
  val fingerprints: String = {
    val g = TextDedup.GramLen
    s"""WITH fp AS (SELECT doc_id,
       |  greatest(len(text) - ${g - 1}, 0) AS n_grams,
       |  list_filter(
       |    list_transform(range(greatest(len(text) - ${g - 1}, 0)),
       |      i -> ${h56(s"substr(text, i + 1, $g)")}),
       |    h -> h % ${TextDedup.FpMod} = 0) AS fps
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(n_grams AS BIGINT) AS n_grams,
       |  CAST(len(fps) AS BIGINT) AS n_fp,
       |  list_aggregate(fps, 'min') AS min_fp,
       |  list_aggregate(fps, 'max') AS max_fp,
       |  COALESCE(CAST(list_sum(list_transform(fps, h -> h % 1000003))
       |    AS BIGINT), 0) AS fp_sum_mod
       |FROM fp ORDER BY doc_id""".stripMargin
  }

  /** Oracle for q_winnow (MOSS winnowing fingerprints: per W-hash window
    * keep the minimum hash, rightmost on ties, each position once).
    * Rightmost-argmin is the same reverse/list_position formulation as the
    * Spark side: `p + W - list_position(list_reverse(win), list_min(win))
    * + 1`, 1-based into the full hash list. list_distinct's order
    * indifference is fine — every consumer of `sel`/`fps` is a set fold.
    */
  val winnow: String = {
    val g = TextDedup.GramLen
    val w = TextDedup.WinnowW
    val win = s"hs[p + 1 : p + $w]"
    s"""WITH h AS (SELECT doc_id,
       |  greatest(len(text) - ${g - 1}, 0) AS n_grams,
       |  list_transform(range(greatest(len(text) - ${g - 1}, 0)),
       |    i -> ${h56(s"substr(text, i + 1, $g)")}) AS hs
       |  FROM documents),
       |sel AS (SELECT doc_id, n_grams, hs,
       |  CASE WHEN len(hs) >= $w THEN list_distinct(
       |    list_transform(range(len(hs) - $w + 1),
       |      p -> p + $w - list_position(list_reverse($win),
       |             list_aggregate($win, 'min')) + 1))
       |  ELSE CAST([] AS BIGINT[]) END AS sl
       |  FROM h),
       |fp AS (SELECT doc_id, n_grams, len(hs) AS nh,
       |  list_transform(sl, i -> hs[CAST(i AS INT)]) AS fps
       |  FROM sel)
       |SELECT doc_id,
       |  CAST(n_grams AS BIGINT) AS n_grams,
       |  CAST(greatest(nh - ${w - 1}, 0) AS BIGINT) AS n_windows,
       |  CAST(len(fps) AS BIGINT) AS n_fp,
       |  list_aggregate(fps, 'min') AS min_fp,
       |  list_aggregate(fps, 'max') AS max_fp,
       |  COALESCE(CAST(list_sum(list_transform(fps, h -> h % 1000003))
       |    AS BIGINT), 0) AS fp_sum_mod
       |FROM fp ORDER BY doc_id""".stripMargin
  }

  /** Oracle for q_lang_id (stopword/script-density language ID) — score
    * columns generated from the same profile tables as the Spark side.
    */
  val langId: String = {
    val wc = s"greatest(len(${wordsOf("text")}), 1)"
    val scores = (TextAnalysis.StopwordProfiles.map { case (lang, re) =>
      s"CAST(round(CAST(len(regexp_extract_all(lower(text), ${s(re)})) / $wc AS DECIMAL(38, 12)), 4) AS DOUBLE)" +
        s" AS score_$lang"
    } ++ TextAnalysis.ScriptProfiles.map { case (lang, cls) =>
      s"""CAST(round(CAST((length(lower(text)) - length(
         |    regexp_replace(lower(text), ${s(cls)}, '', 'g')))
         |    / greatest(length(lower(text)), 1) AS DECIMAL(38, 12)), 4) AS DOUBLE) AS score_$lang""".stripMargin
    }).mkString(",\n  ")
    val langs = (TextAnalysis.StopwordProfiles ++ TextAnalysis.ScriptProfiles)
      .map(_._1)
    val best = langs.map(l => s"score_$l").mkString("greatest(", ", ", ")")
    val pred = langs.map(l =>
      s"WHEN score_$l = _best AND _best > 0 THEN '$l'").mkString(" ")
    s"""WITH sc AS (SELECT doc_id, lang,
       |  $scores
       |  FROM documents),
       |b AS (SELECT *, $best AS _best FROM sc)
       |SELECT doc_id, lang,
       |  CASE $pred ELSE 'unknown' END AS lang_pred,
       |  (CASE $pred ELSE 'unknown' END) = lang AS correct,
       |  ${langs.map(l => s"score_$l").mkString(", ")}
       |FROM b ORDER BY doc_id""".stripMargin
  }

  /** Oracle for q_token_stats. */
  val tokenStats: String =
    s"""WITH t AS (SELECT source,
       |  len(${wordsOf("text")}) AS ws_tokens,
       |  len(regexp_extract_all(text, ${s(TextAnalysis.BpeIshToken)}))
       |    AS bpe_tokens
       |  FROM documents)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(ws_tokens) AS BIGINT) AS sum_ws_tokens,
       |  CAST(sum(bpe_tokens) AS BIGINT) AS sum_bpe_tokens,
       |  CAST(round(CAST(avg(ws_tokens) AS DECIMAL(38, 12)), 2) AS DOUBLE) AS avg_ws_tokens,
       |  CAST(round(CAST(avg(bpe_tokens) AS DECIMAL(38, 12)), 2) AS DOUBLE) AS avg_bpe_tokens
       |FROM t GROUP BY 1 ORDER BY 1""".stripMargin

  /** Oracle for q_doc_quality. */
  val docQuality: String = {
    val wc = s"len(${wordsOf("text")})"
    s"""WITH t AS (SELECT doc_id, source, $wc AS wc,
       |  len(regexp_extract_all(lower(text),
       |    ${s(graft.rules.Rules.EnStopwords)})) AS stops,
       |  (length(text) - length(regexp_replace(text,
       |    '[^.,!?;:''"()\\-]', '', 'g'))) AS punct,
       |  greatest(length(text), 1) AS lensafe
       |  FROM documents)
       |SELECT doc_id, source, CAST(wc AS INTEGER) AS word_count,
       |  CAST(round(CAST(${d(0.4)} * least(${d(1.0)}, wc / ${d(100.0)})
       |    + ${d(0.4)} * least(${d(1.0)},
       |        (stops / greatest(wc, 1)) * 5)
       |    + ${d(0.2)} * (${d(1.0)} - least(${d(1.0)},
       |        (punct / lensafe) * 5)) AS DECIMAL(38, 12)), 3) AS DOUBLE) AS quality
       |FROM t ORDER BY doc_id""".stripMargin
  }

  /** Sequential dot product of two DOUBLE[] columns (left fold — identical
    * op order to Spark's `aggregate(zip_with(...))`).
    */
  def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(len($a)), i -> $a[i+1] * $b[i+1]), (x, y) -> x + y)"

  private val embCtes: String =
    s"""emb0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings),
       |emb AS (SELECT vec_id, emb, sqrt(${dotSql("emb", "emb")}) AS nrm
       |  FROM emb0),
       |q AS (SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm FROM emb
       |  WHERE vec_id % ${EmbedSim.QueryMod} = 0)""".stripMargin

  /** Oracle for q_knn_brute (exact cosine top-10 per query vector). */
  val knnBrute: String =
    s"""WITH $embCtes,
       |scored AS (SELECT query_id, e.vec_id AS neighbor_id,
       |  CAST(round(CAST(${dotSql("qemb", "e.emb")} / (qnrm * e.nrm) AS DECIMAL(38, 12)), 6) AS DOUBLE) AS cos_sim
       |  FROM emb e CROSS JOIN q WHERE e.vec_id != query_id)
       |SELECT query_id, neighbor_id, cos_sim,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS "rank"
       |FROM scored QUALIFY "rank" <= ${EmbedSim.TopK}
       |ORDER BY query_id, "rank"""".stripMargin

  /** Lloyd's-iteration CTE chain mirroring EmbedSim.trainedCentroids:
    * refines centroids `seedName` over corpus CTE `corpusName` (columns
    * vec_id, emb, nrm) for `iters` rounds; the final CTE is named
    * `lcent{iters}`. The per-dimension mean runs over QUANTIZED components
    * (floor(v * 1e6 + 0.5) summed as BIGINT, one double division) so the
    * trained centroids are bit-identical to Spark's — a plain avg(v) is
    * summation-order-dependent and would only match modulo rounding,
    * while the driver compare is exact. unnest(emb)/unnest(range(...)) in
    * one SELECT zip positionally (DuckDB semantics).
    */
  private def lloydCtes(corpusName: String, seedName: String,
      iters: Int): String =
    (1 to iters).map { k =>
      val prev = if (k == 1) seedName else s"lcent${k - 1}"
      s"""lasg$k AS (SELECT centroid_id, emb FROM (
         |  SELECT e.emb, c.centroid_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY CAST(round(CAST(${dotSql("e.emb", "c.cemb")} / (e.nrm * c.cnrm) AS DECIMAL(38, 12)), 6) AS DOUBLE) DESC, c.centroid_id) AS rn
         |  FROM $corpusName e CROSS JOIN $prev c) WHERE rn = 1),
         |lcm$k AS (SELECT centroid_id, i,
         |    CAST(sum(CAST(floor(v * ${d(EmbedSim.QuantScale)} + 0.5) AS BIGINT)) AS DOUBLE)
         |      / (${d(EmbedSim.QuantScale)} * count(*)) AS m
         |  FROM (SELECT centroid_id, unnest(emb) AS v,
         |    unnest(range(len(emb))) AS i FROM lasg$k)
         |  GROUP BY centroid_id, i),
         |lcent$k AS (SELECT centroid_id, cemb,
         |    sqrt(${dotSql("cemb", "cemb")}) AS cnrm
         |  FROM (SELECT centroid_id, list(m ORDER BY i) AS cemb
         |    FROM lcm$k GROUP BY centroid_id))""".stripMargin
    }.mkString(",\n")

  /** Shared CTE chain for the perturbed-corpus IVF assignment (the input
    * of both q_embed_dups and q_semdedup): perturbed corpus + trained
    * centroids + nearest-centroid `assigned` (vec_id, emb, nrm,
    * centroid_id). Mirrors EmbedSim.dupAssigned.
    */
  private val dupAssignedCtes: String =
    s"""emb0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings),
       |pert AS (SELECT vec_id + 100000 AS vec_id,
       |  list_transform(emb, x -> x + ${d(0.05)}) AS emb
       |  FROM emb0 WHERE vec_id % ${EmbedSim.DupMod} = 0),
       |corpus AS (
       |  SELECT vec_id, emb, sqrt(${dotSql("emb", "emb")}) AS nrm FROM (
       |    SELECT * FROM emb0 UNION ALL SELECT * FROM pert)),
       |cmod AS (SELECT greatest(${EmbedSim.CentroidMod},
       |  CAST(floor(sqrt(count(*)) / 2) AS BIGINT)) AS m FROM embeddings),
       |cent0 AS (SELECT vec_id AS centroid_id, emb AS cemb,
       |  sqrt(${dotSql("emb", "emb")}) AS cnrm
       |  FROM emb0 WHERE vec_id % (SELECT m FROM cmod) = 0),
       |${lloydCtes("corpus", "cent0", EmbedSim.LloydIters)},
       |assigned AS (SELECT vec_id, emb, nrm, centroid_id FROM (
       |  SELECT e.vec_id, e.emb, e.nrm, c.centroid_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY CAST(round(CAST(${dotSql("e.emb", "c.cemb")} / (e.nrm * c.cnrm) AS DECIMAL(38, 12)), 6) AS DOUBLE) DESC, c.centroid_id) AS rn
       |  FROM corpus e CROSS JOIN lcent${EmbedSim.LloydIters} c) WHERE rn = 1)""".stripMargin

  /** Oracle for q_decontaminate_sem (nearest-benchmark cosine annotation
    * over the perturbed corpus; mirrors EmbedSim.decontaminateSemantic).
    */
  val decontaminateSem: String =
    s"""WITH emb0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings),
       |pert AS (SELECT vec_id + 100000 AS vec_id,
       |  list_transform(emb, x -> x + ${d(0.05)}) AS emb
       |  FROM emb0 WHERE vec_id % ${EmbedSim.DupMod} = 0),
       |corpus AS (
       |  SELECT vec_id, emb, sqrt(${dotSql("emb", "emb")}) AS nrm FROM (
       |    SELECT * FROM emb0 UNION ALL SELECT * FROM pert)),
       |bench AS (SELECT vec_id AS bench_id, emb AS bemb, nrm AS bnrm
       |  FROM corpus
       |  WHERE vec_id % ${EmbedSim.SemBenchMod} = 0 AND vec_id < 100000),
       |rest AS (SELECT * FROM corpus WHERE NOT
       |  (vec_id % ${EmbedSim.SemBenchMod} = 0 AND vec_id < 100000)),
       |scored AS (SELECT r.vec_id, b.bench_id,
       |  CAST(round(CAST(${dotSql("r.emb", "b.bemb")} / (r.nrm * b.bnrm) AS DECIMAL(38, 12)), 6) AS DOUBLE) AS bench_cos
       |  FROM rest r CROSS JOIN bench b)
       |SELECT vec_id, bench_id, bench_cos,
       |  bench_cos >= ${d(EmbedSim.SemThreshold)} AS contaminated
       |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY bench_cos DESC, bench_id) AS rn FROM scored)
       |WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** Oracle for q_embed_dups (IVF-bucketed cosine near-dup pairs over the
    * deterministically-perturbed corpus).
    */
  val embedDups: String =
    s"""WITH $dupAssignedCtes
       |SELECT * FROM (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    CAST(round(CAST(${dotSql("a.emb", "b.emb")} / (a.nrm * b.nrm) AS DECIMAL(38, 12)), 6) AS DOUBLE) AS cos_sim
       |  FROM assigned a JOIN assigned b
       |    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id)
       |WHERE cos_sim >= ${d(EmbedSim.DupThreshold)}
       |ORDER BY vec_a, vec_b""".stripMargin

  /** Oracle for q_embed_dups_incr: today's perturbed batch against the
    * STANDING IVF index — centroids trained on the BASE corpus only
    * (same Lloyd's chain as q_knn_ivf/q_kmeans), base vectors assigned
    * once (the standing inverted lists), the increment assigned to the
    * same frozen centroids, pairs increment-vs-index within shared
    * lists. Mirrors EmbedSim.embedDupsIncremental.
    */
  val embedDupsIncr: String =
    s"""WITH $embCtes,
       |cmod AS (SELECT greatest(${EmbedSim.CentroidMod},
       |  CAST(floor(sqrt(count(*)) / 2) AS BIGINT)) AS m FROM embeddings),
       |cent0 AS (SELECT vec_id AS centroid_id, emb AS cemb, nrm AS cnrm
       |  FROM emb WHERE vec_id % (SELECT m FROM cmod) = 0),
       |${lloydCtes("emb", "cent0", EmbedSim.LloydIters)},
       |sasg AS (SELECT vec_id, emb, nrm, centroid_id FROM (
       |  SELECT e.vec_id, e.emb, e.nrm, c.centroid_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY CAST(round(CAST(${dotSql("e.emb", "c.cemb")} / (e.nrm * c.cnrm) AS DECIMAL(38, 12)), 6) AS DOUBLE) DESC, c.centroid_id) AS rn
       |  FROM emb e CROSS JOIN lcent${EmbedSim.LloydIters} c) WHERE rn = 1),
       |pemb AS (SELECT vec_id, emb, sqrt(${dotSql("emb", "emb")}) AS nrm
       |  FROM (SELECT vec_id + ${EmbedSim.NewVecBase} AS vec_id,
       |    list_transform(emb, x -> x + ${d(0.05)}) AS emb
       |    FROM emb0 WHERE vec_id % ${EmbedSim.DupMod} = 0)),
       |pasg AS (SELECT vec_id, emb, nrm, centroid_id FROM (
       |  SELECT e.vec_id, e.emb, e.nrm, c.centroid_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY CAST(round(CAST(${dotSql("e.emb", "c.cemb")} / (e.nrm * c.cnrm) AS DECIMAL(38, 12)), 6) AS DOUBLE) DESC, c.centroid_id) AS rn
       |  FROM pemb e CROSS JOIN lcent${EmbedSim.LloydIters} c) WHERE rn = 1)
       |SELECT * FROM (
       |  SELECT a.vec_id AS indexed_id, b.vec_id AS new_id,
       |    CAST(round(CAST(${dotSql("a.emb", "b.emb")} / (a.nrm * b.nrm) AS DECIMAL(38, 12)), 6) AS DOUBLE) AS cos_sim
       |  FROM sasg a JOIN pasg b ON a.centroid_id = b.centroid_id)
       |WHERE cos_sim >= ${d(EmbedSim.DupThreshold)}
       |ORDER BY indexed_id, new_id""".stripMargin

  /** Oracle for q_semdedup_incr: keep/drop verdicts for the increment
    * against the standing corpus — min-id-wins over (standing ∪
    * earlier-in-batch) same-cluster near-dups, standing verdicts never
    * re-opened. Mirrors EmbedSim.semDedupIncremental (same standing
    * Lloyd's chain as q_embed_dups_incr).
    */
  val semDedupIncr: String =
    s"""WITH $embCtes,
       |cmod AS (SELECT greatest(${EmbedSim.CentroidMod},
       |  CAST(floor(sqrt(count(*)) / 2) AS BIGINT)) AS m FROM embeddings),
       |cent0 AS (SELECT vec_id AS centroid_id, emb AS cemb, nrm AS cnrm
       |  FROM emb WHERE vec_id % (SELECT m FROM cmod) = 0),
       |${lloydCtes("emb", "cent0", EmbedSim.LloydIters)},
       |sasg AS (SELECT vec_id, emb, nrm, centroid_id FROM (
       |  SELECT e.vec_id, e.emb, e.nrm, c.centroid_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY CAST(round(CAST(${dotSql("e.emb", "c.cemb")} / (e.nrm * c.cnrm) AS DECIMAL(38, 12)), 6) AS DOUBLE) DESC, c.centroid_id) AS rn
       |  FROM emb e CROSS JOIN lcent${EmbedSim.LloydIters} c) WHERE rn = 1),
       |pemb AS (SELECT vec_id, emb, sqrt(${dotSql("emb", "emb")}) AS nrm
       |  FROM (SELECT vec_id + ${EmbedSim.NewVecBase} AS vec_id,
       |    list_transform(emb, x -> x + ${d(0.05)}) AS emb
       |    FROM emb0 WHERE vec_id % ${EmbedSim.DupMod} = 0)),
       |pasg AS (SELECT vec_id, emb, nrm, centroid_id FROM (
       |  SELECT e.vec_id, e.emb, e.nrm, c.centroid_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY CAST(round(CAST(${dotSql("e.emb", "c.cemb")} / (e.nrm * c.cnrm) AS DECIMAL(38, 12)), 6) AS DOUBLE) DESC, c.centroid_id) AS rn
       |  FROM pemb e CROSS JOIN lcent${EmbedSim.LloydIters} c) WHERE rn = 1),
       |dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM sasg a JOIN pasg b ON a.centroid_id = b.centroid_id
       |  WHERE CAST(round(CAST(${dotSql("a.emb", "b.emb")} / (a.nrm * b.nrm) AS DECIMAL(38, 12)), 6) AS DOUBLE) >= ${d(EmbedSim.DupThreshold)}
       |  UNION
       |  SELECT DISTINCT b.vec_id
       |  FROM pasg a JOIN pasg b ON a.centroid_id = b.centroid_id
       |    AND a.vec_id < b.vec_id
       |  WHERE CAST(round(CAST(${dotSql("a.emb", "b.emb")} / (a.nrm * b.nrm) AS DECIMAL(38, 12)), 6) AS DOUBLE) >= ${d(EmbedSim.DupThreshold)})
       |SELECT p.vec_id, p.centroid_id, d.vec_id IS NULL AS keep
       |FROM pasg p LEFT JOIN dropped d ON p.vec_id = d.vec_id
       |ORDER BY p.vec_id""".stripMargin

  /** Oracle for q_semdedup: SemDeDup-style keep/drop verdicts — a vector
    * is dropped iff a same-cluster vector with a smaller vec_id clears the
    * near-dup cosine threshold (min-id-wins greedy; mirrors
    * EmbedSim.semDedup including the pair set of q_embed_dups).
    */
  val semDedup: String =
    s"""WITH $dupAssignedCtes,
       |dropped AS (SELECT DISTINCT b.vec_id
       |  FROM assigned a JOIN assigned b
       |    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
       |  WHERE CAST(round(CAST(${dotSql("a.emb", "b.emb")} / (a.nrm * b.nrm) AS DECIMAL(38, 12)), 6) AS DOUBLE) >= ${d(EmbedSim.DupThreshold)})
       |SELECT a.vec_id, a.centroid_id, d.vec_id IS NULL AS keep
       |FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
       |ORDER BY a.vec_id""".stripMargin

  /** Oracle for q_embed_dups_lsh (random-hyperplane LSH near-dup pairs over
    * the same perturbed corpus). The band geometry is corpus-adaptive
    * exactly as in EmbedLsh: width w = min w with 2^w * TargetBucket >=
    * count(corpus) (a pure integer-shift comparison, exact in both
    * engines), band count from EmbedLsh.bandTable interpolated as integer
    * literals (so no transcendental has to agree across engines at a ceil
    * boundary). The hyperplanes are regenerated IN SQL from the same
    * md5("lsh:p:d") low-bit rule — Java's `digest(15) & 1` is the hex
    * parity of the digest's last character — giving exact +-1.0 doubles,
    * so the sign dot products are bit-identical across engines. Bucket =
    * band * 2^w + in-band sign-bit key; buckets above the cap are excluded
    * (mirroring the Spark-side drop); pairs are DISTINCT over bands, then
    * exact-cosine verified.
    */
  val embedDupsLsh: String = {
    val bCase = EmbedLsh.bandTable
      .map { case (w, b) => s"WHEN $w THEN $b" }.mkString(" ")
    s"""WITH emb0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings),
       |pert AS (SELECT vec_id + 100000 AS vec_id,
       |  list_transform(emb, x -> x + ${d(0.05)}) AS emb
       |  FROM emb0 WHERE vec_id % ${EmbedSim.DupMod} = 0),
       |corpus AS (
       |  SELECT vec_id, emb, sqrt(${dotSql("emb", "emb")}) AS nrm FROM (
       |    SELECT * FROM emb0 UNION ALL SELECT * FROM pert)),
       |params AS (SELECT w, CASE w $bCase END AS b,
       |    CAST(1 AS BIGINT) << w AS nb
       |  FROM (SELECT min(w) AS w FROM (SELECT unnest(range(
       |      ${EmbedLsh.MinBits}, ${EmbedLsh.MaxBits + 1})) AS w)
       |    WHERE (CAST(1 AS BIGINT) << w) * ${EmbedLsh.TargetBucket} >=
       |      (SELECT count(*) FROM corpus))),
       |planes AS (SELECT p // w AS band,
       |    CAST(1 AS BIGINT) << (p % w) AS twoj,
       |    list_transform(range(${EmbedLsh.Dim}), dd -> CASE WHEN
       |      substr(md5('lsh:' || CAST(p AS VARCHAR) || ':' ||
       |        CAST(dd AS VARCHAR)), 32, 1)
       |      IN ('1','3','5','7','9','b','d','f')
       |      THEN ${d(1.0)} ELSE ${d(-1.0)} END) AS h
       |  FROM (SELECT unnest(range(b * w)) AS p, w FROM params)),
       |sigs AS (SELECT c.vec_id,
       |    pl.band * (SELECT nb FROM params) +
       |      sum(CASE WHEN ${dotSql("c.emb", "pl.h")} >= 0
       |      THEN pl.twoj ELSE 0 END) AS bucket
       |  FROM corpus c CROSS JOIN planes pl GROUP BY c.vec_id, pl.band),
       |kept AS (SELECT bucket FROM sigs GROUP BY bucket
       |  HAVING count(*) <= ${EmbedLsh.MaxBucket}),
       |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM sigs a JOIN sigs b ON a.bucket = b.bucket
       |    AND a.vec_id < b.vec_id
       |  JOIN kept k ON k.bucket = a.bucket)
       |SELECT * FROM (
       |  SELECT vec_a, vec_b,
       |    CAST(round(CAST(${dotSql("a.emb", "b.emb")} / (a.nrm * b.nrm) AS DECIMAL(38, 12)), 6) AS DOUBLE) AS cos_sim
       |  FROM cand JOIN corpus a ON a.vec_id = vec_a
       |  JOIN corpus b ON b.vec_id = vec_b)
       |WHERE cos_sim >= ${d(EmbedSim.DupThreshold)}
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** Oracle for q_knn_ivf (IVF-style probed ANN). The centroid-seed
    * modulus mirrors EmbedSim.centroidMod: max(50, floor(sqrt(n)/2)) from
    * the same embeddings count (C ≈ min(n/50, 2·sqrt(n)) centroids).
    */
  /** Oracle for q_kmeans: the trained-centroid assignment (same Lloyd's
    * CTE chain as knnIvf) plus per-cluster population.
    */
  val kmeansAssign: String =
    s"""WITH $embCtes,
       |cmod AS (SELECT greatest(${EmbedSim.CentroidMod},
       |  CAST(floor(sqrt(count(*)) / 2) AS BIGINT)) AS m FROM embeddings),
       |cent0 AS (SELECT vec_id AS centroid_id, emb AS cemb, nrm AS cnrm
       |  FROM emb WHERE vec_id % (SELECT m FROM cmod) = 0),
       |${lloydCtes("emb", "cent0", EmbedSim.LloydIters)},
       |assigned AS (SELECT vec_id, centroid_id FROM (
       |  SELECT e.vec_id, c.centroid_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY CAST(round(CAST(${dotSql("e.emb", "c.cemb")} / (e.nrm * c.cnrm) AS DECIMAL(38, 12)), 6) AS DOUBLE) DESC, c.centroid_id) AS rn
       |  FROM emb e CROSS JOIN lcent${EmbedSim.LloydIters} c) WHERE rn = 1),
       |sizes AS (SELECT centroid_id, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM assigned GROUP BY 1)
       |SELECT vec_id, centroid_id, cluster_size
       |FROM assigned JOIN sizes USING (centroid_id)
       |ORDER BY vec_id""".stripMargin

  /** Oracle for q_cluster_sample: within-cluster diversity sampling —
    * the ClusterSampleK members farthest from their trained centroid
    * (cosine asc, vec_id tiebreak), same Lloyd's CTE chain as q_kmeans.
    */
  val clusterSample: String =
    s"""WITH $embCtes,
       |cmod AS (SELECT greatest(${EmbedSim.CentroidMod},
       |  CAST(floor(sqrt(count(*)) / 2) AS BIGINT)) AS m FROM embeddings),
       |cent0 AS (SELECT vec_id AS centroid_id, emb AS cemb, nrm AS cnrm
       |  FROM emb WHERE vec_id % (SELECT m FROM cmod) = 0),
       |${lloydCtes("emb", "cent0", EmbedSim.LloydIters)},
       |assigned AS (SELECT vec_id, emb, nrm, centroid_id FROM (
       |  SELECT e.vec_id, e.emb, e.nrm, c.centroid_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY CAST(round(CAST(${dotSql("e.emb", "c.cemb")} / (e.nrm * c.cnrm) AS DECIMAL(38, 12)), 6) AS DOUBLE) DESC, c.centroid_id) AS rn
       |  FROM emb e CROSS JOIN lcent${EmbedSim.LloydIters} c) WHERE rn = 1),
       |scored AS (SELECT a.centroid_id, a.vec_id,
       |  CAST(round(CAST(${dotSql("a.emb", "c.cemb")} / (a.nrm * c.cnrm) AS DECIMAL(38, 12)), 6) AS DOUBLE) AS cos_center
       |  FROM assigned a JOIN lcent${EmbedSim.LloydIters} c
       |    ON a.centroid_id = c.centroid_id)
       |SELECT centroid_id, vec_id, cos_center FROM scored
       |QUALIFY row_number() OVER (PARTITION BY centroid_id
       |  ORDER BY cos_center, vec_id) <= ${EmbedSim.ClusterSampleK}
       |ORDER BY centroid_id, cos_center, vec_id""".stripMargin

  val knnIvf: String =
    s"""WITH $embCtes,
       |cmod AS (SELECT greatest(${EmbedSim.CentroidMod},
       |  CAST(floor(sqrt(count(*)) / 2) AS BIGINT)) AS m FROM embeddings),
       |cent0 AS (SELECT vec_id AS centroid_id, emb AS cemb, nrm AS cnrm
       |  FROM emb WHERE vec_id % (SELECT m FROM cmod) = 0),
       |${lloydCtes("emb", "cent0", EmbedSim.LloydIters)},
       |assigned AS (SELECT vec_id, emb, nrm, centroid_id FROM (
       |  SELECT e.vec_id, e.emb, e.nrm, c.centroid_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY CAST(round(CAST(${dotSql("e.emb", "c.cemb")} / (e.nrm * c.cnrm) AS DECIMAL(38, 12)), 6) AS DOUBLE) DESC, c.centroid_id) AS rn
       |  FROM emb e CROSS JOIN lcent${EmbedSim.LloydIters} c) WHERE rn = 1),
       |probes AS (SELECT query_id, qemb, qnrm, centroid_id FROM (
       |  SELECT q.query_id, q.qemb, q.qnrm, c.centroid_id,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY CAST(round(CAST(${dotSql("q.qemb", "c.cemb")} / (q.qnrm * c.cnrm) AS DECIMAL(38, 12)), 6) AS DOUBLE) DESC, c.centroid_id) AS rn
       |  FROM q CROSS JOIN lcent${EmbedSim.LloydIters} c) WHERE rn <= ${EmbedSim.Probes}),
       |scored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
       |  CAST(round(CAST(${dotSql("p.qemb", "a.emb")} / (p.qnrm * a.nrm) AS DECIMAL(38, 12)), 6) AS DOUBLE) AS cos_sim
       |  FROM probes p JOIN assigned a USING (centroid_id)
       |  WHERE a.vec_id != p.query_id)
       |SELECT query_id, neighbor_id, cos_sim,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS "rank"
       |FROM scored QUALIFY "rank" <= ${EmbedSim.TopK}
       |ORDER BY query_id, "rank"""".stripMargin

  /** Oracle for q_rare_tokens: corpus token frequencies joined back to
    * the token stream, per-doc rare density (frequency <= RareMax).
    */
  val rareTokens: String =
    s"""WITH toks AS (SELECT doc_id, unnest(${wordsOf("text")}) AS tok
       |  FROM documents),
       |freq AS (SELECT tok, count(*) AS f FROM toks GROUP BY 1),
       |scored AS (SELECT doc_id,
       |    CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(sum(CASE WHEN f <= ${TextAnalysis.RareMax} THEN 1 ELSE 0
       |      END) AS BIGINT) AS n_rare
       |  FROM toks JOIN freq USING (tok) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(s.n_tokens, 0) AS n_tokens,
       |  coalesce(s.n_rare, 0) AS n_rare,
       |  coalesce(round(s.n_rare / s.n_tokens, 6), ${d(0.0)}) AS rare_ratio
       |FROM documents d LEFT JOIN scored s USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Oracle for q_edit_pairs: true Levenshtein distance over the LSH
    * candidate pairs (DuckDB computes the full DP; the engine's bounded
    * `levenshtein(l, r, threshold)` returns identical distances for every
    * pair at or under the bound, which the WHERE mirrors).
    */
  val editPairs: String =
    s"""WITH $signatureCtes
       |SELECT p.doc_a, p.doc_b,
       |  CAST(levenshtein(ca.text, cb.text) AS BIGINT) AS edit_dist
       |FROM pairs p
       |JOIN corpus ca ON p.doc_a = ca.doc_id
       |JOIN corpus cb ON p.doc_b = cb.doc_id
       |WHERE levenshtein(ca.text, cb.text) <= ${TextDedup.EditMax}
       |ORDER BY p.doc_a, p.doc_b""".stripMargin

  /** Oracle for q_pii_scrub: reproduces Pii.withPii's deterministic
    * seeding in SQL, then redacts with the SAME regex constants (Java
    * regex and RE2 agree on every construct used — classes, bounded
    * repetition, \b). DuckDB regexp_replace needs the explicit 'g' flag
    * to match Spark's replace-all default.
    */
  val piiScrub: String = {
    import graft.ops.Pii._
    s"""WITH seeded AS (
       |  SELECT doc_id, text ||
       |    CASE WHEN doc_id % 7 = 0
       |      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
       |      ELSE '' END ||
       |    CASE WHEN doc_id % 11 = 0
       |      THEN ' from 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.1'
       |      ELSE '' END ||
       |    CASE WHEN doc_id % 13 = 0 THEN ' call 555-123-4567' ELSE '' END
       |    AS text
       |  FROM documents),
       |sc AS (
       |  SELECT doc_id,
       |    len(regexp_extract_all(text, ${s(EmailRe)})) AS n_emails,
       |    len(regexp_extract_all(text, ${s(Ipv4Re)})) AS n_ips,
       |    len(regexp_extract_all(text, ${s(PhoneRe)})) AS n_phones,
       |    regexp_replace(regexp_replace(regexp_replace(text,
       |      ${s(EmailRe)}, '[EMAIL]', 'g'),
       |      ${s(Ipv4Re)}, '[IP]', 'g'),
       |      ${s(PhoneRe)}, '[PHONE]', 'g') AS stext
       |  FROM seeded)
       |SELECT doc_id,
       |  CAST(n_emails AS BIGINT) AS n_emails,
       |  CAST(n_ips AS BIGINT) AS n_ips,
       |  CAST(n_phones AS BIGINT) AS n_phones,
       |  CAST(length(stext) AS BIGINT) AS scrubbed_len,
       |  md5(stext) AS scrubbed_md5
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** Oracle for q_knn_pq (product-quantized ADC top-k; mirrors
    * graft.ops.EmbedPq). One tall (vec_id, m, semb) subvector CTE keys
    * every stage by subspace, so a single Lloyd's chain trains all M
    * codebooks at once: L2 assignment = argmax(round(dot − cn2/2, 6)),
    * quantized order-independent cell means, final encode + query lookup
    * table + integer-quantized ADC sum.
    */
  /** Shared PQ CTE chain (assumes an `emb0(vec_id, emb)` CTE): tall
    * subvector frame, seeds, [[EmbedPq.PqIters]] Lloyd's rounds, final
    * `codes`, query subvectors `qsub`, and the per-query ADC lookup
    * table `lut`. Used by both knnPq and knnIvfPq.
    */
  private val pqChainCtes: String = {
    val m = EmbedPq.SubSpaces
    val sd = EmbedPq.SubDim
    val k = EmbedPq.CodebookK
    val q6 = d(EmbedSim.QuantScale)
    def asg(name: String, cbName: String) =
      s"""$name AS (SELECT vec_id, m, code FROM (
         |  SELECT s.vec_id, s.m, c.code,
         |    row_number() OVER (PARTITION BY s.vec_id, s.m
         |      ORDER BY CAST(round(CAST(${dotSql("s.semb", "c.cemb")} - c.cn2 / 2 AS DECIMAL(38, 12)), 6) AS DOUBLE) DESC, c.code) AS rn
         |  FROM subs s JOIN $cbName c ON s.m = c.m) WHERE rn = 1)""".stripMargin
    def rebuild(i: Int) =
      s"""pcm$i AS (SELECT m, code, i,
         |    CAST(sum(CAST(floor(v * $q6 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / ($q6 * count(*)) AS cv
         |  FROM (SELECT a.m, a.code, unnest(s.semb) AS v,
         |      unnest(range(len(s.semb))) AS i
         |    FROM subs s JOIN pasg$i a ON s.vec_id = a.vec_id AND s.m = a.m)
         |  GROUP BY m, code, i),
         |pcb$i AS (SELECT m, code, cemb, ${dotSql("cemb", "cemb")} AS cn2
         |  FROM (SELECT m, code, list(cv ORDER BY i) AS cemb
         |    FROM pcm$i GROUP BY m, code))""".stripMargin
    val rounds = (1 to EmbedPq.PqIters).map { i =>
      asg(s"pasg$i", if (i == 1) "pcb0" else s"pcb${i - 1}") + ",\n" +
        rebuild(i)
    }.mkString(",\n")
    s"""subs AS (SELECT vec_id, m,
       |    list_slice(emb, m * $sd + 1, m * $sd + $sd) AS semb
       |  FROM emb0, (SELECT unnest(range($m)) AS m) mm),
       |seeds AS (SELECT vec_id AS sid,
       |    row_number() OVER (ORDER BY vec_id) - 1 AS code
       |  FROM (SELECT vec_id FROM emb0 ORDER BY vec_id LIMIT $k)),
       |pcb0 AS (SELECT s.m, sd.code, s.semb AS cemb,
       |    ${dotSql("s.semb", "s.semb")} AS cn2
       |  FROM subs s JOIN seeds sd ON s.vec_id = sd.sid),
       |$rounds,
       |${asg("codes", s"pcb${EmbedPq.PqIters}")},
       |qsub AS (SELECT vec_id AS query_id, m, semb AS qsemb FROM subs
       |  WHERE vec_id % ${EmbedSim.QueryMod} = 0),
       |lut AS (SELECT q.query_id, q.m, c.code,
       |    ${dotSql("q.qsemb", "c.cemb")} AS qdot, c.cn2
       |  FROM qsub q JOIN pcb${EmbedPq.PqIters} c ON q.m = c.m)""".stripMargin
  }

  /** Shared ADC-shortlist + exact-rerank SQL tail over a `scored`
    * (query_id, vec_id, adot, rn2) CTE; mirrors EmbedPq.rerankTail.
    */
  private val pqRerankSql: String =
    s"""qn AS (SELECT vec_id AS query_id, emb AS qemb,
       |    sqrt(${dotSql("emb", "emb")}) AS qnrm FROM emb0
       |  WHERE vec_id % ${EmbedSim.QueryMod} = 0),
       |short AS (SELECT query_id, vec_id FROM (
       |  SELECT s.query_id, s.vec_id, row_number() OVER (
       |      PARTITION BY s.query_id
       |      ORDER BY CAST(round(CAST(s.adot / (q.qnrm * sqrt(s.rn2))
       |        AS DECIMAL(38, 12)), 6) AS DOUBLE) DESC, s.vec_id) AS ar
       |  FROM scored s JOIN qn q ON q.query_id = s.query_id)
       |  WHERE ar <= ${EmbedPq.Rerank}),
       |rr AS (SELECT s.query_id, s.vec_id,
       |    CAST(round(CAST(${dotSql("q.qemb", "e.emb")} /
       |      (q.qnrm * sqrt(${dotSql("e.emb", "e.emb")}))
       |      AS DECIMAL(38, 12)), 6) AS DOUBLE) AS cos_sim
       |  FROM short s JOIN emb0 e ON e.vec_id = s.vec_id
       |  JOIN qn q ON q.query_id = s.query_id)
       |SELECT query_id, vec_id AS neighbor_id, cos_sim,
       |  CAST(rank AS INT) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, vec_id) AS rank FROM rr)
       |WHERE rank <= ${EmbedPq.TopK}
       |ORDER BY query_id, rank""".stripMargin

  val knnPq: String = {
    val q6 = d(EmbedSim.QuantScale)
    s"""WITH emb0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings),
       |$pqChainCtes,
       |scored AS (SELECT l.query_id, co.vec_id,
       |    CAST(sum(CAST(floor(l.qdot * $q6 + 0.5) AS BIGINT)) AS DOUBLE)
       |      / $q6 AS adot,
       |    CAST(sum(CAST(floor(l.cn2 * $q6 + 0.5) AS BIGINT)) AS DOUBLE)
       |      / $q6 AS rn2
       |  FROM codes co JOIN lut l ON co.m = l.m AND co.code = l.code
       |  WHERE co.vec_id != l.query_id
       |  GROUP BY 1, 2),
       |$pqRerankSql""".stripMargin
  }

  /** Oracle for q_knn_ivfpq: the IVF coarse chain (same Lloyd's CTEs as
    * q_knn_ivf) restricts the candidate set to the probed inverted
    * lists; the PQ chain (same CTEs as q_knn_pq) ADC-scores only those
    * candidates; shortlist + exact rerank shared with q_knn_pq.
    */
  val knnIvfPq: String = {
    val q6 = d(EmbedSim.QuantScale)
    s"""WITH emb0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings),
       |emb AS (SELECT vec_id, emb, sqrt(${dotSql("emb", "emb")}) AS nrm
       |  FROM emb0),
       |qv AS (SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm FROM emb
       |  WHERE vec_id % ${EmbedSim.QueryMod} = 0),
       |cmod AS (SELECT greatest(${EmbedSim.CentroidMod},
       |  CAST(floor(sqrt(count(*)) / 2) AS BIGINT)) AS m FROM embeddings),
       |cent0 AS (SELECT vec_id AS centroid_id, emb AS cemb, nrm AS cnrm
       |  FROM emb WHERE vec_id % (SELECT m FROM cmod) = 0),
       |${lloydCtes("emb", "cent0", EmbedSim.LloydIters)},
       |assigned AS (SELECT vec_id, centroid_id FROM (
       |  SELECT e.vec_id, c.centroid_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY CAST(round(CAST(${dotSql("e.emb", "c.cemb")} / (e.nrm * c.cnrm) AS DECIMAL(38, 12)), 6) AS DOUBLE) DESC, c.centroid_id) AS rn
       |  FROM emb e CROSS JOIN lcent${EmbedSim.LloydIters} c) WHERE rn = 1),
       |probes AS (SELECT query_id, centroid_id FROM (
       |  SELECT q.query_id, c.centroid_id,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY CAST(round(CAST(${dotSql("q.qemb", "c.cemb")} / (q.qnrm * c.cnrm) AS DECIMAL(38, 12)), 6) AS DOUBLE) DESC, c.centroid_id) AS rn
       |  FROM qv q CROSS JOIN lcent${EmbedSim.LloydIters} c)
       |  WHERE rn <= ${EmbedPq.IvfPqProbes}),
       |cand AS (SELECT p.query_id, a.vec_id
       |  FROM probes p JOIN assigned a USING (centroid_id)
       |  WHERE a.vec_id != p.query_id),
       |$pqChainCtes,
       |scored AS (SELECT c.query_id, c.vec_id,
       |    CAST(sum(CAST(floor(l.qdot * $q6 + 0.5) AS BIGINT)) AS DOUBLE)
       |      / $q6 AS adot,
       |    CAST(sum(CAST(floor(l.cn2 * $q6 + 0.5) AS BIGINT)) AS DOUBLE)
       |      / $q6 AS rn2
       |  FROM cand c JOIN codes co ON co.vec_id = c.vec_id
       |  JOIN lut l ON l.query_id = c.query_id
       |    AND l.m = co.m AND l.code = co.code
       |  GROUP BY 1, 2),
       |$pqRerankSql""".stripMargin
  }

  /** Oracle for q_hybrid_rank (reciprocal-rank fusion of the BM25
    * top-k and the cosine top-k; mirrors graft.ops.HybridRank — the
    * bm25 oracle embeds verbatim as a derived table, so the keyword
    * ranks cannot drift between the two oracles).
    */
  val hybridRank: String = {
    val K = graft.ops.HybridRank.RrfK
    s"""WITH bmq AS (SELECT * FROM ($bm25)),
       |br AS (SELECT doc_id, row_number() OVER (
       |    ORDER BY bm25 DESC, doc_id) AS kw_rank FROM bmq),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings),
       |qv AS (SELECT emb AS qemb FROM e
       |  WHERE vec_id = ${graft.ops.HybridRank.QueryVec}),
       |cosall AS (SELECT e.vec_id AS doc_id,
       |    CAST(round(CAST(${dotSql("e.emb", "q.qemb")} /
       |      (sqrt(${dotSql("e.emb", "e.emb")}) *
       |       sqrt(${dotSql("q.qemb", "q.qemb")})) AS DECIMAL(38, 12)), 6)
       |      AS DOUBLE) AS c
       |  FROM e, qv q WHERE e.vec_id != ${graft.ops.HybridRank.QueryVec}),
       |cr AS (SELECT doc_id, rn AS sem_rank FROM (
       |  SELECT doc_id, row_number() OVER (ORDER BY c DESC, doc_id) AS rn
       |  FROM cosall) WHERE rn <= ${graft.ops.HybridRank.CosK})
       |SELECT doc_id,
       |  CAST(kw_rank AS INT) AS kw_rank, CAST(sem_rank AS INT) AS sem_rank,
       |  CAST(round(CAST(
       |      coalesce(1.0 / ($K + kw_rank), 0.0) +
       |      coalesce(1.0 / ($K + sem_rank), 0.0)
       |    AS DECIMAL(38, 12)), 6) AS DOUBLE) AS rrf
       |FROM br FULL OUTER JOIN cr USING (doc_id)
       |ORDER BY rrf DESC, doc_id LIMIT ${graft.ops.HybridRank.OutK}""".stripMargin
  }

  /** Oracle for q_reservoir (deterministic per-source uniform sample:
    * k smallest md5 draws per source; the engine runs it through the
    * bounded-heap TopK physical operator, the oracle states the
    * row_number form).
    */
  val reservoir: String = {
    val salt = graft.ops.Sampling.ReservoirSalt
    val k = graft.ops.Sampling.ReservoirK
    s"""WITH drawn AS (SELECT source, doc_id,
       |    ('0x' || substr(md5(${s(salt)} ||
       |      CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS draw
       |  FROM documents),
       |r AS (SELECT *, row_number() OVER (PARTITION BY source
       |    ORDER BY draw, doc_id) AS rn FROM drawn)
       |SELECT source, doc_id, draw FROM r WHERE rn <= $k
       |ORDER BY source, draw, doc_id""".stripMargin
  }

  /** Oracle for q_corpus_diff (content-hash full-outer snapshot diff;
    * mirrors graft.ops.Snapshot.{newSnapshot, corpusDiff}).
    */
  val corpusDiff: String =
    s"""WITH oldc AS (SELECT doc_id, md5(text) AS old_hash FROM documents),
       |newc AS (
       |  SELECT doc_id,
       |    md5(CASE WHEN doc_id % 17 = 0 THEN text || ' revised'
       |             ELSE text END) AS new_hash
       |  FROM documents WHERE doc_id % 23 != 0
       |  UNION ALL
       |  SELECT doc_id + ${graft.ops.Snapshot.AddBase},
       |    md5('fresh ' || text)
       |  FROM documents WHERE doc_id % 19 = 0)
       |SELECT doc_id, old_hash, new_hash, status FROM (
       |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       |    o.old_hash, n.new_hash,
       |    CASE WHEN o.old_hash IS NULL THEN 'added'
       |         WHEN n.new_hash IS NULL THEN 'removed'
       |         WHEN o.old_hash != n.new_hash THEN 'changed'
       |         ELSE 'unchanged' END AS status
       |  FROM oldc o FULL OUTER JOIN newc n ON o.doc_id = n.doc_id)
       |WHERE status != 'unchanged'
       |ORDER BY doc_id""".stripMargin

  /** Oracle for q_weighted_sample (deterministic Efraimidis-Spirakis
    * weighted sample: key = ln((h32+1)/2^32)/weight, k largest per
    * source; mirrors graft.ops.Sampling.weightedSample — ranking on the
    * raw double, display quantized to 6dp through DECIMAL(38,12) like
    * the idf precedent).
    */
  val weightedSample: String = {
    val salt = graft.ops.Sampling.WeightedSalt
    val k = graft.ops.Sampling.WeightedK
    s"""WITH drawn AS (SELECT source, doc_id,
       |    greatest(1, len(${wordsOf("text")})) AS weight,
       |    ln((${h32(salt, "doc_id")} + 1) / 4294967296.0) /
       |      greatest(1, len(${wordsOf("text")})) AS _k
       |  FROM documents),
       |r AS (SELECT *, row_number() OVER (PARTITION BY source
       |    ORDER BY _k DESC, doc_id) AS rn FROM drawn)
       |SELECT source, doc_id, CAST(weight AS BIGINT) AS weight,
       |  CAST(round(CAST(_k AS DECIMAL(38, 12)), 6) AS DOUBLE) AS es_key
       |FROM r WHERE rn <= $k
       |ORDER BY source, doc_id""".stripMargin
  }

  /** Oracle for q_lm_score (corpus bigram-LM predictability; mirrors
    * TextAnalysis.lmScore — MLE conditional probabilities as exact
    * long/long doubles, quantized order-independent per-doc mean).
    */
  private val lmCtes: String =
    s"""d AS (SELECT doc_id, ${wordsOf("text")} AS ws FROM documents),
       |bg AS (SELECT doc_id, ws[i + 1] AS w1, ws[i + 2] AS w2
       |  FROM (SELECT doc_id, ws, unnest(range(len(ws) - 1)) AS i
       |    FROM d WHERE len(ws) >= 2)),
       |cb AS (SELECT w1, w2, count(*) AS _cb FROM bg GROUP BY 1, 2),
       |cp AS (SELECT w1, count(*) AS _cp FROM bg GROUP BY 1),
       |q AS (SELECT doc_id,
       |    CAST(floor(_cb / _cp * 1000000000.0 + 0.5) AS BIGINT) AS qv
       |  FROM bg JOIN cb USING (w1, w2) JOIN cp USING (w1)),
       |s AS (SELECT doc_id, count(*) AS n_bigrams, sum(qv) AS sq
       |  FROM q GROUP BY 1)""".stripMargin

  private val lmAvgCondp: String =
    """coalesce(CAST(round(CAST(
      |      (CAST(sq AS DOUBLE) / 1000000000.0) / n_bigrams
      |    AS DECIMAL(38, 12)), 6) AS DOUBLE), 0.0)""".stripMargin

  val lmScore: String =
    s"""WITH $lmCtes
       |SELECT d.doc_id,
       |  CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |  $lmAvgCondp AS avg_condp
       |FROM d LEFT JOIN s USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Oracle for q_ccnet_buckets (per-source perplexity terciles over the
    * bigram-LM score; mirrors graft.ops.Ccnet.buckets — the window ntile
    * here IS the semantics the two-phase distributed rank reproduces).
    */
  val ccnetBuckets: String =
    s"""WITH $lmCtes,
       |lm AS (SELECT d.doc_id, $lmAvgCondp AS avg_condp
       |  FROM d LEFT JOIN s USING (doc_id)),
       |j AS (SELECT doc.doc_id, doc.source, lm.avg_condp
       |  FROM documents doc JOIN lm USING (doc_id))
       |SELECT doc_id, source, avg_condp,
       |  CASE ntile(${graft.ops.Ccnet.NBuckets}) OVER (PARTITION BY source
       |      ORDER BY avg_condp DESC, doc_id)
       |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
       |  END AS bucket
       |FROM j ORDER BY source, doc_id""".stripMargin

  /** Oracle for q_dsir (hashed n-gram importance resampling; mirrors
    * graft.ops.Dsir — rational target-affinity score, md5-residue
    * resampling draw). Gram multiset = unigrams ∪ bigrams WITH
    * multiplicity, stated as a UNION ALL instead of Spark's per-row
    * array concat.
    */
  val dsir: String = {
    val b = graft.ops.Dsir.Buckets
    val salt = graft.ops.Dsir.KeepSalt
    s"""WITH w AS (SELECT doc_id, lang = 'en' AS t,
       |    ${wordsOf("text")} AS ws
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, t, unnest(ws) AS gram FROM w
       |  UNION ALL
       |  SELECT doc_id, t, unnest(list_transform(range(len(ws) - 1),
       |      i -> ws[i + 1] || ' ' || ws[i + 2])) AS gram
       |  FROM w WHERE len(ws) >= 2),
       |gb AS (SELECT doc_id, t, ${h56("gram")} % $b AS bucket FROM g),
       |tab AS (SELECT bucket, count(*) AS q_cnt,
       |    sum(CASE WHEN t THEN 1 ELSE 0 END) AS p_cnt
       |  FROM gb GROUP BY 1),
       |sums AS (SELECT gb.doc_id, sum(p_cnt) AS th, sum(q_cnt) AS ch
       |  FROM gb JOIN tab USING (bucket) GROUP BY 1),
       |j AS (SELECT d.doc_id,
       |    coalesce(th, 0) AS th, coalesce(ch, 0) AS ch,
       |    CASE WHEN coalesce(ch, 0) > 0
       |      THEN CAST(th AS DOUBLE) / ch ELSE 0.0 END AS sc
       |  FROM documents d LEFT JOIN sums ON d.doc_id = sums.doc_id)
       |SELECT doc_id,
       |  CAST(th AS BIGINT) AS target_hits,
       |  CAST(ch AS BIGINT) AS corpus_hits,
       |  CAST(round(CAST(sc AS DECIMAL(38, 12)), 6) AS DOUBLE) AS score,
       |  (('0x' || substr(md5(${s(salt)} ||
       |      CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000) / 10000.0
       |    < least(1.0, sc) AS kept
       |FROM j ORDER BY doc_id""".stripMargin
  }

  /** Oracle for q_keyterms. Mirrors TextAnalysis.keyterms: rational
    * tf·N/df idf, rank on the ROUNDED score with word as tiebreak (the
    * window formulation of the Spark side's bounded-heap TopK).
    */
  val keyterms: String =
    s"""WITH t AS (SELECT doc_id, unnest(${wordsOf("text")}) AS word
       |  FROM documents),
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM t GROUP BY 1, 2),
       |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n FROM documents),
       |s AS (SELECT doc_id, word, tf, df,
       |    CAST(round(CAST(CAST(tf * n AS DOUBLE) / df
       |      AS DECIMAL(38, 12)), 6) AS DOUBLE) AS tfidf
       |  FROM tf JOIN df USING (word) CROSS JOIN n),
       |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY tfidf DESC, word) AS rn FROM s)
       |SELECT doc_id, word, CAST(tf AS BIGINT) AS tf,
       |  CAST(df AS BIGINT) AS df, tfidf
       |FROM r WHERE rn <= ${TextAnalysis.KeytermsK}
       |ORDER BY doc_id, tfidf DESC, word""".stripMargin

  /** Oracle for q_ngram_novelty. Mirrors TextAnalysis.ngramNovelty:
    * distinct k-gram shingles hashed h56, document frequency by GROUP BY,
    * one int/int division rounded once.
    */
  val ngramNovelty: String = {
    val k = TextAnalysis.NoveltyK
    s"""WITH d AS (SELECT doc_id, ${wordsOf("text")} AS words
       |  FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(len(words) - ${k - 1}),
       |      i -> list_aggregate(list_slice(words, i + 1, i + $k),
       |             'string_agg', ' ')))) AS gram
       |  FROM d WHERE len(words) >= $k),
       |h AS (SELECT doc_id, ${h56("gram")} AS gh FROM g),
       |f AS (SELECT gh, count(*) AS df FROM h GROUP BY 1),
       |s AS (SELECT doc_id, count(*) AS n_grams,
       |    sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS shared
       |  FROM h JOIN f USING (gh) GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
       |  CAST(coalesce(shared, 0) AS BIGINT) AS shared_grams,
       |  CAST(round(CAST(${d(1.0)} - coalesce(shared, 0)
       |      / greatest(coalesce(n_grams, 0), 1)
       |    AS DECIMAL(38, 12)), 6) AS DOUBLE) AS novelty
       |FROM d LEFT JOIN s USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  /** Oracle for q_url_dedup. Mirrors Url.withUrls seeding + Url.canonical
    * + the min-doc_id winner and per-domain cap (window formulation — the
    * technique differs from Spark's groupBy/TopK, the values must not).
    */
  val urlDedup: String = {
    val page = "'site' || CAST(doc_id % 37 AS VARCHAR) || '.com/page' " +
      "|| CAST(doc_id % 11 AS VARCHAR)"
    // NOTE: no line may START with `||` — the outer stripMargin would eat
    // one pipe of the concat operator
    val url = s"""CASE WHEN doc_id % 4 = 0 THEN 'https://www.' || $page
      WHEN doc_id % 4 = 1 THEN 'http://' || $page || '/'
      WHEN doc_id % 4 = 2 THEN 'https://' || $page ||
        '?utm_source=feed&ref=' || CAST(doc_id AS VARCHAR)
      ELSE 'https://www.' || $page || '#section' || CAST(doc_id AS VARCHAR)
      END"""
    val canon = """regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(lower(url), '^https?://', ''),
      '^www\.', ''), '[?#].*$', ''), '/$', '')"""
    s"""WITH u AS (SELECT doc_id, $url AS url FROM documents),
       |c AS (SELECT doc_id, url, $canon AS canon FROM u),
       |t AS (SELECT doc_id, url, canon,
       |    regexp_replace(canon, '/.*$$', '') AS domain,
       |    doc_id = min(doc_id) OVER (PARTITION BY canon) AS url_winner
       |  FROM c),
       |r AS (SELECT doc_id,
       |    row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
       |  FROM t WHERE url_winner)
       |SELECT t.doc_id, url, canon, domain, url_winner,
       |  coalesce(rn <= ${graft.ops.Url.DomainCap}, FALSE) AS kept
       |FROM t LEFT JOIN r ON t.doc_id = r.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  /** Oracle for q_gopher_rules. Mirrors TextAnalysis.gopherRules: every
    * threshold test is exact integer arithmetic (no float boundaries);
    * the fractional diagnostics are one int/int division rounded once.
    */
  val gopherRules: String = {
    import graft.ops.TextAnalysis._
    val tests = Seq(
      "word_count" -> s"wc BETWEEN $GopherMinWords AND $GopherMaxWords",
      "mean_word_len" ->
        s"chars BETWEEN $GopherMinMeanWl * wc AND $GopherMaxMeanWl * wc",
      "alpha_frac" -> "alphaw * 5 >= wc * 4",
      "stopwords" -> s"stops >= $GopherMinStops")
    val keep = tests.map(_._2).mkString("(", ") AND (", ")")
    val reason = tests.map { case (name, t) =>
      s"WHEN NOT ($t) THEN ${s(name)}"
    }.mkString("CASE ", " ", " ELSE NULL END")
    s"""WITH d AS (SELECT doc_id, ${wordsOf("text")} AS words,
       |  lower(text) AS lc FROM documents),
       |b AS (SELECT doc_id, len(words) AS wc,
       |  length(array_to_string(words, '')) AS chars,
       |  len(list_filter(words, x -> regexp_matches(x, '[a-z]')))
       |    AS alphaw,
       |  len(regexp_extract_all(lc, ${s(graft.rules.Rules.EnStopwords)}))
       |    AS stops
       |  FROM d)
       |SELECT doc_id, CAST(wc AS INT) AS word_count,
       |  CAST(round(CAST(CAST(chars AS DOUBLE) / greatest(wc, 1)
       |    AS DECIMAL(38, 12)), 4) AS DOUBLE) AS mean_word_len,
       |  CAST(round(CAST(CAST(alphaw AS DOUBLE) / greatest(wc, 1)
       |    AS DECIMAL(38, 12)), 4) AS DOUBLE) AS alpha_frac,
       |  CAST(stops AS BIGINT) AS stop_count,
       |  $keep AS keep,
       |  $reason AS reject_reason
       |FROM b ORDER BY doc_id""".stripMargin
  }

  /** Oracle for q_ingest_gate: the streaming ingest gate's batch form —
    * the Gopher verdict columns (same arithmetic as [[gopherRules]])
    * left-joined with the decontamination shared-gram count (same gram
    * rule as [[decontaminateK]], benchmark = doc_id % 97 = 0 stand-in at
    * the synthetic 3-gram), admit = keep AND n_shared_grams = 0.
    */
  val ingestGate: String = {
    import graft.ops.TextAnalysis._
    val k = TextDedup.ContamGramSynthetic
    val tests = Seq(
      "word_count" -> s"wc BETWEEN $GopherMinWords AND $GopherMaxWords",
      "mean_word_len" ->
        s"chars BETWEEN $GopherMinMeanWl * wc AND $GopherMaxMeanWl * wc",
      "alpha_frac" -> "alphaw * 5 >= wc * 4",
      "stopwords" -> s"stops >= $GopherMinStops")
    val keep = tests.map(_._2).mkString("(", ") AND (", ")")
    val reason = tests.map { case (name, t) =>
      s"WHEN NOT ($t) THEN ${s(name)}"
    }.mkString("CASE ", " ", " ELSE NULL END")
    import graft.ops.TextAnalysis.{ClfBuckets, ClfCycle, ClfKnuth}
    val clfHalf = (ClfCycle - 1) / 2
    s"""WITH d AS (SELECT doc_id, ${wordsOf("text")} AS words,
       |  lower(text) AS lc FROM documents),
       |b AS (SELECT doc_id, len(words) AS wc,
       |  length(array_to_string(words, '')) AS chars,
       |  len(list_filter(words, x -> regexp_matches(x, '[a-z]')))
       |    AS alphaw,
       |  len(regexp_extract_all(lc, ${s(graft.rules.Rules.EnStopwords)}))
       |    AS stops,
       |  CAST(coalesce(list_sum(list_transform(words, w ->
       |    (${h56("w")} % $ClfBuckets) * $ClfKnuth % $ClfCycle - $clfHalf)),
       |    0) AS BIGINT) AS clfscore
       |  FROM d),
       |g AS (SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(len(words) - ${k - 1}),
       |      i -> list_aggregate(list_slice(words, i + 1, i + $k),
       |             'string_agg', ' ')))) AS gram
       |  FROM d WHERE len(words) >= $k),
       |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
       |contam AS (SELECT g.doc_id,
       |  CAST(count(DISTINCT g.gram) AS BIGINT) AS n_shared
       |  FROM g JOIN bench USING (gram)
       |  WHERE g.doc_id % 97 != 0 GROUP BY 1)
       |SELECT b.doc_id, CAST(wc AS INT) AS word_count,
       |  CAST(round(CAST(CAST(chars AS DOUBLE) / greatest(wc, 1)
       |    AS DECIMAL(38, 12)), 4) AS DOUBLE) AS mean_word_len,
       |  CAST(round(CAST(CAST(alphaw AS DOUBLE) / greatest(wc, 1)
       |    AS DECIMAL(38, 12)), 4) AS DOUBLE) AS alpha_frac,
       |  CAST(stops AS BIGINT) AS stop_count,
       |  $keep AS keep,
       |  $reason AS reject_reason,
       |  CASE WHEN wc > 0
       |       THEN round(CAST(clfscore AS DOUBLE) / wc, 4)
       |       ELSE 0.0 END AS clf_mean_weight,
       |  wc > 0 AND clfscore >= 0 AS clf_keep,
       |  CAST(coalesce(n_shared, 0) AS BIGINT) AS n_shared_grams,
       |  ($keep) AND coalesce(n_shared, 0) = 0 AS admit,
       |  ($keep) AND coalesce(n_shared, 0) = 0
       |    AND wc > 0 AND clfscore >= 0 AS admit_clf
       |FROM b LEFT JOIN contam USING (doc_id) ORDER BY b.doc_id""".stripMargin
  }

  /** Oracle for q_image_dups: the perceptual-hash image near-dup pairs,
    * derived INDEPENDENTLY of any decoder — the synthetic corpus's
    * rasters are pure arithmetic in (group, variant, x, y)
    * ([[graft.ops.ImageDedup.luma]], replicated here verbatim), so
    * DuckDB re-derives every pixel, block mean (the x·9//w convention,
    * integer division), dHash bit, band bucket, and exact hamming
    * verify from first principles. The Spark side decodes REAL PNG/BMP
    * payloads through ImageIO — a divergence anywhere in the codec
    * round-trip, luma fold, grid convention, or bit packing fails this
    * oracle. bit_or packs the signature (bit 63 would overflow a
    * summed BIGINT).
    */
  val imageDups: String = {
    import graft.ops.ImageDedup._
    val gw = graft.functions.ImageDHashUtil.GridW
    val gh = graft.functions.ImageDHashUtil.GridH
    val mask = (1L << ImgBandBits) - 1
    val base = s"(g*37 + bx*(73 + 7*(g%13)) + by*(151 + 5*(g%11)) +" +
      s" bx*by*(29 + 3*(g%7))) % $LumaMod"
    s"""WITH gs AS (SELECT unnest(range($Groups)) AS g),
       |vs AS (SELECT unnest(range(4)) AS v),
       |imgs AS (SELECT g*4 + v AS media_id, g, v,
       |    CASE WHEN v = 1 THEN ${2 * BaseW} ELSE $BaseW END AS w,
       |    CASE WHEN v = 1 THEN ${2 * BaseH} ELSE $BaseH END AS h
       |  FROM gs, vs),
       |xs AS (SELECT unnest(range(${2 * BaseW})) AS x),
       |ys AS (SELECT unnest(range(${2 * BaseH})) AS y),
       |px AS (SELECT media_id, g, v, x, y, w, h,
       |    CASE WHEN v = 1 THEN x // 2 ELSE x END AS bx,
       |    CASE WHEN v = 1 THEN y // 2 ELSE y END AS by
       |  FROM imgs, xs, ys WHERE x < w AND y < h),
       |lum AS (SELECT media_id, x * $gw // w AS gx, y * $gh // h AS gy,
       |    (CASE
       |       WHEN v = 3
       |         THEN (g*37 + 11 + bx*(101 + 9*(g%17)) + by*(47 + 5*(g%19))
       |               + bx*by*(13 + 3*(g%23))) % $LumaMod
       |       WHEN v = 2 AND bx * $gw // $BaseW = $PatchGx
       |            AND by * $gh // $BaseH = $PatchGy
       |         THEN ($base + $PatchAdd) % $LumaMod
       |       ELSE $base
       |     END) + CASE WHEN v = 1 THEN $Shift ELSE 0 END AS lum
       |  FROM px),
       |grid AS (SELECT media_id, gx, gy, sum(lum) // count(*) AS m
       |  FROM lum GROUP BY 1, 2, 3),
       |sig AS (SELECT a.media_id,
       |    bit_or(CASE WHEN b.m <= a.m THEN 0
       |      WHEN a.gy*8 + a.gx = 63 THEN (-9223372036854775807 - 1)
       |      ELSE (1::BIGINT << (a.gy*8 + a.gx)) END) AS h
       |  FROM grid a JOIN grid b ON a.media_id = b.media_id
       |    AND b.gy = a.gy AND b.gx = a.gx + 1
       |  GROUP BY 1),
       |bands AS (SELECT media_id, i, (h >> ($ImgBandBits * i)) & $mask AS bv
       |  FROM sig CROSS JOIN
       |    (SELECT unnest(range($ImgBands)) AS i)),
       |okb AS (SELECT i, bv FROM bands GROUP BY i, bv
       |  HAVING count(*) <= ${graft.ops.TextDedup.MaxBucket}),
       |pairs AS (SELECT DISTINCT a.media_id AS img_a, b2.media_id AS img_b
       |  FROM bands a
       |  JOIN okb ON okb.i = a.i AND okb.bv = a.bv
       |  JOIN bands b2 ON a.i = b2.i AND a.bv = b2.bv
       |    AND a.media_id < b2.media_id)
       |SELECT p.img_a, p.img_b,
       |  CAST(bit_count(xor(sa.h, sb.h)) AS BIGINT) AS hamming
       |FROM pairs p
       |JOIN sig sa ON p.img_a = sa.media_id
       |JOIN sig sb ON p.img_b = sb.media_id
       |WHERE bit_count(xor(sa.h, sb.h)) <= $ImgHamMax
       |ORDER BY img_a, img_b""".stripMargin
  }

  /** Oracle for q_image_dups_incr: the incremental perceptual tier —
    * today's batch (re-ingested assets at +IncShift brightness, BMP; and
    * genuinely new images) against the standing corpus's fingerprints.
    * Every raster on BOTH sides is re-derived from the generator
    * arithmetic (including the increment's brightness delta), bands are
    * capped on the STANDING side only, and candidates are
    * increment-x-index band matches — mirroring
    * Perceptual.bandedDupsIncremental bit for bit.
    */
  val imageDupsIncr: String = {
    import graft.ops.ImageDedup._
    val gw = graft.functions.ImageDHashUtil.GridW
    val gh = graft.functions.ImageDHashUtil.GridH
    val mask = (1L << ImgBandBits) - 1
    val base = s"(g*37 + bx*(73 + 7*(g%13)) + by*(151 + 5*(g%11)) +" +
      s" bx*by*(29 + 3*(g%7))) % $LumaMod"
    val inc = s"(g*41 + 23 + bx*(89 + 11*(g%19)) + by*(59 + 7*(g%17)) +" +
      s" bx*by*(17 + 5*(g%13))) % $LumaMod"
    s"""WITH gs AS (SELECT unnest(range($Groups)) AS g),
       |imgs AS (
       |  SELECT g*4 + v AS media_id, g, v,
       |    CASE WHEN v = 1 THEN ${2 * BaseW} ELSE $BaseW END AS w,
       |    CASE WHEN v = 1 THEN ${2 * BaseH} ELSE $BaseH END AS h
       |  FROM gs, (SELECT unnest(range(4)) AS v)
       |  UNION ALL
       |  SELECT $NewMediaBase + g, g,
       |    CASE WHEN g % 3 = 0 THEN 10 ELSE 11 END,
       |    $BaseW, $BaseH
       |  FROM gs WHERE g % 3 != 2),
       |xs AS (SELECT unnest(range(${2 * BaseW})) AS x),
       |ys AS (SELECT unnest(range(${2 * BaseH})) AS y),
       |px AS (SELECT media_id, g, v, x, y, w, h,
       |    CASE WHEN v = 1 THEN x // 2 ELSE x END AS bx,
       |    CASE WHEN v = 1 THEN y // 2 ELSE y END AS by
       |  FROM imgs, xs, ys WHERE x < w AND y < h),
       |lum AS (SELECT media_id, x * $gw // w AS gx, y * $gh // h AS gy,
       |    (CASE
       |       WHEN v = 3
       |         THEN (g*37 + 11 + bx*(101 + 9*(g%17)) + by*(47 + 5*(g%19))
       |               + bx*by*(13 + 3*(g%23))) % $LumaMod
       |       WHEN v = 11 THEN $inc
       |       WHEN v = 2 AND bx * $gw // $BaseW = $PatchGx
       |            AND by * $gh // $BaseH = $PatchGy
       |         THEN ($base + $PatchAdd) % $LumaMod
       |       ELSE $base
       |     END) + CASE WHEN v = 1 THEN $Shift
       |                 WHEN v = 10 THEN $IncShift ELSE 0 END AS lum
       |  FROM px),
       |grid AS (SELECT media_id, gx, gy, sum(lum) // count(*) AS m
       |  FROM lum GROUP BY 1, 2, 3),
       |sig AS (SELECT a.media_id,
       |    bit_or(CASE WHEN b.m <= a.m THEN 0
       |      WHEN a.gy*8 + a.gx = 63 THEN (-9223372036854775807 - 1)
       |      ELSE (1::BIGINT << (a.gy*8 + a.gx)) END) AS h
       |  FROM grid a JOIN grid b ON a.media_id = b.media_id
       |    AND b.gy = a.gy AND b.gx = a.gx + 1
       |  GROUP BY 1),
       |bands AS (SELECT media_id, i, (h >> ($ImgBandBits * i)) & $mask AS bv
       |  FROM sig CROSS JOIN
       |    (SELECT unnest(range($ImgBands)) AS i)),
       |ixb AS (SELECT * FROM bands WHERE media_id < $NewMediaBase),
       |okb AS (SELECT i, bv FROM ixb GROUP BY i, bv
       |  HAVING count(*) <= ${graft.ops.TextDedup.MaxBucket}),
       |cand AS (SELECT DISTINCT ix.media_id AS indexed_id,
       |    f.media_id AS new_id
       |  FROM bands f
       |  JOIN ixb ix ON f.i = ix.i AND f.bv = ix.bv
       |  JOIN okb ON okb.i = ix.i AND okb.bv = ix.bv
       |  WHERE f.media_id >= $NewMediaBase)
       |SELECT c.indexed_id, c.new_id,
       |  CAST(bit_count(xor(sa.h, sb.h)) AS BIGINT) AS hamming
       |FROM cand c
       |JOIN sig sa ON c.indexed_id = sa.media_id
       |JOIN sig sb ON c.new_id = sb.media_id
       |WHERE bit_count(xor(sa.h, sb.h)) <= $ImgHamMax
       |ORDER BY indexed_id, new_id""".stripMargin
  }

  /** Oracle for q_audio_dups: the acoustic-fingerprint near-dup pairs,
    * derived INDEPENDENTLY of any decoder — the synthetic corpus's
    * frame energies are pure arithmetic in (group, variant, frame)
    * ([[graft.ops.AudioDedup.amp]], replicated here verbatim), so
    * DuckDB re-derives every frame amplitude, neighbor-delta bit, band
    * bucket, and exact hamming verify from first principles. The Spark
    * side decodes REAL WAV payloads through javax.sound.sampled — a
    * divergence anywhere in the container round-trip, the |sample|
    * fold, the 65-frame convention, or the bit packing fails this
    * oracle. Within one clip every frame holds the same sample count,
    * so the engine's cross-multiplied mean comparison reduces exactly
    * to comparing the per-frame amplitudes (v1's 2x gain and 2x
    * duplication scale both sides equally — which is WHY its
    * fingerprint equals v0's, and why the oracle needs no v1-specific
    * arithmetic). bit_or packs the signature (bit 63 would overflow a
    * summed BIGINT).
    */
  val audioDups: String = {
    import graft.ops.AudioDedup._
    val nf = graft.functions.AudioFingerprintUtil.Frames
    val mask = (1L << AudBandBits) - 1
    val base = s"(g*37 + f*(73 + 7*(g%13)) + f*f*(29 + 3*(g%7))) % $AmpMod"
    s"""WITH gs AS (SELECT unnest(range($Groups)) AS g),
       |vs AS (SELECT unnest(range(4)) AS v),
       |fs AS (SELECT unnest(range($nf)) AS f),
       |amps AS (SELECT g*4 + v AS media_id, f,
       |    CASE
       |      WHEN v = 3
       |        THEN (g*37 + 11 + f*(101 + 9*(g%17))
       |              + f*f*(13 + 3*(g%23))) % $AmpMod
       |      WHEN v = 2 AND f = $PatchF
       |        THEN ($base + $PatchAdd) % $AmpMod
       |      ELSE $base
       |    END AS a
       |  FROM gs, vs, fs),
       |sig AS (SELECT x.media_id,
       |    bit_or(CASE WHEN y.a <= x.a THEN 0
       |      WHEN x.f = 63 THEN (-9223372036854775807 - 1)
       |      ELSE (1::BIGINT << x.f) END) AS h
       |  FROM amps x JOIN amps y ON x.media_id = y.media_id
       |    AND y.f = x.f + 1
       |  GROUP BY 1),
       |bands AS (SELECT media_id, i, (h >> ($AudBandBits * i)) & $mask AS bv
       |  FROM sig CROSS JOIN
       |    (SELECT unnest(range($AudBands)) AS i)),
       |okb AS (SELECT i, bv FROM bands GROUP BY i, bv
       |  HAVING count(*) <= ${graft.ops.TextDedup.MaxBucket}),
       |pairs AS (SELECT DISTINCT a.media_id AS clip_a, b2.media_id AS clip_b
       |  FROM bands a
       |  JOIN okb ON okb.i = a.i AND okb.bv = a.bv
       |  JOIN bands b2 ON a.i = b2.i AND a.bv = b2.bv
       |    AND a.media_id < b2.media_id)
       |SELECT p.clip_a, p.clip_b,
       |  CAST(bit_count(xor(sa.h, sb.h)) AS BIGINT) AS hamming
       |FROM pairs p
       |JOIN sig sa ON p.clip_a = sa.media_id
       |JOIN sig sb ON p.clip_b = sb.media_id
       |WHERE bit_count(xor(sa.h, sb.h)) <= $AudHamMax
       |ORDER BY clip_a, clip_b""".stripMargin
  }

  /** Oracle for q_audio_dups_incr: the incremental acoustic tier —
    * today's batch (re-ingested clips at IncGain x gain, fingerprint-
    * identical by the cross-multiplied mean comparison, plus genuinely
    * new clips) against the standing corpus's fingerprints. Bands
    * capped on the STANDING side only; candidates are increment-x-index
    * band matches — Perceptual.bandedDupsIncremental, decoder-free.
    */
  val audioDupsIncr: String = {
    import graft.ops.AudioDedup._
    val nf = graft.functions.AudioFingerprintUtil.Frames
    val mask = (1L << AudBandBits) - 1
    val base = s"(g*37 + f*(73 + 7*(g%13)) + f*f*(29 + 3*(g%7))) % $AmpMod"
    val inc = s"(g*41 + 29 + f*(97 + 11*(g%19)) + f*f*(19 + 7*(g%13)))" +
      s" % $AmpMod"
    s"""WITH gs AS (SELECT unnest(range($Groups)) AS g),
       |fs AS (SELECT unnest(range($nf)) AS f),
       |clips AS (
       |  SELECT g*4 + v AS media_id, g, v
       |  FROM gs, (SELECT unnest(range(4)) AS v)
       |  UNION ALL
       |  SELECT $NewMediaBase + g, g,
       |    CASE WHEN g % 3 = 0 THEN 10 ELSE 11 END
       |  FROM gs WHERE g % 3 != 2),
       |amps AS (SELECT media_id, f,
       |    CASE
       |      WHEN v = 3
       |        THEN (g*37 + 11 + f*(101 + 9*(g%17))
       |              + f*f*(13 + 3*(g%23))) % $AmpMod
       |      WHEN v = 11 THEN $inc
       |      WHEN v = 2 AND f = $PatchF
       |        THEN ($base + $PatchAdd) % $AmpMod
       |      ELSE $base
       |    END AS a
       |  FROM clips, fs),
       |sig AS (SELECT x.media_id,
       |    bit_or(CASE WHEN y.a <= x.a THEN 0
       |      WHEN x.f = 63 THEN (-9223372036854775807 - 1)
       |      ELSE (1::BIGINT << x.f) END) AS h
       |  FROM amps x JOIN amps y ON x.media_id = y.media_id
       |    AND y.f = x.f + 1
       |  GROUP BY 1),
       |bands AS (SELECT media_id, i, (h >> ($AudBandBits * i)) & $mask AS bv
       |  FROM sig CROSS JOIN
       |    (SELECT unnest(range($AudBands)) AS i)),
       |ixb AS (SELECT * FROM bands WHERE media_id < $NewMediaBase),
       |okb AS (SELECT i, bv FROM ixb GROUP BY i, bv
       |  HAVING count(*) <= ${graft.ops.TextDedup.MaxBucket}),
       |cand AS (SELECT DISTINCT ix.media_id AS indexed_id,
       |    f.media_id AS new_id
       |  FROM bands f
       |  JOIN ixb ix ON f.i = ix.i AND f.bv = ix.bv
       |  JOIN okb ON okb.i = ix.i AND okb.bv = ix.bv
       |  WHERE f.media_id >= $NewMediaBase)
       |SELECT c.indexed_id, c.new_id,
       |  CAST(bit_count(xor(sa.h, sb.h)) AS BIGINT) AS hamming
       |FROM cand c
       |JOIN sig sa ON c.indexed_id = sa.media_id
       |JOIN sig sb ON c.new_id = sb.media_id
       |WHERE bit_count(xor(sa.h, sb.h)) <= $AudHamMax
       |ORDER BY indexed_id, new_id""".stripMargin
  }

  /** Oracle for q_video_dups: frame-set-containment video near-dup,
    * derived INDEPENDENTLY of any decoder — the synthetic corpus's
    * frame rasters are pure arithmetic in (group, variant, frame, x, y)
    * ([[graft.ops.VideoDedup.luma]], replicated here verbatim,
    * INCLUDING variant 1's frame-rate doubling and brightness shift),
    * so DuckDB re-derives every pixel, block mean, per-frame dHash bit,
    * distinct frame-hash set, capped inverted-index pairing, and
    * containment ratio from first principles. The Spark side walks REAL
    * RIFF/AVI raw-DIB payloads — a divergence anywhere in the container
    * walk, the bottom-up row order, the luma fold, the shared grid
    * convention, or the set algebra fails this oracle. The overlap
    * division is two exact BIGINTs, bit-identical across engines.
    */
  val videoDups: String = {
    import graft.ops.VideoDedup._
    val gw = graft.functions.ImageDHashUtil.GridW
    val gh = graft.functions.ImageDHashUtil.GridH
    val base = s"(g*37 + t*61 + x*(73 + 7*((g+3*t)%13))" +
      s" + y*(151 + 5*((g+2*t)%11)) + x*y*(29 + 3*((g+t)%7))) % $LumaMod"
    val unrel = s"(g*37 + 11 + t*53 + x*(101 + 9*((g+2*t)%17))" +
      s" + y*(47 + 5*((g+t)%19)) + x*y*(13 + 3*((g+3*t)%23))) % $LumaMod"
    s"""WITH gs AS (SELECT (row_number() OVER () - 1) // $ClipScaleDiv AS g
       |    FROM events
       |  UNION SELECT unnest(range(4)) AS g),
       |vids AS (SELECT g*4 + v AS media_id, g, v
       |  FROM gs, (SELECT unnest(range(4)) AS v)),
       |fr AS (SELECT media_id, g, v, tt,
       |    CASE WHEN v = 1 THEN tt // 2
       |         WHEN v = 2 THEN tt + $TrimStart ELSE tt END AS t,
       |    CASE WHEN v = 1 THEN $Shift ELSE 0 END AS sh
       |  FROM vids, (SELECT unnest(range(${2 * NFrames})) AS tt)
       |  WHERE tt < CASE WHEN v = 1 THEN ${2 * NFrames}
       |    WHEN v = 2 THEN ${NFrames - TrimStart} ELSE $NFrames END),
       |xs AS (SELECT unnest(range($BaseW)) AS x),
       |ys AS (SELECT unnest(range($BaseH)) AS y),
       |lum AS (SELECT media_id, tt, x * $gw // $BaseW AS gx,
       |    y * $gh // $BaseH AS gy,
       |    (CASE WHEN v = 3 THEN $unrel ELSE $base END) + sh AS lum
       |  FROM fr, xs, ys),
       |grid AS (SELECT media_id, tt, gx, gy, sum(lum) // count(*) AS m
       |  FROM lum GROUP BY 1, 2, 3, 4),
       |sig AS (SELECT a.media_id, a.tt,
       |    bit_or(CASE WHEN b.m <= a.m THEN 0
       |      WHEN a.gy*8 + a.gx = 63 THEN (-9223372036854775807 - 1)
       |      ELSE (1::BIGINT << (a.gy*8 + a.gx)) END) AS h
       |  FROM grid a JOIN grid b ON a.media_id = b.media_id
       |    AND a.tt = b.tt AND b.gy = a.gy AND b.gx = a.gx + 1
       |  GROUP BY 1, 2),
       |hset AS (SELECT DISTINCT media_id, h FROM sig),
       |sizes AS (SELECT media_id, count(*) AS n FROM hset GROUP BY 1),
       |okh AS (SELECT h FROM hset GROUP BY h
       |  HAVING count(*) <= ${graft.ops.TextDedup.MaxBucket}),
       |shared AS (SELECT a.media_id AS vid_a, b.media_id AS vid_b,
       |    count(*) AS s
       |  FROM hset a JOIN okh USING (h)
       |  JOIN hset b ON a.h = b.h AND a.media_id < b.media_id
       |  GROUP BY 1, 2)
       |SELECT vid_a, vid_b,
       |  CAST(s AS DOUBLE) / least(na.n, nb.n) AS overlap
       |FROM shared
       |JOIN sizes na ON vid_a = na.media_id
       |JOIN sizes nb ON vid_b = nb.media_id
       |WHERE CAST(s AS DOUBLE) / least(na.n, nb.n) >= $OverlapMin
       |ORDER BY vid_a, vid_b""".stripMargin
  }

  /** Oracle for q_video_dups_incr: today's clip batch (re-ingested
    * trimmed+brightened excerpts for 3k groups — frame-hash sets equal
    * to the trimmed variant's, so containment 1.0 against v0/v1/v2 —
    * plus genuinely new clips for 3k+1 groups) against the STANDING
    * frame-hash index, decoder-free: every pixel, per-frame bit, set,
    * index-side cap, and exact BIGINT-division containment is re-derived
    * from the generator arithmetic ([[graft.ops.VideoDedup.luma]] /
    * incLuma replicated verbatim). Variant codes 10 (re-ingest) and 11
    * (new clip) extend the standing corpus's 0..3.
    */
  val videoDupsIncr: String = {
    import graft.ops.VideoDedup._
    val gw = graft.functions.ImageDHashUtil.GridW
    val gh = graft.functions.ImageDHashUtil.GridH
    val base = s"(g*37 + t*61 + x*(73 + 7*((g+3*t)%13))" +
      s" + y*(151 + 5*((g+2*t)%11)) + x*y*(29 + 3*((g+t)%7))) % $LumaMod"
    val unrel = s"(g*37 + 11 + t*53 + x*(101 + 9*((g+2*t)%17))" +
      s" + y*(47 + 5*((g+t)%19)) + x*y*(13 + 3*((g+3*t)%23))) % $LumaMod"
    val inc = s"(g*41 + 23 + t*59 + x*(89 + 11*((g+2*t)%19))" +
      s" + y*(59 + 7*((g+t)%17)) + x*y*(17 + 5*((g+3*t)%13))) % $LumaMod"
    s"""WITH gs AS (SELECT (row_number() OVER () - 1) // $ClipScaleDiv AS g
       |    FROM events
       |  UNION SELECT unnest(range(4)) AS g),
       |vids AS (
       |  SELECT g*4 + v AS media_id, g, v
       |  FROM gs, (SELECT unnest(range(4)) AS v)
       |  UNION ALL
       |  SELECT $NewMediaBase + g, g,
       |    CASE WHEN g % 3 = 0 THEN 10 ELSE 11 END
       |  FROM gs WHERE g % 3 != 2),
       |fr AS (SELECT media_id, g, v, tt,
       |    CASE WHEN v = 1 THEN tt // 2
       |         WHEN v = 2 OR v = 10 THEN tt + $TrimStart ELSE tt END AS t,
       |    CASE WHEN v = 1 THEN $Shift
       |         WHEN v = 10 THEN $IncShift ELSE 0 END AS sh
       |  FROM vids, (SELECT unnest(range(${2 * NFrames})) AS tt)
       |  WHERE tt < CASE WHEN v = 1 THEN ${2 * NFrames}
       |    WHEN v = 2 OR v = 10 THEN ${NFrames - TrimStart}
       |    ELSE $NFrames END),
       |xs AS (SELECT unnest(range($BaseW)) AS x),
       |ys AS (SELECT unnest(range($BaseH)) AS y),
       |lum AS (SELECT media_id, tt, x * $gw // $BaseW AS gx,
       |    y * $gh // $BaseH AS gy,
       |    (CASE WHEN v = 3 THEN $unrel
       |          WHEN v = 11 THEN $inc ELSE $base END) + sh AS lum
       |  FROM fr, xs, ys),
       |grid AS (SELECT media_id, tt, gx, gy, sum(lum) // count(*) AS m
       |  FROM lum GROUP BY 1, 2, 3, 4),
       |sig AS (SELECT a.media_id, a.tt,
       |    bit_or(CASE WHEN b.m <= a.m THEN 0
       |      WHEN a.gy*8 + a.gx = 63 THEN (-9223372036854775807 - 1)
       |      ELSE (1::BIGINT << (a.gy*8 + a.gx)) END) AS h
       |  FROM grid a JOIN grid b ON a.media_id = b.media_id
       |    AND a.tt = b.tt AND b.gy = a.gy AND b.gx = a.gx + 1
       |  GROUP BY 1, 2),
       |hset AS (SELECT DISTINCT media_id, h FROM sig),
       |sizes AS (SELECT media_id, count(*) AS n FROM hset GROUP BY 1),
       |ixb AS (SELECT * FROM hset WHERE media_id < $NewMediaBase),
       |fb AS (SELECT * FROM hset WHERE media_id >= $NewMediaBase),
       |okh AS (SELECT h FROM ixb GROUP BY h
       |  HAVING count(*) <= ${graft.ops.TextDedup.MaxBucket}),
       |shared AS (SELECT ix.media_id AS indexed_id, f.media_id AS new_id,
       |    count(*) AS s
       |  FROM fb f JOIN okh USING (h) JOIN ixb ix ON f.h = ix.h
       |  GROUP BY 1, 2)
       |SELECT indexed_id, new_id,
       |  CAST(s AS DOUBLE) / least(na.n, nb.n) AS overlap
       |FROM shared
       |JOIN sizes na ON indexed_id = na.media_id
       |JOIN sizes nb ON new_id = nb.media_id
       |WHERE CAST(s AS DOUBLE) / least(na.n, nb.n) >= $OverlapMin
       |ORDER BY indexed_id, new_id""".stripMargin
  }
}
