package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextHash.words

/** Text-analysis operators for training-data pipelines: language-ID,
  * token counting, and quality scoring over the `documents` table. All pure
  * column expressions (codegen'd, shuffle-free, embarrassingly parallel).
  */
object TextAnalysis {

  /** Per-language stopword alternations (language-ID profiles for
    * Latin-script languages). ASCII-only on purpose: `\b` is the ASCII word
    * boundary in BOTH Java regex (default flags) and RE2 (the DuckDB
    * oracle), so a non-ASCII letter inside a stopword would make the two
    * engines agree only by accident. Scripts that can't be stopword-profiled
    * this way are covered by [[ScriptProfiles]] codepoint classes instead.
    */
  val StopwordProfiles: Seq[(String, String)] = Seq(
    "en" -> """\b(the|a|an|and|of|to|in|is|it|for|on|with|was|this)\b""",
    "es" -> """\b(el|la|los|las|de|que|y|en|un|una|es|por|con|para)\b""",
    "de" -> """\b(der|die|das|und|ist|ich|nicht|ein|eine|mit|auf|zu)\b""",
    "fr" -> """\b(le|la|les|de|des|et|est|en|un|une|du|que|pour|dans)\b""",
    "pt" -> """\b(o|os|do|da|dos|das|um|uma|em|para|com|por|mais|como|mas)\b""",
    "it" -> """\b(il|lo|gli|le|di|che|e|per|con|non|sono|una|uno|della|nel)\b""",
    "nl" -> """\b(de|het|een|en|van|ik|dat|op|voor|met|zijn|niet|je|naar)\b""",
    // breadth tail (r4): ASCII-only stopword subsets — diacritic-bearing
    // stopwords are deliberately omitted (see the \b note above), so each
    // profile is the language's ASCII-spellable high-frequency function
    // words. Appended AFTER the original profiles: existing tie-breaks
    // are unchanged, a new profile only wins by strictly outscoring.
    "sv" -> """\b(och|att|det|som|en|ett|jag|inte|med|av|till|den)\b""",
    "da" -> """\b(og|det|at|en|den|til|er|som|med|af|ikke|der)\b""",
    "no" -> """\b(og|det|at|en|til|er|som|med|av|ikke|jeg|den)\b""",
    "fi" -> """\b(ja|on|ei|se|oli|kun|mutta|niin|joka|jos|ole|vain)\b""",
    "pl" -> """\b(nie|to|jest|na|do|co|jak|ale|czy|tak|po|juz)\b""",
    "cs" -> """\b(je|se|na|to|do|ale|jako|pro|tak|co|by|za)\b""",
    "tr" -> """\b(bir|ve|bu|da|de|ne|ben|mi|gibi|daha|ama|ile)\b""",
    "id" -> """\b(yang|dan|di|itu|dengan|untuk|tidak|ini|dari|dalam|akan|pada)\b""",
    "ro" -> """\b(de|la|un|cu|pe|este|care|nu|mai|din|dar|sau)\b""",
    "hu" -> """\b(az|nem|hogy|is|egy|van|de|ki|meg|mint|csak|volt)\b""",
    // breadth tail 2 (r4, q_lang_id-only surface — the clean pipeline's
    // OtherLangs list is curated separately): same append-only contract,
    // ASCII-only function words chosen to MINIMIZE overlap with earlier
    // profiles (e.g. ms avoids yang/dan/di which id already claims; af
    // avoids nl's de/het/een); single-letter stopwords are excluded
    // everywhere — they'd score on every Latin-script text.
    "ca" -> """\b(els|les|amb|una|com|dels|aquest|tambe|pero|son|molt|hem)\b""",
    "hr" -> """\b(je|se|da|su|na|za|ali|ili|kao|sam|nije|bilo)\b""",
    "sk" -> """\b(je|sa|na|to|ako|ale|som|aj|za|tak|uz|ktory)\b""",
    "sl" -> """\b(je|in|se|na|da|za|ki|so|pa|tudi|kot|bi)\b""",
    "lt" -> """\b(ir|yra|kad|tai|bet|su|kaip|jis|bus|buvo|tik|del)\b""",
    "lv" -> """\b(un|ir|ka|par|ar|bet|tas|vai|no|lai|jau|tikai)\b""",
    "et" -> """\b(ja|on|ei|et|see|oli|aga|ka|kui|oma|siis|mis)\b""",
    "ms" -> """\b(anda|boleh|kerana|daripada|adalah|ialah|sahaja|tetapi|mereka|kami)\b""",
    "tl" -> """\b(ang|ng|sa|na|mga|ay|hindi|ako|ito|kung|siya|para)\b""",
    "sw" -> """\b(na|ya|wa|kwa|ni|za|katika|hii|kuwa|lakini|sana|yake)\b""",
    "af" -> """\b(die|nie|het|vir|baie|maar|ook|soos|word|hulle|wat|om)\b""",
    "sq" -> """\b(dhe|te|nje|me|per|ne|nuk|por|si|nga|eshte|kjo)\b""",
    "eu" -> """\b(eta|ez|da|bat|du|dira|baina|ere|hau|zen|egin|dute)\b""",
    "cy" -> """\b(mae|wedi|ond|gyda|iawn|ddim|eich|chi|bod|hyn|ydw|dim)\b""")
  val CjkClass = """[\x{4e00}-\x{9fff}]"""

  /** Script-codepoint-class profiles: languages whose writing system is
    * (near-)unique identify by codepoint density, not stopwords — the same
    * `\x{...}` range syntax compiles identically in Java regex and RE2.
    * `ja` counts kana only (kanji alone is ambiguous with zh); `ko` is the
    * Hangul-syllables block; `ar` the base Arabic block; `ru` the Cyrillic
    * block.
    */
  val ScriptProfiles: Seq[(String, String)] = Seq(
    "zh" -> CjkClass,
    "ru" -> """[\x{0400}-\x{04ff}]""",
    "ja" -> """[\x{3040}-\x{30ff}]""",
    "ko" -> """[\x{ac00}-\x{d7af}]""",
    "ar" -> """[\x{0600}-\x{06ff}]""",
    // breadth tail (r4): more (near-)unique script blocks. `vi` counts the
    // Latin Extended Additional block — in practice Vietnamese-specific
    // diacritics, the only Latin script identifiable by codepoints alone.
    "el" -> """[\x{0370}-\x{03ff}]""",
    "he" -> """[\x{0590}-\x{05ff}]""",
    "hi" -> """[\x{0900}-\x{097f}]""",
    "th" -> """[\x{0e00}-\x{0e7f}]""",
    "bn" -> """[\x{0980}-\x{09ff}]""",
    "ta" -> """[\x{0b80}-\x{0bff}]""",
    "vi" -> """[\x{1ea0}-\x{1ef9}]""",
    // breadth tail 2 (r4): every remaining unique-script block a
    // langdetect-class detector distinguishes — density 0 on any corpus
    // that lacks the script, so appended entries cannot perturb existing
    // predictions (argmax requires a strictly positive best).
    "te" -> """[\x{0c00}-\x{0c7f}]""",
    "kn" -> """[\x{0c80}-\x{0cff}]""",
    "ml" -> """[\x{0d00}-\x{0d7f}]""",
    "gu" -> """[\x{0a80}-\x{0aff}]""",
    "pa" -> """[\x{0a00}-\x{0a7f}]""",
    "or" -> """[\x{0b00}-\x{0b7f}]""",
    "si" -> """[\x{0d80}-\x{0dff}]""",
    "my" -> """[\x{1000}-\x{109f}]""",
    "km" -> """[\x{1780}-\x{17ff}]""",
    "lo" -> """[\x{0e80}-\x{0eff}]""",
    "ka" -> """[\x{10a0}-\x{10ff}]""",
    "hy" -> """[\x{0530}-\x{058f}]""",
    "am" -> """[\x{1200}-\x{137f}]""")

  /** N-gram-heuristic language ID: stopword-match density per Latin
    * profile, script-codepoint density per script profile; prediction =
    * argmax with a deterministic preference order (stopword profiles in
    * declaration order, then script profiles) on ties.
    */
  def langId(docs: DataFrame): DataFrame = {
    val lc = lower(col("text"))
    val wc = greatest(size(words(col("text"))), lit(1))
    // all 56 profile counts in ONE native scan (LangCounts) instead of
    // 33 regexp_count + 23 regexp_replace traversals per row; each
    // density divides the same int count by the same denominator the
    // regex chain divided (value identity pinned in LangCountsSpec)
    val counts = graft.functions.LangCounts(lc,
      (StopwordProfiles ++ ScriptProfiles).map(_._2))
    val nStop = StopwordProfiles.size
    val charDen = greatest(length(lc), lit(1))
    val densities =
      (StopwordProfiles ++ ScriptProfiles).zipWithIndex.map {
        case ((lang, _), i) =>
          lang -> (counts.getItem(i) / (if (i < nStop) wc else charDen))
      }
    // all ~56 densities fused into ONE struct alias, then referenced via
    // GetStructField — separate score_* aliases (each a regex tree) made
    // Catalyst constraint propagation re-map the constraint set once per
    // alias, a planning-time blowup (see Clean.annotate's `_lm` note)
    val scored = Par.fanOut(docs).withColumn("_sc",
      struct(densities.map { case (l, d) => round(d, 4).as(l) }: _*))
    def sc(l: String) = col("_sc").getField(l)
    val best = densities.map { case (l, _) => sc(l) }
      .reduce((a, b) => greatest(a, b))
    val pred = densities.foldRight(lit("unknown"): Column) {
      case ((lang, _), elseCol) =>
        when(sc(lang) === col("_best") &&
          col("_best") > 0, lit(lang)).otherwise(elseCol)
    }
    scored
      .withColumn("_best", best)
      .withColumn("lang_pred", pred)
      .select(Seq(col("doc_id"), col("lang"), col("lang_pred"),
        (col("lang_pred") === col("lang")).as("correct")) ++
        densities.map { case (l, _) => sc(l).as(s"score_$l") }: _*)
      .orderBy("doc_id")
  }

  /** BPE-ish tokenizer regex: letter runs, single digits, single
    * non-alphanumeric marks (leftmost, non-overlapping — identical under
    * Java's leftmost-first and RE2's leftmost-longest because the branches
    * are disjoint character classes).
    */
  val BpeIshToken = """[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"""

  /** Token counting per doc, aggregated per source: whitespace tokens and
    * BPE-ish regex tokens.
    */
  def tokenStats(docs: DataFrame): DataFrame = {
    val perDoc = docs.select(
      col("source"),
      size(words(col("text"))).as("ws_tokens"),
      regexp_count(col("text"), lit(BpeIshToken)).as("bpe_tokens"))
    perDoc.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("ws_tokens")).cast("long").as("sum_ws_tokens"),
      sum(col("bpe_tokens")).cast("long").as("sum_bpe_tokens"),
      round(avg(col("ws_tokens")), 2).as("avg_ws_tokens"),
      round(avg(col("bpe_tokens")), 2).as("avg_bpe_tokens"))
      .orderBy("source")
  }

  /** Per-doc counts under the REAL trained-merges BPE tokenizer
    * ([[graft.rules.Bpe]] — frozen merges shared verbatim with the
    * oracle's recursive-CTE encoder), beside the whitespace count. This
    * is the count every token-budget decision should run on: corpusMix
    * allocates BY TOKENS and seqPack chops AT 512 TOKENS, and both now
    * accept this tokenizer (q_seq_pack_bpe / q_corpus_mix_bpe).
    * Shuffle-free codegen'd corpus scan — the per-word encode loop
    * memoizes on the Zipf vocabulary, so cost tracks distinct words.
    */
  def bpeTokens(docs: DataFrame): DataFrame = {
    import graft.functions.BpeTokenCount
    Par.fanOut(docs)
      .withColumn("n_words", size(words(col("text"))).cast("long"))
      .withColumn("n_bpe_tokens", BpeTokenCount(col("text")))
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"),
        when(col("n_words") > 0,
          round(col("n_bpe_tokens").cast("double") / col("n_words"), 4))
          .otherwise(lit(0.0)).as("tokens_per_word"))
      .orderBy("doc_id")
  }

  /** Histogram bucket lower bounds for [[tokenHistogram]] (docs shorter
    * than the first edge land in bucket 0).
    */
  val HistEdges: Seq[Long] = Seq(1L, 16L, 64L, 256L, 1024L)

  /** Per-source BPE sequence-length histogram: documents bucketed by
    * trained-BPE token count into fixed integer bands, with per-bucket
    * doc and token totals and the bucket's share of its source — the
    * length-distribution audit run before choosing packing sequence
    * length and truncation policy (a source whose mass sits above the
    * training context length loses most of its tokens to truncation;
    * one dominated by <16-token fragments is mostly separator overhead).
    *
    * Integer edge compares only — no log2 floats to diverge at bucket
    * boundaries between engines.
    *
    * Scale shape: one codegen'd corpus scan (BpeTokenCount's bounded
    * vocab cache) into a partial-agg groupBy of |sources|·|buckets|
    * rows; per-source totals are a tiny broadcast.
    */
  def tokenHistogram(docs: DataFrame): DataFrame = {
    import graft.functions.BpeTokenCount
    val base = Par.fanOut(docs).select(col("source"),
      BpeTokenCount(col("text")).as("_n"))
    val bucket = HistEdges.foldLeft(lit(0L): org.apache.spark.sql.Column) {
      (acc, e) => when(col("_n") >= e, lit(e)).otherwise(acc)
    }
    val totals = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("_n_src"))
    base.withColumn("bucket_lo", bucket)
      .groupBy("source", "bucket_lo")
      .agg(count(lit(1)).as("n_docs"), sum(col("_n")).as("n_tokens"))
      .join(broadcast(totals), "source")
      .select(col("source"), col("bucket_lo"), col("n_docs"),
        col("n_tokens"), (col("n_docs") / col("_n_src")).as("doc_frac"))
      .orderBy("source", "bucket_lo")
  }

  /** Per-language tokenizer fertility (BPE tokens per whitespace word):
    * the cross-lingual tokenizer-cost audit — a language whose fertility
    * is 2× pays twice the context budget per word, which skews both
    * mixing weights and per-language effective epochs. Exact long/long
    * division (IEEE-identical across engines), zero-guarded for
    * wordless groups.
    */
  def tokenizerFertility(docs: DataFrame): DataFrame = {
    import graft.functions.BpeTokenCount
    Par.fanOut(docs).select(col("lang"),
        size(words(col("text"))).cast("long").as("_w"),
        BpeTokenCount(col("text")).as("_t"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("_w")).as("n_words"),
        sum(col("_t")).as("n_bpe_tokens"))
      .withColumn("fertility",
        when(col("n_words") > 0, col("n_bpe_tokens") / col("n_words"))
          .otherwise(lit(0.0)))
      .orderBy("lang")
  }

  /** Heuristic document quality score in [0,1]:
    * 0.4·min(1, words/100) + 0.4·min(1, 5·stopword_density)
    * + 0.2·(1 − min(1, 5·punct_ratio)), rounded to 3dp.
    */
  def docQuality(docs: DataFrame): DataFrame = {
    val t = col("text")
    val lc = lower(t)
    val wc = size(words(t))
    val wcSafe = greatest(wc, lit(1))
    val stopDensity =
      regexp_count(lc, lit(graft.rules.Rules.EnStopwords)) / wcSafe
    val punctRatio =
      (length(t) - length(regexp_replace(t, """[^.,!?;:'"()\-]""", ""))) /
        greatest(length(t), lit(1))
    val lenScore = least(lit(1.0), wc / lit(100.0))
    val q = round(
      lit(0.4) * lenScore +
        lit(0.4) * least(lit(1.0), stopDensity * 5) +
        lit(0.2) * (lit(1.0) - least(lit(1.0), punctRatio * 5)), 3)
    docs.select(col("doc_id"), col("source"),
      wc.as("word_count"), q.as("quality"))
      .orderBy("doc_id")
  }

  /** Corpus vocabulary analysis — the frequency table a tokenizer-training
    * (BPE) or TF-IDF stage starts from: global top-k words by total count
    * with document frequency and idf = ln(N / doc_freq).
    *
    * Scale shape: one token explode feeding a partially-aggregated
    * groupBy(word) (map-side combine collapses each partition's token
    * stream before the shuffle); the single-row corpus count broadcasts;
    * top-k is orderBy+limit = TakeOrderedAndProject (per-partition heaps,
    * never a full sort).
    */
  def vocab(docs: DataFrame, topK: Int = 100): DataFrame = {
    val tok = Par.fanOut(docs)
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
    val nDocs = docs.agg(count(lit(1)).as("_n"))
    tok.groupBy("word")
      .agg(count(lit(1)).as("total_count"),
        count_distinct(col("doc_id")).as("doc_freq"))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf", round(log(col("_n") / col("doc_freq")), 6))
      .select(col("word"), col("total_count"), col("doc_freq"), col("idf"))
      .orderBy(desc("total_count"), col("word"))
      .limit(topK)
  }

  /** Corpus frequency at or below which a token counts as rare. */
  val RareMax = 2

  /** Salt fan-out for the Zipf-head token joins in [[rareTokens]] /
    * [[lmScore]] (same budget as EmbedSim.IvfSalts): a hot token's
    * occurrences spread over this many shuffle tasks on the join back —
    * AQE cannot split identical join keys, so the key itself must change.
    */
  val TokenSalts = 4

  /** Rare-token density — the exact-arithmetic cousin of perplexity
    * filtering (CCNet-style): documents dominated by tokens the corpus
    * has barely seen are disproportionately OCR noise, gibberish, or
    * boilerplate IDs. Per doc: token count, tokens with corpus frequency
    * <= [[RareMax]], and their ratio. Token-less docs carry zeros (they
    * are flagged elsewhere, not silently dropped here).
    *
    * Unlike the per-row signals above, this is CORPUS-STATISTIC scoring:
    * the frequency table must come back to every token occurrence. Scale
    * shape: one explode feeding a partially-aggregated groupBy(token)
    * (the Zipf head is harmless HERE — map-side combine collapses each
    * partition's "the" to one row before the exchange), then the join
    * back token-stream ⋈ frequencies, which is where the head bites: all
    * occurrences of "the" hash to ONE task. That join is SALTED
    * [[TokenSalts]]× on (tok, salt) — the frequency table replicates
    * S× (vocabulary-sized, bounded), the hot token spreads over S tasks,
    * and the result set is provably identical (SkewSpec). Then one
    * groupBy(doc_id) collapse. When the vocab fits, a broadcast hint
    * removes the join shuffle entirely; the default stays shuffle-safe
    * for the open-vocabulary 100 TB case where typos make the vocab
    * itself huge.
    */
  def rareTokens(docs: DataFrame,
      salts: Int = TokenSalts): DataFrame = {
    val toks = Par.fanOut(docs)
      .select(col("doc_id"), explode(words(col("text"))).as("tok"))
      // one materialization, two consumers (r13): the frequency table and
      // the salted stream join both hang off the token explode, so the
      // tokenize pass ran twice per execution (plan: 3 parquet scans).
      // Lazy — the first action materializes it. Guide §2.4.
      .transform(graft.Pin.checkpoint(_, eager = false))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("_f"))
    val scored = Salted.join(toks, freq, Seq("tok"), "doc_id", salts)
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(when(col("_f") <= RareMax, 1L).otherwise(0L)).as("n_rare"))
      .withColumn("rare_ratio", round(col("n_rare") / col("n_tokens"), 6))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"),
        coalesce(col("rare_ratio"), lit(0.0)).as("rare_ratio"))
      .orderBy("doc_id")
  }

  /** N-gram novelty — the memorization-risk axis of data curation
    * (Carlini et al.: text whose n-grams recur across the corpus is what
    * a model memorizes verbatim; near-dup detection catches whole-doc
    * copies, THIS catches the templated-boilerplate tail that survives
    * it). Per doc: the fraction of its DISTINCT [[NoveltyK]]-gram
    * shingles that also appear in at least one other doc; novelty = 1 −
    * that fraction (empty-gram docs are vacuously novel).
    *
    * Scale shape: grams travel as h56 hashes (16 bytes of md5 prefix,
    * never gram text) through ONE partial-agg groupBy for document
    * frequency; the join back is on the same gram-hash key; the per-doc
    * collapse is a second partial-agg groupBy. All fractions are one
    * int/int division rounded once.
    */
  def ngramNovelty(docs: DataFrame): DataFrame = {
    // native one-pass distinct-shingle hashing (ShingleHashes) — same
    // h56 values as the shingles()+md5 chain by byte identity; distinct
    // is taken over the hashes rather than the gram strings, which is
    // the representation this query already commits to downstream
    // ("grams travel as h56 hashes, never text" — the df table groups
    // colliding grams cross-doc identically either way)
    // the gram explode executes twice (per-doc count + df aggregate, no
    // shared exchange) — a one-materialization checkpoint was TRIED and
    // REVERTED in r13: flat-to-worse at both sf0.1 and sf1 (the native
    // ShingleHashes re-hash is cheaper than caching the stream; same
    // verdict as Dsir)
    val grams = Par.fanOut(docs)
      .select(col("doc_id"),
        explode(graft.functions.ShingleHashes(lower(col("text")),
          NoveltyK, distinct = true)).as("_g"))
    // r12: no join back to the gram stream. Per-doc grams are DISTINCT,
    // so a gram with corpus df == 1 has exactly ONE owner doc and
    // shared_grams = n_grams − |{df==1 grams of the doc}| — the df
    // aggregate carries the owner (min(doc_id) — unique when _df = 1)
    // and the former stream-sized _g-keyed join back (a second full
    // exchange of every gram occurrence) collapses to a tiny
    // unique-per-doc count (guide §2.3: aggregate before you shuffle).
    val perDoc = grams.groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_grams"))
    val uniq = grams.groupBy("_g")
      .agg(count(lit(1)).as("_df"), min(col("doc_id")).as("doc_id"))
      .filter(col("_df") === 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("_uniq"))
    val scored = perDoc.join(uniq, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        (col("n_grams") - coalesce(col("_uniq"), lit(0L)))
          .as("shared_grams"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("shared_grams"), lit(0L)).as("shared_grams"),
        round(lit(1.0) - coalesce(col("shared_grams"), lit(0L)) /
          greatest(coalesce(col("n_grams"), lit(0L)), lit(1L)), 6)
          .as("novelty"))
      .orderBy("doc_id")
  }

  val NoveltyK = 5

  /** Per-doc TF-IDF keyterms — the "what is this document about" surface
    * a retrieval/labeling pipeline extracts per item. Rational idf
    * (tf·N/df — integer products, ONE IEEE-identical division, the
    * bm25/DSIR no-transcendentals policy); top [[KeytermsK]] terms per
    * doc selected by the bounded-heap [[graft.plans.TopK]] operator on
    * the ROUNDED score (so the cross-engine tiebreak is exact), word as
    * the total-order tiebreak.
    *
    * Scale shape: tf is one (doc_id, word) partial-agg groupBy; df
    * aggregates tf's output on the same word key; the corpus size is a
    * single broadcast row; TopK prunes per-partition before its one
    * doc_id exchange — a million-term doc ships k rows.
    */
  def keyterms(docs: DataFrame, k: Int = KeytermsK): DataFrame = {
    val toks = Par.fanOut(docs).select(col("doc_id"),
      explode(words(col("text"))).as("word"))
    // one materialization of the tf table (r12): df derives FROM tf, but
    // tf's aggregation needs no exchange (the fan-out already clusters by
    // doc_id), so there is no shuffle for the df branch to reuse and the
    // whole tokenize+tf pass ran TWICE (main stream + the broadcast df
    // build). tf is (doc, word)-distinct — corpus-compressed — so the
    // checkpoint is far cheaper than the repeated pass it removes.
    // lazy (r13): eager also ran the tokenize+tf result stage at
    // DataFrame construction. Lazy does NOT make construction job-free:
    // under AQE `localCheckpoint(false)` still runs every shuffle map
    // stage below it when the frame is built (q_keyterms submits 1 job
    // there); only the final stage waits for the first real action
    val tf = toks.groupBy("doc_id", "word")
      .agg(count(lit(1)).as("tf"))
      .transform(graft.Pin.checkpoint(_, eager = false))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("_n"))
    val scored = tf.join(dfreq, "word")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round((col("tf") * col("_n")).cast("double") / col("df"), 6))
    graft.plans.TopK.perKey(scored, Seq("doc_id"),
      Seq(graft.plans.TopK.desc("tfidf"), graft.plans.TopK.asc("word")), k)
      .select(col("doc_id"), col("word"),
        col("tf").cast("long").as("tf"), col("df").cast("long").as("df"),
        col("tfidf"))
      .orderBy(col("doc_id"), org.apache.spark.sql.functions.desc("tfidf"),
        col("word"))
  }

  val KeytermsK = 3

  /** Corpus bigram-LM predictability score — the exact-arithmetic form
    * of KenLM-style perplexity filtering (CCNet scores documents by a
    * language model; the signal is "how predictable is this text under
    * corpus statistics"). Per doc: the average conditional bigram
    * probability `avg over bigrams of P(w2|w1)`, with
    * `P(w2|w1) = c(w1 w2) / c_prefix(w1)` — the corpus MLE over the
    * bigram stream. High = stereotypical/templated text, low =
    * unusual/noisy — the same axis perplexity measures, without the
    * per-gram `log` whose last-ulp rounding would diverge between JVM
    * and libm (the bm25/DSIR no-transcendentals policy).
    *
    * Each per-bigram ratio is an IEEE-identical double (long/long);
    * ratios are quantized to 1e-9 and summed as integers so the per-doc
    * mean is summation-order-independent and oracle-hash-exact.
    *
    * Scale shape: the bigram explode feeds ONE partial-agg groupBy (the
    * bigram count table; partial agg absorbs the Zipf head), the prefix
    * table derives from the count table itself — c_prefix(w1) =
    * Σ_w2 c(w1,w2), an aggregate over the vocabulary²-bounded counts
    * instead of a second corpus explode — and the stream re-joins both
    * SALTED [[TokenSalts]]× (the c_prefix("the") group is otherwise a
    * one-task straggler at web scale, and AQE cannot split identical
    * join keys; results provably identical — SkewSpec / the oracle
    * states the unsalted declarative join). Then one groupBy(doc_id)
    * collapse, one left join back. Same family as [[rareTokens]], with
    * the conditional two-table structure. [[Par.fanOut]] guards the
    * explode's input parallelism at test scale.
    *
    * Shape variant measured and REJECTED (r7, same-condition A/B at
    * sf3): folding the quantized ratio into the count table (bgCount ⋈
    * prefCount on w1, then ONE stream join) reads as halving the
    * stream-join work but measured 38.6 → 49.2 s — on a high-vocabulary
    * corpus distinct bigram TYPES approach occurrence count, so the
    * "vocab²-bounded" ratio table is really corpus-sized and its added
    * exchange costs more than the saved stream join. Methodology note
    * that the A/B enforced: compare plan shapes under ONE bench
    * condition — a 4-query subset run and an 89-query full sweep differ
    * by co-resident cache pressure at sf3 (q_ccnet_buckets: 38 s
    * standalone vs an 81.6 s full-sweep median with monotone pass
    * growth), which masqueraded as a 26% win at sf1.
    */
  def lmScore(docs: DataFrame, salts: Int = TokenSalts): DataFrame =
    lmScoreCols(docs, salts, Nil)
      .select(col("doc_id"), col("n_bigrams"), col("avg_condp"))
      .orderBy("doc_id")

  /** [[lmScore]] body without the output sort, carrying `extra` document
    * columns through the final join — for downstream consumers (e.g.
    * [[Ccnet.buckets]]) that need doc metadata without a second
    * corpus-sized doc_id join.
    *
    * `ckptCounts` materializes the bigram count table once (two
    * consumers: the salted join's build side and the prefix derivation)
    * instead of re-running its aggregation subtree. Per-consumer A/Bs at
    * BOTH sf0.1 and sf1 (r13): a clear win inside q_ccnet_buckets
    * (2.85 min at sf0.1 vs 3.54 without; 3.53 vs 4.27 at sf1 — the rank
    * machinery re-reads the chain), a small LOSS for plain q_lm_score
    * (1.73 → 1.96 at sf0.1; ~flat at sf1) whose single consumer pays the
    * materialization without amortizing it — so the flag defaults off
    * and Ccnet opts in.
    */
  def lmScoreCols(docs: DataFrame, salts: Int,
      extra: Seq[String], ckptCounts: Boolean = false): DataFrame = {
    // native one-pass bigram-pair hashing (BigramPairHashes): the stream
    // carries (h1 = h56(w1), hb = h56("w1 w2")) longs instead of word
    // strings, so the count tables, the prefix derivation and both
    // salted joins all key on fixed-width hashes — the r7 ShingleHashes
    // move applied to the registry's #1/#2 costs. Counts keyed on
    // hashes equal the oracle's string-keyed counts under the standing
    // 2^56 collision policy (see BigramPairHashesUtil).
    val bigrams = Par.fanOut(docs).select(col("doc_id"),
        explode(graft.functions.BigramPairHashes(lower(col("text"))))
          .as("bg"))
      .select(col("doc_id"), col("bg.h1").as("h1"), col("bg.hb").as("hb"))
    // the STREAM side stays un-materialized on purpose: checkpointing
    // the per-occurrence bigram stream won at sf0.1 (wave latency) but
    // REGRESSED 2.8→4.0 s at sf1 (same-boot r12-worktree A/B) — at
    // data-bound scale the cheap native re-hash beats writing+reading a
    // corpus-sized cache, so the stream keeps its fused scan→join
    // pipeline (guide §1.1, re-measured at two scales). The count table
    // materializes only when the consumer opts in — see ckptCounts.
    val bgCount0 = bigrams.groupBy("h1", "hb").agg(count(lit(1)).as("_cb"))
    val bgCount =
      if (ckptCounts)
        graft.Pin.checkpoint(bgCount0, eager = false)
      else bgCount0
    val prefCount = bgCount.groupBy("h1").agg(sum(col("_cb")).as("_cp"))
    val scored = Salted.join(
        Salted.join(bigrams, bgCount, Seq("h1", "hb"), "doc_id", salts),
        prefCount, Seq("h1"), "doc_id", salts)
      .select(col("doc_id"),
        floor(col("_cb") / col("_cp") * lit(1000000000.0) + lit(0.5))
          .cast("long").as("_q"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_q")).as("_s"))
      .withColumn("avg_condp",
        round((col("_s").cast("double") / lit(1000000000.0))
          / col("n_bigrams"), 6))
    docs.select((col("doc_id") +: extra.map(col)): _*)
      .join(scored, Seq("doc_id"), "left")
      .select((col("doc_id") +: extra.map(col)) ++ Seq(
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("avg_condp"), lit(0.0)).as("avg_condp")): _*)
  }

  /** Gopher-style intra-document repetition signals (boilerplate and
    * looped-generation detectors):
    *  - `dup_word_frac`: 1 − distinct_words / words (0 for empty docs);
    *  - `top_bigram_frac`: the share of bigram slots taken by the most
    *    frequent bigram (0 for docs under 2 words).
    *
    * Both are PER-ROW folds over the token array (sort the bigrams, take
    * the longest equal run), not an explode + groupBy: exploding grams
    * shuffles ~word_count× the corpus to compute a per-doc scalar. The
    * fold is an interpreted higher-order function, but it touches only
    * the row's own ~10²-element array — bounded CPU with zero data
    * movement, the right trade at any scale.
    */
  def repetition(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    val wc = size(w)
    // native one-pass [distinct_words, max_bigram_count] (hash maps) —
    // the HOF form sorted the bigram array and folded a longest-equal-
    // run struct per row, O(n log n) through interpreted closures; max
    // COUNT of any bigram ≡ longest run in the sorted list, so the
    // fractions are value-identical (RepetitionSpec pins it)
    val st = graft.functions.RepetitionStats(w)
    val dupWord = when(wc > 0,
      lit(1.0) - element_at(st, 1).cast("double") / wc)
      .otherwise(lit(0.0))
    val topBigram = when(wc >= 2,
      element_at(st, 2).cast("double") / (wc - 1)).otherwise(lit(0.0))
    Par.fanOut(docs).select(col("doc_id"), wc.as("word_count"),
      round(dupWord, 6).as("dup_word_frac"),
      round(topBigram, 6).as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  /** Feature-hashing buckets / weight-table parameters for
    * [[qualityClassifier]]. Knuth's multiplicative constant spreads bucket
    * ids over the 1997-cycle; all products stay < 2^53, so the arithmetic
    * is exact in BIGINT (DuckDB) and LONG (Spark) alike.
    */
  val ClfBuckets = 1024L
  val ClfKnuth = 2654435761L
  val ClfCycle = 1997L

  /** fastText-style linear quality classifier — the filtering pattern of
    * CCNet / the LLaMA corpus pipeline (a cheap linear model over hashed
    * token features scores every document; low scorers are dropped).
    * Inference only, as in those pipelines: training happens offline, the
    * engine applies the weight table. Here the weight table is a
    * deterministic stand-in (w(b) = (b * Knuth) % cycle - (cycle-1)/2,
    * zero-mean over buckets) shared verbatim with the oracle — swapping in
    * trained weights is a literal-array replacement that changes no plan.
    *
    * Per doc: tokens -> md5 feature hash -> bucket -> summed integer
    * weight (the margin), mean weight per token, and the keep decision.
    * Integer end-to-end except the mean (rounded 4dp); empty docs are
    * rejected. Shuffle-free, codegen'd, embarrassingly parallel — the
    * scale cost is one corpus scan, which is the point of linear-model
    * filtering at 100 TB.
    */
  def qualityClassifier(docs: DataFrame): DataFrame = {
    // r9: the fused native scan (GateStats) supplies both fields in one
    // traversal; classifierExprs stays as the spec'd reference form
    val gs = graft.functions.GateStats(lower(col("text")))
    docs
      .withColumn("n_tokens", gs.getField("wc").cast("long"))
      .withColumn("score", gs.getField("clf_score"))
      .select(col("doc_id"), col("n_tokens"), col("score"),
        when(col("n_tokens") > 0,
          round(col("score").cast("double") / col("n_tokens"), 4))
          .otherwise(lit(0.0)).as("mean_weight"),
        (col("n_tokens") > 0 && col("score") >= 0).as("keep"))
      .orderBy("doc_id")
  }

  /** The classifier's (token count, summed hashed-bucket weight) pair —
    * shared between [[qualityClassifier]] and the `clf_*`-prefixed
    * append [[classifierAnnotate]], so the two stay the same expressions
    * by construction.
    */
  private def classifierExprs: (Column, Column) = {
    val toks = words(col("text"))
    val weight = (w: Column) => {
      val bucket = pmod(TextHash.h56(w), lit(ClfBuckets))
      (bucket * ClfKnuth) % ClfCycle - lit((ClfCycle - 1) / 2)
    }
    (size(toks).cast("long"),
      aggregate(transform(toks, weight), lit(0L), _ + _))
  }

  /** [[qualityClassifier]] as an APPEND with `clf_`-prefixed names (the
    * gate already owns `keep`): every input column carried through,
    * `clf_mean_weight` and `clf_keep` added — the classifier column of
    * the streaming ingest gate, stateless like the rest of the gate.
    */
  def classifierAnnotate(docs: DataFrame): DataFrame =
    docs
      .withColumn("_clf_n",
        graft.functions.GateStats(lower(col("text")))
          .getField("wc").cast("long"))
      .withColumn("_clf_s",
        graft.functions.GateStats(lower(col("text")))
          .getField("clf_score"))
      .withColumns(scala.collection.immutable.ListMap(
        "clf_mean_weight" -> when(col("_clf_n") > 0,
            round(col("_clf_s").cast("double") / col("_clf_n"), 4))
          .otherwise(lit(0.0)),
        "clf_keep" -> (col("_clf_n") > 0 && col("_clf_s") >= 0)))
      .drop("_clf_n", "_clf_s")

  /** The pre-fusion expression form of [[classifierAnnotate]] — kept as
    * the independent derivation GateStatsSpec checks the native scan
    * against (same role as LangCounts' regex form).
    */
  private[graft] def classifierAnnotateRef(docs: DataFrame): DataFrame = {
    val (nToks, score) = classifierExprs
    docs.withColumn("_clf_n", nToks).withColumn("_clf_s", score)
      .withColumns(scala.collection.immutable.ListMap(
        "clf_mean_weight" -> when(col("_clf_n") > 0,
            round(col("_clf_s").cast("double") / col("_clf_n"), 4))
          .otherwise(lit(0.0)),
        "clf_keep" -> (col("_clf_n") > 0 && col("_clf_s") >= 0)))
      .drop("_clf_n", "_clf_s")
  }

  /** BM25 parameters (Robertson-Sparck Jones defaults). */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 50

  /** Registry query terms: one rare term (df ~5% of docs on the synthetic
    * corpus) and two common ones, so the idf weights genuinely differ.
    */
  val Bm25Terms: Seq[String] = Seq("dup", "spark", "batch")

  /** BM25 keyword relevance over the corpus — the retrieval/ranking side
    * of data curation (e.g. selecting domain-relevant documents for a
    * targeted training mix, the DSIR-style "pick docs that look like the
    * target" step with a keyword target).
    *
    * One deliberate deviation from textbook BM25, for the exact-compare
    * contract: the idf factor is the RATIONAL core (N - df + 0.5) /
    * (df + 0.5) without the ln(.) around it. ln is the one transcendental
    * whose last-ulp rounding is NOT guaranteed identical between the JVM
    * and DuckDB's libm, so a logged score could differ in the 16th digit
    * and break the driver's hash compare. The rational form is a strictly
    * monotone transform of the logged idf per term, keeps every operation
    * inside IEEE +,*,/ (each correctly rounded, hence bit-identical
    * cross-engine), and preserves the structure of the score; swapping
    * ln back in is a one-line change where cross-engine bit-equality
    * isn't a requirement.
    *
    * Scale shape: per-term tf is a codegen'd per-row array count (Q
    * passes over the token array, shuffle-free); the corpus statistics
    * (N, avgdl, per-term df) collapse to ONE row via partial aggregation
    * and broadcast back onto a second corpus scan; ranking is a global
    * top-k (TakeOrderedAndProject — no full sort). The per-term score sum
    * is left-assoc in fixed term order, mirrored in the oracle.
    */
  def bm25(docs: DataFrame, terms: Seq[String] = Bm25Terms,
      topK: Int = Bm25TopK): DataFrame = {
    val base = Par.fanOut(docs)
      .select(col("doc_id"), words(col("text")).as("_w"))
      .withColumn("doc_len", size(col("_w")).cast("long"))
    val tf = terms.zipWithIndex.foldLeft(base) { case (df, (t, i)) =>
      df.withColumn(s"_tf$i", size(filter(col("_w"), w => w === lit(t))))
    }.drop("_w")
    val stats = tf.agg(
      count(lit(1)).as("_n"),
      (sum(col("doc_len")).as("_sumdl") +:
        terms.indices.map(i =>
          sum(when(col(s"_tf$i") > 0, 1L).otherwise(0L)).as(s"_df$i"))): _*)
    val joined = tf.crossJoin(broadcast(stats))
    val avgdl = col("_sumdl").cast("double") / col("_n")
    val score = terms.indices.map { i =>
      val tfd = col(s"_tf$i").cast("double")
      val idf = (col("_n").cast("double") - col(s"_df$i") + lit(0.5)) /
        (col(s"_df$i") + lit(0.5))
      idf * (tfd * (lit(Bm25K1) + lit(1.0))) /
        (tfd + lit(Bm25K1) *
          (lit(1.0) - lit(Bm25B) + lit(Bm25B) * col("doc_len") / avgdl))
    }.reduce(_ + _)
    joined
      .select(col("doc_id"), col("doc_len"), round(score, 6).as("bm25"))
      .orderBy(desc("bm25"), col("doc_id"))
      .limit(topK)
  }

  /** Gopher-style document quality rules (Rae et al. 2021, §A1.1 — the
    * word-level subset; the line-level rules are vacuous on this
    * single-line corpus): word-count bounds [50, 100k], mean word length
    * in [3, 10], >= 80% of words containing an alphabetic character, and
    * >= 2 English stopwords. Every threshold comparison is EXACT INTEGER
    * arithmetic (mean-word-length in [3,10] <=> charSum in [3*wc, 10*wc];
    * alpha fraction >= 0.8 <=> 5*alphaWords >= 4*wc), so the keep/reject
    * decision has no float-boundary risk cross-engine; the reported
    * fractional diagnostics are single int/int divisions rounded once.
    *
    * `reject_reason` names the FIRST failing rule in the published order —
    * the routing signal a curation pipeline logs per dropped doc.
    *
    * Scale shape: pure column expressions in one WholeStageCodegen span,
    * shuffle-free until the output sort — at 100 TB this is a single scan,
    * embarrassingly parallel, and the filter columns it emits feed a
    * partition-pruned rejected-docs sink without a second pass.
    */
  def gopherRules(docs: DataFrame): DataFrame =
    gopherColumns(docs).orderBy("doc_id")

  /** The Gopher rule body without the oracle-determinism sort: one
    * WholeStageCodegen span of per-row column expressions, legal on a
    * STREAMING frame as-is (no state, no watermark, no shuffle) — the
    * streaming ingest gate ([[graft.streaming.StreamGate]]) applies
    * exactly this, so batch and streaming verdicts are the same
    * expressions by construction, not by parallel maintenance.
    */
  def gopherColumns(docs: DataFrame): DataFrame =
    gopherAnnotate(docs).select("doc_id", "word_count", "mean_word_len",
      "alpha_frac", "stop_count", "keep", "reject_reason")

  /** [[gopherColumns]] as an APPEND — every input column is carried
    * through untouched, the six verdict columns are added. The streaming
    * curation pipeline chains this in front of stateful operators, so
    * the event-time/embedding columns must survive the gate.
    */
  def gopherAnnotate(docs: DataFrame): DataFrame = {
    // r9: ONE native scan ([[graft.functions.GateStats]]) replaces the
    // split + per-word rlike + concat_ws + EnStopwords-regex traversals;
    // every derived column below is arithmetic over the struct (the
    // repeated GateStats calls collapse via codegen subexpression
    // elimination — one compute per row, PlanAudit-visible)
    val gs = graft.functions.GateStats(lower(col("text")))
    val wc = gs.getField("wc")
    val wcSafe = greatest(wc, lit(1))
    val chars = gs.getField("chars")
    val alphaW = gs.getField("alphaw")
    val stops = gs.getField("stops")
    val okWc = wc.between(GopherMinWords, GopherMaxWords)
    val okMwl = chars.between(wc * GopherMinMeanWl, wc * GopherMaxMeanWl)
    val okAlpha = alphaW * 5 >= wc * 4
    val okStops = stops >= GopherMinStops
    docs.withColumns(scala.collection.immutable.ListMap(
      "word_count" -> wc,
      "mean_word_len" -> round(chars.cast("double") / wcSafe, 4),
      "alpha_frac" -> round(alphaW.cast("double") / wcSafe, 4),
      "stop_count" -> stops.cast("long"),
      "keep" -> (okWc && okMwl && okAlpha && okStops),
      "reject_reason" -> when(!okWc, lit("word_count"))
        .when(!okMwl, lit("mean_word_len"))
        .when(!okAlpha, lit("alpha_frac"))
        .when(!okStops, lit("stopwords"))
        .otherwise(lit(null).cast("string"))))
  }

  /** The pre-fusion expression form of [[gopherAnnotate]] — the
    * independent regex/HOF derivation GateStatsSpec pins the native
    * scan against.
    */
  private[graft] def gopherAnnotateRef(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    val wc = size(w)
    val wcSafe = greatest(wc, lit(1))
    // total characters across words = length of the separator-free concat
    // (one pass, no per-word transform array)
    val chars = length(concat_ws("", w))
    val alphaW = size(filter(w, x => x.rlike("[a-z]")))
    val stops = regexp_count(lower(col("text")),
      lit(graft.rules.Rules.EnStopwords))
    val okWc = wc.between(GopherMinWords, GopherMaxWords)
    val okMwl = chars.between(wc * GopherMinMeanWl, wc * GopherMaxMeanWl)
    val okAlpha = alphaW * 5 >= wc * 4
    val okStops = stops >= GopherMinStops
    docs.withColumns(scala.collection.immutable.ListMap(
      "word_count" -> wc,
      "mean_word_len" -> round(chars.cast("double") / wcSafe, 4),
      "alpha_frac" -> round(alphaW.cast("double") / wcSafe, 4),
      "stop_count" -> stops.cast("long"),
      "keep" -> (okWc && okMwl && okAlpha && okStops),
      "reject_reason" -> when(!okWc, lit("word_count"))
        .when(!okMwl, lit("mean_word_len"))
        .when(!okAlpha, lit("alpha_frac"))
        .when(!okStops, lit("stopwords"))
        .otherwise(lit(null).cast("string"))))
  }

  val GopherMinWords = 50
  val GopherMaxWords = 100000
  val GopherMinMeanWl = 3
  val GopherMaxMeanWl = 10
  val GopherMinStops = 2
}
