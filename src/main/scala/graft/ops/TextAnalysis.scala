package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, fingerprinting. All hot
  * paths are native codegen Catalyst expressions (no UDF, no interpreted
  * higher-order functions): winnowing via [[graft.functions.WinnowMd5]],
  * the per-row counting primitives via [[graft.functions.TextStats]].
  * The declarative originals are kept as `*Declarative` twins — the
  * byte-parity oracles OpsSpec pins the native forms against, and the
  * readable statement of each primitive's semantics.
  *
  * Scale: every operator is per-row (embarrassingly parallel, no
  * shuffle); a 100 TB corpus maps straight through a projection.
  */
object TextAnalysis {

  import org.apache.spark.sql.GraftShims.{column => ccol, expression => cexpr}

  /** Whitespace tokens. */
  def wsTokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column =
    ccol(graft.functions.WsTokenCount(cexpr(text)))

  private[graft] def tokenCountDeclarative(text: Column): Column =
    size(wsTokens(text))

  /** BPE-ish pre-tokenization count: letter runs, digit runs, and single
    * punctuation marks — the GPT-2-style pre-tokenizer word classes. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Guarded word-n-gram array: every n-token window of the whitespace
    * tokens, space-joined (optionally distinct); texts shorter than n
    * words yield an empty array. The ONE definition of the n-gram
    * stream — Decontam/Dedup/topNgrams all build on it, so a
    * tokenization change cannot silently diverge between them. */
  def wordGrams(text: Column, n: Int, distinct: Boolean = true): Column = {
    // the window itself is the native WordGrams expression (one
    // primitive UTF8String loop inside whole-stage codegen — the
    // declarative transform/slice/array_join/array_distinct chain runs
    // interpreted and dominates every gram-based pipeline op);
    // tokenization stays on the built-ins so the token definition cannot
    // drift from wsTokens. Null text keeps yielding an empty array.
    coalesce(graft.functions.WordGrams(wsTokens(text), n, distinct),
      array().cast("array<string>"))
  }

  /** Compact English stopword set, shared with the quality oracle. */
  val EnStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "as", "with", "at", "by", "this", "be", "are")

  def stopwordCount(text: Column): Column =
    ccol(graft.functions.StopwordCount(cexpr(text), EnStopwords))

  private[graft] def stopwordCountDeclarative(text: Column): Column =
    size(filter(wsTokens(lower(text)), t => t.isin(EnStopwords: _*)))

  def punctCount(text: Column): Column =
    ccol(graft.functions.AsciiClassCount(cexpr(text), "punct"))

  private[graft] def punctCountDeclarative(text: Column): Column =
    length(regexp_replace(text, "[^!-/:-@\\[-`{-~]", ""))

  def digitCount(text: Column): Column =
    ccol(graft.functions.AsciiClassCount(cexpr(text), "digit"))

  private[graft] def digitCountDeclarative(text: Column): Column =
    length(regexp_replace(text, "[^0-9]", ""))

  /** Heuristic quality score in [0,1]: favors texts with a healthy
    * stopword ratio, moderate length, and low punctuation density —
    * the usual cheap pre-filter shape for web-scale corpora. */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text).cast("double")
    val stopRatio = stopwordCount(text).cast("double") / greatest(n, lit(1.0))
    val punctRatio = punctCount(text).cast("double") /
      greatest(length(text).cast("double"), lit(1.0))
    val lengthTerm = least(n / lit(100.0), lit(1.0))
    val stopTerm = least(stopRatio * lit(5.0), lit(1.0))
    val punctTerm = greatest(lit(1.0) - punctRatio * lit(10.0), lit(0.0))
    round((lengthTerm + stopTerm + punctTerm) / lit(3.0), 4)
  }

  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "with", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del", "las", "por"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "von", "mit", "den", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une", "dans", "que", "pour"))

  /** N-gram/stopword-profile language ID: CJK codepoints → zh, else the
    * profile with the most token hits (en on ties/zero — the unknown
    * bucket a downstream filter would route to review). */
  def languageId(text: Column): Column = {
    val toks = wsTokens(lower(text))
    val hits = langProfiles.map { case (lang, words) =>
      lang -> size(filter(toks, t => t.isin(words: _*)))
    }
    val best = hits.tail.foldLeft[(Column, Column)]((lit(hits.head._1), hits.head._2)) {
      case ((bestLang, bestHits), (lang, h)) =>
        (when(h > bestHits, lit(lang)).otherwise(bestLang),
          when(h > bestHits, h).otherwise(bestHits))
    }._1
    when(text.rlike("[\\u4e00-\\u9fff]"), lit("zh")).otherwise(best)
  }

  /** Top-k distinctive terms per document by tf·idf — the corpus
    * exploration / weak-labeling primitive. Lower-cased whitespace
    * tokens (no stemming: the oracle must reproduce the token stream
    * verbatim); idf = ln(N / df). Two shuffles: the per-(doc, term) tf
    * aggregate and the vocab-wide df aggregate; the rank window runs
    * per document over its ≤ vocab-of-doc rows. Ranking compares the
    * ROUNDED score (with a term tie-break) so the cut is deterministic
    * across engines. */
  def topTfidfTerms(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    topTfidfTermsFromTf(termFrequencies(df, idCol, textCol), idCol,
      df.count().toDouble, k)

  /** CCNet-style corpus-level line deduplication (boilerplate removal):
    * a non-blank line occurring in at least
    * `max(minDocs, ceil(maxDocFrac · totalDocs))` DISTINCT documents is
    * boilerplate (navigation, footers, cookie banners — text repeated
    * verbatim across a corpus is structure, not content) and is dropped
    * from every document; blank lines always survive (paragraph
    * structure) and never count toward boilerplate. Documents whose
    * every line was boilerplate drop out of the corpus. Returns
    * (id, text [cleaned, original line order], lines_kept,
    * lines_dropped).
    *
    * Scale: the line doc-frequency is an exact TWO-STAGE distinct — the
    * (line, id) pre-dedup shuffle spreads a corpus-universal line (the
    * exact row-pile boilerplate removal exists for) across reducers by
    * id, then a map-side-combined count per line; a one-stage
    * `countDistinct(id)` would concentrate that line's whole distinct
    * state on one reducer at 100 TB. Then one equi-join of the line
    * stream against the boilerplate set (plain shuffle join: the
    * boilerplate relation is NOT bounded small at corpus scale, so no
    * broadcast assumption), and one per-document reassembly aggregate.
    * Nothing pairwise, nothing driver-side except the document count.
    *
    * Rows with a null `idCol` carry no document identity: their lines
    * are excluded from the line doc-frequency, and they pass through
    * uncleaned (all lines kept), since the id-keyed join-back can never
    * match them.
    */
  def stripBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 3, maxDocFrac: Double = 0.5,
      totalDocs: Option[Long] = None): DataFrame = {
    require(minDocs >= 2, s"minDocs ($minDocs) below 2 would strip unique lines")
    val n = totalDocs.getOrElse(df.count())
    val threshold = math.max(minDocs.toLong, math.ceil(maxDocFrac * n).toLong)
    // -1 limit keeps trailing empty lines, matching SQL string_split.
    // Blank lines are excluded up front: they never count toward
    // boilerplate AND never match a boiler line in the join-back
    // (boiler holds only trim≠"" lines, exact string equality cannot
    // pair them with a blank) — so BOTH consumers read the same
    // non-blank line stream.
    val lines = df.select(col(idCol),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("pos", "line")))
      // null-id rows carry no document identity (the rebuild's left
      // join can never match them — they pass through uncleaned, as
      // before) and no longer count toward the line doc-frequency;
      // stating isnotnull(id) here keeps every copy of this subtree
      // canonically identical (see stripDupSpans)
      .filter(trim(col("line")) =!= "" && col(idCol).isNotNull)
    // ONE exploded-line pass — the [[graft.ops.Decontam.stripDupSpans]]
    // shape: the (line, id) aggregate keeps the two-stage de-skew
    // contract (exchange keyed (line, id), no countDistinct) while ALSO
    // collecting each doc's positions for that line, so the
    // doc-frequency roll-up and the boilerplate join-back both consume
    // THIS aggregate and ReuseExchange serves the corpus explode from
    // one shuffle (the former shape ran the line explode twice). The
    // count probes `poss` (non-empty by construction — always true)
    // only to stop the optimizer pruning it out of this consumer's
    // copy. The boilerplate side stays unhinted: its size is
    // corpus-dependent, the planner (or AQE) picks the join strategy
    // from its aggregated stats.
    val s1 = lines.groupBy(col("line"), col(idCol))
      .agg(collect_set(col("pos")).as("poss"))
    val boiler = s1.groupBy(col("line"))
      .agg(count(when(size(col("poss")) >= 1, 1)).as("df"))
      .filter(col("df") >= threshold)
      .select(col("line").as("b"))
    val bpos = s1.join(boiler, s1("line") === col("b"))
      .groupBy(col(idCol))
      .agg(array_distinct(flatten(collect_list(col("poss")))).as("__bpos"))
    // row-local rebuild, two regimes switched at
    // [[Decontam.RebuildExistsCutoff]]: the per-line exists() membership
    // test while lines × |bpos| stays at or below it, and above it the
    // sorted flagged positions fenced with -1 and |lines|, slicing the
    // line array over the UNCOVERED gaps between consecutive boundaries
    // (each line copied once). Blank lines are never flagged, so they
    // survive inside the gaps.
    val gapLines = {
      val b = concat(array(lit(-1)), col("__bp"),
        array(size(col("__lines"))))
      flatten(zip_with(
        slice(b, lit(1), size(b) - 1),
        slice(b, lit(2), size(b) - 1),
        (lo, hi) => slice(col("__lines"), lo + lit(2), hi - lo - lit(1))))
    }
    val keptLines = when(
      size(col("__bp")).cast("long") * size(col("__lines")) <= Decontam.RebuildExistsCutoff,
      filter(col("__lines"), (l, i) => !exists(col("__bp"), p => p === i)))
      .otherwise(gapLines)
    df.select(col(idCol), col(textCol))
      .join(bpos, Seq(idCol), "left")
      .select(col(idCol),
        split(col(textCol), "\n", -1).as("__lines"),
        array_sort(coalesce(col("__bpos"),
          array().cast("array<int>"))).as("__bp"))
      .select(col(idCol), col("__lines"), keptLines.as("__kept"))
      .select(col(idCol),
        array_join(col("__kept"), "\n").as(textCol),
        size(col("__kept")).cast("long").as("lines_kept"),
        size(col("__lines")).cast("long").as("lines_total"))
      // a doc whose every line was boilerplate leaves the corpus (the
      // anti-join form dropped it implicitly; the reference SQL agrees)
      .filter(col("lines_kept") > 0)
      .withColumn("lines_dropped", col("lines_total") - col("lines_kept"))
      .drop("lines_total")
  }

  /** Per-(document, term) counts over lower-cased whitespace tokens —
    * the shared substrate tf-idf and unigram-LM surprisal both reduce
    * to. tf is a per-document statistic, so it is counted ROW-LOCALLY
    * ([[graft.functions.TokenCounts]] over the same Spark-native
    * tokenization) and the compressed (term, tf) entries exploded —
    * SHUFFLE-FREE, where the former explode → groupBy(id, term) plan
    * moved every token occurrence of the corpus; a pipeline computing
    * several term statistics materializes THIS table once and derives
    * each metric from it with term-keyed joins of a much smaller
    * relation. Row parity with the grouped plan is pinned in OpsSpec. */
  def termFrequencies(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        explode(graft.functions.TokenCounts(
          split(lower(trim(col(textCol))), "\\s+"))).as("t"))
      .select(col(idCol), col("t.term").as("term"), col("t.tf").as("tf"))

  /** [[topTfidfTerms]] over a prebuilt [[termFrequencies]] table: df is
    * derived FROM the tf aggregate (count of docs per term), so the raw
    * token stream is never re-exploded. `nDocs` is the corpus document
    * count (a doc with no tokens is absent from tf, so it cannot be
    * recovered here). */
  def topTfidfTermsFromTf(tf: DataFrame, idCol: String, nDocs: Double, k: Int): DataFrame = {
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("dfreq"))
    val scored = tf.join(dfreq, "term")
      .withColumn("tfidf", round(col("tf") * log(lit(nDocs) / col("dfreq")), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col(idCol), col("term"), col("tfidf"))
  }

  /** Gopher-style repetition/shape statistics per document, plus the
    * composite keep flag a pre-training curation pass filters on
    * (Rae et al. 2021 §A1.1 use line/paragraph/n-gram repetition and
    * word-shape bounds; this data is single-line, so the repetition
    * signals are token-level):
    *
    *  - `mean_word_len`: characters per whitespace token (bounds 3..10);
    *  - `dup_tok_frac`: 1 − distinct/total tokens — vocabulary collapse;
    *  - `top_bigram_frac`: occurrences of the most frequent word bigram
    *    over the n−1 bigram slots — loop/boilerplate detector;
    *  - `keep`: 1 iff all bounds pass (computed on the 4-dp-ROUNDED
    *    stats, so the cut is reproducible across engines).
    *
    * One narrow projection + one (doc, bigram) count aggregate; docs
    * shorter than 2 tokens have no bigrams (their fraction is 0).
    * All thresholds are parameters — the defaults split this corpus. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
      minWordLen: Double = 3.0, maxWordLen: Double = 10.0,
      maxDupTokFrac: Double = 0.5, maxTopBigramFrac: Double = 0.05): DataFrame = {
    val base = df.select(col(idCol), wsTokens(col(textCol)).as("ws"),
        length(regexp_replace(col(textCol), "\\s", "")).cast("double").as("chars"))
      .withColumn("n", size(col("ws")).cast("double"))
      .withColumn("dn", size(array_distinct(col("ws"))).cast("double"))
    val grams = base.filter(col("n") >= 2)
      .select(col(idCol), explode(transform(
        sequence(lit(1), size(col("ws")) - 1),
        i => array_join(slice(col("ws"), i, lit(2)), " "))).as("gram"))
    val mx = grams.groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(max(col("c")).cast("double").as("mx"))
    val stats = base.join(mx, Seq(idCol), "left")
      .select(col(idCol),
        round(col("chars") / greatest(col("n"), lit(1.0)), 4).as("mean_word_len"),
        round(lit(1.0) - col("dn") / greatest(col("n"), lit(1.0)), 4).as("dup_tok_frac"),
        round(coalesce(col("mx") / (col("n") - lit(1.0)), lit(0.0)), 4).as("top_bigram_frac"))
    stats.withColumn("keep",
      when(col("mean_word_len") >= minWordLen && col("mean_word_len") <= maxWordLen &&
        col("dup_tok_frac") < maxDupTokFrac &&
        col("top_bigram_frac") < maxTopBigramFrac, lit(1)).otherwise(lit(0)))
  }

  /** RAG-style sliding-window chunker: fixed `window`-token chunks at
    * `stride`-token steps (overlap = window − stride), the last chunk
    * truncated at the document end. Pure integer span arithmetic plus an
    * array slice — one narrow projection + explode, no shuffle, no UDF;
    * a 100 TB corpus chunks in a single map stage.
    *
    * Chunk starts are 0, stride, 2·stride, …; the last start is the
    * smallest multiple of stride with start + window ≥ n (so every token
    * lands in ≥ 1 chunk and no chunk is empty). A doc with n ≤ window is
    * exactly one chunk. Output: (id, chunk_idx, tok_start, tok_len,
    * chunk) with `chunk` the space-joined token slice. */
  def chunkSpans(df: DataFrame, idCol: String, textCol: String,
      window: Int = 64, stride: Int = 48): DataFrame = {
    require(stride > 0 && window >= stride,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val base = df.select(col(idCol), wsTokens(col(textCol)).as("ws"))
      .withColumn("n", size(col("ws")))
    // ceil((n - window) / stride) + 1 chunks, floored at 1
    val extra = greatest(col("n") - window, lit(0))
    val nChunks = floor((extra + lit(stride - 1)) / lit(stride)).cast("int") + 1
    base.select(col(idCol), col("ws"), col("n"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_idx"))
      .withColumn("tok_start", col("chunk_idx") * stride)
      .withColumn("tok_len", least(lit(window), col("n") - col("tok_start")))
      .select(col(idCol), col("chunk_idx"), col("tok_start"), col("tok_len"),
        array_join(slice(col("ws"), col("tok_start") + 1, col("tok_len")), " ")
          .as("chunk"))
  }

  /** Token-length histogram of a corpus: docs and token mass per
    * `bucketSize`-token bucket (the last bucket open-ended at
    * `maxBucket`). The one-line corpus health check a curation run
    * prints first — one map-side-combined groupBy on ≤ maxBucket+1
    * keys, no matter the corpus size. */
  def lengthHistogram(df: DataFrame, textCol: String,
      bucketSize: Int = 32, maxBucket: Int = 15): DataFrame =
    df.select(tokenCount(col(textCol)).cast("long").as("n"))
      .groupBy(least(floor(col("n") / bucketSize), lit(maxBucket.toLong))
        .cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sum_tokens"))

  /** Corpus-unigram-LM surprisal per document — the CCNet-style cheap
    * quality/outlier signal: nll = Σ_tokens −ln(ctf/N), where ctf is the
    * token's corpus frequency and N the corpus token count. Emitted in
    * e4 fixed point (each term's surprisal rounded to 10⁻⁴ BEFORE the
    * per-doc sum), so the aggregate is exact integer math — order- and
    * partitioning-invariant. Two aggregates (doc-term tf, corpus ctf)
    * + one broadcast of the scalar N; the join keys on term, the same
    * shuffle class as tf-idf. */
  def unigramNll(df: DataFrame, idCol: String, textCol: String): DataFrame =
    unigramNllFromTf(termFrequencies(df, idCol, textCol), idCol)

  /** [[unigramNll]] over a prebuilt [[termFrequencies]] table — corpus
    * term frequency and corpus size both roll up from tf, so the token
    * stream is never re-exploded. */
  def unigramNllFromTf(tf: DataFrame, idCol: String): DataFrame = {
    val ctf = tf.groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
    val n = ctf.agg(sum(col("ctf")).as("n_corpus"))
    // per-TERM surprisal assembled on the bounded vocabulary side, then
    // ONE join back to the (doc, term) rows — same fold as
    // [[bigramNll]]: the former tf⋈ctf⋈n shape paid two doc-level
    // joins for integers that are a pure function of the term. The
    // surprisal side is VOCABULARY-sized — corpus-dependent, so no
    // broadcast hint (the planner/AQE picks from the aggregated stats;
    // a forced broadcast of an unbounded table is a 100 TB OOM). The
    // scalar n (one row) stays hinted.
    val surp = ctf.crossJoin(broadcast(n))
      .select(col("term"),
        round(-log(col("ctf") / col("n_corpus")) * 10000).cast("long")
          .as("__s"))
    // same deliberate non-broadcast strategy as [[bigramNll]]: unhinted,
    // the planner broadcast the CORPUS-side tf table from its product
    // estimates — shuffle-hash on the vocabulary side instead
    tf.join(surp.hint("shuffle_hash"), "term")
      .groupBy(col(idCol))
      .agg(
        sum(col("tf") * col("__s")).as("nll_e4"),
        sum(col("tf")).as("n_tokens"))
  }

  /** Bigram-LM surprisal per document (add-one smoothed) — the
    * next-order CCNet-style LM-quality signal above [[unigramNll]]: a
    * document whose CONSECUTIVE word pairs are improbable under the
    * corpus bigram model scores high even when its unigrams are common
    * (word salad, shuffled text, template churn). Model:
    * P(w₂|w₁) = (c(w₁w₂) + 1) / (c(w₁·) + V), with c(w₁·) the corpus
    * count of w₁ as a bigram context and V the corpus distinct-token
    * count; per-bigram surprisal −ln P is e4-fixed-pointed BEFORE the
    * per-doc sum, so the aggregate is exact integer math — order- and
    * partitioning-invariant, engine-replayable (same discipline as
    * [[unigramNll]]). Documents under two tokens have no bigrams and
    * emit no row.
    *
    * Cost: the (doc, bigram) aggregate + two bounded roll-ups (bigram
    * and context counts) + one scalar vocab aggregate, joined back on
    * the bigram — the same shuffle class as tf-idf; nothing pairwise,
    * nothing corpus² at any scale. */
  def bigramNll(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // per-(doc, bigram) counts: every occurrence, not distinct
    // the two isnotnull conjuncts are ALWAYS TRUE (WordGrams yields
    // non-null gram strings; substring_index of a non-null string is
    // non-null) — they are stated explicitly so every consumer of this
    // aggregate carries the IDENTICAL constraint set: the final surp
    // join infers isnotnull(bg) and the cu join infers
    // isnotnull(substring_index(bg, " ", 1)), and when those pushed
    // filters land in only SOME copies of the subtree, canonicalization
    // diverges and ReuseExchange re-plans the corpus explode once per
    // consumer (three full explodes in the round-12 plan).
    val bg = df.select(col(idCol),
        explode(wordGrams(col(textCol), 2, distinct = false)).as("bg"))
      .filter(col("bg").isNotNull &&
        substring_index(col("bg"), " ", 1).isNotNull)
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("tf"))
    val cbg = bg.groupBy(col("bg")).agg(sum(col("tf")).as("cbg"))
    val cu = cbg.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("cbg")).as("cu"))
    // V (the corpus distinct-token count) derives from the SAME bigram
    // aggregate instead of a second corpus-wide token explode: every
    // token of a ≥2-token document occurs in at least one corpus bigram
    // (as its first or last word), so the distinct tokens are exactly
    // the distinct words of the distinct-bigram table ∪ the tokens of
    // exactly-1-token documents (incl. the "" a whitespace-only text
    // tokenizes to — same membership the old token explode counted;
    // null text contributes to neither side, as before). Tokens never
    // contain whitespace (wsTokens splits on \s+), so splitting the
    // space-joined bigram is exact. The remaining corpus pass is a
    // narrow row-local size() filter that emits almost nothing; the
    // always-true `cbg >= 1` conjunct keeps this subtree reading the
    // same (bg, cbg) aggregate as the surprisal fold, so ReuseExchange
    // serves both from one shuffle instead of re-planning the corpus
    // bigram explode (guide §2.4 — the corpus is exploded ONCE).
    val bgWords = cbg.filter(col("cbg") >= 1L)
      .select(explode(array(substring_index(col("bg"), " ", 1),
        substring_index(col("bg"), " ", -1))).as("w"))
    val toks1 = df.select(wsTokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) === 1)
      .select(explode(col("__t")).as("w"))
    val v = bgWords.union(toks1).agg(count_distinct(col("w")).as("v"))
    // per-BIGRAM surprisal assembled on the bounded (distinct-bigram)
    // side first, then ONE join back to the (doc, bigram) rows. Joining
    // cbg/cu/v at the (doc, bigram) level instead planned the corpus
    // bigram explode + aggregate chain TWICE (the cu operand
    // canonicalized differently from the cbg one, defeating
    // ReuseExchange) and paid two doc-level joins; this shape derives
    // cu AND v FROM the cbg plan (one bigram aggregate, reused) and
    // joins one bounded surprisal table (guide §2.4 / §2.3). The
    // surprisal side carries one row per DISTINCT CORPUS BIGRAM — a
    // corpus-dependent cardinality, so it is deliberately NOT
    // broadcast-hinted (the stripBoilerplateLines rule: the planner/AQE
    // picks the strategy from the aggregated stats; a forced broadcast
    // of an unbounded table is an OOM at 100 TB, not a slowdown). The
    // scalar v (one row) stays hinted.
    val surp = cbg
      .join(cu, substring_index(col("bg"), " ", 1) === col("w1"))
      .crossJoin(broadcast(v))
      .select(col("bg"),
        round(-log((col("cbg") + lit(1.0)) / (col("cu") + col("v")))
          * 10000).cast("long").as("__s"))
    // deliberate non-broadcast strategy (guide §3.1): left unhinted the
    // planner's size estimates (join stats are products without CBO)
    // made the CORPUS-side (doc, bigram) table look like the smaller
    // side and BROADCAST IT — a hard OOM at corpus scale and slower
    // locally than probing it. SHUFFLE_HASH on the surprisal side keeps
    // both sides shuffled by bg (no driver-side relation ever holds the
    // corpus) and builds the per-partition hash on the bounded
    // aggregated side; it degrades to sort-merge only if the hint is
    // inapplicable.
    bg.join(surp.hint("shuffle_hash"), "bg")
      .groupBy(col(idCol))
      .agg(
        sum(col("tf") * col("__s")).as("nll_e4"),
        sum(col("tf")).as("n_bigrams"))
  }

  /** One-row corpus vocabulary summary: documents, token mass, distinct
    * types, hapax legomena — the Zipf-shape health check. Two bounded
    * aggregates (term counts, then the scalar roll-up). */
  def vocabStats(df: DataFrame, textCol: String): DataFrame = {
    // row-local tf first: the term aggregate then shuffles/combines one
    // (term, tf) entry per distinct term per doc, not one row per token
    val perTerm = df.select(explode(graft.functions.TokenCounts(
        split(lower(trim(col(textCol))), "\\s+"))).as("t"))
      .groupBy(col("t.term").as("term")).agg(sum(col("t.tf")).as("ctf"))
    // the doc count rides in lazily as a broadcast scalar — no eager
    // count job, no second corpus scan at construction time
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    perTerm.agg(
      sum(col("ctf")).as("total_tokens"),
      count(lit(1)).as("vocab_size"),
      sum(when(col("ctf") === 1, 1L).otherwise(0L)).as("hapax_count"))
      .crossJoin(broadcast(nDocs))
      .select(col("n_docs"), col("total_tokens"), col("vocab_size"),
        col("hapax_count"))
  }

  /** Top-k corpus n-grams by frequency (count desc, gram asc) — the
    * boilerplate/template detector run corpus-wide. One (gram) count
    * aggregate + a top-k sort of the aggregated (bounded) side. */
  def topNgrams(df: DataFrame, textCol: String, n: Int = 2, k: Int = 20): DataFrame = {
    val grams = df.select(
      explode(wordGrams(col(textCol), n, distinct = false)).as("gram"))
    grams.groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram").asc)
      .limit(k)
  }

  /** Engine-portable text normalization — the cleanup pass every crawl
    * pipeline runs before tokenization/dedup (CCNet's and RefinedWeb's
    * first step). Deliberately the regex-expressible subset, NOT full
    * NFKC (neither engine's SQL surface carries ICU): each rule is ONE
    * regex both Spark (java.util.regex) and DuckDB (RE2) interpret
    * identically — `\x`/`\x{…}` escapes only, no engine-specific
    * classes:
    *
    *   1. C0 control chars (except \t \n \r) and DEL removed;
    *   2. common unicode spaces (NBSP, figure/narrow NBSP, ideographic)
    *      → ASCII space;
    *   3. curly quotes → straight quotes, en/em dash → hyphen;
    *   4. whitespace runs collapsed to one space, ends trimmed.
    *
    * Order matters and is part of the contract (a control char must
    * not survive into the collapse). Row-local, codegen, no shuffle —
    * a 100 TB corpus maps straight through. */
  def normalizeText(text: Column): Column = {
    val ctrl = regexp_replace(text, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    val sp = regexp_replace(ctrl, "[\\x{00A0}\\x{2007}\\x{202F}\\x{3000}]", " ")
    val sq = regexp_replace(sp, "[\\x{2018}\\x{2019}]", "'")
    val dq = regexp_replace(sq, "[\\x{201C}\\x{201D}]", "\"")
    val da = regexp_replace(dq, "[\\x{2013}\\x{2014}]", "-")
    trim(regexp_replace(da, "\\s+", " "))
  }

  /** Corpus vocabulary with frequencies: (w, c) over lower-cased
    * whitespace words — the ONE corpus-sized stage of BPE training,
    * shared by [[bpePairCounts]] and [[bpeTrainMerges]] (and exported
    * as the `bpe_wordcounts` oracle seam). */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(wsTokens(lower(col(textCol)))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))

  /** One BPE-trainer counting step at corpus scale (Sennrich et al.
    * 2016, arXiv:1508.07909): the frequency of every adjacent character
    * pair, weighted by word frequency — the table whose argmax is the
    * next merge a byte-pair-encoding tokenizer learns. Top-k by count
    * with a deterministic tie-break (count desc, pair asc).
    *
    * The scale property real BPE trainers rely on: the corpus collapses
    * to its VOCABULARY first (one map-side-combined `groupBy(word)` —
    * the only corpus-sized stage), and the pair explode then runs over
    * DISTINCT words only, carrying the word count as the weight. Pair
    * work is bounded by Σ|word| over the vocabulary, not over the
    * corpus — a 100 TB crawl with a 10M-word vocabulary explodes ~10M
    * rows, not 10¹³. Iterating merges re-runs this count over a
    * re-segmented vocabulary; this operator is the one distributed step
    * each iteration repeats. */
  def bpePairCounts(df: DataFrame, textCol: String, k: Int = 30): DataFrame = {
    val wc = wordCounts(df, textCol)
    val pairs = wc.filter(length(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"), col("c"))
    pairs.groupBy(col("pair")).agg(sum(col("c")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(k)
  }

  /** Iterated BPE merge TRAINING (the loop [[bpePairCounts]] is one
    * step of — Sennrich et al. 2016, arXiv:1508.07909): repeat `merges`
    * times { count adjacent token pairs over the segmented vocabulary
    * weighted by word frequency; take the most frequent pair (count
    * desc, then (x, y) asc — a total deterministic order); merge its
    * occurrences leftmost-greedy non-overlapping in every word }.
    * Returns the learned merge table (rank, x, y, merged, cnt) — the
    * artifact a tokenizer ships.
    *
    * Scale contract: the corpus collapses to its vocabulary ONCE (the
    * [[wordCounts]] groupBy — the only corpus-sized stage, eagerly
    * materialized so no round rescans the corpus); each round is then
    * vocabulary-sized — one map-side-combined pair aggregate, ONE
    * 1-row argmax collect (the bounded driver step BPE's sequential
    * dependence forces), and a row-local leftmost-greedy re-segmentation
    * fold. `merges` rounds of lineage over the checkpointed vocabulary
    * stay row-local; a 10M-word vocabulary costs ~10M rows per round,
    * never the corpus.
    *
    * Leftmost-greedy as a fold: append each token unless the
    * accumulator's last element is `x` and the current is `y` — after
    * a merge the last element becomes `xy` ≠ `x` (y is nonempty), so
    * overlapping re-merge within the round is structurally impossible
    * ("aaa" under (a,a) → [aa, a], the textbook rule). Characters are
    * codepoint `substr` slices, matching the SQL oracle's semantics
    * exactly (never JVM UTF-16 split). */
  def bpeTrainMerges(df: DataFrame, textCol: String, merges: Int = 8): DataFrame =
    bpeTrainArtifacts(df, textCol, merges)._1

  /** The segmented vocabulary AFTER [[bpeTrainMerges]]' k merges — the
    * tokenizer APPLICATION step (what an encode pass ships): one row
    * per distinct word with its corpus count, its "|"-joined subword
    * segmentation, and the subword count. Per-document token counts
    * follow by joining this table back on the word (vocabulary-sized
    * broadcast at any corpus scale — [[bpeDocTokenCounts]]). Same cost
    * contract as the trainer — the segmentation IS the trainer's final
    * state. */
  def bpeSegmentedVocab(df: DataFrame, textCol: String,
      merges: Int = 8): DataFrame =
    bpeTrainArtifacts(df, textCol, merges)._2

  /** Both trainer artifacts from ONE training run: the merge table
    * (rank, x, y, merged, cnt) and the segmented vocabulary
    * (w, c, seg, n_subtokens). A tokenizer release ships the pair; a
    * caller that needs both (the q_doc_bpe_merges + q_doc_bpe_encode
    * gates share one training run through a per-sfDir cache owner)
    * pays the k sequential rounds once instead of once per artifact. */
  def bpeTrainArtifacts(df: DataFrame, textCol: String,
      merges: Int = 8): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    import spark.implicits._
    val (learned, seg) = bpeTrain(df, textCol, merges)
    (learned.toDF("rank", "x", "y", "merged", "cnt"),
      seg.select(col("w"), col("c"),
        array_join(col("toks"), "|").as("seg"),
        size(col("toks")).cast("long").as("n_subtokens")))
  }

  /** Per-document learned-tokenizer token counts: (id, bpe_tokens) with
    * bpe_tokens = Σ over the document's words of that word's subword
    * count under `segVocab` (a [[bpeSegmentedVocab]] frame — or any
    * (w, n_subtokens) table). The join is VOCABULARY-sized and
    * broadcast: at 100 TB the corpus side is one row-local explode +
    * one map-side-combined per-doc sum; the vocabulary side is the
    * tokenizer artifact, plan-small by construction. Words outside the
    * vocabulary count `oovTokens` each (1 = one <unk>); docs with no
    * words (null/empty text) report 0. */
  def bpeDocTokenCounts(df: DataFrame, segVocab: DataFrame, idCol: String,
      textCol: String, oovTokens: Long = 1L): DataFrame = {
    val words = df.select(col(idCol).as("id"),
        explode(wsTokens(lower(col(textCol)))).as("w"))
      .filter(col("w") =!= "")
    val counted = words
      .join(broadcast(segVocab.select(col("w"), col("n_subtokens"))),
        Seq("w"), "left")
      .groupBy(col("id"))
      .agg(sum(coalesce(col("n_subtokens"), lit(oovTokens))).as("bpe_tokens"))
    df.select(col(idCol).as("id"))
      .join(counted, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("bpe_tokens"), lit(0L)).as("bpe_tokens"))
  }

  /** The shared training loop: (learned merge list, final segmented
    * vocabulary frame). */
  private def bpeTrain(df: DataFrame, textCol: String, merges: Int)
      : (Seq[(Long, String, String, String, Long)], DataFrame) = {
    require(merges >= 1 && merges <= 256,
      s"merges must be in [1, 256], got $merges (each round is a " +
        "sequential vocabulary pass — train large tables in stages)")
    val wc = wordCounts(df, textCol).localCheckpoint(eager = true)
    var seg = wc.select(col("w"), col("c"),
      transform(sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1))).as("toks"))
    val learned = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var exhausted = false
    for (r <- 1 to merges if !exhausted) {
      val top = seg.filter(size(col("toks")) >= 2)
        .select(col("c"), explode(transform(
          sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("x"),
            element_at(col("toks"), i + 1).as("y")))).as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum(col("c")).as("cnt"))
        .orderBy(col("cnt").desc, col("x").asc, col("y").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (x, y, cnt) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        learned += ((r.toLong, x, y, x + y, cnt))
        seg = seg.withColumn("toks",
          aggregate(col("toks"), array().cast("array<string>"),
            (acc, t) => when(size(acc) > 0 &&
                element_at(acc, -1) === lit(x) && t === lit(y),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(x + y))))
              .otherwise(concat(acc, array(t)))))
        // bound the round lineage: each round nests another aggregate()
        // fold over the previous segmentation, so by the 256-merge cap
        // the expression tree would be 256 folds deep and analyzer time
        // per round grows with r. Re-materializing every 16 rounds keeps
        // the tree ≤ 16 deep for a vocabulary-sized write (the paths
        // walk's checkpoint cadence, QueryEngine's iterative fixpoint).
        if (r % 16 == 0 && r < merges)
          seg = seg.localCheckpoint(eager = true)
      }
    }
    (learned.toSeq, seg)
  }

  /** Per-slice corpus data card — the summary table a dataset release
    * documents ("data card"): documents, DISTINCT texts (the exact-dup
    * mass is `n_docs − n_distinct`), token and byte volume, and the
    * quality mass as a 4-dp-scaled integer sum (divide by `n_docs` at
    * read time for the mean — integer sums commute, so the card is
    * bit-identical on any cluster). ONE aggregate over the group key;
    * the exact `count(DISTINCT md5)` is the only expensive leg (Spark
    * plans it as an expand + two-phase agg — shuffle keyed on
    * (group, md5), dup-mass-bounded on the reduce side). Null text
    * counts as a document with no tokens/bytes/distinct-entry. */
  def corpusCard(df: DataFrame, groupCol: String, textCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col(textCol))).as("n_distinct"),
        // coalesce: an all-null-text slice reports volume 0, not NULL
        // (sum's skip-nulls would NULL the whole cell)
        coalesce(sum(tokenCount(col(textCol)).cast("long")), lit(0L)).as("tok_sum"),
        coalesce(sum(octet_length(col(textCol)).cast("long")), lit(0L)).as("byte_sum"),
        coalesce(sum(round(qualityScore(col(textCol)) * 10000).cast("long")),
          lit(0L)).as("q4_sum"))

  /** Unicode script profile per document: character counts in the five
    * major script ranges plus digits, and the dominant script — the
    * signal a multilingual curation pass routes on when the lang column
    * is absent or untrusted (complements the n-gram [[languageId]],
    * which only discriminates Latin-script languages). Ranges are
    * explicit `\x{…}` codepoint intervals (BMP main blocks — the
    * documented trade: no supplementary-plane CJK extensions), parsed
    * identically by java.util.regex and RE2, NOT `\p{script=…}` classes
    * whose names/semantics differ per engine. Counting is
    * keep-only-the-class `regexp_replace` + `length`; the dominant pick
    * is a fixed-priority ≥-chain (latin, cyrillic, greek, cjk, arabic —
    * earlier wins ties), so the label is engine-exact. Row-local,
    * codegen, no shuffle. */
  def scriptProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def cnt(cls: String): Column =
      length(regexp_replace(coalesce(col(textCol), lit("")), s"[^$cls]", ""))
        .cast("long")
    val lat = cnt("A-Za-z\\x{00C0}-\\x{024F}")
    val cyr = cnt("\\x{0400}-\\x{04FF}")
    val grk = cnt("\\x{0370}-\\x{03FF}")
    val cjk = cnt("\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}")
    val ara = cnt("\\x{0600}-\\x{06FF}")
    val dig = cnt("0-9")
    df.select(col(idCol), lat.as("latin"), cyr.as("cyrillic"),
        grk.as("greek"), cjk.as("cjk"), ara.as("arabic"), dig.as("digits"))
      .withColumn("dominant",
        when(col("latin") >= col("cyrillic") && col("latin") >= col("greek") &&
          col("latin") >= col("cjk") && col("latin") >= col("arabic"), lit("latin"))
          .when(col("cyrillic") >= col("greek") && col("cyrillic") >= col("cjk") &&
            col("cyrillic") >= col("arabic"), lit("cyrillic"))
          .when(col("greek") >= col("cjk") && col("greek") >= col("arabic"), lit("greek"))
          .when(col("cjk") >= col("arabic"), lit("cjk"))
          .otherwise(lit("arabic")))
  }

  /** Tokenizer-coverage report: per-document out-of-vocabulary rate
    * under a `minCount` corpus vocabulary — the check a tokenizer/vocab
    * choice is validated with ("how much of the corpus falls to <unk>
    * if the vocab keeps only terms seen ≥ m times"). Rides a prebuilt
    * [[termFrequencies]] substrate: one corpus-term roll-up for the
    * vocab decision, joined back on the term (tf-idf's shuffle class,
    * never a re-explode). `oov_e4` is the 4-dp fixed-point OOV token
    * fraction; docs with no tokens are absent (same rule as the
    * surprisal ops). */
  def oovStatsFromTf(tf: DataFrame, idCol: String, minCount: Long): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val ctf = tf.groupBy(col("term")).agg(sum(col("tf")).as("__ctf"))
    tf.join(ctf, "term")
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(when(col("__ctf") < minCount, col("tf")).otherwise(0L)).as("n_oov"))
      .withColumn("oov_e4",
        round(col("n_oov") * 10000.0 / col("n_tokens")).cast("long"))
  }

  /** Whole-document fingerprint over whitespace-normalized text —
    * md5 so the DuckDB oracle can reproduce it byte-for-byte. */
  def fingerprintMd5(text: Column): Column =
    md5(lower(trim(regexp_replace(text, "\\s+", " "))))

  /** Winnowing fingerprints with the md5 selection rule, hashing each
    * k-gram with the low 60 bits of its md5 — a hash both engines can
    * compute, so the selection is oracle-checkable end-to-end (60 bits
    * keep the value positive: signed min == unsigned min on both
    * sides). Same selection rule as [[winnowingUdf]]: normalize
    * whitespace/case, hash every k-char gram, keep the min of each
    * w-window, distinct. The hash/min/dedup pass is the codegen
    * [[graft.functions.WinnowMd5]] expression (one primitive loop
    * inside whole-stage codegen); [[winnowMd5Declarative]] is the
    * pure-SQL twin it is parity-pinned against. Returns (id, fp). */
  def winnowMd5Fingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    val norm = trim(regexp_replace(lower(col(textCol)), "\\s+", " "))
    df.select(col(idCol),
      explode(graft.functions.WinnowMd5(norm, k, w)).as("fp"))
  }

  /** The declarative (built-in HOF) twin of [[winnowMd5Fingerprints]] —
    * byte-identical output, ~5× slower (interpreted `transform`s +
    * per-window `slice`); kept as the parity oracle for the codegen
    * expression (OpsSpec). */
  private[graft] def winnowMd5Declarative(df: DataFrame, idCol: String,
      textCol: String, k: Int = 5, w: Int = 4): DataFrame = {
    val norm = trim(regexp_replace(lower(col(textCol)), "\\s+", " "))
    val out = df
      .withColumn("__norm", norm)
      // sequence(1, 0) DESCENDS in Spark, so short inputs need explicit
      // empty-array branches rather than a greatest() clamp
      .withColumn("__hs", expr(
        s"CASE WHEN length(__norm) >= $k THEN " +
          s"transform(sequence(1, length(__norm) - $k + 1), " +
          s"i -> cast(conv(substr(md5(substr(__norm, i, $k)), 1, 15), 16, 10) as bigint)) " +
          "ELSE cast(array() as array<bigint>) END"))
      .withColumn("__mins", expr(
        s"CASE WHEN size(__hs) >= $w THEN " +
          s"transform(sequence(1, size(__hs) - $w + 1), " +
          s"j -> array_min(slice(__hs, j, $w))) " +
          "ELSE cast(array() as array<bigint>) END"))
      .select(col(idCol), explode(array_distinct(col("__mins"))).as("fp"))
    out
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    * rolling-hash all k-grams, keep the minimum per sliding window of w —
    * the standard near-dup/plagiarism sketch. Single-pass scalar UDF. */
  def winnowingUdf(k: Int = 5, w: Int = 4) = udf { (text: String) =>
    if (text == null) Array.empty[Long]
    else {
      val s = text.toLowerCase.replaceAll("\\s+", " ").trim
      if (s.length < k) Array.empty[Long]
      else {
        val n = s.length - k + 1
        val hashes = new Array[Long](n)
        var i = 0
        while (i < n) {
          hashes(i) = graft.functions.Hash64.hashString(s.substring(i, i + k))
          i += 1
        }
        val out = scala.collection.mutable.LinkedHashSet.empty[Long]
        var j = 0
        while (j + w <= n) {
          var m = hashes(j); var x = j + 1
          while (x < j + w) { if (hashes(x) < m) m = hashes(x); x += 1 }
          out += m
          j += 1
        }
        out.toArray
      }
    }
  }
}
