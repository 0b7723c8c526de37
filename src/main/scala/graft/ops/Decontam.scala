package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag corpus documents that share word
  * n-grams with an evaluation set — the standard leakage check a
  * pre-training pipeline runs before a corpus ships.
  *
  * The benchmark side is distinct n-grams of a (small) eval suite and
  * is broadcast; the corpus side explodes its distinct n-grams once and
  * semi-aggregates hits per document. One shuffle (the per-doc count);
  * the n-gram explode is row-local. At 100 TB the corpus side stays
  * partition-parallel and the broadcast side is bounded by the eval
  * suite's size — if an eval set ever outgrew the broadcast threshold,
  * dropping the `broadcast` hint degrades gracefully to a shuffle join.
  */
object Decontam {

  /** The per-row rebuild cutoff shared by [[stripDupSpans]] and
    * [[graft.ops.TextAnalysis.stripBoilerplateLines]]: while elements ×
    * flagged positions stays at or below it, each element is tested
    * with a direct exists() probe over the flagged set; above it, the
    * rebuild slices the sorted gaps between flagged positions instead.
    * Measured, not assumed: a gaps-only rebuild ran ~20% slower on the
    * sf1 corpus, because its per-gap slice allocations beat the
    * constant-light exists() lambda only when the product is large.
    * 4·10⁶ interpreted probes cost single-digit milliseconds and cover
    * every realistic document; the gap path removes the quadratic-CPU
    * hazard (a heavily duplicated document near the maxTokens cap would
    * pay ~10¹³ probes). */
  private[ops] val RebuildExistsCutoff = 4000000L

  /** Distinct word n-grams per row: (id, gram). Rows shorter than `n`
    * words contribute nothing. */
  private[ops] def grams(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"),
      explode(TextAnalysis.wordGrams(col(textCol), n)).as("gram"))

  /** (id, hits) for every corpus document sharing at least `minHits`
    * distinct n-grams with the benchmark set. `hits` counts distinct
    * contaminated n-grams, the usual reporting unit. */
  def contaminated(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 8, minHits: Long = 1L): DataFrame = {
    val benchGrams = grams(bench, idCol, textCol, n)
      .select(col("gram")).distinct()
    grams(corpus, idCol, textCol, n)
      .join(broadcast(benchGrams), "gram")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("hits")) // grams are distinct per id already
      .filter(col("hits") >= minHits)
  }

  /** Per-(document, benchmark item) contamination audit: which corpus
    * documents share ≥ `minHits` distinct n-grams with WHICH benchmark
    * rows — the view a leakage investigation reads ("items of eval X
    * appear verbatim in these documents"), where [[contaminated]] only
    * answers the shipping question ("drop these docs"). Same cost
    * shape: the bench side stays the broadcast side (bounded by the
    * benchmark), the corpus side pays one gram explode + one grouped
    * count — the pair cardinality is true contamination, never
    * corpus × bench. */
  def contaminationReport(corpus: DataFrame, bench: DataFrame,
      idCol: String, benchIdCol: String, textCol: String,
      n: Int = 8, minHits: Long = 1L): DataFrame = {
    val benchGrams = grams(bench, benchIdCol, textCol, n)
      .select(col("id").as("bench_id"), col("gram")).distinct()
    grams(corpus, idCol, textCol, n)
      .join(broadcast(benchGrams), "gram")
      .groupBy(col("id"), col("bench_id"))
      .agg(count(lit(1)).as("hits")) // distinct per (doc, bench) pair
      .filter(col("hits") >= minHits)
  }

  /** The corpus minus its contaminated documents — the step a curation
    * run actually ships. One anti-join against the (small) flagged set. */
  def clean(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 8, minHits: Long = 1L): DataFrame = {
    val flagged = contaminated(corpus, bench, idCol, textCol, n, minHits)
      .select(col("id").as(idCol))
    corpus.join(flagged, Seq(idCol), "left_anti")
  }

  /** Duplicated-span statistics over the corpus itself (the signal
    * behind exact-substring dedup, Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better"): for each document,
    * how many of its distinct word n-grams also appear in at least one
    * OTHER document. Output: (id, n_grams, n_dup_grams, dup_frac);
    * docs shorter than n words contribute no grams and no row.
    *
    * Shape: one corpus-wide (gram → doc-frequency) aggregate + the
    * inverted-index join back — the same shuffle class as the Jaccard
    * candidate step; nothing is pairwise, so a boilerplate gram shared
    * by k docs costs k join rows, not k². */
  /** Exact-substring span REMOVAL (the shipping step of Lee et al. 2022
    * ExactSubstr dedup, where [[dupSpanStats]] only reports): delete
    * from every document each word position covered by a word n-gram
    * that also occurs in at least `minDocs` distinct documents, and
    * reassemble the survivors in original order (single-space joined —
    * the token stream is the unit of this operator, not the original
    * whitespace). Returns (id, text [stripped], tokens_kept,
    * tokens_dropped); a document whose every token was covered leaves
    * the corpus, like [[graft.ops.TextAnalysis.stripBoilerplateLines]]
    * drops all-boilerplate documents. Duplication is CROSS-document
    * (distinct-doc frequency), matching [[dupSpanStats]]'s signal — a
    * span repeated only within one document is structure of that
    * document, not corpus-level duplication.
    *
    * Shape: positional grams (the codegen WordGrams window, evaluated
    * row-locally) → exact doc-frequency via TWO-STAGE distinct — the
    * (gram, id) pre-dedup shuffle spreads a corpus-universal gram
    * across reducers by id, then a map-side-combined count per gram —
    * no single-reducer countDistinct state (deliberately NOT
    * [[dupSpanStats]]'s one-pass window: a window partitioned by gram
    * cannot be split by AQE when one gram holds a billion rows, a
    * shuffle join can) → join-back on gram collects each doc's
    * duplicated START positions (one map-side-combined set per doc,
    * bounded by the doc's own gram count; cost = duplicated volume,
    * never corpus²) → ONE id-keyed join of docs to their start sets +
    * a ROW-LOCAL rebuild: the coverage union, the token filter and the
    * reassembly are higher-order array functions inside the scan
    * projection. The former shape shuffled the corpus TOKEN-exploded
    * (every token as its own row through an exchange, plus a covered-
    * position explode + distinct + a collect_list re-aggregation);
    * this one moves each text exactly once, as one row (guide §2.3:
    * shuffle fewer bytes; §2.4: remove shuffles outright — 5 exchanges
    * → 3, and nothing token-granular ever crosses the wire).
    *
    * MEASURED trade (round 13): folding the df side and the join-back
    * into ONE (gram, id) collect_set aggregate (single explode,
    * ReuseExchange) was tried and REVERTED — collecting position sets
    * for every gram of every doc turns the whole stream into an
    * ObjectHashAggregate (no codegen, per-group set state for mostly
    * unique grams) and measured 2.5× SLOWER at sf1 (5.05 s vs 2.03 s
    * same-session) than the two row-local explodes + codegen distinct
    * kept here; positions are collected only for DUPLICATED grams. */
  def stripDupSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minDocs: Long = 2L, maxTokens: Int = 4000000): DataFrame = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    require(minDocs >= 2L,
      s"minDocs ($minDocs) below 2 would strip every span of every doc")
    require(maxTokens >= n, s"maxTokens ($maxTokens) must be >= n ($n)")
    for (c <- Seq("pos", "token", "gpos", "gram", "__cov", "__starts", "__toks"))
      require(idCol != c, s"idCol '$c' collides with an internal name")
    // per-doc start-position sets are the one remaining aggregation
    // buffer (ints, bounded by the doc's gram count); the rebuild
    // itself holds the doc's token array plus a transient covered-
    // position expansion (≤ n·|starts| ints before dedup) — all
    // pathological only for a single hundreds-of-MB document. Refuse loudly (the repo's
    // limit(cap+1) policy, expressed row-locally so the guard costs no
    // extra job and fires BEFORE any buffer builds) instead of OOMing
    // an executor; callers with megadocs chunk first or raise the cap.
    val rawToks = TextAnalysis.wsTokens(col(textCol))
    val guardedToks = when(size(rawToks) > maxTokens,
        raise_error(format_string(
          "stripDupSpans: document exceeds maxTokens=%d (%d tokens); the " +
            "per-document rebuild buffers every surviving token — chunk " +
            "the document or raise maxTokens",
          lit(maxTokens.toLong), size(rawToks).cast("long"))))
      .otherwise(rawToks)
    val grams = df.select(col(idCol).as("id"),
      posexplode(TextAnalysis.wordGrams(col(textCol), n, distinct = false))
        .as(Seq("gpos", "gram")))
    val dup = grams.select(col("gram"), col("id")).distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("gram"))
    // duplicated-span START positions per document — a position pos is
    // covered iff some duplicated gram starts in [pos-n+1, pos], so the
    // start set alone carries the whole coverage union row-locally
    val starts = grams.join(dup, "gram")
      .groupBy(col("id"))
      .agg(collect_set(col("gpos")).as("__starts"))
    // row-local rebuild, two regimes switched at [[RebuildExistsCutoff]]:
    //  - tokens × |starts| at or below it: the direct per-token
    //    exists() test;
    //  - beyond it: expand the start set once into a sorted distinct
    //    covered-position array, fence it with -1 and |toks|, and
    //    slice the token array over the UNCOVERED gaps between
    //    consecutive boundaries — O(tokens + n·|starts|), each token
    //    copied once.
    // the gap machinery lives entirely INSIDE the otherwise-branch so
    // rows on the exists path never evaluate it (a column-stage version
    // computed the covered-position expansion for every row)
    val gapToks = {
      val cov = array_sort(array_distinct(flatten(transform(
        col("__starts"), st => sequence(st, st + lit(n - 1))))))
      val b = concat(array(lit(-1)), cov, array(size(col("__toks"))))
      filter(
        flatten(zip_with(
          slice(b, lit(1), size(b) - 1),
          slice(b, lit(2), size(b) - 1),
          (lo, hi) => slice(col("__toks"), lo + lit(2), hi - lo - lit(1)))),
        t => t =!= "")
    }
    val uncovered = (t: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =>
      t =!= "" && !exists(col("__starts"), s => i >= s && i <= s + lit(n - 1))
    val keptToks = when(
      size(col("__starts")).cast("long") * size(col("__toks")) <= RebuildExistsCutoff,
      filter(col("__toks"), uncovered)).otherwise(gapToks)
    df.select(col(idCol).as("id"), col(textCol))
      .join(starts, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("__starts"), array().cast("array<int>")).as("__starts"),
        guardedToks.as("__toks"))
      .select(col("id"), col("__toks"), keptToks.as("__kept"))
      .select(col("id"),
        array_join(col("__kept"), " ").as(textCol),
        size(col("__kept")).cast("long").as("tokens_kept"),
        // all-empty text tokenizes to [""] — excluded from the total
        // exactly as the former token explode filtered it
        size(filter(col("__toks"), t => t =!= "")).cast("long").as("tokens_total"))
      .filter(col("tokens_kept") > 0)
      .withColumn("tokens_dropped", col("tokens_total") - col("tokens_kept"))
      .drop("tokens_total")
      .withColumnRenamed("id", idCol)
  }

  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    require(idCol != "__dup", "idCol '__dup' collides with an internal name")
    val g = grams(df, idCol, textCol, n)
    // Grams are distinct per id (wordGrams dedups row-locally), so the
    // per-gram count = document frequency — and because it is a groupBy,
    // not a gram-partitioned window, it gets map-side partial
    // aggregation and AQE can split a corpus-universal gram's reducer
    // (the same de-skew argument as [[stripDupSpans]]'s two-stage
    // distinct; the old single-window formulation funneled a
    // billion-row boilerplate gram through ONE window partition). The
    // join-back re-evaluates the row-local gram explode once more —
    // the deliberate trade documented in stripDupSpans.
    val dup = g.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select(col("gram"), lit(1L).as("__dup"))
    g.join(dup, Seq("gram"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        count(col("__dup")).as("n_dup_grams"))
      .withColumn("dup_frac",
        round(col("n_dup_grams") / col("n_grams"), 4))
  }
}
