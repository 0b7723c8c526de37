package graft.fts

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Distributed BM25 full-text index over a corpus of (hash, value) docs —
  * the Spark-native replacement for DuckDB's `fts` extension + the
  * `match_bm25(hash, q, conjunctive:=1)` call the reference issues
  * (/root/reference/src/bikidata/query.py:198-209, index built at
  * main.py:206-220).
  *
  * The index is three plain DataFrames (SURVEY §2.4) built with one
  * `groupBy` each — partial aggregation, no custom physical operator:
  *  - `postings(hash, term, tf)` — term frequency per doc
  *  - `termstats(term, df)` — document frequency per term
  *  - corpus stats (numDocs, avgdl) + per-doc length folded into postings
  *    as `len` to save a join at query time.
  *
  * Scoring: Okapi BM25, k1 = 1.2, b = 0.75 (DuckDB's defaults), with the
  * `+1`-smoothed idf DuckDB's macro uses:
  * `ln(1 + (N - df + 0.5)/(df + 0.5))`.
  *
  * Query evaluation is pure DataFrame algebra: the (tiny) analyzed query
  * term set is broadcast-joined against postings, conjunctive matching is
  * `count(distinct term) == nTerms`, and the score a column expression —
  * everything stays inside whole-stage codegen.
  */
final case class FtsIndex(
    postings: DataFrame, // FtsIndex.PostingsSchema
    termstats: DataFrame, // FtsIndex.TermstatsSchema
    numDocs: Long,
    avgdl: Double,
    k1: Double = 1.2,
    b: Double = 0.75,
    settings: FtsSettings = FtsSettings(),
    listsStored: Option[DataFrame] = None) {

  /** Query-path layout: true inverted lists, one row per (term, chunk)
    * holding a packed array of (hash, tf, len) entries. A match scans
    * vocab-scale rows (term-IN pruned against batch min/max stats)
    * instead of the corpus-scale flat postings. Chunking by doc hash
    * (`pmod(hash, chunks)`) caps a hot term's list at ~1/chunks of its
    * docs, so one row can never hold an unbounded list at 100 TB and the
    * explode parallelizes across tasks. [[FtsIndex.write]] persists this
    * layout; a loaded index reads it back ([[listsStored]]) instead of
    * re-aggregating the flat postings every session. */
  lazy val postingLists: DataFrame =
    listsStored.getOrElse(FtsIndex.listsFrom(postings))

  def persist(): FtsIndex = {
    postingLists.persist(StorageLevel.MEMORY_AND_DISK)
    this
  }

  /** Release the persisted lists (context retirement — without this,
    * every mutation strands one corpus-sized posting-lists frame in the
    * block manager for the session lifetime). */
  def unpersist(): FtsIndex = {
    postingLists.unpersist()
    this
  }

  /** Conjunctive BM25 match: docs containing ALL query terms, scored.
    * Returns (hash: Long, score: Double). Unknown query terms make the
    * match set empty (conjunctive semantics) — including stopwords,
    * which the indexer dropped but the query analyzer deliberately
    * keeps, exactly like DuckDB's `match_bm25(conjunctive:=1)`. */
  def matchBm25(query: String): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val terms = settings.queryTokens(query)
    if (terms.isEmpty) return spark.emptyDataFrame
      .withColumn("hash", lit(0L)).withColumn("score", lit(0.0))
      .limit(0).select("hash", "score")
    val nTerms = terms.length
    // explicit IN filter BEFORE the explode: the term-clustered inverted
    // lists carry term min/max stats per cached batch, so the scan skips
    // every batch without a query term — vocab-scale work, not
    // corpus-scale — and only the matching lists are unpacked.
    // df per term = Σ list sizes over the term's chunks, computed with a
    // window over the ≤ terms×chunks pruned rows: no termstats scan, no
    // broadcast-exchange job at query time.
    val prunedAll = postingLists.filter(col("term").isin(terms.toIndexedSeq: _*))
    // small corpus → collapse the pruned lists to ONE task: a single
    // partition satisfies the window's term-clustering requirement, so
    // the plan drops the window exchange+sort stage and the aggregate's
    // partial pass runs in the same task — two scheduling rounds fewer
    // per match on a latency-bound serving tier. Worst-case single-task
    // work is nTerms × numDocs exploded entries (every doc matches every
    // term), bounded by the [[FtsIndex.singleTaskMatchDocs]] gate; past
    // it the chunked parallel plan stands (a 100 TB corpus explodes a
    // hot term's lists across postingChunks tasks, as designed).
    val pruned =
      if (numDocs <= FtsIndex.singleTaskMatchDocs) prunedAll.coalesce(1)
      else prunedAll
    val n = numDocs.toDouble
    val dfCol = sum(size(col("plist")))
      .over(org.apache.spark.sql.expressions.Window.partitionBy(col("term")))
    val idf = log(lit(1.0) + (lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val scored = pruned
      .withColumn("df", dfCol)
      .withColumn("idf", idf)
      .select(col("term"), col("idf"), explode(col("plist")).as("e"))
      .select(col("term"), col("idf"), col("e.hash").as("hash"),
        col("e.tf").as("tf"), col("e.len").as("len"))
      .withColumn("subscore",
        col("idf") * (col("tf") * (lit(k1) + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("len") / lit(avgdl))))
      .groupBy(col("hash"))
      .agg(
        countDistinct(col("term")).as("nmatch"),
        sum(col("subscore")).as("score"))
      .filter(col("nmatch") === nTerms)
      .select(col("hash"), col("score"))
    scored
  }
}

object FtsIndex {

  /** Doc-hash chunks per term in [[FtsIndex.postingLists]] — bounds the
    * largest single posting-list row and spreads a hot term's explode
    * over this many tasks. */
  val postingChunks = 32

  /** Corpus-size gate for the single-task match plan in
    * [[FtsIndex.matchBm25]]: at ≤4M docs the worst-case one-task explode
    * (nTerms × numDocs entries of column arithmetic) costs less than the
    * two shuffle stages it replaces; a larger corpus keeps the chunked
    * parallel plan. */
  val singleTaskMatchDocs: Long = 4L << 20

  /** `<name>_postings/`, written by [[write]] and [[appendDelta]]. This
    * and the two schemas below are what [[load]] declares: columns,
    * order and types exactly as Spark infers them from the writers'
    * footers, all nullable. */
  val PostingsSchema: StructType = StructType(Seq(
    StructField("hash", LongType), StructField("term", StringType),
    StructField("tf", LongType), StructField("len", IntegerType)))

  /** `<name>_termstats/`: one (term, df) row per term and append. */
  val TermstatsSchema: StructType =
    StructType(Seq(StructField("term", StringType), StructField("df", LongType)))

  /** `<name>_lists/`: the [[listsFrom]] layout. */
  val ListsSchema: StructType = StructType(Seq(
    StructField("term", StringType), StructField("chunk", LongType),
    StructField("plist", ArrayType(StructType(Seq(
      StructField("hash", LongType), StructField("tf", LongType),
      StructField("len", IntegerType)))))))

  /** The ONE derivation of the term-clustered inverted-list layout from
    * flat postings — used by both the in-memory index and [[write]], so
    * a persisted warehouse and a fresh build can never disagree on the
    * chunk keying or struct field order. */
  private[fts] def listsFrom(postings: DataFrame): DataFrame =
    postings
      .groupBy(col("term"), pmod(col("hash"), lit(postingChunks)).as("chunk"))
      .agg(collect_list(struct(col("hash"), col("tf"), col("len"))).as("plist"))
      .repartition(col("term"))
      .sortWithinPartitions("term")

  /** Build the index over a (hash, value) document corpus. Triggers two
    * jobs for the corpus stats (count + avg); the postings/termstats
    * DataFrames stay lazy. Index-side analysis drops stopwords BEFORE
    * stemming and computes doc length / df / avgdl on what remains —
    * DuckDB's terms-table semantics, which the reference inherits. */
  def build(docs: DataFrame, hashCol: String = "hash", valueCol: String = "value",
      settings: FtsSettings = FtsSettings.resolve()): FtsIndex = {
    // index-side analysis in whole-stage codegen — the corpus-wide text
    // pass must not cross a UDF boundary, and tf is counted ROW-LOCALLY
    // (it is a per-document statistic): exploding the compressed
    // (term, tf) entries replaces the old explode-every-token →
    // groupBy(hash, term) plan, whose shuffle moved every token
    // occurrence of the corpus. The only exchange left in the build is
    // the term-clustering repartition over tf-compressed postings.
    // Parity vs the former UDF+groupBy plan is pinned in FtsSpec; null
    // values analyze to zero-length docs.
    val analyzed = docs.select(
      col(hashCol).as("hash"),
      graft.functions.FtsTokenCountsExpr(col(valueCol), settings).as("a"))
    val postings = analyzed
      .select(col("hash"), col("a.len").as("len"), explode(col("a.terms")).as("t"))
      .select(col("hash"), col("t.term").as("term"), col("t.tf").as("tf"), col("len"))
      // cluster by term so the persisted/cached (or parquet-written)
      // postings skip non-matching batches on term-IN filters
      .repartition(col("term"))
      .sortWithinPartitions("term")
    val termstats = postings.groupBy("term")
      .agg(countDistinct("hash").as("df"))
    // corpus stats: every doc row counts, including token-less ones
    // (mirrors DuckDB indexing every row of the literals table)
    val stats = analyzed.agg(
      count(lit(1)).as("n"),
      avg(col("a.len")).as("avgdl")).collect()(0)
    val n = stats.getLong(0)
    val avgdl = if (stats.isNullAt(1)) 0.0 else stats.getDouble(1)
    FtsIndex(postings, termstats, n, avgdl, settings = settings)
  }

  /** Persist the index into a warehouse directory (postings already
    * term-clustered → parquet row-group stats prune term lookups). The
    * reference likewise stores its FTS index inside the database file
    * (main.py:218-220) rather than rebuilding per session. `name`
    * distinguishes the literals index ("fts") from the 2-hop doc-table
    * index ("ftss" — the reference's `fts_main_fts`). */
  def write(index: FtsIndex, warehouseDir: String, name: String = "fts"): Unit = {
    index.postings.write.mode("overwrite").parquet(s"$warehouseDir/${name}_postings")
    // termstats and the inverted lists are pure postings derivations —
    // compute them from the just-written parquet so the corpus-wide
    // tokenize+groupBy plan executes ONCE, not three times
    val stored = index.postings.sparkSession.read.schema(PostingsSchema)
      .parquet(s"$warehouseDir/${name}_postings")
    stored.groupBy("term").agg(countDistinct("hash").as("df"))
      .write.mode("overwrite").parquet(s"$warehouseDir/${name}_termstats")
    listsFrom(stored).write.mode("overwrite").parquet(s"$warehouseDir/${name}_lists")
    val meta = s"""{"numDocs":${index.numDocs},"avgdl":${index.avgdl},"k1":${index.k1},"b":${index.b},${index.settings.toJsonFragment}}"""
    graft.store.StoreIO.writeString(index.postings.sparkSession,
      s"$warehouseDir/${name}_meta.json", meta)
  }

  // settings persisted with the index so query-side analysis always
  // matches how the postings were built (older metas → defaults)
  private def settingsFrom(j: org.json4s.JValue): FtsSettings = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    FtsSettings(
      ignore = (j \ "ignore").extractOrElse[String](FtsSettings().ignore),
      stripAccents = (j \ "strip_accents").extractOrElse[Boolean](true),
      lower = (j \ "lower").extractOrElse[Boolean](true),
      stemmer = (j \ "stemmer").extractOrElse[String]("porter"),
      stopwords = (j \ "stopwords").extractOrElse[String]("english"))
  }

  /** Load a previously written index; None if absent. The three dirs
    * are read under their declared schemas ([[PostingsSchema]],
    * [[TermstatsSchema]], [[ListsSchema]]), so loading runs no Spark
    * job. */
  def load(spark: org.apache.spark.sql.SparkSession, warehouseDir: String,
      name: String = "fts"): Option[FtsIndex] = {
    // Hadoop FS, not java.nio: on HDFS/S3 a local-FS probe would always
    // say "absent" and silently rebuild the index every session
    val metaPath = s"$warehouseDir/${name}_meta.json"
    if (!graft.store.StoreIO.exists(spark, metaPath)) None
    else {
      import org.json4s.jackson.JsonMethods
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      val j = JsonMethods.parse(graft.store.StoreIO.readString(spark, metaPath))
      val st = settingsFrom(j)
      val listsDir = s"$warehouseDir/${name}_lists"
      val lists =
        if (graft.store.StoreIO.exists(spark, listsDir))
          Some(spark.read.schema(ListsSchema).parquet(listsDir))
        else None
      // termstats may carry one row per (term, delta append) — sum to
      // the true df (appendDelta's doc sets are disjoint, so dfs add)
      Some(FtsIndex(
        spark.read.schema(PostingsSchema).parquet(s"$warehouseDir/${name}_postings"),
        spark.read.schema(TermstatsSchema).parquet(s"$warehouseDir/${name}_termstats")
          .groupBy("term").agg(sum("df").as("df")),
        (j \ "numDocs").extract[Long],
        (j \ "avgdl").extract[Double],
        (j \ "k1").extract[Double],
        (j \ "b").extract[Double],
        settings = st,
        listsStored = lists))
    }
  }

  /** Exact O(delta) index maintenance for freshly INSERTED documents.
    *
    * Only inserts can stale the literals index: deletes tombstone
    * triples, never dictionary rows, and the fts filter joins matches
    * back to the composed triples anyway — so appending the analysis of
    * just the new (hash, value) rows keeps BM25 EXACT, not approximate:
    * the doc sets are disjoint (insert validation only admits absent
    * hashes), [[FtsIndex.matchBm25]]'s df is a window sum over ALL of a
    * term's list rows (base + delta), exploded entries union, and the
    * merged numDocs/avgdl below are the same values a full rebuild
    * computes. The reference's DuckDB FTS index, by contrast, is simply
    * stale after every mutation until a manual rebuild.
    *
    * Append order is the crash contract: postings (source of truth)
    * first, then the query-path lists, then termstats, meta last. A torn
    * append degrades scores slightly (stale meta) or hides only the new
    * docs (missing lists rows) — never corrupts existing entries; the
    * caller may drop the index dirs to force a clean rebuild on any
    * failure. No-op (false) when the index was never built.
    */
  def appendDelta(spark: SparkSession, warehouseDir: String, newDocs: DataFrame,
      hashCol: String = "hash", valueCol: String = "value",
      name: String = "fts"): Boolean = {
    val metaPath = s"$warehouseDir/${name}_meta.json"
    if (!graft.store.StoreIO.exists(spark, metaPath)) return false
    import org.json4s.jackson.JsonMethods
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val j = JsonMethods.parse(graft.store.StoreIO.readString(spark, metaPath))
    val st = settingsFrom(j)
    val (k1, b) = ((j \ "k1").extract[Double], (j \ "b").extract[Double])
    val (n0, avgdl0) = ((j \ "numDocs").extract[Long], (j \ "avgdl").extract[Double])
    val analyzed = newDocs
      .select(col(hashCol).as("hash"),
        graft.functions.FtsTokenCountsExpr(col(valueCol), st).as("a"))
      .persist()
    try {
      val stats = analyzed.agg(
        count(lit(1)).as("n"),
        coalesce(sum(col("a.len")), lit(0L)).as("lensum")).collect()(0)
      val nDelta = stats.getLong(0)
      if (nDelta == 0L) return true
      // same row-local tf analysis as [[build]] — no groupBy shuffle
      val postings = analyzed
        .select(col("hash"), col("a.len").as("len"), explode(col("a.terms")).as("t"))
        .select(col("hash"), col("t.term").as("term"), col("t.tf").as("tf"), col("len"))
        .persist()
      try {
        postings.select("hash", "term", "tf", "len")
          .write.mode("append").parquet(s"$warehouseDir/${name}_postings")
        // append to the lists layout only when one is STORED: an index
        // without lists derives postingLists from the (just-appended)
        // flat postings at load — creating a delta-only lists dir here
        // would shadow the whole base corpus out of matchBm25.
        // Point/small-batch deltas → one term-sorted file (the shuffle
        // fan-out would mint shuffle.partitions tiny files per mutation);
        // batch-stat term pruning works per file either way
        if (graft.store.StoreIO.exists(spark, s"$warehouseDir/${name}_lists"))
          listsFrom(postings).coalesce(1).sortWithinPartitions("term")
            .write.mode("append").parquet(s"$warehouseDir/${name}_lists")
        postings.groupBy("term").agg(countDistinct("hash").as("df"))
          .write.mode("append").parquet(s"$warehouseDir/${name}_termstats")
        val n1 = n0 + nDelta
        val avgdl1 = if (n1 == 0) 0.0 else (avgdl0 * n0 + stats.getLong(1)) / n1
        graft.store.StoreIO.writeString(spark, metaPath,
          s"""{"numDocs":$n1,"avgdl":$avgdl1,"k1":$k1,"b":$b,${st.toJsonFragment}}""")
        true
      } finally { postings.unpersist(); () }
    } finally { analyzed.unpersist(); () }
  }

  /** Delete a stored index (rebuild-on-next-load fallback). The meta
    * file goes FIRST — it is the index's existence marker ([[load]]
    * keys on it; [[appendDelta]] writes it last), so a crash mid-drop
    * leaves "no index" plus overwritable garbage, never a meta that
    * points at half-deleted dirs. */
  def drop(spark: SparkSession, warehouseDir: String, name: String = "fts"): Unit =
    for (sub <- Seq(s"${name}_meta.json", s"${name}_postings",
        s"${name}_termstats", s"${name}_lists"))
      graft.store.StoreIO.delete(spark, s"$warehouseDir/$sub")

  /** Per-subject FTS document table — `build_ftss` equivalent
    * (main.py:229-272): 1-hop distinct literal values newline-joined,
    * 2-hop docs = newline-joined 1-hop docs of referenced subjects,
    * union of both levels tab-joined per subject.
    * Returns (s: Long, values: String).
    */
  def buildFtss(triples: DataFrame, literals: DataFrame): DataFrame = {
    val fts1 = triples.join(literals, triples("o") === literals("hash"))
      .groupBy(triples("s").as("s"))
      .agg(array_join(array_distinct(collect_list(col("value"))), "\n").as("values"))
      .select(col("s"), col("values"))
    val fts2 = triples.as("T")
      .join(fts1.as("R"), col("T.o") === col("R.s"))
      .groupBy(col("T.s").as("s"))
      .agg(array_join(collect_list(col("R.values")), "\n").as("values"))
      .select(col("s"), col("values"))
    fts1.union(fts2).distinct()
      .groupBy("s")
      .agg(array_join(collect_list(col("values")), "\t").as("values"))
  }

  /** [[buildFtss]] restricted to a subject set — the O(delta) repair
    * path re-documents only mutation-affected subjects
    * ([[graft.semantic.SemanticMaintenance]]). The 1-hop docs are built
    * for the restricted subjects PLUS everything they point at (their
    * 2-hop parts concatenate those), then the same union/distinct/join
    * shape as the full build, filtered back to the restriction. The
    * subject set is delta-sized by contract, so it rides broadcast
    * semi-joins — the triples never shuffle. */
  def buildFtssFor(triples: DataFrame, literals: DataFrame,
      subjects: DataFrame): DataFrame = {
    // hint broadcast only at the join sites — a hint riding through the
    // union would be consumed by nothing and logs a warning per repair
    val s0 = subjects.select("s").distinct()
    val sTriples = triples.join(broadcast(s0), Seq("s"), "left_semi")
    val needed = s0.union(sTriples.select(col("o").as("s"))).distinct()
    val trip1 = triples.join(broadcast(needed), Seq("s"), "left_semi")
    val fts1 = trip1.join(literals, trip1("o") === literals("hash"))
      .groupBy(trip1("s").as("s"))
      .agg(array_join(array_distinct(collect_list(col("value"))), "\n").as("values"))
      .select(col("s"), col("values"))
    val fts2 = sTriples.as("T")
      .join(fts1.as("R"), col("T.o") === col("R.s"))
      .groupBy(col("T.s").as("s"))
      .agg(array_join(collect_list(col("R.values")), "\n").as("values"))
      .select(col("s"), col("values"))
    fts1.join(broadcast(s0), Seq("s"), "left_semi").union(fts2).distinct()
      .groupBy("s")
      .agg(array_join(collect_list(col("values")), "\t").as("values"))
  }
}
