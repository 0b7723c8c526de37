package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Immutable handle on one dictionary-encoded RDF graph: the quad relation
  * plus its two term dictionaries (SURVEY §1.1; reference DDL at
  * /root/reference/src/bikidata/main.py:188-192).
  *
  * Schemas:
  *  - `triples(s, p, o, g: Long)` — every column a seed-0 XXH64 bit pattern
  *  - `iris(hash: Long, value: String)` — IRIs + blank nodes (+ the empty
  *    default-graph name)
  *  - `literals(hash: Long, value: String)` — N3 surface forms
  *
  * The unsigned u64 of the reference is stored as the same 64 bits in a
  * signed LongType; equality/join semantics are unaffected, and rendering
  * uses `java.lang.Long.toUnsignedString` at the edges.
  *
  * Scale notes: all engine joins hit these hash columns (16 B/row quads),
  * so shuffles stay narrow; `persist()` pins the hot tables for a serving
  * session, and dictionary joins are broadcast-eligible whenever the dict
  * fits `spark.sql.autoBroadcastJoinThreshold` (Catalyst/AQE decide).
  */
final case class Graph(
    spark: SparkSession,
    triples: DataFrame,
    iris: DataFrame,
    literals: DataFrame,
    // optional second copy of triples range-partitioned/sorted by `s`
    // (SURVEY §4.2): subject-bounded access (hydration, spo, sp) prunes
    // files/row groups by s min/max instead of scanning the whole
    // (p,o,s)-clustered relation — the difference between a point lookup
    // and a full pass at 100 TB. Identical rows; purely a layout copy.
    byS: Option[DataFrame] = None) {

  /** Combined decode dictionary. */
  def dict: DataFrame = iris.union(literals)

  /** Best source for s-equality/IN access paths. */
  def subjectAccess: DataFrame = byS.getOrElse(triples)

  /** Pin the relations that take FULL scans (triples for filters/facets,
    * dictionaries for decode). `byS` is deliberately NOT persisted: its
    * whole value is parquet row-group min/max pruning on s — point
    * probes touch a handful of row groups, so caching the second full
    * copy of triples would cost serving-session memory (competing with
    * the hot relations above) for accesses that already skip ~all I/O.
    * unpersist() still covers byS defensively for callers who persisted
    * it themselves.
    *
    * The pinned copies are RE-CLUSTERED to a DATA-SIZED partition count
    * (~[[Graph.cacheBytesPerPartition]] of source bytes each, capped at
    * the session's parallelism): a cache partitioned by the storage
    * layout's file count serves the wrong master in both directions — a
    * single-file store would scan single-threaded all session, and a
    * store fanned over many tiny files would pay per-task dispatch
    * (~ms/task in local mode, scheduler RPC on a cluster) that dwarfs
    * the per-partition data. Measured on the 1.1M-row sf0.1 store: the
    * full cached scan drops 0.11 s → 0.045 s moving 32 → 4 partitions.
    * Re-clustering keeps the layout's clustering ((p,o,s) for triples,
    * value-range for the dictionaries) so in-memory batch min/max
    * pruning still works; narrowing uses a shuffle-free coalesce, which
    * concatenates sorted runs — batch stats stay tight because batches
    * never span the old partition boundaries. At corpus scale the
    * size target exceeds cores and stored splits exceed the cap, so
    * this is a no-op — a 100 TB store is never funneled through 32
    * partitions. Returns the Graph holding the pinned frames — use the
    * RETURNED value (the receiver's frames stay unpersisted when
    * re-clustering kicked in). */
  def persist(level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Graph = {
    val cores = spark.sparkContext.defaultParallelism
    // The np probes and the cache registration run in a private clone
    // of the session, so that the settings below never reach a request
    // planning on `spark` meanwhile (a context persists its graph at its
    // first Spark-tier request, while others are in flight). The np
    // probe (Dataset.rdd) must not EXECUTE the plan: under AQE, building
    // the final physical plan materializes every intermediate query
    // stage — for a delta-composed load() (union + anti-joins) that runs
    // the join shuffles as real jobs just to learn a partition count,
    // then the cache build runs them again. So the clone probes with
    // adaptive planning off and takes the caller's value back before it
    // registers the caches: CacheManager plans a cached query adaptively
    // when its session does (with spark.sql.optimizer.
    // canChangeCachedPlanOutputPartitioning at its default, false, it
    // turns off only the final-stage shuffle optimizations), so the
    // cached plans are the ones the caller's session makes.
    // Cache-batch granularity is read from the caching session: the
    // default 10k-row batches cost a per-batch dispatch (stats check +
    // vector handoff) every scan — ~37 batches per 4 MB quad partition.
    // These relations take FULL scans on nearly every query, and their
    // rows are fixed-width (4 longs / hash+string), so one batch per
    // partition is safe (≤ ~32 MB of longs) and measurably faster
    // (full-scan p-filter distinct 0.117 → 0.075 s on the sf0.1 store).
    // Scoped to this clone, not session-wide: wide cached frames
    // elsewhere (embedding arrays, doc text) keep the default batch size
    // — 1M-row batches of 512 B rows would balloon builder memory.
    val aqe = "spark.sql.adaptive.enabled"
    val pinning = org.apache.spark.sql.GraftShims.cloneSession(spark)
    pinning.conf.set(aqe, "false")
    pinning.conf.set(Graph.cacheBatchSizeKey, "1048576")
    def sized(df: DataFrame, recluster: (DataFrame, Int) => DataFrame): DataFrame = {
      val target = Graph.sizedPartitions(df, cores)
      val np = org.apache.spark.sql.GraftShims.rebind(pinning, df).rdd.getNumPartitions
      if (np < target) recluster(df, target)
      // only narrow SMALL stores (target below the core cap implies the
      // whole relation is under cores×4MB): a corpus-scale relation hits
      // the cap and keeps its storage-layout parallelism
      else if (np > target && target < cores) df.coalesce(target)
      else df
    }
    import org.apache.spark.sql.functions.col
    val g = copy(
      triples = sized(triples,
        (df, n) => df.repartition(n, col("p")).sortWithinPartitions("p", "o", "s")),
      iris = sized(iris,
        (df, n) => df.repartitionByRange(n, col("value")).sortWithinPartitions("value")),
      literals = sized(literals,
        (df, n) => df.repartitionByRange(n, col("value")).sortWithinPartitions("value")))
    spark.conf.getOption(aqe).fold(pinning.conf.unset(aqe))(pinning.conf.set(aqe, _))
    for (df <- Seq(g.triples, g.iris, g.literals))
      org.apache.spark.sql.GraftShims.rebind(pinning, df).persist(level)
    g
  }

  /** Whether the three relations [[persist]] pins are all cached
    * already (looked up in the shared cache manager; runs no job). */
  def isPersisted: Boolean =
    Seq(triples, iris, literals).forall(_.storageLevel != StorageLevel.NONE)

  /** Shuffle partition count matched to this store for a SERVING session
    * (page-bounded interactive queries whose shuffles carry subject sets
    * bounded by the store, not the corpus): enough reduce partitions
    * that none exceeds ~2×[[Graph.cacheBytesPerPartition]] of the
    * triples relation, at least 2 (a degenerate single reducer would
    * serialize even the tiny-store path), and never fewer than the
    * storage layout's own parallelism on a big store (bytes/64 MB) —
    * batch/pipeline jobs over raw corpora should keep their own sizing
    * (and AQE) instead. Measured: the p-filter + distinct subject-set
    * shape drops 0.15 s → 0.07 s moving 32 → 4 reduce partitions on the
    * sf0.1 store. */
  def servingShufflePartitions: Int = {
    val cores = spark.sparkContext.defaultParallelism
    val bytes = Graph.planBytes(triples)
    val bpp = Graph.cacheBytesPerPartition
    val small = Graph.clampToInt((bytes + bpp - 1) / bpp, 2, cores)
    val big = Graph.clampToInt(bytes / (64L << 20), small, Int.MaxValue)
    math.max(small, big)
  }

  def unpersist(): Graph = {
    triples.unpersist(); iris.unpersist(); literals.unpersist()
    byS.foreach(_.unpersist())
    this
  }

  /** Escape hatch (reference `raw()`, query.py:8-10): register the three
    * core tables as temp views for ad-hoc Spark SQL. */
  def registerViews(prefix: String = ""): Unit = {
    triples.createOrReplaceTempView(prefix + "triples")
    iris.createOrReplaceTempView(prefix + "iris")
    literals.createOrReplaceTempView(prefix + "literals")
  }
}

object Graph {
  /** Source bytes per cached partition. 4 MB of the 16 B/row quad layout
    * is ~500k rows — small enough that one task stays cache-resident,
    * large enough that per-task dispatch is noise. */
  val cacheBytesPerPartition: Long = 4L << 20

  /** Session conf key for the columnar-cache batch row count (set on
    * [[Graph.persist]]'s private session clone). */
  val cacheBatchSizeKey = "spark.sql.inMemoryColumnarStorage.batchSize"

  /** Catalyst's size estimate for a frame — file bytes for a parquet
    * scan, computed WITHOUT running a job. */
  private[graft] def planBytes(df: DataFrame): Long = {
    val b = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (b.isValidLong) b.toLong else Long.MaxValue
  }

  /** Row-count estimate from plan statistics, when the plan carries one
    * (a materialized InMemoryRelation always does; a raw file scan
    * usually does not). Preferred over [[planBytes]] for ROW-bounded
    * decisions: dictionary/RLE-compressed bytes say almost nothing
    * about row counts. */
  private[graft] def planRowCount(df: DataFrame): Option[Long] =
    df.queryExecution.optimizedPlan.stats.rowCount
      .filter(n => n >= 0 && n.isValidLong).map(_.toLong)

  private[store] def clampToInt(v: Long, lo: Int, hi: Int): Int =
    math.max(lo, math.min(hi.toLong, v).toInt)

  /** Data-sized partition target for pinning `df`: ceil(bytes / 4 MB),
    * clamped to [1, cap]. */
  def sizedPartitions(df: DataFrame, cap: Int): Int = {
    val bytes = planBytes(df)
    clampToInt((bytes + cacheBytesPerPartition - 1) / cacheBytesPerPartition, 1, cap)
  }
}
