package graft.api

import graft.algebra.{EngineContext, QueryEngine, QueryOpts, QueryResult}
import graft.fts.FtsIndex
import graft.functions.Hash64
import graft.ingest.{Build, Quad}
import graft.semantic.{Embedder, HashingEmbedder, Semantic, SemanticMaintenance}
import graft.store.{Graph, MutationResult, Warehouse}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.{DefaultFormats, Formats, JValue}
import org.json4s.jackson.JsonMethods

/** Public API facade — the Spark-native counterpart of the reference's
  * package surface (/root/reference/src/bikidata/__init__.py:1-28):
  * build / build_ftss / build_semantic / query / spo / sp / total /
  * properties / count_by_property / raw, plus insert/delete.
  *
  * A `Bikidata` instance wraps one warehouse directory (the reference's
  * `BIKIDATA_DB` env var, main.py:18) with a long-lived [[EngineContext]];
  * queries accept either the JSON opts dict of the reference or the typed
  * [[QueryOpts]]. Results are JSON-shape-compatible with the reference
  * envelope. [[queryJson]] holds the serving tier's one result cache,
  * keyed by the store epoch and the decoded opts: the in-JVM counterpart
  * of the reference's Redis cache keyed by the md5 of the canonical opts
  * (workers.py:89-107, 117-119).
  */
final class Bikidata(
    val spark: SparkSession,
    val warehouseDir: String,
    embedder: Embedder = HashingEmbedder(),
    cacheSize: Int = 1024,
    cacheTtlMillis: Long = Bikidata.DefaultCacheTtlMillis,
    clock: () => Long = () => System.currentTimeMillis()) {

  private val warehouse = new Warehouse(spark, warehouseDir)
  @volatile private var ctxOpt: Option[EngineContext] = None

  // size-bounded LRU with the reference's 7-day expiry
  // (workers.py:104-107: `cache.set(key, ..., ex=604800)`); the clock is
  // injectable so expiry is testable without waiting a week. Entries are
  // keyed under the store EPOCH they were computed against: anything
  // that changes query answers bumps it (invalidate, a semantic index
  // install), so lookups never see an older answer — and a query that was
  // mid-flight during the bump files its stale result under the OLD
  // epoch, where no later lookup finds it (a bare clear() would race
  // exactly that in-flight put and re-poison the cache for the full TTL).
  // Old-epoch entries age out of the LRU like any other.
  private val cache = new TtlLruCache[(Long, QueryOpts)](cacheSize, cacheTtlMillis, clock)
  @volatile private var storeEpoch = 0L

  /** Result-cache hits served by [[queryJson]]. */
  val cacheHits = new java.util.concurrent.atomic.AtomicLong()

  /** Context init is synchronized against [[invalidate]]: an
    * unsynchronized check-then-act would let a query thread that loaded
    * the graph BEFORE a mutation reinstall its stale context AFTER the
    * mutation's invalidate() ran (the worker pool runs N query threads
    * against this facade), and two racing first-queries would each
    * load a context, leaking the loser's.
    *
    * A load does only what the driver tier needs: it plans the
    * warehouse frames, collects the dictionary from them (one job) and
    * loads the stored FTS index. Nothing is cached: the graph persist,
    * the posting-list persist and the decode-map broadcast are built by
    * the context's first Spark-tier request ([[EngineContext.sparkGraph]],
    * [[EngineContext.sparkFts]], [[EngineContext.dictBroadcast]]) and
    * released when a mutation retires it; a semantic install hands them
    * to the context it installs ([[EngineContext.withSemantic]]). */
  def ctx: EngineContext = synchronized {
    ctxOpt.getOrElse {
      // the serving context lives in its OWN session clone (the
      // Rdfize.ctx pattern): same SparkContext and shared cache manager,
      // but an isolated SQL conf — the serving-tier sizing below must
      // not leak into an application's other work on the root session
      // (a corpus ETL job sharing `spark` wants its own wide shuffles,
      // not this store's page-bounded reduce count)
      val serving = spark.newSession()
      val graph = new Warehouse(serving, warehouseDir).load()
      // serving sessions run page-bounded queries whose shuffles carry
      // subject sets bounded by the store — size reduce partitions to
      // the store, not the builder default (Graph.servingShufflePartitions)
      serving.conf.set("spark.sql.shuffle.partitions",
        graph.servingShufflePartitions.toString)
      // one-job bounded probe collects on small stores (see Rdfize.ctx)
      serving.conf.set("spark.sql.limit.initialNumPartitions", "1024")
      // decode via the driver-side map while the dictionary is bounded;
      // falls back to join-decode automatically past the cap
      val dict = EngineContext.collectDict(graph)
      // prefer the warehouse-persisted FTS index (written at build time,
      // like the reference's in-database index); rebuild only if absent
      // or stale (mutations invalidate via invalidate()).
      // Torn-append heal: a HARD crash (kill/OOM — no exception to
      // catch) between a literals append and its FtsIndex.appendDelta
      // leaves the stored index silently missing documents forever.
      // The doc count is the cheap exactness witness — appendDelta
      // writes meta LAST, so a meta whose numDocs matches the
      // dictionary implies the postings/lists appends completed too.
      // The dictionary collect above already read the literals; only
      // a dictionary past its cap pays a count job of its own.
      var healedSettings: Option[graft.fts.FtsSettings] = None
      val fts = FtsIndex.load(serving, warehouseDir)
        .filter { idx =>
          val nLiterals = dict.fold(graph.literals.count())(_.literals.length.toLong)
          val ok = idx.numDocs == nLiterals
          if (!ok) {
            System.err.println(s"[bikidata] stored fts index covers ${idx.numDocs} " +
              s"docs but the dictionary holds $nLiterals — rebuilding")
            // carry the stored analyzer settings through the heal: the
            // rebuild must not silently swap a build(paths, stemmer)
            // choice for the defaults
            healedSettings = Some(idx.settings)
            FtsIndex.drop(spark, warehouseDir)
          }
          ok
        }
        .getOrElse {
          val idx = FtsIndex.build(graph.literals,
            settings = healedSettings.getOrElse(graft.fts.FtsSettings.resolve()))
          try FtsIndex.write(idx, warehouseDir)
          catch { case _: Exception => () } // read-only warehouse: keep in-memory
          idx
        }
      val c = EngineContext(graph, fts = Some(fts), embedder = embedder, dict = dict)
      ctxOpt = Some(c)
      c
    }
  }

  private def invalidate(dropFts: Boolean = true,
      dropSemantic: Boolean = true): Unit = synchronized {
    ctxOpt.foreach { c =>
      // release EVERY frame the retiring context pinned — semantic
      // table, ANN cells, and through retire() what its requests built:
      // the cached graph and posting lists, the decode broadcast, paths()
      // edge sets, stat frames, the driver tier. Leaving any of them
      // persisted strands one corpus-sized frame per mutation in the
      // block manager for the session lifetime; the fresh context
      // starts empty
      c.semantic.foreach(_.unpersist())
      c.semanticAnn.foreach(_.cells.unpersist())
      c.retire()
    }
    ctxOpt = None
    ftssIdx.foreach(_.unpersist())
    ftssIdx = None
    storeEpoch += 1
    // mutations make the TRIPLES-derived indexes stale — drop them so the
    // next session rebuilds (and re-persists) them; Hadoop FS so the
    // invalidation also works on an HDFS/S3 warehouse. The LITERALS fts
    // index is NOT triples-derived and survives mutations exactly:
    // deletes never touch dictionary rows, and insert() appends the new
    // literals to it in O(delta) (FtsIndex.appendDelta) — dropFts=true
    // (full rebuild, e.g. build() or a failed delta append) is the only
    // path that discards it.
    if (dropFts) graft.fts.FtsIndex.drop(spark, warehouseDir)
    graft.fts.FtsIndex.drop(spark, warehouseDir, name = "ftss")
    // the semantic index is O(delta) across mutations when the affected
    // subjects were marked (SemanticMaintenance.markStale — the next
    // buildSemantic re-embeds just those); dropSemantic=true (build(),
    // or a failed marking) is the full-invalidation path
    if (dropSemantic)
      for (sub <- graft.semantic.SemanticMaintenance.AllDirs)
        graft.store.StoreIO.delete(spark, s"$warehouseDir/$sub")
  }

  /** Ingest N-Triples/TriG files into the warehouse (refuses if data
    * already present, main.py:143-147). Returns the triple count.
    * `stemmer` seeds the FTS analyzer settings exactly like the
    * reference's `build(paths, stemmer)`; `BIKIDATA_FTS_SETTINGS`
    * overrides wholesale (main.py:206-216). */
  def build(paths: Seq[String], stemmer: String = "porter"): Long =
    buildFromQuads(Build.quads(spark, paths).toDF(), stemmer)

  /** Build from an arbitrary quad relation instead of files — the
    * reference's `build_from_iterator` (main.py:122-141; exported in
    * __init__.py). Columns (s, p, o, g) in N3 surface form; the same
    * non-empty-warehouse refusal applies. */
  def buildFromQuads(quads: DataFrame, stemmer: String = "porter"): Long = {
    Build.writeFromQuads(spark, quads, warehouseDir)
    invalidate()
    val settings = graft.fts.FtsSettings.resolve(stemmer)
    val idx = FtsIndex.build(Warehouse.read(spark, warehouseDir, "literals"),
      settings = settings)
    try FtsIndex.write(idx, warehouseDir)
    catch { case _: Exception => () } // read-only warehouse: next ctx rebuilds
    Warehouse.read(spark, warehouseDir, "triples").count()
  }

  /** Per-subject 2-hop FTS document table (main.py:229-272). Also builds
    * and persists a BM25 index over it — the reference's `fts_main_fts`
    * (main.py:267-269), created for parity even though the reference
    * itself never queries it; here it is reachable via [[ftssIndex]]. */
  def buildFtss(): DataFrame = {
    val g = ctx.graph
    val docs = FtsIndex.buildFtss(g.triples, g.literals)
    if (ftssIdx.isEmpty) {
      val settings = FtsIndex.load(g.spark, warehouseDir)
        .map(_.settings).getOrElse(graft.fts.FtsSettings.resolve())
      val idx = FtsIndex.build(docs, "s", "values", settings)
      try FtsIndex.write(idx, warehouseDir, name = "ftss")
      catch { case _: Exception => () } // read-only warehouse
      ftssIdx = Some(idx)
    }
    docs
  }

  @volatile private var ftssIdx: Option[FtsIndex] = None

  /** The doc-table BM25 index (`fts_main_fts` parity), building it on
    * first use if the warehouse has none persisted. */
  def ftssIndex: FtsIndex =
    ftssIdx.getOrElse {
      val idx = FtsIndex.load(ctx.graph.spark, warehouseDir, name = "ftss")
        .getOrElse { buildFtss(); ftssIdx.get }
      ftssIdx = Some(idx)
      idx
    }

  /** Subject-level embedding index (semantic.py:41-87): built once,
    * persisted into the warehouse as `literals_semantic` parquet (the
    * reference stores the same table in its DB file), loaded on later
    * sessions. After mutations, the index is REPAIRED in O(stale) — only
    * the marked subjects' 2-hop docs re-embed
    * ([[SemanticMaintenance.repair]]); the ANN cell index patches against
    * its existing centroids under the `semGen` consistency invariant,
    * falling back to a (compute-only, embed-free) rebuild on any
    * mismatch it cannot close. */
  def buildSemantic(): Unit = {
    val semDir = s"$warehouseDir/${SemanticMaintenance.SemDir}"
    val annDir = s"$warehouseDir/${SemanticMaintenance.AnnDir}"
    // capture the context ONCE (synchronized getter): every read below
    // composes against THIS context's graph frames, and the install at
    // the bottom must verify the same instance is still live
    val c0 = ctx
    // stay in its serving session so no plan mixes frames across sessions
    val serving = c0.graph.spark
    // full corpus embed + persist; on a read-only warehouse the built
    // frame itself is returned so the embedding work is never repeated
    def fullBuild(): Option[DataFrame] = {
      val built = Semantic.buildSemantic(buildFtss(), embedder)
      try { built.write.mode("overwrite").parquet(semDir); None }
      catch { case _: Exception => Some(built) } // read-only warehouse
    }
    val inMemory: Option[DataFrame] =
      if (!graft.store.StoreIO.exists(serving, semDir)) fullBuild()
      else {
        // O(delta) repair of outstanding mutation staleness; an oversized
        // stale set (or a failed repair) falls back to a fresh full build
        val ok =
          try SemanticMaintenance.repair(serving, warehouseDir,
            c0.graph.triples, c0.graph.literals, embedder)
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bikidata] semantic delta repair failed, rebuilding: $e")
            false
          }
        if (!ok) {
          for (sub <- SemanticMaintenance.AllDirs)
            graft.store.StoreIO.delete(serving, s"$warehouseDir/$sub")
          fullBuild()
        } else None
      }
    val (sem, gen) = inMemory.map((_, 0L)).orElse(
      SemanticMaintenance.composeWithGen(serving, warehouseDir))
      .getOrElse { // unreadable after a failed write: last-resort rebuild
        (Semantic.buildSemantic(buildFtss(), embedder), 0L)
      }
    val persisted = sem.persist()
    persisted.count() // materialize
    val annBase = graft.semantic.SemanticAnn.load(serving, annDir) match {
      case Some(a) if a.semGen == gen => Some(a)
      case Some(a) => // lagging gen: O(delta) patch against its centroids
        try Some(graft.semantic.SemanticAnn.patch(serving, annDir, a,
          SemanticMaintenance.deltaSince(serving, warehouseDir, a.semGen), gen))
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bikidata] semantic ann patch failed, rebuilding: $e")
          graft.store.StoreIO.delete(serving, annDir)
          None
        }
      case None => None
    }
    val ann = annBase.getOrElse {
      val built = graft.semantic.SemanticAnn.build(persisted).copy(semGen = gen)
      try {
        graft.semantic.SemanticAnn.write(built, annDir)
        graft.semantic.SemanticAnn.load(serving, annDir).getOrElse(built)
      } catch { case _: Exception => built } // read-only warehouse
    }
    // a delta-bearing index may hold superseded/removed cell rows —
    // score through the composed frame (SemanticAnn.authoritative)
    val served = if (gen > 0) ann.copy(authoritative = Some(persisted)) else ann
    served.cells.persist().count()
    // install under the SAME lock ctx/invalidate use, and only if the
    // context this build composed against is still the live one: a
    // mutation's invalidate() racing this unlocked assignment could have
    // its retirement overwritten by a context whose graph frames it just
    // unpersisted — the stale-reinstall the ctx scaladoc guards against.
    // On a lost race the disk artifacts are already committed; the next
    // context init re-composes them against the fresh graph for the
    // cost of a read, so bail-and-release is correct, not wasteful.
    // A live install changes what `semantic` filters answer (no index
    // answered empty), so it retires cached results like a mutation does,
    // and it retires c0's derived structures: the copy takes over only
    // the store tiers (the cached graph and posting lists, the decode
    // broadcast, the driver tier), and nothing else would release the
    // rest of c0's persisted frames.
    val installed = synchronized {
      val live = ctxOpt.exists(_ eq c0)
      if (live) {
        ctxOpt = Some(c0.withSemantic(persisted, served))
        storeEpoch += 1
        c0.retire()
      }
      live
    }
    if (!installed) {
      persisted.unpersist()
      served.cells.unpersist()
      ()
    }
  }

  def query(opts: QueryOpts): QueryResult = QueryEngine.query(ctx, opts)

  /** JSON-in/JSON-out through the result cache, keyed by the store
    * epoch and the decoded opts: requests that differ only in key order,
    * whitespace or transport fields (`query_ticket`, `query_hash`) share
    * one entry, and requests with different opts never share one. The
    * cache is used only when both `useCache` and the request's
    * `use_cache` field (default true) allow it. Nondeterministic queries
    * (`random N` / `sample N` id filters) are never cached — a
    * deliberate divergence from the reference worker, which caches them
    * for 7 days. The epoch is read BEFORE the context, so a result
    * computed on a context that a concurrent mutation retires is filed
    * under the retired epoch, where no later lookup finds it. */
  def queryJson(optsJson: String, useCache: Boolean = true): String =
    queryJson(JsonMethods.parse(optsJson), useCache)

  /** [[queryJson]] for a request its transport already decoded. */
  private[api] def queryJson(parsed: JValue, useCache: Boolean): String = {
    implicit val fmts: Formats = DefaultFormats
    val opts = QueryOpts.fromJValue(parsed)
    val nondet = opts.filters.exists(f => f.p == "id" &&
      (f.o.startsWith("random") || f.o.startsWith("sample")))
    if (!useCache || !(parsed \ "use_cache").extractOrElse[Boolean](true) || nondet)
      return QueryEngine.query(ctx, opts).toJson
    val key = (storeEpoch, opts)
    cache.get(key) match {
      case Some(hit) =>
        cacheHits.incrementAndGet()
        hit
      case None =>
        val res = QueryEngine.query(ctx, opts).toJson
        cache.put(key, res)
        res
    }
  }

  /** Async variant mirroring the reference's queue tier
    * (workers.py:115-128): same result cache, 60 s default timeout.
    * Spark jobs are already cluster-parallel, so the "worker pool" is the
    * session's scheduler rather than forked OS processes. As in the
    * reference (a blpop wait that gives up while the worker keeps
    * processing), a timeout abandons the WAIT, not the job. */
  def queryAsync(optsJson: String, timeoutSeconds: Int = 60): scala.concurrent.Future[String] = {
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.Future
    Future.firstCompletedOf(Seq(
      Future(queryJson(optsJson)),
      Bikidata.timeoutAfter[String](timeoutSeconds, "query")))
  }

  /** Async mutations mirroring the reference's `insert_async` /
    * `delete_async` (workers.py:131-160): a future that completes with
    * the mutation result or times out. Mutations run on a SINGLE-THREAD
    * executor ([[Bikidata.mutationEc]]) — the reference routes mutations
    * through its single queue manager (workers.py:38-60), which is what
    * makes concurrent inserts of the same quad safe: validation + append
    * are atomic per mutation because only one can run at a time. */
  def insertAsync(quads: Seq[Quad], timeoutSeconds: Int = 60)
      : scala.concurrent.Future[MutationResult] = {
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.Future
    Future.firstCompletedOf(Seq(
      Future(insert(quads))(Bikidata.mutationEc),
      Bikidata.timeoutAfter[MutationResult](timeoutSeconds, "insert")))
  }

  def deleteAsync(items: Seq[(String, String, Option[String], String)],
      areHashes: Boolean = false, timeoutSeconds: Int = 60)
      : scala.concurrent.Future[MutationResult] = {
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.Future
    Future.firstCompletedOf(Seq(
      Future(delete(items, areHashes))(Bikidata.mutationEc),
      Bikidata.timeoutAfter[MutationResult](timeoutSeconds, "delete")))
  }

  def spo(s: Option[String] = None, p: Option[String] = None,
      o: Option[String] = None, g: Option[String] = None,
      size: Int = 1000, start: Int = 0): DataFrame =
    QueryEngine.spo(ctx, s, p, o, g, size, start)

  def sp(subjects: Seq[String], p: Option[String] = None): DataFrame =
    QueryEngine.sp(ctx, subjects, p)

  def total(): Long = QueryEngine.total(ctx)
  def properties(): DataFrame = QueryEngine.properties(ctx)
  def countByProperty(p: String): DataFrame = QueryEngine.countByProperty(ctx, p)

  // validation + append must be atomic per mutation (two concurrent
  // inserts of the same quad could otherwise both pass the exists-check
  // before either appends) — one writer at a time per facade, matching
  // the reference's single queue manager
  private val mutationLock = new Object

  def insert(quads: Seq[Quad]): MutationResult = mutationLock.synchronized {
    // new literals ride into the FTS index as an O(delta) append (exact —
    // FtsIndex.appendDelta scaladoc); a failed append falls back to
    // dropping the index so the next context rebuilds it cleanly
    var ftsDeltaOk = true
    val r = warehouse.insert(quads, onNewLiterals = lits =>
      try { graft.fts.FtsIndex.appendDelta(spark, warehouseDir, lits); () }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bikidata] fts delta append failed, index will rebuild: $e")
        ftsDeltaOk = false
      })
    if (r.error.isEmpty) {
      val marked = markSemanticStale(quads.map(q => Hash64.hashString(q.s)))
      invalidate(dropFts = !ftsDeltaOk, dropSemantic = !marked)
    }
    r
  }

  def delete(items: Seq[(String, String, Option[String], String)],
      areHashes: Boolean = false): MutationResult = mutationLock.synchronized {
    val r = warehouse.delete(items, areHashes)
    // the literals index is untouched by deletes (tombstones suppress
    // triples; dictionary rows and their postings stay — the fts filter
    // re-joins matches to the composed triples, so deleted subjects drop
    // out there, and BM25 stats over never-removed literal VALUES are
    // exactly what a full rebuild over the dictionary would compute)
    if (r.error.isEmpty) {
      val subjects = items.map { case (s, _, _, _) =>
        if (areHashes) java.lang.Long.parseUnsignedLong(s) else Hash64.hashString(s)
      }
      val marked = markSemanticStale(subjects)
      invalidate(dropFts = false, dropSemantic = !marked)
    }
    r
  }

  /** Mark the mutation's subjects (+ their 2-hop parents) stale in the
    * persisted semantic index; false (→ the caller drops the index
    * wholesale) when there is no index or the marking itself failed. */
  private def markSemanticStale(subjects: Seq[Long]): Boolean =
    try graft.semantic.SemanticMaintenance.markStale(
      spark, warehouseDir, subjects, warehouse.currentSeq())
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bikidata] semantic stale marking failed, index will rebuild: $e")
      false
    }

  /** Escape hatch (reference `raw()`): register temp views AND the
    * engine's SQL functions (seed-0 xxhash64, cosine metrics — the
    * tools needed to join the hash-encoded views by hand), then hand
    * back the session for ad-hoc Spark SQL. */
  def raw(): SparkSession = {
    // views register in the frames' own session — the serving clone;
    // returning the root session would hand back a session where the
    // views are invisible
    val serving = ctx.graph.spark
    ctx.sparkGraph.registerViews()
    graft.functions.GraftFunctions.register(serving)
    serving
  }

  /** Export the store back to N-Triples/N-Quads text (inverse of
    * [[build]]) — backup / hand-off / engine-migration path. */
  def export(path: String, singleFile: Boolean = false): Unit =
    graft.ingest.Export.nt(ctx.graph, path, singleFile)
}

/** Size-bounded LRU with a TTL — the reference's result cache semantics
  * (workers.py:104-107: size-bounded, 7-day expiry) behind the facade's
  * one result cache ([[Bikidata.queryJson]]). Access-order LinkedHashMap
  * under a synchronized wrapper; the injectable clock makes expiry
  * testable without waiting a week. */
private[api] final class TtlLruCache[K](maxSize: Int, ttlMillis: Long,
    clock: () => Long) {
  private val m = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[K, (Long, String)](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, (Long, String)]): Boolean =
        size() > maxSize
    })

  def get(key: K): Option[String] =
    Option(m.get(key)).flatMap { case (at, v) =>
      if (clock() - at >= ttlMillis) { m.remove(key); None } else Some(v)
    }

  def put(key: K, v: String): Unit = { m.put(key, (clock(), v)); () }
}

object Bikidata {
  /** 7 days — the reference's Redis result-cache expiry (workers.py:104-107). */
  val DefaultCacheTtlMillis: Long = 7L * 24 * 3600 * 1000

  private def daemonFactory(name: String): java.util.concurrent.ThreadFactory =
    r => { val t = new Thread(r, name); t.setDaemon(true); t }

  /** Single-writer executor for mutations (all facades in the JVM share
    * it, like the reference's one queue manager per deployment). */
  private[api] val mutationEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newSingleThreadExecutor(daemonFactory("graft-mutations")))

  private val timeoutScheduler =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(daemonFactory("graft-timeouts"))

  /** A future that fails after `seconds` — a scheduled timer, not a
    * blocked thread (the old Thread.sleep pinned a global-pool thread
    * per in-flight call). */
  private[api] def timeoutAfter[T](seconds: Int, what: String): scala.concurrent.Future[T] = {
    val p = scala.concurrent.Promise[T]()
    timeoutScheduler.schedule(new Runnable {
      def run(): Unit = { p.tryFailure(new java.util.concurrent.TimeoutException(
        s"$what timed out after ${seconds}s")); () }
    }, seconds.toLong, java.util.concurrent.TimeUnit.SECONDS)
    p.future
  }
}

/** CLI mirroring `python -m bikidata <file|dir>` (__main__.py:6-29), plus
  * a `query` subcommand (JSON opts in, reference envelope JSON out). */
object Main {
  private def hasSuffix(f: String): Boolean =
    f.endsWith(".gz") || f.endsWith(".nt") || f.endsWith(".trig")

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: graft.api.Main <file.nt|dir> [warehouseDir] | query <warehouseDir> <optsJson> | worker <warehouseDir> [port] [numWorkers]")
    args(0) match {
      case "query" =>
        require(args.length >= 3, "usage: graft.api.Main query <warehouseDir> <optsJson>")
        val spark = session()
        val bk = new Bikidata(spark, args(1))
        println(bk.queryJson(args(2)))
        spark.stop()
      // `python -m bikidata worker N` equivalent (__main__.py:17-21): a
      // long-running service loop in front of one warehouse session
      case "worker" =>
        require(args.length >= 2, "usage: graft.api.Main worker <warehouseDir> [port] [numWorkers]")
        val port = if (args.length > 2) args(2).toInt else 7687
        val n = if (args.length > 3) args(3).toInt else 1
        val spark = session()
        val bk = new Bikidata(spark, args(1))
        val srv = new WorkerServer(bk, port, n)
        println(s"""{"worker_port": ${srv.boundPort}, "workers": $n}""")
        Thread.currentThread().join() // serve until killed
      case buildTarget =>
        val warehouseDir = if (args.length > 1) args(1)
          else sys.env.getOrElse("GRAFT_DB", "graft_warehouse")
        val spark = session()
        val target = new java.io.File(buildTarget)
        val paths =
          if (target.isDirectory)
            target.listFiles().map(_.getPath).filter(hasSuffix).toSeq
          else Seq(buildTarget)
        val bk = new Bikidata(spark, warehouseDir)
        val n = bk.build(paths)
        println(s"""{"count": $n, "warehouse": "$warehouseDir"}""")
        spark.stop()
    }
  }
}
