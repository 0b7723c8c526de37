package graft.algebra

import graft.functions.Hash64
import graft.fts.FtsIndex
import graft.semantic.{Embedder, HashingEmbedder, Semantic}
import graft.store.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Everything a query needs besides the opts: the graph, the optional
  * derived indexes, the embedding provider, and a sample seed (the
  * reference's `random N` is nondeterministic, query.py:155-164; a fixed
  * seed makes tests reproducible).
  *
  * `dictBroadcast` is the decode fast path: when the term dictionary fits
  * on the driver (serving sessions at test/warehouse scale), hash→string
  * decode becomes a broadcast-map lookup instead of a per-query join —
  * the join would re-broadcast (or shuffle) the whole dictionary for
  * every page decode. At corpus scales where the dictionary cannot fit,
  * leave it None and every decode falls back to the join path. */
final case class EngineContext(
    graph: Graph,
    fts: Option[FtsIndex] = None,
    semantic: Option[DataFrame] = None, // literals_semantic (hash=subject, vec)
    // lossless IVF cell partition of `semantic` — threshold queries scan
    // only cells whose spherical cap can hold a match (identical results)
    semanticAnn: Option[graft.semantic.SemanticAnn] = None,
    embedder: Embedder = HashingEmbedder(),
    sampleSeed: Long = 42L,
    maxPathIterations: Int = 50,
    // chains kept on the driver before paths() switches to the
    // distributed frontier (branchy multi-parent graphs)
    maxDriverChains: Int = 65536,
    // edge-count bound for the paths() broadcast-arrays fast path
    // (~64 MB of long pairs at the default — same order as the facet
    // broadcast budget); corpus-scale properties keep the join walk.
    // A context knob (not a constant) so deployments can size it to
    // driver memory and tests can force each walk.
    maxBroadcastPathEdges: Long = 4000000L,
    // probe sets (regex-matched literal hashes, hop frontiers) at or
    // under this become an o-IN scan predicate on the triples probe —
    // batch min/max pruning instead of a join; above it, broadcast join
    isinProbeCap: Int = 1000,
    dictBroadcast: Option[org.apache.spark.broadcast.Broadcast[Map[Long, String]]] = None) {

  /** Every structure derived from this context's store: path edge sets,
    * whole-store stats and frames, plans, probe results and the driver
    * tier. Between mutations the store is immutable and every mutation
    * replaces the context (Bikidata.invalidate), so each is a constant
    * of this instance, built at first use. A body member, not a
    * parameter: a copy() starts empty and never sees, or releases, this
    * instance's entries. */
  private val memo = new graft.Memo[Any](EngineContext.maxServingEntries)

  /** Decode column via the broadcast map (None => use the join path).
    *
    * The decode is wrapped in [[graft.functions.Fence]] — the typed
    * placement barrier: decode sits at plan TOPS (envelope/gate
    * presentation over aggregated, page-bounded rows), and unfenced,
    * Catalyst pushes the `inner` null-filter `isnotnull(decode(key))`
    * below the aggregate and into join keys — running the map lookup
    * once per CORPUS row instead of once per result row (measured 0.27
    * → 0.40 s on a 4-row facet; at 100 TB it would be a full-corpus
    * decode). Nothing downstream needs decode pushdown: every consumer
    * decodes last by construction; pinned in PlanContractSpec. A native
    * expression rather than a Scala UDF: the UDF form paid
    * ResolveEncodersInUDF/HandleNullInputsForUDF analyzer work on every
    * decoding query — pure per-query planning cost on the serving path. */
  def decodeExpr(c: org.apache.spark.sql.Column): Option[org.apache.spark.sql.Column] =
    dictBroadcast.map { b =>
      org.apache.spark.sql.GraftShims.column(graft.functions.Fence(
        graft.functions.DictDecode(
          org.apache.spark.sql.GraftShims.expression(c), b)))
    }

  /** This context's value for `key`, built at the first call (see
    * [[memo]]). Plans, probe results and other values that cost only a
    * rebuild; past [[EngineContext.maxServingEntries]] entries they are
    * dropped, so a session serving many DISTINCT ad-hoc shapes does not
    * grow the driver heap. Probe keys hold the probe plan's
    * `canonicalized` form, so two different plans never share an entry.
    * Correct because every probe is bounded by its builder and is a pure
    * function of the immutable store. */
  private[graft] def cached[A](key: Any)(build: => A): A = memo(key)(build)

  /** [[cached]] for a value that holds resources (persisted blocks, a
    * broadcast, driver arrays): `release` frees them on [[retire]], and
    * the overflow bound never drops the entry. */
  private[graft] def pinned[A](key: Any, release: A => Unit)(build: => A): A =
    memo.pinned(key, release)(build)

  /** A store-constant aggregate frame (properties, whole-DB facets, sort
    * preferences), persisted and materialized once per context. */
  private[graft] def persisted(key: Any)(build: => DataFrame): DataFrame =
    pinned(key, (df: DataFrame) => { df.unpersist(); () }) {
      val df = build.persist()
      df.count()
      df
    }

  /** Serving-tier PLAN cache — the prepared-statement analog for a
    * long-lived session issuing the same parameterized queries
    * repeatedly (the reference's worker tier goes further and caches
    * whole RESULTS in its cache db, workers.py; this caches only the
    * built DataFrame, so every call still EXECUTES the physical plan
    * against the live store). What it saves is the per-call Dataset
    * construction + eager analysis of a ~15-node tree — pure driver
    * work that DuckDB's ~ms parser never pays at this magnitude. Keyed
    * by the caller's canonical query name, or by a fragment's base plan
    * and bound values; a cached plan closes over THIS context's pinned
    * frames only, so it can never read a retired store. */
  def plan(key: Any)(build: => DataFrame): DataFrame =
    cached(("plan", key))(org.apache.spark.sql.GraftShims.ofOptimized(build))

  /** Release every derived structure and stop keeping new ones: a
    * mutation retires the context it replaces. Queries still running on
    * it finish with correct answers; what they build is released. */
  def retire(): Unit = memo.retire()

  def retired: Boolean = memo.retired

  /** Builds run through [[memo]], for tests. */
  private[graft] def builds: Long = memo.builds
}

/** A persisted parent edge set for [[QueryEngine.paths]] plus the
  * property's shape: `singleParent` means no node has two parents, so a
  * frontier can never GROW across a walk — the driver-side walk may then
  * collect each round directly instead of materializing executor-side
  * first to guard against fanout^k blow-up.
  *
  * `parentArrays` is the walk's broadcast fast path, built once per
  * (context, property) when the graph is single-parent AND the edge
  * count fits [[EngineContext.maxBroadcastPathEdges]]: (sorted child
  * hashes, parallel parent hashes) — a primitive-array map (binary
  * search per lookup, no boxing) that lets one projection walk EVERY
  * level of a chain in a single job, with no per-level join or
  * broadcast-build job. A corpus-scale property leaves it None and
  * keeps the iterative join walk. */
final case class PathEdges(edges: DataFrame, singleParent: Boolean,
    parentArrays: Option[org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Long])]] = None)

object EngineContext {
  /** Overflow bound for [[EngineContext.cached]] entries. */
  private[algebra] val maxServingEntries = 1024

  /** Collect + broadcast the dictionary when it is bounded (see
    * [[collectDict]]); past the bound the context is returned as it is
    * and every decode takes the join path. */
  def withDictBroadcast(ctx: EngineContext, maxEntries: Long = 5000000L): EngineContext =
    withDict(ctx, collectDict(ctx.graph, maxEntries))

  /** `ctx` decoding through `dict` from [[collectDict]], broadcast. */
  def withDict(ctx: EngineContext, dict: Option[(Map[Long, String], Long)]): EngineContext =
    dict.fold(ctx) { case (m, _) =>
      ctx.copy(dictBroadcast = Some(ctx.graph.spark.sparkContext.broadcast(m)))
    }

  /** The whole dictionary as a decode map, plus the number of LITERAL
    * entries in it, or None when it holds more than `maxEntries` rows.
    * One limit-bounded collect decides AND delivers: reading
    * maxEntries + 1 rows either proves the dictionary is too big
    * (driver memory capped at one extra row) or already holds the whole
    * map. Each row carries its origin, so the same job counts the
    * literals a context load checks its stored FTS index against. */
  def collectDict(graph: Graph,
      maxEntries: Long = 5000000L): Option[(Map[Long, String], Long)] = {
    val max = math.min(maxEntries, Int.MaxValue - 1L).toInt
    def tagged(d: DataFrame, literal: Boolean) =
      d.select(col("hash"), col("value"), lit(literal))
    val rows = tagged(graph.iris, literal = false)
      .union(tagged(graph.literals, literal = true))
      .limit(max + 1).collect()
    if (rows.length > max) None
    else Some((rows.map(r => r.getLong(0) -> r.getString(1)).toMap,
      rows.count(_.getBoolean(2)).toLong))
  }
}

/** The match rule of a simple filter ([[FilterCompiler.simpleFilter]]):
  * a triple matches when its key column holds one of the given hashes
  * and, with `graphs` set, its g is one of those. */
sealed trait SimpleFilter { def graphs: Option[Array[Long]] }

object SimpleFilter {
  /** id / multi-id: triples whose s is one of `subjects`. */
  final case class Ids(subjects: Array[Long], graphs: Option[Array[Long]]) extends SimpleFilter
  /** Reverse reference: triples whose o is one of `objects`. */
  final case class Refs(objects: Array[Long], graphs: Option[Array[Long]]) extends SimpleFilter
  /** Property: triples whose p is `p` and, with `objects` set, whose o is
    * one of those. */
  final case class Prop(p: Long, objects: Option[Array[Long]],
      graphs: Option[Array[Long]]) extends SimpleFilter
}

/** The first step of a `regex` filter: triples whose o is a literal (a
  * row of `graph.literals`) matching `pattern` anchored, and, with `p` or
  * `graphs` set, whose p is `p` and whose g is one of those. */
final case class RegexFilter(pattern: String, p: Option[Long], graphs: Option[Array[Long]])

/** The match rule of a non-scoring filter
  * ([[FilterCompiler.nonScoringFilter]]): the subjects of the triples
  * `first` matches, then `hops` times the subjects of the triples whose o
  * is in the set so far, in any graph and under any property. */
final case class NonScoringFilter(first: Either[SimpleFilter, RegexFilter], hops: Int)

/** Compiles one [[FilterQ]] into a subject-set DataFrame — the Spark
  * counterpart of the reference's `q_to_sql` (query.py:122-218). Every
  * filter produces `(s)` or, when `withScore` and the filter scores,
  * `(s, score)` — NEITHER is deduplicated — or None for unrecognized
  * shapes, which the caller silently drops, as the reference does
  * (query.py:659-669).
  *
  * Branch outputs carry duplicate subjects on purpose:
  * [[QueryEngine.combineSets]] applies ONE final dedup whose partial
  * (map-side) aggregation removes duplicates before the shuffle, so a
  * single global distinct is strictly cheaper than a distinct per branch
  * — and set-operator joins (`intersect`/`except`) plus semi-join
  * consumers ([[QueryEngine.facet]]) need no dedup at all. Scored
  * outputs are NOT deduplicated either (the fts branch emits one row
  * per posting hit; only the semantic branch happens to be internally
  * distinct): consumers MUST fold multiplicity themselves — the engine's
  * score path does `max(score) GROUP BY s` before any ordering/paging.
  */
object FilterCompiler {

  /** `"fts 2 <iri>"` → (2, Some("<iri>"), "fts") — query.py:90-107. */
  def parseHopsAndProp(pStr: String): (Int, Option[String], String) = {
    val toks = Option(pStr).getOrElse("").split("\\s+").filter(_.nonEmpty)
    var hops = 0
    var prop: Option[String] = None
    if (toks.length >= 2) {
      if (toks(1).forall(_.isDigit) && toks(1).nonEmpty) {
        // toIntOption, not toInt: an all-digit token past Int range must
        // flag the filter MALFORMED (hops = -1 → no compile branch
        // matches → silently dropped), not abort the query with a
        // NumberFormatException and not degrade to a 0-hop filter the
        // user never wrote. (The reference's unbounded int(toks[1])
        // would try to build a hops-join SQL string of that length —
        // there is no sane behavior to be faithful to.)
        hops = toks(1).toIntOption.getOrElse(-1)
        if (toks.length >= 3 && toks(2).startsWith("<") && toks(2).endsWith(">"))
          prop = Some(toks(2))
      } else if (toks(1).startsWith("<") && toks(1).endsWith(">"))
        prop = Some(toks(1))
    }
    (hops, prop, if (toks.nonEmpty) toks(0) else "")
  }

  def h(term: String): Long = Hash64.hashString(term)

  /** The hashes an `o` value matches — the reference's `oo` fragment
    * (query.py:134-144): a space-separated multi-IRI object list matches
    * any of its per-IRI hashes, any other o its whole-string hash (N3
    * surface equality, lang/datatype included). The SAME fragment applies
    * to the column the branch matches on — `o` for property/reverse
    * filters, `s` for the id branch (query.py:33-44 interpolates `s{oo}`).
    * One definition for the Spark predicates ([[oMatch]]) and the
    * driver-resident tier ([[LocalStore]]), so both hash the same
    * surface strings. */
  def oHashes(o: String): Array[Long] =
    if (o.startsWith("<") && o.endsWith(">") && o.split(" ").length > 1) o.split(" ").map(h)
    else Array(h(o))

  /** The graph hashes a `g` restriction admits (query.py:145-148). */
  def gHashes(g: String): Array[Long] = g.split(" ").map(h)

  /** [[oHashes]] as a predicate on `target`: an IN for a multi-IRI list,
    * an equality otherwise. */
  private[graft] def oMatch(target: org.apache.spark.sql.Column, o: String): org.apache.spark.sql.Column =
    hashMatch(target, oHashes(o))

  private def hashMatch(target: org.apache.spark.sql.Column,
      hs: Array[Long]): org.apache.spark.sql.Column =
    if (hs.length > 1) target.isin(hs.toIndexedSeq: _*) else target === hs(0)

  /** A [[gHashes]] restriction as a predicate on the g column. */
  private def gMatch(gs: Array[Long]): org.apache.spark.sql.Column =
    col("g").isin(gs.toIndexedSeq: _*)

  /** Longest leading run of regex-literal characters in a pattern — the
    * chars every match must start with. Stops at the first metacharacter
    * (conservatively including one char BEFORE `*?{`-style quantifiers,
    * which make their predecessor optional). A top-level alternation
    * anywhere voids the prefix entirely (`abc|def` matches need not
    * start with `abc`). */
  private[graft] def staticRegexPrefix(pattern: String): String = {
    // top-level '|' check: depth-0 outside character classes
    var depth = 0
    var inClass = false
    var j = 0
    while (j < pattern.length) {
      val c = pattern.charAt(j)
      if (c == '\\') j += 1
      else if (inClass) { if (c == ']') inClass = false }
      else c match {
        case '[' => inClass = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case '|' if depth == 0 => return ""
        case _ => ()
      }
      j += 1
    }
    val meta = ".^$|()[]{}\\*+?"
    val out = new StringBuilder
    var i = 0
    var done = false
    while (!done && i < pattern.length) {
      val c = pattern.charAt(i)
      if (meta.indexOf(c.toInt) >= 0) done = true
      else {
        // a following quantifier makes this char optional — exclude it
        if (i + 1 < pattern.length && "*?{".indexOf(pattern.charAt(i + 1).toInt) >= 0)
          done = true
        else out += c
        i += 1
      }
    }
    out.toString
  }

  /** n-hop ancestor walk: subjects that REFERENCE the current subject set,
    * repeated `hops` times (join_parents_sql, query.py:110-119). Each hop
    * is one hash equi-join on the o column; `extra` columns (score) ride
    * along from the inner set. */
  private def hopUp(ctx: EngineContext, t0: DataFrame, hops: Int, extra: Seq[String]): DataFrame = {
    var acc = t0
    for (i <- 1 to hops) {
      val t = ctx.graph.triples.as(s"T$i")
      // size-conditional probe: a small frontier (no score ride-along)
      // becomes an o-IN scan predicate, pruned by the (p,o,s)-sorted
      // batch stats; otherwise the frontier is the broadcast side so the
      // full triples relation never shuffles per hop
      acc =
        if (extra.isEmpty && ctx.isinProbeCap > 0)
          oInOrJoin(ctx, ctx.graph.triples, acc.select("s").distinct())
        else
          t.join(broadcast(acc.as(s"A$i")), col(s"T$i.o") === col(s"A$i.s"))
            .select(col(s"T$i.s").as("s") +: extra.map(c => col(s"A$i.$c")): _*)
    }
    acc
  }

  /** Size-conditional o-IN probe shared by the regex/fts/hop paths. A
    * bounded collect sizes the match set AND, in the selective (≤ cap)
    * case, IS its materialization: the probe values feed a scan-level
    * o-IN predicate directly (batch min/max pruning on the
    * (p,o,s)-sorted layout) — one job, one upstream execution, nothing
    * checkpointed. Past the cap the fallback broadcast-joins a
    * localCheckpoint of the set (the upstream match plan runs twice on
    * that path: the limit-pushed sizing probe stopped early, and a
    * corpus-scale frontier is the already-degraded serving shape).
    * cap <= 0 disables probing entirely and keeps the set lazy on the
    * join's broadcast side. Probe PLANS and value-bound scan fragments
    * are cached via [[EngineContext.plan]], probe results via
    * [[EngineContext.cached]]. */
  private def oInOrJoin(ctx: EngineContext, base: DataFrame, hashSet: DataFrame): DataFrame = {
    val cap = ctx.isinProbeCap
    val hs = hashSet.toDF("__oh")
    if (cap <= 0)
      return base.join(broadcast(hs), col("o") === col("__oh")).select("s")
    // Prepared-probe serving: the probe's bounded RESULT (≤ cap+1
    // longs, a store-constant value between mutations) is cached under
    // its canonical plan, so a
    // steady-state session pays the probe job once per context and the
    // query runs as ONE job after. The collect both SIZES the set and,
    // in the selective (≤ cap) case, IS the materialization: the value
    // array feeds a scan-level o-IN predicate whose compiled fragment is
    // cached keyed by the VALUES (parameter binding — same probe result
    // ⇒ same plan, no per-call Dataset construction). Both die with the
    // context on mutation.
    val probe = ctx.cached(("oin:p", hs.queryExecution.analyzed.canonicalized)) {
      hs.limit(cap + 1).collect().map(_.getLong(0))
    }
    if (probe.length <= cap) {
      if (probe.isEmpty) // In(o, Nil) folds to an empty relation — no
        return base.filter(col("o").isin()).select("s") // point caching
      ctx.plan(("oin:m", base.queryExecution.analyzed.canonicalized, probe.toSeq))(
        base.filter(col("o").isin(probe.toIndexedSeq: _*)).select("s"))
    } else {
      // over-cap fallback: uncached, and the upstream match plan runs a
      // second time for the checkpoint (the probe's limit stopped early;
      // a corpus-scale frontier is the already-degraded serving path)
      val pinned = hs.persist()
      try
        base.join(broadcast(pinned.localCheckpoint()), col("o") === col("__oh")).select("s")
      finally { pinned.unpersist(); () }
    }
  }

  /** [[oInOrJoin]] with a score ride-along, for the scoring (fts)
    * filter. The selective (≤ cap) case rebuilds the collected
    * (mhash, score) rows as a LocalRelation: the match-aggregate plan
    * (window + explode + groupBy over the inverted lists) executes
    * exactly ONCE — the collect — and every later execution of the
    * consumer (notably the range-partitioning sample a global sort runs
    * over its child) replays a 37-row literal, not the whole chain.
    * Past the cap, same localCheckpoint contract as [[oInOrJoin]]. */
  private def scoredOInOrJoin(ctx: EngineContext, base: DataFrame,
      scored: DataFrame): DataFrame = {
    val cap = ctx.isinProbeCap
    def joined(rhs: DataFrame): DataFrame =
      base.join(broadcast(rhs), col("o") === col("mhash"))
        .select(col("s"), col("score"))
    if (cap <= 0) return joined(scored)
    // same prepared-probe contract as [[oInOrJoin]]: cached probe plan,
    // cached bounded probe result, value-keyed cached scan fragment
    val probe = ctx.cached(("soin:p", scored.queryExecution.analyzed.canonicalized)) {
      scored.limit(cap + 1).collect()
    }
    if (probe.length <= cap) {
      val spark = base.sparkSession
      if (probe.isEmpty)
        return base.filter(col("o").isin()).select(col("s"), lit(null).cast("double").as("score"))
      // a trailing null-flag long per row: folding a null score to 0.0
      // BITS alone would key a null-scored probe and a 0.0-scored probe
      // identically
      val flat = probe.flatMap(r => Array(r.getLong(0),
        if (r.isNullAt(1)) 0L else java.lang.Double.doubleToLongBits(r.getDouble(1)),
        if (r.isNullAt(1)) 1L else 0L))
      ctx.plan(("soin:m", base.queryExecution.analyzed.canonicalized, flat.toSeq)) {
        val local = spark.createDataFrame(
          java.util.Arrays.asList(probe: _*),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("mhash",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("score",
              org.apache.spark.sql.types.DoubleType, nullable = true))))
        // isin first: the o-IN predicate reaches the (p,o,s)-sorted
        // scan's batch stats; the broadcast local join only attaches
        // the score to the pruned rows
        base.filter(col("o").isin(probe.map(_.getLong(0)).toIndexedSeq: _*))
          .join(broadcast(local), col("o") === col("mhash"))
          .select(col("s"), col("score"))
      }
    } else {
      val pinned = scored.persist()
      try joined(pinned.localCheckpoint())
      finally { pinned.unpersist(); () }
    }
  }

  /** A SIMPLE filter — p/o/g/id equality or IN, no hops and no derived
    * index — decomposed into the hash sets a matching triple's columns
    * must fall in, or None when the filter needs its own plan
    * (fts/regex/semantic/sample/hops). A forest whose every filter is
    * simple can be evaluated in ONE scan+aggregate
    * ([[QueryEngine.fusedSubjects]]) instead of one distinct per branch
    * plus set-operator joins: a [[nonScoringFilter]] with a simple first
    * step and no hops. */
  def simpleFilter(f: FilterQ): Option[SimpleFilter] =
    nonScoringFilter(f).collect { case NonScoringFilter(Left(sf), 0) => sf }

  /** A filter that neither scores nor samples — a simple filter, a
    * `regex` filter, or a property filter with hops — decomposed into its
    * match rule, or None for fts/semantic/random/sample, a malformed hop
    * count and unrecognized shapes. The driver tier ([[LocalStore]])
    * answers these; must stay in exact agreement with the corresponding
    * [[compile]] branches. */
  def nonScoringFilter(f: FilterQ): Option[NonScoringFilter] = {
    val p = f.p.trim
    val o = f.o.trim
    val g = f.g.trim
    val (hops, pProp, pHead) = parseHopsAndProp(p)
    val graphs = if (g.isEmpty) None else Some(gHashes(g))
    val first: Option[Either[SimpleFilter, RegexFilter]] =
      if (hops < 0) None
      else if (p.isEmpty && (o.startsWith("<") || o.startsWith("_:")))
        Some(Left(SimpleFilter.Refs(oHashes(o), graphs))) // reverse reference
      else if (p == "id")
        if (o.startsWith("random") || o.startsWith("sample")) None
        else Some(Left(SimpleFilter.Ids(oHashes(o), graphs))) // point lookup (or multi-point IN)
      else if (p.startsWith("regex")) Some(Right(RegexFilter(o, pProp.map(h), graphs)))
      else if (p.startsWith("<"))
        Some(Left(SimpleFilter.Prop(h(pHead), if (o.nonEmpty) Some(oHashes(o)) else None, graphs)))
      else None
    first.map(NonScoringFilter(_, hops))
  }

  /** The triples-scan predicate of a [[simpleFilter]]. */
  def simplePredicate(ctx: EngineContext, f: FilterQ): Option[org.apache.spark.sql.Column] =
    simpleFilter(f).map { sf =>
      val base = sf match {
        case SimpleFilter.Refs(os, _) => hashMatch(col("o"), os)
        case SimpleFilter.Ids(ss, _) => hashMatch(col("s"), ss)
        case SimpleFilter.Prop(ph, os, _) =>
          val pc = col("p") === ph
          os.fold(pc)(hs => pc && hashMatch(col("o"), hs))
      }
      sf.graphs.fold(base)(gs => base && gMatch(gs))
    }

  def compile(ctx: EngineContext, f: FilterQ, withScore: Boolean = false): Option[DataFrame] = {
    val triples = ctx.graph.triples
    val p = f.p.trim
    val o = f.o.trim
    val g = f.g.trim
    val (hops, pProp, pHead) = parseHopsAndProp(p)
    // malformed hop count (parseHopsAndProp sentinel): drop the filter
    if (hops < 0) return None

    // named-graph restriction on the T0 scan (query.py:145-148)
    def withG(df: DataFrame): DataFrame =
      if (g.isEmpty) df else df.filter(gMatch(gHashes(g)))

    // o equality: the shared [[oMatch]] fragment (query.py:134-144)
    def oCond = oMatch(col("o"), o)

    def propFilter(df: DataFrame): DataFrame =
      pProp.fold(df)(pp => df.filter(col("p") === h(pp)))

    if (p.isEmpty && (o.startsWith("<") || o.startsWith("_:"))) {
      // reverse reference: subjects of triples whose object is o
      Some(withG(triples).filter(oCond).select("s"))
    } else if (p == "id") {
      if (o.startsWith("random") || o.startsWith("sample")) {
        val parts = o.split(" ")
        val n = if (parts.length > 1)
          try parts(1).toInt catch { case _: NumberFormatException => 1 }
        else 1
        // `USING SAMPLE n` samples n TRIPLE rows then takes distinct s —
        // up to n subjects (the dedup happens in combineSets). rand(seed)
        // + limit gives the same contract, deterministically under a
        // fixed seed.
        Some(withG(triples)
          .orderBy(rand(ctx.sampleSeed)).limit(n)
          .select("s"))
      } else {
        // s{oo} in the reference: a multi-IRI o is a multi-point IN
        Some(withG(triples).filter(oMatch(col("s"), o)).select("s"))
      }
    } else if (p.startsWith("semantic")) {
      ctx.semantic.map { sem =>
        val qvec = ctx.embedder.embedOne(o)
        // ANN prefilter when the cell index exists: probe only cells whose
        // spherical cap can intersect the query cap, then rescore exactly
        // — provably the same rows as the full scan (SemanticAnn scaladoc)
        val source = ctx.semanticAnn.fold(sem)(_.candidates(qvec, maxDist = 0.5))
        // codegen'd Catalyst expression — no per-row boxing (Hash64-style
        // wrapper over graft.functions.CosineDistance)
        val dist = graft.functions.CosineDistance(col("vec"), lit(qvec))
        val scored = source.withColumn("distance", dist)
          .filter(col("distance") < 0.5)
          .withColumn("score", lit(1.0) / col("distance"))
        if (g.isEmpty) {
          // `hash` IS the subject hash (SURVEY §1.1), one row per subject,
          // and the index only ever holds subjects present in triples
          // (mutations invalidate it) — the reference's `join triples`
          // here only multiplies rows its DISTINCT then removes. Skipping
          // it saves a full triples scan per query.
          val cols = if (withScore) Seq(col("hash").as("s"), col("score"))
                     else Seq(col("hash").as("s"))
          scored.select(cols: _*).distinct()
        } else {
          // graph restriction needs the triples rows: join on T0.s = LS.hash;
          // the thresholded score set is small — broadcast it
          val joined = withG(triples.as("T0"))
            .join(broadcast(scored.as("LS")), col("T0.s") === col("LS.hash"))
          val cols = if (withScore) Seq(col("T0.s").as("s"), col("LS.score").as("score"))
                     else Seq(col("T0.s").as("s"))
          joined.select(cols: _*).distinct()
        }
      }
    } else if (p.startsWith("regex")) {
      // DuckDB `SIMILAR TO` is full-string anchored; rlike is not →
      // anchor explicitly (SURVEY §2.2). A static prefix of the pattern
      // becomes a startsWith pre-filter: it reaches the columnar scan
      // (min/max pruning) and short-circuits before the regex engine —
      // the same prune DuckDB applies to SIMILAR TO.
      val prefix = FilterCompiler.staticRegexPrefix(o)
      val preFiltered =
        if (prefix.nonEmpty) ctx.graph.literals.filter(col("value").startsWith(prefix))
        else ctx.graph.literals
      val lits = preFiltered
        .filter(col("value").rlike("^(?:" + o + ")$"))
        .select(col("hash").as("lhash"))
      // size-conditional probe (same policy as decode): a selective
      // pattern yields few literal hashes → an o-IN predicate reaches
      // the (p,o,s)-sorted scan's batch stats and skips most of the
      // corpus; past the cap, broadcast-join the SAME materialized set
      val t0 = oInOrJoin(ctx, propFilter(withG(triples)), lits)
      Some(hopUp(ctx, t0, hops, Nil))
    } else if (p.startsWith("fts")) {
      ctx.fts.map { idx =>
        val scored = idx.matchBm25(o).withColumnRenamed("hash", "mhash")
        if (withScore) {
          // size-conditional probe, like the set-only path below but
          // with the score riding along: the match aggregate runs once.
          // No terminal distinct — every consumer dedups ((s,score)
          // multiplicity folds into subjectsFromCompiled's terminal
          // distinct, combineSets' set-ops, or the score chain's
          // groupBy-max), so the exchange would be pure overhead. The
          // hop path keeps one distinct BEFORE the walk: it bounds the
          // frontier hopUp broadcasts at each level.
          val t0 = scoredOInOrJoin(ctx, propFilter(withG(triples)), scored)
          if (hops == 0) t0.select("s", "score")
          else hopUp(ctx, t0.select("s", "score").distinct(), hops,
            Seq("score")).select("s", "score")
        } else {
          // set-only contract: no score ride-along → a small match set
          // becomes an o-IN scan predicate, and hop frontiers stay
          // isin-eligible; the match set materializes exactly once
          val t0 = oInOrJoin(ctx, propFilter(withG(triples)),
            scored.select("mhash"))
          hopUp(ctx, t0, hops, Nil)
        }
      }
    } else if (p.startsWith("<")) {
      val t0 = withG(triples).filter(col("p") === h(pHead))
      val filtered = if (o.nonEmpty) t0.filter(oCond) else t0
      Some(hopUp(ctx, filtered.select("s"), hops, Nil))
    } else None
  }
}
