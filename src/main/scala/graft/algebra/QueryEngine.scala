package graft.algebra

import graft.functions.Hash64
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One result entity, reference envelope shape (query.py:847-886):
  * property map in decoded N3 surface forms, `id`, the always-empty
  * `graph` list (the reference's dead `r_g is False` branch,
  * query.py:796-798 — shape preserved, not the bug), optional `_paths`. */
final case class Entity(
    id: String,
    props: Map[String, Seq[String]],
    graph: Seq[String] = Nil,
    paths: Map[String, Seq[String]] = Map.empty)

final case class QueryResult(
    // insertion-ordered (ListMap): the envelope must iterate in page
    // (pos) order like the reference's dict — a plain HashMap shuffles
    // entries past 4 elements and paginated consumers would see
    // reordered pages
    results: Map[String, Entity],
    total: Long,
    size: Int,
    start: Int,
    aggregates: Map[String, Seq[(Long, String)]]) {

  def toJson: String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    import org.json4s._
    val res: JObject = JObject(results.toList.map { case (iri, e) =>
      val fields: List[JField] =
        e.props.toList.map { case (p, vs) => JField(p, JArray(vs.toList.map(JString(_)))) } ++
        List(JField("id", JString(e.id)),
             JField("graph", JArray(e.graph.toList.map(JString(_))))) ++
        (if (e.paths.nonEmpty)
          List(JField("_paths", JObject(e.paths.toList.map { case (p, vs) =>
            JField(p, JArray(vs.toList.map(JString(_)))) })))
         else Nil)
      JField(iri, JObject(fields))
    })
    val base: JObject =
      ("results" -> res) ~ ("total" -> total) ~ ("size" -> size) ~ ("start" -> start)
    val withAggs =
      if (aggregates.isEmpty) base
      else base ~ ("aggregates" -> JObject(aggregates.toList.map { case (k, vs) =>
        JField(k, JArray(vs.toList.map { case (c, v) => JArray(List(JLong(c), JString(v))) }))
      }))
    JsonMethods.compact(JsonMethods.render(withAggs))
  }
}

/** The query pipeline (reference `query()`, query.py:620-886), stage by
  * stage, as lazily-composed DataFrames: filters → set algebra → score
  * chain → total/sort/page → facets → hydration → paths → decode →
  * assembly. Every intermediate is a DataFrame of hash Longs; strings
  * appear only at decode (late materialization, SURVEY §4.1).
  */
object QueryEngine {

  import FilterCompiler.h

  // ---------------------------------------------------------------- set ops

  /** The role of each filter's set in the reference's operator chain
    * (query.py:629-668): the first filter seeds whatever its op is (the
    * leading-`not` quirk); should/or UNION, must/and INTERSECT, not
    * EXCEPT, every EXCEPT after all other terms; any other op value
    * contributes nothing. `items` is (op, set) in filter order. */
  private[algebra] def setRoles[A](items: Seq[(String, A)]): Vector[(String, A)] = {
    var roles = Vector.empty[(String, A)]
    var excepts = Vector.empty[(String, A)]
    for ((op, a) <- items) {
      if (roles.isEmpty) roles :+= ("seed" -> a)
      else if (op == "should" || op == "or") roles :+= ("union" -> a)
      else if (op == "must" || op == "and") roles :+= ("intersect" -> a)
      else if (op == "not") excepts :+= ("except" -> a)
    }
    roles ++ excepts
  }

  /** Fold role-tagged sets with the reference's operator precedence:
    * INTERSECT binds tighter than UNION/EXCEPT (it collapses onto its
    * left operand), then UNION/EXCEPT associate left (query.py emits one
    * concatenated SQL string — precedence is DuckDB's). The first role is
    * the seed whatever its tag. One fold for every set representation:
    * DataFrames ([[combineSets]]), flag columns ([[fusedSubjects]]) and
    * the driver tier's sorted arrays ([[LocalStore]]). */
  private[algebra] def foldRoles[A](roles: Seq[(String, A)])(
      and: (A, A) => A, or: (A, A) => A, minus: (A, A) => A): Option[A] = {
    if (roles.isEmpty) return None
    val collapsed = roles.foldLeft(List.empty[(String, A)]) {
      case (acc, (op, a)) =>
        if (op == "intersect" && acc.nonEmpty) {
          val (prevOp, prev) = acc.head
          (prevOp, and(prev, a)) :: acc.tail
        } else (op, a) :: acc
    }.reverse
    Some(collapsed.tail.foldLeft(collapsed.head._2) { case (acc, (op, a)) =>
      op match {
        case "union" => or(acc, a)
        case "except" => minus(acc, a)
        case _ => acc
      }
    })
  }

  /** Fold compiled branch frames with the reference's set-operator
    * precedence ([[foldRoles]]). `items` is (role, df) with the first
    * role ignored (seed). Branch inputs arrive NON-deduplicated
    * (FilterCompiler contract): `intersect`/`except` dedup internally,
    * and `dedup = true` applies the one final distinct — whose partial
    * (map-side) aggregation removes duplicates before the shuffle,
    * making a single global dedup strictly cheaper at scale than a
    * distinct per branch. `dedup = false` is for consumers that do their
    * own grouping (score chains) or none at all (semi-joins — [[facet]]). */
  def combineSets(items: Seq[(String, DataFrame)],
      dedup: Boolean = true): Option[DataFrame] =
    foldRoles(items)(_ intersect _, _ union _, _ except _)
      .map(folded => if (dedup) folded.distinct() else folded)

  private def isScoring(f: FilterQ): Boolean =
    f.p.startsWith("fts") || f.p.startsWith("semantic")

  /** Compile each filter exactly once. Scoring filters compile WITH their
    * score column (persisted by [[query]] so the expensive FTS/vector scan
    * runs once and feeds both the subject set and the score chain).
    * `withScores = false` is the set-only contract ([[subjects]]): fts
    * filters then drop the score ride-along, which unlocks the
    * size-conditional o-IN probe in the compiler. */
  private[algebra] def compileAll(ctx: EngineContext, opts: QueryOpts,
      withScores: Boolean = true): Seq[(FilterQ, DataFrame)] =
    opts.filters.flatMap { f =>
      FilterCompiler.compile(ctx, f, withScore = withScores && isScoring(f)).map(f -> _)
    }

  /** Combine the compiled filters into the s_results subject set.
    * Unrecognized filters and unknown ops are silently dropped
    * (query.py:659-669). */
  def subjectsFromCompiled(compiled: Seq[(FilterQ, DataFrame)],
      dedup: Boolean = true): Option[DataFrame] =
    combineSets(setRoles(compiled.map { case (f, df) =>
      f.op -> (if (isScoring(f)) df.select("s") else df) }), dedup)

  /** Fused evaluation of a boolean filter forest when EVERY filter is a
    * simple triples-scan predicate ([[FilterCompiler.simplePredicate]]):
    * one scan computes a per-subject flag per branch via conditional
    * aggregation, and the set-operator fold becomes a boolean
    * expression over the flags — ONE shuffle for the whole forest,
    * replacing a distinct per branch plus INTERSECT/UNION/EXCEPT joins
    * (at corpus scale that is one wide exchange instead of 2·branches).
    * None when any filter needs its own plan (hops/fts/regex/semantic/
    * sample) or fewer than two branches survive — the caller falls back
    * to per-branch compilation, whose plan is identical for one branch.
    * Exact parity with [[subjectsFromCompiled]] by construction (the
    * same [[setRoles]] and [[foldRoles]]), property-checked against the
    * naive evaluator in AlgebraProps. */
  private[algebra] def fusedSubjects(ctx: EngineContext, opts: QueryOpts): Option[DataFrame] = {
    val preds = opts.filters.map(f => FilterCompiler.simplePredicate(ctx, f).map(f.op -> _))
    if (preds.exists(_.isEmpty)) return None
    // role assignment first, so unknown ops drop before any flag is minted
    val roles = setRoles(preds.flatten)
    if (roles.size < 2) return None
    val anyPred = roles.map(_._2).reduce(_ || _)
    val aggCols = roles.zipWithIndex.map { case ((_, p), i) =>
      max(when(p, lit(1)).otherwise(lit(0))).as(s"__f$i") }
    val flags = ctx.graph.triples.filter(anyPred)
      .groupBy(col("s")).agg(aggCols.head, aggCols.tail: _*)
    val expr = foldRoles(roles.zipWithIndex.map { case ((op, _), i) =>
      (op, col(s"__f$i") === 1) })(_ && _, _ || _, (a, b) => a && !b).get
    Some(flags.filter(expr).select("s"))
  }

  def subjects(ctx: EngineContext, opts: QueryOpts): Option[DataFrame] =
    fusedSubjects(ctx, opts)
      .orElse(subjectsFromCompiled(compileAll(ctx, opts, withScores = false)))

  /** [[subjects]] WITHOUT the final dedup: the frame may repeat a
    * subject (once per matching triple of its seed/union branches).
    * Contract for dedup-agnostic consumers only — the semi-join probe
    * side of [[facet]], or anything that groups by s itself. A facet
    * over a raw set skips the distinct exchange entirely; the semi-join
    * result is row-for-row identical. */
  def subjectsRaw(ctx: EngineContext, opts: QueryOpts): Option[DataFrame] =
    fusedSubjects(ctx, opts)
      .orElse(subjectsFromCompiled(
        compileAll(ctx, opts, withScores = false), dedup = false))

  /** Parallel score chain over the scoring (fts/semantic) filters —
    * UNION/INTERSECT only, first scoring filter seeds regardless of its op
    * (query.py:644-655); result is max(score) per subject. */
  def scoreChainFromCompiled(compiled: Seq[(FilterQ, DataFrame)]): Option[DataFrame] = {
    var items = Vector.empty[(String, DataFrame)]
    for ((f, df) <- compiled if isScoring(f)) {
      if (items.isEmpty) items :+= ("seed" -> df.select("s", "score"))
      else if (f.op == "should" || f.op == "or") items :+= ("union" -> df.select("s", "score"))
      else if (f.op == "must" || f.op == "and") items :+= ("intersect" -> df.select("s", "score"))
    }
    // no pre-dedup: the terminal groupBy(s) IS the dedup (map-side
    // partial max-aggregation), so a distinct before it would be a
    // second exchange over the same key
    combineSets(items, dedup = false)
      .map(_.groupBy("s").agg(max("score").as("score")))
  }

  def scoreChain(ctx: EngineContext, opts: QueryOpts): Option[DataFrame] =
    scoreChainFromCompiled(compileAll(ctx, opts))

  // ------------------------------------------------------------ sort + page

  /** The sorted, paged subject set `wanted(s, pos)` (query.py:708-741).
    * `pos` comes from the explicit sort key (the reference's bare
    * `row_number() over ()` inherits temp-table insertion order — same
    * visible order, cleaner contract, SURVEY §7.4). The window runs over
    * the ≤size-row page, not the full set. */
  def wantedPage(
      ctx: EngineContext,
      opts: QueryOpts,
      sResults: DataFrame,
      sByScore: Option[DataFrame]): DataFrame = {
    val (toPage, orderCols): (DataFrame, Seq[Column]) =
      opts.order.headOption match {
        case Some(rule) =>
          Ordering.sortedSubjects(ctx, sResults, rule)
        case None =>
          sByScore match {
            case Some(scores) =>
              val joined = sResults.as("QJ").join(scores.as("SS"), Seq("s"), "left")
                .select(col("QJ.s").as("s"), col("SS.score").as("score"))
              (joined, Seq(col("score").desc_nulls_last, col("s").asc))
            case None =>
              (sResults.select("s"), Seq(col("s").asc))
          }
      }
    val page = toPage.orderBy(orderCols: _*).offset(opts.start).limit(opts.size)
    page.withColumn("pos", row_number().over(Window.orderBy(orderCols: _*)))
      .select("s", "pos")
  }

  // -------------------------------------------------------------- hydration

  /** Page hydration (query.py:756-786): all triples of the page subjects,
    * with only/exclude property filtering. Returns hash-level rows
    * (s, p, o, g, pos). The page side is tiny → broadcast. */
  def hydrate(ctx: EngineContext, opts: QueryOpts, wanted: DataFrame): DataFrame = {
    val t = ctx.graph.triples
    // the page is ≤ size rows BY CONSTRUCTION (wantedPage's limit), so
    // when size fits the probe cap the page rows are collected once per
    // (context, query) — a store-constant cached value — and the join
    // becomes an s-IN scan predicate plus a literal-map pos lookup:
    // no BroadcastExchange build job, ONE steady-state hydration job.
    // Oversized pages (or probing disabled) keep the broadcast join.
    val pageRows: Option[Array[(Long, Int)]] =
      if (ctx.isinProbeCap <= 0 || opts.size > ctx.isinProbeCap) None
      else {
        val wPlan = wanted.queryExecution.analyzed
        Some(ctx.cached(("hydrate:p", wPlan.canonicalized)) {
          wanted.collect().map(r => (r.getAs[Long]("s"), r.getAs[Int]("pos")))
        })
      }
    var joined = pageRows match {
      case Some(rows) if rows.nonEmpty =>
        t.filter(col("s").isin(rows.map(_._1).toIndexedSeq: _*))
          .select(col("s"), col("p"), col("o"), col("g"),
            element_at(typedLit(rows.toMap), col("s")).as("pos"))
      case Some(_) => // empty page: no subjects, no rows
        t.filter(lit(false))
          .select(col("s"), col("p"), col("o"), col("g"),
            lit(null).cast("int").as("pos"))
      case None =>
        t.join(broadcast(wanted), "s")
          .select(col("s"), col("p"), col("o"), col("g"), col("pos"))
    }
    // only/exclude properties are IRI surface strings whose hashes are
    // the SAME Hash64 the dictionaries were built with — hash them
    // driver-side into a p-IN predicate instead of scanning iris for a
    // broadcast build (an IRI absent from the store hashes to a value no
    // triple's p carries, exactly like the join finding no row).
    if (opts.onlyProperties.nonEmpty)
      joined = joined.filter(
        col("p").isin(opts.onlyProperties.map(h): _*))
    else if (opts.excludeProperties.nonEmpty)
      joined = joined.filter(
        !col("p").isin(opts.excludeProperties.map(h): _*))
    joined.distinct()
  }

  /** Decode one hash column to its term string: broadcast-map lookup when
    * available, dictionary join otherwise. `inner` drops undecodable rows
    * (join parity with the reference's inner dictionary joins). */
  def decoded(ctx: EngineContext, df: DataFrame, hashCol: String, outCol: String,
      inner: Boolean = false): DataFrame =
    ctx.decodeExpr(col(hashCol)) match {
      case Some(e) =>
        val d = df.withColumn(outCol, e)
        if (inner) d.filter(col(outCol).isNotNull) else d
      case None =>
        val dict = ctx.graph.dict
          .withColumnRenamed("hash", s"__h_$outCol")
          .withColumnRenamed("value", outCol)
        df.join(dict, col(hashCol) === col(s"__h_$outCol"),
            if (inner) "inner" else "left")
          .drop(s"__h_$outCol")
    }

  /** Decoded hydration for DataFrame consumers: N3 surface strings.
    * Output (s, p, o, g, pos) string columns. */
  def hydrateDecoded(ctx: EngineContext, opts: QueryOpts, wanted: DataFrame): DataFrame = {
    val rows = hydrate(ctx, opts, wanted)
    val out = Seq(("s", "s_str"), ("p", "p_str"), ("o", "o_str"), ("g", "g_str"))
      .foldLeft(rows) { case (df, (h, o)) => decoded(ctx, df, h, o) }
    out.select(col("s_str").as("s"), col("p_str").as("p"),
      col("o_str").as("o"), col("g_str").as("g"), col("pos"))
  }

  // ---------------------------------------------------------------- facets

  /** Subject sets up to this many rows (~32 MB of longs) are
    * broadcast-hinted in [[facet]]; larger sets degrade to a shuffle
    * semi-join instead of failing the broadcast/driver limit. */
  private val maxBroadcastFacetSubjects = 4000000L

  /** Facet aggregate over the full filtered set (query.py:744-753).
    * `agg` is "graphs", "properties", or a property IRI. Counts are
    * triple counts (not distinct subjects), per the reference SQL.
    * `sCount` is the subject-set size when the caller already knows it
    * (query() computes it for `total` anyway). Returns
    * (count: Long, val: String). */
  def facet(ctx: EngineContext, agg: String, sResults: DataFrame,
      sCount: Option[Long] = None): DataFrame = {
    val t = ctx.graph.triples
    val iris = ctx.graph.iris
    // the filtered subject set is usually the small side (bounded by
    // filter selectivity) but carries no size stats after
    // persist/set-ops, so Spark would otherwise plan a two-sided shuffle
    // — hint it broadcast and keep the full triples scan shuffle-free.
    // A low-selectivity filter (a property every subject has) can exceed
    // the broadcast limit, so the hint requires a KNOWN-small count: an
    // unknown size falls back to the unhinted plan (AQE still converts
    // to broadcast at runtime when the set turns out small) rather than
    // force-collecting a possibly corpus-scale set to the driver.
    val sSide = sResults.select("s").as("S")
    // a STORE-LEVEL bound needs no sizing job at all: any subject set —
    // even a raw, multiplicity-carrying one — is derived from the
    // triples relation, so when the whole pinned relation is provably
    // row-bounded the set is broadcast-safe a priori. The proof is a
    // ROW-count from plan stats (a materialized InMemoryRelation always
    // carries one); bytes alone don't prove rows — dictionary/RLE
    // compression can pack far more than 4M triples under 32 MB — so
    // the byte fallback (unmaterialized plans) divides by a 4×
    // compression pad on the 8 B/subject budget. A corpus-scale store
    // fails the bound and falls back to the caller-known count (or the
    // unhinted plan) as before; without this, every filtered facet paid
    // a count(s_results) job just to earn its hint — pure floor on
    // small/medium stores.
    val storeBounded =
      graft.store.Graph.planRowCount(t)
        .map(_ <= maxBroadcastFacetSubjects)
        .getOrElse(
          graft.store.Graph.planBytes(t) <= maxBroadcastFacetSubjects * 2L)
    // probe fast path: a SELECTIVE subject set (≤ isinProbeCap RAW rows
    // — multiplicity included, so the limit needs no dedup shuffle and
    // EARLY-EXITS on any store size; the probe can never cost a full
    // subject-side pass just to discover its set is over cap) becomes
    // an s-IN scan predicate via a driver-side distinct — the semi-join
    // and its BroadcastExchange build job drop out, so the steady-state
    // facet is ONE job. The bounded collect is a store-constant
    // cached value (the over-cap verdict caches too, so an ineligible
    // shape pays its bounded probe once per context). A raw count over
    // cap with few DISTINCT subjects conservatively keeps the join
    // path. Over the cap (or with probing disabled) the hinted
    // semi-join below is the scale path.
    val probed: Option[Array[Long]] =
      if (ctx.isinProbeCap <= 0) None
      else {
        val cap = ctx.isinProbeCap
        val sPlan = sSide.queryExecution.analyzed
        val arr = ctx.cached(("facet:p", sPlan.canonicalized)) {
          sSide.limit(cap + 1).collect().map(_.getLong(0))
        }
        if (arr.length <= cap) Some(arr.distinct) else None
      }
    val joined = probed match {
      case Some(arr) => t.filter(col("s").isin(arr.toIndexedSeq: _*))
      case None =>
        val hinted =
          if (storeBounded || sCount.exists(_ <= maxBroadcastFacetSubjects))
            broadcast(sSide)
          else sSide
        t.join(hinted, Seq("s"), "left_semi")
    }
    agg match {
      case "graphs" | "properties" =>
        val keyCol = if (agg == "graphs") "g" else "p"
        // decode AFTER the aggregation: tiny row set, bijective via hash.
        // The reference leaves this order undefined (no ORDER BY,
        // query.py:746-748); (count desc, val asc) makes the envelope
        // deterministic across runs AND across the decode-map/join paths.
        // coalesce(1) first: the aggregate's exchange already ran, so
        // the merge is post-shuffle (map side stays parallel) and the
        // envelope sort becomes a single-task local sort instead of a
        // range sort whose SAMPLING job re-executes the semi-join+agg
        decoded(ctx, joined.groupBy(col(keyCol)).agg(count(lit(1)).as("count")),
            keyCol, "val", inner = true)
          .select(col("count"), col("val"))
          .coalesce(1)
          .orderBy(col("count").desc, col("val").asc)
      case propIri =>
        val filtered = joined.filter(col("p") === h(propIri))
        val counts = filtered.groupBy(col("o")).agg(count(lit(1)).as("count"))
        // iris ∪ literals branches of the reference = one dict decode
        // (every hash lives in exactly one dictionary)
        decoded(ctx, counts, "o", "val", inner = true)
          .select(col("count"), col("val"))
          .coalesce(1) // facet output is envelope-scale; see above
          .orderBy(col("count").desc, col("val").asc)
    }
  }

  /** Whole-DB facet when no filters are present (query.py:825-832) —
    * store-constant between mutations, so computed once per context. */
  def facetWholeDb(ctx: EngineContext, agg: String): DataFrame = {
    val keyCol = if (agg == "graphs") "g" else "p"
    ctx.persisted(s"facetWholeDb:$keyCol") {
      // the PERSISTED frame itself must be what the cache stores:
      // retire() unpersists the stored frame, and a Sort wrapper OVER a
      // persisted base would never sameResult the cached plan — the
      // base's blocks would survive every mutation.
      // Ordering before persist keeps the deterministic envelope order
      // (see facet()) inside the pinned frame.
      decoded(ctx,
          ctx.graph.triples.groupBy(col(keyCol)).agg(count(lit(1)).as("count")),
          keyCol, "val", inner = true)
        .select(col("count"), col("val"))
        .orderBy(col("count").desc, col("val").asc)
    }
  }

  // ----------------------------------------------------------------- paths

  /** Levels walked per Spark job in [[paths]]: each job chains this many
    * broadcast joins, dividing the per-job scheduling floor by k. */
  private val pathLevelsPerJob = 4

  // the broadcast-walk edge bound lives on the context
  // (EngineContext.maxBroadcastPathEdges) so it can be sized per
  // deployment and forced off in walk-parity tests

  /** One k-level walk step as a DataFrame transform: left-join `cur`
    * (source, path, head) against the edge set `levels` times inside ONE
    * plan; a finished chain (null head) no longer matches and rides
    * through unchanged. */
  private def walkLevels(cur0: DataFrame, edges: DataFrame, levels: Int): DataFrame = {
    var cur = cur0
    for (l <- 0 until levels) {
      val e = edges.select(col("part").as(s"part$l"), col("parent").as(s"parent$l"))
      cur = cur.join(e, col("head") === col(s"part$l"), "left")
        .select(col("source"),
          when(col(s"parent$l").isNull, col("path"))
            .otherwise(concat(col("path"), array(col(s"parent$l")))).as("path"),
          col(s"parent$l").as("head"))
    }
    cur
  }

  /** Ancestor paths under a parent-pointer property for the page subjects
    * (reference recursive CTE, query.py:802-822). Iterative fixpoint:
    * frontier starts at the page (≤size rows) and lives on the driver
    * while small — each round is then exactly ONE Spark job chaining
    * [[pathLevelsPerJob]] left-outer joins against the property's
    * PERSISTED edge set (the per-level scheduling floor was the whole
    * cost of this operator). The frontier is the outer-preserved side,
    * so it cannot also be the broadcast build side — Spark broadcasts
    * the edge set instead when it fits the auto threshold, and falls
    * back to a shuffle join of the persisted edges for corpus-scale
    * properties. A branchy graph whose fanout multiplies chains past
    * [[EngineContext.maxDriverChains]] switches to a distributed frontier
    * (join + localCheckpoint per round) instead of growing the driver.
    * Nodes on a parentless chain finish with path = [self, parent, …,
    * root]; chains still active after `maxPathIterations` levels (a
    * configurable cap, default 50) are treated as cycles and dropped —
    * a legitimately deeper-than-cap acyclic chain is therefore omitted
    * where the reference's unbounded recursion would return it (and
    * would never terminate on an actual cycle); raise
    * `maxPathIterations` for unusually deep hierarchies.
    * Returns (source: Long, path: Array[Long]). */
  def paths(ctx: EngineContext, propIri: String, wanted: DataFrame): DataFrame = {
    val spark = ctx.graph.spark
    import spark.implicits._
    // the per-property edge set is persisted ONCE per context (not per
    // query): a serving session pages the same hierarchy property over
    // and over, and rebuilding filter+distinct each call was the single
    // biggest cost of this operator. The single-parent test (one extra
    // aggregate, also paid once) decides whether the walk needs its
    // fanout guard at all. Bounded by the property's triple count; a
    // corpus-scale property stays a shuffle join against this one
    // persisted relation.
    val pe = ctx.pinned(("pathEdges", propIri), (pe: PathEdges) => {
        pe.edges.unpersist()
        // non-blocking release: in-flight queries holding the broadcast
        // still complete; the blocks just stop being cached
        pe.parentArrays.foreach(_.unpersist(false))
      }) {
      val e = ctx.graph.triples.filter(col("p") === h(propIri))
        .select(col("s").as("part"), col("o").as("parent")).distinct().persist()
      val maxMult = e.groupBy(col("part")).agg(count(lit(1)).as("c"))
        .agg(max(col("c"))).head().get(0)
      val single = maxMult == null || maxMult.asInstanceOf[Long] <= 1L
      // broadcast fast path: a single-parent edge set under the bound is
      // collected ONCE per (context, property) into sorted primitive
      // arrays — every later paths() call walks all levels in one job.
      // The count is ~free (e is persisted); sorting runs driver-side to
      // avoid a range-exchange job on the bounded set.
      val arrays =
        if (single && e.count() <= ctx.maxBroadcastPathEdges) {
          // stream the rows into primitive builders instead of
          // collect(): near the 4M cap a collect() holds every boxed
          // Row at once (~hundreds of MB transient) on top of the
          // 64 MB the broadcast actually needs; toLocalIterator pays
          // one cursor job per partition of the persisted edge set
          // (once per context+property) and never holds more than one
          // partition's rows
          val kb = new scala.collection.mutable.ArrayBuilder.ofLong
          val vb = new scala.collection.mutable.ArrayBuilder.ofLong
          val it = e.toLocalIterator()
          while (it.hasNext) { val r = it.next(); kb += r.getLong(0); vb += r.getLong(1) }
          val k0 = kb.result(); val v0 = vb.result()
          val byKey = LocalStore.order(k0)
          Some(spark.sparkContext.broadcast((byKey.map(k0), byKey.map(v0))))
        } else None
      PathEdges(e, single, arrays)
    }
    val edges = pe.edges
    pe.parentArrays match {
      case Some(bc) =>
        val maxIter = ctx.maxPathIterations
        // whole-chain walk as ONE projection: binary-search the parent
        // of the head until a root (not found) — finished chain — or
        // the iteration cap — treated as a cycle and dropped (null
        // path). The cap check is on PARENTS APPENDED, not on whether
        // the last lookup missed: a chain with exactly maxIter edges is
        // dropped even though its final node is a root, because the
        // join walk cannot observe that root without a level it does
        // not have — the two walks must return the same rows on the
        // same data regardless of store size.
        val walkUdf = udf { (s: Long) =>
          val (keys, vals) = bc.value
          val buf = scala.collection.mutable.ArrayBuffer[Long](s)
          var cur = s
          var lvl = 0
          var idx = java.util.Arrays.binarySearch(keys, cur)
          while (idx >= 0 && lvl < maxIter) {
            cur = vals(idx)
            buf += cur
            lvl += 1
            idx = java.util.Arrays.binarySearch(keys, cur)
          }
          if (lvl >= maxIter) null else buf.toArray
        }
        // Fence: without it Catalyst pushes isnotnull(walkUdf(s)) below
        // the projection and the whole-chain walk runs TWICE per row
        val walkCol = org.apache.spark.sql.GraftShims.column(graft.functions.Fence(
          org.apache.spark.sql.GraftShims.expression(walkUdf(col("s")))))
        return wanted.select(col("s").as("source"), walkCol.as("path"))
          .filter(col("path").isNotNull)
      case None => ()
    }
    // the first round walks the page frame DIRECTLY and collects the
    // walked result — folding the old seed-the-driver collect into the
    // first walk job (one job instead of two). Driver exposure is
    // unchanged: the old shape collected `wanted` blindly too, and for
    // single-parent graphs |walked| == |wanted|; branchy graphs take
    // the count-guarded branch below on every round including the first.
    var frontier: Array[(Long, Seq[Long], Long)] = null
    val seedDf = wanted
      .select(col("s").as("source"), array(col("s")).as("path"), col("s").as("head"))
    val finished = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    var distributed: Option[DataFrame] = None
    var i = 0
    while ((frontier == null || frontier.nonEmpty) &&
        i < ctx.maxPathIterations && distributed.isEmpty) {
        if (frontier != null && frontier.length > ctx.maxDriverChains) {
          distributed = Some(pathsDistributed(
            frontier.toSeq.toDF("source", "path", "head"), edges,
            ctx.maxPathIterations - i))
        } else {
          val k = math.min(pathLevelsPerJob, ctx.maxPathIterations - i)
          // no broadcast hint on fdf: the frontier is the outer-preserved
          // side of the left join, which can never be the build side —
          // the edge side auto-broadcasts when small
          val fdf =
            if (frontier == null) seedDf
            else frontier.toSeq.toDF("source", "path", "head")
          if (pe.singleParent) {
            // no node has two parents (tested once at edge-cache time),
            // so |stepped| == |frontier| ≤ maxDriverChains by induction —
            // the round is exactly ONE job: walk k levels, collect. The
            // induction needs its base case: the FIRST round's page has
            // seen no cap yet, so only that collect is limit-bounded
            // (later rounds ride the induction unbounded — the limit
            // measurably costs ~15% a round); an over-cap page restarts
            // distributed instead of growing the driver.
            val walked = walkLevels(fdf, edges, k)
              .as[(Long, Seq[Long], Option[Long])]
            val joined =
              if (frontier == null) walked.limit(ctx.maxDriverChains + 1).collect()
              else walked.collect()
            if (joined.length > ctx.maxDriverChains) {
              distributed = Some(pathsDistributed(fdf, edges,
                ctx.maxPathIterations - i))
            } else {
              finished ++= joined.collect { case (src, p, None) => (src, p) }
              frontier = joined.collect { case (src, p, Some(par)) => (src, p, par) }
              i += k
            }
          } else {
            // multi-parent graph: the collect is guarded. k chained
            // levels can multiply the chain count by fanout^k INSIDE a
            // round, so an unguarded collect could OOM the driver before
            // the round-boundary cap check ever ran. The walk
            // materializes executor-side first (localCheckpoint —
            // bounded by executor storage, not driver heap), a cheap
            // count consults the cap, and only an under-cap batch is
            // collected; over the cap the walk restarts distributed
            // from the pre-walk frontier. The two small extra jobs per
            // round are local-mode floor cost a real cluster amortizes;
            // a limit(cap+1)-bounded collect was measured ~2x slower
            // (CollectLimit executes incrementally).
            val stepped = walkLevels(fdf, edges, k).localCheckpoint()
            if (stepped.count() > ctx.maxDriverChains) {
              distributed = Some(pathsDistributed(fdf, edges,
                ctx.maxPathIterations - i))
            } else {
              val joined = stepped.as[(Long, Seq[Long], Option[Long])].collect()
              finished ++= joined.collect { case (src, p, None) => (src, p) }
              frontier = joined.collect { case (src, p, Some(par)) => (src, p, par) }
              i += k
            }
          }
        }
    }
    val local = finished.toSeq.toDF("source", "path")
    distributed.fold(local)(local.unionByName(_))
  }

  /** Distributed-frontier fallback for branchy graphs: the frontier stays
    * an executor-side DataFrame, one k-level walk + localCheckpoint per
    * round, finished chains accumulated as a union. Only entered when the
    * driver-side chain count exceeds [[maxDriverChains]]. */
  private def pathsDistributed(frontier0: DataFrame, edges: DataFrame,
      maxLevels: Int): DataFrame = {
    var frontier = frontier0.localCheckpoint()
    var finishedParts: List[DataFrame] = Nil
    var i = 0
    while (i < maxLevels && !frontier.isEmpty) {
      val k = math.min(pathLevelsPerJob, maxLevels - i)
      val stepped = walkLevels(frontier, edges, k).localCheckpoint()
      finishedParts ::= stepped.filter(col("head").isNull).select("source", "path")
      frontier = stepped.filter(col("head").isNotNull)
      i += k
    }
    finishedParts.foldLeft(frontier0.select("source", "path").limit(0))(_ unionByName _)
  }

  // ----------------------------------------------------- convenience lookups

  /** Raw triple lookup with any of s/p/o/g bound (query.py:60-87),
    * decoded via 4-way left join; o falls back from iris to literals. */
  def spo(
      ctx: EngineContext,
      s: Option[String] = None, p: Option[String] = None,
      o: Option[String] = None, g: Option[String] = None,
      size: Int = 1000, start: Int = 0): DataFrame = {
    // an s-bound lookup uses the s-sorted copy (file/row-group pruning);
    // p/o-bound lookups keep the (p,o,s)-clustered relation
    var t = if (s.exists(_.nonEmpty)) ctx.graph.subjectAccess else ctx.graph.triples
    s.filter(_.nonEmpty).foreach(v => t = t.filter(col("s") === h(v)))
    p.filter(_.nonEmpty).foreach(v => t = t.filter(col("p") === h(v)))
    o.filter(_.nonEmpty).foreach(v => t = t.filter(col("o") === h(v)))
    g.filter(_.nonEmpty).foreach(v => t = t.filter(col("g") === h(v)))
    ctx.dictBroadcast match {
      case Some(_) =>
        val out = Seq(("s", "s_str"), ("p", "p_str"), ("o", "o_str"))
          .foldLeft(t) { case (df, (hc, oc)) => decoded(ctx, df, hc, oc) }
        out.select(col("s_str").as("s"), col("p_str").as("p"), col("o_str").as("o"))
          .offset(start).limit(size)
      case None =>
        val iris = ctx.graph.iris
        val lits = ctx.graph.literals
        t.as("T")
          .join(iris.as("U"), col("T.s") === col("U.hash"), "left")
          .join(iris.as("UU"), col("T.p") === col("UU.hash"), "left")
          .join(iris.as("UUU"), col("T.o") === col("UUU.hash"), "left")
          .join(lits.as("L"), col("T.o") === col("L.hash"), "left")
          .select(
            col("U.value").as("s"), col("UU.value").as("p"),
            coalesce(col("UUU.value"), col("L.value")).as("o"))
          .offset(start).limit(size)
    }
  }

  /** Batch subject+predicate lookup (query.py:38-57). */
  def sp(ctx: EngineContext, subjects: Seq[String], p: Option[String]): DataFrame = {
    val sHashes = subjects.map(h)
    var t = ctx.graph.subjectAccess.filter(col("s").isin(sHashes: _*))
    p.foreach(v => t = t.filter(col("p") === h(v)))
    // both decodes ride the session map when available: the reference's
    // iris-then-literals coalesce for o IS the combined dictionary, and
    // a subject never decodes differently (subjects live only in iris) —
    // three broadcast-join builds collapse into map lookups, leaving the
    // s-pruned parquet point read as the whole job
    ctx.decodeExpr(col("s")) match {
      case Some(_) =>
        t.select(ctx.decodeExpr(col("s")).get.as("s"),
          ctx.decodeExpr(col("o")).get.as("o"))
      case None =>
        val iris = ctx.graph.iris
        val lits = ctx.graph.literals
        t.as("T")
          .join(iris.as("U"), col("T.s") === col("U.hash"), "left")
          .join(iris.as("UUU"), col("T.o") === col("UUU.hash"), "left")
          .join(lits.as("L"), col("T.o") === col("L.hash"), "left")
          .select(col("U.value").as("s"),
            coalesce(col("UUU.value"), col("L.value")).as("o"))
    }
  }

  /** count(distinct s) over all triples (query.py:13-17) — a store
    * constant between mutations, so computed once per context
    * ([[EngineContext.cached]]; mutations replace the context). */
  def total(ctx: EngineContext): Long =
    ctx.cached("total")(ctx.graph.triples.select("s").distinct().count())

  /** Distinct-subject count per predicate IRI (query.py:20-27).
    * Aggregates on the hash FIRST (map-side combine on a Long key), then
    * decodes the few result rows — hash↔value is bijective, so grouping
    * by hash equals the reference's group-by-decoded-value. */
  def properties(ctx: EngineContext): DataFrame =
    ctx.persisted("properties") {
      decoded(ctx,
        ctx.graph.triples.groupBy(col("p"))
          .agg(countDistinct(col("s")).as("count")),
        "p", "value", inner = true)
        .select(col("value"), col("count"))
    }

  /** Distinct-subject count per object IRI of one predicate (query.py:30-35).
    * The inner decode keeps IRI objects only when falling back to the join
    * path; the broadcast path filters literals explicitly for parity. */
  def countByProperty(ctx: EngineContext, property: String): DataFrame = {
    val counts = ctx.graph.triples
      .filter(col("p") === h(property))
      .groupBy(col("o"))
      .agg(countDistinct(col("s")).as("count"))
    val d = ctx.dictBroadcast match {
      case Some(_) =>
        decoded(ctx, counts, "o", "value", inner = true)
          .filter(!col("value").startsWith("\""))
      case None =>
        val iris = ctx.graph.iris
          .withColumnRenamed("hash", "__h").withColumnRenamed("value", "value")
        counts.join(iris, col("o") === col("__h")).drop("__h")
    }
    d.select(col("value"), col("count"))
  }

  // ------------------------------------------------------------ full query

  /** The primary read path: full result assembly mirroring query.py's
    * envelope. A non-scoring request ([[LocalStore.supports]]) on a
    * context whose store fits the driver tier's cap is answered from the
    * driver-resident copy, with no Spark job; everything else, and what
    * that tier hands back, takes [[querySpark]]. Both tiers finish
    * through [[assemble]]. */
  def query(ctx: EngineContext, opts: QueryOpts): QueryResult =
    (if (LocalStore.supports(opts)) LocalStore.of(ctx) else None)
      .flatMap(_.query(ctx, opts))
      .getOrElse(querySpark(ctx, opts))

  /** The Spark tier of [[query]]. Heavy stages stay distributed; only
    * the ≤size-row page, its decode dictionary slice, and facet rows are
    * collected. */
  private[graft] def querySpark(ctx: EngineContext, opts: QueryOpts): QueryResult = {
    val spark = ctx.graph.spark
    import spark.implicits._

    // one compile per filter; scoring DFs persisted so the FTS/vector
    // scan feeds both the subject set and the score chain
    val compiled = compileAll(ctx, opts)
    val persistedScoring = compiled.collect { case (f, df) if isScoring(f) => df.persist() }
    // all-simple forests fuse into one scan+aggregate; anything with a
    // scoring/derived-index branch keeps the per-branch compilation
    val sResultsOpt = fusedSubjects(ctx, opts).orElse(subjectsFromCompiled(compiled))

    try sResultsOpt match {
      case None =>
        // no (valid) filters: only the whole-DB special aggregates run
        val aggregates =
          for (agg <- opts.aggregates if agg == "properties" || agg == "graphs")
            yield agg -> facetWholeDb(ctx, agg).as[(Long, String)].collect().toSeq
        assemble(ctx, opts, Array.empty, Map.empty, 0L, aggregates)

      case Some(sResultsRaw) =>
        // s_results feeds count + page + every facet → persist once
        // (the reference materializes a temp table for the same reason)
        val sResults = sResultsRaw.persist()
        try {
          // total / facets / page hydration / paths are independent Spark
          // actions — run them from separate threads so their jobs overlap
          // instead of paying the per-job scheduling floor sequentially.
          // The shared persisted inputs are computed once (per-partition
          // cache locking); on a cluster this is plain multi-job
          // scheduling inside one session.
          import scala.concurrent.{Await, Future}
          import scala.concurrent.duration.Duration
          import scala.concurrent.ExecutionContext.Implicits.global
          val totalF = Future(sResults.count())
          val sByScore = scoreChainFromCompiled(compiled)
          val wanted = wantedPage(ctx, opts, sResults, sByScore)
            .persist()
          try {
            val aggF = Future {
              // total is already being counted concurrently — reuse it to
              // decide whether the subject set is broadcast-safe
              val n = Await.result(totalF, Duration.Inf)
              opts.aggregates.map(agg =>
                agg -> facet(ctx, agg, sResults, sCount = Some(n))
                  .as[(Long, String)].collect().toSeq)
            }
            val pageF = Future {
              hydrate(ctx, opts, wanted)
                .select("s", "p", "o", "g", "pos").as[(Long, Long, Long, Long, Int)]
                .collect()
            }
            // paths for page subjects
            val pathsF = Future {
              opts.paths.map { pad =>
                pad -> paths(ctx, pad, wanted)
                  .as[(Long, Seq[Long])].collect()
              }.toMap
            }
            val total = Await.result(totalF, Duration.Inf)
            val aggregates = Await.result(aggF, Duration.Inf)
            val pageRows = Await.result(pageF, Duration.Inf)
            val pathRows = Await.result(pathsF, Duration.Inf)
            assemble(ctx, opts, pageRows, pathRows, total, aggregates)
          } finally wanted.unpersist()
        } finally sResults.unpersist()
    } finally persistedScoring.foreach(_.unpersist())
  }

  /** The envelope from hash-level rows — the one assembly step both
    * tiers finish through. `pageRows` are the distinct hydrated
    * (s, p, o, g, pos) rows of the page subjects in any order, `pathRows`
    * the walked (source, path) chains per path property, `aggregates`
    * the facet rows per requested aggregate in request order. */
  private[algebra] def assemble(ctx: EngineContext, opts: QueryOpts,
      pageRows0: Array[(Long, Long, Long, Long, Int)],
      pathRows: Map[String, Array[(Long, Seq[Long])]],
      total: Long,
      aggregates: Seq[(String, Seq[(Long, String)])]): QueryResult = {
    // secondary (p, o, g) hash keys: pos alone leaves rows of one
    // subject in fetch order, which is nondeterministic on a cluster —
    // the envelope must be byte-stable for the result cache, keyed by
    // decoded opts (the reference's own within-subject order is its SQL
    // fetch order, equally undefined, so any FIXED order is parity)
    val pageRows = pageRows0.sortBy(r => (r._5, r._2, r._3, r._4))

    // decode set: page terms + path members
    val toFetch = scala.collection.mutable.HashSet.empty[Long]
    pageRows.foreach { case (s, p, o, _, _) => toFetch += s; toFetch += p; toFetch += o }
    pathRows.values.foreach(_.foreach(_._2.foreach(toFetch += _)))
    val hv: Map[Long, String] = ctx.dictBroadcast match {
      case Some(b) =>
        toFetch.iterator.flatMap(h => b.value.get(h).map(h -> _)).toMap
      case None =>
        if (toFetch.isEmpty) Map.empty
        else {
          val spark = ctx.graph.spark
          import spark.implicits._
          toFetch.toSeq.toDF("hash")
            .join(ctx.graph.dict, "hash")
            .as[(Long, String)].collect().toMap
        }
    }

    // assemble entities in page order
    val order = scala.collection.mutable.LinkedHashMap.empty[Long, scala.collection.mutable.LinkedHashMap[Long, scala.collection.mutable.LinkedHashSet[Long]]]
    pageRows.foreach { case (s, p, o, _, _) =>
      order.getOrElseUpdate(s, scala.collection.mutable.LinkedHashMap.empty)
        .getOrElseUpdate(p, scala.collection.mutable.LinkedHashSet.empty) += o
    }
    // one path per (subject, property), like the reference's
    // per-row dict overwrite (query.py:820) — but chosen
    // DETERMINISTICALLY (shortest, then lexicographic) instead
    // of by collect order: a multi-parent subject has several
    // finished chains and the reference's winner is just its
    // undefined SQL fetch order, so any fixed pick is parity
    // while keeping the envelope byte-stable for the result cache
    val pathsBySubject: Map[Long, Map[String, Seq[Long]]] =
      pathRows.toSeq
        .flatMap { case (pad, rows) => rows.map { case (src, path) => (src, pad, path) } }
        .groupBy(_._1)
        .map { case (src, rows) =>
          src -> rows.groupBy(_._2).map { case (pad, cands) =>
            pad -> cands.map(_._3)
              .minBy(p => (p.length, p.map(java.lang.Long.toUnsignedString(_)).mkString(",")))
          }
        }

    // ListMap end-to-end: entities stay in page (pos) order and
    // each property map in first-seen triple order, like the
    // reference's insertion-ordered dicts
    val results: Map[String, Entity] =
      scala.collection.immutable.ListMap(order.toSeq.flatMap { case (sHash, props) =>
        hv.get(sHash).map { sIri =>
          val propMap: Map[String, Seq[String]] =
            scala.collection.immutable.ListMap(props.toSeq.flatMap { case (pHash, oHashes) =>
              hv.get(pHash).map { pIri =>
                pIri -> oHashes.toSeq.flatMap(hv.get)
              }
            }: _*)
          val entPaths = pathsBySubject.getOrElse(sHash, Map.empty).map {
            case (pad, path) =>
              pad -> path.filter(_ != sHash).flatMap(hv.get)
          }
          sIri -> Entity(sIri, propMap, Nil, entPaths)
        }
      }: _*)

    // ListMap for the same insertion-order reason as `results`: past 4
    // entries a HashMap would emit the aggregates object in key-hash
    // order instead of the request order the reference's dict preserves
    val aggs: Map[String, Seq[(Long, String)]] =
      scala.collection.immutable.ListMap.empty[String, Seq[(Long, String)]] ++ aggregates
    QueryResult(results, total, opts.size, opts.start, aggs)
  }

  def queryJson(ctx: EngineContext, optsJson: String): String =
    query(ctx, QueryOpts.fromJson(optsJson)).toJson
}
