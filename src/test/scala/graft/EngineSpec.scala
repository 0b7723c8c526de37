package graft

import graft.algebra._
import graft.ingest.Quad
import graft.store.Mutations

class EngineSpec extends SparkSpec {
  import Fixture._

  def ctx: EngineContext = Fixture.ctx(spark)

  def subjectsOf(opts: QueryOpts): Set[String] = {
    val res = QueryEngine.query(ctx, opts)
    res.results.keySet
  }

  test("p+o filter: subjects having (type, Jedi)") {
    val r = QueryEngine.query(ctx, QueryOpts(filters = Seq(FilterQ(p = a, o = jedi))))
    assert(r.results.keySet === Set("<http://ex/luke>", "<http://ex/vader>"))
    assert(r.total === 2)
  }

  test("p-only filter: subjects with any homeworld") {
    assert(subjectsOf(QueryOpts(filters = Seq(FilterQ(p = homeworld)))) ===
      Set("<http://ex/luke>", "<http://ex/leia>", "<http://ex/vader>"))
  }

  test("reverse-reference o-only filter") {
    assert(subjectsOf(QueryOpts(filters = Seq(FilterQ(o = "<http://ex/tatooine>")))) ===
      Set("<http://ex/luke>", "<http://ex/vader>", "<http://ex/tatooine_desert>"))
  }

  test("id point lookup hydrates the full property map") {
    val r = QueryEngine.query(ctx,
      QueryOpts(filters = Seq(FilterQ(p = "id", o = "<http://ex/luke>"))))
    val e = r.results("<http://ex/luke>")
    assert(e.props(a).toSet === Set(jedi, human))
    assert(e.props(height) === Seq("\"1.72\"^^<http://www.w3.org/2001/XMLSchema#decimal>"))
    assert(e.id === "<http://ex/luke>")
    assert(e.graph === Nil) // reference envelope quirk: always []
  }

  test("multi-IRI o list becomes IN") {
    assert(subjectsOf(QueryOpts(filters = Seq(
      FilterQ(p = a, o = s"$jedi $human")))) ===
      Set("<http://ex/luke>", "<http://ex/leia>", "<http://ex/vader>", "_:b0"))
  }

  test("graph-restricted filter") {
    assert(subjectsOf(QueryOpts(filters = Seq(
      FilterQ(p = a, o = jedi, g = "<http://ex/graph1>")))) === Set("<http://ex/vader>"))
  }

  test("and / or / not set combination with EXCEPT-last") {
    // not listed FIRST must still be applied last (query.py:629-668)
    val r = subjectsOf(QueryOpts(filters = Seq(
      FilterQ(p = a, o = human, op = "should"),
      FilterQ(p = homeworld, o = "<http://ex/alderaan>", op = "not"),
      FilterQ(p = a, o = jedi, op = "or"))))
    // (human ∪ jedi) − alderaan-dwellers = luke, vader, b0
    assert(r === Set("<http://ex/luke>", "<http://ex/vader>", "_:b0"))
  }

  test("intersect binds tighter than union") {
    // human UNION jedi INTERSECT tatooine-dwellers = human ∪ (jedi ∩ tatooine)
    val r = subjectsOf(QueryOpts(filters = Seq(
      FilterQ(p = a, o = human, op = "should"),
      FilterQ(p = a, o = jedi, op = "or"),
      FilterQ(p = homeworld, o = "<http://ex/tatooine>", op = "and"))))
    assert(r === Set("<http://ex/luke>", "<http://ex/leia>", "_:b0", "<http://ex/vader>"))
  }

  test("regex filter is full-string anchored like SIMILAR TO") {
    // 'Tatooine' matches '"Tatooine"' only with explicit quotes in pattern
    val rWhole = subjectsOf(QueryOpts(filters = Seq(FilterQ(p = "regex", o = "\"Tato.*"))))
    assert(rWhole === Set("<http://ex/tatooine>"))
    // unanchored fragment must NOT match (SIMILAR TO semantics)
    val rFrag = QueryEngine.query(ctx, QueryOpts(filters = Seq(FilterQ(p = "regex", o = "Tato"))))
    assert(rFrag.total === 0)
  }

  test("regex with 1 hop returns referencing ancestors") {
    val r = subjectsOf(QueryOpts(filters = Seq(FilterQ(p = "regex 1", o = "\"Tatooine\""))))
    // parents of tatooine via any predicate: luke, vader (homeworld), desert (broader)
    assert(r === Set("<http://ex/luke>", "<http://ex/vader>", "<http://ex/tatooine_desert>"))
  }

  test("fts conjunctive match + score ordering") {
    val r = QueryEngine.query(ctx, QueryOpts(filters = Seq(FilterQ(p = "fts", o = "Luke Skywalker"))))
    assert(r.results.keySet === Set("<http://ex/luke>"))
    val rAll = QueryEngine.query(ctx, QueryOpts(filters = Seq(FilterQ(p = "fts", o = "skywalker"))))
    assert(rAll.results.keySet === Set("<http://ex/luke>"))
  }

  test("fts hop walks to referencing entity") {
    val r = subjectsOf(QueryOpts(filters = Seq(FilterQ(p = "fts 1", o = "tatooine"))))
    assert(r.contains("<http://ex/luke>") && r.contains("<http://ex/vader>"))
  }

  test("isin probe and join fallback compile to the same sets") {
    // the size-conditional o-IN paths (regex / fts / hop) must be
    // result-identical to the cap-0 broadcast-join fallback — the same
    // differential the property suite runs for the set algebra
    val joinCtx = ctx.copy(isinProbeCap = 0)
    for (f <- Seq(
        FilterQ(p = "regex", o = "\"Tato.*"),
        FilterQ(p = "regex 1", o = "\"Tatooine\""),
        FilterQ(p = "fts", o = "skywalker"),
        FilterQ(p = "fts 1", o = "tatooine"),
        FilterQ(p = Fixture.a + " 1", o = Fixture.human))) {
      val viaIsin = QueryEngine.subjects(ctx, QueryOpts(filters = Seq(f)))
        .get.collect().map(_.getLong(0)).toSet
      val viaJoin = QueryEngine.subjects(joinCtx, QueryOpts(filters = Seq(f)))
        .get.collect().map(_.getLong(0)).toSet
      assert(viaIsin === viaJoin, s"paths diverge for $f")
    }
  }

  test("semantic filter returns scored subjects") {
    // near-identical token multiset to luke's 2-hop fts doc → distance ≈ 0
    val r = QueryEngine.query(ctx, QueryOpts(filters = Seq(
      FilterQ(p = "semantic", o = "Luke Skywalker Lucas Cielocaminante Tatooine Tatuin 1 72"))))
    assert(r.results.nonEmpty)
    assert(r.results.contains("<http://ex/luke>"))
  }

  test("pagination: disjoint pages, union = full set, pos stable") {
    val all = QueryOpts(filters = Seq(FilterQ(p = label)), size = 999)
    val totalSet = subjectsOf(all)
    val p1 = subjectsOf(all.copy(size = 3, start = 0))
    val p2 = subjectsOf(all.copy(size = 3, start = 3))
    val p3 = subjectsOf(all.copy(size = 999, start = 6))
    assert(p1.size === 3 && p2.size === 3)
    assert((p1 ++ p2 ++ p3) === totalSet)
    assert(p1.intersect(p2).isEmpty)
  }

  test("size=0 returns aggregates only") {
    val r = QueryEngine.query(ctx, QueryOpts(
      filters = Seq(FilterQ(p = a, o = human)),
      size = 0, aggregates = Seq(a)))
    assert(r.results.isEmpty)
    assert(r.total === 3)
    val aggVals = r.aggregates(a).map { case (c, v) => (v, c) }.toMap
    assert(aggVals(human) === 3)
    assert(aggVals(jedi) === 1) // luke is both
  }

  test("whole-DB properties aggregate without filters") {
    val r = QueryEngine.query(ctx, QueryOpts(aggregates = Seq("properties")))
    assert(r.total === 0 && r.results.isEmpty)
    val m = r.aggregates("properties").map { case (c, v) => (v, c) }.toMap
    assert(m(broader) === 2)
  }

  test("order by label asc with language preference") {
    val r = QueryEngine.query(ctx, QueryOpts(
      filters = Seq(FilterQ(p = a, o = human)),
      order = Seq(OrderRule(by = "label", lang = Seq("de", "en")))))
    // labels (lang-pref: de, en, then untagged): luke -> "luke skywalker",
    // leia -> "leia organa", b0 -> "unknown person"
    assert(r.results.keys.toSeq.length === 3)
    val positions = r.results.keySet
    assert(positions === Set("<http://ex/luke>", "<http://ex/leia>", "_:b0"))
  }

  test("multi-point id lookup: space-separated IRI list is an s-IN") {
    // the reference's id branch interpolates the shared `oo` fragment
    // (s IN (...) for a multi-IRI list, query.py:33-44) — both the
    // per-branch and the fused-scan paths must take it
    val opts = QueryOpts(filters = Seq(
      FilterQ(p = "id", o = "<http://ex/luke> <http://ex/leia>")))
    val r = QueryEngine.query(ctx, opts)
    assert(r.results.keySet === Set("<http://ex/luke>", "<http://ex/leia>"))
  }

  test("hop counts past Int range are malformed: silently dropped, not thrown") {
    val r = QueryEngine.query(ctx, QueryOpts(filters = Seq(
      FilterQ(p = s"$homeworld 10000000000", o = "<http://ex/tatooine>"))))
    assert(r.total === 0, "an unparseable hop count must drop the filter")
  }

  test("decode-map and dictionary-join paths produce identical envelopes") {
    // the broadcast decode map is an optimization with an automatic
    // join fallback past the dictionary bound (corpus scale) — the two
    // paths must be observationally identical across the query surface
    val mapped = EngineContext.withDictBroadcast(ctx)
    assert(mapped.decodeExpr(org.apache.spark.sql.functions.col("s")).nonEmpty,
      "fixture dictionary should fit the broadcast bound")
    val probes = Seq(
      QueryOpts(filters = Seq(FilterQ(p = a, o = human))),
      QueryOpts(filters = Seq(FilterQ(p = a, o = human)),
        order = Seq(OrderRule(by = "label", lang = Seq("de", "en")))),
      QueryOpts(filters = Seq(FilterQ(o = "<http://ex/tatooine>"))),
      QueryOpts(filters = Seq(FilterQ(p = "id", o = "<http://ex/luke>")),
        aggregates = Seq("properties")))
    for (opts <- probes)
      assert(QueryEngine.query(ctx, opts).toJson ===
        QueryEngine.query(mapped, opts).toJson, s"paths diverge on $opts")
  }

  /** A decode-mapped context over the fixture graph, with no derived
    * structures built yet. */
  private def freshLocalCtx: EngineContext = EngineContext.withDictBroadcast(ctx)

  /** Spark jobs started while `body` runs, on any thread (the Spark
    * tier runs its actions from futures). Jobs are counted between the
    * starts of two marker jobs, each in a job group of its own; the
    * listener bus delivers events in order. */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"window-${System.nanoTime()}"
    val counted = new java.util.concurrent.atomic.AtomicInteger()
    val open = new java.util.concurrent.atomic.AtomicBoolean()
    val closed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case g if g == s"$group-open" => open.set(true)
          case g if g == s"$group-close" => open.set(false); closed.countDown()
          case _ => if (open.get) { counted.incrementAndGet(); () }
        }
    }
    def marker(tag: String): Unit = {
      sc.setJobGroup(s"$group-$tag", tag)
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      marker("open")
      body
      marker("close")
      assert(closed.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never seen")
      counted.get()
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("below the cap, regex, hop and paths reads run no Spark job; fts and order still do") {
    val c = freshLocalCtx
    assert(LocalStore.of(c).isDefined, "the fixture fits the driver tier")
    def jobs(opts: QueryOpts): Int = jobsDuring { QueryEngine.query(c, opts); () }
    assert(jobs(QueryOpts(filters = Seq(FilterQ(p = "regex", o = "\"Tato.*")))) === 0)
    assert(jobs(QueryOpts(filters = Seq(FilterQ(p = s"$broader 1", o = "<http://ex/tatooine>")))) === 0)
    assert(jobs(QueryOpts(filters = Seq(FilterQ(p = "id", o = "<http://ex/mos_eisley>")),
      paths = Seq(broader))) === 0)
    assert(jobs(QueryOpts(filters = Seq(FilterQ(p = "fts", o = "skywalker")))) >= 1)
    assert(jobs(QueryOpts(filters = Seq(FilterQ(p = a, o = human)),
      order = Seq(OrderRule(by = "label")))) >= 1)
  }

  test("8 concurrent first queries build the driver tier once") {
    val c = freshLocalCtx
    val opts = QueryOpts(filters = Seq(FilterQ(p = a, o = human)), aggregates = Seq("graphs"))
    assert(LocalStore.supports(opts))
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val calls = Seq.fill(8)(scala.concurrent.Future {
        start.await()
        QueryEngine.query(c, opts).toJson
      })
      start.countDown()
      val answers = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(calls), scala.concurrent.duration.Duration(60, "s"))
      assert(c.builds === 1)
      assert(LocalStore.of(c).isDefined)
      assert(answers.distinct === Seq(QueryEngine.querySpark(c, opts).toJson))
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
    }
  }

  test("a store over the driver tier's cap answers through Spark with the same envelope") {
    val c = freshLocalCtx
    val n = ctx.graph.triples.count()
    assert(LocalStore.load(c, n).isDefined, "a store of exactly the cap fits")
    // one triple over the cap: the "too big" verdict fills the slot and
    // is remembered — later queries never rebuild or serve locally
    assert(LocalStore.of(c, n - 1).isEmpty)
    assert(LocalStore.of(c).isEmpty)
    assert(c.builds === 1)
    val opts = QueryOpts(filters = Seq(FilterQ(p = a, o = human),
      FilterQ(p = homeworld, o = "<http://ex/alderaan>", op = "not")),
      size = 2, start = 1, aggregates = Seq(a, "properties"))
    val local = freshLocalCtx
    val served = QueryEngine.query(local, opts).toJson
    assert(LocalStore.of(local).isDefined)
    assert(QueryEngine.query(c, opts).toJson === served)
    assert(QueryEngine.querySpark(c, opts).toJson === served)
  }

  test("a retired context never serves from the driver tier") {
    val c = freshLocalCtx
    assert(LocalStore.of(c).isDefined)
    c.retire()
    assert(LocalStore.of(c).isEmpty)
    assert(c.builds === 1, "a retired context must not rebuild")
  }

  test("retiring a copy leaves the original's driver tier and plans") {
    val c = freshLocalCtx
    val opts = QueryOpts(filters = Seq(FilterQ(p = a, o = human)))
    val served = QueryEngine.query(c, opts).toJson
    val plan = c.plan("spec-copy")(QueryEngine.subjects(c, opts).get)
    val built = c.builds
    val copy = c.copy(isinProbeCap = 0)
    assert(LocalStore.of(copy).isDefined, "a copy builds its own driver tier")
    copy.retire()
    assert(!c.retired)
    assert(LocalStore.of(c).isDefined, "the original still serves from the driver tier")
    assert(QueryEngine.query(c, opts).toJson === served)
    assert(c.plan("spec-copy")(fail("the original's plan must stay cached")) eq plan)
    assert(c.builds === built, "nothing of the original was rebuilt")
  }

  test("a copy over another graph answers total and properties for that graph") {
    def homeworlds(c: EngineContext): Long = QueryEngine.properties(c).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap.apply(homeworld)
    val c = ctx.copy()
    assert(QueryEngine.total(c) === 11)
    assert(homeworlds(c) === 3)
    val (g2, r) = Mutations.insert(c.graph,
      Seq(Quad("<http://ex/rey>", homeworld, "<http://ex/jakku>", "")))
    assert(r.error.isEmpty)
    val c2 = c.copy(graph = g2)
    assert(QueryEngine.total(c2) === 12, "total must count g2's subjects")
    assert(homeworlds(c2) === 4, "properties must count g2's subjects")
    assert(QueryEngine.total(c) === 11 && homeworlds(c) === 3)
  }

  test("sort labels ignore blank-node objects on both decode paths") {
    import spark.implicits._
    val prop = "<http://ex/note>"
    val g = graft.ingest.Build.graphFromQuads(spark, Seq(
      Quad("<http://ex/s1>", prop, "_:note1", ""),
      Quad("<http://ex/s1>", prop, "\"Alpha\"", ""),
      Quad("<http://ex/s2>", prop, "\"Beta\"", "")).toDF())
    val base = EngineContext(g, embedder = Fixture.ctx(spark).embedder)
    val subjects = QueryEngine.subjects(base,
      QueryOpts(filters = Seq(FilterQ(p = prop)))).get
    def labels(c: EngineContext): Map[Long, String] =
      Ordering.sortedSubjects(c, subjects,
        OrderRule(by = "property", prop = Some(prop)))._1
        .select("s", "sort_label").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val joined = labels(base)                       // literals-join path
    val mapped = labels(EngineContext.withDictBroadcast(base)) // decode-map path
    // the blank-node object must not become s1's (empty) sort label on
    // either path: both pick the real literal
    assert(joined(graft.functions.Hash64.hashString("<http://ex/s1>")) === "alpha")
    assert(mapped === joined)
  }

  test("natural sort puts 2 before 10") {
    val (sorted, cols) = Ordering.sortedSubjects(ctx,
      QueryEngine.subjects(ctx, QueryOpts(filters = Seq(FilterQ(p = a, o = "<http://ex/Film>")))).get,
      OrderRule(by = "label", natural = true))
    import graft.functions.Hash64
    val got = sorted.orderBy(cols: _*).collect().map(_.getLong(0)).toSeq
    val expect = Seq("<http://ex/ep1>", "<http://ex/ep2>", "<http://ex/ep10>").map(Hash64.hashString)
    assert(got === expect)
  }

  test("clean options are first-match-only, like the reference's DuckDB regexp_replace") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val labels = Seq("\"a  b  c\"", "say \"hi\" twice", "  x").toDF("v")
    val cleaned = labels.select(
      Ordering.cleanExpr(col("v"),
        CleanOpts(removeQuotes = true, collapseSpace = true,
          stripPunct = false, trim = false, lower = false), "raw").as("c"))
      .collect().map(_.getString(0)).toSeq
    // remove_quotes strips ONE quote (leading if present, else trailing);
    // collapse_space collapses only the FIRST whitespace run
    // (query.py:271-276 runs DuckDB regexp_replace without 'g')
    assert(cleaned(0) === "a b  c\"")
    assert(cleaned(1) === "say \"hi\" twice") // no leading/trailing quote: untouched
    assert(cleaned(2) === " x")
  }

  test("paths walk the broader hierarchy to the root") {
    val r = QueryEngine.query(ctx, QueryOpts(
      filters = Seq(FilterQ(p = "id", o = "<http://ex/mos_eisley>")),
      paths = Seq(broader)))
    val e = r.results("<http://ex/mos_eisley>")
    assert(e.paths(broader) === Seq("<http://ex/tatooine_desert>", "<http://ex/tatooine>"))
  }

  /** A context whose paths() cannot take the broadcast-arrays fast
    * path: a zero broadcast bound. */
  private def noArraysCtx = ctx.copy(maxBroadcastPathEdges = 0L)

  test("paths distributed-frontier fallback returns the same chains") {
    // force the fallback: no broadcast arrays (the broadcast walk
    // returns before maxDriverChains is consulted) and a zero
    // driver-chain cap so the first round goes distributed
    val r = QueryEngine.query(noArraysCtx.copy(maxDriverChains = 0), QueryOpts(
      filters = Seq(FilterQ(p = "id", o = "<http://ex/mos_eisley>")),
      paths = Seq(broader)))
    val e = r.results("<http://ex/mos_eisley>")
    assert(e.paths(broader) === Seq("<http://ex/tatooine_desert>", "<http://ex/tatooine>"))
  }

  test("a driver-tier paths walk past maxDriverChains is answered by the Spark tier") {
    val c = freshLocalCtx.copy(maxDriverChains = 0)
    val q = QueryOpts(
      filters = Seq(FilterQ(p = "id", o = "<http://ex/mos_eisley>")),
      paths = Seq(broader))
    assert(LocalStore.of(c).exists(_.query(c, q).isEmpty), "the driver tier hands it back")
    val e = QueryEngine.query(c, q).results("<http://ex/mos_eisley>")
    assert(e.paths(broader) === Seq("<http://ex/tatooine_desert>", "<http://ex/tatooine>"))
  }

  test("paths iteration cap drops/keeps the same chains on every walk") {
    val q = QueryOpts(
      filters = Seq(FilterQ(p = "id", o = "<http://ex/mos_eisley>")),
      paths = Seq(broader))
    // the fixture chain has exactly 2 edges (desert -> tatooine). At
    // maxPathIterations = 2 the walk appends 2 parents without the
    // join walk ever observing the root, so ALL THREE walks must drop
    // the chain; at 3 all three keep it. The broadcast walk could see
    // the root "for free" via its final binary search — that would
    // make results depend on store size, so it must not.
    def walks(iter: Int) = Seq(
      ctx.copy(maxPathIterations = iter), // broadcast arrays
      noArraysCtx.copy(maxPathIterations = iter), // driver join walk
      noArraysCtx.copy(maxPathIterations = iter, maxDriverChains = 0), // distributed
      freshLocalCtx.copy(maxPathIterations = iter)) // driver tier
    for (c <- walks(2)) {
      val e = QueryEngine.query(c, q).results("<http://ex/mos_eisley>")
      assert(e.paths.getOrElse(broader, Nil).isEmpty,
        "exactly-at-cap chain must be dropped by every walk")
    }
    for (c <- walks(3)) {
      val e = QueryEngine.query(c, q).results("<http://ex/mos_eisley>")
      assert(e.paths(broader) === Seq("<http://ex/tatooine_desert>", "<http://ex/tatooine>"))
    }
  }

  /** (keys, vals) gathered in the order that sorts `keys` — how paths()
    * sorts its parent arrays. */
  private def sortPaired(keys: Array[Long], vals: Array[Long]): (Array[Long], Array[Long]) = {
    val ix = LocalStore.order(keys)
    (ix.map(keys), ix.map(vals))
  }

  test("the index sort orders tandem primitive arrays like a tuple sort") {
    val rnd = new scala.util.Random(7)
    for (n <- Seq(0, 1, 2, 31, 32, 33, 1000)) {
      val keys0 = Array.fill(n)(rnd.nextLong() % 50) // duplicates likely
      val vals0 = Array.tabulate(n)(_.toLong)
      val expect = keys0.zip(vals0).sortBy(_._1)
      val (keys, vals) = sortPaired(keys0, vals0)
      assert(keys.toSeq === expect.map(_._1).toSeq)
      // values must travel with their keys; for duplicate keys any
      // permutation within the run is fine, so compare as grouped sets
      val got = keys.zip(vals).groupBy(_._1).map { case (k, a) => k -> a.map(_._2).toSet }
      val exp = expect.groupBy(_._1).map { case (k, a) => k -> a.map(_._2).toSet }
      assert(got === exp)
    }
    // pre-sorted input (the common case: the edge scan reads s-sorted
    // parquet) must not stack-overflow the quicksort
    val (sortedKeys, _) = sortPaired(Array.tabulate(200000)(_.toLong),
      Array.tabulate(200000)(i => (200000 - i).toLong))
    assert(sortedKeys(0) === 0L && sortedKeys(199999) === 199999L)
  }

  test("probe entries are keyed by the whole canonical plan, never by a hash of it") {
    import spark.implicits._
    val planA = Seq(1L).toDF("x").queryExecution.analyzed
    val planB = Seq(2L).toDF("x").queryExecution.analyzed
    assert(!planA.sameResult(planB))
    val c = ctx.copy()
    val first = c.cached(("collide:test", planA.canonicalized)) { "A" }
    assert(first === "A")
    // same tag, different plan: a different entry, never A's value
    val second = c.cached(("collide:test", planB.canonicalized)) { "B" }
    assert(second === "B", "a different plan must miss, not serve A")
    // the original entry still serves its own plan
    assert(c.cached(("collide:test", planA.canonicalized)) { "A2" } === "A")
  }

  test("spo lookup decodes with literal fallback") {
    val rows = QueryEngine.spo(ctx, s = Some("<http://ex/leia>"), p = Some(label))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq === Seq(("<http://ex/leia>", label, "\"Leia Organa\"")))
  }

  test("sp batch lookup") {
    val rows = QueryEngine.sp(ctx,
      Seq("<http://ex/luke>", "<http://ex/leia>"), Some(homeworld))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows === Set(
      "<http://ex/luke>" -> "<http://ex/tatooine>",
      "<http://ex/leia>" -> "<http://ex/alderaan>"))
  }

  test("CosineDistance expression matches the UDF on all edge shapes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),   // identical -> 0
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),   // orthogonal -> 1
      (Array(1.0f, 1.0f), Array(-1.0f, -1.0f)), // opposite -> 2
      (Array(0.0f, 0.0f), Array(1.0f, 1.0f)),   // zero vector -> null
      (Array(1.0f), Array(1.0f, 2.0f))          // length mismatch -> null
    ).toDF("a", "b")
    val both = df.select(
      graft.functions.CosineDistance(col("a"), col("b")).as("expr"),
      graft.semantic.Semantic.cosineDistanceUdf(col("a"), col("b")).as("udf"))
      .collect()
    both.foreach { r =>
      val e = if (r.isNullAt(0)) null else r.getDouble(0)
      val u = if (r.isNullAt(1)) null else r.getDouble(1)
      assert(e === u)
    }
    assert(math.abs(both(0).getDouble(0)) < 1e-12)
    assert(math.abs(both(2).getDouble(0) - 2.0) < 1e-12)
    assert(both(3).isNullAt(0) && both(4).isNullAt(0))
  }

  test("CosineSimilarity expression is bit-identical to the declarative HOF form") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // random-ish vectors, plus dimension-64 ones matching the gate data
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 20).map { _ =>
      (Array.fill(64)(rnd.nextFloat() * 2 - 1), Array.fill(64)(rnd.nextFloat() * 2 - 1))
    } :+ ((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
    val df = vecs.toDF("a", "b")
    def hofDot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    val rows = df.select(
      graft.functions.CosineSimilarity(col("a"), col("b")).as("expr"),
      (hofDot(col("a"), col("b")) / sqrt(hofDot(col("a"), col("a")))
        / sqrt(hofDot(col("b"), col("b")))).as("hof"))
      .collect()
    rows.foreach { r =>
      // BIT-identical, not approximately equal: the oracle rounds to 4 dp
      // and a last-ulp divergence could flip a boundary case
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("total and properties lookups") {
    assert(QueryEngine.total(ctx) === 11) // distinct subjects incl bnode
    val props = QueryEngine.properties(ctx).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(props(homeworld) === 3)
  }

  test("insert validates and appends; delete removes") {
    val g = ctx.graph
    val (g2, r1) = Mutations.insert(g, Seq(Quad("<http://ex/new>", label, "\"New Thing\"", "")))
    assert(r1.error.isEmpty && r1.triplesInserted === 1)
    assert(g2.triples.count() === g.triples.count() + 1)
    // duplicate refused
    val (_, r2) = Mutations.insert(g2, Seq(Quad("<http://ex/new>", label, "\"New Thing\"", "")))
    assert(r2.error.contains("Triple already exists, skipping insert"))
    // invalid predicate refused
    val (_, r3) = Mutations.insert(g, Seq(Quad("<http://ex/new>", "notiri", "\"x\"", "")))
    assert(r3.error.contains("Predicate must be an IRI"))
    // delete with o wildcard
    val (g3, r4) = Mutations.delete(g2, Seq(("<http://ex/new>", label, None, "")))
    assert(r4.error.isEmpty)
    assert(g3.triples.count() === g.triples.count())
    // delete nonexistent refused
    val (_, r5) = Mutations.delete(g3, Seq(("<http://ex/nope>", label, None, "")))
    assert(r5.error.contains("Triple does not exist, skipping delete"))
  }

  test("plan caches the built frame; a retired context keeps nothing") {
    val c = ctx.copy()
    var builds = 0
    def build() = { builds += 1
      QueryEngine.subjects(c, QueryOpts(filters = Seq(FilterQ(p = label)))).get }
    val first = c.plan("spec-key")(build())
    val again = c.plan("spec-key")(build())
    assert(builds === 1, "second call must reuse the cached plan")
    assert(again eq first, "cached plan must be the same frame object")
    // results are live executions of the cached plan, not cached rows
    val rows = first.count()
    assert(rows === build().count())
    // a retiring mutation releases the plan: later calls still get a
    // frame, built for each call and never kept
    c.retire()
    val rebuilt = c.plan("spec-key")(build())
    assert(!(rebuilt eq first), "a retired context must not serve its old plan")
    assert(rebuilt.count() === rows)
    val again2 = c.plan("spec-key")(build())
    assert(!(again2 eq rebuilt), "a retired context must not keep a new plan")
    assert(builds === 4)
  }

  test("only_properties / exclude_properties restrict hydration") {
    val base = QueryOpts(filters = Seq(FilterQ(p = "id", o = "<http://ex/luke>")))
    val only = QueryEngine.query(ctx, base.copy(onlyProperties = Seq(label)))
    assert(only.results("<http://ex/luke>").props.keySet === Set(label))
    val excl = QueryEngine.query(ctx, base.copy(excludeProperties = Seq(label)))
    val keys = excl.results("<http://ex/luke>").props.keySet
    assert(!keys.contains(label) && keys.contains(a))
  }

  test("graphs aggregate counts triples per named graph") {
    val r = QueryEngine.query(ctx, QueryOpts(
      filters = Seq(FilterQ(p = "id", o = "<http://ex/vader>")),
      aggregates = Seq("graphs"), size = 0))
    val m = r.aggregates("graphs").map { case (c, v) => (v, c) }.toMap
    assert(m("<http://ex/graph1>") === 3) // vader's three triples
  }

  test("graphs aggregate silently drops default-graph triples (reference quirk)") {
    // luke's triples live in the default graph '' — the reference's
    // read_csv turns '' into NULL so it never reaches iris, and the
    // facet's inner decode join drops the row (main.py:199-204)
    val r = QueryEngine.query(ctx, QueryOpts(
      filters = Seq(FilterQ(p = "id", o = "<http://ex/luke>")),
      aggregates = Seq("graphs"), size = 0))
    assert(r.aggregates("graphs").isEmpty)
    // and '' is not decodable at all
    assert(ctx.graph.iris.filter(
      org.apache.spark.sql.functions.col("value") === "").count() === 0)
  }

  test("envelope preserves page order for more than 4 entities") {
    // >4 entries is where an unordered HashMap would visibly shuffle
    val r = QueryEngine.query(ctx, QueryOpts(
      filters = Seq(FilterQ(p = label)), size = 999))
    assert(r.results.size > 4)
    val ids = r.results.keys.toSeq
    // default page order is ORDER BY s on the HASH column (signed long)
    val expected = ids.sortBy(graft.functions.Hash64.hashString)
    assert(ids === expected, "results must iterate in page (pos) order")
    // toJson emits the same order
    val json = r.toJson
    val positions = ids.map(id => json.indexOf("\"" + id + "\":{"))
    assert(positions.forall(_ >= 0))
    assert(positions === positions.sorted, "JSON envelope must follow page order")
  }

  test("static regex prefix extraction is conservative") {
    import graft.algebra.FilterCompiler.staticRegexPrefix
    assert(staticRegexPrefix("\"NATION_1.\"") === "\"NATION_1")
    assert(staticRegexPrefix("\"red .*\"") === "\"red ")
    assert(staticRegexPrefix("a+b") === "a")      // + keeps 'a' mandatory
    assert(staticRegexPrefix("ab?c") === "a")     // ? makes 'b' optional
    assert(staticRegexPrefix("ab{0,2}c") === "a") // {..} may make 'b' optional
    assert(staticRegexPrefix("(red|blue)") === "")
    assert(staticRegexPrefix("abc|def") === "")   // top-level alternation
    assert(staticRegexPrefix("ab(c)|d") === "")   // later top-level |
    assert(staticRegexPrefix("ab(c|d)e") === "ab") // nested | is fine
    assert(staticRegexPrefix("\\d+x") === "")     // escape ends prefix
  }

  test("regex filter with alternation still matches both branches") {
    val got = subjectsOf(QueryOpts(filters = Seq(
      FilterQ(p = "regex", o = "\"Luke Skywalker\"|\"Leia Organa\""))))
    assert(got === Set("<http://ex/luke>", "<http://ex/leia>"))
  }

  test("order desc with nulls first") {
    val sres = QueryEngine.subjects(ctx,
      QueryOpts(filters = Seq(FilterQ(p = a, o = human)))).get
    val (sorted, cols) = Ordering.sortedSubjects(ctx, sres,
      OrderRule(by = "property", prop = Some(homeworld),
        dir = "desc", nulls = "first"))
    // homeworld objects are IRIs (not literals) => every sort_label null?
    // No: property sort joins literals, so all three humans have no
    // literal homeworld label -> all null, nulls-first keeps the set
    val got = sorted.orderBy(cols: _*).collect()
    assert(got.length === 3 && got.forall(_.isNullAt(1)))
    // label-based desc ordering with a real label
    val (s2, c2) = Ordering.sortedSubjects(ctx, sres,
      OrderRule(by = "label", dir = "desc"))
    val names = s2.orderBy(c2: _*).collect().map(r => Option(r.getString(1)))
    assert(names.flatten.toSeq === names.flatten.toSeq.sorted.reverse)
  }

  test("queryJson end-to-end envelope shape") {
    val json = QueryEngine.queryJson(ctx,
      s"""{"filters":[{"p":"$a","o":"$jedi"}],"size":10}""")
    assert(json.contains("\"total\":2"))
    assert(json.contains("\"id\":\"<http://ex/luke>\""))
    assert(json.contains("\"graph\":[]"))
  }

  test("the index sort: adversarial key distributions stay correct (and shallow)") {
    def check(keys0: Array[Long], vals0: Array[Long]): Unit = {
      val pairs = keys0.zip(vals0).sorted.toSeq
      val (keys, vals) = sortPaired(keys0, vals0)
      // keys ascending and the (key, val) pairing preserved as a multiset
      var i = 1
      while (i < keys.length) { assert(keys(i - 1) <= keys(i)); i += 1 }
      assert(keys.zip(vals).sortBy(p => (p._1, p._2)).toSeq ===
        pairs.sortBy(p => (p._1, p._2)))
    }
    val n = 1 << 17
    // all-equal keys: the distribution that used to drive naive quicksort
    // recursion to O(n) depth (round-7 stack-bound fix)
    check(Array.fill(n)(42L), Array.tabulate(n)(_.toLong))
    // pre-sorted, reverse-sorted, organ-pipe, two-valued, seeded random
    check(Array.tabulate(n)(_.toLong), Array.tabulate(n)(i => (n - i).toLong))
    check(Array.tabulate(n)(i => (n - i).toLong), Array.tabulate(n)(_.toLong))
    check(Array.tabulate(n)(i => math.min(i, n - i).toLong), Array.tabulate(n)(_.toLong))
    check(Array.tabulate(n)(i => (i % 2).toLong), Array.tabulate(n)(_.toLong))
    val rnd = new scala.util.Random(7)
    check(Array.fill(n)(rnd.nextLong()), Array.tabulate(n)(_.toLong))
    check(Array.empty[Long], Array.empty[Long])
    check(Array(5L), Array(9L))
  }

  test("chainLawStats: empty chain yields zeros instead of an NPE") {
    import spark.implicits._
    val sem = Seq((1L, 1), (2L, 1)).toDF("s", "__m")
    val empty = Seq.empty[(Long, Double)].toDF("s", "score")
    assert(RdfQueries.chainLawStats(empty, sem) === ((0L, 0.0, 0L, 0L)))
    assert(RdfQueries.chainLawStats(empty, sem, Seq(1L)) === ((0L, 0.0, 0L, 0L)))
    // nonempty: min score surfaces, non-members and page containment counted
    val folded = Seq((1L, 3.5), (9L, 2.5)).toDF("s", "score")
    assert(RdfQueries.chainLawStats(folded, sem) === ((2L, 2.5, 1L, 0L)))
    assert(RdfQueries.chainLawStats(folded, sem, Seq(1L, 2L)) === ((2L, 2.5, 1L, 1L)))
    assert(RdfQueries.chainLawStats(folded, sem, Seq(1L, 9L)) === ((2L, 2.5, 1L, 2L)))
  }
}
