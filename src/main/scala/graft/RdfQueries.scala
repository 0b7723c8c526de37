package graft

import graft.algebra._
import graft.ingest.Quad
import graft.rdfize.{OracleSql, Rdfize}
import graft.store.Mutations
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** RDF-engine operator demos for the driver gate (SURVEY §2.2-§2.11).
  * Each query RDF-izes the scale-factor tables (cached per sfDir), runs
  * the graft engine operator, decodes hashes back to strings at the edge,
  * and is checked against DuckDB SQL computing the same answer directly
  * from the base tables — an end-to-end differential test of hashing,
  * the filter algebra, set ops, ordering, pagination, hydration, facets,
  * paths, and mutations.
  */
object RdfQueries {
  import Rdfize.{LabelIri, ParentIri, predIri, graphIri}
  import OracleSql.subj

  private def rctx(s: SparkSession, dir: String) = Rdfize.ctx(s, dir)

  /** Decode a subject-hash set to sorted IRI strings.
    *
    * The sort is presentational (gate determinism), so it runs as a
    * single-partition local sort: `coalesce(1)` makes the child
    * SinglePartition, which satisfies the sort's OrderedDistribution —
    * no RangePartitioning exchange, and crucially no range-bound
    * sampling JOB, which would execute the upstream query plan a second
    * time (gate result sets are bounded; the engine's own serving path
    * pages through [[QueryEngine.wantedPage]] instead). */
  private def decodeS(ctx: EngineContext, df: DataFrame): DataFrame =
    QueryEngine.decoded(ctx, df.select(col("s").as("sh")), "sh", "s", inner = true)
      .select("s").coalesce(1).orderBy("s")

  /** Decode the (s, pos) page keeping order (≤ size rows — same
    * single-partition sort rationale as [[decodeS]]). */
  private def decodePage(ctx: EngineContext, wanted: DataFrame): DataFrame =
    QueryEngine.decoded(ctx, wanted, "s", "sval", inner = true)
      .select(col("sval").as("s"), col("pos")).coalesce(1).orderBy("pos")

  private def subjects(ctx: EngineContext, filters: FilterQ*): DataFrame =
    QueryEngine.subjects(ctx, QueryOpts(filters = filters)).get

  /** Non-deduped subject set for the facet semi-join (same rows out of
    * the facet either way; skips the distinct exchange). */
  private def subjectsRaw(ctx: EngineContext, filters: FilterQ*): DataFrame =
    QueryEngine.subjectsRaw(ctx, QueryOpts(filters = filters)).get

  /** Semantic-contract law stats over a folded (s, score) chain joined
    * against the membership frame `sem` (s, __m): (chain size, min score,
    * non-member count, how many of `pageHashes` appear in the chain) in
    * ONE job. Over an EMPTY chain the min/sum aggregates come back NULL
    * and `Row.getLong`/`getDouble` would NPE — the guards turn that case
    * into (0, 0.0, 0, 0), which reds the `nonempty` law row instead of
    * crashing the gate. */
  private[graft] def chainLawStats(folded: DataFrame, sem: DataFrame,
      pageHashes: Seq[Long] = Nil): (Long, Double, Long, Long) = {
    val inPage =
      if (pageHashes.isEmpty) lit(false) else col("s").isin(pageHashes: _*)
    val a = folded.join(sem, Seq("s"), "left")
      .agg(count(lit(1)).as("n"), min("score").as("m"),
        sum(when(col("__m").isNull, 1L).otherwise(0L)).as("miss"),
        sum(when(inPage, 1L).otherwise(0L)).as("inpage")).collect()(0)
    val n = a.getLong(0)
    val minScore = if (a.isNullAt(1)) 0.0 else a.getDouble(1)
    val nonMembers = if (a.isNullAt(2)) 0L else a.getLong(2)
    val pageInChain = if (a.isNullAt(3)) 0L else a.getLong(3)
    (n, minScore, nonMembers, pageInChain)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §2.2 p+o property filter
    "q_rdf_filter_po" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      ctx.servingPlan("q_rdf_filter_po") {
      decodeS(ctx, subjects(ctx, FilterQ(p = predIri("customer", "c_mktsegment"), o = "\"BUILDING\""))) }
    }),

    // §2.2 p-only filter (any value)
    "q_rdf_filter_p" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      ctx.servingPlan("q_rdf_filter_p") {
        decodeS(ctx, subjects(ctx, FilterQ(p = ParentIri))) }
    }),

    // §2.2 reverse reference (o-only)
    "q_rdf_filter_o" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      ctx.servingPlan("q_rdf_filter_o") {
      decodeS(ctx, subjects(ctx, FilterQ(o = "<urn:t:nation:7>"))) }
    }),

    // §2.2 id point lookup + §2.3 hydration join + decode
    "q_rdf_filter_id" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      ctx.servingPlan("q_rdf_filter_id") {
      val opts = QueryOpts(filters = Seq(FilterQ(p = "id", o = "<urn:t:region:1>")))
      val wanted = QueryEngine.wantedPage(ctx, opts,
        QueryEngine.subjects(ctx, opts).get, None)
      QueryEngine.hydrateDecoded(ctx, opts, wanted)
        .select("s", "p", "o", "g").orderBy("p", "o") }
    }),

    // multi-point id lookup: a space-separated IRI list is an s-IN over
    // the per-IRI hashes (the reference's `s{oo}`, query.py:33-44 with
    // the shared oo fragment of query.py:134-144)
    "q_rdf_multi_id" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      ctx.servingPlan("q_rdf_multi_id") {
      decodeS(ctx, subjects(ctx,
        FilterQ(p = "id", o = "<urn:t:region:1> <urn:t:region:3>"))) }
    }),

    // §2.7 INTERSECT
    "q_rdf_and" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      ctx.servingPlan("q_rdf_and") { decodeS(ctx, subjects(ctx,
        FilterQ(p = predIri("customer", "c_mktsegment"), o = "\"BUILDING\""),
        FilterQ(p = ParentIri, o = "<urn:t:nation:7>", op = "and"))) }
    }),

    // §2.7 UNION
    "q_rdf_or" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      ctx.servingPlan("q_rdf_or") {
      decodeS(ctx, subjects(ctx,
        FilterQ(p = predIri("customer", "c_mktsegment"), o = "\"BUILDING\""),
        FilterQ(p = predIri("customer", "c_mktsegment"), o = "\"AUTOMOBILE\"", op = "or"))) }
    }),

    // §2.7 EXCEPT applied last even when listed mid-chain
    // (a FIRST-position `not` would seed the chain instead —
    // reference quirk at query.py:656-657, covered in EngineSpec)
    "q_rdf_not" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      ctx.servingPlan("q_rdf_not") {
      decodeS(ctx, subjects(ctx,
        FilterQ(p = ParentIri, o = "<urn:t:nation:7>"),
        FilterQ(p = predIri("customer", "c_mktsegment"), o = "\"BUILDING\"", op = "not"),
        FilterQ(p = ParentIri, o = "<urn:t:nation:3>", op = "or"))) }
    }),

    // §2.2 multi-IRI o => IN
    "q_rdf_multi_o" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      ctx.servingPlan("q_rdf_multi_o") {
      decodeS(ctx, subjects(ctx,
        FilterQ(p = ParentIri, o = "<urn:t:nation:3> <urn:t:nation:7>"))) }
    }),

    // §2.3 n-hop ancestor walk on a plain property filter:
    // nations of region 2, one hop up => everything referencing them
    "q_rdf_hop" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      decodeS(ctx, subjects(ctx,
        FilterQ(p = s"${predIri("nation", "n_regionkey")} 1", o = "<urn:t:region:2>")))
    }),

    // §2.2 named-graph restriction
    "q_rdf_graph" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      ctx.servingPlan("q_rdf_graph") {
      decodeS(ctx, subjects(ctx,
        FilterQ(p = LabelIri, g = graphIri("nation")))) }
    }),

    // §2.2 multi-graph restriction (space-separated graph IN-list)
    "q_rdf_multi_graph" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      ctx.servingPlan("q_rdf_multi_graph") {
      decodeS(ctx, subjects(ctx,
        FilterQ(p = LabelIri, g = s"${graphIri("nation")} ${graphIri("region")}"))) }
    }),

    // §2.2 regex filter — SIMILAR TO (full-string) semantics
    "q_rdf_regex" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      decodeS(ctx, subjects(ctx, FilterQ(p = "regex", o = "\"NATION_1.\"")))
    }),

    // §2.2 regex restricted to one property
    "q_rdf_regex_prop" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      decodeS(ctx, subjects(ctx,
        FilterQ(p = s"regex ${predIri("part", "p_name")}", o = "\"red .*\"")))
    }),

    // §2.4 BM25 conjunctive match set
    "q_rdf_fts" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      decodeS(ctx, subjects(ctx, FilterQ(p = "fts", o = "machinery")))
    }),

    // §2.4 fts with 1-hop ancestor walk
    "q_rdf_fts_hop" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      decodeS(ctx, subjects(ctx, FilterQ(p = "fts 1", o = "nation 3")))
    }),

    // §2.4 fts restricted to one literal property (`fts <prop>`)
    "q_rdf_fts_prop" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      decodeS(ctx, subjects(ctx,
        FilterQ(p = s"fts ${predIri("part", "p_name")}", o = "red widget")))
    }),

    // §3.1 stage 8: only_properties-restricted hydration
    "q_rdf_only_props" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      ctx.servingPlan("q_rdf_only_props") {
      val opts = QueryOpts(
        filters = Seq(FilterQ(p = "id", o = "<urn:t:nation:3>")),
        onlyProperties = Seq(LabelIri))
      val wanted = QueryEngine.wantedPage(ctx, opts,
        QueryEngine.subjects(ctx, opts).get, None)
      QueryEngine.hydrateDecoded(ctx, opts, wanted)
        .select("s", "p", "o").orderBy("p", "o") }
    }),

    // §3.1 stage 8: exclude_properties-restricted hydration
    "q_rdf_exclude_props" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      ctx.servingPlan("q_rdf_exclude_props") {
      val opts = QueryOpts(
        filters = Seq(FilterQ(p = "id", o = "<urn:t:region:1>")),
        excludeProperties = Seq(LabelIri))
      val wanted = QueryEngine.wantedPage(ctx, opts,
        QueryEngine.subjects(ctx, opts).get, None)
      QueryEngine.hydrateDecoded(ctx, opts, wanted)
        .select("s", "p", "o").orderBy("p", "o") }
    }),

    // §2.5 graphs facet over a filtered set
    "q_rdf_facet_graphs" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      ctx.servingPlan("q_rdf_facet_graphs") {
      val sres = subjectsRaw(ctx, FilterQ(p = predIri("nation", "n_name")))
      QueryEngine.facet(ctx, "graphs", sres).orderBy("val") }
    }),

    // §2.8 order by label with pos
    "q_rdf_order_label" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      ctx.servingPlan("q_rdf_order_label") {
      val opts = QueryOpts(
        filters = Seq(FilterQ(p = predIri("nation", "n_name"))),
        order = Seq(OrderRule(by = "label")))
      val wanted = QueryEngine.wantedPage(ctx, opts,
        QueryEngine.subjects(ctx, opts).get, None)
      decodePage(ctx, wanted) }
    }),

    // §2.8 order by arbitrary property
    "q_rdf_order_property" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      ctx.servingPlan("q_rdf_order_property") {
      // restrict to customers (suppliers share the parent edge but have
      // no c_name => null labels in hash tie-break order, oracle-hostile)
      val opts = QueryOpts(
        filters = Seq(
          FilterQ(p = ParentIri, o = "<urn:t:nation:5>"),
          FilterQ(p = predIri("customer", "c_mktsegment"), op = "and")),
        order = Seq(OrderRule(by = "property", prop = Some(predIri("customer", "c_name")))))
      val wanted = QueryEngine.wantedPage(ctx, opts,
        QueryEngine.subjects(ctx, opts).get, None)
      decodePage(ctx, wanted) }
    }),

    // §2.8 natural sort + pagination (offset crosses numeric prefixes)
    "q_rdf_order_natural" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      ctx.servingPlan("q_rdf_order_natural") {
      val opts = QueryOpts(
        filters = Seq(FilterQ(p = predIri("orders", "o_orderstatus"), o = "\"P\"")),
        order = Seq(OrderRule(by = "label", natural = true)),
        size = 10, start = 5)
      val wanted = QueryEngine.wantedPage(ctx, opts,
        QueryEngine.subjects(ctx, opts).get, None)
      decodePage(ctx, wanted) }
    }),

    // §2.8 order by label of referenced object (set check; pos ties break
    // on the hash, which the oracle cannot reproduce)
    "q_rdf_order_object_label" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      ctx.servingPlan("q_rdf_order_object_label") {
      val sres = subjects(ctx, FilterQ(p = predIri("supplier", "s_nationkey")))
      val (sorted, _) = Ordering.sortedSubjects(ctx, sres,
        OrderRule(by = "object_label", via = Some(ParentIri)))
      QueryEngine.decoded(ctx, sorted, "s", "sval", inner = true)
        .select(col("sval").as("s"), col("sort_label")).orderBy("s") }
    }),

    // §2.5 facet by property over the filtered set
    "q_rdf_facet" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      ctx.servingPlan("q_rdf_facet") {
      // subjects = customers + suppliers of nation 3; suppliers have no
      // mktsegment triples so they contribute nothing to the facet
      val sres = subjectsRaw(ctx, FilterQ(p = ParentIri, o = "<urn:t:nation:3>"))
      QueryEngine.facet(ctx, predIri("customer", "c_mktsegment"), sres)
        .orderBy(col("count").desc, col("val")) }
    }),

    // §2.5 properties facet over the filtered set
    "q_rdf_facet_properties" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      ctx.servingPlan("q_rdf_facet_properties") {
      val sres = subjectsRaw(ctx, FilterQ(p = predIri("nation", "n_name")))
      QueryEngine.facet(ctx, "properties", sres).orderBy("val") }
    }),

    // §2.5 whole-DB properties() lookup
    "q_rdf_agg_properties" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      ctx.servingPlan("q_rdf_agg_properties") {
      QueryEngine.properties(ctx)
        .select(col("value"), col("count")).orderBy("value") }
    }),

    // §2.5 total() = count(distinct s)
    "q_rdf_total" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      import s.implicits._
      Seq(QueryEngine.total(ctx)).toDF("total")
    }),

    // §2.5 count_by_property
    "q_rdf_count_by_property" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      ctx.servingPlan("q_rdf_count_by_property") {
      QueryEngine.countByProperty(ctx, ParentIri)
        .select(col("value"), col("count")).orderBy("value") }
    }),

    // §2.13 spo lookup with literal-fallback decode
    "q_rdf_spo" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      ctx.servingPlan("q_rdf_spo") {
      QueryEngine.spo(ctx, p = Some(LabelIri), o = Some("\"NATION_3\""))
        .orderBy("s") }
    }),

    // §2.13 sp batch lookup: all (s, o) rows of the given subjects
    // under one predicate (reference query.py:38-57)
    "q_rdf_sp" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      ctx.servingPlan("q_rdf_sp") {
      QueryEngine.sp(ctx,
          Seq("<urn:t:nation:1>", "<urn:t:nation:3>", "<urn:t:region:0>"),
          Some(LabelIri))
        .orderBy("s", "o") }
    }),

    // §2.11 recursive paths to the hierarchy root
    "q_rdf_paths" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      ctx.servingPlan("q_rdf_paths") {
      // explicit unpaged size: the oracle has no LIMIT, so relying on
      // the default 999-row page would truncate the engine side (and
      // red the gate) at scale factors where the set outgrows a page
      val opts = QueryOpts(filters = Seq(FilterQ(p = ParentIri, o = "<urn:t:nation:3>")),
        size = 1000000)
      // unpaged ⇒ the page IS the whole subject set: walk it directly,
      // like the oracle's recursive CTE does — wantedPage's sort +
      // pos window would order a column paths() never reads (the paged
      // paths-for-page contract is exercised by EngineSpec)
      val p = QueryEngine.paths(ctx, ParentIri,
        QueryEngine.subjects(ctx, opts).get)
      // decode: '/'-joined ancestor IRIs, self excluded (reference
      // excludes val == entity from _paths, query.py:864)
      val exploded = QueryEngine.decoded(ctx,
          p.select(col("source"), posexplode(col("path")))
            .filter(col("col") =!= col("source")),
          "col", "value", inner = true)
        .groupBy("source")
        .agg(concat_ws("/", transform(
          array_sort(collect_list(struct(col("pos"), col("value")))),
          x => x.getField("value"))).as("path"))
      QueryEngine.decoded(ctx, exploded, "source", "sval", inner = true)
        .select(col("sval").as("s"), col("path")).orderBy("s") }
    }),

    // §2.1 delete — triple count drops by one. The gate uses the
    // reference's o-WILDCARD shape (query.py:468-526: delete every
    // object of (s,p,g) — region 1 carries exactly one label, so the
    // count still drops by exactly 1): the exact key needs the label's
    // text, and fetching it is a whole extra Spark job per mutation
    // just to re-state data the store already has. The exact (s,p,o,g)
    // shape + `are_hashes` stay pinned in WarehouseSpec (exact delete →
    // re-insert under sequenced tombstones); the validation probe below
    // folds both shapes into the same single job either way.
    "q_rdf_delete" -> ((s, dir) => {
      import s.implicits._
      val ctx = rctx(s, dir)
      val (g2, res) = Mutations.delete(ctx.graph,
        Seq(("<urn:t:region:1>", LabelIri, None, graphIri("region"))))
      assert(res.error.isEmpty, res.error)
      Seq(g2.triples.count()).toDF("cnt")
    }),

    // §2.1 validated insert — triple count grows by one
    "q_rdf_insert" -> ((s, dir) => {
      import s.implicits._
      val ctx = rctx(s, dir)
      val (g2, res) = Mutations.insert(ctx.graph,
        Seq(Quad("<urn:t:region:99>", LabelIri, "\"NEWLAND\"", graphIri("region"))))
      assert(res.error.isEmpty, res.error)
      Seq(g2.triples.count()).toDF("cnt")
    }),

    // §2.2 random sample — nondeterministic vs the oracle => rows-only
    "q_rdf_sample" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      decodeS(ctx, subjects(ctx, FilterQ(p = "id", o = "random 50")))
    }),

    // the sample CONTRACT as a hash-green gate (the ANN-recall-gate
    // treatment, SURVEY §7.3): which rows get sampled is engine-specific,
    // but the laws are not — at most N subjects, every one a live
    // subject of the composed store (membership via semi-join), no
    // duplicates, and non-empty on a non-empty store. The oracle states
    // the laws as constants; the Spark side EARNS them against the data.
    "q_rdf_sample_contract" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      // the sample is ≤ N rows BY THE OPERATOR'S OWN CAP, so collecting
      // it is bounded at any store size; cap + distinctness check on the
      // driver, membership as ONE s-IN pruned scan (never a join or a
      // corpus-side broadcast)
      val ids = subjects(ctx, FilterQ(p = "id", o = "random 50"))
        .collect().map(_.getLong(0)).toIndexedSeq
      val n = ids.length.toLong
      val nDistinct = ids.distinct.length.toLong
      val nMembers = ctx.graph.triples.filter(col("s").isin(ids: _*))
        .select("s").distinct().count()
      import s.implicits._
      Seq((n <= 50L, nMembers == n, nDistinct == n, n > 0L))
        .toDF("sampled_le_cap", "all_members", "all_distinct", "nonempty")
    }),

    // §2.2 semantic filter — engine-specific scores => rows-only
    "q_rdf_semantic" -> ((s, dir) => {
      val ctx = Rdfize.semantic(s, dir)
      val r = QueryEngine.query(ctx, QueryOpts(
        filters = Seq(FilterQ(p = "semantic", o = "NATION_3 NATION_3")), size = 10))
      import s.implicits._
      r.results.keys.toSeq.sorted.toDF("s")
    }),

    // §2.4 fts scores — BM25 score VALUES are engine-specific (pinned in
    // FtsSpec), but the conjunctive MATCH SET is oracle-exact: in the
    // testdata the only literals containing both tokens are the
    // p_name = 'red widget' rows (token vocabulary is closed words, no
    // stem collisions), so the decoded subject set hash-checks against
    // DuckDB directly — the scored chain's membership is the oracle'd
    // surface, its scores are the spec'd one.
    "q_rdf_fts_score" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      val scored = QueryEngine.scoreChain(ctx, QueryOpts(
        filters = Seq(FilterQ(p = "fts", o = "red widget")))).get
      decodeS(ctx, scored.select("s"))
    }),

    // hash-green contract twin for q_rdf_semantic (scores are
    // engine-specific — the embedder is a vendor seam): the laws the
    // reference's semantic filter guarantees (query.py:166-170), ALL
    // folded into ONE declarative frame — no envelope run, no driver
    // collect, a single action (the facet gates' one-action treatment).
    // thresh_ok: score = 1/d with cosine distance < 0.5 ⇒ every score
    // > 2. members_ok: every match is in the semantic doc table the
    // match is defined over (`hash` IS the subject hash and the index
    // only holds store subjects, so sem-membership implies
    // store-membership). page_ok: the ENVELOPE PAGING CODE
    // (wantedPage → score order, offset, limit, pos window) replayed
    // over the chain yields exactly min(10, n) rows, all of them chain
    // members — the paging path and the fold path are different code,
    // so an order/limit/window bug goes RED.
    "q_rdf_semantic_contract" -> ((s, dir) => {
      val ctx = Rdfize.semantic(s, dir)
      val opts = QueryOpts(
        filters = Seq(FilterQ(p = "semantic", o = "NATION_3 NATION_3")), size = 10)
      // the fold feeds the law aggregate AND the page — shared as ONE
      // eagerly-checkpointed frame per sfDir (an [[Artifacts]] entry,
      // released by Artifacts.clear) so the ANN subtree never
      // re-evaluates per law and no per-call persist can leak a cached
      // plan into the session (the round-10 shape did exactly that)
      val folded = Artifacts("semanticFold", dir) {
        QueryEngine.scoreChain(ctx, opts).get
          .groupBy("s").agg(max("score").as("score"))
          .localCheckpoint(true)
      }
      val pageDf = QueryEngine.wantedPage(ctx, opts,
        folded.select("s"), Some(folded))
      val sem = ctx.semantic.get.select(col("hash").as("s"), lit(1).as("__m"))
      val laws = folded.join(sem, Seq("s"), "left")
        .agg(count(lit(1)).as("n"), min("score").as("m"),
          sum(when(col("__m").isNull, 1L).otherwise(0L)).as("miss"))
      val pageAgg = pageDf
        .join(folded.select(col("s"), lit(1).as("__c")), Seq("s"), "left")
        .agg(count(lit(1)).as("psize"),
          sum(when(col("__c").isNull, 0L).otherwise(1L)).as("pin"))
      laws.crossJoin(pageAgg).select(
        (col("n") > 0L).as("nonempty"),
        coalesce(col("m") > 2.0, lit(false)).as("thresh_ok"),
        (coalesce(col("miss"), lit(0L)) === 0L).as("members_ok"),
        (col("psize") === least(lit(10L), col("n")) &&
          coalesce(col("pin"), lit(0L)) === col("psize")).as("page_ok"))
    }),

    // the reference's flagship analytical query (wikidata.md:45-67):
    // entities sharing >k (p,o) pairs with a seed entity, ranked
    "q_rdf_flagship" -> ((s, dir) => {
      val ctx = rctx(s, dir)
      ctx.servingPlan("q_rdf_flagship") {
      val seedHash = FilterCompiler.h("<urn:t:customer:1>")
      val seedPairs = ctx.graph.triples.filter(col("s") === seedHash)
        .select(col("p").as("sp"), col("o").as("so")).distinct()
      val shared = ctx.graph.triples
        .join(broadcast(seedPairs), col("p") === col("sp") && col("o") === col("so"))
        .filter(col("s") =!= seedHash)
        .groupBy("s").agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 3)
      // decode through the session's broadcast map when it exists: the
      // iris join alternative makes Catalyst broadcast the corpus-sized
      // dictionary side (~45 MB at sf0.1, evicted again every run — the
      // bench's evicted_bytes field caught exactly this churn) and pays
      // a broadcast-build job. All subjects are in the dictionary by
      // construction, so the isNotNull filter replicates the join's
      // inner semantics.
      ctx.decodeExpr(col("s")) match {
        case Some(d) =>
          shared.select(d.as("s"), col("shared"))
            .filter(col("s").isNotNull)
            .orderBy(col("shared").desc, col("s"))
        case None =>
          shared.join(ctx.graph.iris, shared("s") === col("hash"))
            .select(col("value").as("s"), col("shared"))
            .orderBy(col("shared").desc, col("s"))
      } }
    }),
  )

  // ---------------------------------------------------------------- oracles

  private val custS = subj("customer", "c_custkey")
  private val suppS = subj("supplier", "s_suppkey")
  private val natS = subj("nation", "n_nationkey")

  val oracle: Map[String, String] = Map(
    // the sample laws (≤cap, membership, distinct, nonempty) as
    // constants — the Spark side computes each against the actual drawn
    // sample and the composed store, so a violated law goes hash-RED
    "q_rdf_sample_contract" ->
      ("SELECT TRUE AS sampled_le_cap, TRUE AS all_members, " +
        "TRUE AS all_distinct, TRUE AS nonempty"),
    // conjunctive-match membership of the scored fts chain: only the
    // exact 'red widget' parts carry both tokens in the testdata
    "q_rdf_fts_score" ->
      s"SELECT ${subj("part", "p_partkey")} AS s FROM part WHERE p_name = 'red widget' ORDER BY s",
    // the semantic laws as constants — the Spark side computes each
    // against the actual match chain, envelope page, and store
    "q_rdf_semantic_contract" ->
      ("SELECT TRUE AS nonempty, TRUE AS thresh_ok, " +
        "TRUE AS members_ok, TRUE AS page_ok"),
    "q_rdf_filter_po" ->
      s"SELECT $custS AS s FROM customer WHERE c_mktsegment='BUILDING' ORDER BY s",
    "q_rdf_filter_p" ->
      s"""SELECT s FROM (
         |  SELECT $custS AS s FROM customer
         |  UNION SELECT $suppS FROM supplier
         |  UNION SELECT $natS FROM nation) ORDER BY s""".stripMargin,
    "q_rdf_filter_o" ->
      s"""SELECT s FROM (
         |  SELECT $custS AS s FROM customer WHERE c_nationkey=7
         |  UNION SELECT $suppS FROM supplier WHERE s_nationkey=7) ORDER BY s""".stripMargin,
    "q_rdf_filter_id" ->
      s"""SELECT * FROM (
         |  SELECT '<urn:t:region:1>' AS s, '${predIri("region", "r_name")}' AS p,
         |         '"' || r_name || '"' AS o, '${graphIri("region")}' AS g
         |  FROM region WHERE r_regionkey=1
         |  UNION ALL
         |  SELECT '<urn:t:region:1>', '$LabelIri', '"' || r_name || '"',
         |         '${graphIri("region")}'
         |  FROM region WHERE r_regionkey=1) ORDER BY p, o""".stripMargin,
    "q_rdf_multi_id" ->
      """SELECT s FROM (
        |  SELECT '<urn:t:region:1>' AS s UNION ALL SELECT '<urn:t:region:3>')
        |ORDER BY s""".stripMargin,
    "q_rdf_and" ->
      s"""SELECT $custS AS s FROM customer
         |WHERE c_mktsegment='BUILDING' AND c_nationkey=7 ORDER BY s""".stripMargin,
    "q_rdf_or" ->
      s"""SELECT $custS AS s FROM customer
         |WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE') ORDER BY s""".stripMargin,
    "q_rdf_not" ->
      s"""SELECT s FROM (
         |  SELECT $custS AS s FROM customer
         |  WHERE c_nationkey IN (3,7) AND c_mktsegment<>'BUILDING'
         |  UNION SELECT $suppS FROM supplier WHERE s_nationkey IN (3,7)) ORDER BY s""".stripMargin,
    "q_rdf_multi_o" ->
      s"""SELECT s FROM (
         |  SELECT $custS AS s FROM customer WHERE c_nationkey IN (3,7)
         |  UNION SELECT $suppS FROM supplier WHERE s_nationkey IN (3,7)) ORDER BY s""".stripMargin,
    "q_rdf_hop" ->
      s"""SELECT s FROM (
         |  SELECT $custS AS s FROM customer
         |  WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey=2)
         |  UNION SELECT $suppS FROM supplier
         |  WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey=2)
         |) ORDER BY s""".stripMargin,
    "q_rdf_graph" ->
      s"SELECT $natS AS s FROM nation ORDER BY s",
    "q_rdf_multi_graph" ->
      s"""SELECT s FROM (
         |  SELECT $natS AS s FROM nation
         |  UNION SELECT ${subj("region", "r_regionkey")} FROM region) ORDER BY s""".stripMargin,
    "q_rdf_regex" ->
      s"SELECT $natS AS s FROM nation WHERE n_name SIMILAR TO 'NATION_1.' ORDER BY s",
    "q_rdf_regex_prop" ->
      s"SELECT ${subj("part", "p_partkey")} AS s FROM part WHERE p_name SIMILAR TO 'red .*' ORDER BY s",
    "q_rdf_fts" ->
      s"SELECT $custS AS s FROM customer WHERE c_mktsegment='MACHINERY' ORDER BY s",
    "q_rdf_fts_hop" ->
      s"""SELECT s FROM (
         |  SELECT $custS AS s FROM customer WHERE c_nationkey=3
         |  UNION SELECT $suppS FROM supplier WHERE s_nationkey=3) ORDER BY s""".stripMargin,
    "q_rdf_fts_prop" ->
      s"SELECT ${subj("part", "p_partkey")} AS s FROM part WHERE p_name = 'red widget' ORDER BY s",
    "q_rdf_only_props" ->
      s"""SELECT '<urn:t:nation:3>' AS s, '$LabelIri' AS p, '"' || n_name || '"' AS o
         |FROM nation WHERE n_nationkey = 3 ORDER BY p, o""".stripMargin,
    "q_rdf_exclude_props" ->
      s"""SELECT '<urn:t:region:1>' AS s, '${predIri("region", "r_name")}' AS p,
         |  '"' || r_name || '"' AS o
         |FROM region WHERE r_regionkey=1 ORDER BY p, o""".stripMargin,
    "q_rdf_facet_graphs" ->
      s"""SELECT CAST(count(*) * 4 AS BIGINT) AS count, '${graphIri("nation")}' AS val
         |FROM nation""".stripMargin,
    "q_rdf_order_label" ->
      s"""SELECT $natS AS s,
         |  CAST(row_number() OVER (ORDER BY lower(n_name)) AS INTEGER) AS pos
         |FROM nation ORDER BY pos""".stripMargin,
    "q_rdf_order_property" ->
      s"""SELECT $custS AS s,
         |  CAST(row_number() OVER (ORDER BY lower(c_name)) AS INTEGER) AS pos
         |FROM customer WHERE c_nationkey=5 ORDER BY pos""".stripMargin,
    "q_rdf_order_natural" ->
      s"""SELECT s, CAST(pos - 5 AS INTEGER) AS pos FROM (
         |  SELECT ${subj("orders", "o_orderkey")} AS s,
         |    row_number() OVER (ORDER BY o_orderkey) AS pos
         |  FROM orders WHERE o_orderstatus='P')
         |WHERE pos BETWEEN 6 AND 15 ORDER BY pos""".stripMargin,
    "q_rdf_order_object_label" ->
      s"""SELECT $suppS AS s, lower(n_name) AS sort_label
         |FROM supplier JOIN nation ON s_nationkey=n_nationkey ORDER BY s""".stripMargin,
    "q_rdf_facet" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS count, '"' || c_mktsegment || '"' AS val
         |FROM customer WHERE c_nationkey=3
         |GROUP BY c_mktsegment ORDER BY count DESC, val""".stripMargin,
    "q_rdf_facet_properties" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS count, val FROM (
         |  SELECT '${predIri("nation", "n_name")}' AS val FROM nation
         |  UNION ALL SELECT '${predIri("nation", "n_regionkey")}' FROM nation
         |  UNION ALL SELECT '$LabelIri' FROM nation
         |  UNION ALL SELECT '$ParentIri' FROM nation)
         |GROUP BY val ORDER BY val""".stripMargin,
    "q_rdf_agg_properties" -> OracleSql.propertiesSql,
    "q_rdf_total" ->
      s"SELECT CAST(${OracleSql.totalSubjectsExpr} AS BIGINT) AS total",
    "q_rdf_count_by_property" ->
      s"""SELECT value, CAST(count(*) AS BIGINT) AS count FROM (
         |  SELECT '<urn:t:nation:' || c_nationkey || '>' AS value FROM customer
         |  UNION ALL SELECT '<urn:t:nation:' || s_nationkey || '>' FROM supplier
         |  UNION ALL SELECT '<urn:t:region:' || n_regionkey || '>' FROM nation)
         |GROUP BY value ORDER BY value""".stripMargin,
    "q_rdf_spo" ->
      s"""SELECT $natS AS s, '$LabelIri' AS p, '"' || n_name || '"' AS o
         |FROM nation WHERE n_name='NATION_3' ORDER BY s""".stripMargin,
    "q_rdf_sp" ->
      s"""SELECT s, o FROM (
         |  SELECT $natS AS s, '"' || n_name || '"' AS o
         |  FROM nation WHERE n_nationkey IN (1, 3)
         |  UNION ALL
         |  SELECT ${subj("region", "r_regionkey")} AS s, '"' || r_name || '"' AS o
         |  FROM region WHERE r_regionkey = 0) ORDER BY s, o""".stripMargin,
    "q_rdf_paths" ->
      s"""SELECT s, '<urn:t:nation:3>/<urn:t:region:' ||
         |  (SELECT n_regionkey FROM nation WHERE n_nationkey=3) || '>' AS path
         |FROM (
         |  SELECT $custS AS s FROM customer WHERE c_nationkey=3
         |  UNION SELECT $suppS FROM supplier WHERE s_nationkey=3)
         |ORDER BY s""".stripMargin,
    "q_rdf_delete" ->
      s"SELECT CAST((${OracleSql.totalTriplesExpr}) - 1 AS BIGINT) AS cnt",
    "q_rdf_insert" ->
      s"SELECT CAST((${OracleSql.totalTriplesExpr}) + 1 AS BIGINT) AS cnt",
    "q_rdf_flagship" ->
      s"""SELECT s, shared FROM (
         |  SELECT $custS AS s,
         |    CAST(CASE WHEN c_mktsegment = (SELECT c_mktsegment FROM customer WHERE c_custkey=1) THEN 1 ELSE 0 END
         |       + CASE WHEN c_nationkey = (SELECT c_nationkey FROM customer WHERE c_custkey=1) THEN 2 ELSE 0 END
         |       + CASE WHEN c_acctbal   = (SELECT c_acctbal   FROM customer WHERE c_custkey=1) THEN 1 ELSE 0 END
         |      AS BIGINT) AS shared
         |  FROM customer WHERE c_custkey <> 1)
         |WHERE shared >= 3 ORDER BY shared DESC, s""".stripMargin,
  )
}
