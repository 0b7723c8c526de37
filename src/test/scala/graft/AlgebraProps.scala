package graft

import graft.algebra._
import graft.functions.Hash64
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

/** ScalaCheck differential properties: the engine's compiled filter
  * algebra vs a naive in-memory set evaluator over the fixture graph
  * (SURVEY §5.3 — set-algebra laws, pagination invariants, hash
  * round-trips). */
object AlgebraProps extends Properties("algebra") {

  private lazy val spark = SparkSpec.session
  private lazy val ctx = Fixture.ctx(spark)
  private lazy val quads = Fixture.quads

  // --- naive evaluator over the string quads ------------------------------

  private def naiveFilter(f: FilterQ): Option[Set[String]] = {
    val inGraph: graft.ingest.Quad => Boolean =
      q => f.g.isEmpty || f.g.split(" ").contains(q.g)
    if (f.p.isEmpty && (f.o.startsWith("<") || f.o.startsWith("_:")))
      Some(quads.filter(q => q.o == f.o && inGraph(q)).map(_.s).toSet)
    else if (f.p == "id")
      Some(quads.filter(q => q.s == f.o && inGraph(q)).map(_.s).toSet)
    else if (f.p.startsWith("<")) {
      val (hops, _, pHead) = FilterCompiler.parseHopsAndProp(f.p)
      var s = quads.filter(q => q.p == pHead &&
        (f.o.isEmpty || {
          if (f.o.startsWith("<") && f.o.endsWith(">") && f.o.split(" ").length > 1)
            f.o.split(" ").contains(q.o)
          else q.o == f.o
        }) && inGraph(q)).map(_.s).toSet
      for (_ <- 1 to hops) s = quads.filter(q => s.contains(q.o)).map(_.s).toSet
      Some(s)
    } else None
  }

  private def naiveQuery(filters: Seq[FilterQ]): Set[String] = {
    var items = Vector.empty[(String, Set[String])]
    var excepts = Vector.empty[(String, Set[String])]
    for (f <- filters) naiveFilter(f).foreach { s =>
      if (items.isEmpty) items :+= ("seed" -> s)
      else if (f.op == "should" || f.op == "or") items :+= ("union" -> s)
      else if (f.op == "must" || f.op == "and") items :+= ("intersect" -> s)
      else if (f.op == "not") excepts :+= ("except" -> s)
    }
    val all = items ++ excepts
    if (all.isEmpty) return Set.empty
    // INTERSECT binds tighter; UNION/EXCEPT left-fold
    val collapsed = all.foldLeft(List.empty[(String, Set[String])]) {
      case (acc, (op, s)) =>
        if (op == "intersect" && acc.nonEmpty) (acc.head._1, acc.head._2.intersect(s)) :: acc.tail
        else (op, s) :: acc
    }.reverse
    collapsed.tail.foldLeft(collapsed.head._2) { case (acc, (op, s)) =>
      op match {
        case "union" => acc.union(s)
        case "except" => acc.diff(s)
        case _ => acc
      }
    }
  }

  // --- generators ----------------------------------------------------------

  private val subjects = quads.map(_.s).distinct
  private val preds = quads.map(_.p).distinct
  private val objs = quads.map(_.o).distinct
  private val graphs = quads.map(_.g).distinct.filter(_.nonEmpty)

  private val genFilter: Gen[FilterQ] = Gen.oneOf(
    for { p <- Gen.oneOf(preds); o <- Gen.oneOf(objs) } yield FilterQ(p = p, o = o),
    Gen.oneOf(preds).map(p => FilterQ(p = p)),
    Gen.oneOf(subjects.filter(s => s.startsWith("<") || s.startsWith("_:")))
      .map(o => FilterQ(o = o)),
    Gen.oneOf(subjects).map(s => FilterQ(p = "id", o = s)),
    for { p <- Gen.oneOf(preds); g <- Gen.oneOf(graphs) } yield FilterQ(p = p, g = g),
    for { p <- Gen.oneOf(preds); o <- Gen.oneOf(objs); hops <- Gen.choose(1, 2) }
      yield FilterQ(p = s"$p $hops", o = o))

  private val genOp = Gen.oneOf("should", "or", "must", "and", "not")

  private val genFilters: Gen[List[FilterQ]] = for {
    n <- Gen.choose(1, 4)
    fs <- Gen.listOfN(n, genFilter)
    ops <- Gen.listOfN(n, genOp)
  } yield fs.zip(ops).map { case (f, op) => f.copy(op = op) }

  // --- properties ----------------------------------------------------------

  private def engineSubjects(filters: Seq[FilterQ]): Set[String] = {
    QueryEngine.subjects(ctx, QueryOpts(filters = filters)) match {
      case None => Set.empty
      case Some(df) =>
        val hashes = df.collect().map(_.getLong(0)).toSet
        val dict = quads.flatMap(q => Seq(q.s)).distinct
          .map(t => Hash64.hashString(t) -> t).toMap
        hashes.flatMap(dict.get)
    }
  }

  property("filter forest matches naive set evaluation") =
    Prop.forAll(genFilters) { filters =>
      engineSubjects(filters) == naiveQuery(filters)
    }

  // subjectsRaw is the dedup-deferred contract (facet semi-joins): same
  // SET of subjects as subjects(), duplicates permitted
  property("subjectsRaw equals subjects as a set") =
    Prop.forAll(genFilters) { filters =>
      val opts = QueryOpts(filters = filters)
      val raw = QueryEngine.subjectsRaw(ctx, opts)
        .map(_.collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)
      val deduped = QueryEngine.subjects(ctx, opts)
        .map(_.collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)
      raw == deduped
    }

  property("pagination: pages are disjoint and cover the set") =
    Prop.forAll(Gen.choose(1, 6)) { pageSize =>
      val opts = QueryOpts(filters = Seq(FilterQ(p = Fixture.label)))
      val all = engineSubjects(opts.filters)
      val pages = Iterator.from(0).map { i =>
        QueryEngine.query(ctx, opts.copy(size = pageSize, start = i * pageSize))
          .results.keySet
      }.takeWhile(_.nonEmpty).toList
      pages.flatten.toSet == all &&
        pages.map(_.size).sum == all.size // disjoint
    }

  // --- the driver tier against the Spark tier -----------------------------

  private lazy val mapped = EngineContext.withDictBroadcast(ctx)

  private val absent = "<http://ex/absent>"
  private val iris = (subjects ++ objs).distinct
    .filter(t => t.startsWith("<") || t.startsWith("_:"))
  private val genIri: Gen[String] = Gen.frequency(9 -> Gen.oneOf(iris), 1 -> Gen.const(absent))
  // the multi-IRI split quirk: a list splits only when it starts with
  // `<` and ends with `>` (a trailing blank node or literal keeps it whole)
  private val genIriList: Gen[String] =
    Gen.choose(2, 3).flatMap(k => Gen.listOfN(k, genIri)).map(_.mkString(" "))
  private val genG: Gen[String] = Gen.frequency(
    4 -> Gen.const(""), 2 -> Gen.oneOf(graphs), 1 -> Gen.const(absent),
    1 -> Gen.oneOf(graphs).map(g => s"$g $absent"))

  private val genSimple: Gen[FilterQ] = for {
    f <- Gen.oneOf(
      for { p <- Gen.frequency(9 -> Gen.oneOf(preds), 1 -> Gen.const(absent))
            o <- Gen.frequency(6 -> Gen.oneOf(objs), 2 -> genIriList, 1 -> Gen.const(absent)) }
        yield FilterQ(p = p, o = o),
      Gen.oneOf(preds).map(p => FilterQ(p = p)),
      Gen.oneOf(genIri, genIriList).map(o => FilterQ(o = o)),
      Gen.oneOf(genIri, genIriList).map(o => FilterQ(p = "id", o = o)))
    g <- genG
    op <- Gen.oneOf("should", "or", "must", "and", "not", "xor")
  } yield f.copy(g = g, op = op)

  private val genLocalOpts: Gen[QueryOpts] = for {
    n <- Gen.choose(1, 4)
    filters <- Gen.listOfN(n, genSimple)
    size <- Gen.choose(0, 12)
    start <- Gen.choose(0, 20)
    props <- Gen.someOf(preds :+ absent)
    which <- Gen.choose(0, 2)
    facetProp <- Gen.oneOf(preds)
    aggs <- Gen.someOf(Seq(facetProp, "graphs", "properties"))
  } yield QueryOpts(filters = filters, size = size, start = start,
    aggregates = aggs.toSeq,
    onlyProperties = if (which == 1) props.toSeq else Nil,
    excludeProperties = if (which == 2) props.toSeq else Nil)

  property("driver tier answers simple-filter reads exactly like the Spark tier") =
    Prop.forAll(genLocalOpts) { opts =>
      val local = QueryEngine.query(mapped, opts).toJson
      val viaSpark = QueryEngine.querySpark(mapped, opts).toJson
      (LocalStore.supports(opts) && LocalStore.of(mapped).isDefined) :| "served locally" &&
        (local == viaSpark) :| s"local $local\nspark $viaSpark"
    }

  property("hash round-trip: dictionary decodes every term") =
    Prop.forAll(Gen.oneOf(quads)) { q =>
      val dict = ctx.graph.dict
      Seq(q.s, q.p, q.o).forall { term =>
        val h = Hash64.hashString(term)
        dict.filter(org.apache.spark.sql.functions.col("hash") === h)
          .collect().headOption.exists(_.getString(1) == term)
      }
    }
}
