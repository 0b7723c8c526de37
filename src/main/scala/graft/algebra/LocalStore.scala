package graft.algebra

/** The driver-resident serving tier: the store's quads as sorted
  * primitive arrays, answering non-scoring reads
  * ([[LocalStore.supports]]) with no Spark job and no Catalyst analysis.
  * The reference answers each JSON query as one in-process DuckDB
  * statement; a Spark job per stage costs more than the whole answer on a
  * store that fits the driver.
  *
  * Rows are kept sorted three ways: the columns themselves by s (id
  * lookups, page hydration, facets, parent lookups of paths), and two
  * row-index permutations by (p, o, s) (property filters) and by (o, s)
  * (reverse references, regex matches and hops). Keys compare as signed
  * longs — Spark's `LongType` order — so subject sets are sorted distinct
  * arrays in the order the Spark tier pages them, and AND/OR/NOT are
  * merges. The literals sit in a fourth index sorted by value, so a
  * regex's static prefix is a binary-searched range. Terms decode
  * through the context's `dictBroadcast` map. The output goes through
  * the Spark tier's own [[QueryEngine.assemble]], so past the
  * subject-set, page, facet and path stage the envelopes are identical
  * by construction; the Spark tier is the oracle for the rest
  * (AlgebraProps' differentials). */
final class LocalStore private (
    s: Array[Long], p: Array[Long], o: Array[Long], g: Array[Long],
    byPos: Array[Int], byOs: Array[Int],
    litValue: Array[String], litHash: Array[Long]) {

  import LocalStore._

  private def n: Int = s.length

  /** Answer `opts`, which must satisfy [[LocalStore.supports]], or None
    * for what the Spark tier answers instead: a regex that does not
    * compile, or a paths walk holding more than
    * [[EngineContext.maxDriverChains]] chains. */
  def query(ctx: EngineContext, opts: QueryOpts): Option[QueryResult] = {
    val sets = opts.filters.map(f =>
      FilterCompiler.nonScoringFilter(f).flatMap(subjectsOf).map(f.op -> _))
    if (sets.exists(_.isEmpty)) return None
    val subjects = QueryEngine.foldRoles(QueryEngine.setRoles(sets.flatten))(intersect, union, minus)
      .getOrElse(Array.emptyLongArray)
    val from = math.min(opts.start.toLong, subjects.length.toLong).toInt
    val until = math.min(opts.start.toLong + opts.size, subjects.length.toLong).toInt
    val page = java.util.Arrays.copyOfRange(subjects, from, math.max(from, until))
    val walks = opts.paths.map(pad => walk(ctx, FilterCompiler.h(pad), page).map(pad -> _))
    if (walks.exists(_.isEmpty)) return None
    val dict = ctx.dictBroadcast.get.value
    Some(QueryEngine.assemble(ctx, opts, hydrate(page, opts), walks.flatten.toMap,
      subjects.length.toLong, opts.aggregates.map(agg => agg -> facet(dict, agg, subjects))))
  }

  // -------------------------------------------------------------- lookups

  /** [lo, hi) of the positions in [lo0, hi0) whose `key` equals `k`;
    * `key` must be sorted over that span. */
  private def range(lo0: Int, hi0: Int, key: Int => Long, k: Long): (Int, Int) = {
    var lo = lo0; var hi = hi0
    while (lo < hi) { val m = (lo + hi) >>> 1; if (key(m) < k) lo = m + 1 else hi = m }
    val first = lo
    hi = hi0
    while (lo < hi) { val m = (lo + hi) >>> 1; if (key(m) <= k) lo = m + 1 else hi = m }
    (first, lo)
  }

  private def subjectRows(subject: Long): (Int, Int) = range(0, n, i => s(i), subject)

  /** Sorted distinct subjects of `f`: those of its first step, then
    * one [[referrers]] set per hop, like the Spark tier's `hopUp`. None
    * for a regex that does not compile. */
  private def subjectsOf(f: NonScoringFilter): Option[Array[Long]] =
    f.first.fold(sf => Some(simpleSubjects(sf)), regexSubjects)
      .map(first => Iterator.iterate(first)(referrers(_, _ => true)).drop(f.hops).next())

  private def inGraphs(graphs: Option[Array[Long]])(row: Int): Boolean =
    graphs.forall(gs => contains(gs, g(row)))

  /** Sorted distinct subjects of the triples a simple filter matches. */
  private def simpleSubjects(f: SimpleFilter): Array[Long] = f match {
    case SimpleFilter.Ids(subjects, graphs) =>
      subjectsIn(subjects.toSeq.map(subjectRows), i => i, inGraphs(graphs))
    case SimpleFilter.Refs(objects, graphs) => referrers(objects, inGraphs(graphs))
    case SimpleFilter.Prop(ph, objects, graphs) =>
      val (plo, phi) = range(0, n, i => p(byPos(i)), ph)
      val spans = objects.fold(Seq((plo, phi)))(_.toSeq.map(k => range(plo, phi, i => o(byPos(i)), k)))
      subjectsIn(spans, byPos(_), inGraphs(graphs))
  }

  /** Sorted distinct subjects of the triples whose o is one of
    * `objects` and that `keep` admits. */
  private def referrers(objects: Array[Long], keep: Int => Boolean): Array[Long] =
    subjectsIn(objects.toSeq.map(k => range(0, n, i => o(byOs(i)), k)), byOs(_), keep)

  /** Sorted distinct s of the rows `row(i)`, i in the `spans`, that
    * `keep` admits. */
  private def subjectsIn(spans: Seq[(Int, Int)], row: Int => Int, keep: Int => Boolean): Array[Long] = {
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    for ((lo, hi) <- spans) {
      var i = lo
      while (i < hi) { val r = row(i); if (keep(r)) out += s(r); i += 1 }
    }
    sortedDistinct(out.result())
  }

  /** The subjects of a [[RegexFilter]]: the literals that the Spark
    * tier's `startsWith` pre-filter and anchored `rlike` (which runs
    * `Matcher.find`) both admit, as objects of triples under `p` and in
    * `graphs` when set. None when the pattern does not compile. */
  private def regexSubjects(rx: RegexFilter): Option[Array[Long]] = {
    val re =
      try java.util.regex.Pattern.compile("^(?:" + rx.pattern + ")$")
      catch { case _: java.util.regex.PatternSyntaxException => return None }
    val m = re.matcher("")
    val (lo, hi) = prefixRange(FilterCompiler.staticRegexPrefix(rx.pattern))
    val matched = new scala.collection.mutable.ArrayBuilder.ofLong
    var i = lo
    while (i < hi) { if (m.reset(litValue(i)).find(0)) matched += litHash(i); i += 1 }
    Some(referrers(matched.result(), row => rx.p.forall(_ == p(row)) && inGraphs(rx.graphs)(row)))
  }

  /** [lo, hi) of the literals whose value starts with `prefix` as
    * Spark's `startsWith` compares it, on UTF-8 bytes: a lone surrogate
    * left where the prefix cut a pair encodes as '?'. Over well-formed
    * strings that is a `String.startsWith`, and under the index's
    * `compareTo` order the values with one prefix are contiguous. */
  private def prefixRange(prefix: String): (Int, Int) = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val pre = new String(prefix.getBytes(utf8), utf8)
    var lo = 0; var hi = litValue.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (litValue(m).compareTo(pre) < 0) lo = m + 1 else hi = m }
    var end = lo
    while (end < litValue.length && litValue(end).startsWith(pre)) end += 1
    (lo, end)
  }

  /** [[QueryEngine.paths]] over the driver arrays: the chains from each
    * page subject up the property's distinct (s → o) edges, merged
    * across graphs. A chain ends at a node with no parent; one still
    * walking after `maxPathIterations` parents is dropped, as a cycle;
    * a node with several parents branches. None once the walk holds
    * more than `maxDriverChains` chains. */
  private def walk(ctx: EngineContext, prop: Long,
      page: Array[Long]): Option[Array[(Long, Seq[Long])]] = {
    val finished = Array.newBuilder[(Long, Seq[Long])]
    var nFinished = 0
    var frontier: Seq[(Long, Vector[Long])] = page.toSeq.map(x => (x, Vector(x)))
    def held = nFinished + frontier.size
    var level = 0
    while (held <= ctx.maxDriverChains && frontier.nonEmpty && level < ctx.maxPathIterations) {
      frontier = frontier.flatMap { case (src, path) =>
        val parents = parentsOf(path.last, prop)
        if (parents.isEmpty) { finished += ((src, path)); nFinished += 1 }
        parents.toSeq.map(par => (src, path :+ par))
      }
      level += 1
    }
    if (held > ctx.maxDriverChains) None else Some(finished.result())
  }

  /** The distinct o of `node`'s triples under property `prop`. */
  private def parentsOf(node: Long, prop: Long): Array[Long] = {
    val (lo, hi) = subjectRows(node)
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    var r = lo
    while (r < hi) { if (p(r) == prop) out += o(r); r += 1 }
    sortedDistinct(out.result())
  }

  /** The distinct (s, p, o, g, pos) rows of the page subjects, pos
    * 1-based in page order, filtered by only/exclude properties like
    * [[QueryEngine.hydrate]]. */
  private def hydrate(page: Array[Long], opts: QueryOpts): Array[(Long, Long, Long, Long, Int)] = {
    val only = opts.onlyProperties.map(FilterCompiler.h).toSet
    val excluded = opts.excludeProperties.map(FilterCompiler.h).toSet
    val keep: Long => Boolean =
      if (only.nonEmpty) only.contains
      else if (excluded.nonEmpty) pv => !excluded.contains(pv)
      else _ => true
    val rows = Array.newBuilder[(Long, Long, Long, Long, Int)]
    for (i <- page.indices) {
      val (lo, hi) = subjectRows(page(i))
      for (r <- lo until hi if keep(p(r))) rows += ((s(r), p(r), o(r), g(r), i + 1))
    }
    rows.result().distinct
  }

  /** [[QueryEngine.facet]] over the driver arrays: triple counts (not
    * subjects) per g, p or — for a property IRI — per o of that
    * property, over every triple of `subjects`; undecodable values drop
    * and the rows order by (count desc, val asc). */
  private def facet(dict: Map[Long, String], agg: String,
      subjects: Array[Long]): Seq[(Long, String)] = {
    val counts = new scala.collection.mutable.LongMap[Long]
    def bump(k: Long): Unit = counts.update(k, counts.getOrElse(k, 0L) + 1L)
    val prop = FilterCompiler.h(agg)
    for (sub <- subjects) {
      val (lo, hi) = subjectRows(sub)
      var r = lo
      while (r < hi) {
        agg match {
          case "graphs" => bump(g(r))
          case "properties" => bump(p(r))
          case _ => if (p(r) == prop) bump(o(r))
        }
        r += 1
      }
    }
    counts.toSeq
      .flatMap { case (k, c) => dict.get(k).map(v => (c, v, utf8(v))) }
      .sortWith { case ((c1, _, b1), (c2, _, b2)) =>
        if (c1 != c2) c1 > c2 else java.util.Arrays.compareUnsigned(b1, b2) < 0 }
      .map { case (c, v, _) => (c, v) }
  }
}

object LocalStore {

  /** Driver bytes per stored triple: four `Long` columns, two `Int`
    * permutation entries, and one literal-index entry (a `Long` hash
    * and a value reference; the value itself is the decode map's
    * string). A store holds at most about one literal per triple. */
  private val BytesPerTriple = 4 * 8 + 2 * 4 + 2 * 8

  /** The tier's size cap, in triples: the finished arrays may take at
    * most 1/16 of the driver's max heap,
    * `Runtime.getRuntime.maxMemory / 16 / BytesPerTriple` (56 B/triple).
    * The build's transient peak — the streamed column builders, one
    * reordered copy and the permutations — stays under ~3× the finished
    * size, so under a fifth of the heap, which in local mode also holds
    * Spark's own cached blocks. A 4 GB heap admits ~4.8M triples. */
  def maxTriples: Long = Runtime.getRuntime.maxMemory / 16 / BytesPerTriple

  /** Whether the tier models `opts`: every filter non-scoring
    * ([[FilterCompiler.nonScoringFilter]]) — id, multi-id, p, p+o,
    * reverse-o and regex, each optionally graph-restricted, p, p+o and
    * regex with hops, combined by any op — with only/exclude
    * properties, facets and paths allowed. Order, fts, semantic and
    * random/sample filters, a malformed hop count, an empty filter
    * list, and negative size/start stay on the Spark tier. */
  def supports(opts: QueryOpts): Boolean =
    opts.filters.nonEmpty && opts.order.isEmpty &&
      opts.size >= 0 && opts.start >= 0 &&
      opts.filters.forall(f => FilterCompiler.nonScoringFilter(f).isDefined)

  /** The context's store, built at the first call (single-flight per
    * context), or None when the context has no decode map, the store is
    * over [[maxTriples]], or the context was retired by a mutation. */
  def of(ctx: EngineContext): Option[LocalStore] = of(ctx, maxTriples)

  /** [[of]] under a given size cap. The "too big" verdict (None) is kept
    * like a store, so the first call's cap decides for the context. */
  private[graft] def of(ctx: EngineContext, cap: Long): Option[LocalStore] =
    if (ctx.dictBroadcast.isEmpty || ctx.retired) None
    else {
      // the arrays go with the entry; a build that a mutation overtook
      // is released by the memo and not served
      val st = ctx.pinned("localStore", (_: Option[LocalStore]) => ())(load(ctx, cap))
      if (ctx.retired) None else st
    }

  /** Stream the context's triples into sorted arrays, or None past
    * `cap` triples (also when the plan's row count already says so) or
    * on a null column the tier does not model. The literal index holds
    * the rows of `graph.literals`, their values from the decode map. */
  private[graft] def load(ctx: EngineContext, cap: Long): Option[LocalStore] = {
    val t = ctx.graph.triples
    val known = graft.store.Graph.planRowCount(t)
    if (known.exists(_ > cap)) return None
    val sb, pb, ob, gb = new scala.collection.mutable.ArrayBuilder.ofLong
    known.foreach { k => Seq(sb, pb, ob, gb).foreach(_.sizeHint(k.toInt)) }
    // toLocalIterator holds one partition's rows at a time (the paths()
    // edge-array pattern), so giving up past the cap costs at most the
    // rows read so far
    val it = t.select("s", "p", "o", "g").toLocalIterator()
    var rows = 0L
    while (it.hasNext) {
      val r = it.next()
      rows += 1
      if (rows > cap || r.anyNull) return None
      sb += r.getLong(0); pb += r.getLong(1); ob += r.getLong(2); gb += r.getLong(3)
    }
    val s0 = sb.result(); val p0 = pb.result(); val o0 = ob.result(); val g0 = gb.result()
    val bySubject = order(s0)
    val s = bySubject.map(s0); val p = bySubject.map(p0)
    val o = bySubject.map(o0); val g = bySubject.map(g0)
    val byPos = identity(s.length)
    sortIndices(byPos, (a, b) => {
      val c = java.lang.Long.compare(p(a), p(b))
      if (c != 0) c else {
        val c2 = java.lang.Long.compare(o(a), o(b))
        if (c2 != 0) c2 else java.lang.Long.compare(s(a), s(b))
      }
    })
    val byOs = identity(s.length)
    sortIndices(byOs, (a, b) => {
      val c = java.lang.Long.compare(o(a), o(b))
      if (c != 0) c else java.lang.Long.compare(s(a), s(b))
    })
    val (litValue, litHash) = literalIndex(ctx)
    Some(new LocalStore(s, p, o, g, byPos, byOs, litValue, litHash))
  }

  /** The literals' (values, hashes), sorted by value: the hashes of
    * `graph.literals` streamed like the triples, each decoded through
    * the context's map (a null value matches no pattern and is left
    * out). */
  private def literalIndex(ctx: EngineContext): (Array[String], Array[Long]) = {
    val dict = ctx.dictBroadcast.get.value
    val hb = new scala.collection.mutable.ArrayBuilder.ofLong
    val it = ctx.graph.literals.select("hash").toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      if (!r.isNullAt(0) && dict.get(r.getLong(0)).exists(_ != null)) hb += r.getLong(0)
    }
    val hashes = hb.result()
    val values = hashes.map(dict)
    val byValue = identity(hashes.length)
    sortIndices(byValue, (a, b) => values(a).compareTo(values(b)))
    (byValue.map(values), byValue.map(hashes))
  }

  // --------------------------------------------------------- array helpers

  private def identity(n: Int): Array[Int] = Array.tabulate(n)(i => i)

  private def contains(hs: Array[Long], k: Long): Boolean = {
    var i = 0
    while (i < hs.length) { if (hs(i) == k) return true; i += 1 }
    false
  }

  private def utf8(v: String): Array[Byte] = v.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Sort then drop repeats, in place. */
  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var w = 0
    var i = 0
    while (i < a.length) {
      if (w == 0 || a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
      i += 1
    }
    if (w == a.length) a else java.util.Arrays.copyOf(a, w)
  }

  /** Merge of two sorted distinct arrays keeping the elements for which
    * `keep(inA, inB)` holds — AND, OR and NOT of subject sets. */
  private def merge(a: Array[Long], b: Array[Long], keep: (Boolean, Boolean) => Boolean): Array[Long] = {
    val out = new Array[Long](a.length + b.length)
    var i = 0; var j = 0; var w = 0
    while (i < a.length || j < b.length) {
      val c =
        if (i == a.length) 1
        else if (j == b.length) -1
        else java.lang.Long.compare(a(i), b(j))
      val v = if (c <= 0) a(i) else b(j)
      if (keep(c <= 0, c >= 0)) { out(w) = v; w += 1 }
      if (c <= 0) i += 1
      if (c >= 0) j += 1
    }
    java.util.Arrays.copyOf(out, w)
  }

  private def intersect(a: Array[Long], b: Array[Long]) = merge(a, b, _ && _)
  private def union(a: Array[Long], b: Array[Long]) = merge(a, b, _ || _)
  private def minus(a: Array[Long], b: Array[Long]) = merge(a, b, (inA, inB) => inA && !inB)

  /** The row order that sorts `keys` ascending as signed longs. */
  private[graft] def order(keys: Array[Long]): Array[Int] = {
    val ix = identity(keys.length)
    sortIndices(ix, (a, b) => java.lang.Long.compare(keys(a), keys(b)))
    ix
  }

  /** In-place quicksort of a row-index array under `cmp` — the
    * boxing-free multi-key sort of the permutations and of the paths()
    * parent arrays: insertion sort below 32 elements, median-of-three
    * pivot so pre-sorted input stays O(n log n), and recursion on the
    * smaller side only, so stack depth is O(log n) for any keys. */
  private[graft] def sortIndices(ix: Array[Int], cmp: (Int, Int) => Int): Unit = {
    def swap(i: Int, j: Int): Unit = { val t = ix(i); ix(i) = ix(j); ix(j) = t }
    def sort(lo0: Int, hi0: Int): Unit = {
      var lo = lo0; var hi = hi0
      while (hi - lo >= 32) {
        val mid = lo + (hi - lo) / 2
        if (cmp(ix(mid), ix(lo)) < 0) swap(mid, lo)
        if (cmp(ix(hi), ix(lo)) < 0) swap(hi, lo)
        if (cmp(ix(hi), ix(mid)) < 0) swap(hi, mid)
        val pivot = ix(mid)
        var i = lo; var j = hi
        while (i <= j) {
          while (cmp(ix(i), pivot) < 0) i += 1
          while (cmp(ix(j), pivot) > 0) j -= 1
          if (i <= j) { swap(i, j); i += 1; j -= 1 }
        }
        if (j - lo < hi - i) { sort(lo, j); lo = i } else { sort(i, hi); hi = j }
      }
      var i = lo + 1
      while (i <= hi) {
        val v = ix(i)
        var j = i - 1
        while (j >= lo && cmp(ix(j), v) > 0) { ix(j + 1) = ix(j); j -= 1 }
        ix(j + 1) = v
        i += 1
      }
    }
    if (ix.length > 1) sort(0, ix.length - 1)
  }
}
