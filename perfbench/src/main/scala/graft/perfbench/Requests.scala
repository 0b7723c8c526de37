package graft.perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** What the source tables say: their rows as `truth.write` read them
  * from the parquet files, never through the engine. Every answer check
  * compares against these rows. */
final class Truth(file: String) {
  import Truth._
  private val j = JsonMethods.parse(new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)), "UTF-8"))
  private def rows(k: String): List[List[JValue]] = (j \ k) match {
    case JArray(rs) => rs.collect { case JArray(r) => r }
    case _ => Nil
  }
  private def long(v: JValue): Long = v match {
    case JInt(i) => i.toLong
    case JLong(i) => i
    case other => sys.error(s"not an integer: $other")
  }
  private def str(v: JValue): String = v match {
    case JString(s) => s
    case other => sys.error(s"not a string: $other")
  }

  val regions: Map[Int, String] =
    rows("regions").map { case List(k, n) => long(k).toInt -> str(n) }.toMap
  val nations: Map[Int, (String, Int)] =
    rows("nations").map { case List(k, n, r) => long(k).toInt -> (str(n), long(r).toInt) }.toMap
  val customers: IndexedSeq[Customer] = rows("customers")
    .map { case List(k, n, nat, seg) => Customer(long(k), str(n), long(nat).toInt, str(seg)) }
    .sortBy(_.key).toIndexedSeq
  val suppliers: IndexedSeq[(Long, String, Int)] = rows("suppliers")
    .map { case List(k, n, nat) => (long(k), str(n), long(nat).toInt) }.sortBy(_._1).toIndexedSeq
  val orders: IndexedSeq[Order] = rows("orders")
    .map { case List(k, c, st, pr) => Order(long(k), long(c), str(st), str(pr)) }
    .sortBy(_.key).toIndexedSeq
  val parts: IndexedSeq[Part] = rows("parts")
    .map { case List(k, n, b, t) => Part(long(k), str(n), str(b), str(t)) }
    .sortBy(_.key).toIndexedSeq

  /** rdfs:label text per subject IRI (the Rdfize label rules). */
  val labels: Map[String, String] =
    regions.map { case (k, n) => s"<urn:t:region:$k>" -> n } ++
      nations.map { case (k, (n, _)) => s"<urn:t:nation:$k>" -> n } ++
      customers.map(c => s"<urn:t:customer:${c.key}>" -> c.name) ++
      suppliers.map(s => s"<urn:t:supplier:${s._1}>" -> s._2) ++
      orders.map(o => s"<urn:t:orders:${o.key}>" -> s"${o.key} order") ++
      parts.map(p => s"<urn:t:part:${p.key}>" -> p.name)

  val tableRows: Map[String, Int] = Map("region" -> regions.size,
    "nation" -> nations.size, "customer" -> customers.size,
    "supplier" -> suppliers.size, "orders" -> orders.size, "part" -> parts.size)

  /** Triples the warehouse holds (the Rdfize rules): one per data column,
    * one label per row, one parent edge per nation, customer and supplier. */
  val triples: Long = 2L * regions.size + 4L * nations.size + 6L * customers.size +
    5L * suppliers.size + 6L * orders.size + 6L * parts.size
}

object Truth {
  final case class Customer(key: Long, name: String, nation: Int, segment: String)
  final case class Order(key: Long, cust: Long, status: String, priority: String)
  final case class Part(key: Long, name: String, brand: String, ptype: String)
}

/** One generated read: its shape, the opts JSON sent, and the check its
  * envelope must pass (None = pass, Some(reason) = failed). */
final case class Request(shape: String, json: String, check: JValue => Option[String]) {
  lazy val hash: String = RespClient.md5(json)
}

object Requests {
  val Label = "<http://www.w3.org/2000/01/rdf-schema#label>"
  val Parent = "<urn:p:parent>"
  val Shapes: Seq[String] = Seq("po", "p_only", "rev_o", "id", "multi_id", "fts",
    "fts_hop", "regex", "graph", "and_or_not", "facet", "order", "paths", "props")

  private def pred(t: String, c: String) = s"<urn:c:$t:$c>"
  private def q(s: String): String = JsonMethods.compact(JsonMethods.render(JString(s)))
  private def lit(s: String): String = "\"" + s + "\""

  private def total(env: JValue): Long = env \ "total" match {
    case JInt(n) => n.toLong
    case JLong(n) => n
    case _ => -1L
  }
  /** The page's entities in envelope order (the engine keeps page order). */
  private def entities(env: JValue): Seq[(String, JValue)] = env \ "results" match {
    case JObject(fs) => fs
    case _ => Nil
  }
  private def results(env: JValue): Map[String, JValue] = entities(env).toMap
  private def values(e: JValue, p: String): Seq[String] = e \ p match {
    case JArray(vs) => vs.collect { case JString(v) => v }
    case _ => Nil
  }
  /** Literal surface text: the envelope carries N3 forms (`"x"`, `"x"@en`,
    * `"x"^^<dt>`); labels here are plain strings. */
  def unquote(v: String): String =
    if (v.startsWith("\"")) v.substring(1, v.lastIndexOf('"').max(1)) else v

  private def expectTotal(n: Long)(env: JValue): Option[String] = {
    val t = total(env)
    if (t == n) None else Some(s"total $t, source tables say $n")
  }
  private def expectLabelled(iris: Seq[String], truth: Truth)(env: JValue): Option[String] = {
    val rs = results(env)
    iris.collectFirst {
      case iri if !rs.contains(iri) => s"$iri missing from the results"
      case iri if !values(rs(iri), Label).map(unquote).contains(truth.labels(iri)) =>
        s"$iri label ${values(rs(iri), Label)} != ${truth.labels(iri)}"
    }
  }
  private def pageWithin(expected: Long, size: Int, start: Int)(env: JValue): Option[String] =
    expectTotal(expected)(env).orElse {
      val n = results(env).size
      val want = math.max(0L, math.min(size.toLong, expected - start)).toInt
      if (n == want) None else Some(s"page holds $n results, expected $want")
    }

  /** Seeded generator of the 14 read shapes over one warehouse's truth.
    * `next()` never returns an opts string it returned before. */
  final class Generator(truth: Truth, seed: Long) {
    private val rnd = new scala.util.Random(seed)
    private val seen = scala.collection.mutable.HashSet[String]()
    private var turn = 0
    private def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    private def page(n: Long): Int = if (n <= 10) 0 else rnd.nextInt(((n - 1) / 10 + 1).toInt.min(50)) * 10

    private val segments = truth.customers.map(_.segment).distinct.sorted
    private val statuses = truth.orders.map(_.status).distinct.sorted
    private val priorities = truth.orders.map(_.priority).distinct.sorted
    private val brands = truth.parts.map(_.brand).distinct.sorted
    private val nationKeys = truth.nations.keys.toSeq.sorted
    private def custIri(k: Long) = s"<urn:t:customer:$k>"
    private def anyIri(): String = rnd.nextInt(4) match {
      case 0 => custIri(pick(truth.customers).key)
      case 1 => s"<urn:t:orders:${pick(truth.orders).key}>"
      case 2 => s"<urn:t:part:${pick(truth.parts).key}>"
      case _ => s"<urn:t:supplier:${pick(truth.suppliers)._1}>"
    }

    /** The next request of the fixed round-robin shape order. */
    def next(): Request = {
      val shape = Shapes(turn % Shapes.size)
      turn += 1
      Iterator.continually(make(shape)).take(1000).find(r => seen.add(r.json))
        .getOrElse(sys.error(s"request space of shape $shape exhausted"))
    }

    def make(shape: String): Request = shape match {
      case "po" =>
        val (p, o, n) = rnd.nextInt(4) match {
          case 0 => val s = pick(segments)
            (pred("customer", "c_mktsegment"), lit(s), truth.customers.count(_.segment == s))
          case 1 => val s = pick(statuses)
            (pred("orders", "o_orderstatus"), lit(s), truth.orders.count(_.status == s))
          case 2 => val s = pick(priorities)
            (pred("orders", "o_orderpriority"), lit(s), truth.orders.count(_.priority == s))
          case _ => val b = pick(brands)
            (pred("part", "p_brand"), lit(b), truth.parts.count(_.brand == b))
        }
        val start = page(n)
        Request(shape, s"""{"filters":[{"p":${q(p)},"o":${q(o)}}],"size":10,"start":$start}""",
          pageWithin(n, 10, start))
      case "p_only" =>
        val (t, c) = pick(Seq("customer" -> "c_acctbal", "orders" -> "o_orderdate",
          "part" -> "p_size", "supplier" -> "s_acctbal", "orders" -> "o_totalprice"))
        val n = truth.tableRows(t).toLong
        val start = page(n)
        Request(shape, s"""{"filters":[{"p":${q(pred(t, c))}}],"size":10,"start":$start}""",
          pageWithin(n, 10, start))
      case "rev_o" =>
        if (rnd.nextBoolean()) {
          val k = pick(nationKeys)
          val n = truth.customers.count(_.nation == k) + truth.suppliers.count(_._3 == k)
          val start = page(n)
          Request(shape, s"""{"filters":[{"o":${q(s"<urn:t:nation:$k>")}}],"size":10,"start":$start}""",
            pageWithin(n, 10, start))
        } else {
          val c = pick(truth.customers).key
          val n = truth.orders.count(_.cust == c)
          Request(shape, s"""{"filters":[{"o":${q(custIri(c))}}],"size":10}""",
            pageWithin(n, 10, 0))
        }
      case "id" =>
        val iri = anyIri()
        Request(shape, s"""{"filters":[{"p":"id","o":${q(iri)}}]}""",
          expectLabelled(Seq(iri), truth))
      case "multi_id" =>
        val iris = Seq.fill(3)(anyIri()).distinct
        Request(shape, s"""{"filters":[{"p":"id","o":${q(iris.mkString(" "))}}]}""",
          expectLabelled(iris, truth))
      case "fts" =>
        // conjunctive match over literals: the parts with one literal (name
        // or type: "small" and "large" are both) holding every query word;
        // a stopword in the query matches nothing, as the reference's
        // match_bm25(conjunctive := 1) does
        val name = pick(truth.parts).name.split(" ").toSeq
        val words = if (rnd.nextBoolean()) name else Seq(pick(name))
        def holds(literal: String) = words.forall(literal.toLowerCase.split("[^a-z0-9]+").contains)
        val n = if (words.exists(graft.fts.Stopwords.English)) 0L
          else truth.parts.count(p => holds(p.name) || holds(p.ptype)).toLong
        val start = page(n)
        Request(shape, s"""{"filters":[{"p":"fts","o":${q(words.mkString(" "))}}],"size":10,"start":$start}""",
          pageWithin(n, 10, start))
      case "fts_hop" =>
        // one hop from the nation whose name matches: the customers and
        // suppliers that point at it
        val k = pick(nationKeys)
        val n = truth.customers.count(_.nation == k) + truth.suppliers.count(_._3 == k)
        val start = page(n)
        Request(shape, s"""{"filters":[{"p":"fts 1","o":${q(s"NATION_$k")}}],"size":10,"start":$start}""",
          pageWithin(n, 10, start))
      case "regex" =>
        // customer names are Customer#<9 digits>: a 7-digit prefix plus
        // one wildcard selects up to 10 of them
        val pat = f"Customer#${rnd.nextInt(truth.customers.size / 10)}%08d."
        val re = java.util.regex.Pattern.compile(pat)
        val n = truth.customers.count(c => re.matcher(c.name).find())
        Request(shape, s"""{"filters":[{"p":"regex","o":${q(lit(pat))}}],"size":10}""",
          expectTotal(n.toLong))
      case "graph" =>
        val t = pick(Seq("customer", "orders", "part", "supplier", "nation"))
        val n = truth.tableRows(t).toLong
        val start = page(n)
        Request(shape, s"""{"filters":[{"p":${q(Label)},"g":${q(s"<urn:g:$t>")}}],"size":10,"start":$start}""",
          pageWithin(n, 10, start))
      case "and_or_not" =>
        val s1 = pick(segments); val k = pick(nationKeys)
        val segP = q(pred("customer", "c_mktsegment"))
        rnd.nextInt(3) match {
          case 0 =>
            val n = truth.customers.count(c => c.segment == s1 && c.nation == k)
            Request(shape, s"""{"filters":[{"p":$segP,"o":${q(lit(s1))}},{"p":${q(Parent)},"o":${q(s"<urn:t:nation:$k>")},"op":"and"}],"size":10}""",
              pageWithin(n, 10, 0))
          case 1 =>
            val s2 = pick(segments.filterNot(_ == s1))
            val n = truth.customers.count(c => c.segment == s1 || c.segment == s2)
            val start = page(n)
            Request(shape, s"""{"filters":[{"p":$segP,"o":${q(lit(s1))}},{"p":$segP,"o":${q(lit(s2))},"op":"or"}],"size":10,"start":$start}""",
              pageWithin(n, 10, start))
          case _ =>
            val n = truth.customers.count(c => c.nation == k && c.segment != s1) +
              truth.suppliers.count(_._3 == k)
            Request(shape, s"""{"filters":[{"p":${q(Parent)},"o":${q(s"<urn:t:nation:$k>")}},{"p":$segP,"o":${q(lit(s1))},"op":"not"}],"size":10}""",
              pageWithin(n, 10, 0))
        }
      case "facet" =>
        val k = pick(nationKeys)
        val segP = pred("customer", "c_mktsegment")
        val want = truth.customers.filter(_.nation == k).groupBy(_.segment)
          .map { case (s, cs) => s -> cs.size.toLong }
        Request(shape, s"""{"filters":[{"p":${q(pred("customer", "c_nationkey"))},"o":${q(s"<urn:t:nation:$k>")}}],"size":0,"aggregates":[${q(segP)}]}""",
          env => {
            val got = (env \ "aggregates" \ segP) match {
              case JArray(xs) => xs.collect { case JArray(List(c, JString(v))) =>
                unquote(v) -> (c match { case JInt(i) => i.toLong; case JLong(i) => i; case _ => -1L })
              }.toMap
              case _ => Map.empty[String, Long]
            }
            if (got == want) None else Some(s"facet counts $got, source tables say $want")
          })
      case "order" =>
        val s = pick(segments)
        val n = truth.customers.count(_.segment == s).toLong
        val dir = if (rnd.nextBoolean()) "asc" else "desc"
        val start = page(n)
        val expected = truth.customers.filter(_.segment == s).map(_.name).sorted
        val ordered = if (dir == "asc") expected else expected.reverse
        val want = ordered.slice(start, start + 10)
        Request(shape, s"""{"filters":[{"p":${q(pred("customer", "c_mktsegment"))},"o":${q(lit(s))}}],"size":10,"start":$start,"order":{"by":"label","dir":"$dir"}}""",
          env => pageWithin(n, 10, start)(env).orElse {
            val got = entities(env).flatMap { case (_, e) => values(e, Label).map(unquote) }
            if (got == want) None else Some(s"ordered page $got, expected $want")
          })
      case "paths" =>
        val c = pick(truth.customers)
        val iri = custIri(c.key)
        val want = Set(s"<urn:t:nation:${c.nation}>", s"<urn:t:region:${truth.nations(c.nation)._2}>")
        Request(shape, s"""{"filters":[{"p":"id","o":${q(iri)}}],"paths":[${q(Parent)}]}""",
          env => expectLabelled(Seq(iri), truth)(env).orElse {
            val got = results(env).get(iri).map(e => values(e \ "_paths", Parent)).getOrElse(Nil)
            if (got.toSet == want) None else Some(s"_paths $got, source tables say $want")
          })
      case "props" =>
        val st = pick(statuses)
        val n = truth.orders.count(_.status == st).toLong
        val start = page(n)
        Request(shape, s"""{"filters":[{"p":${q(pred("orders", "o_orderstatus"))},"o":${q(lit(st))}}],"size":10,"start":$start,"only_properties":[${q(Label)}]}""",
          env => pageWithin(n, 10, start)(env).orElse {
            val extra = results(env).values.flatMap {
              case JObject(fs) => fs.map(_._1).filterNot(k => k == Label || k == "id" || k == "graph")
              case _ => Nil
            }
            if (extra.isEmpty) None else Some(s"only_properties leaked ${extra.toSet}")
          })
    }
  }

  /** Parse and check one envelope; error envelopes always fail. */
  def verdict(req: Request, envelope: String): Option[String] =
    try {
      val env = JsonMethods.parse(envelope)
      env \ "error" match {
        case JNothing => req.check(env)
        case e => Some(s"error envelope: ${JsonMethods.compact(JsonMethods.render(e))}")
      }
    } catch { case scala.util.control.NonFatal(e) => Some(s"unparseable envelope: $e") }
}
