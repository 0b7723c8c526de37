package graft.rdfize

import graft.algebra.EngineContext
import graft.fts.FtsIndex
import graft.ingest.Build
import graft.semantic.{HashingEmbedder, Semantic}
import graft.store.Warehouse
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic RDF-ization of the driver's TPC-H-ish tables
  * (FIXTURES.md §5): each row becomes `<urn:t:{table}:{pk}>`, each column
  * a predicate `<urn:c:{table}:{col}>` with FK columns pointing at the
  * referenced row IRI and data columns as typed N3 literals; every table
  * with a name column gets `rdfs:label`, FK chains get a uniform
  * `<urn:p:parent>` edge (customer→nation, supplier→nation,
  * nation→region) so hierarchy/paths have material; each table lives in
  * named graph `<urn:g:{table}>`.
  *
  * The schema is declared once ([[tables]]) and drives BOTH the Spark
  * quad generation and the DuckDB oracle SQL fragments
  * ([[OracleSql]]) so the two sides cannot drift.
  */
object Rdfize {

  val LabelIri = "<http://www.w3.org/2000/01/rdf-schema#label>"
  val ParentIri = "<urn:p:parent>"
  val XsdInteger = "<http://www.w3.org/2001/XMLSchema#integer>"
  val XsdDecimal = "<http://www.w3.org/2001/XMLSchema#decimal>"
  val XsdDate = "<http://www.w3.org/2001/XMLSchema#date>"

  sealed trait ColKind
  case object StrCol extends ColKind
  case object IntCol extends ColKind
  case object Dec2Col extends ColKind
  case object DateCol extends ColKind
  final case class FkCol(table: String) extends ColKind

  final case class TableDef(
      name: String,
      pk: String,
      cols: Seq[(String, ColKind)],
      labelExprSql: Option[String], // DuckDB SQL for the label text
      parentFk: Option[(String, String)]) // (fk column, target table)

  val tables: Seq[TableDef] = Seq(
    TableDef("region", "r_regionkey",
      Seq("r_name" -> StrCol),
      Some("r_name"), None),
    TableDef("nation", "n_nationkey",
      Seq("n_name" -> StrCol, "n_regionkey" -> FkCol("region")),
      Some("n_name"), Some("n_regionkey" -> "region")),
    TableDef("customer", "c_custkey",
      Seq("c_name" -> StrCol, "c_nationkey" -> FkCol("nation"),
        "c_acctbal" -> Dec2Col, "c_mktsegment" -> StrCol),
      Some("c_name"), Some("c_nationkey" -> "nation")),
    TableDef("supplier", "s_suppkey",
      Seq("s_name" -> StrCol, "s_nationkey" -> FkCol("nation"),
        "s_acctbal" -> Dec2Col),
      Some("s_name"), Some("s_nationkey" -> "nation")),
    TableDef("orders", "o_orderkey",
      Seq("o_custkey" -> FkCol("customer"), "o_orderstatus" -> StrCol,
        "o_totalprice" -> Dec2Col, "o_orderdate" -> DateCol,
        "o_orderpriority" -> StrCol),
      // numeric-prefixed label => natural-sort material
      Some("o_orderkey || ' order'"), None),
    TableDef("part", "p_partkey",
      Seq("p_name" -> StrCol, "p_brand" -> StrCol, "p_type" -> StrCol,
        "p_size" -> IntCol, "p_retailprice" -> Dec2Col),
      Some("p_name"), None))

  def predIri(table: String, colName: String): String = s"<urn:c:$table:$colName>"
  def graphIri(table: String): String = s"<urn:g:$table>"

  private def subjectCol(table: String, pk: Column): Column =
    concat(lit(s"<urn:t:$table:"), pk.cast("string"), lit(">"))

  private def objectCol(kind: ColKind, c: Column,
      dt: org.apache.spark.sql.types.DataType): Column = kind match {
    case StrCol => concat(lit("\""), c, lit("\""))
    case IntCol => concat(lit("\""), c.cast("string"), lit("\"^^" + XsdInteger))
    case Dec2Col => concat(lit("\""), c.cast("decimal(18,2)").cast("string"),
      lit("\"^^" + XsdDecimal))
    // TZ-invariant date rendering, not date_format (which shifts with
    // spark.sql.session.timeZone): NTZ reads take the wall-clock date
    // part directly; LTZ reads use epoch-day arithmetic. DateType →
    // string never consults the session TZ.
    case DateCol =>
      val d = dt match {
        case org.apache.spark.sql.types.TimestampNTZType => c.cast("date")
        case org.apache.spark.sql.types.DateType => c // already TZ-free
        case _ => date_add(lit(java.sql.Date.valueOf("1970-01-01")),
          floor(c.cast("long") / 86400).cast("int"))
      }
      concat(lit("\""), d.cast("string"), lit("\"^^" + XsdDate))
    case FkCol(t) => concat(lit(s"<urn:t:$t:"), c.cast("string"), lit(">"))
  }

  /** String quads (s,p,o,g) for one scale-factor directory. */
  def quads(spark: SparkSession, sfDir: String): DataFrame = {
    val parts: Seq[DataFrame] = tables.flatMap { td =>
      val df = spark.read.parquet(s"$sfDir/${td.name}.parquet")
      val subj = subjectCol(td.name, col(td.pk))
      val g = lit(graphIri(td.name))
      val colQuads = td.cols.map { case (cn, kind) =>
        df.select(subj.as("s"), lit(predIri(td.name, cn)).as("p"),
          objectCol(kind, col(cn), df.schema(cn).dataType).as("o"), g.as("g"))
      }
      val labelQuads = td.labelExprSql.toSeq.map { _ =>
        val labelCol: Column = td.name match {
          case "orders" => concat(col(td.pk).cast("string"), lit(" order"))
          case _ => col(td.cols.head._1) // first column is the name column
        }
        df.select(subj.as("s"), lit(LabelIri).as("p"),
          concat(lit("\""), labelCol, lit("\"")).as("o"), g.as("g"))
      }
      val parentQuads = td.parentFk.toSeq.map { case (fk, target) =>
        df.select(subj.as("s"), lit(ParentIri).as("p"),
          objectCol(FkCol(target), col(fk), df.schema(fk).dataType).as("o"), g.as("g"))
      }
      colQuads ++ labelQuads ++ parentQuads
    }
    parts.reduce(_ union _)
  }

  // one engine context per (session, sfDir) — queries share the persisted
  // graph + fts index across the Verify/Bench run
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, EngineContext]()
  private val semCache = new java.util.concurrent.ConcurrentHashMap[String, EngineContext]()

  /** On-disk cache of the RDF-ized warehouse, shared ACROSS JVMs: the
    * first process (Verify or Bench) writes the sorted triples parquet +
    * dictionaries + FTS index once; later processes just load parquet —
    * which also makes the gate exercise the real warehouse read path
    * (p,o,s-clustered row groups) instead of an in-memory rebuild. */
  /** Remove `<base>.tmp-<pid>` leftovers from crashed writers — each
    * kill mid-write would otherwise strand one corpus-sized directory
    * in the cache dir forever. Only tmps whose OWNING PROCESS is gone
    * are swept: a live writer's tmp must never be partially deleted,
    * because `deleteRecursively` racing the owner's publish could strip
    * part files from a fully-built tmp and still let its rename succeed
    * — a torn warehouse carrying a valid `_complete` marker that every
    * later session trusts. Defense in depth for a recycled pid: the
    * tmp's `_complete` marker is deleted FIRST, so a half-swept dir
    * that somehow publishes reads as garbage, not as complete. */
  private[graft] def sweepStaleTmp(base: String): Unit = {
    val f = new java.io.File(base)
    val parent = f.getParentFile
    if (parent == null || !parent.exists()) return
    val prefix = f.getName + ".tmp-"
    Option(parent.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(prefix))
      .filter { d =>
        val pid = scala.util.Try(
          d.getName.stripPrefix(prefix).toLong).toOption
        // unparseable or non-positive pid → foreign dir, leave it
        // (ProcessHandle.of throws on pid <= 0); parseable → sweep only
        // when the liveness check POSITIVELY says the process is gone —
        // a check that itself throws means "leave it", same as foreign
        pid.exists(p => p > 0 && scala.util.Try(
          !ProcessHandle.of(p).isPresent).getOrElse(false))
      }
      .foreach { d =>
        new java.io.File(d, "_complete").delete()
        new scala.reflect.io.Directory(d).deleteRecursively()
      }
  }

  private def cacheDir(sfDir: String): String =
    // the v-suffix versions the WAREHOUSE LAYOUT (v2 = value-sorted
    // dictionaries): bumping it orphans caches written by older builds
    // instead of silently serving the old layout past a format change
    sys.env.getOrElse("GRAFT_RDFIZE_CACHE", "/tmp/graft_rdfize_cache") +
      "/" + sfDir.replaceAll("[^A-Za-z0-9.]", "_") + "_v3"

  def ctx(spark: SparkSession, sfDir: String): EngineContext =
    cache.computeIfAbsent(sfDir, { _ =>
      val wh = cacheDir(sfDir)
      // the cache is only trusted when the `_complete` marker exists —
      // it is written LAST, after the warehouse and the FTS index, so a
      // crash/disk-full mid-write can never leave a partial directory
      // that a later (or concurrent) JVM would silently load. Builds go
      // to a per-process tmp dir and publish with one rename; losing a
      // publish race just means another JVM finished first.
      val complete = new java.io.File(s"$wh/_complete")
      if (!complete.exists()) {
        sweepStaleTmp(wh)
        val tmp = wh + ".tmp-" + ProcessHandle.current().pid()
        try {
          Build.writeFromQuads(spark, quads(spark, sfDir), tmp)
          FtsIndex.write(FtsIndex.build(
            Warehouse.read(spark, tmp, "literals")), tmp)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(tmp, "_complete"), "1")
          val whFile = new java.io.File(wh)
          Option(whFile.getParentFile).foreach(_.mkdirs())
          // a marker-less wh dir is garbage from a crashed pre-marker run
          if (whFile.exists() && !complete.exists())
            new scala.reflect.io.Directory(whFile).deleteRecursively()
          if (!new java.io.File(tmp).renameTo(whFile))
            new scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
        } catch { case e: Exception =>
          // unwritable cache dir: fall back to a fully in-memory build
          System.err.println(s"[rdfize] cache write failed ($e); in-memory build")
          new scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
          ()
        }
      }
      // the engine context lives in its OWN session clone: same
      // SparkContext, same shared cache manager (the pinned graph is
      // visible/reusable process-wide), but an isolated SQL conf — the
      // serving-tier shuffle sizing below must not leak into pipeline
      // queries sharing the root session, whose corpus aggregations
      // want the builder's wider reduce parallelism
      val serving = spark.newSession()
      val (graph, fts) =
        if (complete.exists())
          (Build.load(serving, wh).persist(),
            FtsIndex.load(serving, wh).getOrElse(FtsIndex.build(
              Warehouse.read(serving, wh, "literals"))))
        else {
          val g = Build.graphFromQuads(serving, quads(serving, sfDir)).persist()
          (g, FtsIndex.build(g.literals))
        }
      // serving-session shuffle sizing: reduce partitions scaled to the
      // store (see Graph.servingShufflePartitions) — the gate/bench
      // sessions are serving sessions over this one warehouse
      serving.conf.set("spark.sql.shuffle.partitions",
        graph.servingShufflePartitions.toString)
      // bounded probe collects (o-IN, subject localization, paths seeds)
      // run as ONE job instead of CollectLimit's 1→4→16 incremental
      // ramp-up: a probe that comes back under its cap has to touch
      // every partition anyway, so the ramp-up only adds scheduling
      // round-trips. Sized well past any small-store partition count;
      // a corpus-scale store exceeds it and keeps the incremental ramp
      // (there, an early-exiting limit IS the win).
      serving.conf.set("spark.sql.limit.initialNumPartitions", "1024")
      graph.triples.count() // materialize the persisted tables once
      EngineContext.withDictBroadcast(
        EngineContext(graph, fts = Some(fts.persist()), embedder = HashingEmbedder(64)))
    })

  /** Subject-embedding index + its lossless ANN cell partition, built on
    * first use, parquet-cached next to the warehouse. One context per
    * (session, sfDir), like [[ctx]]: its derived structures (plans,
    * probe results) live as long as the context. */
  def semantic(spark: SparkSession, sfDir: String): EngineContext = {
    val base = ctx(spark, sfDir)
    // stay on the context's serving session clone — the index frames
    // join against the graph's pinned frames and should plan under the
    // same serving-tier conf
    val serving = base.graph.spark
    semCache.computeIfAbsent(sfDir, { _ =>
      val semDir = cacheDir(sfDir) + "/literals_semantic"
      val annDir = cacheDir(sfDir) + "/semantic_ann"
      // publish atomically (write to a pid tmp dir, one rename): a
      // KILLED writer must never leave a half-written dir that later
      // sessions mistake for a valid cache — and tolerate exactly that
      // from older writers by falling back to an in-memory build when
      // the read fails (a torn cache once turned every q_rdf_semantic
      // run into UNABLE_TO_INFER_SCHEMA)
      if (!new java.io.File(semDir).exists()) {
        sweepStaleTmp(semDir)
        val tmp = semDir + ".tmp-" + ProcessHandle.current().pid()
        try {
          val docs = FtsIndex.buildFtss(base.graph.triples, base.graph.literals)
          Semantic.buildSemantic(docs, base.embedder)
            .write.mode("overwrite").parquet(tmp)
          if (!new java.io.File(tmp).renameTo(new java.io.File(semDir)))
            new scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
        } catch { case _: Exception =>
          new scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
          ()
        }
      }
      val s = (try Some(serving.read.parquet(semDir).persist())
               catch { case _: Exception =>
                 // torn cache from an older (pre-atomic-publish) writer:
                 // drop it so the NEXT session rebuilds the disk cache
                 new scala.reflect.io.Directory(new java.io.File(semDir)).deleteRecursively()
                 None
               })
        .getOrElse {
          val docs = FtsIndex.buildFtss(base.graph.triples, base.graph.literals)
          Semantic.buildSemantic(docs, base.embedder).persist()
        }
      s.count()
      val a = graft.semantic.SemanticAnn.load(serving, annDir).getOrElse {
        val built = graft.semantic.SemanticAnn.build(s)
        try {
          graft.semantic.SemanticAnn.write(built, annDir)
          graft.semantic.SemanticAnn.load(serving, annDir).getOrElse(built)
        } catch { case _: Exception => built } // unwritable cache dir
      }
      a.cells.persist().count()
      base.copy(semantic = Some(s), semanticAnn = Some(a))
    })
  }
}

/** DuckDB-side SQL fragments derived from the same [[Rdfize.tables]]
  * schema — used to assemble oracle queries that reconstruct subject
  * IRIs / predicate IRIs / triple counts directly from the base tables. */
object OracleSql {
  import Rdfize._

  def subj(table: String, keyExpr: String): String =
    s"'<urn:t:$table:' || $keyExpr || '>'"

  /** Predicates of one table with its per-row triple count (each row emits
    * one triple per predicate — no NULLs in the testdata). */
  def predsOf(td: TableDef): Seq[String] =
    td.cols.map { case (cn, _) => predIri(td.name, cn) } ++
      td.labelExprSql.map(_ => LabelIri).toSeq ++
      td.parentFk.map(_ => ParentIri).toSeq

  /** Total triple count as a SQL scalar expression. */
  def totalTriplesExpr: String =
    tables.map(td => s"(SELECT count(*) FROM ${td.name}) * ${predsOf(td).size}")
      .mkString(" + ")

  /** Total distinct subjects (one per row). */
  def totalSubjectsExpr: String =
    tables.map(td => s"(SELECT count(*) FROM ${td.name})").mkString(" + ")

  /** `properties()` oracle: distinct-subject count per predicate IRI. */
  def propertiesSql: String = {
    val rows = tables.flatMap { td =>
      predsOf(td).map(p =>
        s"SELECT '$p' AS value, (SELECT count(*) FROM ${td.name}) AS cnt")
    }
    s"""SELECT value, CAST(SUM(cnt) AS BIGINT) AS count
       |FROM (${rows.mkString(" UNION ALL ")})
       |GROUP BY value ORDER BY value""".stripMargin
  }
}
