package graft.ingest

import graft.functions.Hash64
import graft.store.{Graph, Warehouse}
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Ingest: N-Triples/TriG files → dictionary-encoded graph.
  *
  * Replaces the reference's TSV-staging + DuckDB bulk load
  * (/root/reference/src/bikidata/main.py:122-226) with one declarative
  * Spark DAG: parse → hash (seed-0 XXH64 column expressions, codegen'd) →
  * `triples` parquet; term dictionaries via `groupBy(hash).agg(first)` —
  * the exact `GROUP BY hash + ANY_VALUE` collision policy of the
  * reference (main.py:198-204), but shuffle-parallel instead of staged
  * through local files. No Bloom-filter dedup is needed (scripts/map.py:12
  * was a single-machine RAM workaround): `groupBy` is exact and scales
  * with partitions.
  */
object Build {

  /** Parse input files into quads.
    *
    * Plain `.nt`(.gz) files carry no cross-line state → parsed from
    * `spark.read.textFile`, fully split-parallel. `.trig` files carry a
    * current-graph state across lines → parsed one-file-per-task. At
    * Wikidata scale the dump is .nt, so the parallel path is the hot one.
    */
  def quads(spark: SparkSession, paths: Seq[String]): Dataset[Quad] = {
    import spark.implicits._
    require(paths.nonEmpty,
      "no input files: expected at least one .nt/.trig (optionally .gz) path")
    val (trig, nt) = paths.partition(_.stripSuffix(".gz").endsWith(".trig"))
    val ntQuads: Option[Dataset[Quad]] =
      if (nt.isEmpty) None
      else Some(spark.read.textFile(nt: _*).flatMap(l => NtParser.parseLine(l, "")._1))
    val trigQuads: Option[Dataset[Quad]] =
      if (trig.isEmpty) None
      else Some(
        spark.sparkContext.wholeTextFiles(trig.mkString(","))
          .flatMap { case (_, content) =>
            NtParser.parseLines(content.linesIterator)
          }.toDS())
    (ntQuads ++ trigQuads).reduce(_ union _)
  }

  /** Dictionary-encode string quads (columns s,p,o,g) into a [[Graph]].
    * Pure plan composition — nothing is executed until an action runs.
    */
  def graphFromQuads(spark: SparkSession, quadsDf: DataFrame): Graph = {
    val triples = quadsDf.select(
      Hash64(col("s")).as("s"),
      Hash64(col("p")).as("p"),
      Hash64(col("o")).as("o"),
      Hash64(col("g")).as("g"))

    // Every term position contributes to the dictionary, graphs included
    // (the reference writes graph names at the end of the map file,
    // main.py:182-184).
    val terms = quadsDf.select(col("s").as("value"))
      .union(quadsDf.select(col("p").as("value")))
      .union(quadsDf.select(col("o").as("value")))
      .union(quadsDf.select(col("g").as("value")))
    val dict = terms
      .select(Hash64(col("value")).as("hash"), col("value"))
      .groupBy("hash").agg(first("value").as("value"))

    val literals = dict.filter(substring(col("value"), 1, 1) === "\"")
    // the empty default-graph name is hashed into triples.g but NOT
    // decodable: the reference's read_csv reads '' back as NULL and its
    // substr filter drops it from iris (main.py:199-204), so e.g. the
    // graphs facet silently omits default-graph triples — quirk preserved
    val iris = dict.filter(substring(col("value"), 1, 1) =!= "\"" && col("value") =!= "")
    Graph(spark, triples, iris, literals)
  }

  def graphFromFiles(spark: SparkSession, paths: Seq[String]): Graph =
    graphFromQuads(spark, quads(spark, paths).toDF())

  /** Materialize a graph as a parquet warehouse (triples/iris/literals
    * datasets, whose schemas readers declare from [[Warehouse.schemas]]).
    * Refuses to overwrite an existing non-empty warehouse, matching the
    * reference's build guard (main.py:143-147).
    */
  def write(graph: Graph, warehouseDir: String): Unit = {
    val dir = new java.io.File(warehouseDir)
    // Refuse on ANY output dir, not just triples: the four writes below
    // run concurrently, so a crashed build can leave iris/literals
    // behind while triples is absent — a triples-only guard would let a
    // retry half-overwrite that wreckage into a silently torn store
    // (and the writers' ErrorIfExists would abort it midway anyway).
    val leftover = Seq("triples", "triples_by_s", "iris", "literals")
      .filter(new java.io.File(dir, _).exists())
    if (leftover.nonEmpty)
      throw new IllegalStateException(
        s"The warehouse [$warehouseDir] already has data " +
          s"(${leftover.mkString(", ")}), doing nothing — remove the " +
          "directory to rebuild after a crashed build")
    dir.mkdirs()
    // File counts derive from ROW COUNTS, not the builder session's
    // shuffle setting: the warehouse layout must be identical no matter
    // which session wrote it. The rows-per-file target is tiered —
    // rows/32 clamped to [50k, 4M] — so a small store still fans its
    // build WRITE over ~32 tasks (one parquet file per write task; a
    // single-file layout serializes the sort+write) while a corpus-
    // scale build converges to 4M-row (~100 MB) files instead of
    // millions of shards. Read-side parallelism does not depend on this
    // count: Graph.persist re-clusters the pinned cache to the serving
    // session's cores.
    def filesFor(rows: Long): Int = {
      val perFile = math.max(50000L, math.min(4000000L, rows / 32L))
      math.max(1L, (rows + perFile - 1L) / perFile).toInt
    }
    // Materialize each source ONCE: the sizing count and the write(s)
    // below would otherwise each re-run the upstream plan — for the
    // dictionaries that is the full dedup groupBy, for triples the
    // parse+hash (and the two layout copies share one scan). Pin ONLY
    // what this call pinned: Spark's cache is keyed by plan equality,
    // so a caller-persisted same-plan frame shares the cache slot and a
    // blanket unpersist here would evict the caller's cache out from
    // under it (storageLevel == NONE ⇔ this plan is not already pinned).
    def pinIfUnpinned(df: DataFrame): Boolean =
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
        df.persist(); true
      } else false
    val triples = graph.triples
    val iris = graph.iris
    val literals = graph.literals
    val pins = Seq(triples, iris, literals).map(pinIfUnpinned)
    try {
      val nTriples = filesFor(triples.count())
      val nIris = filesFor(iris.count())
      val nLiterals = filesFor(literals.count())
      // The four output jobs are independent of each other — run them
      // concurrently so sort/shuffle/IO phases overlap (a cold build is
      // wall-clock-bound on these); on a cluster this is plain
      // multi-job scheduling inside one session.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val jobs = Seq(
        // Sort triples by (p, o, s) within partitions: the dominant
        // filter shape is `p = h [AND o ...]` (SURVEY §4.2), and parquet
        // row-group min/max stats then skip non-matching groups at scan.
        Future(triples
          .repartition(nTriples, col("p"))
          .sortWithinPartitions("p", "o", "s")
          .write.mode(SaveMode.ErrorIfExists).parquet(s"$warehouseDir/triples")),
        // Second copy range-partitioned/sorted by s: subject-bounded
        // access (hydration/spo/sp) prunes by s min/max — a point lookup
        // instead of a full pass at scale. Doubles triple storage
        // (16 B/row, cheap).
        Future(triples
          .repartitionByRange(nTriples, col("s"))
          .sortWithinPartitions("s")
          .write.mode(SaveMode.ErrorIfExists).parquet(s"$warehouseDir/triples_by_s")),
        // Dictionaries range-sorted by value: prefix-anchored scans
        // (regex static prefixes, label prefix probes) then prune cached
        // batches / row groups by the value min/max instead of running
        // the regex engine over the whole vocabulary — hash-keyed access
        // is point-lookup-shaped either way, so clustering by value
        // costs those paths nothing.
        Future(iris
          .repartitionByRange(nIris, col("value"))
          .sortWithinPartitions("value")
          .write.mode(SaveMode.ErrorIfExists).parquet(s"$warehouseDir/iris")),
        Future(literals
          .repartitionByRange(nLiterals, col("value"))
          .sortWithinPartitions("value")
          .write.mode(SaveMode.ErrorIfExists).parquet(s"$warehouseDir/literals")))
      // await ALL before propagating a failure: rethrowing on the first
      // await would leave the other writes running concurrently with
      // whatever the caller does next
      val results = jobs.map(f => scala.util.Try(Await.result(f, Duration.Inf)))
      results.foreach(_.get)
      ()
    } finally {
      Seq(triples, iris, literals).zip(pins)
        .foreach { case (df, pinned) => if (pinned) df.unpersist() }
    }
  }

  /** [[write]] with the source quads PERSISTED across the output jobs:
    * the four parquet writes and the two dictionary derivations are all
    * rooted at the same parse+render+hash plan, so an unpersisted cold
    * build re-executes it once per output (~4× the ingest work). The
    * persist is scoped to the write and released before returning. */
  def writeFromQuads(spark: SparkSession, quadsDf: DataFrame,
      warehouseDir: String): Unit = {
    // same pin-only-what-we-pinned contract as write(): a blanket
    // unpersist on a caller-persisted same-plan frame would evict the
    // caller's cache (plan-equality-keyed) out from under it
    val pinned = quadsDf.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (pinned) quadsDf.persist()
    try {
      quadsDf.count() // materialize once, before the fan-out
      write(graphFromQuads(spark, quadsDf), warehouseDir)
    } finally { if (pinned) { quadsDf.unpersist() }; () }
  }

  /** The base relations of a warehouse [[write]] made, with no delta
    * composition (see [[graft.store.Warehouse.load]] for a mutated
    * store). Reads declare their schemas ([[Warehouse.schemas]]), so
    * opening runs no Spark job. */
  def load(spark: SparkSession, warehouseDir: String): Graph =
    Graph(
      spark,
      Warehouse.read(spark, warehouseDir, "triples"),
      Warehouse.read(spark, warehouseDir, "iris"),
      Warehouse.read(spark, warehouseDir, "literals"),
      byS =
        if (new java.io.File(s"$warehouseDir/triples_by_s").exists())
          Some(Warehouse.read(spark, warehouseDir, "triples_by_s"))
        else None)
}
