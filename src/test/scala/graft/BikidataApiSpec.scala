package graft

import graft.api.Bikidata
import graft.ingest.Quad

/** End-to-end facade round trip on a disk warehouse, including the
  * persisted FTS index and its invalidation on mutation. */
class BikidataApiSpec extends SparkSpec {

  test("build → query → fts → mutate → delta-maintained index") {
    val dir = java.nio.file.Files.createTempDirectory("graft-api").toString
    val nt = s"$dir/data.nt"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(nt),
      """<http://ex/a> <http://www.w3.org/2000/01/rdf-schema#label> "alpha thing" .
        |<http://ex/b> <http://www.w3.org/2000/01/rdf-schema#label> "beta thing" .
        |<http://ex/b> <http://ex/rel> <http://ex/a> .
        |""".stripMargin)
    val bk = new Bikidata(spark, s"$dir/wh")
    assert(bk.build(Seq(nt)) === 3)
    assert(bk.total() === 2)

    // fts query → index built AND persisted into the warehouse
    val r1 = bk.queryJson("""{"filters":[{"p":"fts","o":"alpha"}]}""")
    assert(r1.contains("<http://ex/a>"))
    assert(new java.io.File(s"$dir/wh/fts_meta.json").exists())

    // result cache: identical opts hit the cache (same string instance)
    val r2 = bk.queryJson("""{"filters":[{"p":"fts","o":"alpha"}]}""")
    assert(r1 eq r2)

    // insert invalidates the cache but KEEPS the stored index: the new
    // literal rides in as an O(delta) append (FtsIndex.appendDelta), not
    // a corpus rebuild — the base postings files must survive untouched
    def postingFiles(): Set[String] = {
      val d = new java.io.File(s"$dir/wh/fts_postings")
      if (!d.exists()) Set.empty
      else d.listFiles().map(_.getName).filter(_.startsWith("part-")).toSet
    }
    val baseFiles = postingFiles()
    assert(baseFiles.nonEmpty)
    val ins = bk.insert(Seq(Quad("<http://ex/c>",
      "<http://www.w3.org/2000/01/rdf-schema#label>", "\"gamma thing\"", "")))
    assert(ins.error.isEmpty)
    assert(new java.io.File(s"$dir/wh/fts_meta.json").exists(),
      "insert must not drop the literals fts index")
    assert(baseFiles.subsetOf(postingFiles()),
      "base postings must survive a mutation (delta append, not rebuild)")
    assert(postingFiles().size > baseFiles.size, "delta postings appended")

    // new literal findable through the delta-appended index
    val r3 = bk.queryJson("""{"filters":[{"p":"fts","o":"gamma"}]}""")
    assert(r3.contains("<http://ex/c>"))
    assert(bk.total() === 3)

    // old literals still findable alongside the delta
    assert(bk.queryJson("""{"filters":[{"p":"fts","o":"beta"}]}""")
      .contains("<http://ex/b>"))

    // delete with o wildcard
    val del = bk.delete(Seq(("<http://ex/c>",
      "<http://www.w3.org/2000/01/rdf-schema#label>", None, "")))
    assert(del.error.isEmpty)
    assert(bk.total() === 2)
  }

  test("a driver-tier id read sees an insert and stops seeing its delete") {
    import graft.algebra.{LocalStore, QueryEngine, QueryOpts}
    val dir = java.nio.file.Files.createTempDirectory("graft-local").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/data.nt"),
      """<http://ex/a> <http://www.w3.org/2000/01/rdf-schema#label> "alpha thing" .
        |<http://ex/b> <http://ex/rel> <http://ex/a> .
        |""".stripMargin)
    val bk = new Bikidata(spark, s"$dir/wh")
    bk.build(Seq(s"$dir/data.nt"))
    val label = "<http://www.w3.org/2000/01/rdf-schema#label>"
    val probe = """{"filters":[{"p":"id","o":"<http://ex/c>"}]}"""
    val opts = QueryOpts.fromJson(probe)
    assert(LocalStore.supports(opts))
    def served(): String = {
      val c = bk.ctx
      val answer = bk.queryJson(probe)
      assert(LocalStore.of(c).isDefined, "the read must be served by the driver tier")
      assert(answer === QueryEngine.querySpark(c, opts).toJson)
      answer
    }
    assert(!served().contains("<http://ex/c>"))
    val before = bk.ctx
    val built = before.builds
    assert(bk.insert(Seq(Quad("<http://ex/c>", label, "\"gamma thing\"", ""))).error.isEmpty)
    assert(LocalStore.of(before).isEmpty, "the retired context must not serve")
    assert(before.builds === built, "the retired context must not rebuild")
    val afterInsert = served()
    assert(afterInsert.contains("<http://ex/c>") && afterInsert.contains("gamma thing"))
    assert(bk.delete(Seq(("<http://ex/c>", label, None, ""))).error.isEmpty)
    assert(!served().contains("<http://ex/c>"))
  }

  test("a stored fts index out of sync with the dictionary is healed at ctx init") {
    val dir = java.nio.file.Files.createTempDirectory("graft-heal").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/data.nt"),
      """<http://ex/a> <http://www.w3.org/2000/01/rdf-schema#label> "alpha thing" .
        |<http://ex/b> <http://www.w3.org/2000/01/rdf-schema#label> "beta thing" .
        |""".stripMargin)
    val bk = new Bikidata(spark, s"$dir/wh")
    bk.build(Seq(s"$dir/data.nt"))
    assert(bk.queryJson("""{"filters":[{"p":"fts","o":"alpha"}]}""")
      .contains("<http://ex/a>"))
    // simulate the torn-append crash window: meta numDocs no longer
    // matches the dictionary (appendDelta never ran after an append)
    // tamper through StoreIO (Hadoop local FS keeps a CRC sidecar that a
    // raw java.nio write would invalidate)
    val metaPath = s"$dir/wh/fts_meta.json"
    val meta = graft.store.StoreIO.readString(spark, metaPath)
    graft.store.StoreIO.writeString(spark, metaPath,
      meta.replaceFirst("\"numDocs\":\\d+", "\"numDocs\":1"))
    // a fresh facade over the same warehouse detects the mismatch,
    // rebuilds, and serves exact results
    val bk2 = new Bikidata(spark, s"$dir/wh")
    assert(bk2.queryJson("""{"filters":[{"p":"fts","o":"beta"}]}""")
      .contains("<http://ex/b>"))
    val healed = graft.store.StoreIO.readString(spark, metaPath)
    assert(!healed.contains("\"numDocs\":1"), "meta must be rewritten by the rebuild")
  }

  /** Spark jobs `body` starts on this thread, counted through a job
    * group. The listener bus delivers events in order, so once a marker
    * job started after `body` has been seen, every job of `body` has. */
  private def jobsRunBy(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"counted-${System.nanoTime()}"
    val counted = new java.util.concurrent.atomic.AtomicInteger()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => counted.incrementAndGet(); ()
          case Some(g) if g == s"$group-marker" => marker.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(s"$group-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never seen")
      counted.get()
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("opening a context on a fresh build runs one job: the dictionary collect") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ctxjobs").toString
    new Bikidata(spark, s"$dir/wh").buildFromQuads(Fixture.quads.toDF())
    val bk = new Bikidata(spark, s"$dir/wh")
    // no schema-inference job for the warehouse's four base dirs or the
    // stored FTS index's three, and no count of its own for the heal
    // check (a count of the pinned literals runs three jobs: the cache
    // fill and the aggregate's two adaptive stages): its literal count
    // comes from the collect that fills the decode map
    assert(jobsRunBy(bk.ctx) === 1)
    assert(bk.ctx.dictBroadcast.isDefined && bk.ctx.fts.isDefined)
  }

  /** A facade over a fresh warehouse of the fixture quads. */
  private def fixtureFacade(prefix: String): Bikidata = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    new Bikidata(spark, s"$dir/wh").buildFromQuads(Fixture.quads.toDF())
    new Bikidata(spark, s"$dir/wh")
  }

  /** The ids of the RDDs that hold cached blocks now. */
  private def cachedRdds(): Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  test("a context load and driver-tier reads cache no frame and make no broadcast") {
    import graft.algebra.LocalStore
    import org.apache.spark.storage.StorageLevel
    val bk = fixtureFacade("graft-lazy")
    val rdds = cachedRdds()
    val c = bk.ctx
    for (read <- Seq("""{"filters":[{"p":"id","o":"<http://ex/luke>"}]}""",
        """{"filters":[{"p":"regex","o":"\"Tato.*"}],"aggregates":["properties"]}"""))
      assert(bk.queryJson(read).contains("<http://ex/"))
    assert(LocalStore.of(c).isDefined, "the reads must be served by the driver tier")
    // the cached graph, the cached posting lists and the decode
    // broadcast are each an entry of the context's memo
    assert(c.builds === 1, "the driver tier is the context's only build")
    for (df <- Seq(c.graph.triples, c.graph.iris, c.graph.literals, c.fts.get.postingLists))
      assert(df.storageLevel === StorageLevel.NONE)
    assert(cachedRdds() === rdds, "no block was cached")
  }

  test("the first Spark-tier read caches the graph; a delete releases every block the context cached") {
    import org.apache.spark.storage.StorageLevel
    val bk = fixtureFacade("graft-lazy-release")
    val c = bk.ctx
    val rdds = cachedRdds()
    val label = "<http://www.w3.org/2000/01/rdf-schema#label>"
    assert(bk.queryJson(s"""{"filters":[{"p":"$label"}],"order":[{"by":"label"}]}""")
      .contains("<http://ex/luke>"))
    assert(bk.queryJson("""{"filters":[{"p":"fts","o":"skywalker"}]}""")
      .contains("<http://ex/luke>"))
    val built = c.builds
    val cached = c.sparkGraph
    assert(cached.isPersisted, "the order read cached the graph")
    assert(c.builds === built, "and built it: the call above found it")
    assert(c.fts.get.postingLists.storageLevel !== StorageLevel.NONE,
      "the fts read cached the posting lists")
    val pinned = cachedRdds() -- rdds
    assert(pinned.nonEmpty)
    assert(bk.delete(Seq(("<http://ex/luke>", label, None, ""))).error.isEmpty)
    assert(c.retired)
    assert((cachedRdds() intersect pinned).isEmpty, "the retired context left cached blocks")
    assert(!cached.isPersisted && c.fts.get.postingLists.storageLevel === StorageLevel.NONE)
  }

  test("buildFromQuads + async mutations round-trip") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bfq").toString
    val bk = new Bikidata(spark, s"$dir/wh")
    val quads = Seq(
      ("<http://ex/a>", "<http://www.w3.org/2000/01/rdf-schema#label>", "\"alpha\"", ""),
      ("<http://ex/b>", "<http://ex/rel>", "<http://ex/a>", "<http://ex/g1>"))
      .toDF("s", "p", "o", "g")
    assert(bk.buildFromQuads(quads) === 2)
    assert(bk.total() === 2)
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val ins = Await.result(bk.insertAsync(Seq(Quad("<http://ex/c>",
      "<http://www.w3.org/2000/01/rdf-schema#label>", "\"gamma\"", ""))), 60.seconds)
    assert(ins.error.isEmpty && ins.triplesInserted === 1)
    val del = Await.result(bk.deleteAsync(Seq(("<http://ex/c>",
      "<http://www.w3.org/2000/01/rdf-schema#label>", None, ""))), 60.seconds)
    assert(del.error.isEmpty && del.triplesDeleted === 1)
    assert(bk.total() === 2)
  }

  test("result cache expires after the 7-day TTL (workers.py:104-107 parity)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ttl").toString
    val nt = s"$dir/data.nt"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(nt),
      "<http://ex/a> <http://www.w3.org/2000/01/rdf-schema#label> \"alpha\" .\n")
    var now = 1000L
    val bk = new Bikidata(spark, s"$dir/wh", clock = () => now)
    bk.build(Seq(nt))
    val opts = """{"filters":[{"p":"fts","o":"alpha"}]}"""
    val r1 = bk.queryJson(opts)
    // within the TTL: same cached instance
    now += Bikidata.DefaultCacheTtlMillis - 1
    assert(bk.queryJson(opts) eq r1)
    // at/past the TTL: entry evicted, result recomputed (equal, not same)
    now += 2
    val r3 = bk.queryJson(opts)
    assert(!(r3 eq r1) && r3 === r1)
    // useCache=false bypasses lookup AND store on the facade itself
    val r4 = bk.queryJson(opts, useCache = false)
    assert(!(r4 eq r3) && r4 === r3)
    // nondeterministic queries (random/sample) are never cached
    val rnd = """{"filters":[{"p":"id","o":"random 1"}]}"""
    assert(!(bk.queryJson(rnd) eq bk.queryJson(rnd)))
  }

  private val SemanticQ = """{"filters":[{"p":"semantic","o":"alpha ember"}]}"""

  /** A built store (no semantic index yet) whose embedder is the
    * test-gated [[GatingEmbedder]], with its gate open. */
  private def semanticStore(): Bikidata = {
    val dir = java.nio.file.Files.createTempDirectory("graft-api-sem").toString
    val nt = s"$dir/data.nt"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(nt),
      """<http://ex/a> <http://www.w3.org/2000/01/rdf-schema#label> "alpha ember" .
        |<http://ex/b> <http://www.w3.org/2000/01/rdf-schema#label> "beta stone" .
        |<http://ex/a> <http://ex/rel> <http://ex/b> .
        |""".stripMargin)
    GatingEmbedderState.reset()
    GatingEmbedderState.release.countDown()
    val bk = new Bikidata(spark, s"$dir/wh", embedder = new GatingEmbedder)
    bk.build(Seq(nt))
    bk
  }

  test("buildSemantic retires cached answers to semantic queries") {
    val bk = semanticStore()
    val noIndex = bk.queryJson(SemanticQ) // no index yet: cached empty answer
    val c0 = bk.ctx
    val props = graft.algebra.QueryEngine.properties(c0)
    assert(props.storageLevel !== org.apache.spark.storage.StorageLevel.NONE)
    bk.buildSemantic()
    assert(c0.retired && !bk.ctx.retired, "the install must retire the context it replaces")
    assert(props.storageLevel === org.apache.spark.storage.StorageLevel.NONE,
      "the replaced context's persisted frames must be released")
    val fresh = bk.queryJson(SemanticQ, useCache = false)
    assert(fresh.contains("<http://ex/a>") && (fresh !== noIndex), fresh)
    assert(bk.queryJson(SemanticQ) === fresh,
      "pre-index answer served from the cache after buildSemantic")
  }

  test("a semantic install keeps the store tiers the replaced context built") {
    import graft.algebra.LocalStore
    import org.apache.spark.storage.StorageLevel
    val bk = semanticStore()
    val c0 = bk.ctx
    val graph = c0.sparkGraph
    val fts = c0.sparkFts.get
    val broadcast = c0.dictBroadcast.get
    val local = LocalStore.of(c0).get
    assert(graph.isPersisted && fts.postingLists.storageLevel != StorageLevel.NONE)
    bk.buildSemantic()
    val c1 = bk.ctx
    assert(c0.retired && !c1.retired)
    val built = c1.builds
    assert((c1.sparkGraph eq graph) && (c1.sparkFts.get eq fts) &&
      (c1.dictBroadcast.get eq broadcast) && (LocalStore.of(c1).get eq local))
    assert(c1.builds === built, "the installed context rebuilt a store tier")
    assert(graph.isPersisted && fts.postingLists.storageLevel != StorageLevel.NONE,
      "the install released what the installed context serves from")
    assert(bk.delete(Seq(("<http://ex/a>", "<http://ex/rel>", None, ""))).error.isEmpty)
    assert(c1.retired && !graph.isPersisted && fts.postingLists.storageLevel == StorageLevel.NONE,
      "retiring the installed context releases the tiers it took over")
  }

  test("a query that straddles a mutation does not cache its stale answer") {
    val bk = semanticStore()
    bk.buildSemantic()
    // hold the query inside embedOne, after it has read its context
    GatingEmbedderState.reset()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val inFlight = Future(bk.queryJson(SemanticQ))
    assert(GatingEmbedderState.started.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "query never reached the embedder")
    // a mutation on an entity of its page retires that context
    assert(bk.delete(Seq(("<http://ex/a>", "<http://ex/rel>",
      Some("<http://ex/b>"), ""))).error.isEmpty)
    GatingEmbedderState.release.countDown()
    val stale = Await.result(inFlight, 120.seconds)
    val fresh = bk.queryJson(SemanticQ, useCache = false)
    assert(stale !== fresh, "the interleaving did not produce a stale answer")
    assert(bk.queryJson(SemanticQ) === fresh,
      "an answer computed on the retired context was served after the mutation")
  }

  test("buildFtss persists the doc-table index (fts_main_fts parity)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ftss").toString
    val nt = s"$dir/data.nt"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(nt),
      """<http://ex/a> <http://www.w3.org/2000/01/rdf-schema#label> "alpha thing" .
        |<http://ex/b> <http://ex/rel> <http://ex/a> .
        |""".stripMargin)
    val bk = new Bikidata(spark, s"$dir/wh")
    bk.build(Seq(nt))
    bk.buildFtss()
    assert(new java.io.File(s"$dir/wh/ftss_meta.json").exists())
    // 2-hop doc of b contains a's label → searchable through the index
    val hits = bk.ftssIndex.matchBm25("alpha").collect().map(_.getLong(0)).toSet
    assert(hits.contains(graft.functions.Hash64.hashString("<http://ex/b>")))
    assert(hits.contains(graft.functions.Hash64.hashString("<http://ex/a>")))
  }
}
