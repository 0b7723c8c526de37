package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** [[Artifacts]]: one build per (name, dir) under nesting, concurrency and
  * failure, and the pinned set of artifact names the harness builds. */
class ArtifactsSpec extends SparkSpec {

  test("a nested build on the same registry does not throw, each key builds once") {
    // the inner key lands in the outer key's hash bin (ConcurrentHashMap
    // spreads h ^ (h >>> 16) and indexes by its low bits; 16 bits cover
    // every table size this registry reaches), the case in which a
    // nested computeIfAbsent on one plain map throws "Recursive update"
    def bin(k: (String, String)): Int = { val h = k.hashCode; (h ^ (h >>> 16)) & 0xffff }
    val outerBin = bin(("spec.outer", "nested"))
    val innerDir = Iterator.from(0).map(i => s"nested-$i")
      .find(d => bin(("spec.inner", d)) == outerBin).get
    Artifacts.clear() // the outer key's bin starts empty
    val outer = new AtomicInteger(0)
    val inner = new AtomicInteger(0)
    def innerValue: Int = Artifacts("spec.inner", innerDir) { inner.incrementAndGet(); 41 }
    def outerValue: Int = Artifacts("spec.outer", "nested") { outer.incrementAndGet(); innerValue + 1 }
    assert(outerValue == 42)
    assert(outerValue == 42)
    assert(innerValue == 41)
    assert(outer.get == 1 && inner.get == 1)
  }

  test("8 concurrent callers on one key see one build") {
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val calls = Seq.fill(8)(Future {
        start.await()
        Artifacts("spec.concurrent", "dir") {
          builds.incrementAndGet()
          Thread.sleep(100)
          new Object
        }
      })
      start.countDown()
      val seen = Await.result(Future.sequence(calls), 30.seconds)
      assert(builds.get == 1)
      assert(seen.distinct.size == 1)
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  test("a throwing build leaves no value and is retried on the next call") {
    val attempts = new AtomicInteger(0)
    def get: String = Artifacts("spec.flaky", "dir") {
      if (attempts.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      "built"
    }
    assertThrows[IllegalStateException](get)
    assert(get == "built")
    assert(get == "built")
    assert(attempts.get == 2)
  }

  test("clear() empties the registry") {
    Artifacts("spec.cleared", "dir")(1)
    assert(Artifacts.names.contains("spec.cleared"))
    Artifacts.clear()
    assert(Artifacts.names.isEmpty)
    var rebuilt = false
    Artifacts("spec.cleared", "dir") { rebuilt = true; 1 }
    assert(rebuilt)
    Artifacts.clear()
  }

  // Every shared artifact is "legitimate but watched": a new entry must
  // show up here as an explicit edit.
  test("the oracle-aux export builds exactly the pinned artifact set") {
    Artifacts.clear()
    try {
      PipelineQueries.exportOracleAux(spark, "/root/testdata/sf0.001")
      assert(Artifacts.names == Set(
        "docsPar", "embCount", "minhashPairs", "pcaModel", "pipelineCanon",
        "pipelineCleaned", "pipelineLambda", "pipelinePairs", "qlrModel"))
    } finally Artifacts.clear()
  }
}
