package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** [[Artifacts]] and the [[Memo]] under it: one build per (name, dir)
  * under nesting, concurrency and failure, release, retirement and
  * hand-over, the overflow bound, and the pinned set of artifact names
  * the harness builds. */
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

  test("retire never waits on a build in progress; the late value is released, not kept") {
    val memo = new Memo[String]()
    val started = new CountDownLatch(1)
    val finish = new CountDownLatch(1)
    val released = new AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(1)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val call = Future(memo.pinned("k", (_: String) => { released.incrementAndGet(); () }) {
        started.countDown()
        finish.await()
        "late"
      })
      assert(started.await(10, TimeUnit.SECONDS))
      memo.retire() // returns while the build is still blocked
      assert(released.get == 0)
      finish.countDown()
      assert(Await.result(call, 30.seconds) == "late", "the caller still gets its value")
      assert(released.get == 1, "a build that finished after retire releases its value")
      assert(memo.keys.isEmpty)
      var rebuilt = 0
      assert(memo("k") { rebuilt += 1; "again" } == "again")
      assert(memo("k") { rebuilt += 1; "again" } == "again")
      assert(rebuilt == 2, "a retired memo keeps nothing")
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  test("handOver moves built pinned entries: the receiver keeps and releases them") {
    val from = new Memo[String]()
    val to = new Memo[String]()
    val released = new AtomicInteger(0)
    from.pinned("a", (_: String) => { released.incrementAndGet(); () })("a")
    from("plain")("p")
    from.handOver(Seq("a", "plain", "absent"), to)
    assert(to.keys == Set("a") && from.keys == Set("plain"))
    assert(to.pinned("a", (_: String) => ())("rebuilt") == "a", "the receiver serves the built value")
    from.retire()
    assert(released.get == 0, "the giver released an entry it handed over")
    to.retire()
    assert(released.get == 1 && to.keys.isEmpty)
  }

  test("the overflow bound drops only entries without a release action") {
    val memo = new Memo[Int](maxEvictable = 4)
    val released = new AtomicInteger(0)
    memo.pinned(-1, (_: Int) => { released.incrementAndGet(); () })(-1)
    for (i <- 0 until 10) memo(i)(i)
    assert(memo.keys.contains(-1), "a pinned entry survives the overflow bound")
    assert(memo.keys.size <= 5)
    assert(released.get == 0)
    memo.clear()
    assert(released.get == 1 && memo.keys.isEmpty)
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
