package graft.perfbench

import graft.algebra.{QueryEngine, QueryOpts}
import graft.api.{Bikidata, RespServer}
import graft.ingest.Quad
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Serving-path benchmark, run in-process against the real stack:
  * reference-protocol RESP clients → [[RespServer]] → [[graft.api.WorkerPool]]
  * → [[Bikidata.queryJson]] → [[QueryEngine.query]].
  *
  * {{{
  * Main prepare <tablesDir> <warehouseDir>
  * Main run <workload> <seed> <seconds> <trace 0|1> <tablesDir> <truth.json> <warehouseDir>
  *     <workDir> <resultFile>
  * }}}
  * `prepare` builds the warehouse once per checkout; `run` copies it,
  * sets up, warms, measures and writes its result file from a `finally`
  * (perfbench/README.md has the protocol). */
object Main {
  val Clients = 4
  val SetupRepeats = 3
  val HotSetSize = 16
  val ReplayPerShape = 1
  val MutationCycles = 2
  /** Elapsed seconds by which a traced run's optional phases must end,
    * leaving room under run.py's 170 s limit for shutdown. */
  val TracedBudgetS = 145.0

  def main(args: Array[String]): Unit = args.toList match {
    case "prepare" :: tables :: warehouse :: Nil =>
      prepare(tables, warehouse)
      System.exit(0)
    case "run" :: workload :: seed :: seconds :: trace :: tables :: truth :: warehouse ::
        work :: out :: Nil =>
      val ok = new Run(workload, seed.toLong, seconds.toInt, trace == "1", tables, truth,
        warehouse, work, out).execute()
      // Spark and RESP threads must not keep a finished run alive
      System.exit(if (ok) 0 else 1)
    case _ =>
      System.err.println("usage: Main prepare <tables> <warehouse> | Main run <workload> " +
        "<seed> <seconds> <trace> <tables> <truth> <warehouse> <work> <result>")
      System.exit(2)
  }

  def session(): SparkSession = {
    val s = graft.Bench.session()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def prepare(tables: String, warehouse: String): Unit = {
    val spark = session()
    val tmp = warehouse + ".tmp"
    deleteTree(Paths.get(tmp))
    val n = new Bikidata(spark, tmp).buildFromQuads(graft.rdfize.Rdfize.quads(spark, tables))
    Files.move(Paths.get(tmp), Paths.get(warehouse))
    System.err.println(s"[perfbench] prepared warehouse: $n triples")
    spark.stop()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst) else Files.copy(src, dst)
    }

  /** (regular files, bytes) under `p`. */
  def treeStats(p: Path): (Long, Long) = {
    val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    (files.size.toLong, files.map(Files.size).sum)
  }

  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Linearly interpolated quantile (0 for no samples). */
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val h = q * (s.size - 1)
      val lo = h.toInt
      s(lo) + (h - lo) * (s(math.min(lo + 1, s.size - 1)) - s(lo))
    }

  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  def js(s: String): String = JsonMethods.compact(JsonMethods.render(JString(s)))
}

/** One read of a closed loop. */
final case class Sample(shape: String, startNs: Long, endNs: Long, failure: Option[String]) {
  def latencyMs: Double = Main.ms(startNs, endNs)
}

/** What a timed phase leaves for the metrics: its reads, the reads'
  * work done inside the window (each read counts the share of its
  * latency that fell inside it), and the result-cache hits. */
final case class Phase(samples: Seq[Sample], readsInWindow: Double, hits: Long)

final class Run(workload: String, seed: Long, seconds: Int, traced: Boolean,
    tables: String, truthFile: String, warehouse: String, work: String, out: String) {
  import Main._

  private val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  private val labels = mutable.LinkedHashMap[String, String]()
  private val attempted = new AtomicLong()
  private val failed = new AtomicLong()
  private val failures = new ConcurrentLinkedQueue[String]()
  private var error: Option[String] = None
  private val born = System.nanoTime()

  private def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  private def label(name: String, v: Any): Unit = labels(name) = String.valueOf(v)
  /** Elapsed-time label at each phase boundary, for the run's own log. */
  private def mark(phase: String): Unit =
    label(s"t_$phase", f"${(System.nanoTime() - born) / 1e9}%.2f")

  private def fail(what: String): Unit = {
    failed.incrementAndGet()
    if (failures.size < 20) failures.add(what)
  }

  /** Count one checked operation; `failure` = why its output was wrong. */
  private def check(what: String, failure: Option[String]): Unit = {
    attempted.incrementAndGet()
    failure.foreach(f => fail(s"$what: $f"))
  }

  def execute(): Boolean = {
    var spark: SparkSession = null
    var server: RespServer = null
    try {
      require(Set("read_mix", "hot_repeat")(workload), s"unknown workload $workload")
      spark = session()
      val trace = if (traced) {
        val t = new Trace
        spark.sparkContext.addSparkListener(t)
        Some(t)
      } else None
      mark("session")
      val floorBefore = floorMs(spark)
      label("floor_ms_before", floorBefore)
      val truth = new Truth(truthFile)
      val (bk, setupS) = setUp(spark)
      metric("setup_s", median(setupS), "s")
      label("setup_s_all", setupS.map(x => f"$x%.3f").mkString(" "))
      mark("setup")
      server = new RespServer(bk, 0, Clients)
      val gen = new Requests.Generator(truth, seed)
      val phase = workload match {
        case "read_mix" => readMix(gen, server)
        case "hot_repeat" => hotRepeat(gen, server)
      }
      mark("measured")
      val lat = phase.samples.map(_.latencyMs)
      metric("read_p50_ms", median(lat), "ms")
      metric("read_p75_ms", quantile(lat, 0.75), "ms")
      metric("read_qps", phase.readsInWindow / seconds, "1/s")
      label("reads", phase.samples.size)
      // drift inside the window: p50 of the reads started in each half
      val mid = phase.samples.map(_.startNs).sorted.lift(phase.samples.size / 2).getOrElse(0L)
      label("p50_ms_first_half", median(phase.samples.filter(_.startNs < mid).map(_.latencyMs)))
      label("p50_ms_second_half", median(phase.samples.filter(_.startNs >= mid).map(_.latencyMs)))
      label("cache_hits", phase.hits)
      metric("api.result_cache_hit_ratio", phase.hits.toDouble / phase.samples.size.max(1), "ratio")
      metric("api.cache_hits", phase.hits.toDouble, "count")
      metric("api.requests", phase.samples.size.toDouble, "count")
      metric("spark.cached_mb", cachedMb(spark), "MB")
      metric("spark.floor_ms", floorBefore, "ms")
      trace.foreach(t => new Layers(spark, bk, server, gen, truth, t).measure())
      label("floor_ms_after", floorMs(spark))
      mark("end")
      true
    } catch { case e: Throwable =>
      error = Some(String.valueOf(e))
      e.printStackTrace()
      false
    } finally {
      writeResult()
      try { if (server != null) server.close() } catch { case _: Throwable => () }
      try { if (spark != null) spark.stop() } catch { case _: Throwable => () }
    }
  }

  private def writeResult(): Unit = {
    val ms = metrics.map { case (k, (v, u)) => s"""${js(k)}:{"value":$v,"unit":${js(u)}}""" }
    val ls = labels.map { case (k, v) => s"${js(k)}:${js(v)}" }
    val json = s"""{"correct":${error.isEmpty && failed.get == 0},"attempted":${attempted.get},""" +
      s""""failed":${failed.get},"error":${error.map(js).getOrElse("null")},""" +
      s""""metrics":{${ms.mkString(",")}},"labels":{${ls.mkString(",")}},""" +
      s""""failures":[${failures.asScala.map(js).mkString(",")}]}"""
    Files.writeString(Paths.get(out), json + "\n")
  }

  // ------------------------------------------------------------ set-up

  /** Open fresh copies of the prepared warehouse and load the serving
    * context, [[Main.SetupRepeats]] times; the last one serves. */
  private def setUp(spark: SparkSession): (Bikidata, Seq[Double]) = {
    var live: Bikidata = null
    val times = (0 until SetupRepeats).map { i =>
      val dir = Paths.get(work, s"warehouse$i")
      copyTree(Paths.get(warehouse), dir)
      if (live != null) release(live)
      val t0 = System.nanoTime()
      live = new Bikidata(spark, dir.toString)
      live.ctx
      (System.nanoTime() - t0) / 1e9
    }
    (live, times)
  }

  private def release(bk: Bikidata): Unit = {
    val c = bk.ctx
    c.graph.unpersist()
    c.fts.foreach(_.unpersist())
  }

  private def floorMs(spark: SparkSession): Double = {
    val df = spark.range(1).toDF("x")
    df.count()
    median(Seq.fill(5) {
      val t0 = System.nanoTime(); df.count(); ms(t0, System.nanoTime())
    })
  }

  private def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6

  // ------------------------------------------------------ closed loops

  /** Run `body(client, i)` on `n` threads, each with its own connection;
    * rethrows the first failure after all have ended. */
  private def onClients(port: Int, n: Int)(body: (RespClient, Int) => Unit): Unit = {
    val errs = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { i =>
      val t = new Thread(() => {
        val c = new RespClient(port)
        try body(c, i) catch { case e: Throwable => errs.add(e) } finally c.close()
      }, s"perfbench-client-$i")
      t.start(); t
    }
    threads.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }

  private def send(c: RespClient, r: Request): (String, Sample) = {
    val t0 = System.nanoTime()
    val env = try c.call(r.json, r.hash) catch {
      case scala.util.control.NonFatal(e) => s"""{"error":${js(s"client: $e")}}"""
    }
    (env, Sample(r.shape, t0, System.nanoTime(), Requests.verdict(r, env)))
  }

  /** Closed loop on [[Main.Clients]] connections until `seconds` have
    * passed; `next(i)` gives client i its next request, `judge` may
    * replace the request's own check. */
  private def timed(server: RespServer, next: Int => Request,
      judge: (Request, String, Sample) => Sample = (_, _, s) => s): Phase = {
    val hits0 = server.pool.cacheHits.get
    val reads = new ConcurrentLinkedQueue[Sample]()
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    onClients(server.boundPort, Clients) { (c, i) =>
      while (System.nanoTime() < deadline) {
        val r = next(i)
        val (env, s0) = send(c, r)
        val s = judge(r, env, s0)
        check(s.shape, s.failure)
        reads.add(s)
      }
    }
    val samples = reads.asScala.toSeq
    val inWindow = samples.map { s =>
      (math.min(s.endNs, deadline) - s.startNs).toDouble / math.max(1L, s.endNs - s.startNs)
    }.sum
    Phase(samples, inWindow, server.pool.cacheHits.get - hits0)
  }

  /** read_mix: distinct reads, round-robin over the 14 shapes. */
  private def readMix(gen: Requests.Generator, server: RespServer): Phase = {
    def next(): Request = gen.synchronized(gen.next())
    // untimed warm phase: every shape once
    val warm = new AtomicLong(Requests.Shapes.size.toLong)
    onClients(server.boundPort, Clients) { (c, _) =>
      while (warm.getAndDecrement() > 0) { val (_, s) = send(c, next()); check(s.shape, s.failure) }
    }
    mark("warm")
    timed(server, _ => next())
  }

  /** hot_repeat: Zipf-skewed repeats of a fixed set of requests; every
    * answer must equal, byte for byte, the first (uncached) one. */
  private def hotRepeat(gen: Requests.Generator, server: RespServer): Phase = {
    val hot = IndexedSeq.fill(HotSetSize)(gen.next())
    val first = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val cursor = new AtomicLong()
    // untimed warm: the first answers (uncached, checked), then one hit pass
    onClients(server.boundPort, Clients) { (c, _) =>
      var i = cursor.getAndIncrement().toInt
      while (i < 2 * HotSetSize) {
        val r = hot(i % HotSetSize)
        val (env, s) = send(c, r)
        check(s.shape, s.failure)
        if (i < HotSetSize) first.put(r.json, env)
        i = cursor.getAndIncrement().toInt
      }
    }
    mark("warm")
    // Zipf(1) over the hot set: rank k drawn with weight 1/k
    val weights = (1 to HotSetSize).map(1.0 / _)
    val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    val rnds = (0 until Clients).map(i => new scala.util.Random(seed * 7919 + i))
    timed(server, i => hot(cdf.indexWhere(_ >= rnds(i).nextDouble()).max(0)),
      (r, env, s) => s.copy(failure =
        if (env == first.get(r.json)) None
        else Some(s"repeat differs from the first answer: ${env.take(160)}")))
  }

  // ------------------------------------------------------- per layer

  /** Serial replay after the timed phase, for the per-layer metrics:
    * spans around calls into each layer's public functions, Spark jobs
    * attributed to a call by the [[Trace]] listener's time windows. */
  private final class Layers(spark: SparkSession, bk: Bikidata, server: RespServer,
      gen: Requests.Generator, truth: Truth, trace: Trace) {

    private def timeMs[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, ms(t0, System.nanoTime()))
    }

    /** read_mix's traced run also times the store and ingest layers,
      * hot_repeat's the pipeline operators (keeping each under the
      * per-run time limit); the other workload reports those as 0. A
      * phase that would not end by [[Main.TracedBudgetS]] on a slow host
      * is skipped and named in the `skipped` label. Its metrics then read
      * 0, so each check it would have made counts as failed: a skipped
      * phase makes the run incorrect rather than fast. */
    def measure(): Unit = {
      replayReads()
      mark("replay")
      // (phase, seconds it needs, checks it makes, metric prefixes, body).
      // The seconds are about 1.3 times the longest seen on a 4-vCPU VM:
      // mutations 28 s, ingest 19 s, pipeline 49 s. The pipeline's checks
      // are its digests and its DuckDB compares.
      val phases: Seq[(String, Double, Int, String, () => Unit)] =
        if (workload == "read_mix") Seq(
          ("mutations", 36.0, 4 * MutationCycles, "store.insert_ms store.delete_ms " +
            "store.bytes_written_per_mutation store.files api.ctx_load_ms", () => mutations()),
          ("ingest", 25.0, 1, "ingest. store.bytes_per_triple", () => ingest()))
        else Seq(("pipeline", 64.0, 2 * Pipeline.Operators.size, "ops.", () => pipeline()))
      val skipped = phases.flatMap { case (name, needS, checks, metricPrefixes, run) =>
        if ((System.nanoTime() - born) / 1e9 + needS > TracedBudgetS) {
          for (_ <- 0 until checks)
            check(s"$name phase", Some("skipped: it would not end within the run's time limit"))
          Some(metricPrefixes)
        } else { run(); mark(name); None }
      }
      label("skipped", skipped.mkString(" "))
    }

    private def pipeline(): Unit = {
      val (ops, passS, unstable) =
        Pipeline.run(spark, tables, Paths.get(work, "pipeline").toString, trace)
      for ((name, st) <- ops) {
        val op = name.stripPrefix("q_")
        metric(s"ops.${op}_ms", st.ms, "ms")
        metric(s"ops.${op}_jobs", st.jobs.toDouble, "count")
        metric(s"ops.${op}_shuffle_bytes", st.shuffleBytes.toDouble, "B")
      }
      metric("ops.pass_s", passS, "s")
      unstable.foreach(n => fail(s"$n: the measured pass's digest differs from the first pass's"))
      attempted.addAndGet(Pipeline.Operators.size.toLong)
    }

    private def replayReads(): Unit = {
      val c = new RespClient(server.boundPort)
      val rtt, rttHit, submitHit, decode, query, encode, driver = mutable.ArrayBuffer[Double]()
      val perShape = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
      val jobs, stages, tasks, jobMs, runMs, cpuMs, gcMs, shRead, shWrite, spill =
        mutable.ArrayBuffer[Double]()
      try for (_ <- 0 until ReplayPerShape; _ <- Requests.Shapes) {
        val r = gen.next()
        // the RESP path, uncached then hit, and the pool on a hit
        val (env, s) = send(c, r)
        check(s.shape, s.failure)
        rtt += s.latencyMs
        val (again, s2) = send(c, r)
        check(s.shape, if (again == env) None else Some("hit differs from the first answer"))
        rttHit += s2.latencyMs
        val withHash = r.json.dropRight(1) + s""","query_hash":"${r.hash}"}"""
        val (pooled, tPool) = timeMs(server.pool.submit(withHash))
        check(s.shape, if (pooled == env) None else Some("pool hit differs from the RESP answer"))
        submitHit += tPool
        // the engine directly: decode, query, encode
        val ctx = bk.ctx
        val (opts, tDecode) = timeMs(QueryOpts.fromJson(r.json))
        val w0 = System.currentTimeMillis()
        val (res, tQuery) = timeMs(QueryEngine.query(ctx, opts))
        val w1 = System.currentTimeMillis()
        val (json, tEncode) = timeMs(res.toJson)
        check(s.shape, Requests.verdict(r, json))
        decode += tDecode; query += tQuery; encode += tEncode
        perShape.getOrElseUpdate(r.shape, mutable.ArrayBuffer()) += tQuery
        val js = trace.jobsIn(w0, w1)
        driver += Trace.uncovered(w0, w1, js.map { case (j, _) => (j.start, j.end) }).toDouble
        val st = js.flatMap(_._2)
        jobs += js.size; stages += st.size; tasks += st.map(_.tasks).sum
        jobMs ++= js.map { case (j, _) => (j.end - j.start).toDouble }
        runMs += st.map(_.runMs).sum; cpuMs += st.map(_.cpuMs).sum; gcMs += st.map(_.gcMs).sum
        shRead += st.map(_.shuffleRead).sum; shWrite += st.map(_.shuffleWrite).sum
        spill += st.map(_.spill).sum
      } finally c.close()
      def mean(xs: collection.Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      metric("api.resp_rtt_ms", median(rtt), "ms")
      metric("api.resp_rtt_hit_ms", median(rttHit), "ms")
      metric("api.pool_submit_hit_ms", median(submitHit), "ms")
      metric("algebra.opts_decode_ms", median(decode), "ms")
      metric("algebra.query_ms", median(query), "ms")
      for ((shape, ts) <- perShape) metric(s"algebra.query_ms.$shape", median(ts), "ms")
      metric("algebra.driver_ms", median(driver), "ms")
      metric("algebra.encode_ms", median(encode), "ms")
      metric("spark.jobs_per_query", mean(jobs), "count")
      metric("spark.stages_per_query", mean(stages), "count")
      metric("spark.tasks_per_query", mean(tasks), "count")
      metric("spark.job_ms", median(jobMs), "ms")
      metric("spark.task_run_ms", mean(runMs), "ms")
      metric("spark.task_cpu_ms", mean(cpuMs), "ms")
      metric("spark.gc_ms", mean(gcMs), "ms")
      metric("spark.shuffle_read_bytes", mean(shRead), "B")
      metric("spark.shuffle_write_bytes", mean(shWrite), "B")
      metric("spark.spill_bytes", mean(spill), "B")
    }

    /** Insert then delete a labelled subject through the facade; the
      * context rebuild after each is timed on its own. */
    private def mutations(): Unit = {
      val dir = Paths.get(bk.warehouseDir)
      val inserts, deletes, loads, written = mutable.ArrayBuffer[Double]()
      for (n <- 0 until MutationCycles) {
        val s = s"<urn:t:bench:$seed-$n>"
        val qs = Seq(Quad(s, Requests.Label, s"\"bench item $seed $n\"", "<urn:g:bench>"),
          Quad(s, Requests.Parent, s"<urn:t:nation:${n % 25}>", "<urn:g:bench>"))
        val probe = s"""{"filters":[{"p":"id","o":${js(s)}}]}"""
        def visible(): Boolean = (JsonMethods.parse(bk.queryJson(probe, useCache = false)) \
          "results" \ s \ Requests.Label) match {
          case JArray(vs) => vs.nonEmpty
          case _ => false
        }
        val before = treeStats(dir)._2
        val (ins, tIns) = timeMs(bk.insert(qs))
        written += (treeStats(dir)._2 - before).toDouble
        check("insert", ins.error.orElse(
          if (ins.triplesInserted == qs.size) None else Some(s"inserted ${ins.triplesInserted}")))
        loads += timeMs(bk.ctx)._2
        check("read after insert", if (visible()) None else Some("subject not visible"))
        val (del, tDel) = timeMs(bk.delete(qs.map(q => (q.s, q.p, Some(q.o), q.g))))
        check("delete", del.error)
        loads += timeMs(bk.ctx)._2
        check("read after delete", if (visible()) Some("subject still visible") else None)
        inserts += tIns; deletes += tDel
      }
      metric("store.insert_ms", median(inserts), "ms")
      metric("store.delete_ms", median(deletes), "ms")
      metric("store.bytes_written_per_mutation", median(written), "B")
      metric("api.ctx_load_ms", median(loads), "ms")
      metric("store.files", treeStats(dir)._1.toDouble, "count")
    }

    /** A fresh warehouse build of the same tables. */
    private def ingest(): Unit = {
      val t0 = System.nanoTime()
      val n = new Bikidata(spark, Paths.get(work, "ingest").toString)
        .buildFromQuads(graft.rdfize.Rdfize.quads(spark, tables))
      val s = (System.nanoTime() - t0) / 1e9
      check("ingest", if (n == truth.triples) None
        else Some(s"built $n triples, the source tables make ${truth.triples}"))
      metric("ingest.build_s", s, "s")
      metric("ingest.triples", n.toDouble, "count")
      metric("ingest.triples_per_s", n / s, "1/s")
      metric("store.bytes_per_triple", treeStats(Paths.get(warehouse))._2.toDouble / n, "B")
    }
  }
}
