package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Solo-band ceiling for the measured empty-plan floor on this box
    * (SCALE.md documents 0.025–0.047 s solo across rounds; the ceiling
    * sits slightly above the band's top so a legitimate solo run at
    * 0.046–0.047 is not falsely flagged). A floor above it is the
    * contention tell: concurrent work inflates every per-query median
    * ~40%+, and round 4's driver run read five healthy queries as
    * regressions exactly this way. */
  val SoloFloorCeiling = 0.050

  /** The loud self-label a contended run must carry — None when the
    * measured floor sits in the solo band. Pure so the synthetic-load
    * path is testable without a bench run. */
  def contentionWarning(floorSec: Double): Option[String] =
    if (floorSec > SoloFloorCeiling)
      Some(f"CONTENTION WARNING: measured floor_sec $floorSec%.3f exceeds " +
        f"the solo band (<= $SoloFloorCeiling%.3f) — this run shared the " +
        "box with other work; per-query medians are inflated and MUST NOT " +
        "be read as regressions (re-run solo before comparing)")
    else None

  /** The serving-session config Bench measures under — shared with
    * Verify, Inspect, the DevBenchSubset/DevJobProbe tools and the
    * perfbench harness so their plans and timings match bench numbers. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // local-mode scan parallelism: the testdata tables are single
      // small parquet files, and the default 4 MB file-open cost floors
      // maxSplitBytes so a 2 MB table scans as ONE task (the partial
      // aggregate then runs single-threaded while DuckDB splits by row
      // group). 128 KB lets bytes/parallelism drive the split; cluster
      // deployments keep the default (many-file inputs split by file)
      .config("spark.sql.files.openCostInBytes", "131072")
      .config("spark.sql.autoBroadcastJoinThreshold", "134217728")
      // interactive serving: results are page-sized and every shuffle is
      // a fixed, small partition count (this session's cpu count), so
      // AQE's per-exchange re-planning only adds a scheduler round-trip
      // per stage (~1 extra job per query at the local-mode floor);
      // batch/pipeline sessions at corpus scale should keep AQE on
      // (skew-join splitting, partition coalescing)
      .config("spark.sql.adaptive.enabled", "false")
      // bounded probe collects (isin probes, capped component-edge
      // collects) touch every partition when they come back under cap —
      // CollectLimit's 1→4→16 ramp-up would only add scheduler
      // round-trips (same setting the rdfize serving clone applies)
      .config("spark.sql.limit.initialNumPartitions", "1024")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    spark.sparkContext.setLogLevel("WARN")
    val w0 = System.nanoTime()
    try SparkEntry.warmup(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[bench] warmup failed: $e") }
    val warmupSec = (System.nanoTime() - w0) / 1e9
    // steady-state latency: one untimed run pays whole-stage-codegen
    // compilation (a serving session — the reference's long-lived
    // workers, workers.py — pays it once per plan shape), then the
    // MEDIAN of 5 timed runs: this box shows intermittent multi-second
    // stalls (same query: 0.6 s vs 2.6 s across back-to-back bench
    // runs), and a median of 5 stays honest with up to two stalled
    // samples where a median of 3 flips on one.
    // A throwing query reports -1 (the driver contract's failure
    // sentinel) — timing the exception path would record a breakage as
    // a ~20 ms "speedup" and silently improve the total.
    // per-query Spark JOB counts, for the floor decomposition: each job
    // in a query's action chain pays the local-mode scheduling floor
    // sequentially, so jobs×floor (not 1×floor) is the exact per-query
    // scheduling overhead a cluster amortizes. Counted on a dedicated
    // steady-state run; listener delivery is async, so a short drain
    // sleep follows each run (an undercount only makes the published
    // adjustment more conservative).
    val jobCounter = new java.util.concurrent.atomic.AtomicInteger(0)
    // cache-state self-label: bytes of cached blocks DROPPED from the
    // memory store per query window. Suite timings are not isolated —
    // a neighbor's persist can evict this query's substrate and inflate
    // its median 2×+ (r5: q_emb_near_dup 0.57 s in-suite vs 0.25 s
    // isolated) — so each query publishes the eviction traffic that
    // occurred while it ran: a nonzero value marks a median that
    // carries cache-interplay noise, not a code regression.
    val evictedBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobCounter.incrementAndGet(); ()
      }
      override def onBlockUpdated(bu: org.apache.spark.scheduler.SparkListenerBlockUpdated): Unit = {
        val info = bu.blockUpdatedInfo
        // storageLevel NONE = the block left the store (evicted or
        // unpersisted); memSize carries the size it HAD in memory
        if (!info.storageLevel.isValid) { evictedBytes.addAndGet(info.memSize); () }
      }
    })
    // the median-of-5 timing block, reused for the end-of-suite outlier
    // re-run so both numbers come from the identical protocol
    def medianOf5(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val times = Seq.fill(5) {
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
          }
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }.sorted
      if (times.head < 0) -1.0 else times(2)
    }
    val results = SparkEntry.queries.map { case (name, fn) =>
      val ev0 = evictedBytes.get()
      try { fn(spark, sfDir).count(); () }
      catch { case scala.util.control.NonFatal(_) => () }
      val median = medianOf5(name, fn)
      // drain BEFORE the reset too: JobStart delivery is async, so an
      // event from the preceding timed runs landing after set(0) would
      // OVERcount the dedicated run (and overstate the published
      // scheduling adjustment); the post-run drain covers the undercount
      // side
      Thread.sleep(50)
      jobCounter.set(0)
      try { fn(spark, sfDir).count(); () }
      catch { case scala.util.control.NonFatal(_) => () }
      Thread.sleep(50)
      name -> ((median, jobCounter.get(), evictedBytes.get() - ev0))
    }
    // error bar for in-suite cache interplay: re-run the slowest query
    // under the same protocol now that the suite's block-manager churn
    // is over. A rerun well under the suite median says the suite
    // number carried neighbor noise (eviction/persist interplay), not a
    // regression — the exact ambiguity that burned the r4/r5 regression
    // reads on q_emb_near_dup (0.57 s in-suite, 0.25 s isolated).
    val outlier = results.toSeq.filter(_._2._1 > 0).sortBy(-_._2._1).headOption
      .map { case (name, (suiteSec, _, _)) =>
        (name, suiteSec, medianOf5(name, SparkEntry.queries(name)))
      }
    // per-job scheduling floor on this box: the same median-of-5
    // protocol over an empty 1-row plan. Every query pays at least one
    // of these (most pay several — one per Spark job in its plan); on
    // local[32] the floor is pure driver/scheduler overhead that a real
    // cluster amortizes across executors, so the floor-adjusted total
    // (total − nQueries·floor, a LOWER bound on the adjustment) is the
    // honest engine-vs-engine comparison at scale. See SCALE.md.
    val floorDf = spark.range(1).toDF("x")
    floorDf.count()
    val floorSec = Seq.fill(5) {
      val t0 = System.nanoTime()
      floorDf.count()
      (System.nanoTime() - t0) / 1e9
    }.sorted.apply(2)
    val qs = results.map { case (k, (v, _, _)) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val js = results.map { case (k, (_, j, _)) => s"\"" + k + "\":" + j }
      .mkString("{", ",", "}")
    // only entries above a floor that excludes routine self-cleanup:
    // most queries drop a few hundred KB of their own lineage-cut
    // blocks (localCheckpoint teardown) every run — measured ~0.5 MB/
    // query at sf0.001 — which is not the signal. 8 MB+ in one query
    // window means some substrate actually churned out of the store.
    val evs = results.collect {
      case (k, (_, _, e)) if e > 8L * 1024 * 1024 => s"\"" + k + "\":" + e
    }.mkString("{", ",", "}")
    val outlierJson = outlier match {
      case Some((n, suiteSec, rerunSec)) =>
        s"""{"name":${Verify.q(n)},"suite_sec":$suiteSec,"rerun_sec":$rerunSec}"""
      case None => "null"
    }
    val total = if (results.nonEmpty) results.values.map(_._1).filter(_ >= 0).sum else 0.0
    // prose lives OFF the machine line (stderr + the bench_out.json
    // sidecar): the driver's log capture keeps only a short stdout tail
    // and records parsed:null whenever the JSON line is not the last,
    // fully-visible line — a ~1.5 KB notes field defeated it for twelve
    // rounds (BENCH_r01–r12 all parsed:null)
    val note = "median of 5 steady-state runs per query (1 untimed codegen " +
      "warm run first; -1 = query threw); warmup_build_sec = one-time " +
      "RDF-ization + dictionary broadcast + FTS/semantic index build, the " +
      "ingest phase a DuckDB baseline performs before its own timings; " +
      "floor_sec = median latency of an empty 1-row plan (per-job local-mode " +
      "scheduling floor, amortized away on a real cluster); jobs = Spark " +
      "jobs per query action chain, measured on a steady-state run — " +
      "jobs x floor_sec is the exact per-query scheduling overhead; " +
      "evicted_bytes = cached-block bytes dropped from the memory store " +
      "while that query's window ran, reported only above an 8 MB floor " +
      "that excludes routine per-query lineage-cut teardown (an entry " +
      "here = the median carries cache-churn noise, not a regression); " +
      "outlier = the suite's slowest query re-run under the same " +
      "median-of-5 protocol after the suite (rerun_sec well under " +
      "suite_sec = the suite number was neighbor noise)" +
      contentionWarning(floorSec).map("; " + _).getOrElse("")
    // stderr only — stdout must stay the single parseable JSON line
    contentionWarning(floorSec).foreach(w => System.err.println(s"[bench] $w"))
    System.err.println(s"[bench] notes: $note")
    // sfDir comes from the environment — escape it like every other
    // string so a hostile/odd path cannot corrupt the JSON line.
    // The machine line carries NO prose (notes ride stderr and the
    // sidecar file): same fields plus notes in bench_out.json for
    // humans; the stdout line is compact and printed LAST (after
    // spark.stop(), with build.sbt suppressing sbt's [success] banner)
    // so a tail-window or last-line parse sees one complete JSON line.
    val core = s""""metric":"total","value":$total,"unit":"sec","queries":$qs,"jobs":$js,"evicted_bytes":$evs,"outlier":$outlierJson,"warmup_build_sec":$warmupSec,"floor_sec":$floorSec,"sf":${Verify.q(sfDir)}"""
    val line = "{" + core + "}"
    // the driver's log capture truncates long tails — ALSO write the
    // complete line (with the prose notes) to a file it can lift whole
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_out.json"),
      "{" + core + s""","notes":${Verify.q(note)}}""" + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] bench_out.json write failed: $e") }
    try { Artifacts.clear(); spark.stop() }
    finally println(line)
  }
}
