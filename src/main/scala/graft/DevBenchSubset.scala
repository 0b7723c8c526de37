package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: Bench's exact timing protocol (1 untimed codegen run, then
  * median of 5) over a named subset of queries — fast iteration on
  * individual plans without the full 85-query sweep. Not product surface.
  * `--json <path>` additionally writes a bench-shaped JSON (queries /
  * jobs / floor_sec) that `tools/baseline.py --rdf` accepts — used for
  * the RDF_BASELINE.md box-size scaling runs where only the 20 rdf
  * queries matter.
  * Usage: runMain graft.DevBenchSubset <sfDir> [--json out] <q1> [q2 ...] */
object DevBenchSubset {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val (jsonOut, names) = args.tail.toSeq match {
      case "--json" +: path +: rest => (Some(path), rest)
      case rest => (None, rest)
    }
    // Bench's exact session (local[SPARK_GRAFT_CPUS], same knobs) so
    // subset medians and job counts are comparable to bench numbers
    val spark = Bench.session()
    spark.sparkContext.setLogLevel("WARN")
    val jobCounter = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobCounter.incrementAndGet(); ()
      }
    })
    try SparkEntry.warmup(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[subset] warmup failed: $e") }
    val medians = names.map { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count()
      val j0 = jobCounter.get()
      val times = Seq.fill(5) {
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      val jobs = (jobCounter.get() - j0) / 5
      println(f"[subset] $name%-28s median ${times(2)}%.3f s  (min ${times.head}%.3f max ${times.last}%.3f) jobs/run $jobs")
      (name, times(2), jobs)
    }
    jsonOut.foreach { path =>
      // Bench's empty-plan floor, same median-of-5 protocol
      val floorDf = spark.range(1).toDF("x")
      floorDf.count()
      val floorSec = Seq.fill(5) {
        val t0 = System.nanoTime()
        floorDf.count()
        (System.nanoTime() - t0) / 1e9
      }.sorted.apply(2)
      val qs = medians.map { case (k, v, _) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
      val js = medians.map { case (k, _, j) => s"\"" + k + "\":" + j }.mkString("{", ",", "}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
        s"""{"queries":$qs,"jobs":$js,"floor_sec":$floorSec,"sf":${Verify.q(sfDir)}}""" + "\n")
      println(s"[subset] wrote $path (floor_sec $floorSec)")
    }
    Artifacts.clear()
    spark.stop()
  }
}
