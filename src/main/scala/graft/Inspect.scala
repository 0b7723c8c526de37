package graft

/** Dev tool: time one named query (optionally after warmup) and dump its
  * formatted physical plan — the `.explain`-and-iterate loop of the
  * build instructions. Usage:
  *   runMain graft.Inspect <queryName> [sfDir] [--explain] [--cold]
  */
object Inspect {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    // first non-flag token after the name, wherever it sits — a flag
    // before the dir must not silently fall back to the default sf
    val sfDir = args.drop(1).find(!_.startsWith("--"))
      .getOrElse("/root/testdata/sf0.01")
    val doExplain = args.contains("--explain")
    val cold = args.contains("--cold")
    val spark = Bench.session()
    spark.sparkContext.setLogLevel("WARN")
    if (!cold) SparkEntry.warmup(spark, sfDir)
    val fn = SparkEntry.queries(name)
    for (i <- 1 to 2) {
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val n = df.count()
      println(f"[inspect] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s, $n rows")
      if (doExplain && i == 1) df.explain("formatted")
    }
    spark.stop()
  }
}
