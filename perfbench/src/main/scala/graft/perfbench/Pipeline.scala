package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** A serial pass over pipeline operators (`SparkEntry.queries` entries)
  * on the benchmark's documents / embeddings / events tables, for the
  * `ops` per-layer metrics. Each operator is timed with an action that
  * hashes every output column, so column pruning cannot skip work; its
  * output and DuckDB oracle SQL are dumped for the compare run.py makes. */
object Pipeline {
  val Operators: Seq[String] = Seq("q_doc_bigram_nll", "q_doc_dup_strip",
    "q_events_sessions", "q_events_window", "q_doc_decontam_report", "q_doc_tfidf",
    "q_doc_oov", "q_doc_pipeline", "q_doc_boilerplate", "q_emb_prototypes")

  /** Operators whose oracle SQL is not dumped, so tools/check.py gives them
    * its non-empty-rows check instead: q_doc_pipeline's oracle (a
    * recursive-CTE replay of the greedy admission walk) takes about 150 s
    * in DuckDB on these 500 documents, past a run's time limit. Its
    * measured digest is still checked against its dumped output. */
  val NoOracle: Set[String] = Set("q_doc_pipeline")

  /** Order-independent digest over all columns: (rows, xor, sum mod p). */
  def digest(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
    val r = df.select(count(lit(1)), coalesce(bit_xor(h), lit(0L)),
      coalesce(sum(h % 1000000007L), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  final case class OpStats(ms: Double, jobs: Int, shuffleBytes: Long, digest: (Long, Long, Long))

  /** One untimed pass that dumps every operator's output (it also fits
    * the per-corpus artifacts and compiles the plans), then one measured
    * pass. Returns per-operator stats, the pass time, and the operators
    * whose measured digest differs from their dumped output's. */
  def run(spark: SparkSession, dir: String, outDir: String, trace: Trace)
      : (Seq[(String, OpStats)], Double, Seq[String]) = {
    Operators.foreach { name =>
      graft.SparkEntry.queries(name)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
    }
    val t0 = System.nanoTime()
    val measured = Operators.map { name =>
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val d = digest(graft.SparkEntry.queries(name)(spark, dir))
      val ms = (System.nanoTime() - t0) / 1e6
      val js = trace.jobsIn(w0, System.currentTimeMillis())
      name -> OpStats(ms, js.size, js.flatMap(_._2).map(s => s.shuffleRead + s.shuffleWrite).sum, d)
    }
    val passS = (System.nanoTime() - t0) / 1e9
    val unstable = measured.collect {
      case (n, st) if digest(spark.read.parquet(s"$outDir/$n")) != st.digest => n
    }
    // the oracle side of the DuckDB compare (the Verify dump format)
    val a0 = System.nanoTime()
    graft.PipelineQueries.exportOracleAux(spark, dir)
    System.err.println(f"[perfbench] oracle aux export ${(System.nanoTime() - a0) / 1e9}%.1f s")
    val sql = Operators.filterNot(NoOracle).map(n =>
      s"${Main.js(n)}:${Main.js(graft.SparkEntry.oracleSql(n))}")
    Files.writeString(Paths.get(outDir, "oracle_sql.json"), sql.mkString("{", ",", "}"))
    (measured, passS, unstable)
  }
}
