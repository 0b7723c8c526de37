package graft

/** The per-input artifacts the query harness builds once per sfDir and
  * shares across gates: eagerly localCheckpoint'd frames and driver-local
  * fitted values, keyed by (name, sfDir).
  *
  * Builds nest (pipelineCleaned → pipelineCanon → qlrModel → docsPar);
  * the [[Memo]] runs each outside its map's lock, one build per key under
  * concurrency, and retries a build that threw. */
object Artifacts {
  private val memo = new Memo[(String, String)]()

  def apply[A](name: String, dir: String)(build: => A): A = memo((name, dir))(build)

  /** Drop every entry (checkpoint blocks are freed once unreferenced).
    * Harness lifecycle hook — not needed between queries. */
  def clear(): Unit = memo.clear()

  /** The names with an entry, for the test that pins the set. */
  def names: Set[String] = memo.keys.map(_._1)
}
