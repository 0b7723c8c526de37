package graft

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** The per-input artifacts the query harness builds once per sfDir and
  * shares across gates: eagerly localCheckpoint'd frames and driver-local
  * fitted values, keyed by (name, sfDir).
  *
  * Builds nest (pipelineCleaned → pipelineCanon → qlrModel → docsPar),
  * and a nested computeIfAbsent on one ConcurrentHashMap throws
  * "Recursive update". So the map only creates a per-key [[Slot]] and the
  * build runs in the slot's lazy val, outside the map's lock: concurrent
  * callers of one key see one build, and a build that throws leaves the
  * slot empty, so the next call retries. */
object Artifacts {
  private final class Slot(build: => Any) { lazy val value: Any = build }
  private val slots = new ConcurrentHashMap[(String, String), Slot]()

  def apply[A](name: String, dir: String)(build: => A): A =
    slots.computeIfAbsent((name, dir), _ => new Slot(build)).value.asInstanceOf[A]

  /** Drop every entry (checkpoint blocks are freed once unreferenced).
    * Harness lifecycle hook — not needed between queries. */
  def clear(): Unit = slots.clear()

  /** The names with an entry, for the test that pins the set. */
  def names: Set[String] = slots.keySet.asScala.map(_._1).toSet
}
