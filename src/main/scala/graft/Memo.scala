package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Values built at most once per key, on first use: the lifecycle of
  * [[Artifacts]] and of each [[graft.algebra.EngineContext]]'s derived
  * structures.
  *
  * Builds nest (a cached plan compiles probes that cache themselves),
  * and a nested computeIfAbsent on one ConcurrentHashMap throws
  * "Recursive update". So the map only creates a per-key [[Slot]] and the
  * build runs in the slot's lazy val, outside the map's lock: concurrent
  * callers of one key see one build, and a build that throws leaves the
  * slot empty, so the next call retries.
  *
  * A [[pinned]] entry holds something that outlives a reference
  * (persisted blocks, a broadcast, driver arrays) and carries the action
  * that releases it. [[clear]] drops every entry and releases the built
  * ones; it never forces or waits on a build in progress. A build that
  * finishes after its entry was dropped hands its value to its callers
  * and releases it: nothing dropped stays pinned. [[retire]] clears and
  * stops keeping anything, for a memo whose inputs are gone.
  * [[handOver]] moves built pinned entries to another memo, which from
  * then on keeps and releases them.
  *
  * Past `maxEvictable` entries, every entry without a release action is
  * dropped (they cost only a rebuild); pinned entries never are. */
final class Memo[K](maxEvictable: Int = Int.MaxValue) {
  import Memo.Slot

  private val slots = new ConcurrentHashMap[K, Slot]()
  @volatile private var closed = false
  private val buildCount = new AtomicLong()

  /** The value of `key`, built by `build` at the first call. */
  def apply[A](key: K)(build: => A): A = get(key, None, build)

  /** [[apply]] for a value that holds resources: `release` frees them
    * when the entry is dropped, and the overflow bound never drops it. */
  def pinned[A](key: K, release: A => Unit)(build: => A): A =
    get(key, Some(release.asInstanceOf[Any => Unit]), build)

  private def get[A](key: K, release: Option[Any => Unit], build: => A): A = {
    val fresh = new Slot({ buildCount.incrementAndGet(); build }, release, this)
    val slot = if (closed) fresh else slots.computeIfAbsent(key, _ => fresh)
    if ((slot eq fresh) && !closed && release.isEmpty && slots.size > maxEvictable)
      slots.values.removeIf(s => s.release.isEmpty && (s ne fresh))
    val v = slot.value
    // retire() may have run its sweep before this slot went in
    if (closed) slots.remove(key, slot)
    if (slots.get(key) ne slot) slot.free(this)
    v.asInstanceOf[A]
  }

  /** Drop every entry, releasing the built ones. */
  def clear(): Unit = {
    val it = slots.values.iterator()
    while (it.hasNext) { val s = it.next(); it.remove(); s.free(this) }
  }

  /** Move the built pinned entries of `keys` to `to`, which from then on
    * keeps them and releases them; this memo no longer does. An entry
    * still building, or already released, stays here. */
  def handOver(keys: Iterable[K], to: Memo[K]): Unit = keys.foreach { k =>
    val s = slots.get(k)
    if (s != null && s.release.isDefined && s.moveTo(to)) {
      slots.remove(k, s)
      if ((to.slots.putIfAbsent(k, s) ne null) || to.closed) {
        to.slots.remove(k, s); s.free(to)
      }
    }
  }

  /** Stop keeping values and [[clear]]: later calls still get a value,
    * built for the caller and released at once. */
  def retire(): Unit = { closed = true; clear() }

  def retired: Boolean = closed

  /** Builds run so far, retries and uncached builds included. */
  def builds: Long = buildCount.get

  def keys: Set[K] = slots.keySet.asScala.toSet
}

object Memo {
  /** One entry: built at most once, released at most once, and only by
    * the memo that owns it ([[Memo.handOver]] changes the owner). */
  private final class Slot(build: => Any, val release: Option[Any => Unit],
      private var owner: AnyRef) {
    @volatile private var built = false
    private var released = false
    // not the slot's own monitor: the lazy val holds that while it builds
    private val lock = new Object
    lazy val value: Any = { val v = build; built = true; v }

    /** Release the value once, if it was built and `by` owns it; never
      * forces or waits on a build. */
    def free(by: AnyRef): Unit = {
      val now = lock.synchronized {
        val go = built && (owner eq by) && !released
        if (go) released = true
        go
      }
      if (now) release.foreach(_(value))
    }

    /** Make `to` the owner of a built, unreleased value. */
    def moveTo(to: AnyRef): Boolean = lock.synchronized {
      val go = built && !released
      if (go) owner = to
      go
    }
  }
}
