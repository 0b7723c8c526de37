package graft.api

import org.json4s._
import org.json4s.jackson.JsonMethods

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingDeque, TimeUnit}

/** Redis-wire (RESP2) front end for [[WorkerPool]], closing the last
  * client-compat gap with the reference's queue tier: a STOCK bikidata
  * client — redis-py pointed at `REDIS_HOST` (workers.py:9-16) — can
  * connect here unchanged and run `query_async`/`insert_async`
  * (workers.py:115-150):
  *
  *  - `LPUSH bikidata:queries <opts json>` is intercepted and routed
  *    into the pool (the reference's redis_manager blpop loop,
  *    workers.py:38-70);
  *  - the result envelope is pushed onto the request's `query_ticket`
  *    list, where the client's `BLPOP <ticket> <timeout>` picks it up
  *    (workers.py:54,108,124);
  *  - results come from the facade's one result cache, keyed by the
  *    decoded opts with the reference's 7-day TTL (workers.py:88-106,
  *    [[Bikidata.queryJson]]); the client's `query_hash` is not read.
  *
  * Everything else a redis-py connection needs is implemented
  * generically: RESP2 framing (arrays of bulk strings in; simple
  * strings/errors/integers/bulk/arrays out), inline commands, and a
  * small command set (PING/ECHO/SELECT/CLIENT/AUTH/QUIT,
  * LPUSH/RPUSH/BLPOP/BRPOP/LPOP/RPOP/LLEN/DEL/EXISTS, GET/SET) over
  * in-process lists and strings — enough to run the reference client
  * verbatim, not a general Redis. Lists and strings live in THIS
  * server; they are transport state (tickets in flight), not data-plane
  * state, so no persistence is warranted.
  */
final class RespServer(bk: Bikidata, port: Int = 0, numWorkers: Int = 1,
    inboundQueue: String = RespServer.DefaultQueue,
    ticketTtlMillis: Long = RespServer.DefaultTicketTtlMillis) {

  val pool = new WorkerPool(bk, numWorkers)
  private val server = new java.net.ServerSocket(port)
  def boundPort: Int = server.getLocalPort
  @volatile private var running = true

  private val lists = new ConcurrentHashMap[String, LinkedBlockingDeque[Array[Byte]]]()
  private val strings = new ConcurrentHashMap[String, Array[Byte]]()

  /** All list mutation goes through [[push]]/[[tryPop]]: a pop that
    * drains a list removes it from the map (like Redis deletes empty
    * lists), and the {pop, remove-if-empty} / {still-mapped?, push}
    * pairs are each atomic under the deque's monitor — a push can never
    * land on a deque a concurrent pop just unmapped (it observes the
    * removal and retries against the fresh mapping). Without the
    * identity re-check, `LPUSH k v1 v2` racing a `BLPOP k` could strand
    * v2 on an orphaned deque. */
  @annotation.tailrec
  private def push(key: String, vs: Seq[Array[Byte]], head: Boolean): Long = {
    val q = lists.computeIfAbsent(key, _ => new LinkedBlockingDeque[Array[Byte]]())
    val n = q.synchronized {
      if (lists.get(key) eq q) {
        vs.foreach(v => if (head) q.addFirst(v) else q.addLast(v))
        lastPush.put(key, newStamp())
        q.size().toLong
      } else -1L
    }
    if (n >= 0) n else push(key, vs, head)
  }

  /** Pop without minting: a missing key stays missing (polling a key
    * that never gets a push must not accumulate empty deques). */
  private def tryPop(key: String, head: Boolean): Array[Byte] = {
    val q = lists.get(key)
    if (q == null) return null
    q.synchronized {
      val v = if (head) q.pollFirst() else q.pollLast()
      if (v != null && q.isEmpty) lists.remove(key, q)
      v
    }
  }

  /** Last push time per live list, for the sweeper: an envelope pushed
    * onto a ticket whose client already gave up (BLPOP timed out, or
    * the request carried a bogus ticket) would otherwise be retained
    * for the server's lifetime. Any list idle past [[ticketTtlMillis]]
    * is reclaimed — far beyond the reference client's poll window
    * (workers.py:124 re-BLPOPs every few seconds). */
  private val lastPush = new ConcurrentHashMap[String, java.lang.Long]()

  // Stamps are UNIQUE, not bare millis: the sweeper's drained-list
  // branch removes by value equality, and two pushes in the same
  // millisecond would make a stale stamp compare equal to a fresh one —
  // the remove would then orphan a live list from the sweep map (its
  // envelope retained forever, the exact leak the sweeper closes).
  // millis ride the high bits so age/ordering comparisons still hold;
  // the low 20 bits serialize up to ~1M pushes per millisecond.
  private val stampSerial = new java.util.concurrent.atomic.AtomicLong()
  private def newStamp(): Long =
    (System.currentTimeMillis() << 20) | (stampSerial.incrementAndGet() & 0xFFFFFL)

  private def sweepIdleLists(): Unit = {
    // a TTL past the clock origin (e.g. Long.MaxValue to disable
    // sweeping) would overflow the shifted cutoff into "everything is
    // stale" — clamp to never-stale instead; drained-stamp cleanup
    // below still runs
    val cutoffMs = System.currentTimeMillis() - ticketTtlMillis
    val cutoff = if (cutoffMs <= 0) Long.MinValue else cutoffMs << 20
    val it = lastPush.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val k = e.getKey
      val stamp = e.getValue
      val q = lists.get(k)
      // Everything is re-checked under the deque monitor: push() appends
      // and restamps inside the SAME monitor, so reading a fresh stamp
      // there means a push won the race — the list (now holding a live
      // envelope) and its stamp must both survive. Removing on the
      // stale observation alone would either drop a fresh stamp
      // (orphaning a live list from the only map this sweeper scans) or
      // unmap a deque holding a just-pushed envelope the client's BLPOP
      // is about to collect.
      if (q == null) lastPush.remove(k, stamp) // list already drained
      else if (stamp < cutoff) q.synchronized {
        val cur = lastPush.get(k)
        if (cur != null && cur <= stamp) {
          lists.remove(k, q)
          lastPush.remove(k, cur)
        }
      }
    }
  }

  /** Route one inbound opts JSON through the pool; the completed
    * envelope lands on the request's ticket list. A request without a
    * ticket gets its result dropped, same as the reference worker
    * (workers.py:83-85 logs and continues). */
  private def dispatch(optsJson: Array[Byte]): Unit = {
    val json = new String(optsJson, UTF_8)
    val ticket =
      try (JsonMethods.parse(json) \ "query_ticket") match {
        case JString(t) if t.nonEmpty => Some(t)
        case _ => None
      } catch { case scala.util.control.NonFatal(_) => None }
    pool.submitAsync(json).whenComplete { (res, err) =>
      val envelope = if (err == null) res else WorkerPool.errorEnvelope(err)
      ticket match {
        case Some(t) => push(t, Seq(envelope.getBytes(UTF_8)), head = true)
        case None => System.err.println("[resp] request had no query_ticket; result dropped")
      }
    }
  }

  // ------------------------------------------------------------ framing

  /** One CRLF-terminated line, excluding the terminator. Returns null at
    * EOF. */
  private def readLine(in: InputStream): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream(64)
    var b = in.read()
    if (b < 0) return null
    while (b >= 0 && b != '\n') { buf.write(b); b = in.read() }
    val a = buf.toByteArray
    if (a.nonEmpty && a(a.length - 1) == '\r') java.util.Arrays.copyOf(a, a.length - 1)
    else a
  }

  private def readN(in: InputStream, n: Int): Array[Byte] = {
    val a = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(a, off, n - off)
      if (r < 0) throw new java.io.EOFException("mid-bulk EOF")
      off += r
    }
    // trailing CRLF
    in.read(); in.read()
    a
  }

  /** Malformed RESP framing — reported to the client as `-ERR` before
    * the connection closes (like Redis), instead of killing the client
    * thread with an uncaught NumberFormatException. */
  private final class ProtocolError(msg: String) extends java.io.IOException(msg)

  private def intOr(s: String, what: String): Int =
    try s.trim.toInt
    catch { case _: NumberFormatException =>
      throw new ProtocolError(s"protocol error: invalid $what '$s'") }

  /** One client command: RESP array of bulk strings, or an inline
    * (space-separated) line. Returns null at EOF. */
  private def readCommand(in: InputStream): Seq[Array[Byte]] = {
    val line = readLine(in)
    if (line == null) return null
    if (line.isEmpty) return Seq.empty
    if (line(0) == '*') {
      val n = intOr(new String(line, 1, line.length - 1, UTF_8), "multibulk length")
      (0 until n).map { _ =>
        val hdr = readLine(in)
        if (hdr == null || hdr.isEmpty || hdr(0) != '$')
          throw new ProtocolError("protocol error: expected bulk string header")
        val len = intOr(new String(hdr, 1, hdr.length - 1, UTF_8), "bulk length")
        // a null bulk ($-1) is not a valid command element; any negative
        // length would otherwise throw NegativeArraySizeException in readN
        if (len < 0) throw new ProtocolError(s"protocol error: bulk length $len")
        readN(in, len)
      }
    } else new String(line, UTF_8).trim.split("\\s+").toSeq
      .filter(_.nonEmpty).map(_.getBytes(UTF_8))
  }

  private def simple(out: java.io.OutputStream, s: String): Unit =
    out.write(("+" + s + "\r\n").getBytes(UTF_8))
  private def error(out: java.io.OutputStream, s: String): Unit =
    // error text can echo raw client input (ProtocolError messages) —
    // strip CR/LF so the reply is exactly one RESP frame
    out.write(("-ERR " + s.replaceAll("[\r\n]", " ") + "\r\n").getBytes(UTF_8))
  private def integer(out: java.io.OutputStream, n: Long): Unit =
    out.write((":" + n + "\r\n").getBytes(UTF_8))
  private def bulk(out: java.io.OutputStream, v: Array[Byte]): Unit =
    if (v == null) out.write("$-1\r\n".getBytes(UTF_8))
    else { out.write(("$" + v.length + "\r\n").getBytes(UTF_8)); out.write(v); out.write("\r\n".getBytes(UTF_8)) }
  private def array(out: java.io.OutputStream, vs: Seq[Array[Byte]]): Unit =
    if (vs == null) out.write("*-1\r\n".getBytes(UTF_8))
    else { out.write(("*" + vs.length + "\r\n").getBytes(UTF_8)); vs.foreach(bulk(out, _)) }

  // ----------------------------------------------------------- commands

  /** Block on the first non-empty list among `keys` until `timeoutSec`
    * (0 = forever), scanning in key order like Redis BLPOP. */
  private def blockingPop(keys: Seq[String], timeoutSec: Double,
      head: Boolean): Option[(String, Array[Byte])] = {
    val deadline =
      if (timeoutSec <= 0) Long.MaxValue
      else System.nanoTime() + (timeoutSec * 1e9).toLong
    while (running) {
      for (k <- keys) {
        val v = tryPop(k, head)
        if (v != null) return Some((k, v))
      }
      if (System.nanoTime() >= deadline) return None
      // multi-key wait: a short poll beats wiring takeFirst interrupts
      // across keys; ticket lists get their push within one tick
      Thread.sleep(5)
    }
    None
  }

  private def handle(cmd: Seq[Array[Byte]], out: java.io.OutputStream): Boolean = {
    if (cmd == null) return false
    if (cmd.isEmpty) return true
    val name = new String(cmd.head, UTF_8).toUpperCase
    val args = cmd.tail
    def str(i: Int): String = new String(args(i), UTF_8)
    name match {
      case "PING" => if (args.nonEmpty) bulk(out, args(0)) else simple(out, "PONG")
      case "ECHO" => bulk(out, args(0))
      case "SELECT" | "AUTH" => simple(out, "OK")
      case "CLIENT" => simple(out, "OK") // SETINFO/SETNAME from redis-py
      case "QUIT" => simple(out, "OK"); return false
      case "LPUSH" | "RPUSH" =>
        val key = str(0)
        if (key == inboundQueue) {
          // reply with the pushed count, honoring the wire contract
          // (real Redis returns the resulting list length; the inbound
          // queue drains immediately, so the count of values accepted
          // is the faithful equivalent — a stock client pushing a batch
          // checks this)
          args.drop(1).foreach(dispatch)
          integer(out, args.length - 1L)
        } else {
          integer(out, push(key, args.drop(1), head = name == "LPUSH"))
        }
      case "BLPOP" | "BRPOP" =>
        val timeout = str(args.length - 1).toDouble
        val keys = args.dropRight(1).map(new String(_, UTF_8))
        blockingPop(keys, timeout, head = name == "BLPOP") match {
          case Some((k, v)) => array(out, Seq(k.getBytes(UTF_8), v))
          case None => array(out, null)
        }
      case "LPOP" => bulk(out, tryPop(str(0), head = true))
      case "RPOP" => bulk(out, tryPop(str(0), head = false))
      case "LLEN" =>
        integer(out, Option(lists.get(str(0))).map(_.size().toLong).getOrElse(0L))
      case "DEL" =>
        integer(out, args.map(new String(_, UTF_8)).count { k =>
          val q = lists.get(k)
          // unmap under the deque's monitor so a concurrent push either
          // completes first (values discarded, DEL semantics) or
          // observes the removal and recreates the key
          val removedList =
            q != null && q.synchronized(lists.remove(k, q))
          removedList | (strings.remove(k) != null)
        }.toLong)
      case "EXISTS" =>
        integer(out, args.map(new String(_, UTF_8)).count { k =>
          lists.containsKey(k) || strings.containsKey(k)
        }.toLong)
      case "SET" => strings.put(str(0), args(1)); simple(out, "OK") // EX/PX accepted, unenforced
      case "GET" => bulk(out, strings.get(str(0)))
      case other => error(out, s"unknown command '$other'")
    }
    true
  }

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        val t = new Thread(() => {
          try {
            val in = new BufferedInputStream(sock.getInputStream)
            val out = new BufferedOutputStream(sock.getOutputStream)
            var live = true
            while (live && running) {
              // framing errors answer -ERR then close (Redis behavior);
              // they must not fall through to the IOException catch below
              // (silent close) or escape uncaught (dead client thread)
              val cmd =
                try readCommand(in)
                catch { case e: ProtocolError =>
                  error(out, String.valueOf(e.getMessage)); out.flush(); null
                }
              live =
                try handle(cmd, out)
                catch {
                  case e: java.io.IOException => throw e
                  case scala.util.control.NonFatal(e) =>
                    error(out, String.valueOf(e).replaceAll("[\r\n]", " ")); true
                }
              out.flush()
            }
          } catch { case _: java.io.IOException => () }
          finally sock.close()
        })
        t.setDaemon(true)
        t.start()
      } catch { case _: java.io.IOException => () } // closed during accept
    }
  }, "graft-resp-acceptor")
  acceptor.setDaemon(true)
  acceptor.start()

  private val sweeper = new Thread(() => {
    val tick = math.max(50L, math.min(ticketTtlMillis / 4, 30000L))
    while (running) {
      try Thread.sleep(tick) catch { case _: InterruptedException => () }
      if (running) sweepIdleLists()
    }
  }, "graft-resp-sweeper")
  sweeper.setDaemon(true)
  sweeper.start()

  def close(): Unit = {
    running = false
    pool.shutdown()
    server.close()
  }
}

object RespServer {
  /** The reference's inbound queue name (WORKER_FETCH_Q, workers.py:19). */
  val DefaultQueue = "bikidata:queries"
  /** Reclaim ticket lists idle this long (10 min — orders of magnitude
    * past any client BLPOP window, far below the envelope cache's
    * 7-day TTL which owns result retention). */
  val DefaultTicketTtlMillis: Long = 10 * 60 * 1000L
}
