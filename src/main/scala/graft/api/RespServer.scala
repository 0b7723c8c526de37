package graft.api

import org.json4s._
import org.json4s.jackson.JsonMethods

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

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
  * state, so no persistence is warranted. They are guarded by the
  * server's own monitor.
  */
final class RespServer(bk: Bikidata, port: Int = 0, numWorkers: Int = 1,
    inboundQueue: String = RespServer.DefaultQueue,
    ticketTtlMillis: Long = RespServer.DefaultTicketTtlMillis) {

  val pool = new WorkerPool(bk, numWorkers)

  // transport state, guarded by this server's monitor; a list leaves
  // `lists` (and its stamp `lastPush`) when it empties, like in Redis
  private val lists = mutable.HashMap.empty[String, java.util.ArrayDeque[Array[Byte]]]
  private val strings = mutable.HashMap.empty[String, Array[Byte]]
  @volatile private var running = true

  /** Last push time (millis) per live list, for the sweeper: an
    * envelope pushed onto a ticket whose client already gave up (BLPOP
    * timed out, or the request carried a bogus ticket) would otherwise
    * be retained for the server's lifetime. Any list idle past
    * [[ticketTtlMillis]] is reclaimed — far beyond the reference
    * client's poll window (workers.py:124 re-BLPOPs every few seconds). */
  private val lastPush = mutable.HashMap.empty[String, Long]

  private def push(key: String, vs: Seq[Array[Byte]], head: Boolean): Long = synchronized {
    val q = lists.getOrElseUpdate(key, new java.util.ArrayDeque[Array[Byte]]())
    vs.foreach(v => if (head) q.addFirst(v) else q.addLast(v))
    lastPush(key) = System.currentTimeMillis()
    q.size.toLong
  }

  /** Pop without minting: a missing key stays missing (polling a key
    * that never gets a push must not accumulate empty lists). */
  private def tryPop(key: String, head: Boolean): Array[Byte] = synchronized {
    lists.get(key) match {
      case Some(q) =>
        val v = if (head) q.pollFirst() else q.pollLast()
        if (q.isEmpty) dropList(key)
        v
      case None => null
    }
  }

  // callers hold the monitor
  private def dropList(key: String): Boolean = {
    lastPush.remove(key)
    lists.remove(key).isDefined
  }

  private def sweepIdleLists(): Unit = synchronized {
    val cutoff = System.currentTimeMillis() - ticketTtlMillis
    lastPush.collect { case (k, t) if t < cutoff => k }.foreach(dropList)
  }

  /** Route one inbound opts JSON through the pool; the completed
    * envelope lands on the request's ticket list. A request without a
    * ticket gets its result dropped, same as the reference worker
    * (workers.py:83-85 logs and continues). */
  private def dispatch(optsJson: Array[Byte]): Unit = {
    val json = new String(optsJson, UTF_8)
    // decoded once here; a payload that does not parse goes to the pool
    // as text, which answers it with the parse error's envelope
    val parsed =
      try Some(JsonMethods.parse(json))
      catch { case scala.util.control.NonFatal(_) => None }
    val ticket = parsed.map(_ \ "query_ticket").collect { case JString(t) if t.nonEmpty => t }
    parsed.fold(pool.submitAsync(json))(j => pool.submitAsync(j)).whenComplete { (res, err) =>
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
    * (0 = forever), scanning in key order like Redis BLPOP. The wait
    * re-scans every 5 ms, where Redis wakes it on push (ROADMAP item 4). */
  private def blockingPop(keys: Seq[String], timeoutSec: Double,
      head: Boolean): Option[(String, Array[Byte])] = {
    def firstHit = keys.iterator.map(k => k -> tryPop(k, head)).find(_._2 != null)
    val deadline =
      if (timeoutSec == 0) Long.MaxValue else System.nanoTime() + (timeoutSec * 1e9).toLong
    var hit = firstHit
    while (hit.isEmpty && running && System.nanoTime() < deadline) {
      Thread.sleep(5)
      hit = firstHit
    }
    hit
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
      // Redis holds no empty list, and a BLPOP needs a key and a timeout
      case "LPUSH" | "RPUSH" | "BLPOP" | "BRPOP" if args.length < 2 =>
        error(out, s"wrong number of arguments for '${name.toLowerCase}' command")
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
        if (timeout < 0) error(out, "timeout is negative")
        else blockingPop(keys, timeout, head = name == "BLPOP") match {
          case Some((k, v)) => array(out, Seq(k.getBytes(UTF_8), v))
          case None => array(out, null)
        }
      case "LPOP" => bulk(out, tryPop(str(0), head = true))
      case "RPOP" => bulk(out, tryPop(str(0), head = false))
      case "LLEN" =>
        integer(out, synchronized(lists.get(str(0)).fold(0L)(_.size.toLong)))
      case "DEL" =>
        integer(out, synchronized(args.map(new String(_, UTF_8)).count { k =>
          dropList(k) | strings.remove(k).isDefined
        }).toLong)
      case "EXISTS" =>
        integer(out, synchronized(args.map(new String(_, UTF_8)).count { k =>
          lists.contains(k) || strings.contains(k)
        }).toLong)
      case "SET" => synchronized(strings(str(0)) = args(1)); simple(out, "OK") // EX/PX accepted, unenforced
      case "GET" => bulk(out, synchronized(strings.get(str(0)).orNull))
      case other => error(out, s"unknown command '$other'")
    }
    true
  }

  private val acceptor = new Acceptor(port, "graft-resp")({ sock =>
    val in = new BufferedInputStream(sock.getInputStream)
    val out = new BufferedOutputStream(sock.getOutputStream)
    () => {
      // framing errors answer -ERR then close (Redis behavior); they
      // must not fall through to the acceptor's IOException catch
      // (silent close) or escape uncaught (dead client thread)
      val cmd =
        try readCommand(in)
        catch { case e: ProtocolError =>
          error(out, String.valueOf(e.getMessage)); out.flush(); null
        }
      val live =
        try handle(cmd, out)
        catch {
          case e: java.io.IOException => throw e
          case scala.util.control.NonFatal(e) =>
            error(out, String.valueOf(e).replaceAll("[\r\n]", " ")); true
        }
      out.flush()
      live
    }
  })
  def boundPort: Int = acceptor.boundPort

  WorkerPool.daemon(new Thread(() => {
    val tick = math.max(50L, math.min(ticketTtlMillis / 4, 30000L))
    while (running) {
      try Thread.sleep(tick) catch { case _: InterruptedException => () }
      if (running) sweepIdleLists()
    }
  }, "graft-resp-sweeper")).start()

  def close(): Unit = {
    acceptor.close()
    running = false
    pool.shutdown()
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
