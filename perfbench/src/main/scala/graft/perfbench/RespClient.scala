package graft.perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

/** The reference client's side of the queue protocol, over one socket:
  * `LPUSH bikidata:queries <opts + query_ticket + query_hash>`, then
  * `BLPOP <ticket> <timeout>` for the envelope. One instance per client
  * thread; not thread-safe. */
final class RespClient(port: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  sock.setSoTimeout(120000)
  private val in = new BufferedInputStream(sock.getInputStream)
  private val out = new BufferedOutputStream(sock.getOutputStream)
  private var serial = 0L
  private val prefix = s"bench-${System.identityHashCode(this)}-${System.nanoTime()}"

  private def command(args: String*): Unit = {
    out.write(s"*${args.length}\r\n".getBytes(UTF_8))
    args.foreach { a =>
      val b = a.getBytes(UTF_8)
      out.write(s"$$${b.length}\r\n".getBytes(UTF_8))
      out.write(b)
      out.write("\r\n".getBytes(UTF_8))
    }
    out.flush()
  }

  private def line(): String = {
    val buf = new ByteArrayOutputStream(64)
    var b = in.read()
    while (b >= 0 && b != '\n') { buf.write(b); b = in.read() }
    if (b < 0) throw new java.io.EOFException("server closed the connection")
    val s = buf.toString(UTF_8)
    if (s.endsWith("\r")) s.dropRight(1) else s
  }

  private def bulk(n: Int): String = {
    val a = in.readNBytes(n)
    in.read(); in.read() // CRLF
    new String(a, UTF_8)
  }

  /** One reply: integer/simple → its text, bulk → its payload, array →
    * its elements (null bulk/array → None). Errors throw. */
  private def reply(): Option[Seq[String]] = {
    val h = line()
    h.head match {
      case '+' | ':' => Some(Seq(h.tail))
      case '-' => throw new IllegalStateException(s"server error: ${h.tail}")
      case '$' =>
        val n = h.tail.toInt
        if (n < 0) None else Some(Seq(bulk(n)))
      case '*' =>
        val n = h.tail.toInt
        if (n < 0) None
        else Some((0 until n).map { _ =>
          val bh = line()
          require(bh.head == '$', s"expected bulk element, got '$bh'")
          bulk(bh.tail.toInt)
        })
      case other => throw new IllegalStateException(s"bad reply type '$other'")
    }
  }

  /** Send one opts JSON object with a fresh ticket and its content-derived
    * `query_hash`, and block for its envelope. */
  def call(json: String, hash: String, timeoutSec: Int = 120): String = {
    serial += 1
    val ticket = s"$prefix-$serial"
    require(json.endsWith("}"), "request must be a JSON object")
    val extra = s""","query_ticket":"$ticket","query_hash":"$hash"}"""
    command("LPUSH", graft.api.RespServer.DefaultQueue, json.dropRight(1) + extra)
    reply()
    command("BLPOP", ticket, timeoutSec.toString)
    reply() match {
      case Some(Seq(_, v)) => v
      case _ => throw new java.util.concurrent.TimeoutException(s"no envelope for $ticket")
    }
  }

  def close(): Unit = sock.close()
}

object RespClient {
  /** md5 of the canonical opts string — the reference client's
    * content-derived cache key. */
  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map("%02x".format(_)).mkString
}
