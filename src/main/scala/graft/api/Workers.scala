package graft.api

import graft.ingest.Quad
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Single-writer queue tier mirroring the reference's Redis
  * manager/worker processes (workers.py:27-108) without the Redis
  * dependency:
  *
  *  - ONE manager thread drains the inbound queue and executes
  *    insert/delete INLINE — the single-writer routing that serializes
  *    all mutations (redis_manager, workers.py:39-70);
  *  - a fixed pool of N worker threads answers queries through
  *    [[Bikidata.queryJson]], whose result cache is the only one
  *    (redis_worker, workers.py:73-108) — the pool only routes;
  *  - clients get a ticket future and block with a timeout
  *    (query_async, workers.py:115-128).
  *
  * Spark jobs are already cluster-parallel, so "workers" are threads in
  * the session JVM rather than forked OS processes; [[WorkerServer]]
  * replaces the Redis transport with a line-delimited-JSON TCP socket
  * for cross-process clients.
  */
final class WorkerPool(bk: Bikidata, numWorkers: Int = 1) {
  import java.util.concurrent.{CompletableFuture, RejectedExecutionException}

  @volatile private var running = true
  private val manager = WorkerPool.daemonPool(1, "graft-worker-manager")
  private val workers = WorkerPool.daemonPool(numWorkers, "graft-worker")

  /** The facade's result-cache hit counter. */
  val cacheHits = bk.cacheHits

  /** Submit a request (reference opts JSON: a query dict, or
    * `{"action": "insert"|"delete", "data": [{s,p,o,g}], ...}`) and wait
    * for its result envelope. */
  def submit(optsJson: String, timeoutSeconds: Long = 60L): String = {
    val p = submitAsync(optsJson)
    try p.get(timeoutSeconds, java.util.concurrent.TimeUnit.SECONDS)
    catch { case _: java.util.concurrent.TimeoutException =>
      throw new java.util.concurrent.TimeoutException(
        s"query timed out after ${timeoutSeconds}s")
    }
  }

  /** Fire-and-collect submit for transports that deliver the result out
    * of band (the RESP adapter pushes it onto the request's ticket
    * list, the way redis_manager/redis_worker lpush to `query_ticket`,
    * workers.py:54,108). After [[shutdown]] the future completes at once
    * with an error envelope. */
  def submitAsync(optsJson: String): CompletableFuture[String] =
    enqueue(JsonMethods.parse(optsJson))

  /** [[submitAsync]] for a request its transport already decoded. */
  private[api] def submitAsync(request: JValue): CompletableFuture[String] =
    enqueue(request)

  private def enqueue(request: => JValue): CompletableFuture[String] = {
    val p = new CompletableFuture[String]()
    try manager.execute(() => route(request, p))
    catch { case _: RejectedExecutionException => p.complete(WorkerPool.shutDownEnvelope) }
    p
  }

  /** On the manager thread: the request decodes (once; a payload that
    * does not parse gets an error envelope), then mutations run inline,
    * so they are serialized in arrival order (the single writer), and
    * queries go to the workers. */
  private def route(request: => JValue, p: CompletableFuture[String]): Unit =
    try {
      val parsed = request
      (parsed \ "action") match {
        case JString("insert") | JString("delete") => answer(p)(runMutation(parsed))
        case _ => workers.execute(() => answer(p)(bk.queryJson(parsed, useCache = true)))
      }
    } catch {
      case _: RejectedExecutionException => p.complete(WorkerPool.shutDownEnvelope)
      case e: Exception => p.complete(WorkerPool.errorEnvelope(e))
    }

  /** Completes `p` with what `body` renders, or with an error envelope
    * when it throws or the pool is shut down, so no request queued at
    * [[shutdown]] is left waiting. */
  private def answer(p: CompletableFuture[String])(body: => String): Unit =
    p.complete(
      if (!running) WorkerPool.shutDownEnvelope
      else try body catch { case e: Exception => WorkerPool.errorEnvelope(e) })

  /** Runs the mutation and renders its result envelope. The facade
    * retires cached results itself when the store changed. */
  private def runMutation(parsed: JValue): String = {
    implicit val fmts: Formats = DefaultFormats
    val action = (parsed \ "action").extract[String]
    val areHashes = (parsed \ "are_hashes").extractOrElse[Boolean](false)
    val data = (parsed \ "data") match {
      case JArray(items) => items.map { it =>
        ((it \ "s").extractOrElse[String](""), (it \ "p").extractOrElse[String](""),
          (it \ "o") match {
            case JString(o) => Some(o)
            case JNull | JNothing => None
            case other => Some(other.extract[String])
          },
          (it \ "g").extractOrElse[String](""))
      }
      case _ => Nil
    }
    val res = action match {
      case "insert" =>
        bk.insert(data.map { case (s, p, o, g) => Quad(s, p, o.getOrElse(""), g) })
      case "delete" =>
        bk.delete(data, areHashes)
      case other =>
        graft.store.MutationResult(error = Some(s"unknown action: $other"))
    }
    val fields: List[JField] = List(
      "triples_inserted" -> JInt(res.triplesInserted),
      "iris_inserted" -> JInt(res.irisInserted),
      "literals_inserted" -> JInt(res.literalsInserted),
      "triples_deleted" -> JInt(res.triplesDeleted)) ++
      res.error.map(e => JField("error", JString(e))).toList
    JsonMethods.compact(JsonMethods.render(JObject(fields)))
  }

  /** Stops taking work. Queries already running finish; every request
    * still queued, or submitted later, gets an error envelope. */
  def shutdown(): Unit = {
    running = false
    manager.shutdown()
    workers.shutdown()
  }
}

object WorkerPool {
  /** The reference worker's error envelope, with `json.dumps` separators
    * (`", "` and `": "`) so every transport emits the same bytes. */
  private[api] def errorEnvelope(e: Throwable): String =
    """{"error": "Failed to process query", "trace": """ +
      JsonMethods.compact(JsonMethods.render(JString(String.valueOf(e)))) + "}"

  private val shutDownEnvelope =
    errorEnvelope(new IllegalStateException("worker pool is shut down"))

  private def daemonPool(n: Int, name: String): java.util.concurrent.ExecutorService = {
    val serial = new java.util.concurrent.atomic.AtomicInteger()
    java.util.concurrent.Executors.newFixedThreadPool(n,
      r => daemon(new Thread(r, s"$name-${serial.incrementAndGet()}")))
  }

  private[api] def daemon(t: Thread): Thread = { t.setDaemon(true); t }
}

/** The accept loop of the TCP front ends: a daemon thread accepts, and
  * each connection runs on a daemon thread of its own. `session` sets
  * up a connection and returns its step, which answers one request and
  * returns false at EOF; steps repeat until then or until [[close]].
  * The socket closes when the session ends or breaks. */
private[api] final class Acceptor(port: Int, name: String)(
    session: java.net.Socket => () => Boolean) {
  private val server = new java.net.ServerSocket(port)
  @volatile private var running = true
  def boundPort: Int = server.getLocalPort

  WorkerPool.daemon(new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        WorkerPool.daemon(new Thread(() => {
          try {
            val step = session(sock)
            while (running && step()) ()
          } catch { case _: java.io.IOException => () }
          finally sock.close()
        })).start()
      } catch { case _: java.io.IOException => () } // closed during accept
    }
  }, s"$name-acceptor")).start()

  def close(): Unit = {
    running = false
    server.close()
  }
}

/** TCP front end for [[WorkerPool]]: one line-delimited JSON request per
  * line in, one response line out — the cross-process transport the
  * reference gets from Redis lists. */
final class WorkerServer(bk: Bikidata, port: Int = 0, numWorkers: Int = 1) {
  val pool = new WorkerPool(bk, numWorkers)
  private val acceptor = new Acceptor(port, "graft-worker")({ sock =>
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(sock.getInputStream, "UTF-8"))
    val out = new java.io.PrintWriter(
      new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8"), true)
    () => {
      val line = in.readLine()
      if (line != null && line.trim.nonEmpty) {
        // a slow query (pool.submit TimeoutException) or any other
        // per-request failure gets an error ENVELOPE on the wire —
        // it must not kill the connection thread mid-protocol
        val resp =
          try pool.submit(line)
          catch {
            case e: java.io.IOException => throw e // socket itself broke
            case scala.util.control.NonFatal(e) => WorkerPool.errorEnvelope(e)
          }
        out.println(resp.replace("\n", " "))
      }
      line != null
    }
  })
  def boundPort: Int = acceptor.boundPort

  def close(): Unit = {
    acceptor.close()
    pool.shutdown()
  }
}
