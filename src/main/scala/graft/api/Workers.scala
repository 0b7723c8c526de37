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
  *  - N worker threads drain the ready queue and answer queries through
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

  private final case class Req(json: String,
      promise: java.util.concurrent.CompletableFuture[String])

  private val inQ = new java.util.concurrent.LinkedBlockingQueue[Req]()
  private val readyQ = new java.util.concurrent.LinkedBlockingQueue[Req]()
  @volatile private var running = true

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
    * workers.py:54,108). */
  def submitAsync(optsJson: String): java.util.concurrent.CompletableFuture[String] = {
    val p = new java.util.concurrent.CompletableFuture[String]()
    inQ.put(Req(optsJson, p))
    p
  }

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

  private val manager = new Thread(() => {
    while (running) {
      val req = inQ.poll(200, java.util.concurrent.TimeUnit.MILLISECONDS)
      if (req != null) {
        try {
          val parsed = JsonMethods.parse(req.json)
          (parsed \ "action") match {
            case JString("insert") | JString("delete") =>
              // inline in the manager: the single writer
              req.promise.complete(runMutation(parsed))
            case _ => readyQ.put(req)
          }
        } catch { case e: Exception =>
          req.promise.complete(WorkerPool.errorEnvelope(e))
        }
      }
    }
  }, "graft-worker-manager")

  private val workers = (1 to numWorkers).map { i =>
    new Thread(() => {
      while (running) {
        val req = readyQ.poll(200, java.util.concurrent.TimeUnit.MILLISECONDS)
        if (req != null) {
          try req.promise.complete(bk.queryJson(req.json))
          catch { case e: Exception =>
            req.promise.complete(WorkerPool.errorEnvelope(e))
          }
        }
      }
    }, s"graft-worker-$i")
  }

  (manager +: workers).foreach { t => t.setDaemon(true); t.start() }

  def shutdown(): Unit = running = false
}

object WorkerPool {
  /** The reference worker's error envelope, with `json.dumps` separators
    * (`", "` and `": "`) so every transport emits the same bytes. */
  private[api] def errorEnvelope(e: Throwable): String =
    """{"error": "Failed to process query", "trace": """ +
      JsonMethods.compact(JsonMethods.render(JString(String.valueOf(e)))) + "}"
}

/** TCP front end for [[WorkerPool]]: one line-delimited JSON request per
  * line in, one response line out — the cross-process transport the
  * reference gets from Redis lists. */
final class WorkerServer(bk: Bikidata, port: Int = 0, numWorkers: Int = 1) {
  val pool = new WorkerPool(bk, numWorkers)
  private val server = new java.net.ServerSocket(port)
  def boundPort: Int = server.getLocalPort
  @volatile private var running = true

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        val t = new Thread(() => {
          val in = new java.io.BufferedReader(
            new java.io.InputStreamReader(sock.getInputStream, "UTF-8"))
          val out = new java.io.PrintWriter(
            new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8"), true)
          try {
            var line = in.readLine()
            while (line != null && running) {
              if (line.trim.nonEmpty) {
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
              line = in.readLine()
            }
          } catch { case _: java.io.IOException => () }
          finally sock.close()
        })
        t.setDaemon(true)
        t.start()
      } catch { case _: java.io.IOException => () } // closed during accept
    }
  }, "graft-worker-acceptor")
  acceptor.setDaemon(true)
  acceptor.start()

  def close(): Unit = {
    running = false
    pool.shutdown()
    server.close()
  }
}
