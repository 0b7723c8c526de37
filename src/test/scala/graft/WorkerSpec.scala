package graft

import graft.api.{Bikidata, RespServer, WorkerPool, WorkerServer}

/** The queue tier end to end: two concurrent TCP clients through the
  * socket front end, single-writer mutation routing, result-cache hits —
  * the reference's manager/worker contract (workers.py:27-108) without
  * Redis. */
class WorkerSpec extends SparkSpec {

  private def client(port: Int): (java.io.PrintWriter, java.io.BufferedReader, java.net.Socket) = {
    val sock = new java.net.Socket("127.0.0.1", port)
    val out = new java.io.PrintWriter(
      new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8"), true)
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(sock.getInputStream, "UTF-8"))
    (out, in, sock)
  }

  test("two concurrent clients, mutations inline, queries cached") {
    val dir = java.nio.file.Files.createTempDirectory("graft-worker").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/data.nt"),
      """<http://ex/a> <http://www.w3.org/2000/01/rdf-schema#label> "alpha thing" .
        |<http://ex/b> <http://www.w3.org/2000/01/rdf-schema#label> "beta thing" .
        |""".stripMargin)
    val bk = new Bikidata(spark, s"$dir/wh")
    assert(bk.build(Seq(s"$dir/data.nt")) === 2)

    val srv = new WorkerServer(bk, port = 0, numWorkers = 2)
    try {
      val q = """{"filters":[{"p":"fts","o":"alpha"}]}"""

      // two clients issue the same query concurrently
      val (out1, in1, s1) = client(srv.boundPort)
      val (out2, in2, s2) = client(srv.boundPort)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val f1 = Future { out1.println(q); in1.readLine() }
      val f2 = Future { out2.println(q); in2.readLine() }
      val (r1, r2) = (Await.result(f1, 60.seconds), Await.result(f2, 60.seconds))
      assert(r1.contains("<http://ex/a>") && r2.contains("<http://ex/a>"))
      assert(r1 === r2)

      // a repeat of the same opts is a cache hit
      val before = srv.pool.cacheHits.get()
      out1.println(q)
      assert(in1.readLine().contains("<http://ex/a>"))
      assert(srv.pool.cacheHits.get() > before)

      // mutation routed inline by the manager (single writer)
      out2.println("""{"action":"insert","data":[{"s":"<http://ex/c>","p":"<http://www.w3.org/2000/01/rdf-schema#label>","o":"\"gamma thing\"","g":""}]}""")
      val ins = in2.readLine()
      assert(ins.contains("\"triples_inserted\":1"), ins)
      assert(bk.total() === 3)

      // new data visible to a fresh query through the pool
      out1.println("""{"filters":[{"p":"fts","o":"gamma"}]}""")
      assert(in1.readLine().contains("<http://ex/c>"))

      // delete through the queue as well
      out2.println("""{"action":"delete","data":[{"s":"<http://ex/c>","p":"<http://www.w3.org/2000/01/rdf-schema#label>","o":null,"g":""}]}""")
      val del = in2.readLine()
      assert(del.contains("\"triples_deleted\":1"), del)
      assert(bk.total() === 2)

      // unknown actions fall through to the query path (reference
      // redis_manager only special-cases insert/delete, workers.py:48)
      out1.println("""{"action":"explode","data":[]}""")
      assert(in1.readLine().contains("\"results\":{}"))

      s1.close(); s2.close()
    } finally srv.close()
  }

  /** Minimal RESP2 client mirroring what redis-py does on the wire for
    * the reference's query_async (workers.py:115-128): commands go out
    * as arrays of bulk strings; replies are simple strings, integers,
    * bulk strings, or arrays. */
  private final class RespClient(port: Int) {
    private val sock = new java.net.Socket("127.0.0.1", port)
    private val out = new java.io.BufferedOutputStream(sock.getOutputStream)
    private val in = new java.io.BufferedInputStream(sock.getInputStream)

    def cmd(parts: String*): Any = {
      val sb = new StringBuilder(s"*${parts.length}\r\n")
      parts.foreach { p =>
        sb.append("$").append(p.getBytes("UTF-8").length).append("\r\n")
          .append(p).append("\r\n")
      }
      out.write(sb.toString.getBytes("UTF-8")); out.flush()
      reply()
    }

    private def line(): String = {
      val b = new StringBuilder
      var c = in.read()
      while (c >= 0 && c != '\n') { if (c != '\r') b.append(c.toChar); c = in.read() }
      b.toString
    }

    private def reply(): Any = line() match {
      case s if s.startsWith("+") => s.substring(1)
      case s if s.startsWith("-") => throw new RuntimeException(s)
      case s if s.startsWith(":") => s.substring(1).toLong
      case s if s.startsWith("$") =>
        val n = s.substring(1).toInt
        if (n < 0) null
        else {
          val a = new Array[Byte](n)
          var off = 0
          while (off < n) off += in.read(a, off, n - off)
          in.read(); in.read() // CRLF
          new String(a, "UTF-8")
        }
      case s if s.startsWith("*") =>
        val n = s.substring(1).toInt
        if (n < 0) null else (0 until n).map(_ => reply()).toVector
      case other => throw new RuntimeException(s"unparseable reply: $other")
    }

    def close(): Unit = sock.close()
  }

  test("stock Redis-protocol client runs the reference query_async flow") {
    val dir = java.nio.file.Files.createTempDirectory("graft-resp").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/data.nt"),
      """<http://ex/a> <http://www.w3.org/2000/01/rdf-schema#label> "alpha thing" .
        |<http://ex/b> <http://www.w3.org/2000/01/rdf-schema#label> "beta thing" .
        |""".stripMargin)
    val bk = new Bikidata(spark, s"$dir/wh")
    assert(bk.build(Seq(s"$dir/data.nt")) === 2)

    val srv = new RespServer(bk, port = 0, numWorkers = 2)
    try {
      val c = new RespClient(srv.boundPort)
      // redis-py connection preamble (ignores CLIENT SETINFO failures)
      assert(c.cmd("CLIENT", "SETINFO", "lib-name", "redis-py") === "OK")
      assert(c.cmd("PING") === "PONG")

      // query_async: LPUSH opts (with ticket+hash) then BLPOP the ticket
      def queryAsync(opts: String, ticket: String, hash: String): String = {
        val json = opts.dropRight(1) +
          s""","query_ticket":"$ticket","query_hash":"$hash"}"""
        c.cmd("LPUSH", RespServer.DefaultQueue, json)
        c.cmd("BLPOP", ticket, "60") match {
          case Vector(k: String, v: String) => assert(k === ticket); v
          case other => fail(s"BLPOP returned $other")
        }
      }
      val r1 = queryAsync("""{"filters":[{"p":"fts","o":"alpha"}]}""", "t-1", "h-alpha")
      assert(r1.contains("<http://ex/a>"))

      // same opts, different ticket → served from the result cache
      val before = srv.pool.cacheHits.get()
      val r2 = queryAsync("""{"filters":[{"p":"fts","o":"alpha"}]}""", "t-2", "h-alpha")
      assert(r2 === r1)
      assert(srv.pool.cacheHits.get() > before)

      // the server keys on the decoded opts, not the client's query_hash:
      // the same opts under another hash, key order and spacing is one hit
      val hitsSameOpts = srv.pool.cacheHits.get()
      assert(queryAsync("""{ "filters": [ {"o": "alpha", "p": "fts"} ] }""",
        "t-h1", "h-other") === r1)
      assert(srv.pool.cacheHits.get() === hitsSameOpts + 1)
      // ... and different opts under one hash each get their own envelope
      val beta = queryAsync("""{"filters":[{"p":"fts","o":"beta"}]}""", "t-h2", "h-alpha")
      assert(beta.contains("<http://ex/b>") && !beta.contains("<http://ex/a>"), beta)

      // insert_async routes through the single-writer manager
      val ins = queryAsync(
        """{"action":"insert","data":[{"s":"<http://ex/c>","p":"<http://www.w3.org/2000/01/rdf-schema#label>","o":"\"gamma thing\"","g":""}]}""",
        "t-3", "h-ins")
      assert(ins.contains("\"triples_inserted\":1"), ins)
      assert(bk.total() === 3)

      // BLPOP on a never-pushed ticket times out to a null array
      assert(c.cmd("BLPOP", "t-nothing", "0.2") === null)

      // an unparseable payload cannot carry a reply ticket: logged and
      // dropped (reference parity, workers.py:83-85) — and the worker
      // survives to serve the next valid request
      assert(c.cmd("LPUSH", RespServer.DefaultQueue, "{not even json") === 1L)
      assert(c.cmd("BLPOP", "t-bad", "0.3") === null)
      val after = queryAsync("""{"filters":[{"p":"fts","o":"alpha"}]}""", "t-4", "h-alpha")
      assert(after === r1, "worker died or cache corrupted after a malformed payload")

      // inbound-queue pushes answer with the PUSHED COUNT (wire
      // contract: real Redis returns the resulting list length; a
      // batching client checks it) — and both payloads dispatch
      val batch1 = """{"filters":[{"p":"fts","o":"alpha"}],"query_ticket":"t-b1","query_hash":"h-b"}"""
      val batch2 = """{"filters":[{"p":"fts","o":"beta"}],"query_ticket":"t-b2","query_hash":"h-b2"}"""
      assert(c.cmd("LPUSH", RespServer.DefaultQueue, batch1, batch2) === 2L)
      assert(c.cmd("BLPOP", "t-b1", "60") !== null)
      assert(c.cmd("BLPOP", "t-b2", "60") !== null)

      // a REFUSED mutation must not flush the result cache: the store did
      // not change, so the epoch must not bump
      val cached = queryAsync("""{"filters":[{"p":"fts","o":"alpha"}]}""", "t-c1", "h-c")
      val refused = queryAsync(
        """{"action":"delete","data":[{"s":"<http://ex/nope>","p":"<http://ex/nope>","o":"\"x\"","g":""}]}""",
        "t-c2", "h-del")
      assert(refused.contains("error"), refused)
      val hitsBefore = srv.pool.cacheHits.get()
      assert(queryAsync("""{"filters":[{"p":"fts","o":"alpha"}]}""", "t-c3", "h-c") === cached)
      assert(srv.pool.cacheHits.get() > hitsBefore,
        "refused mutation flushed the cache (epoch bumped without a store change)")

      // generic list/string commands work as plain Redis state
      assert(c.cmd("LPUSH", "mylist", "x", "y") === 2L)
      assert(c.cmd("LLEN", "mylist") === 2L)
      assert(c.cmd("RPOP", "mylist") === "x")
      assert(c.cmd("SET", "k", "v") === "OK")
      assert(c.cmd("GET", "k") === "v")
      assert(c.cmd("DEL", "k", "mylist") === 2L)
      assert(c.cmd("GET", "k") === null)
      c.close()
    } finally srv.close()
  }

  test("RESP lists: multi-push never loses values to a racing pop; idle tickets swept") {
    val dir = java.nio.file.Files.createTempDirectory("graft-resp2").toString
    val bk = new Bikidata(spark, s"$dir/wh") // list ops never touch the pool
    val srv = new RespServer(bk, port = 0, numWorkers = 1, ticketTtlMillis = 3000)
    try {
      val c = new RespClient(srv.boundPort)
      val pusher = new RespClient(srv.boundPort)
      // stress the {pop, remove-if-empty} / {still-mapped?, push} pairing:
      // the consumer keeps the list near-empty, so the old non-atomic
      // RPUSH a b regularly had its second value land on a deque a pop
      // had just unmapped — stranding it forever
      val n = 200
      val t = new Thread(() => {
        var i = 1
        while (i <= n) { pusher.cmd("RPUSH", "stress", s"a$i", s"b$i"); i += 1 }
      })
      t.start()
      val got = (1 to 2 * n).map { _ =>
        c.cmd("BLPOP", "stress", "10") match {
          case Vector(_, v: String) => v
          case other => fail(s"BLPOP returned $other")
        }
      }
      t.join()
      assert(got.toSet.size === 2 * n) // every pushed value came back exactly once
      assert(c.cmd("LLEN", "stress") === 0L)

      // an envelope pushed onto a ticket nobody polls (client timed out,
      // bogus ticket) is reclaimed once idle past the TTL
      c.cmd("LPUSH", "t-orphan", "envelope")
      assert(c.cmd("LLEN", "t-orphan") === 1L)
      val deadline = System.currentTimeMillis() + 10000
      while (c.cmd("LLEN", "t-orphan") != 0L && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(c.cmd("LLEN", "t-orphan") === 0L)
      c.close(); pusher.close()
    } finally srv.close()
  }

  test("a mutation through the pool drops content-keyed cached results") {
    val dir = java.nio.file.Files.createTempDirectory("graft-worker3").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/data.nt"),
      "<http://ex/a> <http://www.w3.org/2000/01/rdf-schema#label> \"alpha\" .\n")
    val bk = new Bikidata(spark, s"$dir/wh")
    bk.build(Seq(s"$dir/data.nt"))
    val srv = new WorkerServer(bk, port = 0, numWorkers = 1)
    try {
      // content-derived query_hash, as reference clients send
      // (workers.py:116-121): the SAME key before and after the mutation
      val q = """{"filters":[{"p":"fts","o":"delta"}],"query_hash":"h-delta"}"""
      val (out, in, sock) = client(srv.boundPort)
      out.println(q)
      assert(!in.readLine().contains("<http://ex/d>")) // no match yet; cached
      out.println(q)
      in.readLine() // cache hit
      out.println("""{"action":"insert","data":[{"s":"<http://ex/d>","p":"<http://www.w3.org/2000/01/rdf-schema#label>","o":"\"delta thing\"","g":""}]}""")
      assert(in.readLine().contains("\"triples_inserted\":1"))
      out.println(q)
      val r = in.readLine()
      assert(r.contains("<http://ex/d>"),
        s"pre-mutation envelope served from the result cache after insert: $r")
      sock.close()
    } finally srv.close()
  }

  test("malformed RESP framing answers -ERR and closes instead of killing the thread") {
    val dir = java.nio.file.Files.createTempDirectory("graft-resp3").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/data.nt"),
      "<http://ex/a> <http://www.w3.org/2000/01/rdf-schema#label> \"alpha\" .\n")
    val bk = new Bikidata(spark, s"$dir/wh")
    bk.build(Seq(s"$dir/data.nt"))
    val srv = new RespServer(bk, port = 0, numWorkers = 1)
    try {
      for (garbage <- Seq("*abc\r\n", "*1\r\n$-1\r\n", "*1\r\n$x\r\n")) {
        val sock = new java.net.Socket("127.0.0.1", srv.boundPort)
        sock.getOutputStream.write(garbage.getBytes("UTF-8"))
        sock.getOutputStream.flush()
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(sock.getInputStream, "UTF-8"))
        val reply = in.readLine()
        assert(reply != null && reply.startsWith("-ERR"), s"[$garbage] got: $reply")
        assert(in.readLine() == null, "connection should close after a protocol error")
        sock.close()
      }
      // the server still serves well-formed clients afterwards
      val c = new RespClient(srv.boundPort)
      assert(c.cmd("PING") === "PONG")
      c.close()
    } finally srv.close()
  }

  test("use_cache=false bypasses the result cache") {
    val dir = java.nio.file.Files.createTempDirectory("graft-worker2").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/data.nt"),
      "<http://ex/a> <http://www.w3.org/2000/01/rdf-schema#label> \"alpha\" .\n")
    val bk = new Bikidata(spark, s"$dir/wh")
    bk.build(Seq(s"$dir/data.nt"))
    val srv = new WorkerServer(bk, port = 0, numWorkers = 1)
    try {
      val q = """{"filters":[{"p":"fts","o":"alpha"}],"use_cache":false}"""
      val (out, in, sock) = client(srv.boundPort)
      out.println(q); in.readLine()
      val before = srv.pool.cacheHits.get()
      out.println(q); in.readLine()
      assert(srv.pool.cacheHits.get() === before)
      sock.close()
    } finally srv.close()
  }

  test("BLPOP over two keys takes a push to the second key; timeout; close releases") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = java.nio.file.Files.createTempDirectory("graft-resp4").toString
    val bk = new Bikidata(spark, s"$dir/wh") // list ops never touch the pool
    val srv = new RespServer(bk, port = 0, numWorkers = 1)
    try {
      val c = new RespClient(srv.boundPort)
      val pusher = new RespClient(srv.boundPort)
      val woken = Future(c.cmd("BLPOP", "k1", "k2", "0"))
      Thread.sleep(200)
      assert(!woken.isCompleted)
      assert(pusher.cmd("RPUSH", "k2", "v") === 1L)
      assert(Await.result(woken, 10.seconds) === Vector("k2", "v"))
      assert(c.cmd("EXISTS", "k2") === 0L)

      val t0 = System.nanoTime()
      assert(c.cmd("BLPOP", "t-none", "0.3") === null)
      assert(System.nanoTime() - t0 >= 300L * 1000 * 1000)

      val forever = Future(c.cmd("BLPOP", "t-forever", "0"))
      Thread.sleep(200)
      assert(!forever.isCompleted)
      srv.close()
      assert(Await.result(forever, 10.seconds) === null)
      c.close(); pusher.close()
    } finally srv.close()
  }

  test("RESP arity: a push without values and a BLPOP without key or with a negative timeout answer -ERR") {
    val dir = java.nio.file.Files.createTempDirectory("graft-resp5").toString
    val bk = new Bikidata(spark, s"$dir/wh")
    val srv = new RespServer(bk, port = 0, numWorkers = 1)
    try {
      val c = new RespClient(srv.boundPort)
      def err(parts: String*): String = intercept[RuntimeException](c.cmd(parts: _*)).getMessage
      for (push <- Seq("LPUSH", "RPUSH"); key <- Seq("k", RespServer.DefaultQueue))
        assert(err(push, key) === s"-ERR wrong number of arguments for '${push.toLowerCase}' command")
      assert(c.cmd("EXISTS", "k") === 0L)
      assert(c.cmd("LLEN", "k") === 0L)
      assert(err("BLPOP", "5") === "-ERR wrong number of arguments for 'blpop' command")
      assert(err("BRPOP", "k", "-1") === "-ERR timeout is negative")
      assert(err("BLPOP", "k", "-1") === "-ERR timeout is negative")
      assert(c.cmd("PING") === "PONG")
      c.close()
    } finally srv.close()
  }

  test("WorkerPool.shutdown completes queued and later requests with an error envelope") {
    val dir = java.nio.file.Files.createTempDirectory("graft-worker4").toString
    val bk = new Bikidata(spark, s"$dir/wh")
    val pool = new WorkerPool(bk, numWorkers = 1)
    val queued = (1 to 4).map(i => pool.submitAsync(s"""{"filters":[{"p":"fts","o":"q$i"}]}"""))
    pool.shutdown()
    val late = pool.submitAsync("""{"filters":[{"p":"fts","o":"late"}]}""")
    val t0 = System.nanoTime()
    val envelope = late.get(5, java.util.concurrent.TimeUnit.SECONDS)
    assert(envelope.contains("\"error\"") && envelope.contains("worker pool is shut down"), envelope)
    assert(System.nanoTime() - t0 < 1000L * 1000 * 1000)
    queued.foreach(f => assert(f.get(60, java.util.concurrent.TimeUnit.SECONDS).startsWith("{")))
  }
}
