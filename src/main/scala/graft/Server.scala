package graft

import graft.gremlin.Graft
import graft.sources.GraphStore
import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.{ServerSocket, Socket}
import java.util.concurrent.atomic.AtomicInteger

/**
 * Out-of-process serving endpoint — the Spark rendering of the
 * reference's client/master split (`driver/client.cpp:1-386` console
 * client, `driver/master.hpp:70-86` master loop): one long-lived JVM
 * holds the cached graph + posting-list indexes and serves Gremlin
 * queries to any number of CONCURRENT remote clients over a plain
 * line-oriented socket protocol. Where the reference's master
 * schedules each query to the least-loaded worker, a local-mode Spark
 * scheduler in FAIR mode shares the executor threads across in-flight
 * queries — the same fan-out, one process instead of an RDMA cluster.
 *
 *   sbt "runMain graft.Server /root/testdata/sf0.01 9181"
 *
 * Protocol (newline-delimited, mirrors the reference console):
 *  - client sends one query per line (`g.V()...` or DDL like
 *    `BuildIndex(V, 'name')`)
 *  - server replies with one `=>value` line per result row (exactly
 *    the console rendering `client.cpp` prints), then a `#done` line
 *  - errors come back as one `ERROR: …` line, then `#done`
 *  - `#pool <key>` returns up to 1000 distinct vertex values of that
 *    property (what the reference's emu mode draws from its index
 *    store, `driver/worker.hpp:184-199`) — lets a remote load driver
 *    instantiate `$RAND(key)` templates without local data access
 *  - `exit` / `quit` (or EOF) closes the connection
 *
 * Readiness: prints `LISTENING <port>` on stdout once the graph cache
 * is warm and the socket is bound. Thread-per-connection; queries from
 * different connections execute concurrently against the shared Graft
 * (whose compile path is job-free and thread-safe — the same contract
 * Emu exercises in-process).
 */
object Server {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val port = args.lift(1).map(_.toInt).getOrElse(9181)
    val spark = LocalSession("graft-server", 32, "ERROR", serving = true)

    val graph = (if (sfDir == "modern") GraphStore.modern(spark)
                 else GraphStore.tpch(spark, sfDir)).cached()
    graph.vertices.count(); graph.edges.count() // warm the cache

    val server = start(graph, port)
    println(s"LISTENING ${server.getLocalPort}")
    Thread.currentThread().join() // serve until killed
  }

  /** Bind `port` (0 = ephemeral) and serve connections on daemon
    * threads; returns the bound socket so tests/embedders can read the
    * real port and close it to stop accepting. */
  def start(graph: GraphStore, port: Int): ServerSocket = {
    val g = Graft(graph)
    val server = new ServerSocket(port)
    val connSeq = new AtomicInteger(0)
    val acceptor = new Thread(() => {
      try while (true) {
        val sock = server.accept()
        val id = connSeq.incrementAndGet()
        val t = new Thread(() => serve(sock, g, graph), s"graft-conn-$id")
        t.setDaemon(true)
        t.start()
      } catch { case _: java.io.IOException => () } // closed: stop accepting
    }, "graft-acceptor")
    acceptor.setDaemon(true)
    acceptor.start()
    server
  }

  private def serve(sock: Socket, g: Graft, graph: GraphStore): Unit = {
    val in = new BufferedReader(
      new InputStreamReader(sock.getInputStream, "UTF-8"))
    val out = new PrintWriter(
      new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8"), false)
    try {
      var line = in.readLine()
      while (line != null) {
        val q = line.trim
        if (q == "exit" || q == "quit") { line = null }
        else {
          if (q.nonEmpty) {
            try {
              if (q.startsWith("#pool ")) {
                val key = q.stripPrefix("#pool ").trim
                graph.vertices.select(key).where(s"$key IS NOT NULL")
                  .distinct().limit(1000).collect()
                  .foreach(r => out.println(s"=>${r.get(0)}"))
              } else g.ddl(q) match {
                case Some(status) => out.println(s"=>$status")
                case None => g.strings(q).foreach(out.println)
              }
            } catch {
              // one reply line: analysis errors carry their plan on
              // further lines, which a client would read as result rows
              case e: Exception => out.println("ERROR: " +
                String.valueOf(e.getMessage).linesIterator.map(_.trim)
                  .filter(_.nonEmpty).mkString(" "))
            }
          }
          out.println("#done")
          out.flush()
          line = in.readLine()
        }
      }
    } catch { case _: java.io.IOException => () }
    finally sock.close()
  }
}

/**
 * Remote load driver for [[Server]] — Emu's workload over a real
 * socket instead of in-process calls: N client connections each replay
 * their share of the deterministic template workload, timing full
 * round-trips (request bytes out → `#done` read back). Pools for
 * `$RAND(key)` substitution are fetched over the wire with `#pool`, so
 * this process needs NO Spark and NO data access — it is exactly the
 * remote console user the reference's client.cpp models.
 *
 *   sbt "runMain graft.NetEmu localhost 9181 32 200"
 */
object NetEmu {
  def main(args: Array[String]): Unit = {
    val host = args.headOption.getOrElse("localhost")
    val port = args.lift(1).map(_.toInt).getOrElse(9181)
    val concurrency = args.lift(2).map(_.toInt).getOrElse(8)
    val iterations = args.lift(3).map(_.toInt).getOrElse(100)
    val templates =
      if (args.length > 4) args.drop(4).toSeq else Emu.DefaultTemplates

    val keys = Emu.keysOf(templates)

    def roundTrip(in: BufferedReader, out: PrintWriter,
                  q: String): (Seq[String], Boolean) = {
      out.println(q); out.flush()
      val buf = Seq.newBuilder[String]
      var ok = true
      var l = in.readLine()
      while (l != null && l != "#done") {
        if (l.startsWith("ERROR")) ok = false else buf += l
        l = in.readLine()
      }
      if (l == null) throw new java.io.IOException("server closed")
      (buf.result(), ok)
    }
    def connect(): (Socket, BufferedReader, PrintWriter) = {
      val s = new Socket(host, port)
      s.setTcpNoDelay(true)
      (s, new BufferedReader(
        new InputStreamReader(s.getInputStream, "UTF-8")),
        new PrintWriter(new java.io.OutputStreamWriter(
          s.getOutputStream, "UTF-8"), false))
    }

    // control connection: build indexes + fetch substitution pools
    val (ctl, cin, cout) = connect()
    keys.foreach(k => roundTrip(cin, cout, s"BuildIndex(V, '$k')"))
    val pools: Map[String, Array[String]] = keys.map { k =>
      val vals = roundTrip(cin, cout, s"#pool $k")._1
        .map(_.stripPrefix("=>")).toArray
      require(vals.nonEmpty,
        s"$$RAND($k): server returned no values for property '$k' — " +
          "misspelled key or all-null column?")
      k -> vals
    }.toMap
    cout.println("exit"); cout.flush(); ctl.close()

    val rand = new scala.util.Random(42)
    val workload = (0 until iterations).map(i =>
      Emu.instantiate(templates(i % templates.length), pools, rand))

    val socks = new java.util.concurrent.ConcurrentLinkedQueue[Socket]()
    try Emu.closedLoop("net_throughput", workload, concurrency) { () =>
      val (sock, in, out) = connect()
      socks.add(sock)
      q => roundTrip(in, out, q)._2
    } finally socks.forEach(_.close())
  }
}
