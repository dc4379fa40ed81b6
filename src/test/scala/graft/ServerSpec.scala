package graft

import graft.sources.GraphStore
import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.Socket

/** Wire-protocol coverage for [[Server]]: real sockets against an
  * ephemeral in-process endpoint over the modern graph — the same
  * accept/serve path the standalone main runs. */
class ServerSpec extends SparkSpec {

  private lazy val server =
    Server.start(GraphStore.modern(spark), port = 0)

  private def connect(port: Int = server.getLocalPort)
      : (Socket, BufferedReader, PrintWriter) = {
    val s = new Socket("localhost", port)
    (s,
      new BufferedReader(new InputStreamReader(s.getInputStream, "UTF-8")),
      new PrintWriter(
        new java.io.OutputStreamWriter(s.getOutputStream, "UTF-8"), false))
  }

  private def roundTrip(in: BufferedReader, out: PrintWriter,
                        q: String): Seq[String] = {
    out.println(q); out.flush()
    Iterator.continually(in.readLine())
      .takeWhile(l => l != null && l != "#done").toSeq
  }

  test("query, DDL, pool, and error round-trips on one connection") {
    val (sock, in, out) = connect()
    try {
      assert(roundTrip(in, out, "g.V().count()") == Seq("=>6"))
      assert(roundTrip(in, out, "g.V().has('name','marko').values('age')")
        == Seq("=>29"))
      // DDL replies with a status line
      val ddl = roundTrip(in, out, "BuildIndex(V, 'name')")
      assert(ddl.size == 1 && ddl.head.startsWith("=>"))
      // #pool returns the distinct property values
      val pool = roundTrip(in, out, "#pool lang").map(_.stripPrefix("=>"))
      assert(pool.toSet == Set("java"))
      // malformed queries answer ERROR, and the connection survives
      val err = roundTrip(in, out, "not a query (((")
      assert(err.size == 1 && err.head.startsWith("ERROR"))
      assert(roundTrip(in, out, "g.E().count()") == Seq("=>6"))
      // an analysis error (its message carries the analyzed plan on
      // further lines) is still ONE ERROR line before #done
      val unresolved = roundTrip(in, out, "#pool no_such_col")
      assert(unresolved.size == 1 && unresolved.head.startsWith("ERROR: "),
        unresolved.mkString("\n"))
      assert(roundTrip(in, out, "g.V().count()") == Seq("=>6"))
    } finally sock.close()
  }

  test("concurrent connections all serve correct results") {
    val errors = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 8).map { _ =>
      new Thread(() => {
        val (sock, in, out) = connect()
        try {
          (1 to 5).foreach { _ =>
            if (roundTrip(in, out, "g.V().hasLabel('person').count()")
                != Seq("=>4")) errors.incrementAndGet()
          }
        } catch { case _: Throwable => errors.incrementAndGet() }
        finally sock.close()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errors.get() == 0)

    // index-seeded Emu templates (the light lane) across concurrent
    // connections, checked against the in-process scan path
    val graph = GraphStore.tpch(spark, "/root/testdata/sf0.01").cached()
    val tpch = Server.start(graph, port = 0)
    try {
      val (ctl, cin, cout) = connect(tpch.getLocalPort)
      val keys = Emu.keysOf(Emu.DefaultTemplates)
      val pools = try keys.map { k =>
        assert(roundTrip(cin, cout, s"BuildIndex(V, '$k')").head
          .startsWith("=>Index built"))
        k -> roundTrip(cin, cout, s"#pool $k").map(_.stripPrefix("=>"))
          .toArray
      }.toMap finally ctl.close()
      val rand = new scala.util.Random(11)
      val queries = (0 until 16).map(i => Emu.instantiate(
        Emu.DefaultTemplates(i % Emu.DefaultTemplates.size), pools, rand))
      val scan = graft.gremlin.Graft(graph) // no indexes: the scan path
      val expected = queries.map(scan.strings)
      val wrong = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val clients = (0 until 4).map { c =>
        new Thread(() => {
          val (sock, in, out) = connect(tpch.getLocalPort)
          try queries.indices.filter(_ % 4 == c).foreach { i =>
            val got = roundTrip(in, out, queries(i))
            if (!Answers.same(got, expected(i)))
              wrong.add(s"${queries(i)}: $got != ${expected(i)}")
          } catch { case e: Throwable => wrong.add(e.toString) }
          finally sock.close()
        })
      }
      clients.foreach(_.start())
      clients.foreach(_.join(300000))
      assert(wrong.isEmpty, wrong)
    } finally tpch.close()
  }

  override def afterAll(): Unit = {
    server.close()
    super.afterAll()
  }
}
