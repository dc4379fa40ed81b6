package graft

import graft.gremlin.Graft
import graft.sources.GraphStore

/**
 * Interactive driver: run Gremlin query strings from the command line,
 * the way the reference's console client does (`Grasper -q g.V()...`,
 * `docs/Tutorial.md:269-283`).
 *
 *   sbt "runMain graft.Demo modern 'g.V().count()'"
 *   sbt "runMain graft.Demo /root/testdata/sf0.001 'g.V().hasLabel(\"customer\").count()'"
 *
 * First arg picks the graph: `modern` (the reference's bundled 6-vertex
 * sample) or a testdata sf directory (TPC-H-derived graph). Remaining
 * args are query strings; `--explain` additionally prints the physical
 * plan.
 */
object Demo {
  def main(args: Array[String]): Unit = {
    val explain = args.contains("--explain")
    val rest = args.filterNot(_ == "--explain")
    if (rest.length < 1) {
      System.err.println("usage: graft.Demo <modern|sfDir> [--explain] [query…]")
      System.err.println("       (no query args: interactive, reads queries from stdin)")
      sys.exit(2)
    }
    val spark = LocalSession("graft-demo", 4, "ERROR")
    val graph =
      if (rest(0) == "modern") GraphStore.modern(spark)
      else GraphStore.tpch(spark, rest(0))
    val g = Graft(graph)
    def run(q: String): Unit = {
      println(s"gremlin> $q")
      try g.ddl(q) match {
        case Some(status) => println(s"=>$status")
        case None =>
          if (explain) g.df(q).explain("formatted")
          g.strings(q).foreach(println)
      } catch {
        case e: Exception => println(s"ERROR: ${e.getMessage}")
      }
    }
    val queries = rest.drop(1)
    if (queries.nonEmpty) queries.foreach(run)
    else // interactive console, like the reference client
      scala.io.Source.stdin.getLines()
        .map(_.trim).filter(_.nonEmpty)
        .takeWhile(l => l != "exit" && l != "quit")
        .foreach(run)
    spark.stop()
  }
}
