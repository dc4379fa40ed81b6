package graft

import java.nio.file.Files

/** [[Probe]]'s one listener counts exactly the measured call, and its
  * plan mode writes one dump per requested gate. */
class ProbeSpec extends SparkSpec {

  test("the listener counts the measured call and nothing around it") {
    val probe = Probe.listen(spark)
    try {
      // jobs just before the call: their events may still be queued
      (1 to 3).foreach(_ => spark.range(10).collect())
      val (rows, c) = probe.measure(spark.range(1000).collect())
      // jobs after the call leave the returned counts alone
      spark.range(10).collect()
      val width = spark.sparkContext.defaultParallelism
      assert(rows.length == 1000)
      assert(c.jobs == 1 && c.stages == 1, c.line)
      assert(c.tasks == width && c.taskDurations.size == width, c.line)
      assert(c.taskMs == c.taskDurations.sum)
      assert(c.perStage.values.toSeq == Seq((1L, width.toLong, c.taskMs)))
      assert(probe.measure(())._2.jobs == 0)
    } finally probe.close()
  }

  test("plan writes one file per requested gate, summary names the gate") {
    val out = Files.createTempDirectory("graft-plans").toFile
    // plain parquet reads: a Gremlin gate would leave the cached sf0.001
    // graph in the shared session, and later plan specs would match it
    val gates = Seq("dedup_exact", "text_quality")
    val lines = Probe.plan(spark, "/root/testdata/sf0.001", out.getPath,
      Some(gates.toSet))
    assert(out.list().toSeq.sorted == gates.map(_ + ".txt"))
    assert(lines.map(_.split("\\s+").head) == gates)
    assert(lines.forall(l => l.contains(" ex=") && !l.contains("ERROR")),
      lines.mkString("\n"))
    gates.foreach(g => assert(
      new String(Files.readAllBytes(out.toPath.resolve(s"$g.txt")), "UTF-8")
        .contains("Physical Plan")))
  }
}
