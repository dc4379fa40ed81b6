package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.gremlin.Graft

/**
 * ETL parity: load Grasper's bundled 6-vertex sample graph from its
 * HDFS-text format (grammar `docs/Tutorial.md:8-42`) and check it is
 * equivalent to the hand-built modern fixture, then replay the tutorial's
 * console query. The graph is read from the test resource
 * `grasper-modern/`, a transcription of the reference's `data/` directory
 * (FIXTURES.md §A); the provenance test compares the two wherever the
 * reference checkout is present.
 */
class GraphStoreSpec extends SparkSpec {

  private val Resource = "/grasper-modern"
  private val ReferenceData = Paths.get("/root/reference/data")
  private val SampleFiles = Seq(
    "vertices/part_1", "vtx_property/part_1", "edge_property/part_1",
    "index/vtx_label", "index/edge_label",
    "index/vtx_property_index", "index/edge_property_index")

  private lazy val sampleDir: Path = {
    val url = getClass.getResource(Resource)
    require(url != null,
      s"test resource $Resource is missing from the test classpath " +
        "(expected under src/test/resources)")
    Paths.get(url.toURI)
  }

  lazy val loaded: GraphStore =
    GraphStore.grasperText(spark, sampleDir.toString)

  test("text loader reproduces the modern fixture") {
    val fixture = GraphStore.modern(spark)
    val a = loaded.vertices.select("id", "label", "name", "age", "lang")
      .collect().map(_.toSeq).toSet
    val b = fixture.vertices.select("id", "label", "name", "age", "lang")
      .collect().map(_.toSeq).toSet
    assert(a == b)
    val ea = loaded.edges.select("src", "dst", "label", "weight")
      .collect().map(_.toSeq).toSet
    val eb = fixture.edges.select("src", "dst", "label", "weight")
      .collect().map(_.toSeq).toSet
    assert(ea == eb)
  }

  test("schema is typed from the property-index dictionary") {
    val fields = loaded.vertices.schema.fields.map(f =>
      f.name -> f.dataType.typeName).toMap
    assert(fields("age") == "integer")   // type tag 1 = int
    assert(fields("name") == "string")   // type tag 4 = string
    val efields = loaded.edges.schema.fields.map(f =>
      f.name -> f.dataType.typeName).toMap
    assert(efields("weight") == "double") // type tag 2 = double
  }

  test("bucketed persistence removes the edges-side shuffle in traversals") {
    val g = GraphStore.tpch(spark, "/root/testdata/sf0.001")
    g.saveBucketed("gsb", buckets = 4)
    val loaded = GraphStore.loadBucketed(spark, "gsb")

    // results identical
    val q = "g.V().hasLabel('customer').out('placed').count()"
    assert(Graft(loaded).strings(q) == Graft(g).strings(q))

    // plan: scanning the bucketed edges table for a src-key join emits
    // no Exchange on the table side (SelectedBucketsCount appears)
    val plan = Graft(loaded)
      .df("g.V().hasLabel('customer').out('placed').count()")
      .queryExecution.executedPlan.toString()
    assert(plan.contains("Bucketed: true"),
      s"expected bucketed scan in plan:\n$plan")
  }

  test("tutorial query runs on the loaded graph") {
    // docs/Tutorial.md:283 — g.V().hasKey/hasLabel/has console sample
    val g = Graft(loaded)
    assert(g.strings("g.V().hasLabel('person').has('age', gt(27)).count()")
      == Seq("=>3"))
    assert(g.strings("g.V().has('name','marko').out('knows').values('name')")
      .toSet == Set("=>vadas", "=>josh"))
  }

  test("committed sample graph matches the reference's data/ token for token") {
    assume(Files.isDirectory(ReferenceData))
    // Grasper tokenizes each line on whitespace; blank lines carry nothing.
    def tokens(p: Path): Seq[Seq[String]] =
      Files.readAllLines(p).asScala.toSeq
        .filter(_.trim.nonEmpty)
        .map(_.trim.split("\\s+").toSeq)
    for (f <- SampleFiles)
      assert(tokens(sampleDir.resolve(f)) == tokens(ReferenceData.resolve(f)),
        s"$Resource/$f differs from the reference's data/$f")
  }
}
