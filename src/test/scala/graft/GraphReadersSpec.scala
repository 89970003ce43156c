package graft

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.GraftGraph
import graft.io.GraphReaders

/** Reader suites — structural assertions after loading the standard
  * formats (mirrors the TCK GraphML/GraphSON/GML reader suites,
  * FluxGraphTest.java:57-73), using the TinkerPop-classic 6V/6E shape. */
class GraphReadersSpec extends AnyFunSuite {

  private val graphml =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<graphml xmlns="http://graphml.graphdrawing.org/xmlns">
      |  <key id="name" for="node" attr.name="name" attr.type="string"/>
      |  <key id="age" for="node" attr.name="age" attr.type="int"/>
      |  <key id="lang" for="node" attr.name="lang" attr.type="string"/>
      |  <key id="weight" for="edge" attr.name="weight" attr.type="float"/>
      |  <graph id="G" edgedefault="directed">
      |    <node id="1"><data key="name">marko</data><data key="age">29</data></node>
      |    <node id="2"><data key="name">vadas</data><data key="age">27</data></node>
      |    <node id="3"><data key="name">lop</data><data key="lang">java</data></node>
      |    <node id="4"><data key="name">josh</data><data key="age">32</data></node>
      |    <node id="5"><data key="name">ripple</data><data key="lang">java</data></node>
      |    <node id="6"><data key="name">peter</data><data key="age">35</data></node>
      |    <edge id="7" source="1" target="2" label="knows"><data key="weight">0.5</data></edge>
      |    <edge id="8" source="1" target="4" label="knows"><data key="weight">1.0</data></edge>
      |    <edge id="9" source="1" target="3" label="created"><data key="weight">0.4</data></edge>
      |    <edge id="10" source="4" target="5" label="created"><data key="weight">1.0</data></edge>
      |    <edge id="11" source="4" target="3" label="created"><data key="weight">0.4</data></edge>
      |    <edge id="12" source="6" target="3" label="created"><data key="weight">0.2</data></edge>
      |  </graph>
      |</graphml>""".stripMargin

  test("GraphML: TinkerPop classic loads with typed properties") {
    val g = new GraftGraph(TestSpark.spark)
    val vs = GraphReaders.inputGraphML(g,
      new ByteArrayInputStream(graphml.getBytes(StandardCharsets.UTF_8)))
    assert(g.getVertices().size == 6)
    assert(g.getEdges().size == 6)
    val marko = vs("1")
    assert(marko.getProperty("name") == "marko")
    assert(marko.getProperty("age") == 29L) // Integer → long round-trip
    assert(marko.getEdges("out", "knows").size == 2)
    assert(marko.getVertices("out", "created").map(_.getProperty("name")) == Seq("lop"))
    val knows = marko.getEdges("out", "knows")
      .map(e => e.getVertex("in").getProperty("name") -> e.getProperty("weight")).toMap
    assert(knows == Map("vadas" -> 0.5f, "josh" -> 1.0f))
    assert(g.getVertices("lang", "java").size == 2)
  }

  test("GraphSON 1.0: vertices/edges with flat properties") {
    val json =
      """{"graph": {"mode": "NORMAL",
        |  "vertices": [
        |    {"_id": "1", "_type": "vertex", "name": "marko", "age": 29},
        |    {"_id": "2", "_type": "vertex", "name": "vadas", "age": 27}
        |  ],
        |  "edges": [
        |    {"_id": "7", "_type": "edge", "_outV": "1", "_inV": "2", "_label": "knows", "weight": 0.5}
        |  ]}}""".stripMargin
    val g = new GraftGraph(TestSpark.spark)
    val vs = GraphReaders.inputGraphSON(g, json)
    assert(g.getVertices().size == 2 && g.getEdges().size == 1)
    assert(vs("1").getProperty("name") == "marko")
    assert(vs("1").getProperty("age") == 29L)
    val e = vs("1").getEdges("out", "knows").head
    assert(e.getVertex("in").getProperty("name") == "vadas")
    assert(e.getProperty("weight") == 0.5d)
  }

  test("GML: node/edge blocks with typed literals") {
    val gml =
      """Creator "graft"
        |graph [
        |  directed 1
        |  node [ id 1 name "marko" age 29 ]
        |  node [ id 2 name "vadas" ]
        |  edge [ source 1 target 2 label "knows" weight 0.5 ]
        |]""".stripMargin
    val g = new GraftGraph(TestSpark.spark)
    val vs = GraphReaders.inputGML(g, gml)
    assert(g.getVertices().size == 2 && g.getEdges().size == 1)
    assert(vs("1").getProperty("name") == "marko")
    assert(vs("1").getProperty("age") == 29L)
    val e = vs("1").getEdges("out").head
    assert(e.getLabel == "knows")
    assert(e.getProperty("weight") == 0.5d)
  }

  test("writers round-trip through their readers, all three formats") {
    def build(): GraftGraph = {
      val g = new GraftGraph(TestSpark.spark)
      val a = g.addVertex(); a.setProperty("name", "marko"); a.setProperty("age", 29L)
      val b = g.addVertex(); b.setProperty("name", "vadas")
      val e = g.addEdge(a, b, "knows"); e.setProperty("weight", 0.5)
      g
    }
    def shape(g: GraftGraph): (Int, Int, Set[(String, String, String)], Any, Any) = (
      g.getVertices().size, g.getEdges().size,
      g.getEdges().map(e => (e.getVertex("out").getProperty("name").toString,
        e.getLabel, e.getVertex("in").getProperty("name").toString)).toSet,
      g.getVertices("name", "marko").head.getProperty("age"),
      g.getEdges("label", "knows").head.getProperty("weight"))
    val src = build()
    val expected = shape(src)

    val g1 = new GraftGraph(TestSpark.spark)
    graft.io.GraphReaders.inputGraphML(g1, new ByteArrayInputStream(
      graft.io.GraphWriters.outputGraphML(src).getBytes(StandardCharsets.UTF_8)))
    assert(shape(g1) == expected)

    val g2 = new GraftGraph(TestSpark.spark)
    graft.io.GraphReaders.inputGraphSON(g2, graft.io.GraphWriters.outputGraphSON(src))
    assert(shape(g2) == expected)

    val g3 = new GraftGraph(TestSpark.spark)
    graft.io.GraphReaders.inputGML(g3, graft.io.GraphWriters.outputGML(src))
    assert(shape(g3) == expected)
  }

  test("writer round-trip edge cases: shared keys across kinds, control chars, quotes") {
    val src = new GraftGraph(TestSpark.spark)
    val a = src.addVertex(); a.setProperty("name", "abc")        // string on vertex
    val b = src.addVertex(); b.setProperty("name", "x")
    val e = src.addEdge(a, b, "knows"); e.setProperty("name", 7L) // SAME key, long, on edge

    // GraphML: key decls must not collide across (kind, type)
    val g1 = new GraftGraph(TestSpark.spark)
    val vs1 = graft.io.GraphReaders.inputGraphML(g1, new ByteArrayInputStream(
      graft.io.GraphWriters.outputGraphML(src).getBytes(StandardCharsets.UTF_8)))
    assert(g1.getVertices("name", "abc").size == 1)
    assert(vs1.values.flatMap(_.getEdges("out")).headOption.map(_.getProperty("name")).contains(7L))

    // GraphSON: control characters survive as valid JSON
    val s2 = new GraftGraph(TestSpark.spark)
    val v2 = s2.addVertex(); v2.setProperty("bio", "line1\nline2\ttabbed \"q\"")
    val g2 = new GraftGraph(TestSpark.spark)
    val vs2 = graft.io.GraphReaders.inputGraphSON(g2, graft.io.GraphWriters.outputGraphSON(s2))
    assert(vs2(v2.id.toString).getProperty("bio") == "line1\nline2\ttabbed \"q\"")

    // GML: quotes round-trip through the spec's HTML entities
    val s3 = new GraftGraph(TestSpark.spark)
    val v3 = s3.addVertex(); v3.setProperty("quote", "say \"hi\" & bye")
    val g3 = new GraftGraph(TestSpark.spark)
    val vs3 = graft.io.GraphReaders.inputGML(g3, graft.io.GraphWriters.outputGML(s3))
    assert(vs3(v3.id.toString).getProperty("quote") == "say \"hi\" & bye")
  }

  test("non-toy fixture: 1k-vertex hub-skewed GraphML loads and round-trips all formats") {
    // Grateful-Dead-scale fixture (the reference's benchmark suite loads
    // ~809 vertices / 8k edges, FluxBenchmarkTestSuite.java:24) with a
    // skewed in-degree distribution — exercises the readers' id mapping
    // and buffered-edge replay well past the 6V/6E toy shape
    val N = 1000; val E = 8000
    val r = new scala.util.Random(42)
    val labels = Array("knows", "created", "follows")
    val sb = new StringBuilder
    sb ++= """<?xml version="1.0" encoding="UTF-8"?>"""
    sb ++= """<graphml xmlns="http://graphml.graphdrawing.org/xmlns">"""
    sb ++= """<key id="name" for="node" attr.name="name" attr.type="string"/>"""
    sb ++= """<key id="group" for="node" attr.name="group" attr.type="int"/>"""
    sb ++= """<key id="weight" for="edge" attr.name="weight" attr.type="double"/>"""
    sb ++= """<graph id="G" edgedefault="directed">"""
    (0 until N).foreach { i =>
      sb ++= s"""<node id="$i"><data key="name">v$i</data><data key="group">${i % 17}</data></node>"""
    }
    (0 until E).foreach { j =>
      val src = r.nextInt(N)
      // cubic bias toward low ids → a few hub sinks, most vertices cold
      val dst = math.min((N * math.pow(r.nextDouble(), 3)).toInt, N - 1)
      sb ++= s"""<edge id="e$j" source="$src" target="$dst" label="${labels(j % 3)}">"""
      sb ++= s"""<data key="weight">${(j % 100) / 100.0}</data></edge>"""
    }
    sb ++= "</graph></graphml>"

    // structural digest that is engine-id independent: counts, label
    // histogram, the SORTED in-degree multiset, and an exact weight sum.
    // Bulk-read via edgeTuples: one log scan for the live edge ids.
    def digest(g: GraftGraph): (Int, Int, Map[String, Int], Seq[Int], Long, Set[Any]) = {
      val es = g.edgeTuples()
      val indeg = es.groupBy(_._4).values.map(_.size).toSeq.sorted.reverse
      val weightSum = es.map { case (id, _, _, _) =>
        g.getEdge(id).getProperty("weight").asInstanceOf[Double] }.sum
      (g.getVertices().size, es.size,
        es.groupBy(_._2).map { case (k, v) => k -> v.size },
        indeg.take(10),
        math.round(weightSum * 100),
        g.getVertices("group", 3).map(_.getProperty("name")).toSet)
    }

    val g0 = new GraftGraph(TestSpark.spark)
    GraphReaders.inputGraphML(g0, new ByteArrayInputStream(
      sb.toString.getBytes(StandardCharsets.UTF_8)))
    val d0 = digest(g0)
    assert(d0._1 == N && d0._2 == E)
    assert(d0._3.values.sum == E && d0._3.keySet == labels.toSet)
    // skew really present: the hottest sink dwarfs the typical vertex
    assert(d0._4.head > 50, s"expected a hub, top in-degrees ${d0._4}")
    assert(d0._6.size == N / 17 + (if (3 < N % 17) 1 else 0))

    val g1 = new GraftGraph(TestSpark.spark)
    GraphReaders.inputGraphML(g1, new ByteArrayInputStream(
      graft.io.GraphWriters.outputGraphML(g0).getBytes(StandardCharsets.UTF_8)))
    assert(digest(g1) == d0)

    val g2 = new GraftGraph(TestSpark.spark)
    GraphReaders.inputGraphSON(g2, graft.io.GraphWriters.outputGraphSON(g0))
    assert(digest(g2) == d0)

    val g3 = new GraftGraph(TestSpark.spark)
    GraphReaders.inputGML(g3, graft.io.GraphWriters.outputGML(g0))
    assert(digest(g3) == d0)
  }

  test("supplied ids are ignored: engine ids assigned (FluxGraph.java:59)") {
    val g = new GraftGraph(TestSpark.spark)
    val vs = GraphReaders.inputGML(g, """graph [ node [ id 999999 name "x" ] ]""")
    assert(vs("999999").id != 999999L)
  }
}
