package graft.gfa

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Export round-trips (S8/S9/S11/S12) incl. the gz scan (S2). */
class ExportSpec extends SparkSuite {

  private def lines = gfaLines(
    "S\ts1\tACGT", "S\ts2\tTTTT", "L\ts1\t+\ts2\t-\t0M", "P\tp1\ts1+,s2-\t*")

  test("matrix + node-map sidecar round-trip, aligned (test_matrix_nodes_map.py)") {
    val dir = java.nio.file.Files.createTempDirectory("exp").toString
    val coo = GfaGraph.cooMatrix(lines)
    GfaExport.saveMatrix(coo, s"$dir/m")
    GfaExport.saveNodeMap(GfaGraph.nodeIndex(lines), s"$dir/nodes")
    val m = spark.read.parquet(s"$dir/m")
    val nm = spark.read.option("sep", "\t").csv(s"$dir/nodes")
    assert(m.count() == 2) // mirrored single link
    assert(nm.count() == 2) // sidecar rows == matrix dimension
    val maxIdx = m.agg(greatest(max("row"), max("col"))).head().getLong(0)
    assert(maxIdx == nm.count() - 1)
  }

  test("edge-list export (test_export_edge_list.py)") {
    val dir = java.nio.file.Files.createTempDirectory("exp2").toString
    GfaExport.saveEdgeList(lines, s"$dir/el")
    val el = spark.read.option("sep", "\t").csv(s"$dir/el").collect()
    assert(el.map(r => (r.getString(0), r.getString(1))).toSet == Set(("s1", "s2")))
  }

  test("json node-link export re-reads (test_export_formats.py)") {
    val dir = java.nio.file.Files.createTempDirectory("exp3").toString
    GfaExport.saveJsonNodeLink(lines, dir)
    assert(spark.read.json(s"$dir/nodes").count() == 2)
    assert(spark.read.json(s"$dir/links").count() == 1)
  }

  test("matrix dtype parameterization matches numpy astype semantics (cli.py:92-97)") {
    import spark.implicits._
    val coo = Seq((0L, 1L, 2.7), (1L, 0L, 0.0), (2L, 2L, -1.2))
      .toDF("row", "col", "weight")
    val asBool = GfaExport.castWeight(coo, "bool").collect()
      .map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(asBool(0L) && !asBool(1L) && asBool(2L))
    val asInt = GfaExport.castWeight(coo, "int32").collect()
      .map(r => (r.getLong(0), r.getInt(2))).toMap
    assert(asInt(0L) == 2 && asInt(2L) == -1) // truncation toward zero
    assert(GfaExport.castWeight(coo, "float32").schema("weight").dataType ==
      org.apache.spark.sql.types.FloatType)
    intercept[IllegalArgumentException] { GfaExport.castWeight(coo, "int64") }
  }

  test("GraphML + GEXF round-trip via XML re-read (test_export_formats.py)") {
    val dir = java.nio.file.Files.createTempDirectory("exp_xml").toString
    val wlines = gfaLines(
      "S\ts1\tACGT\tSN:Z:chr1", "S\ts<2>\tTTTT", // id with XML-special chars
      "L\ts1\t+\ts<2>\t-\t0M\tRC:i:7")
    val opts = GfaOptions(weightTag = Some("RC"))
    GfaExport.saveGraphML(wlines, s"$dir/g.graphml", opts)
    GfaExport.saveGexf(wlines, s"$dir/g.gexf", opts)
    def parse(p: String) = javax.xml.parsers.DocumentBuilderFactory
      .newInstance().newDocumentBuilder().parse(new java.io.File(p))
    def dataOf(el: org.w3c.dom.Element): Map[String, String] = {
      val ds = el.getElementsByTagName("data")
      (0 until ds.getLength).map { i =>
        val d = ds.item(i).asInstanceOf[org.w3c.dom.Element]
        d.getAttribute("key") -> d.getTextContent
      }.toMap
    }
    val gml = parse(s"$dir/g.graphml")
    assert(gml.getElementsByTagName("node").getLength == 2)
    assert(gml.getElementsByTagName("edge").getLength == 1)
    val e = gml.getElementsByTagName("edge").item(0).asInstanceOf[org.w3c.dom.Element]
    assert(e.getAttribute("target") == "s<2>")
    assert(e.getElementsByTagName("data").item(0).getTextContent == "7.0")
    // attribute round-trip (builders.py:171-189 node attrs, :236-245 edge
    // attrs): edge carries weight + orientations + tags; nodes carry
    // sequence (+ tags on s1)
    val eAttrs = dataOf(e)
    assert(eAttrs == Map("d0" -> "7.0", "d1" -> "+", "d2" -> "-",
                         "d3" -> "RC:i:7"))
    val nodeEls = (0 until 2).map(i =>
      gml.getElementsByTagName("node").item(i).asInstanceOf[org.w3c.dom.Element])
    val n1 = nodeEls.find(_.getAttribute("id") == "s1").get
    assert(dataOf(n1) == Map("d5" -> "ACGT", "d6" -> "SN:Z:chr1"))
    val n2 = nodeEls.find(_.getAttribute("id") == "s<2>").get
    assert(dataOf(n2) == Map("d5" -> "TTTT"))
    val gexf = parse(s"$dir/g.gexf")
    assert(gexf.getElementsByTagName("node").getLength == 2)
    val ge = gexf.getElementsByTagName("edge").item(0).asInstanceOf[org.w3c.dom.Element]
    assert(ge.getAttribute("weight") == "7.0" && ge.getAttribute("source") == "s1")
    // gexf attvalues round-trip
    val avs = ge.getElementsByTagName("attvalue")
    val avMap = (0 until avs.getLength).map { i =>
      val a = avs.item(i).asInstanceOf[org.w3c.dom.Element]
      a.getAttribute("for") -> a.getAttribute("value")
    }.toMap
    assert(avMap == Map("e0" -> "+", "e1" -> "-", "e2" -> "RC:i:7"))
    // guard: oversize graphs are refused
    intercept[IllegalStateException] {
      GfaExport.saveGraphML(wlines, s"$dir/g2.graphml", opts, maxNodes = 1)
    }
  }

  test("dense export under guard") {
    val dir = java.nio.file.Files.createTempDirectory("exp4").toString
    GfaExport.saveDense(GfaGraph.cooMatrix(lines), n = 2, s"$dir/dense")
    val d = spark.read.option("header", "true").csv(s"$dir/dense")
    assert(d.count() == 2 && d.columns.length == 3) // row + 2 value cols
  }

  test("gz-transparent scan (S2, parser.py:108-109)") {
    val dir = java.nio.file.Files.createTempDirectory("gz").toString
    val gzPath = s"$dir/g.gfa.gz"
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(gzPath))
    out.write("S\ts1\tACGT\nS\ts2\tTTTT\nL\ts1\t+\ts2\t-\t0M\n".getBytes)
    out.close()
    val gz = GfaGraph.readLines(spark, gzPath)
    assert(GfaParse.segments(gz).count() == 2)
    assert(GfaParse.links(gz).count() == 1)
  }
}
