package graft.emit

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.kg._

class ExportsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("N-Triples serialization shapes") {
    import spark.implicits._
    val ts = Seq(
      Triple("base", "http://s", "http://p", "http://o", true, null, null, "2022-01-01"),
      Triple("base", "http://s", "http://p", "a \"quoted\"\nvalue", false, Ns.xsdString, null, "2022-01-01"),
      Triple("ohg", "http://s", "http://p", "hallo", false, null, "de", "2022-01-01")).toDS()
    val lines = Exports.toNTriples(ts).collect().sorted
    assert(lines.contains("<http://s> <http://p> <http://o> ."))
    assert(lines.contains("<http://s> <http://p> \"a \\\"quoted\\\"\\nvalue\"^^<" + Ns.xsdString + "> ."))
    assert(lines.contains("<http://s> <http://p> \"hallo\"@de ."))
  }

  test("per-month × per-module JSON-LD + merged TTL export naming and content") {
    import spark.implicits._
    val ts = Seq(
      Triple("base", "http://s1", "http://p", "http://o", true, null, null, "2022-01-01"),
      Triple("base", "http://s1", "http://p", "text \"v\"", false, Ns.xsdString, null, "2022-01-01"),
      Triple("raw", "http://s2", "http://p", "<html>", false, Ns.xsdString, null, "2022-01-02"),
      Triple("ohg", "http://s3", "http://p", "hallo", false, null, "de", "2022-01-01"),
      Triple("osm", "http://s4", "http://p", "POINT(1 1)", false, Ns.geoWktLiteral, null, "2022-01-01")).toDS()
    val dir = Files.createTempDirectory("graft_exports").toString
    val files = Exports.saveMonthGraphs(spark, ts, dir, "January_2022")
    // reference naming: {prefix}_{module}.jsonld per module + merged {prefix}.ttl
    assert(files.toSet == Set("January_2022_base.jsonld", "January_2022_raw.jsonld",
      "January_2022_ohg.jsonld", "January_2022_osm.jsonld", "January_2022.ttl"))
    // JSON-LD round-trips through a JSON parser; node count == distinct subjects
    val base = spark.read.option("multiLine", true)
      .json(s"$dir/January_2022_base.jsonld")
    assert(base.count() == 1 && base.select("`@id`").head().getString(0) == "http://s1")
    // merged TTL covers every module's triples as prefixed Turtle — golden
    // bytes (rdflib turtle conventions: @prefix header, sorted subjects,
    // plain xsd:string literals, prefixed datatypes)
    val ttl = Files.readString(java.nio.file.Paths.get(dir, "January_2022.ttl"))
    val golden =
      """@prefix geo: <http://www.opengis.net/ont/geosparql#> .
        |
        |<http://s1> <http://p> "text \"v\"",
        |        <http://o> .
        |
        |<http://s2> <http://p> "<html>" .
        |
        |<http://s3> <http://p> "hallo"@de .
        |
        |<http://s4> <http://p> "POINT(1 1)"^^geo:wktLiteral .
        |""".stripMargin
    assert(ttl == golden)
  }

  test("saveMonthGraphs refuses oversize slices (driver-OOM guard)") {
    import spark.implicits._
    val ts = Seq(
      Triple("base", "http://s1", "http://p", "a", false, Ns.xsdString, null, "2022-01-01"),
      Triple("base", "http://s2", "http://p", "b", false, Ns.xsdString, null, "2022-01-01")).toDS()
    val dir = Files.createTempDirectory("graft_exports_guard").toString
    spark.conf.set("graft.export.maxDriverBytes", "1")
    try {
      val e = intercept[IllegalArgumentException] {
        Exports.saveMonthGraphs(spark, ts, dir, "January_2022")
      }
      assert(e.getMessage.contains("toNTriples"))
    } finally spark.conf.unset("graft.export.maxDriverBytes")
  }

  test("Turtle golden: prefixed names, `a` for rdf:type, `;`/`,` chaining") {
    val ts = Seq(
      Triple("base", Ns.events + "e1", Ns.rdfType, Ns.COY + "NewsSummary", true, null, null, "2022-01-01"),
      Triple("base", Ns.events + "e1", Ns.rdfType, Ns.COY + "Event", true, null, null, "2022-01-01"),
      Triple("base", Ns.events + "e1", Ns.COY + "hasMentionDate", "2022-01-01", false, null, null, "2022-01-01"))
    val golden =
      """@prefix coy: <https://schema.coypu.org/global#> .
        |@prefix events: <https://data.coypu.org/newssummary/wikipedia-current-events/> .
        |
        |events:e1 a coy:Event,
        |        coy:NewsSummary ;
        |    coy:hasMentionDate "2022-01-01" .
        |""".stripMargin
    assert(Exports.toTurtle(ts) == golden)
  }

  test("event debug NDJSON sink emits first located link per event") {
    import spark.implicits._
    val p = Synth.paramsFor("/root/testdata/sf0.001")
    val events = Pipeline.parsedDays(spark, p).flatMap(_.events)
    val locFlags = Enrich.buildDicts(p).artLocFlag
    val located = locFlags.filter(_._2).keySet
    val df = Exports.eventDebugJson(events, located)
    assert(df.columns.toSeq == Seq("text", "s_begin", "location", "begin", "end"))
    assert(df.count() > 0)
  }

  test("F11: textWithoutSource drops len(sourceText) chars (reference event.py:31-33)") {
    // the reference's text already excludes source link text, yet
    // getTextWithoutSource still chops len(sourceText) — reproduce faithfully
    val e = KEvent("d", "2022-01-01", 0, None, "Quake hits CityX. ", "(Reuters)",
      "u", "r", Nil, Nil, Nil, Nil, Nil)
    assert(e.textWithoutSource == "Quake hits CityX. ".dropRight(9))
    val noSrc = e.copy(sourceText = "")
    assert(noSrc.textWithoutSource == "Quake hits CityX. ")
  }

  test("D6 compaction merges committed partitions into one distinct set") {
    val table = Files.createTempDirectory("graft_compact").toString
    Materialize.run(spark, "/root/testdata/sf0.001", table, maxMonths = 2)
    val out = Files.createTempDirectory("graft_compact_out").toString
    val n = Exports.compact(spark, table, out)
    val direct = Pipeline.materializedTriples(spark, "/root/testdata/sf0.001")
      .drop("event_date").dropDuplicates().count()
    assert(n == direct)
  }
}
