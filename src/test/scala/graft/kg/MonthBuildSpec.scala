package graft.kg

import java.nio.file.Files
import scala.util.Try
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{MapGroupsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ObjectType
import org.scalatest.funsuite.AnyFunSuite
import graft.emit.TableIO

/** The month build's enriched leaf, its object boundaries and its manifest
  * lineage counters, each against an independent formulation.
  */
class MonthBuildSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val p = Synth.paramsFor(sfDir)

  private def enrichedRows(): Set[EnrichedArticle] = {
    val (e, caches) = Pipeline.enrichedArticlesTracked(spark, p)
    try e.collect().toSet
    finally caches.foreach(_.unpersist(blocking = false))
  }

  private lazy val sequentialRows: Set[EnrichedArticle] = {
    val dicts = Enrich.buildDicts(p)
    (0 until p.articles)
      .flatMap(i => ArticleParser.parse(SpanCodec.articleDoc(p, Synth.article(p, i))))
      .map(Enrich.enrichOne(_, dicts))
      .toSet
  }

  private def assertSameRows(got: Set[EnrichedArticle]): Unit = {
    assert(got.size == got.map(_.url).size, "one enriched row per url")
    assert(got.map(_.url) == sequentialRows.map(_.url))
    val diff = (got -- sequentialRows).take(3)
    assert(diff.isEmpty, s"rows differing from enrichOne: $diff")
    assert(got == sequentialRows)
  }

  test("enriched rows equal parse → enrichOne per url (broadcast dictionaries)") {
    val got = enrichedRows()
    assertSameRows(got)
    // the parity covers fields no triple shows
    assert(got.exists(_.falconDbpediaUris.nonEmpty))
    assert(got.exists(_.childUrls.nonEmpty))
    assert(got.exists(a => a.nTimeParseErrors + a.nDateParseErrors > 0))
  }

  test("enriched rows equal parse → enrichOne per url (shuffle-join dictionaries)") {
    spark.conf.set("graft.dicts.broadcast.maxArticles", "0")
    try assertSameRows(enrichedRows())
    finally spark.conf.unset("graft.dicts.broadcast.maxArticles")
  }

  /** Every node of a physical plan, descending into adaptive plans, query
    * stages, subqueries and the cached plan behind each in-memory scan.
    */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val inner = plan match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
      case _ => Nil
    }
    plan +: (inner ++ plan.children.flatMap(nodes) ++ plan.subqueries.flatMap(nodes))
  }

  /** Whether a node produces, consumes or constructs objects of `cls`. */
  private def touches(n: SparkPlan, cls: Class[_]): Boolean = {
    val t = ObjectType(cls)
    n.output.exists(_.dataType == t) ||
      n.productIterator.contains(cls) ||
      n.expressions.exists(_.exists(e => Try(e.dataType == t).getOrElse(false)))
  }

  test("plan shape: EnrichedArticle crosses an encoder only on the articleTriples path") {
    val b = Pipeline.trackedBuild(spark, p)
    try {
      val all = nodes(b.triples.queryExecution.executedPlan)
      val wide = all.filter(touches(_, classOf[EnrichedArticle]))
      // the one allowed boundary deserializes (Mention, EnrichedArticle)
      // pairs for Emit.articleTriples; the walk must see it
      assert(wide.nonEmpty, "walker found no object operator at all")
      val stray = wide.filterNot(touches(_, classOf[Pipeline.Mention]))
      assert(stray.isEmpty,
        s"EnrichedArticle object operators off the articleTriples path:\n" +
          stray.map(_.simpleString(200).take(300)).mkString("\n"))
      val groups = all.collect { case g: MapGroupsExec => g }
      assert(groups.isEmpty, s"MapGroups left in the build: ${groups.map(_.simpleString(200).take(300))}")
    } finally b.releaseCaches()
  }

  /** The per-date counters as they were first written: countDistinct. */
  private def countDistinctCounters(slice: DataFrame): Map[String, Map[String, Long]] = {
    def nsCount(prefix: String) =
      countDistinct(when(col("subj").startsWith(prefix), col("subj")))
    slice.groupBy(col("event_date")).agg(
      count(lit(1)).as("n_triples"),
      countDistinct(col("subj")).as("n_subjects"),
      sum(when(col("obj_is_iri"), 1L).otherwise(0L)).as("n_iri_objects"),
      sum(when(col("graph_module") === "base", 1L).otherwise(0L)).as("n_base"),
      sum(when(col("graph_module") === "raw", 1L).otherwise(0L)).as("n_raw"),
      sum(when(col("graph_module") === "osm", 1L).otherwise(0L)).as("n_osm"),
      sum(when(col("graph_module") === "ohg", 1L).otherwise(0L)).as("n_ohg"),
      nsCount(Ns.events).as("n_events"),
      (nsCount(Ns.textTopics) + nsCount(Ns.articleTopics)).as("n_topics"),
      nsCount(Ns.wikipediaArticle).as("n_articles"),
      nsCount(Ns.osmElement).as("n_osm_elements"),
      nsCount(Ns.sentences).as("n_sentences"))
      .collect()
      .map { r =>
        r.getString(0) -> r.schema.fieldNames.tail.map(f => f -> r.getLong(r.fieldIndex(f))).toMap
      }.toMap
  }

  private def noErrors: DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Long, Long)]
      .toDF("event_date", "n_time_parse_errors", "n_date_parse_errors")
  }

  private def withoutErrors(m: Map[String, Map[String, Long]]) =
    m.map { case (k, v) => k -> (v - "n_time_parse_errors" - "n_date_parse_errors") }

  test("lineage counters equal the countDistinct formulation on a committed slice") {
    val table = Files.createTempDirectory("graft_lineage").toString
    val dates = Materialize.datesOfMonth(p, p.year, 1).take(6)
    val b = Pipeline.trackedBuild(spark, p, Some(dates.toSet))
    var expected = Map.empty[String, Map[String, Long]]
    val m = try TableIO.replacePartitions(spark, table, b.triples.toDF(), "event_date", dates,
        metricsFn = slice => {
          expected = countDistinctCounters(slice)
          Materialize.lineageMetrics(slice, noErrors)
        })
      finally b.releaseCaches()
    assert(expected.keySet == dates.toSet)
    assert(withoutErrors(m.partitions.map { case (k, pm) => k -> pm.metrics }) == expected)
  }

  test("lineage counters skip null subjects and count repeated subjects once") {
    import spark.implicits._
    val t = Seq(
      Triple("base", Ns.events + "e1", "p", "o", true, null, null, "2022-01-01"),
      Triple("base", Ns.events + "e1", "q", "o", false, "s", null, "2022-01-01"),
      Triple("raw", null, "p", "o", false, "s", null, "2022-01-01"),
      Triple("osm", Ns.osmElement + "w", "p", "o", true, null, null, "2022-01-01"),
      Triple("ohg", Ns.textTopics + "t", "p", "o", true, null, null, "2022-01-02"),
      Triple("base", Ns.articleTopics + "t", "p", "o", true, null, null, "2022-01-02"),
      Triple("base", null, "p", "o", true, null, null, "2022-01-02")).toDF()
    val got = withoutErrors(Materialize.lineageMetrics(t, noErrors))
    assert(got == countDistinctCounters(t))
    assert(got("2022-01-01")("n_subjects") == 2L && got("2022-01-02")("n_topics") == 2L)
  }
}
