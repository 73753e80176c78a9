package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.KgPipeline
import graft.emit.TableIO
import graft.kg.{ArticleParser, Materialize, Pipeline, SequentialOracle, Synth, Triple}
import graft.queries.{Dedup, Graph, Sketches}

/** Row count and order-independent hash of one op's output. */
final case class Fp(rows: Long, hash: Long)

/** One timed call sequence of a lap. `run(first)` performs the op and returns
  * the fingerprint later laps must reproduce; `first` is true on the run's
  * first lap, which a workload may use to keep outputs for its gate.
  */
final case class Op(name: String, run: Boolean => Fp)

/** What the runner needs from a workload. Every engine call goes through a
  * public function of the engine; nothing here reaches into its internals.
  */
trait Workload {
  /** Input documents one lap processes, for docs_per_s. */
  def docs: Long
  /** Build inputs and shared leaves from scratch; `teardown` undoes it. */
  def setup(): Unit
  def teardown(): Unit
  /** Set-up repetitions per run; setup_s reports their median. */
  def setupRounds: Int = 3
  /** Whether an untimed lap runs before the measured ones. */
  def warmUp: Boolean
  def ops: Seq[Op]
  /** Called after the last op of every lap; timed as part of the lap. */
  def lapEnd(): Unit = ()
  /** Untimed hygiene between laps (after the lap's figures are taken). */
  def betweenLaps(): Unit = ()
  /** Correctness checks outside the timed laps: (check name, failure). */
  def gate(): Seq[(String, Option[String])]
  /** Extra traced-only probes (layer split); returns named counters. */
  def probes(): Map[String, Double] = Map.empty
  /** Loop-round counters to read from plans.Meters after an op. */
  def meterAfter: Map[String, (String, String)] = Map.empty
}

object Sink {

  /** Hashable, lap-stable form of a column: map columns become JSON (Spark
    * cannot hash maps) and floating columns are rounded, since a shuffle's
    * fetch order may change the last bits of a floating-point sum.
    */
  private def stable(f: StructField): Column = f.dataType match {
    case _: MapType => to_json(col(f.name))
    case DoubleType | FloatType => round(col(f.name).cast(DoubleType), 6)
    case _ => col(f.name)
  }

  /** Write `df` to the noop sink, so every column of every row is computed,
    * and observe its row count and order-independent hash (plus any `extra`
    * aggregates) in the same job.
    */
  def noop(df: DataFrame, extra: Column*): (Fp, Map[String, Any]) = write(df, None, extra)

  /** As [[noop]], but with `parquet` set the rows go to that directory. */
  def write(df: DataFrame, parquet: Option[String], extra: Seq[Column] = Nil):
      (Fp, Map[String, Any]) = {
    val obs = Observation()
    val h = xxhash64(df.schema.fields.toSeq.map(stable): _*)
    val w = df.observe(obs, count(lit(1)).as("_n"),
        (coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)).as("_h") +: extra): _*)
      .write.mode("overwrite")
    parquet match {
      case Some(dir) => w.parquet(dir)
      case None => w.format("noop").save()
    }
    val m = obs.get
    (Fp(m("_n").asInstanceOf[Long], m("_h").asInstanceOf[Long]), m)
  }

  def rm(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
}

/** The paper's product: a month-by-month backfill of the KG into a fresh
  * committed triple table, then one read of the whole snapshot.
  */
final class KgBuild(spark: SparkSession, tr: Tracer, seed: Long,
    params: Synth.Params, work: Path) extends Workload {
  import Sink._

  // the seed re-keys every day page through Synth.day's hash of the year
  val p: Synth.Params = params.copy(year = 2000 + Math.floorMod(seed, 40L).toInt)
  private val months: Seq[Seq[String]] =
    (1 to p.months).map(m => Materialize.datesOfMonth(p, p.year, m))
  val docs: Long = Synth.allDaysOf(p).size.toLong + p.articles
  // a backfill runs in a fresh JVM, so its users pay the cold first month
  val warmUp = false
  // each lap backfills a fresh table; the previous one is deleted between laps
  private var lap = 1
  private def table: String = work.resolve(s"tables/lap$lap").toString

  def setup(): Unit = tr.span("kg.decode.render") {
    graft.kg.CorpusStore.ensure(spark, p)
  }

  def teardown(): Unit = rm(work.resolve(graft.kg.CorpusStore.dirFor(p)))

  /** REPLACE WHERE of one month's build with the lineage metrics
    * Materialize.run records; returns the month's committed partitions.
    */
  private def commit(b: Pipeline.Build, into: String, dates: Seq[String]):
      Seq[TableIO.PartitionMeta] = {
    val m = tr.span("emit.commit")(Runner.boundary {
      TableIO.replacePartitions(spark, into, b.triples.toDF(), "event_date", dates,
        metricsFn = Materialize.lineageMetrics(_, b.articleErrorsByDate))
    })
    dates.flatMap(m.partitions.get)
  }

  /** One op per month: the three calls Materialize.run makes. */
  def ops: Seq[Op] = months.zipWithIndex.map { case (dates, i) =>
    Op(f"month${i + 1}%02d", _ => {
      val b = tr.span("kg.build")(Pipeline.trackedBuild(spark, p, Some(dates.toSet)))
      try Fp(commit(b, table, dates).map(_.rows).sum, 0L)
      finally tr.span("kg.release")(b.releaseCaches())
    })
  } :+ Op("read_snapshot", _ =>
    tr.span("emit.read")(noop(TableIO.read(spark, table, "event_date"))._1))

  override def betweenLaps(): Unit = {
    rm(Paths.get(table))
    lap += 1
  }

  def gate(): Seq[(String, Option[String])] = {
    val got = TableIO.read(spark, table, "event_date")
      .withColumn("event_date", col("event_date").cast("string"))
      .select(classOf[Triple].getDeclaredFields.map(f => col(f.getName)).toSeq: _*)
    import spark.implicits._
    val engine = got.as[Triple].collect().toSet
    val expected = SequentialOracle.expectedTriples(p)
    val onlyEngine = (engine -- expected).size
    val onlyOracle = (expected -- engine).size
    Seq("snapshot_equals_sequential_oracle" ->
      (if (onlyEngine == 0 && onlyOracle == 0 && engine.nonEmpty) None
       else Some(s"${engine.size} committed vs ${expected.size} expected triples: " +
         s"$onlyEngine engine-only, $onlyOracle oracle-only")))
  }

  /** Layer split: per month, each prefix of the month's build timed into
    * the noop sink (self times are differences of these prefixes, computed
    * by the report), then the commit of that same build into a scratch
    * table, and finally one read of that table. The commit runs while the
    * build's stage caches are still held, so its span is the commit's own
    * exchange, write and lineage pass (plus the uncached final distinct).
    */
  override def probes(): Map[String, Double] = {
    import spark.implicits._
    val into = work.resolve("tables/probe").toString
    var enrichedRows = 0L
    var parsedRows = 0L
    var triples = 0L
    var files = 0L
    val urls = scala.collection.mutable.Set.empty[String]
    months.zipWithIndex.foreach { case (dates, i) =>
      val d = Some(dates.toSet)
      tr.span("probe.decode.days", op = i)(noop(Pipeline.dayDocs(spark, p, d).toDF()))
      tr.span("probe.decode.articles", op = i)(noop(Pipeline.articleDocs(spark, p).toDF()))
      parsedRows += tr.span("probe.parse.days", op = i)(
        noop(Pipeline.parsedDays(spark, p, d).toDF()))._1.rows
      parsedRows += tr.span("probe.parse.articles", op = i)(noop(
        Pipeline.articleDocs(spark, p).flatMap(ArticleParser.parse(_)).toDF()))._1.rows
      val (e, caches) = Pipeline.enrichedArticlesTracked(spark, p)
      val (efp, em) = try tr.span("probe.enrich", op = i)(
          noop(e.toDF(), collect_set(col("url")).as("_urls")))
        finally caches.foreach(_.unpersist(blocking = false))
      enrichedRows += efp.rows
      urls ++= em("_urls").asInstanceOf[scala.collection.Seq[String]]
      val b = Pipeline.trackedBuild(spark, p, d)
      try {
        triples += tr.span("probe.emit", op = i)(noop(b.triples.toDF()))._1.rows
        files += tr.span("probe.commit", op = i)(commit(b, into, dates)).map(_.files).sum
      } finally b.releaseCaches()
    }
    tr.span("probe.read")(noop(TableIO.read(spark, into, "event_date")))
    Map("kg.parse.rows" -> parsedRows.toDouble,
      "kg.emit.triples" -> triples.toDouble,
      "emit.commit.files" -> files.toDouble,
      "kg.enrich.useful_ratio" -> urls.size.toDouble / math.max(1L, enrichedRows))
  }
}

/** The reference's analytic SPARQL surface (kg01-kg18) over a built KG. The
  * engine keys this surface by sf directory name, so the corpus is fixed by
  * `sfName` and the seed does not reach it. Not listed in BENCHMARK.json:
  * its shared-leaf set-up alone takes 30-50 s; run it by name.
  */
final class KgQuery(spark: SparkSession, tr: Tracer, sfName: String, work: Path)
    extends Workload {
  import Sink._
  // only the directory NAME matters: Synth.paramsFor reads the scale from it
  private val sf = work.resolve(sfName).toString
  private val p = Synth.paramsFor(sf)
  val docs: Long = Synth.allDaysOf(p).size.toLong + p.articles
  val warmUp = true
  // one shared-leaf build takes 30-50 s at sf0.01
  override def setupRounds: Int = 1

  private val leaves: Seq[(String, () => Long)] = Seq(
    "triples" -> (() => KgPipeline.triples(spark, sf).count()),
    "edges" -> (() => KgPipeline.edges(spark, sf).count()),
    "enriched" -> (() => KgPipeline.enriched(spark, sf).count()),
    "metrics" -> (() => KgPipeline.kg12MonthlyMetrics(spark, sf).count()),
    "corpus" -> (() => KgPipeline.corpusSpans(spark, sf).count()),
    "cooc" -> (() => KgPipeline.cooccurrence(spark, sf).count()))

  def setup(): Unit = leaves.foreach { case (n, f) =>
    tr.span(s"plans.build.$n")(Runner.boundary(f()))
  }

  def teardown(): Unit = {
    KgPipeline.release()
    rm(work.resolve(graft.kg.CorpusStore.dirFor(p)))
  }

  def ops: Seq[Op] = KgPipeline.queries.toSeq.sortBy(_._1).map { case (n, fn) =>
    Op(n, _ => tr.span(s"kg.q.$n")(noop(fn(spark, sf))._1))
  }

  override def meterAfter: Map[String, (String, String)] = Map(
    "kg04_closure_events_per_month" -> ("reach.rounds", "canon.reach.rounds"),
    "kg08_canonical_clusters" -> ("cc.rounds", "canon.cc.rounds"))

  def gate(): Seq[(String, Option[String])] = {
    val r = try Right(KgPipeline.kg16TripleParity(spark, sf).collect().head)
      catch { case e: Throwable => Left(String.valueOf(e.getMessage)) }
    Seq("kg16_triple_parity_zero_diff" -> (r match {
      case Left(msg) => Some(msg)
      case Right(row) =>
        if (row.getLong(3) == 0L && row.getLong(4) == 0L) None
        else Some(s"${row.getLong(3)} engine-only, ${row.getLong(4)} oracle-only")
    }))
  }
}

/** Training-data operator families over a seed-selected ~90% row subset of
  * the read-only test tables: d02's LSH dedup chain (its shared leaves are
  * rebuilt every lap), g01's connected components (a loop under
  * Aqe.without) and sk04's window. The first lap writes each result as
  * parquet for the DuckDB oracle gate (run by run.py); later laps write to
  * the noop sink.
  */
final class CorpusOps(spark: SparkSession, tr: Tracer, seed: Long,
    source: String, work: Path) extends Workload {
  import Sink._
  private val data = work.resolve("data/sf").toString
  private val gateDir = work.resolve("gate")
  val warmUp = true
  val queries: Seq[String] =
    Seq("d02_lsh_pairs", "g01_cc_chains", "sk04_quantile_sketch")
  private val all = Dedup.queries ++ Graph.queries ++ Sketches.queries
  private val oracle = Dedup.oracleSql ++ Graph.oracleSql ++ Sketches.oracleSql
  lazy val docs: Long = spark.read.parquet(s"$data/documents.parquet").count()

  /** Keep every row whose seeded hash misses bucket 0 of 10. Kept documents
    * are renumbered 0..n-1 in doc_id order: the graph queries build their
    * chains and trees from contiguous ids, and so do their oracles.
    */
  def setup(): Unit = Seq("documents", "lineitem").foreach { t =>
    val df = spark.read.parquet(s"$source/$t.parquet")
    val kept = df.filter(
      pmod(xxhash64((lit(seed) +: df.columns.toSeq.map(col)): _*), lit(10L)) =!= 0)
    (if (t != "documents") kept
     else kept.withColumn("doc_id",
       row_number().over(Window.orderBy("doc_id")).cast("long") - 1L))
      .write.mode("overwrite").parquet(s"$data/$t.parquet")
  }

  def teardown(): Unit = rm(Paths.get(data))

  def ops: Seq[Op] = queries.map { n =>
    Op(n, first => tr.span(s"queries.$n") {
      val df = all(n)(spark, data)
      (if (first) write(df, Some(gateDir.resolve(n).toString)) else noop(df))._1
    })
  }

  override def lapEnd(): Unit = tr.span("plans.release") {
    KgPipeline.release()
    Dedup.release()
  }

  override def meterAfter: Map[String, (String, String)] = Map(
    "g01_cc_chains" -> ("cc.rounds", "canon.cc.rounds.g01"))

  /** Spark half of the oracle gate: the oracle SQL beside the first lap's
    * result parquet; run.py compares them in DuckDB.
    */
  def gate(): Seq[(String, Option[String])] = {
    Files.createDirectories(gateDir)
    Files.writeString(gateDir.resolve("oracle_sql.json"),
      Json.encode(queries.map(n => n -> oracle(n)).toMap))
    Nil
  }
}
