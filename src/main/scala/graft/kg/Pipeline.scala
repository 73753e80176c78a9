package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The KG-construction dataflow (SURVEY.md §3.1 Spark shape):
  *
  *   docs(day pages)    —mapPartitions P1-P9→  ParsedDay(events, topics)
  *   docs(article pages)—mapPartitions P10-16→ ArticleRaw —dedup urls→
  *                      —map→ PreEnriched —column joins J1-J7→ articles
  *   articles —select columns→ ArticleRef (the narrow day-side view)
  *   ParsedDay —explode(array_distinct(hrefs))→ (doc, href) ⋈ ArticleRef
  *             —groupBy doc, sort_array(collect_list)→ per-doc ref list
  *   ParsedDay ⟕ per-doc refs —one flatMap→ event+topic triples
  *   ParsedDay —explode events/topics→ depth-1 mentions (url, date)
  *   mentions ⋈ ArticleRef columns → child mentions (depth 2)
  *   mentions ⋈ articles —flatMap→ article/place/osm triples
  *   mentions ⋈ one-hop dictionary → ohg triples
  *   union → distinct → partitioned by (event_date, graph_module)
  *
  * Object boundaries: the full EnrichedArticle is deserialized in exactly
  * one place, the (Mention, EnrichedArticle) flatMap that calls
  * Emit.articleTriples. The enrich assembly, the per-doc resolution, the
  * mentions, the ohg join and the parse-error lineage are column
  * expressions; the day-triple flatMap deserializes ParsedDay plus ArticleRef.
  *
  * The day-page side shuffles for the href⋈refs join, the group-back by
  * doc_id and the doc join; the mention side for the child join, the
  * mention distinct, mention⋈articles and the final distinct. Everything
  * else is narrow work. Dictionaries broadcast; the one-hop join is the
  * Zipf-skew hotspot and is AQE/salting-eligible (graft.plans.SaltedJoin is
  * the shuffle-side fallback when the dictionary outgrows broadcast).
  */
object Pipeline {

  case class ParsedDay(doc_id: String, events: Seq[KEvent], topics: Seq[KTopic])
  case class Mention(url: String, date: String, isTopic: Boolean,
      forcePlace: Boolean, traverseChildren: Boolean)

  /** Day-page scan of the persisted `documents` table (input_hint contract).
    * Resume pruning happens at the SOURCE: `onlyDates` becomes a filter on
    * the partition column, so uncommitted dates never leave the parquet
    * planner (reference analogue: skip-month-if-exists, __main__.py:286).
    */
  def dayDocs(spark: SparkSession, p: Synth.Params,
      onlyDates: Option[Set[String]] = None): Dataset[SpanDoc] = {
    import spark.implicits._
    val scan = CorpusStore.scan(spark, p)
    val dayParts = onlyDates match {
      case Some(ds) => scan.filter(col("part").isin(ds.toSeq: _*))
      case None => scan.filter(!col("part").startsWith("articles-"))
    }
    dayParts.select(col("doc_id"), col("spans")).as[SpanDoc]
  }

  /** Article-page scan of the same `documents` table (article buckets). */
  def articleDocs(spark: SparkSession, p: Synth.Params): Dataset[SpanDoc] = {
    import spark.implicits._
    CorpusStore.scan(spark, p)
      .filter(col("part").startsWith("articles-"))
      .select(col("doc_id"), col("spans")).as[SpanDoc]
  }

  /** Parse + enrich stages shared by triples and tests. */
  def parsedDays(spark: SparkSession, p: Synth.Params,
      onlyDates: Option[Set[String]] = None): Dataset[ParsedDay] = {
    import spark.implicits._
    dayDocs(spark, p, onlyDates)
      .map { d =>
        val (e, t, _) = DayPageParser.parse(d)
        ParsedDay(d.doc_id, e, t)
      }
  }

  /** Enriched articles plus the parse-stage cache the join graph holds
    * (released by the caller once the result is materialized).
    */
  def enrichedArticlesTracked(spark: SparkSession, p: Synth.Params):
      (Dataset[EnrichedArticle], Seq[Dataset[_]]) = {
    import spark.implicits._
    val articlesRaw = articleDocs(spark, p)
      .flatMap(ArticleParser.parse(_))
      .dropDuplicates("url") // J9: the reference's LRU memo, Spark-native
    Enrich.enrichJoinedTracked(articlesRaw, p)(spark)
  }

  /** In-row emission for one day doc with its resolved articles. */
  def emitDoc(pd: ParsedDay, arts: Map[String, ArticleRef]): Seq[Triple] = {
    val infos: Map[Long, Emit.TopicInfo] = pd.topics.map { t =>
      val art = t.linkHref.flatMap(arts.get)
      val uri = art.map(a => Uris.articleTopicUri(a.url)).getOrElse(Uris.textTopicUri(t.text))
      t.topicId -> Emit.TopicInfo(t.topicId, uri, art.map(_.url),
        art.map(_.classes).getOrElse(Nil), t.parentTopicIds)
    }.toMap
    val lite = arts.map { case (h, a) =>
      h -> Emit.ArtLite(a.url, a.wdUri, a.locationFlag, a.parentLocUris)
    }
    pd.events.flatMap(e => Emit.eventTriples(e, infos, lite)) ++
      pd.topics.flatMap { t =>
        val info = infos(t.topicId)
        Emit.topicTriples(t, info, infos, t.linkHref.flatMap(arts.get))
      }
  }

  /** Build + persist + materialize the triple table, then release the
    * intermediate stage caches (days / articles / mentions / enrich) the
    * build holds — callers keep only the one result leaf (free it with
    * [[graft.plans.Caches.free]]) instead of leaking four.
    */
  def materializedTriples(spark: SparkSession, sfDir: String,
      onlyDates: Option[Set[String]] = None): Dataset[Triple] = {
    val b = trackedBuild(spark, Synth.paramsFor(sfDir), onlyDates)
    // localCheckpoint, not persist: materializes the same MEMORY_AND_DISK
    // blocks AND truncates the logical plan to a leaf. The full build plan
    // is hundreds of nodes; downstream kg queries embed up to ~8 copies of
    // this frame, and with the un-truncated lineage every Dataset
    // transformation re-analyzes all of them — measured ~7 s of ANALYSIS per
    // chain query at sf0.1, dwarfing planning (0.5 s) and execution (2 s).
    // finally: a failed checkpoint job must still release the stage caches
    // (same failure-path hygiene as the other cache builders)
    // (graft.plans.Caches: reliable checkpoint under graft.cache.reliable)
    try graft.plans.Caches.leaf(b.triples)
    finally b.releaseCaches()
  }

  /** A triple build plus the stage caches it holds (released by the caller
    * once the result is materialized) and the per-date article parse-error
    * lineage (cheap to aggregate while the mention cache is still hot).
    */
  case class Build(triples: Dataset[Triple], caches: Seq[Dataset[_]],
      articleErrorsByDate: DataFrame) {
    def releaseCaches(): Unit = caches.foreach(_.unpersist(blocking = false))
  }

  def trackedBuild(spark: SparkSession, p: Synth.Params,
      onlyDates: Option[Set[String]] = None): Build = {
    import spark.implicits._

    // days feed three consumers (href explode, the doc join, the mention
    // explode) — persist so the day-page corpus is parsed once
    val days = parsedDays(spark, p, onlyDates)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (enriched, enrichCaches) = enrichedArticlesTracked(spark, p)
    val articles = enriched.persist(StorageLevel.MEMORY_AND_DISK)
    // the day side and the child-mention join read only these columns
    val refCols = ArticleRef.columns.map(col)
    val refs = articles.select(refCols: _*)

    // per-doc article resolution: every distinct href a doc needs (event
    // sentence links + topic links) joined to its ref, gathered back by doc
    val sentenceHrefs =
      flatten(flatten(col("events.sentences")).getField("links")).getField("href")
    val docArts = days
      .select(col("doc_id"),
        explode(array_distinct(concat(sentenceHrefs, array_compact(col("topics.linkHref")))))
          .as("href"))
      .join(refs, col("href") === col("url"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("href").as("_1"), struct(refCols: _*).as("_2"))))
        .as("arts"))
    val withArts = days.join(docArts, Seq("doc_id"), "left_outer")
    val docJoined = withArts
      .select(struct(col("doc_id"), col("events"), col("topics")).as("_1"),
        coalesce(col("arts"), array().cast(withArts.schema("arts").dataType)).as("_2"))
      .as[(ParsedDay, Seq[(String, ArticleRef)])]

    val dayTriples = docJoined.flatMap { case (pd, arts) => emitDoc(pd, arts.toMap) }

    // ---- article mentions → article/place/osm triples -----------------------
    // depth 1: each event's sentence-link hrefs and each topic's link, at
    // that row's date. Hrefs that name no article drop out at the inner
    // joins with the articles below; repeats at the mention distinct.
    val events = days.select(explode(col("events")).as("e"))
    val topics = days.select(explode(col("topics")).as("t"))
    val depth1 = events
      .select(explode(flatten(col("e.sentences.links")).getField("href")).as("url"),
        col("e.date").as("date"), lit(false).as("isTopic"))
      .unionByName(topics.where(col("t.linkHref").isNotNull)
        .select(col("t.linkHref").as("url"), col("t.date").as("date"), lit(true).as("isTopic")))
      .select(col("url"), col("date"), col("isTopic"),
        lit(false).as("forcePlace"), lit(true).as("traverseChildren"))
      .as[Mention]
    // depth 2: children of depth-1 place holders
    val childMentions = depth1
      .join(refs.select("url", "locationFlag", "childUrls"), Seq("url"))
      .where(col("locationFlag") || col("isTopic") || col("forcePlace"))
      .select(explode(col("childUrls")).as("url"), col("date"),
        lit(false).as("isTopic"), lit(true).as("forcePlace"),
        lit(false).as("traverseChildren"))
      .as[Mention]
    val mentions = depth1.union(childMentions).distinct()
    // one join, three consumers (article triples, ohg probe, error lineage);
    // articleTriples is the one step that needs the whole enriched record
    val mentArts = mentions
      .joinWith(articles, mentions("url") === articles("url"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val articleTriples = mentArts.flatMap { case (m, a) =>
      Emit.articleTriples(a, m.date, m.isTopic, m.forcePlace, m.traverseChildren)
    }

    // ---- ohg module: one-hop dictionary join (the skew hotspot) ------------
    // Broadcast while the dictionary fits the executor budget; beyond that a
    // plain shuffle join would put every head entity's probe volume on one
    // task (Zipf skew), so the fallback routes through SaltedJoin (north
    // rule: broadcast dictionary join + salted skew-join fallback). The
    // threshold is a conf so specs can force either path on the same corpus.
    val onehop = spark.range(p.articles)
      .flatMap(i => if (Synth.article(p, i.toInt).wdId.isDefined) Dicts.onehopFor(i.toInt) else Nil)
    val wdMentions = mentArts
      .select(col("_2.wdUri").as("subj_wd"), col("_1.date").as("event_date"))
      .where(col("subj_wd").isNotNull)
      .distinct()
    val bcastMaxArticles =
      spark.conf.get("graft.onehop.broadcast.maxArticles", "1000000").toInt
    val ohgJoined =
      if (p.articles <= bcastMaxArticles)
        wdMentions.join(broadcast(onehop.toDF()), Seq("subj_wd"))
      else {
        val hotThreshold =
          spark.conf.get("graft.onehop.salt.hotThreshold", "10000").toLong
        graft.plans.SaltedJoin.join(wdMentions, onehop.toDF(), "subj_wd",
          hotThreshold = hotThreshold)
      }
    val ohgTriples = ohgJoined
      .select(lit("ohg").as("graph_module"), col("subj_wd").as("subj"),
        col("pred"), col("obj"), col("obj_is_iri"),
        col("obj_dtype"), col("obj_lang"), col("event_date"))
      .as[Triple]

    val out = dayTriples
      .unionByName(articleTriples)
      .unionByName(ohgTriples)
      .dropDuplicates() // D1: rdflib graph set semantics

    // lineage: article parse errors attributed to each mention date, one
    // count per (date, article) — reads the mention cache (O5)
    val errorsByDate = mentArts
      .select(col("_1.date").as("event_date"), col("_2.url").as("url"),
        col("_2.nTimeParseErrors").as("time_errs"), col("_2.nDateParseErrors").as("date_errs"))
      .distinct()
      .groupBy(col("event_date"))
      .agg(sum(col("time_errs")).cast("long").as("n_time_parse_errors"),
        sum(col("date_errs")).cast("long").as("n_date_parse_errors"))

    Build(out, Seq(days, articles, mentArts) ++ enrichCaches,
      errorsByDate)
  }
}
