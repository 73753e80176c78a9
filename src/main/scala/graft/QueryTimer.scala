package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: warm in-session timings of selected queries (the shared
  * pipeline/edge caches are built first, so numbers isolate the query plans
  * from the build — unlike the cold-JVM Bench).
  * Usage: sbt 'runMain graft.QueryTimer kg05_event_map_wkts kg08_...'
  */
object QueryTimer {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "false")) // match Bench
      .config("graft.loop.shufflePartitions", // match Bench's loop width —
        math.min(8, cpus.toInt).toString) // without it loop timings read 3-4x high
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.headOption.contains("probeD02")) { probeD02(spark, sfDir); spark.stop(); return }
    if (args.headOption.contains("probeD06")) { probeD06(spark, sfDir); spark.stop(); return }
    KgPipeline.triples(spark, sfDir).count()
    KgPipeline.edges(spark, sfDir).count()
    if (args.headOption.contains("probe")) { probe(spark, sfDir); spark.stop(); return }
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    for (n <- names; fn <- SparkEntry.queries.get(n); r <- 1 to 2) {
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      println(f"[timer] $n run$r: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.stop()
  }

  private def t[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  /** Cold-path decomposition of the d02 LSH prologue + body. */
  def probeD02(spark: SparkSession, d: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.queries.Tables
    val docs = Tables.documents(spark, d).filter(size(split(col("text"), " ")) >= 3)
    t("docs scan")(docs.count())
    val bowFp = "md5(array_join(array_sort(array_distinct(split(text, ' '))), ' '))"
    t("bow fp groupBy")(docs.selectExpr("doc_id", s"$bowFp AS fp")
      .groupBy(col("fp")).agg(min(col("doc_id")).as("rep")).count())
    val mh = (0 until 4).map(k =>
      s"array_min(transform(sequence(1, greatest(length(text) - 7, 1)), " +
        s"i -> md5(concat('s$k', substr(text, i, 8))))) AS mh$k")
    t("minhash 4 seeds over all docs")(
      docs.selectExpr(Seq("doc_id") ++ mh: _*).count())
    // current d02 form: split once into toks, O(1) element_at inside the HOF
    val sh3 = "transform(sequence(1, size(toks) - 2), " +
      "i -> concat(element_at(toks, i), ' ', " +
      "element_at(toks, i + 1), ' ', element_at(toks, i + 2)))"
    t("shingle3 explode+count (toks materialized, as d02 runs)")(docs
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr("doc_id", s"explode(array_distinct($sh3)) AS sh").count())
    // the pre-fix inline-split form, kept for comparison: no CSE across the
    // lambda boundary, so every element re-splits the document (O(tokens²))
    val sh3Inline = sh3.replace("toks", "split(text, ' ')")
    t("shingle3 explode+count (inline split, pre-fix)")(docs
      .selectExpr("doc_id", s"explode(array_distinct($sh3Inline)) AS sh").count())
    t("d02 full cold")(graft.queries.Dedup.queries("d02_lsh_pairs")(spark, d).count())
    t("d02 full warm")(graft.queries.Dedup.queries("d02_lsh_pairs")(spark, d).count())
  }

  /** Cold-path decomposition of d06's stages. NOTE: the candidate stage here
    * is deliberately the UNBOUNDED all-pairs form (no mega-bucket star-pair
    * split) — it measures the candidate mass the >50-bucket guard in
    * Dedup.d06EmbeddingNeardup exists to avoid, so its `cand rows` can be
    * orders of magnitude above what the production query processes.
    */
  def probeD06(spark: SparkSession, d: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.queries.Tables
    val docs = Tables.documents(spark, d)
    val fpGroups = t("fpGroups build+checkpoint")(docs
      .selectExpr("doc_id", "md5(text) AS fp")
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("rep"), collect_list(col("doc_id")).as("members"))
      .localCheckpoint(true))
    t("docs.count")(docs.count())
    val nReps = t("fpGroups.count")(fpGroups.count())
    println(s"[probe] nReps=$nReps")
    val feat = t("feat (tokenCountVec) build+checkpoint")(docs
      .select(col("doc_id"), graft.functions.Native.tokenCountVec("text", 64).as("v"))
      .localCheckpoint(true))
    val bkt = t("bkt (embBuckets) build+checkpoint")(feat
      .join(fpGroups.select(col("rep").as("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), graft.functions.Native.embBuckets("v", 4, 7).as("bkts"))
      .selectExpr("doc_id", "posexplode(bkts) AS (band, bucket)")
      .localCheckpoint(true))
    val groupPairs = fpGroups
      .selectExpr("rep AS a", "explode(members) AS b").filter(col("a") < col("b"))
    val cand = t("cand self-join+distinct count (UNBOUNDED, pre-guard form)") {
      val c = bkt.as("x").join(bkt.as("y"),
          col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .unionByName(groupPairs).distinct()
      println(s"[probe] cand rows: ${c.count()}"); c
    }
    val vecs = feat.selectExpr("doc_id", "v",
      "aggregate(v, CAST(0 AS BIGINT), (acc, x) -> acc + x * x) AS n2")
    def side(n: String, vn: String, nn: String) =
      broadcast(vecs.select(col("doc_id").as(n), col("v").as(vn), col("n2").as(nn)))
    t("verify joins+sort") {
      cand.join(side("a", "va", "n2a"), Seq("a"))
        .join(side("b", "vb", "n2b"), Seq("b"))
        .selectExpr("a", "b",
          "aggregate(zip_with(va, vb, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v) AS dot",
          "n2a", "n2b")
        .selectExpr("a", "b",
          "CAST(floor(1e6 * dot / (sqrt(n2a) * sqrt(n2b))) AS BIGINT) AS sim_e6")
        .filter(col("sim_e6") >= 950000L)
        .orderBy(col("sim_e6").desc, col("a"), col("b")).count()
    }
    t("d06 full cold")(graft.queries.Dedup.queries("d06_embedding_neardup")(spark, d).count())
    t("d06 full warm")(graft.queries.Dedup.queries("d06_embedding_neardup")(spark, d).count())
  }

  /** Sub-step timings for the iterative kg queries. */
  def probe(spark: SparkSession, d: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.kg.Ns
    val e = KgPipeline.edges(spark, d)
    t("edge cache full scan")(e.count())
    val sameAs = e.filter(col("pred") === Ns.owlSameAs).select(col("subj"), col("obj"))
    println(s"[probe] sameAs rows: ${t("sameAs filter")(sameAs.count())}")
    val sym = sameAs.select(col("subj").as("u"), col("obj").as("v"))
      .union(sameAs.select(col("obj").as("u"), col("subj").as("v")))
    t("sym count")(sym.count())
    val symP = sym.persist()
    t("sym persist mat")(symP.count())
    val assign = symP.groupBy(col("u").as("node")).agg(min(col("v")).as("mv"))
      .select(col("node"), least(col("node"), col("mv")).as("comp"))
    t("init assign checkpoint")(assign.localCheckpoint(true))
    val a2 = assign.localCheckpoint(true)
    val viaNbr = symP.join(a2.withColumnRenamed("node", "v"), Seq("v"))
      .groupBy(col("u").as("node")).agg(min(col("comp")).as("nbr_comp"))
    val vn = t("viaNbr count")(viaNbr.count())
    println(s"[probe] viaNbr rows: $vn")
    val prop0 = a2.withColumnRenamed("comp", "prev")
      .join(viaNbr, Seq("node"), "left")
      .select(col("node"), col("prev"),
        least(col("prev"), coalesce(col("nbr_comp"), col("prev"))).as("comp"))
    t("prop count")(prop0.count())
    val propC = t("prop checkpoint")(prop0.localCheckpoint(true))
    t("jump from checkpointed prop") {
      propC.as("x")
        .join(propC.select(col("node").as("comp"), col("comp").as("jcomp")).as("y"),
          Seq("comp"), "left")
        .select(col("node"), col("prev"), coalesce(col("jcomp"), col("comp")).as("comp"))
        .localCheckpoint(true)
    }
    t("round: viaNbr+prop+jump checkpoint (uncheckpointed prop, as in CC.run)") {
      val prop = a2.withColumnRenamed("comp", "prev")
        .join(viaNbr, Seq("node"), "left")
        .select(col("node"), col("prev"),
          least(col("prev"), coalesce(col("nbr_comp"), col("prev"))).as("comp"))
      val jump = prop.as("x")
        .join(prop.select(col("node").as("comp"), col("comp").as("jcomp")).as("y"),
          Seq("comp"), "left")
        .select(col("node"), col("prev"), coalesce(col("jcomp"), col("comp")).as("comp"))
      jump.localCheckpoint(true)
    }
    symP.unpersist()
    // kg04 probe
    val during = e.filter(col("pred") === Ns.COY + "isOccuringDuring")
      .select(col("subj").as("child"), col("obj").as("parent"))
    println(s"[probe] during rows: ${t("during filter")(during.count())}")
    val seed = during.groupBy(col("parent")).count()
      .orderBy(col("count").desc, col("parent")).limit(1).select(col("parent"))
    t("kg04 seed")(seed.collect())
    val frontier = seed.withColumnRenamed("parent", "node").localCheckpoint(true)
    t("kg04 one round: join+distinct+anti+checkpoint") {
      during.join(frontier.withColumnRenamed("node", "parent"), Seq("parent"))
        .select(col("child").as("node")).distinct()
        .join(frontier, Seq("node"), "left_anti")
        .localCheckpoint(true)
    }
    // kg05 chain decomposition
    def p(pred: String) = e.filter(col("pred") === pred)
      .select(col("subj"), col("obj"))
    val evCtx = p(Ns.COY + "isIdentifiedBy").select(col("subj").as("event"), col("obj").as("ctx"))
    val ctxSent = p(Ns.NIF + "subString").select(col("subj").as("ctx"), col("obj").as("sent"))
      .filter(col("sent").startsWith(Ns.sentences))
    val sentPhrase = p(Ns.NIF + "subString").select(col("subj").as("sent"), col("obj").as("phrase"))
      .filter(col("phrase").startsWith(Ns.phrases))
    val phraseArt = p(Ns.GN + "wikipediaArticle")
      .filter(col("subj").startsWith(Ns.phrases))
      .select(col("subj").as("phrase"), col("obj").as("article"))
    println(s"[probe] evCtx rows: ${t("evCtx")(evCtx.count())}")
    println(s"[probe] ctxSent rows: ${t("ctxSent")(ctxSent.count())}")
    val c2 = evCtx.join(ctxSent, "ctx")
    println(s"[probe] chain2 rows: ${t("chain2")(c2.count())}")
    val c3 = c2.join(sentPhrase, "sent")
    println(s"[probe] chain3 rows: ${t("chain3")(c3.count())}")
    val c4 = c3.join(phraseArt, "phrase")
    println(s"[probe] chain4 rows: ${t("chain4")(c4.count())}")
    val q5 = KgPipeline.kg05EventMapWkts(spark, d)
    t("kg05 planning only")(q5.queryExecution.executedPlan)
    t("kg05 execute after planned")(q5.count())
    t("kg05 full fresh1")(KgPipeline.kg05EventMapWkts(spark, d).count())
    t("kg05 full fresh2")(KgPipeline.kg05EventMapWkts(spark, d).count())
    val q5b = KgPipeline.kg05EventMapWkts(spark, d)
    t("kg05b planning only")(q5b.queryExecution.executedPlan)
    t("kg05b execute after planned")(q5b.count())
    t("kg05 collect not count")(KgPipeline.kg05EventMapWkts(spark, d).collect().length)
    t("kg06 full")(KgPipeline.kg06TopicGraph(spark, d).count())
  }
}
