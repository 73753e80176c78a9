package graft.kg

import org.apache.spark.sql.SparkSession

/** Dev tool: per-stage timings of the KG pipeline at a given core count. */
object Profile {
  def main(args: Array[String]): Unit = {
    val cores = args.headOption.map(_.toInt).getOrElse(8)
    val p = Synth.Params(
      months = sys.env.get("SPARK_GRAFT_BENCH_MONTHS").map(_.toInt).getOrElse(12),
      articles = sys.env.get("SPARK_GRAFT_BENCH_ARTICLES").map(_.toInt).getOrElse(4000),
      year = 2019,
      years = sys.env.get("SPARK_GRAFT_BENCH_YEARS").map(_.toInt).getOrElse(3))
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cores.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.autoBroadcastJoinThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BCAST", "10485760"))
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // stage-level accounting: wall duration + summed task time per stage
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Long)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        val taskTime = si.taskMetrics.executorRunTime
        stages.put(si.stageId, (si.name.takeWhile(_ != '\n').take(60), wall, taskTime))
      }
    })

    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum
    }
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val g0 = gcMs
      val r = f
      println(f"[profile][$cores cores] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  gc ${(gcMs - g0) / 1000.0}%6.2f s")
      r
    }

    time("dayDocs.count")(Pipeline.dayDocs(spark, p).count())
    time("parse.count")(Pipeline.parsedDays(spark, p).count())
    // release the stage caches: a leaked one would let CacheManager serve
    // it to the "full triples.count" plan below, hiding the parse/pre-enrich
    // cost from the headline timing
    val (enrichedDs, enrichStageCaches) = Pipeline.enrichedArticlesTracked(spark, p)
    time("enrich.count")(enrichedDs.count())
    enrichStageCaches.foreach(_.unpersist(blocking = true))
    stages.clear()
    time("full triples.count") {
      val b = Pipeline.trackedBuild(spark, p)
      b.triples.count()
      b
    }.releaseCaches()
    import scala.jdk.CollectionConverters._
    val top = stages.asScala.toSeq.sortBy(-_._2._2).take(12)
    for ((id, (name, wall, task)) <- top)
      println(f"[stage][$cores] #$id%-4d wall ${wall / 1000.0}%7.2f s  taskSum ${task / 1000.0}%8.2f s  $name")
    spark.stop()
  }
}
