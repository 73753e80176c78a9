package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.kg.Pipeline
import graft.plans.Caches

/** Leak guard for the shared leaves: build/release cycles in one JVM must
  * leave no persisted RDD and no edge-cache directory behind. All suites
  * share one SparkContext, so the checks compare against a snapshot of the
  * persistent RDD ids taken before the test instead of asserting emptiness.
  */
class LeafLeakSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  /** Persistent RDD ids once unreachable intermediates are collected: the
    * context tracks persisted RDDs weakly, so a GC drops those nothing holds.
    */
  private def persistentIds(): Set[Int] = {
    System.gc()
    spark.sparkContext.getPersistentRDDs.keySet.toSet
  }

  /** Persistent ids not in `before`, retried over a few GCs until they
    * equal `expect`.
    */
  private def newPersistent(before: Set[Int], expect: Set[Int] = Set.empty): Set[Int] = {
    var extra = persistentIds() -- before
    var tries = 0
    while (extra != expect && tries < 10) {
      Thread.sleep(200)
      extra = persistentIds() -- before
      tries += 1
    }
    extra
  }

  private def ownEdgeDirs(): Seq[String] = {
    val root = new java.io.File(sys.props("java.io.tmpdir"), "graft-edge-cache")
    val pid = "-p" + ProcessHandle.current().pid()
    Option(root.listFiles()).toSeq.flatten.map(_.getName).filter(_.endsWith(pid))
  }

  test("two build/release cycles of all 11 leaves leave no persisted RDD and no edge-cache dir") {
    val before = persistentIds()
    for (cycle <- 1 to 2) {
      // the six kg leaves
      KgPipeline.triples(spark, sfDir).count()
      KgPipeline.edges(spark, sfDir).count()
      KgPipeline.enriched(spark, sfDir).count()
      KgPipeline.kg12MonthlyMetrics(spark, sfDir).count()
      KgPipeline.corpusSpans(spark, sfDir).count()
      KgPipeline.cooccurrence(spark, sfDir).count()
      // d02 builds the prologue, band-pair and verified-pair leaves, d09
      // reads the band pairs, s05 builds the s01/s02 leaves
      for (q <- Seq("d02_lsh_pairs", "d09_minhash_calibration", "s05_ann_recall"))
        SparkEntry.queries(q)(spark, sfDir).count()
      assert(ownEdgeDirs().nonEmpty, s"cycle $cycle: the edge leaf must write its dir")
      KgPipeline.release()
      val leaked = newPersistent(before)
      assert(leaked.isEmpty, s"cycle $cycle: persisted RDDs left after release: $leaked")
      assert(ownEdgeDirs().isEmpty,
        s"cycle $cycle: edge-cache dirs left after release: ${ownEdgeDirs()}")
    }
  }

  test("materializedTriples keeps only its own leaf persisted; Caches.free drops it") {
    val before = persistentIds()
    val t = Pipeline.materializedTriples(spark, sfDir)
    val leafIds = t.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
    assert(leafIds.size == 1)
    assert(newPersistent(before, leafIds) == leafIds, "the build's stage caches must be released")
    Caches.free(t)
    assert(newPersistent(before).isEmpty)
  }
}
