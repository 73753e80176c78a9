package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The edge cache is a pred-partitioned parquet store private to its leaf.
  * It must hold exactly the distinct (subj, pred, obj) projection of the
  * triple table over the retained predicates, its directory must go with
  * the leaf, and a single-predicate filter's scan must read only that
  * predicate's partition.
  */
class EdgeLayoutSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  // The removed leaf layout held exactly the direct distinct projection of
  // the triples over EdgePreds, so that projection is the reference set.
  test("pred-partitioned layout returns the exact leaf-layout edge set") {
    val s = spark.newSession() // own leaf key → own edge build
    val edges = KgPipeline.edges(s, sfDir)
    val direct = KgPipeline.triples(s, sfDir)
      .filter(col("pred").isin(KgPipeline.EdgePreds: _*))
      .select(col("subj"), col("pred"), col("obj")).distinct()
    assert(edges.columns.toSeq == direct.columns.toSeq)
    val e = edges.collect().map(_.toSeq).sortBy(_.mkString("\u0000"))
    val d = direct.collect().map(_.toSeq).sortBy(_.mkString("\u0000"))
    assert(e.length == d.length, s"row counts differ: ${e.length} vs ${d.length}")
    // URI predicates round-trip through URL-escaped partition directory
    // names — any escaping defect shows up here as a value diff
    assert(e.sameElements(d))
  }

  test("release() deletes the pred layout's session-private parquet dir") {
    val s = spark.newSession()
    val root = java.nio.file.Files.createTempDirectory("graft_pred_dir").toFile
    s.conf.set("graft.edges.predDir", root.getPath)
    val e = KgPipeline.edges(s, sfDir)
    val dirs = e.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.rootPaths.map(p => new java.io.File(p.toUri.getPath))
    }.flatten
    assert(dirs.size == 1 && dirs.head.getParentFile == root,
      s"edges must read one dir under the custom graft.edges.predDir: $dirs")
    assert(dirs.head.exists())
    KgPipeline.release()
    assert(!dirs.head.exists(),
      s"release() must delete the edge-cache dir ${dirs.head} — " +
        "repeated build cycles would otherwise grow the store")
    root.delete()
  }

  test("single-predicate filter prunes partitions in the pred layout") {
    val e = KgPipeline.edges(spark.newSession(), sfDir)
    val one = e.filter(col("pred") === graft.kg.Ns.owlSameAs)
    val scans = one.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "pred layout must scan parquet files")
    val scan = scans.head
    // static partition pruning: exactly one of the ~16 pred partitions
    assert(scan.relation.partitionSchema.fieldNames.contains("pred"),
      "pred must be a partition column")
    assert(scan.metadata.get("PartitionFilters").exists(_.contains("pred")),
      s"partition filter on pred missing: ${scan.metadata}")
    val selected = scan.selectedPartitions.partitionCount
    assert(selected == 1,
      s"expected 1 selected pred partition, got $selected")
  }
}
