package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.kg.{Pipeline, Synth, Triple}
import graft.emit.TableIO

class IncrementalKgSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("streamed incremental commits converge to the one-shot batch table") {
    val sfDir = "/root/testdata/sf0.001"
    val p = Synth.paramsFor(sfDir)
    val table = Files.createTempDirectory("graft_inc_kg").toString
    val checkpoint = Files.createTempDirectory("graft_inc_ckpt").toString

    // small trigger → several micro-batches over the 59 day partitions
    val q = IncrementalKg.start(spark, p, table, checkpoint, filesPerTrigger = 25)
    q.processAllAvailable()
    q.stop()

    val m = TableIO.currentManifest(table)
    assert(m.snapshotId >= 2, "expected multiple micro-batch commits")
    assert(m.partitions.keySet.count(_.startsWith("2022-")) == 59)
    assert(m.partitions.values.forall(_.metrics.contains("n_time_parse_errors")))

    val gotSet = TableIO.read(spark, table, "event_date")
      .selectExpr("graph_module", "subj", "pred", "obj", "obj_is_iri",
        "obj_dtype", "obj_lang", "CAST(event_date AS STRING) AS event_date")
      .as[Triple](spark.implicits.newProductEncoder[Triple])
      .collect().toSet
    val batchSet = Pipeline.materializedTriples(spark, sfDir).collect().toSet
    assert(gotSet == batchSet)
  }
}
