package graft.emit

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ReplacePartitionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("a throwing metricsFn leaves no cached slice behind and commits nothing") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_slice_leak").toString
    val df = Seq(("a", 1, "2022-01-01"), ("b", 2, "2022-01-02")).toDF("k", "v", "d")
    // other suites share this SparkContext and may hold their own caches
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalStateException] {
      TableIO.replacePartitions(spark, table, df, "d", Seq("2022-01-01", "2022-01-02"),
        metricsFn = slice => {
          // the slice is materialized by the write before this runs
          assert(spark.sparkContext.getPersistentRDDs.keySet != before)
          throw new IllegalStateException("metrics failed")
        })
    }
    assert(e.getMessage == "metrics failed")
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    assert(TableIO.currentManifest(table).partitions.isEmpty)
  }
}
