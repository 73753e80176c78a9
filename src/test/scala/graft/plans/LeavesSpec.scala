package graft.plans

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class LeavesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def noFree(v: String): Unit = ()

  test("builder runs exactly once per key under concurrent first calls") {
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val latch = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = {
            latch.await()
            Leaves.leaf("spec", spark, "dirA") { builds.incrementAndGet(); "vA" }(noFree)
          }
        })
      }
      latch.countDown()
      assert(futures.map(_.get()).forall(_ == "vA"))
      assert(builds.get() == 1)
    } finally pool.shutdown()
  }

  test("keys are session REFERENCES: a different session object rebuilds") {
    var n = 0
    def get(s: SparkSession, d: String): String =
      Leaves.leaf("spec-ref", s, d) { n += 1; s"v$n" }(noFree)
    val s2 = spark.newSession() // same context, distinct session reference
    assert(get(spark, "d") == "v1")
    assert(get(spark, "d") == "v1") // cached
    assert(get(s2, "d") == "v2")    // distinct reference
    assert(get(spark, "e") == "v3") // distinct dir
    assert(n == 3)
  }

  test("a builder may request ANOTHER leaf (the edges->triples chain)") {
    // the build runs outside the map's computeIfAbsent, so a nested request
    // (which inserts its own entry and purges stopped sessions) never
    // modifies the map from inside a mapping function
    val got = Leaves.leaf("spec-outer", spark, "d") {
      "outer(" + Leaves.leaf("spec-inner", spark, "d")("innerV")(noFree) + ")"
    }(noFree)
    assert(got == "outer(innerV)")
    // both entries landed and are served from cache afterwards
    assert(Leaves.leaf[String]("spec-inner", spark, "d")(fail("inner rebuilt"))(noFree) == "innerV")
    assert(Leaves.leaf[String]("spec-outer", spark, "d")(fail("outer rebuilt"))(noFree) ==
      "outer(innerV)")
  }

  test("a failed build is retried with the next caller's thunk; releaseAll frees built leaves once") {
    val freed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def record(v: String): Unit = freed.add(v)
    intercept[IllegalStateException] {
      Leaves.leaf[String]("spec-retry", spark, "d")(
        throw new IllegalStateException("first build fails"))(record)
    }
    assert(Leaves.leaf("spec-retry", spark, "d")("second")(record) == "second")
    intercept[IllegalStateException] {
      Leaves.leaf[String]("spec-never-built", spark, "d")(
        throw new IllegalStateException("never built"))(_ => freed.add("never-built"))
    }
    assert(Leaves.leaf("spec-ok", spark, "d")("ok")(record) == "ok")
    Leaves.releaseAll()
    Leaves.releaseAll() // a second release finds nothing left to free
    assert(freed.asScala.toSeq.sorted == Seq("ok", "second"))
    // a released leaf is rebuilt on its next use
    assert(Leaves.leaf("spec-ok", spark, "d")("rebuilt")(record) == "rebuilt")
    Leaves.releaseAll()
    assert(freed.asScala.toSeq.sorted == Seq("ok", "rebuilt", "second"))
  }
}
