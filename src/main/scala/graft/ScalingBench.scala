package graft

import org.apache.spark.sql.SparkSession
import graft.kg.{Pipeline, Synth}

/** Two-parallelism scaling benchmark (BASELINE.json north rule: the N vs 4N
  * executor criterion, evidenced in this sandbox by running the same job at
  * local[N] and local[4N] on the same input — see BENCH/BASELINE.md).
  *
  * Measurement protocol: ONE JVM and ONE SparkSession per parallelism level
  * (`runMain graft.ScalingBench single <cores>`), the full pipeline executed
  * twice in that session — the first run absorbs JIT/codegen warmup, the
  * second is reported. Empirically, re-creating SparkSessions inside one JVM
  * degrades later runs ~6× (metaspace/codegen-class churn), and cold single
  * runs charge ~10 s of JIT to the measurement; warm-run-per-JVM avoids both.
  * tools/scaling_bench.sh orchestrates the levels and computes efficiency.
  */
object ScalingBench {

  private def envInt(k: String, d: Int): Int = sys.env.get(k).map(_.toInt).getOrElse(d)

  // Sized so a single measured run stays under the sandbox host's ~40 s
  // sustained-load throttling window (BENCH/BASELINE.md caveats) while task
  // compute still dominates fixed overhead.
  def corpus: Synth.Params = Synth.Params(
    months = envInt("SPARK_GRAFT_BENCH_MONTHS", 12),
    articles = envInt("SPARK_GRAFT_BENCH_ARTICLES", 20000),
    year = 2017,
    years = envInt("SPARK_GRAFT_BENCH_YEARS", 6),
    density = envInt("SPARK_GRAFT_BENCH_DENSITY", 4))

  def main(args: Array[String]): Unit = {
    args match {
      case Array("sweep", c) => sweep(c.toInt)
      case Array("single", c) => single(c.toInt)
      case Array("shard", y, ys, c) => shard(y.toInt, ys.toInt, c.toInt, None, 0)
      case Array("shard", y, ys, c, bar, n) => shard(y.toInt, ys.toInt, c.toInt, Some(bar), n.toInt)
      case _ => single(envInt("SPARK_GRAFT_CPUS", 8))
    }
  }

  /** One executor-stand-in JVM processing a year-range shard of the corpus
    * (tools/multi_jvm_scaling.sh): the N-vs-4N criterion evidenced with
    * REAL separate JVMs — 4 concurrent taskset-pinned processes over
    * disjoint shards vs 1 over the whole corpus. Unlike thread scaling in a
    * shared heap, this reproduces what adding executors actually adds:
    * separate heaps, GC and code caches, shared host memory bandwidth.
    * A file barrier aligns the measured runs so contention is included.
    */
  def shard(year: Int, maxYears: Int, cores: Int,
      barrierDir: Option[String], parties: Int): Unit = {
    import java.nio.file.{Files, Paths}
    val spark = session(cores)
    val sizes = sys.env.getOrElse("SPARK_GRAFT_SHARD_YEARS", "2,8")
      .split(",").map(_.trim.toInt).toSeq.filter(_ <= maxYears)
    def paramsFor(years: Int) = corpus.copy(year = year, years = years,
      articles = envInt("SPARK_GRAFT_BENCH_ARTICLES", 2000))
    // corpus-table writes + JIT/codegen warmup all before any timing
    sizes.foreach(y => graft.kg.CorpusStore.ensure(spark, paramsFor(y)))
    timedTriples(spark, paramsFor(sizes.min))

    // measure every size in this one warm JVM, min-of-k (host burst-budget
    // noise swamps single measurements); the barrier aligns all parties per
    // (size, repeat) so fleet contention is included in each point
    val repeats = envInt("SPARK_GRAFT_BENCH_REPEATS", 2)
    val points = sizes.map { y =>
      val p = paramsFor(y)
      val runs = (1 to repeats).map { r =>
        System.gc()
        // idle so the host's burstable-CPU budget recovers before measuring —
        // a 4-JVM fleet drains it ~4x faster than one pinned JVM
        Thread.sleep(envInt("SPARK_GRAFT_BENCH_SLEEP_MS", 5000).toLong)
        barrierDir.foreach { dir =>
          val d = Paths.get(dir)
          Files.createDirectories(d)
          Files.writeString(d.resolve(s"ready-$year-$y-$r"), "r")
          while (Files.list(d).iterator().asScalaCount(f =>
            f.getFileName.toString.endsWith(s"-$y-$r")) < parties) Thread.sleep(200)
        }
        timedTriples(spark, p)
      }
      (Synth.allDaysOf(p).size, runs.map(_._2).min, runs.head._1)
    }
    val pts = points.map { case (d, s, t) =>
      s"""{"day_docs":$d,"secs":$s,"triples":$t}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"kg_scaling_shard","year":$year,"cores":$cores,"points":$pts}""")
    spark.stop()
  }

  /** One full triple build: (triple count, seconds). Its stage caches are
    * released after the clock stops, so cached blocks from run k do not
    * thrash run k+1.
    */
  private def timedTriples(spark: SparkSession, p: Synth.Params): (Long, Double) = {
    val t0 = System.nanoTime()
    val b = Pipeline.trackedBuild(spark, p)
    try (b.triples.count(), (System.nanoTime() - t0) / 1e9) finally b.releaseCaches()
  }

  implicit private class IterCount[A](it: java.util.Iterator[A]) {
    def asScalaCount(pred: A => Boolean): Int = {
      var n = 0
      while (it.hasNext) if (pred(it.next())) n += 1
      n
    }
  }

  private def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // static planning beats AQE for this job shape at bench scale: known
      // sizes, ~20 small exchanges — AQE's per-stage barriers add latency
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (256L << 20).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Multi-size sweep at one parallelism level: the same pipeline at ≥3
    * corpus sizes (years scaled; the article side is constant across sizes),
    * min-of-2 warm runs each. The per-level (day_docs, secs) points let the
    * orchestrator regress out the fixed per-job constant F and compare the
    * DATA-PARALLEL marginal rates across levels — the honest form of the
    * N-vs-4N efficiency criterion on a single host (a raw wall-clock ratio
    * mostly measures F at these corpus sizes).
    */
  def sweep(cores: Int): Unit = {
    val spark = session(cores)
    val base = corpus
    val years = sys.env.getOrElse("SPARK_GRAFT_SWEEP_YEARS", "2,4,6")
      .split(",").map(_.trim.toInt).toSeq
    val sizes = years.map(y => base.copy(years = y))
    // JIT/codegen warmup (same plan shapes) + corpus-table writes happen
    // before any timing
    sizes.foreach(sp => graft.kg.CorpusStore.ensure(spark, sp))
    timedTriples(spark, base.copy(years = 1,
      articles = math.min(base.articles, 4000), density = 1))

    def once(sp: Synth.Params): (Long, Double) = {
      System.gc()
      // settle gap before measuring (taskset pinning keeps host load at
      // cores/32, so the burst budget barely drains — a short gap suffices)
      Thread.sleep(envInt("SPARK_GRAFT_BENCH_SLEEP_MS", 5000).toLong)
      timedTriples(spark, sp)
    }
    val points = sizes.map { sp =>
      val runs = (1 to 2).map(_ => once(sp))
      require(runs.map(_._1).distinct.size == 1, s"nondeterministic triples: $runs")
      val dayDocs = Synth.allDaysOf(sp).size
      (dayDocs, runs.map(_._2).min, runs.head._1)
    }
    val pts = points.map { case (d, s, t) =>
      s"""{"day_docs":$d,"secs":$s,"triples":$t}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"kg_scaling_sweep","cores":$cores,"articles":${base.articles},"points":$pts}""")
    spark.stop()
  }

  def single(cores: Int): Unit = {
    val p = corpus
    val spark = session(cores)
    val docs = Synth.allDaysOf(p).size.toLong + p.articles

    def once(): (Long, Double) = {
      System.gc()
      // idle gap so the host's burstable-CPU budget recovers before measuring
      Thread.sleep(30000)
      timedTriples(spark, p)
    }
    // JIT/codegen warmup at reduced scale (same plan shapes)
    timedTriples(spark, p.copy(years = 1, articles = math.min(p.articles, 4000),
      density = 1))
    val runs = (1 to 3).map(_ => once())
    require(runs.map(_._1).distinct.size == 1, s"nondeterministic triples: $runs")
    val secs = runs.map(_._2).min
    println(
      s"""{"metric":"kg_scaling_single","cores":$cores,"docs":$docs,""" +
        s""""triples":${runs.head._1},"all_secs":[${runs.map(_._2).mkString(",")}],""" +
        s""""secs":$secs,"docs_per_sec":${docs / secs}}""")
    spark.stop()
  }
}
