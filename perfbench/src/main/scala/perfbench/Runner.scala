package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import graft.kg.Synth

/** Closed-loop runner for one workload in one JVM: session, repeated set-up,
  * an optional warm-up lap, timed laps for the requested seconds (at least
  * one), traced-only probes, then the correctness gate. Writes one raw JSON
  * record; all arithmetic on it (medians, tails, self times, attribution
  * roll-ups) is done by `perfbench/report.py`.
  *
  * Usage: Runner <workload> <seed> <seconds> <trace 0|1> <record.json> <testdata dir>
  * The working directory must be an empty scratch directory: the engine
  * writes its corpus, tables and edge cache relative to it.
  */
object Runner {
  /** kg_build corpus, scaled down from sf0.1 (8 months, 1200 articles): one
    * month op costs 12-22 s on a 4-vCPU VM whatever the corpus size, and a
    * run is kept under about a minute. The seed picks the year.
    */
  val KgBuildParams: Synth.Params = Synth.Params(months = 1, articles = 120)
  /** kg_query's sf directory name (the engine derives its corpus from it). */
  val KgQuerySf = "sf0.01"
  /** corpus_ops' source tables under the test-data directory. */
  val CorpusOpsSf = "sf0.01"
  private var sc: SparkContext = _
  private var peakCached = 0L

  /** Storage (memory + disk) Spark holds right now, in bytes. */
  def cachedBytes(): Long =
    sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  /** Wait until held storage stops changing: the previous lap's release
    * unpersists asynchronously, and its blocks must not count in this lap.
    */
  private def settleStorage(): Unit = {
    var prev = -1L
    var cur = cachedBytes()
    var waited = 0
    while (cur != prev && waited < 2000) {
      prev = cur; Thread.sleep(50); waited += 50; cur = cachedBytes()
    }
  }

  /** Run `body`, then sample held storage at the call boundary it ends. */
  def boundary[T](body: => T): T = {
    val r = body
    peakCached = math.max(peakCached, cachedBytes())
    r
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = os.getProcessCpuTime
  private def gcMs(): Long = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, recordPath, testdata) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val work = Paths.get("").toAbsolutePath
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "false")
      .config("graft.loop.shufflePartitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // the oracle gate reads result parquet with pyarrow/DuckDB
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val tr = new Tracer(sc)
    val wl: Workload = workload match {
      case "kg_build" => new KgBuild(spark, tr, seed, KgBuildParams, work)
      case "kg_query" => new KgQuery(spark, tr, KgQuerySf, work)
      case "corpus_ops" => new CorpusOps(spark, tr, seed, s"$testdata/$CorpusOpsSf", work)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // ---- set-up, repeated: each round from scratch, the last one kept
    tr.setActive(traced)
    val setupRounds = (1 to wl.setupRounds).map { r =>
      val t0 = System.nanoTime()
      tr.span("setup", lap = -r)(wl.setup())
      val s = secs(t0)
      if (r < wl.setupRounds) wl.teardown()
      s
    }

    // ---- laps: the first lap (the warm-up lap 0, if any) fixes the
    // reference fingerprints every later lap must reproduce
    val ops = wl.ops
    val laps = ArrayBuffer.empty[Map[String, Any]]
    var reference: Map[String, Fp] = Map.empty
    var attempted = 0
    var failed = 0
    val errors = ArrayBuffer.empty[String]
    val first = if (wl.warmUp) 0 else 1
    def lap(n: Int): Unit = {
      if (n > first) wl.betweenLaps()
      settleStorage()
      peakCached = 0L
      val cpu0 = cpuNs(); val gc0 = gcMs(); val t0 = System.nanoTime()
      val opRecs = tr.span("lap", lap = n) {
        val recs = ops.zipWithIndex.map { case (op, i) =>
          val o0 = System.nanoTime()
          val res = try Right(tr.span(s"op.${op.name}", lap = n, op = i)(
              boundary(op.run(n == first))))
            catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
          val s = secs(o0)
          val meter = wl.meterAfter.get(op.name).flatMap { case (k, name) =>
            graft.plans.Meters.get(k).map(name -> _) }
          val check = res match {
            case Left(err) => Some(err)
            case Right(fp) if n == first => reference += op.name -> fp; None
            case Right(fp) => reference.get(op.name).filter(_ != fp)
                .map(r => s"fingerprint $fp differs from lap $first's $r")
          }
          if (n > 0) {
            attempted += 1
            check.foreach { c => failed += 1; errors += s"lap $n ${op.name}: $c" }
          } else check.foreach(c => errors += s"warm-up ${op.name}: $c")
          Map("name" -> op.name, "s" -> s, "ok" -> check.isEmpty,
            "rows" -> res.map(_.rows).getOrElse(-1L)) ++
            meter.map { case (k, v) => "meter" -> Seq(k, v) }
        }
        boundary(tr.span("lapEnd", lap = n)(wl.lapEnd()))
        recs
      }
      val wall = secs(t0)
      val cpu = (cpuNs() - cpu0) / 1e9
      val gc = (gcMs() - gc0) / 1000.0
      laps += Map("lap" -> n, "wall_s" -> wall, "cpu_s" -> cpu,
        "gc_s" -> gc, "cached_mb" -> peakCached / 1048576.0,
        "persistent_rdds" -> sc.getPersistentRDDs.size,
        "edge_cache_dirs" -> edgeCacheDirs(),
        "ops" -> opRecs)
    }
    if (wl.warmUp) lap(0)
    val tStart = System.nanoTime()
    var n = 1
    while (n == 1 || secs(tStart) < seconds) {
      lap(n)
      n += 1
    }
    val lapsS = secs(tStart)

    // ---- traced-only probes, then the correctness gate (outside the laps)
    val probes = if (traced) wl.probes() else Map.empty[String, Double]
    val (spans, tasks) = tr.finish()
    val gate = wl.gate()

    val record = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "docs" -> wl.docs, "session_s" -> sessionS, "setup_rounds" -> setupRounds,
      "laps_s" -> lapsS, "laps" -> laps.toSeq,
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "gate" -> gate.map { case (k, v) => Map("check" -> k, "error" -> v.orNull) },
      "probes" -> probes,
      "spans" -> spans.map(s => Seq(s.id, s.name, s.parent, s.lap, s.op, s.t0, s.t1)),
      "tasks" -> tasks.map(t => Seq(t.span, t.stage, t.attempt, t.ms, t.cpuNs, t.gcMs,
        t.inBytes, t.shuffleWrite, t.shuffleRead, t.spill, t.outBytes)))
    Files.writeString(Paths.get(recordPath), Json.encode(record))
    spark.stop()
  }

  /** Edge-cache directories the engine left under this JVM's temp dir. */
  private def edgeCacheDirs(): Int = {
    val d = Paths.get(sys.props("java.io.tmpdir"), "graft-edge-cache")
    if (!Files.isDirectory(d)) 0
    else { val s = Files.list(d); try s.count().toInt finally s.close() }
  }
}

/** Minimal JSON encoder for the record (maps, sequences, strings, numbers). */
object Json {
  def encode(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => encode(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => encode(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + encode(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(encode).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
