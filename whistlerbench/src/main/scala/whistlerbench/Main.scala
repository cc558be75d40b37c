package whistlerbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark driver: one workload, one seed, one JVM.
 *
 *  {{{
 *  Main --workload study-play|curate-stream --seed N --seconds S
 *       --trace 0|1 --work DIR --out DIR
 *  }}}
 *
 *  Sets up once untimed, then several times (the median is `setup_s`),
 *  runs one untimed warm-up, then timed passes until `--seconds` have
 *  elapsed. With
 *  `--trace 0` it prints the end-to-end metrics; with `--trace 1` it
 *  alternates untraced and traced passes and prints the per-layer ledger
 *  of the traced ones. The last stdout line is the result object; the
 *  line before it holds the run's details (host-weather receipts,
 *  workload-specific timings). Spans and details are also written under
 *  `--out`. */
object Main {
  private val started = System.nanoTime()

  /** Progress on stderr; stdout carries only the result. */
  def log(msg: String): Unit =
    System.err.println(f"[whistlerbench ${(System.nanoTime() - started) / 1e9}%7.2f s] $msg")

  val Workloads: Seq[String] = Seq("study-play", "curate-stream")

  /** Input sizes, fixed per workload; the seed moves only the content. */
  val PlaySize: Gen.StudySize = Gen.StudySize(participants = 400, orders = 1600,
    lineitems = 4800, lineFiles = 3)
  val StreamSize: Gen.StreamSize = Gen.StreamSize(batchDocs = 300, batches = 4,
    evalDocs = 60, exactShare = 0.10, nearShare = 0.10, evalShare = 0.05)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val code =
      try run(opts("workload"), opts("seed").toLong, opts("seconds").toDouble,
        opts.getOrElse("trace", "0") == "1", Paths.get(opts("work")), Paths.get(opts("out")))
      catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    System.out.flush()
    Runtime.getRuntime.halt(code)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The lower median: a value some pass actually read (counts stay whole). */
  def lowerMedian(xs: Seq[Double]): Double = xs.sorted.apply((xs.length - 1) / 2)

  /** The highest percentile with at least ten samples above it, with that
   *  percentile and the sample count; None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] = {
    val s = xs.sorted
    if (s.length < 11) None
    else {
      val i = s.length - 11
      Some((s(i), 100.0 * (i + 1) / s.length, s.length))
    }
  }

  def session(work: Path, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .appName("whistlerbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.register(spark)
    spark
  }

  /** Host-weather receipts: the job floor (a 1-row noop write) and a fixed
   *  single-threaded xorshift spin. Neither touches the library. */
  def weather(spark: SparkSession): (Double, Double) = {
    def floor(): Double = {
      val t0 = System.nanoTime()
      spark.range(1).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def spin(n: Long): (Double, Long) = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0L
      val t0 = System.nanoTime()
      while (i < n) {
        x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
        x *= 0x2545F4914F6CDD1DL
        i += 1
      }
      ((System.nanoTime() - t0) / 1e9, x)
    }
    floor(); spin(20_000_000L)
    val floors = Seq.fill(5)(floor())
    val (cpu, sink) = spin(100_000_000L)
    if (sink == 42L) println() // keeps the spin observable
    (median(floors), cpu)
  }

  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old") || p.getName.contains("Tenured"))

  /** Old-generation heap in MB right after a full collection. */
  def postGcOldMb(): Double = {
    System.gc()
    oldGen.map(_.getUsage.getUsed / 1048576.0).getOrElse(
      (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) / 1048576.0)
  }

  def run(name: String, seed: Long, seconds: Double, trace: Boolean, work: Path,
      out: Path): Int = {
    require(Workloads.contains(name), s"unknown workload $name; one of ${Workloads.mkString(", ")}")
    Workload.deleteTree(work)
    Files.createDirectories(work)
    Files.createDirectories(out)
    val cores = Runtime.getRuntime.availableProcessors()
    val s0 = System.nanoTime()
    val spark = session(work, cores)
    val sessionS = (System.nanoTime() - s0) / 1e9
    val (jobFloor, cpuRef) = weather(spark)

    val wl: Workload = name match {
      case "study-play" => new StudyPlay(spark, work.resolve("wl"), seed, PlaySize, cores)
      case "curate-stream" => new CurateStream(spark, work.resolve("wl"), seed, StreamSize)
    }
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    val runId = s"$name-seed$seed-trace${if (trace) 1 else 0}"
    val tracer = new Tracer(on = trace, runId)
    val untraced = Tracer.off
    val ledger = new Ledger
    try {
      (1 to wl.untimedSetups).foreach(_ => wl.setup())
      val setups = Seq.fill(wl.setupRepeats) {
        System.gc()
        val t0 = System.nanoTime()
        wl.setup()
        log("setup done")
        (System.nanoTime() - t0) / 1e9
      }
      def record(r: PassResult): PassResult = {
        log(f"pass done: wall ${r.wallS}%.3f s, ${r.items} items, ${r.failures.size} failures")
        attempted += r.attempted
        failures ++= r.failures
        r
      }
      record(wl.warmUp(untraced))
      if (trace) spark.sparkContext.addSparkListener(ledger)

      val plain = mutable.ArrayBuffer.empty[PassResult]
      val traced = mutable.ArrayBuffer.empty[(PassResult, mutable.LinkedHashMap[String, Double])]
      val heap = mutable.ArrayBuffer(postGcOldMb())
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      while (failures.isEmpty && (plain.isEmpty || (trace && traced.isEmpty) ||
          System.nanoTime() < deadline)) {
        if (trace && traced.length < plain.length) {
          tracer.pass += 1
          org.apache.spark.WhistlerbenchBus.drain(spark.sparkContext)
          ledger.clear()
          val r = record(wl.pass(tracer))
          org.apache.spark.WhistlerbenchBus.drain(spark.sparkContext)
          val m = tracer.layerMetrics(ledger, tracer.spans.filter(_.pass == tracer.pass).toSeq)
          r.counters.foreach { case (k, v) => m(k) = v }
          traced += ((r, m))
        } else plain += record(wl.pass(untraced))
        heap += postGcOldMb()
      }

      val ok = failures.isEmpty
      val walls = plain.map(_.wallS).toSeq
      val wall = median(walls)
      val items = median(plain.map(_.items.toDouble).toSeq)
      val lat = plain.flatMap(_.latencies).toSeq
      val details = mutable.LinkedHashMap[String, Any](
        "workload" -> name, "seed" -> seed, "cores" -> cores, "passes" -> plain.length,
        "traced_passes" -> traced.length,
        "session_start_s" -> sessionS, "setup_runs_s" -> setups,
        "job_floor_s" -> jobFloor, "cpu_ref_s" -> cpuRef,
        "wall_runs_s" -> walls, "items_per_pass" -> items, "heap_peak_mb" -> heap.max,
        "failed_frac" -> failures.length.toDouble / math.max(1L, attempted),
        "failures" -> failures.take(10))
      plain.flatMap(_.phases.keys).distinct.foreach { k =>
        details(k) = median(plain.flatMap(_.phases.get(k)).toSeq)
      }
      if (lat.nonEmpty) {
        details("batch_p50_s") = median(lat)
        tail(lat).foreach { case (v, pct, n) =>
          details("batch_tail_s") = v; details("batch_tail_pct") = pct; details("batch_tail_n") = n
        }
        details("batch_samples") = lat.length
      }
      if (trace) {
        details("trace_wall_s") = median(traced.map(_._1.wallS).toSeq)
        details("trace_overhead_s") = median(traced.map(_._1.wallS).toSeq) - wall
      }
      val metrics: Seq[(String, Double, String)] =
        if (!ok) Nil
        else if (!trace) Seq(
          ("setup_s", median(setups), "s"),
          ("wall_s", wall, "s"),
          ("items_per_s", items / wall, "1/s"))
        else {
          val keys = traced.head._2.keys.toSeq ++ LayerUnits.Specific.map(_._1)
          keys.distinct.map { k =>
            (k, lowerMedian(traced.map(_._2.getOrElse(k, 0.0)).toSeq), LayerUnits.unitOf(k))
          }
        }
      Files.write(out.resolve("details.json"), Json.render(details).getBytes("UTF-8"))
      if (trace) Files.write(out.resolve("spans.jsonl"), tracer.spansJsonl.getBytes("UTF-8"))
      val result = mutable.LinkedHashMap[String, Any](
        "correct" -> ok, "attempted" -> math.max(1L, attempted), "failed" -> failures.length,
        "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, v, u) =>
          k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*))
      failures.foreach(f => System.err.println(s"check failed: $f"))
      println(Json.render(mutable.LinkedHashMap("details" -> details)))
      println(Json.render(result))
      if (ok) 0 else 1
    } finally {
      wl.close()
      spark.stop()
    }
  }
}

/** Units of the per-layer metrics. */
object LayerUnits {
  val Specific: Seq[(String, String)] = Seq(
    "sink.load.requests" -> "count", "sink.load.retries" -> "count",
    "sink.load.rounds" -> "count", "sink.load.server_busy_s" -> "s",
    "sink.load.inflight_max" -> "count", "sink.idcache.hit_ratio" -> "ratio",
    "sink.whistle_input.driver_bytes" -> "bytes", "llm.dedup.drop_ratio" -> "ratio",
    "llm.decontam.drop_ratio" -> "ratio", "llm.index.files" -> "count",
    "llm.index.bytes" -> "bytes", "spark.tasks" -> "count", "spark.gc_s" -> "s")

  def unitOf(k: String): String = Specific.toMap.getOrElse(k,
    if (k.endsWith("_s")) "s" else if (k.endsWith("_bytes")) "bytes" else "count")
}
