package whistlerbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

import scala.collection.mutable

/** The layers the per-layer ledger reports, named after the library's
 *  modules. `bench` (the benchmark's own consumption and checks) is
 *  traced but not reported. */
object Layers {
  val All: Seq[String] = Seq("sources", "harmony", "operators", "project", "inspect",
    "sink.whistle_input", "sink.bundle", "sink.refres", "sink.load", "sink.idcache",
    "llm.pipeline", "llm.decontam", "llm.dedup", "llm.index", "llm.sample", "llm.pack")
  val Bench = "bench"

  /** Job descriptions `IncrementalPipeline` sets (`labeled(...)`). */
  val ByDescription: Seq[(String, String)] = Seq(
    "pipeline: classify ckpt" -> "llm.dedup",
    "pipeline: fuzzy kept ckpt" -> "llm.dedup",
    "pipeline: sampled ckpt+count" -> "llm.sample",
    "pipeline: sample merge" -> "llm.sample",
    "pipeline: spans ckpt+count" -> "llm.pack",
    "pipeline: cursor advance" -> "llm.pack",
    "pipeline: audit" -> "llm.decontam",
    "pipeline: fuzzy sketch append" -> "llm.index",
    "pipeline: keeper append (commit)" -> "llm.index")

  /** Source file (by its class) -> layer, for the innermost library frame
   *  of a job's call site. First match wins; unmapped classes fall back to
   *  the layer of the span the job ran in. */
  val ByClass: Seq[(String, String)] = Seq(
    "graft.sources." -> "sources",
    "graft.harmony." -> "harmony",
    "graft.Extractor" -> "operators",
    "graft.operators." -> "operators",
    "graft.project." -> "project",
    "graft.functions." -> "project",
    "graft.inspect." -> "inspect",
    "graft.sink.WhistleInputWriter" -> "sink.whistle_input",
    "graft.sink.BundleSink" -> "sink.bundle",
    "graft.sink.ReferenceResolution" -> "sink.refres",
    "graft.sink.FhirLoadSink" -> "sink.load",
    "graft.sink.HttpPoster" -> "sink.load",
    "graft.sink.IdCacheStore" -> "sink.idcache",
    "graft.llm.Decontamination" -> "llm.decontam",
    "graft.llm.IncrementalDedup" -> "llm.dedup",
    "graft.llm.IncrementalMinHash" -> "llm.dedup",
    "graft.llm.Dedup" -> "llm.dedup",
    "graft.llm.IndexStore" -> "llm.index",
    "graft.llm.SwapTable" -> "llm.index",
    "graft.llm.Sampling" -> "llm.sample",
    "graft.streaming.StreamingSample" -> "llm.sample",
    "graft.llm.Packing" -> "llm.pack",
    "graft.llm." -> "llm.pipeline")

  private val Frame = """^\s*(?:at\s+)?((?:graft|whistlerbench)\.[\w.$]+)\(""".r.unanchored

  /** The layer of the innermost library frame of a call site, or None when
   *  the benchmark's own code is the innermost caller. */
  def ofCallSite(details: String): Option[String] =
    details.linesIterator.collectFirst { case Frame(cls) => cls }
      .filter(_.startsWith("graft."))
      .flatMap(cls => ByClass.collectFirst { case (p, l) if cls.startsWith(p) => l })

  def ofDescription(desc: String): Option[String] =
    Option(desc).flatMap(d => ByDescription.collectFirst { case (p, l) if d.startsWith(p) => l })
}

/** Spark listener counters, per job and per stage, for one traced pass. */
final class Ledger extends SparkListener {
  import Ledger._
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.HashMap.empty[Int, StageSums]

  def clear(): Unit = synchronized { jobs.clear(); stages.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, desc, site, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageSums)
    s.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      s.cpuNs += m.executorCpuTime
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.gcMs += m.jvmGCTime
    }
  }
}

object Ledger {
  final case class Job(id: Int, startMs: Long, var endMs: Long, description: String,
      callSite: String, stages: Seq[Int])
  /** Sums over a stage's finished tasks. */
  final class StageSums { var tasks, cpuNs, shuffleBytes, spillBytes, gcMs = 0L }
}

/** Spans around the benchmark's calls into the library. With tracing off
 *  a span only runs its body and `force` does nothing. With tracing on,
 *  spans are kept in memory (written out when the run ends) and `force`
 *  runs a lazily returned frame with a `noop` write inside its span.
 *  `prefix` names spans whose forced plans this span recomputes (a
 *  projection re-runs the extraction it reads); the layer's self time
 *  excludes the time those spans spent forcing. */
final class Tracer(val on: Boolean, val runId: String) {
  import Tracer.Span

  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  var pass = 0

  def span[T](layer: String, call: String, prefix: Seq[Int] = Nil)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.length, layer, call, stack.headOption.getOrElse(-1), pass,
        System.nanoTime(), -1L, prefix)
      spans += s
      stack = s.id :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  /** The id of the most recent span with this call name. */
  def last(call: String): Seq[Int] =
    if (!on) Nil else spans.reverseIterator.find(_.call == call).map(_.id).toSeq

  def force(df: DataFrame): DataFrame = {
    if (on) {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val dt = System.nanoTime() - t0
      stack.foreach(id => spans(id).forcedNs += dt)
    }
    df
  }

  def spansJsonl: String = spans.map(s => Json.render(mutable.LinkedHashMap(
    "run" -> runId, "pass" -> s.pass, "id" -> s.id, "parent" -> s.parent,
    "layer" -> s.layer, "name" -> s.call,
    "start_ms" -> epochMs(s.startNs), "end_ms" -> epochMs(s.endNs),
    "forced_ms" -> s.forcedNs / 1e6, "prefix" -> s.prefix))).mkString("", "\n", "\n")

  /** The per-layer ledger of one traced pass: each span's interval is cut
   *  into the time no job of it was running (its layer's driver time) and
   *  the time jobs ran, which is shared among the layers of the jobs
   *  running at that moment. */
  def layerMetrics(ledger: Ledger, passSpans: Seq[Span]): mutable.LinkedHashMap[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    for (l <- Layers.All; m <- Seq("self_s", "driver_s", "jobs", "exec_cpu_s",
        "shuffle_bytes", "spill_bytes")) out(s"$l.$m") = 0.0
    // tasks and GC of the stages of spanned jobs (untimed work is excluded)
    out("spark.tasks") = 0.0
    out("spark.gc_s") = 0.0
    def add(layer: String, metric: String, v: Double): Unit =
      if (layer != Layers.Bench) out(s"$layer.$metric") = out(s"$layer.$metric") + v
    val byId = passSpans.map(s => s.id -> s).toMap
    val children = passSpans.groupBy(_.parent)
    val (jobs, stages) = ledger.synchronized((ledger.jobs.values.toSeq, ledger.stages.toMap))

    // each job belongs to the deepest span open when it started. Job times
    // are whole milliseconds and the span clock maps onto them to within a
    // millisecond, so a span matches from 2 ms before its start; of two
    // adjacent spans that both match, the later one owns the job (a
    // blocking action starts well before its own span ends)
    def owner(startMs: Long): Option[Span] = passSpans
      .filter(s => epochMs(s.startNs) - 2 <= startMs && startMs <= epochMs(s.endNs) + 1)
      .sortBy(s => (-depth(s), -s.startNs)).headOption
    def depth(s: Span): Int = if (s.parent < 0 || !byId.contains(s.parent)) 0 else 1 + depth(byId(s.parent))
    val jobLayer = mutable.HashMap.empty[Int, String]
    val jobsOf = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Ledger.Job]]
    val counted = mutable.HashSet.empty[Int] // a stage reused by a later job counts once
    for (j <- jobs.sortBy(_.id); s <- owner(j.startMs)) {
      val layer = Layers.ofDescription(j.description)
        .orElse(Layers.ofCallSite(j.callSite)).getOrElse(s.layer)
      jobLayer(j.id) = layer
      jobsOf.getOrElseUpdate(s.id, mutable.ArrayBuffer.empty) += j
      add(layer, "jobs", 1)
      for (st <- j.stages if counted.add(st); sums <- stages.get(st)) {
        add(layer, "exec_cpu_s", sums.cpuNs / 1e9)
        add(layer, "shuffle_bytes", sums.shuffleBytes.toDouble)
        add(layer, "spill_bytes", sums.spillBytes.toDouble)
        out("spark.tasks") += sums.tasks
        out("spark.gc_s") += sums.gcMs / 1000.0
      }
    }
    for (s <- passSpans) {
      val (a, b) = (epochMs(s.startNs), epochMs(s.endNs))
      val kids = children.getOrElse(s.id, Nil).map(k => (epochMs(k.startNs), epochMs(k.endNs)))
      val js = jobsOf.getOrElse(s.id, Nil).map(j =>
        (math.max(a, j.startMs.toDouble), math.min(b, if (j.endMs < 0) b else j.endMs.toDouble),
          jobLayer(j.id)))
      val cuts = (Seq(a, b) ++ kids.flatMap(k => Seq(k._1, k._2)) ++
        js.flatMap(j => Seq(j._1, j._2))).filter(t => t >= a && t <= b).distinct.sorted
      for (Seq(t0, t1) <- cuts.sliding(2) if t1 > t0) {
        val mid = (t0 + t1) / 2
        if (!kids.exists(k => k._1 <= mid && mid < k._2)) {
          val secs = (t1 - t0) / 1000.0
          val active = js.filter(j => j._1 <= mid && mid < j._2)
          if (active.isEmpty) { add(s.layer, "driver_s", secs); add(s.layer, "self_s", secs) }
          else active.foreach(j => add(j._3, "self_s", secs / active.length))
        }
      }
      add(s.layer, "self_s", -s.prefix.flatMap(byId.get).map(_.forcedNs / 1e9).sum)
    }
    for (l <- Layers.All) out(s"$l.self_s") = math.max(0.0, out(s"$l.self_s"))
    out
  }
}

object Tracer {
  final case class Span(id: Int, layer: String, call: String, parent: Int, pass: Int,
      startNs: Long, var endNs: Long, prefix: Seq[Int]) {
    /** time spent forcing frames inside this span or its children */
    var forcedNs = 0L
  }

  val off: Tracer = new Tracer(on = false, "")
}
