package whistlerbench

import graft.Extractor
import graft.cli.Play
import graft.inspect.Consumers
import graft.llm.{IncrementalPipeline, Pipeline}
import graft.model.StudyConfig
import graft.project.{Projection, ResourceBuilders}
import graft.sink._
import graft.sources.{ConfigReader, CsvSource}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** What one timed pass of a workload did. `items` are the FHIR resources
 *  written or acknowledged, or the documents processed. */
final case class PassResult(
    wallS: Double,
    items: Long,
    attempted: Long,
    failures: Seq[String],
    phases: Map[String, Double] = Map.empty,
    latencies: Seq[Double] = Nil,
    counters: Map[String, Double] = Map.empty)

/** A workload: a repeatable set-up (inputs and primed state, all from the
 *  seed) and a pass, one closed-loop run of the library over them that
 *  ends with verified output. */
trait Workload extends AutoCloseable {
  def setup(): Unit
  def pass(tr: Tracer): PassResult
  /** The untimed first run that warms the JIT and per-JVM caches. */
  def warmUp(tr: Tracer): PassResult
  /** Untimed set-ups on the cold JVM, then timed ones; `setup_s` is the
   *  median of the timed ones. */
  def untimedSetups: Int = 1
  def setupRepeats: Int = 3
  def close(): Unit = ()
}

object Workload {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  def treeStats(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.size.toLong, files.map(Files.size).sum)
    }

  def check(failures: collection.mutable.Buffer[String], ok: Boolean, what: => String): Unit =
    if (!ok) failures += what
}

/** The study pipeline, as `play` with a host runs it: DD catalog ->
 *  ConceptMaps -> extraction -> whistle-input document (`Play.run`), the
 *  projections, the inspection and the bundle sink, then a cold FHIR load
 *  of the projected resources through `HttpPoster` into the in-process
 *  stub server (an empty id cache: every resource a POST, over several
 *  reference-resolution rounds), `IdCacheStore.save`, and a warm rerun
 *  against the saved cache (every resource a PUT, in one round). */
final class StudyPlay(spark: SparkSession, work: Path, seed: Long, size: Gen.StudySize,
    cores: Int) extends Workload {
  import Workload._
  private var study, mini: Gen.Study = _
  private val outDir = work.resolve("out")
  private val server = new StubFhirServer(cores)

  /** The study, plus a small one with the same dictionaries (so the same
   *  plans) that warms the JVM at a fraction of the cost. */
  def setup(): Unit = {
    deleteTree(work.resolve("study"))
    deleteTree(work.resolve("mini"))
    study = Gen.writeStudy(work.resolve("study"), seed, size)
    mini = Gen.writeStudy(work.resolve("mini"), seed, StudyPlay.MiniSize)
  }

  override def warmUp(tr: Tracer): PassResult = run(tr, mini)
  /** Generating the study takes a few tens of milliseconds and speeds up
   *  over the first repeats as the JIT compiles it: more repeats of both
   *  kinds keep the median steady. */
  override def untimedSetups: Int = 10
  override def setupRepeats: Int = 15

  def pass(tr: Tracer): PassResult = run(tr, study)

  private def run(tr: Tracer, study: Gen.Study): PassResult = {
    deleteTree(outDir)
    val config = ConfigReader.fromJson(study.configJson)
    val dataDir = study.dir.toString
    val t0 = System.nanoTime()
    val (tables, dd) =
      if (!tr.on) {
        val r = Play.run(spark, config, dataDir, outDir.toString, force = true)
        (r.extracted, r.ddStudy)
      } else StudyPlay.tracedRun(tr, spark, config, dataDir, outDir)
    val docBytes = Files.size(outDir.resolve(s"whistle-input/${config.studyId}.json"))

    val info = Projection.StudyInfo(config.studyId, config.identifierPrefix, config.publisher)
    def extracted(table: String) = tr.last(s"Extractor.extract[$table]")
    val lookup = tr.span("harmony", "Play.harmonyLookup") {
      tr.force(Play.harmonyLookup(spark, config, dataDir).get)
    }
    val patients = tr.span("project", "Projection.participant", extracted("customer")) {
      tr.force(Projection.participant(tables("customer"), info, lookup))
    }
    val sourceData = tables.toSeq.sortBy(_._1).flatMap { case (name, df) =>
      dd.table(name).toSeq.flatMap { ddTable =>
        Seq(
          tr.span("project", "ResourceBuilders.observations", extracted(name)) {
            tr.force(ResourceBuilders.observations(df, info, ddTable, Some(lookup)))
          },
          tr.span("project", "ResourceBuilders.questionnaireResponses", extracted(name)) {
            tr.force(ResourceBuilders.questionnaireResponses(df, info, ddTable, Some(lookup)))
          })
      }
    }
    val ddMeta = tr.span("project", "Play.ddMetaResources") {
      tr.force(Play.ddMetaResources(spark, config, dd, dataDir))
    }
    val resources = (patients +: sourceData :+ ddMeta).reduce(_ unionByName _)
    val projectSpans = tr.spans.filter(s => s.pass == tr.pass && s.layer == "project").map(_.id).toSeq
    val report = tr.span("inspect", "Consumers.inspect", projectSpans)(Consumers.inspect(resources))
    val summary = tr.span("inspect", "InspectionReport.read") {
      (report.moduleSummary.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap,
        report.duplicateIdentifiers.count())
    }
    val entries = tr.span("sink.bundle", "BundleSink.entries") {
      tr.force(BundleSink.entries(report.source, "http://fhir.local/fhir"))
    }
    val bundles = tr.span("sink.bundle", "BundleSink.bundles", tr.last("BundleSink.entries")) {
      tr.force(BundleSink.bundles(entries, "bench-bundle"))
    }
    tr.span("sink.bundle", "BundleSink.write", tr.last("BundleSink.bundles")) {
      BundleSink.write(bundles, outDir.resolve("bundles").toString)
    }
    val perBundle = tr.span(Layers.Bench, "read bundles")(StudyPlay.bundleEntries(outDir.resolve("bundles")))
    val t1 = System.nanoTime()
    // the load reads the projected resources back from files, as the
    // reference loads its whistle output
    val loadSet = outDir.resolve("resources").toString
    tr.span(Layers.Bench, "stage resources") {
      report.source.filter(col("resourceType").isin(StudyPlay.Loaded: _*))
        .coalesce(cores).write.parquet(loadSet)
    }
    report.source.unpersist(blocking = true)
    val load = StudyPlay.loadTwice(tr, spark, server, spark.read.parquet(loadSet),
      outDir.resolve("idcache"))
    val t2 = System.nanoTime()

    val failures = collection.mutable.ArrayBuffer.empty[String]
    val expected = StudyPlay.expected(study)
    check(failures, summary._1 == expected,
      s"module summary ${summary._1.toSeq.sorted} != expected ${expected.toSeq.sorted}")
    check(failures, summary._2 == 0L, s"${summary._2} duplicate identifiers")
    check(failures, report.missingResourceType == 0L && report.missingIdentifier == 0L,
      s"untyped ${report.missingResourceType} / unidentified ${report.missingIdentifier} resources")
    val total = expected.values.sum
    check(failures, perBundle.values.sum == total,
      s"bundles hold ${perBundle.values.sum} entries, expected $total")
    check(failures, perBundle.values.forall(_ <= BundleSink.MaxRecords),
      s"a bundle exceeds ${BundleSink.MaxRecords} entries: ${perBundle.values.max}")
    val loadable = expected.collect { case ((_, rt), n) if StudyPlay.Loaded.contains(rt) => n }.sum
    failures ++= load.failures(loadable)
    PassResult((t2 - t0) / 1e9, perBundle.values.sum + 2 * loadable,
      StudyPlay.Calls + load.requests, failures.toSeq,
      phases = Map("play_s" -> (t1 - t0) / 1e9, "load_s" -> (t2 - t1) / 1e9,
        "cold_load_s" -> load.coldS, "warm_load_s" -> load.warmS,
        "resources_per_s" -> (perBundle.values.sum + 2 * loadable) / ((t2 - t0) / 1e9)),
      counters = load.counters(loadable) +
        ("sink.whistle_input.driver_bytes" -> docBytes.toDouble))
  }

  override def close(): Unit = server.close()
}

object StudyPlay {
  /** Public library calls in one pass besides the HTTP requests. */
  val Calls = 16

  val MiniSize: Gen.StudySize = Gen.StudySize(participants = 20, orders = 40,
    lineitems = 60, lineFiles = 3)

  /** The participants' resources that are loaded: Patients, and the
   *  Observations that reference them. QuestionnaireResponses are bundled
   *  but not loaded: a QuestionnaireResponse carries a single identifier
   *  object, while `FhirLoadSink.getOrCreate`'s primary-identifier probe
   *  reads only an identifier array, so a warm load would create every one
   *  of them again instead of updating it. */
  val Loaded: Seq[String] = Seq("Patient", "Observation")

  /** The traced form of `Play.run`: its four steps as separate spans, each
   *  lazily returned frame forced inside its own span. */
  def tracedRun(tr: Tracer, spark: SparkSession, config: StudyConfig, dataDir: String,
      outDir: Path): (Map[String, DataFrame], graft.model.DdStudy) = {
    val dd = tr.span("sources", "Play.loadDdCatalog")(Play.loadDdCatalog(spark, config, dataDir))
    tr.span("sources", "CsvSource.read") {
      config.activeDatasets.values.foreach { t =>
        tr.force(CsvSource.read(spark, CsvSource.fileList(t.filename)
          .map(CsvSource.resolveUnder(dataDir)), t.delimiter))
      }
    }
    tr.span("harmony", "Play.buildConceptMaps") {
      Play.buildConceptMaps(spark, config, dataDir, outDir.resolve("harmony").toString)
    }
    val tables = tr.span("operators", "Extractor.extract", tr.last("CsvSource.read")) {
      val t = Extractor.extract(spark, config, Some(dd), dataDir)
      t.foreach { case (name, df) => tr.span("operators", s"Extractor.extract[$name]")(tr.force(df)) }
      t
    }
    tr.span("sink.whistle_input", "WhistleInputWriter.write", tr.last("Extractor.extract")) {
      val doc = outDir.resolve(s"whistle-input/${config.studyId}.json")
      Files.createDirectories(doc.getParent)
      WhistleInputWriter.write(doc.toString, config, dd, tables)
    }
    (tables, dd)
  }

  /** Entries per written bundle file set (module/chunk directory). */
  def bundleEntries(dir: Path): Map[String, Long] =
    Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
      .toSeq.groupBy(p => dir.relativize(p.getParent).toString)
      .map { case (k, files) =>
        k -> files.map(f => Files.lines(f).iterator().asScala.count(_.startsWith("{\"fullUrl\":")).toLong).sum
      }

  def expected(study: Gen.Study): Map[(String, String), Long] = {
    val n = study.size.participants.toLong
    Map(
      ("patient", "Patient") -> n,
      ("source_data", "Observation") -> (n + study.lineSubjects),
      ("source_data", "QuestionnaireResponse") -> (n + study.lineSubjects)) ++ Gen.ddMetaCounts
  }

  /** What the stub saw on the cold and the warm load: (POST, PUT, refused,
   *  busy ns, in-flight max) per pass, plus the fixpoint rounds. */
  final case class Load(cold: Seq[Long], warm: Seq[Long], coldRounds: Int, warmRounds: Int,
      leftoverEmpty: Boolean, acked: Long, failedLoads: Long, coldS: Double, warmS: Double) {
    def requests: Long = cold.take(3).sum + warm.take(3).sum

    def failures(n: Long): Seq[String] = Seq(
      (leftoverEmpty, s"resources left unresolved after a load"),
      (cold(0) == n && cold(1) == 0 && cold(2) == 0,
        s"cold load: ${cold(0)} POST / ${cold(1)} PUT / ${cold(2)} refused for $n resources"),
      (warm(0) == 0 && warm(1) == n && warm(2) == 0,
        s"warm load: ${warm(0)} POST / ${warm(1)} PUT / ${warm(2)} refused for $n resources"),
      (warmRounds == 1, s"warm load took $warmRounds rounds"),
      (failedLoads == 0 && acked == 2 * n, s"$failedLoads failed loads, $acked acknowledged")
    ).collect { case (false, what) => what }

    def counters(n: Long): Map[String, Double] = Map(
      "sink.load.requests" -> requests.toDouble,
      "sink.load.retries" -> (requests - 2 * n).toDouble,
      "sink.load.rounds" -> (coldRounds + warmRounds).toDouble,
      "sink.load.server_busy_s" -> (cold(3) + warm(3)) / 1e9,
      "sink.load.inflight_max" -> math.max(cold(4), warm(4)).toDouble,
      "sink.idcache.hit_ratio" -> warm(1).toDouble / n)
  }

  /** The load stage as the library's own CLI runs it: the reference
   *  fixpoint, each round's results merged into the growing cache. */
  def loadTwice(tr: Tracer, spark: SparkSession, server: StubFhirServer,
      resources: DataFrame, cachePath: Path): Load = {
    val baseUrl = server.baseUrl
    val makePoster = () => new HttpPoster(baseUrl, backoff429Millis = 1000L,
      backoffErrMillis = 100L).post _
    var acked = 0L
    var failedLoads = 0L
    def load(initial: DataFrame): (Boolean, Int, DataFrame) = {
      var cache = initial
      var rounds = 0
      val leftover = tr.span("sink.refres", "ReferenceResolution.resolveLoop") {
        ReferenceResolution.resolveLoop(resources, initial, { resolved =>
          rounds += 1
          val prepared = tr.span("sink.load", "FhirLoadSink.getOrCreate") {
            FhirLoadSink.getOrCreate(resolved, cache, Gen.IdentifierPrefix)
          }
          val results = tr.span("sink.load", "FhirLoadSink.load") {
            FhirLoadSink.load(prepared, makePoster)
          }
          tr.span(Layers.Bench, "count results") {
            results.groupBy("ok").count().collect().foreach { r =>
              if (r.getBoolean(0)) acked += r.getLong(1) else failedLoads += r.getLong(1)
            }
          }
          val rows = FhirLoadSink.asCacheRows(results)
          cache = tr.span("sink.idcache", "IdCacheStore.merge")(IdCacheStore.merge(cache, rows))
          rows
        })
      }
      (tr.span(Layers.Bench, "leftover.isEmpty")(leftover.isEmpty), rounds, cache)
    }
    def seen = Seq(server.posts.get, server.puts.get, server.refused.get, server.busyNanos.get,
      server.inflightMax.get.toLong)
    server.reset(forget = true)
    val t0 = System.nanoTime()
    val (coldDone, coldRounds, cache) = load(IdCacheStore.load(spark, cachePath.resolve("none").toString))
    val t1 = System.nanoTime()
    val cold = seen
    tr.span("sink.idcache", "IdCacheStore.save")(IdCacheStore.save(cache, cachePath.toString))
    server.reset(forget = false)
    val t2 = System.nanoTime()
    val (warmDone, warmRounds, _) = load(
      tr.span("sink.idcache", "IdCacheStore.load")(IdCacheStore.load(spark, cachePath.toString)))
    val t3 = System.nanoTime()
    Load(cold, seen, coldRounds, warmRounds, coldDone && warmDone, acked, failedLoads,
      (t1 - t0) / 1e9, (t3 - t2) / 1e9)
  }
}

/** The curation batch stream: each batch through
 *  `IncrementalPipeline.processBatch` with decontamination, exact and
 *  fuzzy dedup, the sample and the audit on, against persisted state. */
final class CurateStream(spark: SparkSession, work: Path, seed: Long, size: Gen.StreamSize)
    extends Workload {
  import Workload._
  private val dir = work.resolve("stream")
  private val state = IncrementalPipeline.State("wb_curate", work.resolve("state").toString)
  private var stream: Gen.Stream = _
  val cfg: Pipeline.Config = CurateStream.Cfg

  private def read(file: String): DataFrame =
    spark.read.schema("doc_id LONG, text STRING").json(dir.resolve(file).toString)

  /** Generate the stream, then build the eval index from scratch. */
  def setup(): Unit = {
    deleteTree(dir)
    stream = Gen.stream(seed, size)
    Gen.writeStream(dir, stream)
    IncrementalPipeline.reset(spark, state)
    IncrementalPipeline.saveEvalIndex(read("eval.jsonl"), "doc_id", "text", cfg, state,
      buckets = CurateStream.Buckets)
  }

  private def process(tr: Tracer, file: String): Array[org.apache.spark.sql.Row] = {
    val emission = tr.span("llm.pipeline", "IncrementalPipeline.processBatch") {
      IncrementalPipeline.processBatch(read(file), "doc_id", "text", cfg, state,
        sampleK = 16, buckets = CurateStream.Buckets)
    }
    val rows = tr.span(Layers.Bench, "consume emission")(emission.collect())
    IncrementalPipeline.releaseEmission(emission)
    rows
  }

  /** Whether the corpus state holds exactly the priming batch and the
   *  first arriving batch, the state every timed pass starts from. */
  private var atBaseline = false

  /** Fresh corpus state (the eval index stays), then the priming batch and
   *  the first arriving batch, which runs every stage's code path. */
  private def toBaseline(tr: Tracer): Double = {
    IncrementalPipeline.resetCorpusState(spark, state)
    process(Tracer.off, "batch-prime.jsonl")
    val t0 = System.nanoTime()
    process(tr, "batch-000.jsonl")
    atBaseline = true
    (System.nanoTime() - t0) / 1e9
  }

  override def warmUp(tr: Tracer): PassResult =
    PassResult(toBaseline(tr), stream.batches.head.size, 1, Nil)

  /** The timed batches, from the baseline state. */
  def pass(tr: Tracer): PassResult = {
    if (!atBaseline) toBaseline(Tracer.off)
    atBaseline = false
    val failures = collection.mutable.ArrayBuffer.empty[String]
    val emitted = collection.mutable.HashMap.empty[Long, Int]
    val latencies = collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val timed = stream.batches.indices.tail
    timed.foreach { i =>
      val b0 = System.nanoTime()
      val rows = process(tr, f"batch-$i%03d.jsonl")
      latencies += (System.nanoTime() - b0) / 1e9
      rows.map(_.getAs[Long]("doc_id")).distinct.foreach { id =>
        if (emitted.contains(id)) failures += s"doc $id emitted in batches ${emitted(id)} and $i"
        emitted(id) = i
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val docs = timed.flatMap(stream.batches)
    val byKind = docs.groupBy(_.kind)
    def dropped(k: Gen.Kind) = byKind.getOrElse(k, Nil).count(d => !emitted.contains(d.id))
    for (k <- Seq(Gen.ExactDup, Gen.NearDup, Gen.EvalPlant)) {
      val leaked = byKind.getOrElse(k, Nil).filter(d => emitted.contains(d.id))
      check(failures, leaked.isEmpty, s"${leaked.size} planted $k docs emitted, e.g. ${leaked.take(3).map(_.id)}")
    }
    val lost = byKind.getOrElse(Gen.Original, Nil).filterNot(d => emitted.contains(d.id))
    check(failures, lost.isEmpty, s"${lost.size} original docs not emitted, e.g. ${lost.take(3).map(_.id)}")
    check(failures, emitted.keySet.subsetOf(docs.map(_.id).toSet), "emitted an id that never arrived")
    val (files, bytes) = treeStats(work.resolve("state"))
    PassResult(wall, docs.size, timed.size, failures.toSeq,
      latencies = latencies.toSeq,
      counters = Map(
        "llm.dedup.drop_ratio" -> (dropped(Gen.ExactDup) + dropped(Gen.NearDup)).toDouble / docs.size,
        "llm.decontam.drop_ratio" -> dropped(Gen.EvalPlant).toDouble / docs.size,
        "llm.index.files" -> files.toDouble,
        "llm.index.bytes" -> bytes.toDouble))
  }
}

object CurateStream {
  val Buckets = 4
  /** Gates loose enough that every generated original passes them, so the
   *  output check can demand that exactly the originals are emitted. */
  val Cfg: Pipeline.Config = Pipeline.Config(minTokens = 5, maxTokens = 10000,
    minMeanWlen = 1.0, maxMeanWlen = 20.0, minStopRatio = 0.0, minTtr = 0.05,
    maxDupBigramFrac = 1.0, maxTopBigramFrac = 1.0, sampleRate = 1.0,
    targetTokens = 256, shards = 8, salt = "whistlerbench",
    decontamShingleN = 3, decontamThreshold = 0.8, fuzzyDedup = true)
}
