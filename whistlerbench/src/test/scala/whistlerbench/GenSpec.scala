package whistlerbench

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

/** The input generators are pure functions of the seed. */
class GenSpec extends AnyFunSuite {

  private val study = Gen.StudySize(participants = 50, orders = 120, lineitems = 300, lineFiles = 3)
  private val stream = Gen.StreamSize(batchDocs = 200, batches = 3, evalDocs = 20,
    exactShare = 0.10, nearShare = 0.10, evalShare = 0.05)

  /** One hash over every file's relative path and content. */
  private def contentHash(dir: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      .sortBy(dir.relativize(_).toString).foreach { f =>
        md.update(dir.relativize(f).toString.getBytes("UTF-8"))
        md.update(Files.readAllBytes(f))
      }
    md.digest().map("%02x".format(_)).mkString
  }

  private def generate(seed: Long): String = {
    val dir = Files.createTempDirectory("whistlerbench-gen")
    try {
      Gen.writeStudy(dir.resolve("study"), seed, study)
      Gen.writeStudy(dir.resolve("mini"), seed, StudyPlay.MiniSize)
      Gen.writeStream(dir.resolve("stream"), Gen.stream(seed, stream))
      contentHash(dir)
    } finally Workload.deleteTree(dir)
  }

  test("the same seed gives byte-identical inputs; another seed gives different ones") {
    assert(generate(7) == generate(7))
    assert(generate(7) != generate(8))
  }

  test("row counts are fixed by the size, not the seed") {
    for (seed <- Seq(1L, 2L)) {
      val dir = Files.createTempDirectory("whistlerbench-study")
      try {
        val s = Gen.writeStudy(dir, seed, study)
        def rows(f: String) = Files.readAllLines(dir.resolve(f)).size - 1
        assert(rows("customer.csv") == study.participants)
        assert(rows("orders.csv") == study.orders)
        assert((0 until study.lineFiles).map(i => rows(s"lineitem_part$i.csv")).sum == study.lineitems)
        assert(s.lineSubjects > 0 && s.lineSubjects <= study.participants)
      } finally Workload.deleteTree(dir)
    }
  }

  test("the planted re-arrival and eval shares are the declared ones") {
    val s = Gen.stream(3, stream)
    assert(s.prime.size == stream.batchDocs && s.prime.forall(_.kind == Gen.Original))
    assert(s.batches.size == stream.batches)
    for (b <- s.batches) {
      assert(b.size == stream.batchDocs)
      val kinds = b.groupBy(_.kind).map { case (k, ds) => k -> ds.size }
      assert(kinds(Gen.ExactDup) == math.round(stream.batchDocs * stream.exactShare))
      assert(kinds(Gen.NearDup) == math.round(stream.batchDocs * stream.nearShare))
      assert(kinds(Gen.EvalPlant) == math.round(stream.batchDocs * stream.evalShare))
    }
    val ids = s.all.map(_.id) ++ s.eval.map(_.id)
    assert(ids.distinct.size == ids.size, "ids are unique across the stream")
    val earlier = collection.mutable.Set.from(s.prime.map(_.text))
    for (b <- s.batches) {
      assert(b.filter(_.kind == Gen.ExactDup).forall(d => earlier.contains(d.text)))
      assert(b.filter(_.kind == Gen.NearDup).forall(d =>
        earlier.exists(t => d.text.startsWith(t + " ") && !d.text.drop(t.length + 1).contains(' '))))
      assert(b.filter(_.kind == Gen.EvalPlant).forall(d => s.eval.exists(_.text == d.text)))
      earlier ++= b.filter(_.kind == Gen.Original).map(_.text)
    }
  }

  test("a job goes to the layer of its label, else of its innermost library frame") {
    assert(Layers.ofDescription("pipeline: classify ckpt").contains("llm.dedup"))
    assert(Layers.ofDescription("something else").isEmpty)
    val site =
      """org.apache.spark.sql.Dataset.count(Dataset.scala:1)
        |graft.llm.Decontamination$.containmentFilterAgainstIndex(Decontamination.scala:408)
        |graft.llm.IncrementalPipeline$.processBatch(IncrementalPipeline.scala:239)
        |whistlerbench.CurateStream.process(Workloads.scala:10)""".stripMargin
    assert(Layers.ofCallSite(site).contains("llm.decontam"))
    val ours = "whistlerbench.StudyPlay.run(Workloads.scala:1)\ngraft.sink.ReferenceResolution$.resolveLoop(ReferenceResolution.scala:180)"
    assert(Layers.ofCallSite(ours).isEmpty, "the benchmark's own actions stay in their span's layer")
    assert(Layers.ofCallSite("graft.sink.WhistleInputWriter$.write(WhistleInputWriter.scala:120)")
      .contains("sink.whistle_input"))
  }
}
