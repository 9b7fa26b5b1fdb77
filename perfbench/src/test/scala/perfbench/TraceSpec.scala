package perfbench

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  /** A trace with one pass of one query whose construct ran a job, and
    * whose action ran a stream of two batches with a job in each, then a
    * result check that ran one job; a stream's jobs carry its run id as
    * their job group, as Spark sets it. */
  private def sample(): Trace = {
    val t = new Trace
    val pass = t.open(0, "pass", "pass 1", 1000, 2000)
    val q = t.open(pass, "query", "q", 1000, 1900)
    t.open(q, "construct", "q", 1000, 1400)
    t.open(q, "action", "q", 1400, 1900)
    t.open(pass, "check", "q", 1900, 1990)
    t.jobs += Trace.Job(4, 1910, 1980, Seq(14))
    t.stages += Trace.Stage(14, 0, 1920, 1970)
    t.jobs += Trace.Job(1, 1100, 1300, Seq(10, 11))
    t.stages += Trace.Stage(10, 0, 1100, 1200)
    t.stages += Trace.Stage(11, 0, 1200, 1300)
    t.streamStarts("run-a") = 1450
    t.batches += Trace.Batch("run-a", 0, 1500, 1600, Map("triggerExecution" -> 100L), 0, 0)
    t.batches += Trace.Batch("run-a", 1, 1700, 1800, Map("triggerExecution" -> 100L), 0, 0)
    t.jobs += Trace.Job(2, 1510, 1590, Seq(12), Some("run-a"))
    t.jobs += Trace.Job(3, 1710, 1790, Seq(13), Some("run-a"))
    t.stages += Trace.Stage(12, 0, 1520, 1580)
    t.stages += Trace.Stage(13, 0, 1720, 1780)
    t
  }

  private def readBack(spans: Seq[Span]): Seq[Span] = {
    val f = java.nio.file.Files.createTempFile("spans", ".jsonl")
    try {
      Trace.write(spans, f.toString)
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      java.nio.file.Files.readAllLines(f).asScala.toSeq.map { l =>
        val n = m.readTree(l)
        Span(n.get("id").asLong, n.get("parent").asLong, n.get("kind").asText,
          n.get("name").asText, n.get("start_ms").asDouble, n.get("end_ms").asDouble)
      }
    } finally java.nio.file.Files.delete(f)
  }

  test("spans in the trace file nest query > construct/action > job > stage and stream > batch") {
    val spans = readBack(sample().spans)
    assert(Trace.nestingProblems(spans).isEmpty, Trace.nestingProblems(spans))
    val byId = spans.map(s => s.id -> s).toMap
    def parentKind(kind: String, name: String) =
      byId(spans.find(s => s.kind == kind && s.name == name).get.parent).kind
    assert(parentKind("job", "job 1") == "construct")
    assert(parentKind("stage", "stage 10.0") == "job")
    assert(parentKind("stream", "run-a") == "action")
    assert(parentKind("batch", "run-a#1") == "stream")
    assert(parentKind("job", "job 3") == "batch")
    assert(parentKind("stage", "stage 13.0") == "job")
    assert(parentKind("job", "job 4") == "check")
  }

  test("a span outside its parent, or under the wrong kind, is reported") {
    val spans = sample().spans
    val job = spans.find(_.name == "job 1").get
    val late = spans.map(s => if (s.id == job.id) s.copy(end = 5000) else s)
    assert(Trace.nestingProblems(late).exists(_.contains("outside")))
    val pass = spans.find(_.kind == "pass").get
    val wrong = spans.map(s => if (s.id == job.id) s.copy(parent = pass.id) else s)
    assert(Trace.nestingProblems(wrong).exists(_.contains("job job 1 under pass")))
  }
}
