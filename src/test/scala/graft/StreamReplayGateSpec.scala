package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source gate for the stream twins: `StreamOps.replay` is the only code
  * that writes, starts, drains or checkpoints a streaming query, or sets
  * the state-store provider — so the conf a replay sets is set under its
  * lock and restored at start, and no twin spells the protocol out again —
  * and a twin's result is the frame `replay` returns, not a session table. */
class StreamReplayGateSpec extends AnyFunSuite {

  private val replayOnly = Seq("writeStream", ".start()", "processAllAvailable",
    "checkpointLocation", "stateStore.providerClass")

  /** `src` with every comment blanked out, line breaks kept. */
  private def code(src: String): String =
    """(?s)/\*.*?\*/|//[^\n]*""".r.replaceAllIn(src, m => m.matched.replaceAll("[^\n]", " "))

  /** Each use of a replay-only token in `src` outside the body of
    * `def replay`, as (line, token). */
  private def outsideReplay(src: String): Seq[(Int, String)] = {
    val c = code(src)
    val at = c.indexOf("def replay")
    val (from, to) = if (at < 0) (0, 0) else {
      val open = c.indexOf('{', at)
      var depth = 0
      var i = open
      do {
        if (c(i) == '{') depth += 1 else if (c(i) == '}') depth -= 1
        i += 1
      } while (depth > 0 && i < c.length)
      (open, i)
    }
    for {
      t <- replayOnly
      i <- Iterator.iterate(c.indexOf(t))(j => c.indexOf(t, j + 1)).takeWhile(_ >= 0).toSeq
      if i < from || i >= to
    } yield (c.take(i).count(_ == '\n') + 1, t)
  }

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  test("only StreamOps.replay writes, starts, drains or checkpoints a stream") {
    val ops = Paths.get("src/main/scala/graft/streaming/StreamOps.scala")
    assert(code(read(ops)).contains("def replay"))
    assert(outsideReplay(read(ops)).isEmpty,
      "move it into replay:\n" + outsideReplay(read(ops)).mkString("\n"))
    val walk = Files.walk(Paths.get("src/main/scala"))
    val writers = try walk.iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") && p.normalize != ops.normalize)
      .filter(p => code(read(p)).contains("writeStream"))
      finally walk.close()
    assert(writers.isEmpty, s"a stream written outside StreamOps.replay: $writers")
  }

  test("no stream twin reads a memory sink back as a session table") {
    val ops = Paths.get("src/main/scala/graft/streaming/StreamOps.scala")
    val reads = code(read(ops)).linesIterator.zipWithIndex
      .collect { case (l, i) if l.contains("spark.table(") => i + 1 }.toSeq
    assert(reads.isEmpty, s"use the frame replay returns, not the sink's temp view; lines $reads")
  }

  test("the gate flags a token outside replay and passes one inside it or in a comment") {
    val ok = "object O {\n  def replay(a: Int): Unit = {\n    if (a > 0) { df.writeStream.start() }\n  }\n}"
    assert(outsideReplay(ok).isEmpty)
    assert(outsideReplay(ok + "\nobject P { q.processAllAvailable() }") == Seq((6, "processAllAvailable")))
    assert(outsideReplay("// df.writeStream.start()\n/* \"checkpointLocation\" */").isEmpty)
    assert(outsideReplay("val k = \"spark.sql.streaming.stateStore.providerClass\"").size == 1)
    assert(outsideReplay("w.option(\"checkpointLocation\", d).start()").map(_._2).toSet ==
      Set("checkpointLocation", ".start()"))
  }
}
