package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source gate for the engine core: every `catch` rethrows or records what
  * it caught. A clause that binds the exception to `_`, or binds a name its
  * handler never reads, drops the reason — the way a rejected K2 candidate's
  * cause used to vanish. */
class CoreCatchSpec extends AnyFunSuite {

  /** `case e: T =>`, `case _: T =>`, `case NonFatal(e) =>`; group 1 is the
    * bound name. */
  private val clause = """case\s+(?:\w+\()?(\w+)\)?\s*(?::[^=]*)?=>""".r

  /** The `case` clauses in `src`'s catch blocks that drop the exception, as
    * (line, clause). */
  private def swallowed(src: String): Seq[(Int, String)] =
    """\bcatch\s*\{""".r.findAllMatchIn(src).toSeq.flatMap { m =>
      var depth = 0
      var i = m.end - 1
      do {
        if (src(i) == '{') depth += 1 else if (src(i) == '}') depth -= 1
        i += 1
      } while (depth > 0 && i < src.length)
      val block = src.substring(m.end, i - 1)
      val cases = clause.findAllMatchIn(block).toSeq
      cases.zipWithIndex.collect {
        case (c, j) if {
          val body = block.substring(c.end, if (j + 1 < cases.size) cases(j + 1).start else block.length)
          c.group(1) == "_" || s"\\b${c.group(1)}\\b".r.findFirstIn(body).isEmpty
        } => (src.take(m.start).count(_ == '\n') + 1, c.matched)
      }
    }

  test("no catch in graft.core drops the exception it caught") {
    val offenders = for {
      p <- Files.list(Paths.get("src/main/scala/graft/core")).iterator().asScala.toSeq
      if p.toString.endsWith(".scala")
      (line, c) <- swallowed(new String(Files.readAllBytes(p), "UTF-8"))
    } yield s"$p:$line: $c"
    assert(offenders.isEmpty, "record or rethrow the exception:\n" + offenders.mkString("\n"))
  }

  test("the gate flags a wildcard or an unread binding, and passes a recorded one") {
    assert(swallowed("try f() catch { case _: Exception => () }").size == 1)
    assert(swallowed("try f()\n  catch { case e: Exception => false }").map(_._1) == Seq(2))
    assert(swallowed("try f() catch { case NonFatal(_) => None }").size == 1)
    assert(swallowed("try f() catch { case e: Exception => Threw(e.getClass.getName) }").isEmpty)
    assert(swallowed("try f() catch { case e: ExecutionException =>\n m(); throw e.getCause }").isEmpty)
    assert(swallowed("// a probe can't catch a divergence { case _ => }").isEmpty)
  }
}
