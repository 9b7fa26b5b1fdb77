package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import Stats.Iv

/** One traced interval. Times are epoch milliseconds; `parent` is the id
  * of the span that caused this one, 0 for a root. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Double, end: Double) {
  def iv: Iv = Iv(start, end)
  def json: String =
    s"""{"id":$id,"parent":$parent,"kind":"$kind","name":${Trace.quote(name)},""" +
      f""""start_ms":$start%.3f,"end_ms":$end%.3f}"""
}

/** Records what Spark's public listener APIs report while it is attached:
  * jobs, stages and tasks (SparkListener), the Catalyst phases of every
  * action (QueryExecutionListener with `QueryExecution.tracker`) and the
  * progress of every streaming microbatch (StreamingQueryListener). The
  * benchmark opens its own spans (pass, query, construct, action) around
  * the calls it makes into the program, and [[spans]] nests the recorded
  * events under them by time. */
final class Trace {
  import Trace._

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val tasks = mutable.ArrayBuffer.empty[Task]
  val actions = mutable.ArrayBuffer.empty[Action]
  val batches = mutable.ArrayBuffer.empty[Batch]
  val streamStarts = mutable.LinkedHashMap.empty[String, Double]
  private val openJobs = mutable.HashMap.empty[Int, Job]

  /** Spans the benchmark opened itself; see [[open]]. */
  val own = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L

  def open(parent: Long, kind: String, name: String, start: Double, end: Double): Long =
    synchronized { nextId += 1; own += Span(nextId, parent, kind, name, start, end); nextId }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      // a streaming query runs its jobs in a job group named by its run id
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val j = Job(e.jobId, e.time.toDouble, Double.NaN, e.stageIds, group)
      openJobs(e.jobId) = j; jobs += j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      openJobs.remove(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val i = e.stageInfo
        for (s <- i.submissionTime; c <- i.completionTime)
          stages += Stage(i.stageId, i.attemptNumber(), s.toDouble, c.toDouble)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) tasks += Task(e.stageId, i.launchTime.toDouble,
        i.finishTime.toDouble, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.resultSize)
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.toSeq.map { case (k, p) =>
        k -> Iv(p.startTimeMs.toDouble, p.endTimeMs.toDouble) }
      Trace.this.synchronized { actions += Action(ph) }
    }
    override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = Trace.this.synchronized {
      streamStarts(e.runId.toString) = Trace.isoMs(e.timestamp)
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = Trace.isoMs(p.timestamp)
      Trace.this.synchronized {
        batches += Batch(p.runId.toString, p.batchId, start,
          start + d.getOrElse("triggerExecution", 0L),
          d, p.stateOperators.map(_.commitTimeMs).sum,
          p.stateOperators.map(_.numRowsTotal).sum)
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** Stream runs as intervals: from the start event to the end of the
    * run's last batch or job. */
  def streamIntervals: Seq[(String, Iv)] = synchronized {
    val ends = (batches.map(b => b.run -> b.end) ++
      jobs.flatMap(j => j.group.map(_ -> j.endOrStart)))
      .groupMapReduce(_._1)(_._2)(math.max)
    streamStarts.toSeq.flatMap { case (r, s) =>
      ends.get(r).map(e => r -> Iv(s, math.max(s, e))) }
  }

  /** Every span: the benchmark's own, then jobs, stages, stream runs and
    * batches, each nested under the innermost span that contains its
    * start (a stage under its job). */
  def spans: Seq[Span] = synchronized {
    var id = nextId
    def fresh(): Long = { id += 1; id }
    val out = mutable.ArrayBuffer.empty[Span] ++= own
    def innermost(t: Double, among: Iterable[Span]): Long =
      among.filter(s => s.start <= t && t < s.end)
        .minByOption(_.iv.length).map(_.id).getOrElse(0L)
    val streamSpans = streamIntervals.map { case (r, iv) =>
      Span(fresh(), innermost(iv.start, own), "stream", r, iv.start, iv.end) }
    out ++= streamSpans
    val batchSpans = batches.toSeq.map { b =>
      val parent = streamSpans.find(_.name == b.run).map(_.id).getOrElse(0L)
      Span(fresh(), parent, "batch", s"${b.run}#${b.id}", b.start, b.end) }
    out ++= batchSpans
    val stageOwner = mutable.HashMap.empty[Int, Long]
    jobs.foreach { j =>
      // a stream's job goes under its run's batch, or the run itself;
      // any other job under the innermost span of the benchmark's own
      val run = j.group.flatMap(g => streamSpans.find(_.name == g))
      val parent = run.map { r =>
        batchSpans.find(b => b.parent == r.id && b.start <= j.start &&
          j.endOrStart <= b.end).getOrElse(r).id
      }.getOrElse(innermost(j.start, own))
      val sp = Span(fresh(), parent, "job", s"job ${j.id}", j.start, j.endOrStart)
      out += sp
      j.stages.foreach(s => stageOwner(s) = sp.id)
    }
    stages.foreach { s =>
      out += Span(fresh(), stageOwner.getOrElse(s.id, 0L), "stage",
        s"stage ${s.id}.${s.attempt}", s.start, s.end)
    }
    out.toSeq
  }
}

object Trace {
  final case class Job(id: Int, start: Double, var end: Double, stages: Seq[Int],
      group: Option[String] = None) {
    def endOrStart: Double = if (end.isNaN) start else end
  }
  final case class Stage(id: Int, attempt: Int, start: Double, end: Double)
  final case class Task(stage: Int, start: Double, end: Double, runMs: Long,
      cpuNs: Long, gcMs: Long, inputB: Long, shReadB: Long, shWriteB: Long,
      spillB: Long, resultB: Long)
  /** One action's Catalyst phases (analysis, optimization, planning). */
  final case class Action(phases: Seq[(String, Iv)])
  final case class Batch(run: String, id: Long, start: Double, end: Double,
      durations: Map[String, Long], stateCommitMs: Long, stateRows: Long)

  /** Writes spans as JSON lines, one span per line. */
  def write(spans: Seq[Span], path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, spans.map(_.json).asJava)
  }

  def isoMs(ts: String): Double =
    java.time.Instant.parse(ts).toEpochMilli.toDouble

  def quote(s: String): String = graft.queries.Tables.jsonEscape(s)

  /** Epoch milliseconds, from the monotonic clock. */
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  def nowMs(): Double = originMs + (System.nanoTime() - originNs) / 1e6

  /** Check that every span lies inside its parent (a small slack covers
    * the millisecond rounding of Spark's event times) and that kinds nest
    * as query → construct/action → job → stage and stream → batch; the
    * cold pass's result checks sit beside its queries.
    * Returns one line per violation. */
  def nestingProblems(spans: Seq[Span], slackMs: Double = 2.0): Seq[String] = {
    val byId = spans.map(s => s.id -> s).toMap
    val allowed = Map(
      "query" -> Set("pass"), "check" -> Set("pass"), "construct" -> Set("query"),
      "action" -> Set("query"), "stream" -> Set("construct", "action"),
      "batch" -> Set("stream"),
      "job" -> Set("construct", "action", "check", "stream", "batch", "setup"),
      "stage" -> Set("job"))
    spans.flatMap { s =>
      byId.get(s.parent) match {
        case None if s.parent != 0 => Seq(s"span ${s.id} has unknown parent ${s.parent}")
        case None => Nil
        case Some(p) =>
          val kind = allowed.get(s.kind).filterNot(_.contains(p.kind))
            .map(_ => s"${s.kind} ${s.name} under ${p.kind} ${p.name}")
          val inside = if (s.start >= p.start - slackMs && s.end <= p.end + slackMs) None
            else Some(s"${s.kind} ${s.name} [${s.start}, ${s.end}] outside " +
              s"${p.kind} ${p.name} [${p.start}, ${p.end}]")
          kind.toSeq ++ inside
      }
    }
  }
}
