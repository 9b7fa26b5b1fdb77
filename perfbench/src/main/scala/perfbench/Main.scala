package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run: set-up, one cold pass in the fresh JVM, then warm
  * passes on fresh sessions, as many as the workload fits in `--seconds`.
  * Prints the metrics as the last line of standard output. See README.md. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, base: String, work: String, reference: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("base"), need("work"), need("reference"))
  }

  /** One timed query execution. Times are epoch milliseconds; `probes`
    * holds the process counters' change over the execution. `checkEnd`
    * is the end of the untimed result check that follows `end`, or `end`
    * in a pass without one. */
  final case class Exec(query: String, start: Double, constructed: Double,
      end: Double, checkEnd: Double, cachedFrames: Int, probes: Probes.Counters) {
    def wallS: Double = (end - start) / 1000
  }

  final case class Pass(index: Int, traced: Boolean, execs: Seq[Exec], heapMb: Double) {
    def wallS: Double = execs.map(_.wallS).sum
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads.byName.getOrElse(a.workload,
      sys.error(s"unknown workload ${a.workload}; known: ${Workloads.byName.keys.mkString(", ")}"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.core.SessionDefaults(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/tmp/spark")
      .config("spark.sql.warehouse.dir", s"${a.work}/tmp/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fallbacks = Probes.installFallbackCounter()
    val trace = if (a.trace) Some(new Trace) else None
    trace.foreach(t => spark.sparkContext.addSparkListener(t.sparkListener))
    val sessionReadyMs = Trace.nowMs()
    def log(s: String): Unit = System.err.println(
      f"[perfbench] ${(Trace.nowMs() - jvmStartMs) / 1000}%7.2fs $s")

    // set-up: stage the tables three times and keep the median
    val stageS = (0 until 3).map { i =>
      val t0 = Trace.nowMs()
      val dst = s"${a.work}/stage/${w.name}-$i"
      Stage.stage(spark, a.base, dst, w.tables, cores, a.seed, w.replicas)
      ((Trace.nowMs() - t0) / 1000, dst)
    }
    val dataDir = stageS.last._2
    val pre0 = Trace.nowMs()
    val problems = Stage.preflight(spark, a.base, dataDir, w.tables, w.replicas)
    problems.foreach(p => log(s"PREFLIGHT: $p"))
    require(problems.isEmpty, "staged tables failed the preflight")
    val reference = Reference.load(a.reference, w.dataKey)
    val setupS = (sessionReadyMs - jvmStartMs) / 1000 +
      Stats.median(stageS.map(_._1)) + (Trace.nowMs() - pre0) / 1000
    log(f"setup: session ${(sessionReadyMs - jvmStartMs) / 1000}%.2fs, staging " +
      stageS.map(s => f"${s._1}%.2f").mkString("/") + "s")

    val queries = w.queries.map(q => q -> graft.SparkEntry.queries.getOrElse(q,
      sys.error(s"workload ${w.name} names unknown query $q")))
    val rng = new scala.util.Random(a.seed)
    var failed = 0
    var attempted = 0
    val wrong = mutable.ArrayBuffer.empty[String]
    var checked = 0

    def sweep(s: SparkSession): Int = {
      val frames = graft.core.Caches.trackedCount
      graft.core.Caches.release()
      s.catalog.clearCache()
      val keep = graft.queries.ExtQueries.memoizedRddIds
      s.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!keep.contains(id)) rdd.unpersist(blocking = false) }
      frames
    }

    /** Runs every query once on session `s`, in an order drawn from the
      * seed. The timed action writes the result to the `noop` sink;
      * `check`, if given, then runs on the same frame outside the timed
      * window. */
    def pass(index: Int, s: SparkSession, traced: Boolean,
        check: Option[(String, DataFrame) => Unit]): Pass = {
      val execs = mutable.ArrayBuffer.empty[Exec]
      val p0 = Trace.nowMs()
      rng.shuffle(queries).foreach { case (name, fn) =>
        attempted += 1
        val before = Probes.read()
        val t0 = Trace.nowMs()
        val timed = try {
          val df = fn(s, dataDir)
          val tc = Trace.nowMs()
          df.write.format("noop").mode("overwrite").save()
          val t1 = Trace.nowMs()
          val d = Probes.read().minus(before)
          check.foreach(_(name, df))
          Some((tc, t1, Trace.nowMs(), d))
        } catch {
          case NonFatal(e) =>
            failed += 1
            log(s"$name FAILED: ${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString)
            None
        }
        val frames = sweep(s)
        timed.foreach { case (tc, t1, tk, d) => execs += Exec(name, t0, tc, t1, tk, frames, d) }
      }
      trace.filter(_ => traced).foreach { t =>
        val pid = t.open(0, "pass", s"pass $index", p0, Trace.nowMs())
        execs.foreach { e =>
          val q = t.open(pid, "query", e.query, e.start, e.end)
          t.open(q, "construct", e.query, e.start, e.constructed)
          t.open(q, "action", e.query, e.constructed, e.end)
          if (e.checkEnd > e.end) t.open(pid, "check", e.query, e.end, e.checkEnd)
        }
      }
      val heap = if (trace.nonEmpty) Probes.retainedHeapMb() else Double.NaN
      val p = Pass(index, traced, execs.toSeq, heap)
      log(f"pass $index: ${p.wallS}%.3fs, steal ${execs.map(_.probes.stealMs).sum / 1000.0}%.1fs")
      p
    }

    def traceSession(s: SparkSession, traced: Boolean): SparkSession = {
      trace.filter(_ => traced).foreach { t =>
        s.listenerManager.register(t.queryListener)
        s.streams.addListener(t.streamListener)
      }
      s
    }

    val cgBefore = Probes.codegen()
    // the cold pass checks every result; a query without a reference
    // fingerprint counts as wrong
    val cold = pass(0, traceSession(spark, traced = true), traced = true, Some((name, df) => {
      val got = Fingerprint.of(df)
      val want = reference.get(name)
      checked += 1
      if (!want.contains(got)) {
        wrong += name
        log(s"$name WRONG: fingerprint $got, reference ${want.getOrElse("missing")}")
      }
    }))
    val cgCold = Probes.codegen().minus(cgBefore)

    // warm passes: a fresh session each, so per-session memos refill
    val warm = mutable.ArrayBuffer.empty[Pass]
    val cgWarm0 = Probes.codegen()
    val fb0 = fallbacks.map(_.apply()).getOrElse(0L)
    // traced runs interleave untraced and traced passes as U T T U U T ...,
    // so passes getting faster as the JIT warms favour neither side; at
    // least four passes give each kind two
    def tracedPass(i: Int): Boolean = trace.nonEmpty && (i % 4 == 2 || i % 4 == 3)
    var attached = trace.nonEmpty
    val passes = w.warmPasses(a.seconds) max (if (trace.nonEmpty) 4 else 0)
    (1 to passes).foreach { i =>
      val traced = tracedPass(i)
      trace.filter(_ => traced != attached).foreach { t =>
        // deliver what the last pass posted before switching the listener
        org.apache.spark.BusDrain(spark.sparkContext)
        if (traced) spark.sparkContext.addSparkListener(t.sparkListener)
        else spark.sparkContext.removeSparkListener(t.sparkListener)
        attached = traced
      }
      warm += pass(i, traceSession(spark.newSession(), traced), traced, None)
    }
    val cgWarm = Probes.codegen().minus(cgWarm0)
    val fbWarm = fallbacks.map(_.apply() - fb0).getOrElse(-1L)

    warm.toSeq.flatMap(_.execs).groupBy(_.query).toSeq.sortBy(_._1).foreach { case (q, es) =>
      log(f"warm $q%-28s median ${Stats.median(es.map(_.wallS))}%.3fs over ${es.size}")
    }
    val heapMb = Probes.retainedHeapMb()
    log("end of run")
    val wrongFrac = if (checked == 0) 1.0 else wrong.size.toDouble / checked
    val failedFrac = failed.toDouble / attempted

    val metrics: Seq[(String, Double, String)] = trace match {
      case None =>
        val samples = warm.toSeq.flatMap(_.execs.map(_.wallS))
        val tail = Stats.tailPercentile(samples.size)
        log(s"warm passes ${warm.size}, query samples ${samples.size}, " +
          s"tail percentile p$tail")
        Seq(("setup_s", setupS, "s"),
          ("cold_pass_s", cold.wallS, "s"),
          ("warm_pass_s", Stats.median(warm.toSeq.map(_.wallS)), "s"),
          ("query_p50_s", Stats.median(samples), "s"),
          ("query_p90_s", Stats.quantile(samples, tail / 100.0), "s"),
          ("retained_heap_mb", heapMb, "MB"))
      case Some(t) =>
        org.apache.spark.BusDrain(spark.sparkContext)
        val spans = t.spans
        val spanFile = s"${a.work}/trace/${w.name}-${a.seed}.spans.jsonl"
        Trace.write(spans, spanFile)
        val nesting = Trace.nestingProblems(spans)
        nesting.take(5).foreach(p => log(s"SPAN NESTING: $p"))
        log(s"${spans.size} spans written to $spanFile")
        Layers.metrics(t, w, cold, warm.toSeq, cgCold, cgWarm, fbWarm, cores,
          nesting.size) ++ Seq(("check.checked", checked.toDouble, "count"),
          ("check.wrong", wrong.size.toDouble, "count"))
    }

    val rows = metrics ++ Seq(("failed_frac", failedFrac, "ratio"),
      ("wrong_frac", wrongFrac, "ratio"))
    rows.foreach { case (n, v, u) => println(f"$n%-34s $v%14.6f $u") }
    println(s"results checked $checked, wrong ${wrong.size}" +
      (if (wrong.isEmpty) "" else s": ${wrong.mkString(", ")}"))
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${Probes.num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${wrong.isEmpty && failed == 0 && checked > 0}, """ +
      s""""attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    spark.stop()
  }
}
