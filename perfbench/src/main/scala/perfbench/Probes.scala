package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics

/** Process-wide counters the benchmark reads from outside the program. */
object Probes {
  /** Process CPU, GC and safepoint time, major page faults and the
    * machine's steal time, read around each query. */
  def read(): Counters = Counters(cpuMs(), gcMs(), safepointMs(), majflt(), stealMs())

  final case class Counters(cpuMs: Long, gcMs: Long, safepointMs: Long,
      majflt: Long, stealMs: Long) {
    def minus(o: Counters): Counters = Counters(cpuMs - o.cpuMs, gcMs - o.gcMs,
      safepointMs - o.safepointMs, majflt - o.majflt, stealMs - o.stealMs)
  }

  /** Whole-stage and expression codegen compiles, from `CodegenMetrics`. */
  final case class Codegen(compiles: Long, compileMs: Double) {
    def minus(o: Codegen): Codegen = Codegen(compiles - o.compiles, compileMs - o.compileMs)
  }

  /** The compile-time histogram keeps every sample until it holds 1028;
    * below that the sum of its samples is the exact total. Past it the
    * sum is estimated from the mean. */
  def codegen(): Codegen = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    val sum = if (snap.size >= n) snap.getValues.sum.toDouble else snap.getMean * n
    Codegen(n, sum)
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum

  val cpuMs: () => Long = try {
    val bean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    () => { val t = bean.getProcessCpuTime; if (t < 0) -1L else t / 1000000L }
  } catch { case NonFatal(_) => () => -1L }

  val safepointMs: () => Long = try {
    val helper = Class.forName("sun.management.ManagementFactoryHelper")
    val bean = helper.getMethod("getHotspotRuntimeMBean").invoke(null)
    val m = bean.getClass.getMethod("getTotalSafepointTime")
    m.setAccessible(true)
    () => m.invoke(bean).asInstanceOf[java.lang.Long].longValue()
  } catch { case NonFatal(_) => () => -1L }

  /** Major page faults of this process (/proc/self/stat field 12). */
  def majflt(): Long = try {
    val s = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/self/stat")))
    s.substring(s.lastIndexOf(')') + 2).split(" ")(9).toLong
  } catch { case NonFatal(_) => -1L }

  /** CPU time the hypervisor gave to other guests, summed over this
    * machine's CPUs (/proc/stat, in clock ticks of 10 ms): time a query
    * waited for a CPU it was runnable on. */
  def stealMs(): Long = try {
    val line = scala.io.Source.fromFile("/proc/stat").getLines().next()
    line.trim.split("\\s+")(8).toLong * 10
  } catch { case NonFatal(_) => -1L }

  /** Heap in use after a full collection, in MB. Collections repeat until
    * the figure settles, because Spark's ContextCleaner frees shuffle and
    * broadcast state only after a collection has found it unreachable. */
  def retainedHeapMb(): Double = {
    def used(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = used()
    var next = { Thread.sleep(100); used() }
    var rounds = 0
    while (math.abs(next - last) > 1.0 && rounds < 8) {
      last = next; Thread.sleep(100); next = used(); rounds += 1
    }
    next
  }

  /** Counts Spark's codegen-fallback warnings: a plan that fails to
    * compile still answers correctly through the interpreter, so only the
    * log shows it. Returns None when the appender cannot be attached. */
  def installFallbackCounter(): Option[() => Long] = try {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val count = new java.util.concurrent.atomic.AtomicLong
    val app = new AbstractAppender("perfbench-fallbacks", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("falling back to interpreter") ||
            m.contains("Whole-stage codegen disabled") ||
            m.contains("Failed to compile the generated Java code"))
          count.incrementAndGet()
      }
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val conf = ctx.getConfiguration
    app.start()
    conf.addAppender(app)
    Seq("org.apache.spark.sql.catalyst.expressions",
        "org.apache.spark.sql.execution.WholeStageCodegenExec").foreach { n =>
      val lc = Option(conf.getLoggers.get(n)).getOrElse {
        val c = new LoggerConfig(n, Level.WARN, false); conf.addLogger(n, c); c }
      lc.setLevel(Level.WARN)
      lc.addAppender(app, Level.WARN, null)
    }
    ctx.updateLoggers()
    Some(() => count.get())
  } catch { case NonFatal(_) => None }

  /** A metric value as JSON: every digit, and never NaN or infinite. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
