package graft

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf001 = "/root/testdata/sf0.001"

  /** Runs `body` and counts the Spark jobs it starts. The listener bus is
    * drained before and after, so no earlier job's event leaks in and no
    * late event is lost. */
  def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    GraftTestBus.drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val a = body
      GraftTestBus.drain(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val tmp = java.nio.file.Files.createTempDirectory("spark-test").toString
    System.setProperty("derby.system.home", tmp)
    // the engine's own session defaults, so tests run under the confs
    // every entry point runs under
    val s = graft.core.SessionDefaults.local(4)
      .appName("swifterspark-test")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
