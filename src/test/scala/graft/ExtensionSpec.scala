package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions: the spark.sql.extensions entry point must install
  * the native functions permanently and the array-algebra optimizer
  * rule. Builds its own session (extensions bind at session creation);
  * the shared SparkContext is reused and NOT stopped. */
class ExtensionSpec extends AnyFunSuite {

  private def withExtSession[A](f: SparkSession => A): A = {
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = graft.core.SessionDefaults.local(2)
        .appName("graft-ext-test")
        .withExtensions(new graft.plans.GraftExtensions()(_))
        .getOrCreate()
      f(s) // do NOT stop: the SparkContext is shared with other suites
    } finally {
      prevActive.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
      prevDefault.fold(SparkSession.clearDefaultSession())(SparkSession.setDefaultSession)
    }
  }

  test("extension installs graft functions permanently (survive newSession)") {
    withExtSession { s =>
      val sql = "SELECT graft_simhash(graft_shingles(graft_word_hashes('a b c d'))) AS sh"
      val viaSql = s.sql(sql).head.getLong(0)
      import s.implicits._
      val viaApi = Seq("a b c d").toDF("t")
        .select(graft.functions.HashExpressions.simhash30(
          graft.functions.HashExpressions.shingle_hashes(
            graft.functions.HashExpressions.word_hashes(col("t")))))
        .head.getLong(0)
      assert(viaSql == viaApi)
      // permanent registration: a fresh derived session still sees it
      assert(s.newSession().sql(sql).head.getLong(0) == viaSql)
    }
  }

  test("optimizer rule collapses redundant array_distinct; results unchanged") {
    withExtSession { s =>
      // non-literal source: a LocalRelation would be constant-folded away
      val df = s.range(1, 4)
        .select(array(col("id"), col("id") * 2, col("id")).as("a"))
      val q = df.select(col("a"),
        array_max(array_distinct(col("a"))).as("m"),
        array_distinct(array_distinct(col("a"))).as("d"))
      val optimized = q.queryExecution.optimizedPlan
      val distincts = optimized.expressions.map(_.collect {
        case e: org.apache.spark.sql.catalyst.expressions.ArrayDistinct => e
      }.size).sum
      // array_max(array_distinct(x)) loses its distinct entirely; the
      // nested pair collapses to ONE
      assert(distincts == 1, s"expected 1 ArrayDistinct, got $distincts in:\n$optimized")
      val row = q.orderBy("m").head
      assert(row.getLong(1) == 2L) // max of [1, 2, 1]
      assert(row.getSeq[Long](2).sorted == Seq(1L, 2L))
    }
  }
}
