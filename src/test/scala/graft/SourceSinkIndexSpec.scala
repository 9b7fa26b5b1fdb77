package graft

import org.apache.spark.sql.functions._

import graft.core.SwiftIndex
import graft.queries.Tables

/** §2.3 sources/sinks (inherited from Spark) + index/order helpers. */
class SourceSinkIndexSpec extends SparkSpec {

  test("orc round-trips a typed projection losslessly") {
    val tmp = queries.Tables.cachedTempDir("graft_orc_spec", sf001)
    val su = queries.Tables.t(spark, sf001, "supplier")
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    su.write.mode("overwrite").orc(tmp)
    val back = spark.read.schema(su.schema).orc(tmp)
    assert(back.schema == su.schema) // types survive (ORC is self-describing)
    assert(back.exceptAll(su).count() == 0 && su.exceptAll(back).count() == 0)
  }

  test("csv and json round-trip a projection losslessly") {
    val li = Tables.t(spark, sf001, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .limit(100)
    val tmp = SparkSpec.tempDir("srcsink").toString

    li.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
    val csv = spark.read.option("header", "true").option("inferSchema", "true").csv(s"$tmp/csv")
    assert(csv.count() == 100)
    assert(csv.agg(sum("l_quantity")).head.getDouble(0)
      == li.agg(sum("l_quantity")).head.getDouble(0))

    li.write.mode("overwrite").json(s"$tmp/json")
    val json = spark.read.json(s"$tmp/json")
    assert(json.count() == 100)
    assert(json.agg(sum("l_quantity")).head.getDouble(0)
      == li.agg(sum("l_quantity")).head.getDouble(0))
  }

  test("partitioned parquet sink prunes partitions on read") {
    val li = Tables.t(spark, sf001, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    val tmp = SparkSpec.tempDir("psink").toString
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(tmp)
    val back = spark.read.parquet(tmp).filter(col("l_returnflag") === "R")
    val p = back.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("PartitionFilters"), p)
    assert(back.count() == li.filter(col("l_returnflag") === "R").count())
  }

  test("withRowIndex: dense 0-based index preserving order; dup warning") {
    val d = Tables.t(spark, sf001, "region")
    val idx = SwiftIndex.withRowIndex(d, "idx")
    val ids = idx.orderBy("idx").select("idx").collect().map(_.getLong(0)).toSeq
    assert(ids == (0L until d.count()).toSeq)
    assert(SwiftIndex.checkUnique(idx, Seq("idx")))
    assert(!SwiftIndex.checkUnique(
      Tables.t(spark, sf001, "lineitem"), Seq("l_orderkey"))) // dup per line
  }

  test("withRowIndex: stays in the DataFrame API, dense on many partitions") {
    val d = Tables.t(spark, sf001, "lineitem").repartition(7)
    val idx = SwiftIndex.withRowIndex(d, "idx")
    // no RDD round-trip: the plan must not re-enter via an ExistingRDD scan
    val plan = idx.queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD"), plan.take(1500))
    val n = d.count()
    val ids = idx.select("idx").collect().map(_.getLong(0)).sorted
    assert(ids.head == 0L && ids.last == n - 1 && ids.length == n)
    assert(ids.distinct.length == n)
  }
}
