package graft

import org.apache.spark.sql.functions._

import graft.queries.Tables

/** Co-located joins via bucketing (SCALING.md: "bucketing would remove
  * the fact-fact shuffle for repeated joins") — proven here: bucketed +
  * sorted tables join with NO Exchange in the plan. */
class BucketingSpec extends SparkSpec {

  test("bucketed sorted tables join without a shuffle") {
    val li = Tables.t(spark, sf001, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val o = Tables.t(spark, sf001, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderpriority")

    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_bucketed")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("o_bucketed")

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
      val p = joined.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(!p.contains("Exchange"), p.take(3000))
      // results still correct
      val n = joined.count()
      val expect = li.join(o, col("l_orderkey") === col("o_orderkey")).count()
      assert(n == expect)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
    }
  }

  test("rel_join_bucketed query: co-located SMJ, only the aggregate shuffles") {
    val df = graft.queries.RelationalQueries.queries("rel_join_bucketed")(spark, sf001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("SortMergeJoin"), p.take(3000))
    // the join inputs are bucket-co-located: no Exchange may hash on a
    // join key — the only legal Exchange is the groupBy on o_orderpriority
    assert(!p.contains("hashpartitioning(l_orderkey"), p.take(3000))
    assert(!p.contains("hashpartitioning(o_orderkey"), p.take(3000))
  }

  test("dynamic partition pruning: a dim filter prunes fact partitions at runtime") {
    import org.apache.spark.sql.functions._
    // partition the fact by a derived key (at 100 TB: date/shard — the
    // layout every warehouse fact table ships with), then join against
    // a FILTERED dim on that key: Catalyst must inject a runtime
    // dynamicpruning subquery into the fact scan, so only the matching
    // partitions are read — the other 7/8ths of the corpus never leave
    // the object store
    val dir = SparkSpec.tempDir("graft_dpp").toString
    graft.queries.Tables.t(spark, sf001, "lineitem")
      .withColumn("part_key", pmod(col("l_orderkey"), lit(8)))
      .write.mode("overwrite").partitionBy("part_key").parquet(s"$dir/fact")
    val fact = spark.read.parquet(s"$dir/fact")
    val dim = spark.range(8).select(col("id").as("part_key"),
      (col("id") * 2).as("v")).filter(col("v") === 4)
    val q = fact.join(dim, "part_key").agg(sum(col("l_quantity")).as("s"))
    val p = q.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"), p.take(3000))
    // and the pruned result equals the static-filter equivalent
    val got = q.head.getDouble(0)
    val want = fact.filter(col("part_key") === 2).agg(sum(col("l_quantity"))).head.getDouble(0)
    assert(got == want)
  }

  test("runtime bloom filter: a selective dim side injects a row-level " +
      "filter into the fact scan side") {
    import org.apache.spark.sql.functions._
    // DPP prunes whole PARTITIONS; the runtime bloom filter is its
    // row-level sibling for non-partition join keys — at 100 TB a
    // selective dim filter should stop fact rows at the scan side of
    // the shuffle, not after it. Force the shuffle path (no broadcast)
    // and drop the injection thresholds so the optimizer's decision,
    // not the fixture size, is under test.
    val conf = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      val li = graft.queries.Tables.t(spark, sf001, "lineitem")
      val o = graft.queries.Tables.t(spark, sf001, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_totalprice"))
      val q = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .agg(sum(col("l_quantity")).as("s"))
      val p = q.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") || p.contains("bloom_filter"),
        s"expected a runtime bloom filter on the fact side:\n${p.take(3000)}")
      // and it is transparent to results
      val want = li.join(
        graft.queries.Tables.t(spark, sf001, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
        .agg(sum(col("l_quantity"))).head.getDouble(0)
      assert(q.head.getDouble(0) == want)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
