package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stages the generated base tables for one run.
  *
  * The generator writes one row group per table, and a parquet task cannot
  * split a row group, so every scan of the base files would run as one
  * task. Staging rewrites each table as `parts` files (the respool), with
  * rows placed by a hash of the run seed, so the layout varies with the
  * seed while the rows do not.
  *
  * With `replicas` > 1 the five keyed TPC-H tables are replicated instead
  * (the `rel_scale` tables): copy c adds c × (largest key + 1) to every
  * key, so each copy joins only to itself and join fan-out stays that of
  * the base tables. `nation` and `region` are shared dimensions and stay
  * single.
  */
object Stage {
  /** Key columns of each replicated table, by key domain. */
  private val keyDomains: Map[String, Seq[(String, String)]] = Map(
    "customer" -> Seq("c_custkey" -> "cust"),
    "supplier" -> Seq("s_suppkey" -> "supp"),
    "part" -> Seq("p_partkey" -> "part"),
    "orders" -> Seq("o_orderkey" -> "order", "o_custkey" -> "cust"),
    "lineitem" -> Seq("l_orderkey" -> "order", "l_partkey" -> "part",
      "l_suppkey" -> "supp"))
  private val domainOwner = Seq("cust" -> ("customer", "c_custkey"),
    "supp" -> ("supplier", "s_suppkey"), "part" -> ("part", "p_partkey"),
    "order" -> ("orders", "o_orderkey"))
  /** Columns that must be unique in every staged copy. */
  private val uniqueKeys: Seq[(String, String)] = domainOwner.map(_._2)

  private def read(spark: SparkSession, dir: String, t: String): DataFrame =
    spark.read.parquet(s"$dir/$t.parquet")

  /** Writes `tables` staged under `dst`. */
  def stage(spark: SparkSession, base: String, dst: String, tables: Seq[String],
      parts: Int, seed: Long, replicas: Int): Unit = {
    val span: Map[String, Long] =
      if (replicas <= 1) Map.empty
      else domainOwner.map { case (d, (t, c)) =>
        d -> (read(spark, base, t).agg(max(col(c))).head().getLong(0) + 1) }.toMap
    tables.foreach { t =>
      val src = read(spark, base, t)
      val keys = if (replicas <= 1) Nil else keyDomains.getOrElse(t, Nil)
      val placed = if (keys.isEmpty) {
        src.repartition(parts,
          pmod(xxhash64(lit(seed) +: src.columns.toSeq.map(col): _*), lit(parts)))
      } else {
        // the copies are the partitioned side and the base table is
        // broadcast, so replication needs no shuffle of the table itself;
        // the seed decides which copies share a file
        val order = new scala.util.Random(seed).shuffle((0L until replicas).toList)
        val copies = spark.createDataFrame(order.map(Tuple1(_))).toDF("__copy")
          .repartition(parts)
        keys.foldLeft(copies.crossJoin(broadcast(src))) { case (d, (c, dom)) =>
          d.withColumn(c, col(c) + col("__copy") * lit(span(dom)))
        }.select(src.columns.toSeq.map(col): _*)
      }
      placed.write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
  }

  /** Checks the staged tables: each has `replicas` times the base rows
    * (the unreplicated ones exactly the base rows) and every key column
    * is unique. Returns one line per problem. */
  def preflight(spark: SparkSession, base: String, dst: String,
      tables: Seq[String], replicas: Int): Seq[String] = {
    def counts(dir: String): Map[String, Long] =
      tables.map(t => read(spark, dir, t).select(lit(t), count(lit(1))))
        .reduce(_ union _).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (want, got) = (counts(base), counts(dst))
    val sizes = tables.flatMap { t =>
      val w = want(t) * (if (replicas > 1 && keyDomains.contains(t)) replicas else 1)
      if (got(t) == w) None else Some(s"$t: ${got(t)} rows staged, expected $w")
    }
    val dups = uniqueKeys.filter(k => tables.contains(k._1)).flatMap { case (t, c) =>
      val d = read(spark, dst, t).groupBy(c).count().where(col("count") > 1).count()
      if (d == 0) None else Some(s"$t.$c: $d duplicated keys")
    }
    sizes ++ dups
  }
}
