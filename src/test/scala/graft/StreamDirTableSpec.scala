package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.queries.{StreamQueries, Tables}
import graft.streaming.StreamOps

/** The file-source stream twins on tables that are DIRECTORIES of part
  * files — the layout of any table Spark wrote or a harness respooled —
  * rather than the fixture's single parquet files. The streaming file
  * source does not descend into subdirectories, so a twin that wrapped
  * such a table in a further directory streamed 0 rows. On directory
  * tables every twin must still equal its batch twin, and every
  * file-source stream query must return what it returns on the
  * single-file fixture (which `graft.Verify` checks against the oracle). */
class StreamDirTableSpec extends SparkSpec {

  private val tables = Seq("events", "documents", "embeddings")

  /** sf001's events, documents and embeddings, each respooled into a
    * directory of 3 part files. */
  private lazy val dir: String = {
    val d = SparkSpec.tempDir("stream_dir_spec")
    tables.foreach { t =>
      spark.read.parquet(s"$sf001/$t.parquet").repartition(3)
        .write.parquet(s"$d/$t.parquet")
    }
    d.toString
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("respooled tables are multi-file directories with the fixture's rows") {
    tables.foreach { t =>
      val p = java.nio.file.Paths.get(s"$dir/$t.parquet")
      assert(java.nio.file.Files.isDirectory(p))
      val parts = p.toFile.list().count(_.endsWith(".parquet"))
      assert(parts >= 2, s"$t has $parts part files")
      assert(spark.read.parquet(p.toString).count() ===
        spark.read.parquet(s"$sf001/$t.parquet").count())
    }
  }

  test("Tables.t on a directory table starts no job and reads the inferred schema") {
    val d = dir // the respool's own jobs run outside the count
    tables.foreach { t =>
      val (df, jobs) = jobsDuring(Tables.t(spark, d, t))
      assert(jobs === 0, t)
      assert(df.schema === Tables.normalizeTs(
        spark.read.parquet(s"$d/$t.parquet")).schema, t)
    }
  }

  test("resampleOnce on a directory table equals the batch resample") {
    val batch = Tables.t(spark, dir, "events")
      .groupBy(date_trunc("day", col("ts")).as("bucket"))
      .agg(sum(col("value").cast("decimal(20,6)")).cast("double").as("day_sum"),
        count(lit(1)).as("n"))
    val streamed = StreamOps.resampleOnce(spark, dir, "1 day", "dir_resample_sink")
    assert(rows(batch).nonEmpty)
    assert(rows(streamed) === rows(batch))
  }

  test("dedupOnce on a directory table keeps one row per distinct text") {
    val streamed = StreamOps.dedupOnce(spark, dir, Seq("text"), "dir_dedup_sink")
      .select("text").collect().map(_.getString(0)).toSeq
    val batch = Tables.t(spark, dir, "documents").select("text").distinct()
      .collect().map(_.getString(0)).toSeq
    assert(batch.nonEmpty)
    assert(streamed.sorted === batch.sorted)
  }

  test("pqEncodeTrainedOnce on a directory table equals the batch encode") {
    // defaults of pqEncodeTrainedOnce: 4 subspaces of 16 dims, K = 16, 2 iters
    val fx0 = Similarity.fixedPoint(
      spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding")
    val book = Similarity.pqCodebookTrainedShared(fx0, 4, 16, 16, 2).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2)))
    val batch = fx0.collect().toSeq.flatMap { r =>
      val fx = r.getSeq[Long](1)
      (0 until 4).map { m =>
        val best = book.filter(_._1 == m).map { case (_, cid, cvec) =>
          val d2 = cvec.indices.map(i => (fx(m * 16 + i) - cvec(i)) * (fx(m * 16 + i) - cvec(i))).sum
          (d2, cid)
        }.min
        (r.getLong(0), m.toLong, best._2)
      }
    }
    val streamed = StreamOps.pqEncodeTrainedOnce(spark, dir, sinkName = "dir_pq_trained_sink")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(batch.nonEmpty)
    assert(streamed.sorted === batch.sorted)
  }

  test("kMeansAssignOnce on a directory table equals the batch assignment") {
    val batch = Similarity.kMeansAssign(
        spark.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", k = 8, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = StreamOps.kMeansAssignOnce(spark, dir, sinkName = "dir_kmeans_sink")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty)
    assert(streamed === batch)
  }

  test("every file-source stream query returns the single-file fixture's rows") {
    val names = Seq("stream_neardup", "stream_dedup", "stream_vocab",
      "stream_winnow", "stream_decontam", "stream_contam_rate",
      "stream_pii_stats", "stream_cdc_chunks", "stream_clean_lines",
      "stream_oov_tag", "stream_pq_encode", "stream_pq_trained",
      "stream_kmeans", "stream_phrase_hits", "stream_weighted",
      "stream_dsir_score")
    names.foreach { n =>
      val fromFile = rows(StreamQueries.queries(n)(spark, sf001))
      val fromDir = rows(StreamQueries.queries(n)(spark, dir))
      assert(fromFile.nonEmpty, s"$n is empty on the fixture")
      assert(fromDir === fromFile, s"$n differs on directory tables")
    }
  }
}
