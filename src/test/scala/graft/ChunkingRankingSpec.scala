package graft

import org.apache.spark.sql.functions._

import graft.operators.{Chunking, Ranking, Similarity, TextAnalysis}
import graft.queries.Tables

/** Chunking coverage contract + BM25 ranking sanity. */
class ChunkingRankingSpec extends SparkSpec {

  private def docs = Tables.t(spark, sf001, "documents")

  test("chunk: every token covered, consecutive chunks overlap exactly") {
    val w = 16; val ov = 4; val stride = w - ov
    val out = Chunking.chunk(docs, "doc_id", "text", w, ov)
      .select("id", "chunk_idx", "n_tokens", "tok_from", "tok_to").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val lens = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.groupBy(_._1).foreach { case (id, chunks) =>
      val n = lens(id)
      val sorted = chunks.sortBy(_._2)
      // indices 0..nc-1, first starts at 0, last ends at n
      assert(sorted.map(_._2).sameElements(sorted.indices.map(_.toLong)))
      assert(sorted.head._4 == 0L && sorted.last._5 == n)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // each next chunk starts exactly `stride` later → overlap = ov
          assert(b._4 - a._4 == stride.toLong, s"doc $id: starts $a $b")
        case _ => ()
      }
      // spans match n_tokens and the slice clamps at the doc end
      sorted.foreach { case (_, _, nt, from, to) => assert(to - from == nt) }
      // every chunk but the last is full-width
      sorted.init.foreach { case (_, _, nt, _, _) => assert(nt == w.toLong) }
    }
  }

  test("chunk: text roundtrip — chunk 0 text equals the first W tokens") {
    val w = 16
    val first = Chunking.chunk(docs, "doc_id", "text", w, 4)
      .filter(col("chunk_idx") === 0)
      .select("id", "chunk_text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.select(col("doc_id"), col("text")).collect().foreach { r =>
      val expect = r.getString(1).split(" ", -1).take(w).mkString(" ")
      assert(first(r.getLong(0)) == expect)
    }
  }

  test("bm25: postings sparse, ranks dense from 1, score ordered desc") {
    val out = Ranking.bm25TopK(docs, "doc_id", "text", Seq("join", "data"), 10)
      .collect().map(r => (r.getAs[String]("term"), r.getAs[Long]("rank"),
        r.getAs[Long]("tf"), r.getAs[Double]("score")))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).sameElements(sorted.indices.map(i => (i + 1).toLong)))
      assert(sorted.forall(_._3 > 0L)) // only docs containing the term
      // scores non-increasing in rank
      sorted.map(_._4).sliding(2).foreach {
        case Array(a, b) => assert(a >= b)
        case _ => ()
      }
    }
  }

  test("bm25: higher tf wins at equal dl; longer doc loses at equal tf") {
    import spark.implicits._
    val df = Seq(
      (1L, "x x y y"),      // tf(x)=2, dl=4
      (2L, "x z y y"),      // tf(x)=1, dl=4
      (3L, "x z y y w w")   // tf(x)=1, dl=6
    ).toDF("doc_id", "text")
    val ranked = Ranking.bm25TopK(df, "doc_id", "text", Seq("x"), 10)
      .orderBy("rank").select("id").collect().map(_.getLong(0))
    assert(ranked.sameElements(Seq(1L, 2L, 3L)))
  }

  test("vocab: counts sum to the corpus token total when k covers all tokens") {
    import spark.implicits._
    val df = Seq((1L, "a b a"), (2L, "b c b")).toDF("doc_id", "text")
    val v = TextAnalysis.vocab(df, "text", 100).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v == Map("a" -> 2L, "b" -> 3L, "c" -> 1L))
  }

  test("bigrams: adjacent pairs only; single-word docs contribute none") {
    import spark.implicits._
    val df = Seq((1L, "a b c"), (2L, "solo"), (3L, "a b")).toDF("doc_id", "text")
    val b = TextAnalysis.bigrams(df, "text", 100).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(b == Map("a b" -> 2L, "b c" -> 1L))
  }

  test("ngramTopK: only duplicated n-grams, exact counts, short docs contribute none") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d"), (2L, "a b c d"),    // shared 3-grams "a b c", "b c d" ×2 each
      (3L, "x y"),                          // too short for n=3
      (4L, "p q r s")                       // unique 3-grams
    ).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.ngramTopK(df, "text", 3, 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a b c" -> 2L, "b c d" -> 2L))
  }

  test("pipe_rag_retrieval chunk_id packing guard raises on >64 chunks per doc") {
    // the invariant chunk_idx < 64 is ENFORCED by assert_true in the
    // query (a violation would silently collide chunk ids across docs
    // and the DuckDB mirror computes the same packing, so the oracle is
    // blind to it). Build a doc long enough to chunk past 64 windows
    // and point the query's table loader at it.
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft_rag_guard").toString
    val longDoc = (1 to 2000).map(i => s"w$i").mkString(" ") // ~166 chunks at W=16/S=12
    Seq((1L, longDoc, "s")).toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[Exception] {
      graft.queries.ExtQueries.queries("pipe_rag_retrieval")(spark, dir).count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("chunk_id")), e.toString)
  }

  test("quantizeInt8: max |component| maps to ±127, zero vector to zeros") {
    import spark.implicits._
    val df = Seq((1L, Array(0.5f, -1.0f, 0.0f)), (2L, Array(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(df, "vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(q((1L, 0L)) == 64L)   // round(0.5·127) = round(63.5) half-up
    assert(q((1L, 1L)) == -127L)
    assert(q((1L, 2L)) == 0L)
    assert(Seq(0L, 1L, 2L).forall(d => q((2L, d)) == 0L))
  }
}
