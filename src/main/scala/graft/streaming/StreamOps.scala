package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.streaming.state.GraftStateBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

import graft.queries.Tables

/** Structured Streaming twins of the batch time-series operators
  * (SURVEY.md §2.3 marks streaming absent in the reference; resample O6
  * and sessionization extend naturally to `readStream`).
  *
  * Design: the *same* logical transform as the batch path —
  * `window(ts, rule)` aggregation — run under a streaming source with a
  * watermark. Complete/update modes and state cleanup come from Spark's
  * streaming aggregation machinery; at scale, state is partitioned by
  * the window key exactly like the batch shuffle.
  */
object StreamOps {

  /** Held while a replay's conf is set on the caller's session. */
  private val startLock = new Object

  /** The bounded-replay protocol every stream twin runs through: start
    * `queries`, drive them through `waves`, stop them.
    *
    *  1. Start, under one JVM-wide lock. Save the affected keys of the
    *     caller's session and set the harness values:
    *     - `spark.sql.shuffle.partitions` = `parts`. A stateful operator
    *       pins one state-store instance, with checkpoint I/O every batch,
    *       per shuffle partition, so state partitions are sized to the
    *       operator's key space, not the CPU count: "4" where the keys are
    *       few (days, windows, tokens), "8" for the per-user state
    *       machines. (Production sizing: state partitions ∝ distinct keys
    *       × throughput.)
    *     - no-data microbatches off: every replay sequences watermark
    *       advancement with explicit data waves (the two-sentinel pattern
    *       in [[sessionizeSharedRun]]), so watermark-only batches are pure
    *       per-batch state-store overhead.
    *     - checkpoint files written through Spark's
    *       `FileSystemBasedCheckpointFileManager`. The default manager for
    *       a `file:` path goes through Hadoop's `FileContext`, and on a
    *       host without native Hadoop IO every rename forks a `readlink`
    *       (`RawLocalFileSystem.getFileLinkStatus`) and every create and
    *       mkdir a `chmod`: about 1,100 processes per `stream_replay` pass
    *       (SCALING.md, "Per-batch fixed cost of a bounded replay").
    *       `FileSystem.rename` resolves no links. That manager's
    *       no-overwrite rename is check-then-rename, not atomic against a
    *       second writer to the same directory; it is safe here only
    *       because each query checkpoints to its own subdirectory of a
    *       fresh private temp dir. User-chosen checkpoint locations keep
    *       Spark's default manager.
    *     - the RocksDB state-store provider iff the query's logical plan
    *       holds a `TransformWithState` node (that API requires it);
    *       otherwise the provider is the caller's.
    *     A query snapshots its conf at start: inside `start()`, on the
    *     caller's thread, the query clones the session, and the clone
    *     plans every batch and writes every checkpoint. Every key is then
    *     restored, so nothing outlives the start, and concurrent replays
    *     on one session cannot leave each other's values behind.
    *  1. Drive: run each wave (e.g. `() => ms.addData(chunk)`), then
    *     `processAllAvailable()` on every query; with no waves, drain once.
    *  1. Stop every query, and copy each memory sink's rows into a
    *     driver-local frame (a `LocalRelation` of unsafe rows). The
    *     memory sink still does the run's Append/Update/Complete
    *     bookkeeping; only its result leaves the run.
    *  1. Leave nothing behind, in `finally`: close every state store a
    *     query loaded, clear every memory sink and drop its temp view,
    *     and delete the checkpoint dir (a bounded replay has no
    *     durability to preserve). Spark unloads a stopped query's stores
    *     only in its maintenance task, every 60 s, so without the close
    *     each replay's providers, with a 4-thread checkpoint pool each
    *     (and a RocksDB instance for `transformWithState`), pile up for
    *     that long (SCALING.md, "What a bounded replay leaves behind").
    *     The close acts in the JVM that calls `replay`, which holds every
    *     store under a local master; a cluster's executors keep Spark's
    *     maintenance-based unload.
    *
    * Each query comes with the function that configures its writer
    * (format, name, output mode); [[memory]] gives the memory-table one,
    * whose name still tags the query's progress events. Returns the
    * frames of the memory-sink queries, in query order. */
  private[graft] def replay(spark: SparkSession, parts: String,
      waves: Seq[() => Any] = Nil)(
      queries: (DataFrame, DataStreamWriter[Row] => DataStreamWriter[Row])*): Seq[DataFrame] = {
    val ckpt = ckptDir()
    val started = scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]
    try {
      startLock.synchronized {
        val conf = spark.conf
        val providerKey = "spark.sql.streaming.stateStore.providerClass"
        val harness = Seq("spark.sql.shuffle.partitions" -> parts,
          "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
          "spark.sql.streaming.checkpointFileManagerClass" ->
            "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
        val saved = (harness.map(_._1) :+ providerKey).map(k => k -> conf.getOption(k)).toMap
        def restore(k: String): Unit = saved(k).fold(conf.unset(k))(conf.set(k, _))
        try {
          harness.foreach { case (k, v) => conf.set(k, v) }
          queries.zipWithIndex.foreach { case ((df, sink), i) =>
            if (df.queryExecution.logical.exists(_.isInstanceOf[TransformWithState]))
              conf.set(providerKey,
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
            else restore(providerKey)
            started += sink(df.writeStream)
              .option("checkpointLocation", ckpt.resolve(i.toString).toString)
              .start()
          }
        } finally saved.keys.foreach(restore)
      }
      (if (waves.isEmpty) Seq(() => ()) else waves).foreach { wave =>
        wave()
        started.foreach(_.processAllAvailable())
      }
      started.foreach(_.stop())
      // a memory sink reports an empty schema; its rows have the query's
      started.toSeq.zip(queries).flatMap { case (q, (df, _)) =>
        GraftBridge.memorySink(q).map(m => GraftBridge.localFrame(spark, df.schema, m.allData))
      }
    } finally {
      started.foreach { q =>
        q.stop()
        GraftStateBridge.unload(q)
        GraftBridge.memorySink(q).foreach { m =>
          m.clear()
          q.sparkSession.catalog.dropTempView(q.name)
        }
      }
      val walk = Files.walk(ckpt)
      try walk.iterator().asScala.toSeq.reverseIterator.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** A replay sink: the memory table `name`, written in `mode`. */
  private def memory(name: String, mode: OutputMode)
      : DataStreamWriter[Row] => DataStreamWriter[Row] =
    _.format("memory").queryName(name).outputMode(mode)

  /** Replays of `recs` in several microbatches use this many. */
  private val Batches = 3

  /** `recs` as [[Batches]] waves of consecutive chunks added to `ms`, so
    * each chunk is its OWN microbatch: adding every chunk before the start
    * would drain them in one batch, and the cross-batch state carry the
    * twins document would never be exercised (r12 ADVICE). */
  private def chunkWaves[A](ms: MemoryStream[A], recs: Array[A]): Seq[() => Any] =
    recs.grouped(math.max(1, (recs.length + Batches - 1) / Batches)).toSeq
      .map(chunk => () => ms.addData(chunk.toIndexedSeq))

  /** Fresh checkpoint dir, on tmpfs when the host has one. */
  private def ckptDir(): Path = {
    val shm = Paths.get("/dev/shm")
    val base = if (Files.isWritable(shm)) shm
               else Paths.get(System.getProperty("java.io.tmpdir"))
    Files.createTempDirectory(base, "graft_ckpt")
  }

  private val linkDirs =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]

  /** `dir`'s `table` as a parquet file-source stream. FileStreamSource
    * wants a directory, and does not descend into subdirectories. A table
    * that is already a directory of part files streams as it is; a single
    * read-only parquet file is exposed through a temp-dir symlink. The
    * symlink dir is CACHED per (input dir, table) — repeated
    * bench/correctness invocations reuse one symlink dir instead of
    * leaking a fresh /tmp entry per call — and removed by a shutdown hook
    * at JVM exit. */
  private def fileStream(spark: SparkSession, dir: String, table: String): DataFrame = {
    val src = Paths.get(s"$dir/$table.parquet")
    val path = if (Files.isDirectory(src)) src.toString
      else linkDirs.getOrElseUpdate((dir, table), {
        val tmp = Files.createTempDirectory(s"stream_$table")
        Files.createSymbolicLink(tmp.resolve(s"$table.parquet"), src)
        Tables.deleteOnExit(tmp)
        tmp.toString
      })
    spark.readStream.schema(Tables.schema(spark, src.toString)).parquet(path)
  }

  /** Streaming resample: tumbling `rule` buckets of `value` sums/counts.
    * Runs the stream to completion over a bounded file source (the test
    * harness pattern) and returns the final result table. */
  def resampleOnce(spark: SparkSession, dir: String, rule: String,
      sinkName: String = "stream_resample_sink"): DataFrame = {
    // normalizeTs handles whichever physical ts encoding this round's
    // generator shipped (raw nanos long / TIMESTAMP_NTZ / timestamp) —
    // a pure projection, so it composes with the streaming source.
    val src = graft.queries.Tables.normalizeTs(
      fileStream(spark, dir, "events"))
    val agg = src
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), rule))
      .agg(sum(col("value").cast(DecimalType(20, 6))).cast("double").as("day_sum"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("bucket"), col("day_sum"), col("n"))
    replay(spark, "4")(agg -> memory(sinkName, OutputMode.Complete())).head
  }

  /** Streaming resample over a [[MemoryStream]] source: identical
    * watermark + tumbling-window-aggregation plan to [[resampleOnce]],
    * without the file-source machinery (directory listing, symlinks,
    * per-file schema checks) — the bench-path variant. MemoryStream is a
    * harness source: feeding it requires the bounded input on the driver,
    * which is exactly the bounded-replay test pattern; production uses a
    * real source with the same downstream plan. */
  def resampleOnceMem(spark: SparkSession, dir: String, rule: String,
      sinkName: String = "stream_resample_mem_sink",
      slide: Option[String] = None): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val recs = graft.queries.Tables.t(spark, dir, "events")
      .select(unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[EventRec].collect()
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventRec]
    ms.addData(recs.toIndexedSeq)
    val agg = ms.toDF()
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), rule, slide.getOrElse(rule)))
      .agg(sum(col("value").cast(DecimalType(20, 6))).cast("double").as("day_sum"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("bucket"), col("day_sum"), col("n"))
    replay(spark, "4")(agg -> memory(sinkName, OutputMode.Complete())).head
  }

  /** Streaming exact dedup: `dropDuplicates` on the content column under
    * a watermark horizon (state = one entry per distinct key) — the
    * streaming twin of Dedup.exact. Runs the bounded source to
    * completion and returns the deduped table. */
  def dedupOnce(spark: SparkSession, dir: String, keyCols: Seq[String],
      sinkName: String = "stream_dedup_sink"): DataFrame = {
    val src = fileStream(spark, dir, "documents")
    replay(spark, "4")(src.dropDuplicates(keyCols) -> memory(sinkName, OutputMode.Append())).head
  }

  /** Streaming near-duplicate detection against an indexed historical
    * corpus — the online-ingestion twin of
    * [[graft.operators.Dedup.minhashLshPairs]], the check every live
    * crawl runs before admitting a document: the HISTORICAL corpus
    * (ids with id % histMod ≠ 0) is indexed ONCE as a static exploded
    * band table plus per-doc shingle sets; each ARRIVING doc
    * (id % histMod = 0) computes signature+bands in the stream
    * projection, equi-joins the static band index (stream-static join —
    * ZERO join state), verifies exact Jaccard at `tau`, and APPENDs its
    * matched (id, match_id, j) pairs after a streaming `dropDuplicates`
    * on the pair key (multi-band collisions repeat candidates; dedup
    * runs AFTER the verify so state holds only VERIFIED pairs — the
    * near-dup hit list, orders of magnitude below the corpus; a
    * production deployment bounds it further with a watermark horizon).
    * At 100 TB the band index is the thing that scales: it is a static
    * table joined by band-value equality, so the stream side never
    * shuffles more than its collision candidates. */
  def nearDupOnce(spark: SparkSession, dir: String, histMod: Long,
      tau: Double, sinkName: String = "stream_neardup_sink"): DataFrame = {
    import graft.functions.HashExpressions.{word_hashes, shingle_hashes, minhash_sig}
    import graft.functions.MirrorHash.bands
    def shingled(df: DataFrame): DataFrame =
      df.select(col("doc_id").as("id"),
          array_distinct(shingle_hashes(word_hashes(col("text")))).as("ds"))
        .withColumn("nd", size(col("ds")).cast("long"))
        .withColumn("bands", bands(minhash_sig(col("ds"))))
    // cached (tracked, see graft.core.Caches): the static side of a
    // stream-static join is re-planned EVERY microbatch — the cache both
    // avoids re-shingling the history per batch and keeps measured stats
    // for the per-batch join strategy
    val hist = graft.core.Caches.cached(
      shingled(graft.queries.Tables.t(spark, dir, "documents")
        .filter(col("doc_id") % histMod =!= 0)))
    val histIdx = hist.select(col("id").as("match_id"),
      col("ds").as("dsh"), col("nd").as("nh"),
      posexplode(col("bands")).as(Seq("bi", "bv")))
    val src = shingled(
      fileStream(spark, dir, "documents")
        .filter(col("doc_id") % histMod === 0))
      .select(col("id"), col("ds"), col("nd"),
        posexplode(col("bands")).as(Seq("bi", "bv")))
    val verified = src.join(histIdx, Seq("bi", "bv"))
      .withColumn("common",
        size(array_intersect(col("ds"), col("dsh"))).cast("long"))
      .withColumn("j", col("common") / (col("nd") + col("nh") - col("common")))
      .filter(col("j") >= tau)
      .select(col("id"), col("match_id"), col("j"))
      .dropDuplicates("id", "match_id")
    val out = replay(spark, "4")(verified -> memory(sinkName, OutputMode.Append())).head
    hist.unpersist()
    out
  }

  /** Streaming OHLC: the finance resample (open/high/low/close per
    * tumbling day) as a watermarked streaming aggregate — min_by/max_by
    * are ordinary declarative aggregates, so the exact batch query runs
    * unchanged under the engine's incremental state; oracle == the batch
    * OHLC. */
  def ohlcOnce(spark: SparkSession, dir: String,
      sinkName: String = "stream_ohlc_sink"): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val recs = graft.queries.Tables.t(spark, dir, "events")
      .select(unix_micros(col("ts")).as("ts_us"), col("event_id"), col("value"))
      .as[EventIdRec].collect()
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventIdRec]
    ms.addData(recs.toIndexedSeq)
    val ord = struct(col("ts"), col("event_id"))
    val agg = ms.toDF()
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(min_by(col("value"), ord).as("open"), max(col("value")).as("high"),
        min(col("value")).as("low"), max_by(col("value"), ord).as("close"))
      .select(unix_micros(col("w.start")).as("bucket_us"),
        col("open"), col("high"), col("low"), col("close"))
    replay(spark, "4")(agg -> memory(sinkName, OutputMode.Complete())).head
  }

  /** Streaming decontamination: the online-ingestion twin of
    * `Decontaminate.contaminated`. Docs stream from the parquet source;
    * each micro-batch computes per-doc distinct 8-gram hashes in the
    * codegen'd projection, explodes, and probes the STATIC eval gram set
    * with a stream-static broadcast join (zero streaming join state —
    * the benchmark is a fixed dimension, exactly the stream-static
    * contract). The per-doc hit count is a COMPLETE-mode aggregate whose
    * state is one entry per CONTAMINATED doc — the rare set, not the
    * corpus — so state stays bounded at ingestion scale. Oracle: the
    * batch `text_decontam` SQL verbatim. */
  def decontamOnce(spark: SparkSession, dir: String, evalMod: Long, n: Int,
      sinkName: String = "stream_decontam_sink"): DataFrame = {
    // gram convention shared with the batch operator — one code path, so
    // the streaming twin can never drift from the deconSql oracle
    def grams(df: DataFrame): DataFrame =
      graft.operators.Decontaminate.explodedGrams(df, "doc_id", "text", n)
    val ev = grams(graft.queries.Tables.t(spark, dir, "documents")
        .filter(col("doc_id") % evalMod === 0))
      .select(col("g")).distinct()
    val src = fileStream(spark, dir, "documents")
      .filter(col("doc_id") % evalMod =!= 0)
    val agg = grams(src).join(broadcast(ev), "g")
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
    replay(spark, "4")(agg -> memory(sinkName, OutputMode.Complete())).head
  }

  /** Streaming contamination-RATE twin — the "new benchmark arrives"
    * orientation of `Decontaminate.contaminationRate`: eval examples
    * stream in and each reports the fraction of its distinct n-grams
    * already present in the (static) training corpus. The corpus gram
    * inventory is the STATIC side of a stream-static left join (the
    * static relation is re-read per micro-batch here; a production
    * deployment materializes it once as a bucketed gram index), and the
    * per-eval-doc (n_grams, n_hit) pair falls out of ONE complete-mode
    * aggregate over the joined gram rows — n_grams counts all of the
    * doc's gram rows, n_hit counts the ones the static side matched, so
    * zero-hit docs never drop out and no second join is needed. State is
    * bounded by |eval docs|. Oracle: the batch `text_contam_rate` SQL
    * verbatim. */
  def contamRateOnce(spark: SparkSession, dir: String, evalMod: Long, n: Int,
      sinkName: String = "stream_contam_rate_sink"): DataFrame = {
    def grams(df: DataFrame): DataFrame =
      graft.operators.Decontaminate.explodedGrams(df, "doc_id", "text", n)
    val tr = grams(graft.queries.Tables.t(spark, dir, "documents")
        .filter(col("doc_id") % evalMod =!= 0))
      .select(col("g")).distinct().withColumn("hit", lit(1L))
    val src = fileStream(spark, dir, "documents")
      .filter(col("doc_id") % evalMod === 0)
    val agg = grams(src).join(tr, Seq("g"), "left")
      .groupBy("id").agg(
        count(lit(1)).as("n_grams"),
        count(col("hit")).as("n_hit"))
      .withColumn("rate", col("n_hit") / col("n_grams"))
    replay(spark, "4")(agg -> memory(sinkName, OutputMode.Complete())).head
  }

  /** Streaming content-defined chunking — `Chunking.cdcChunks` over a
    * live ingest: boundaries are a pure function of local content, so
    * the op is STATELESS under streaming (append mode, zero state, zero
    * shuffle — the projection+Generate plan unchanged over a file
    * source). The shape of a chunk-index builder running as documents
    * arrive; CDC boundaries mean late re-ingestion of an edited doc
    * re-keys only the edited chunk. Oracle: the batch `doc_cdc_chunks`
    * SQL verbatim. */
  def cdcChunksOnce(spark: SparkSession, dir: String, n: Int, modK: Int,
      sinkName: String = "stream_cdc_chunks_sink"): DataFrame = {
    val src = fileStream(spark, dir, "documents")
    val out = graft.operators.Chunking.cdcChunks(src, "doc_id", "text", n, modK)
    replay(spark, "4")(out -> memory(sinkName, OutputMode.Append())).head
  }

  /** Streaming PII exposure audit — `TextAnalysis.piiStats` over a live
    * ingest: every detector evaluates in the stateless per-row
    * projection, the (source, pattern) aggregate runs COMPLETE-mode
    * with state bounded by |sources|·|patterns| — the privacy dashboard
    * a compliance team watches during ingestion. Oracle: the batch
    * `text_pii_stats` SQL verbatim. */
  def piiStatsOnce(spark: SparkSession, dir: String,
      patterns: Seq[(String, String)],
      sinkName: String = "stream_pii_stats_sink"): DataFrame = {
    val src = fileStream(spark, dir, "documents")
    val agg = graft.operators.TextAnalysis.piiStats(src, "source", "text", patterns)
    replay(spark, "4")(agg -> memory(sinkName, OutputMode.Complete())).head
  }

  /** Streaming C4 line cleaning — the online-ingestion twin of
    * `TextAnalysis.cleanLines ∘ segmentLines`. Both are pure per-row
    * projections (no state, no watermark, no shuffle), so the streaming
    * plan IS the batch code path over a file source in APPEND mode —
    * the shape of a cleaning stage running as documents arrive; shares
    * the `text_clean_lines` oracle verbatim (one code path, no drift). */
  def cleanLinesOnce(spark: SparkSession, dir: String, wordsPerLine: Int,
      minWords: Int, minLines: Int, badWords: Seq[String],
      sinkName: String = "stream_clean_lines_sink"): DataFrame = {
    val src = fileStream(spark, dir, "documents")
    val out = graft.operators.TextAnalysis.cleanLines(
      graft.operators.TextAnalysis.segmentLines(src, "doc_id", "text", wordsPerLine),
      "id", "text", minWordsPerLine = minWords, minLines = minLines,
      badWords = badWords)
    replay(spark, "4")(out -> memory(sinkName, OutputMode.Append())).head
  }

  /** Streaming winnowed-fingerprint extraction — live fingerprint
    * indexing at ingestion (the feed side of a plagiarism/near-dup
    * watch): the codegen'd O(grams) WinnowArray selection runs as a
    * stateless projection over the arriving documents — append mode,
    * zero state, zero shuffle — so the twin emits exactly the batch
    * [[graft.operators.TextAnalysis.winnow]] rows and shares the
    * `text_winnowing` oracle verbatim. */
  def winnowOnce(spark: SparkSession, dir: String, w: Int,
      sinkName: String = "stream_winnow_sink"): DataFrame = {
    val src = fileStream(spark, dir, "documents")
    val out = graft.operators.TextAnalysis.winnow(src, "doc_id", "text", w)
    replay(spark, "4")(out -> memory(sinkName, OutputMode.Append())).head
  }

  /** Streaming importance/quality scoring — model APPLICATION at
    * ingestion time: a fitted hashed-linear table (the batch artifact of
    * `Mixture.importanceTable`, or any trained quality classifier) ships
    * as a plan literal, and every arriving document is scored in one
    * stateless projection fold — append mode, zero state, zero shuffle,
    * the production shape for tagging a live ingest with quality
    * weights. */
  def importanceScoreOnce(spark: SparkSession, dir: String,
      table: Seq[Long], buckets: Int,
      sinkName: String = "stream_dsir_score_sink"): DataFrame = {
    val src = fileStream(spark, dir, "documents")
    val out = graft.operators.Mixture.importanceScore(
      src, "doc_id", "text", table, buckets)
    replay(spark, "4")(out -> memory(sinkName, OutputMode.Append())).head
  }

  /** Streaming PQ encoding — index MAINTENANCE at ingestion time: the
    * product-quantization codebook is fitted batch-side (the model
    * artifact, [[graft.operators.Similarity.pqCodebook]]'s seeded
    * subvector table) and ships as plan literals; every arriving vector
    * is encoded to its M nearest-codeword ids in one stateless
    * projection — per subspace an `array_min` over (d2, cid) structs,
    * so the (exact-BIGINT distance, lower-cid) tie rule is the batch
    * rule verbatim. Append mode, zero state, zero shuffle: the
    * production shape for keeping a PQ index current as a corpus
    * ingests, and the twin emits exactly the batch code rows (shares
    * the codes-CTE oracle). */
  def pqEncodeOnce(spark: SparkSession, dir: String, subspaces: Int = 4,
      codebookK: Int = 16, dims: Int = 64,
      sinkName: String = "stream_pq_sink"): DataFrame = {
    require(dims % subspaces == 0,
      s"dims ($dims) must divide evenly into subspaces ($subspaces)")
    val sub = dims / subspaces
    val batch = graft.queries.Tables.t(spark, dir, "embeddings")
    val cbRows = graft.operators.Similarity
      .pqCodebook(graft.operators.Similarity.fixedPoint(
        batch, "vec_id", "embedding"), subspaces, codebookK, sub)
      .collect() // M·K rows — the bounded model artifact, like the DSIR table
    pqEncodeStream(spark, dir, cbRows, subspaces, sub, sinkName)
  }

  /** TRAINED-codebook twin of [[pqEncodeOnce]] (r15 verdict item 7):
    * the streaming index and the batch index share ONE codebook — the
    * Lloyd-trained artifact
    * [[graft.operators.Similarity.pqCodebookTrained]] fits batch-side
    * (the same `iters`-round book [[graft.operators.Similarity
    * .pqTopKTrained]] searches with) and ships as plan literals into
    * the identical stateless encode projection. Without this, a
    * retrained batch book and a seeded streaming book would drift: the
    * same vector could encode differently depending on which path
    * ingested it. Rows == the trained batch codes; oracle = the
    * trainedCbCtes Lloyd chain, encode tail verbatim. */
  def pqEncodeTrainedOnce(spark: SparkSession, dir: String,
      subspaces: Int = 4, codebookK: Int = 16, dims: Int = 64,
      iters: Int = 2,
      sinkName: String = "stream_pq_trained_sink"): DataFrame = {
    require(dims % subspaces == 0,
      s"dims ($dims) must divide evenly into subspaces ($subspaces)")
    val sub = dims / subspaces
    val batch = graft.queries.Tables.t(spark, dir, "embeddings")
    // Shared trained-book memo (Similarity.pqCodebookTrainedShared): the
    // streaming encoder loads the SAME collected artifact the batch
    // searchers train — one Lloyd run per (source, params) per session
    val cbRows = graft.operators.Similarity
      .pqCodebookTrainedShared(graft.operators.Similarity.fixedPoint(
        batch, "vec_id", "embedding"), subspaces, codebookK, sub, iters)
      .collect() // ≤ M·K rows — the same bounded-artifact convention
    pqEncodeStream(spark, dir, cbRows, subspaces, sub, sinkName)
  }

  /** Shared encode tail of the PQ maintenance twins: `cbRows` (m, cid,
    * cvec) — seeded or trained — ships as plan literals; every arriving
    * vector encodes to its per-subspace arg-min codeword (exact-BIGINT
    * d2, lower-cid ties via the (d2, cid) struct array_min) in one
    * stateless append-mode projection. */
  private def pqEncodeStream(spark: SparkSession, dir: String,
      cbRows: Array[org.apache.spark.sql.Row], subspaces: Int, sub: Int,
      sinkName: String): DataFrame = {
    val byM = cbRows.groupBy(_.getInt(0))
    require((0 until subspaces).forall(byM.contains),
      "codebook is missing a subspace's codewords (empty embeddings " +
      "input?) — the plan-literal encoder needs >= 1 codeword per m")
    val src = fileStream(spark, dir, "embeddings")
    val fx = graft.operators.Similarity.fixedPoint(src, "vec_id", "embedding")
    val codeStructs = (0 until subspaces).map { m =>
      val cands = byM(m).sortBy(_.getLong(1)).map { row =>
        val cid = row.getLong(1)
        val cvec = row.getSeq[Long](2)
        val d2 = aggregate(
          zip_with(expr(s"slice(fx, ${m * sub + 1}, $sub)"),
            array(cvec.map(lit): _*), (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, v) => acc + v)
        struct(d2.as("d2"), lit(cid).as("cid"))
      }
      struct(lit(m.toLong).as("m"),
        array_min(array(cands.toIndexedSeq: _*)).getField("cid").as("cid"))
    }
    val out = fx.select(col("id"),
        explode(array(codeStructs.toIndexedSeq: _*)).as("p"))
      .select(col("id"), col("p.m").as("m"), col("p.cid").as("cid"))
    replay(spark, "4")(out -> memory(sinkName, OutputMode.Append())).head
  }

  /** Streaming k-means assignment — online cluster labeling at
    * ingestion time: the centroids are Lloyd-fitted batch-side
    * ([[graft.operators.Similarity.kMeansAssign]]'s training, the
    * bounded ≤k-row model artifact — the [[pqEncodeOnce]] pattern) and
    * ship as plan literals; every arriving vector labels itself with
    * its nearest trained centroid in ONE stateless projection
    * (exact-BIGINT distances via an array_min over (d2, cid) structs,
    * lower-cid ties) — append mode, zero state, zero shuffle. Rows ==
    * the batch labeling, so the `sim_kmeans` oracle applies verbatim.
    *
    * Practical k bound (r15 ADVICE): each centroid inlines one
    * zip_with/aggregate-over-`dims` expression as plan literals, so the
    * projection grows k·dims terms — fine through k ≈ 64; past that,
    * codegen/analysis limits approach and the right shape is a
    * broadcast equi-join against the centroid FRAME (the batch
    * [[graft.operators.Similarity.kMeansAssign]] path) instead of plan
    * literals. Enforced as a hard require, like the empty-book case. */
  def kMeansAssignOnce(spark: SparkSession, dir: String, k: Int = 8,
      iters: Int = 2, dims: Int = 64,
      sinkName: String = "stream_kmeans_sink"): DataFrame = {
    require(k >= 1 && k <= 64,
      s"k must be in [1, 64] for the plan-literal encoder (got $k); " +
      "beyond 64 use the batch kMeansAssign's broadcast-join shape")
    val batch = graft.queries.Tables.t(spark, dir, "embeddings")
    val cents = graft.operators.Similarity
      .pqCodebookTrainedShared(graft.operators.Similarity.fixedPoint(
        batch, "vec_id", "embedding"), 1, k, dims, iters)
      .collect() // <= k rows — the bounded model artifact, memo-shared
                 // with the batch kMeansAssign family's k=8 book
    require(cents.nonEmpty,
      "trained centroid book is empty (empty embeddings input?) — " +
      "an array() of zero candidate structs would fail at plan time")
    val src = fileStream(spark, dir, "embeddings")
    val fx = graft.operators.Similarity.fixedPoint(src, "vec_id", "embedding")
    val cands = cents.sortBy(_.getLong(1)).map { row =>
      val cid = row.getLong(1)
      val cvec = row.getSeq[Long](2)
      val d2 = aggregate(
        zip_with(col("fx"), array(cvec.map(lit): _*),
          (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v)
      struct(d2.as("d2"), lit(cid).as("cid"))
    }
    val out = fx
      .withColumn("__best", array_min(array(cands.toIndexedSeq: _*)))
      .select(col("id"), col("__best.cid").as("cid"),
        col("__best.d2").as("d2"))
    replay(spark, "4")(out -> memory(sinkName, OutputMode.Append())).head
  }

  /** Streaming OOV tagging — tokenizer-coverage monitoring at ingestion
    * time: the corpus top-k vocabulary is fitted batch-side (the model
    * artifact, same (count DESC, token) rule as
    * [[graft.operators.TextAnalysis.vocab]]) and ships as a plan
    * literal; every arriving document is tagged with its token and
    * out-of-vocabulary counts in ONE stateless projection (a `filter`
    * HOF against the literal array) — append mode, zero state, zero
    * shuffle. The live feed of the batch [[graft.operators.TextAnalysis.oovRate]]:
    * aggregating the emitted counts per source reproduces it exactly. */
  def oovTagOnce(spark: SparkSession, dir: String, k: Int,
      sinkName: String = "stream_oov_sink"): DataFrame = {
    val batch = graft.queries.Tables.t(spark, dir, "documents")
    val vocab = graft.operators.TextAnalysis.vocab(batch, "text", k)
      .collect().map(_.getString(0)) // k strings — the bounded artifact
    val src = fileStream(spark, dir, "documents")
    val ws = split(col("text"), " ")
    val vlit = array(vocab.toIndexedSeq.map(lit): _*)
    val out = src.select(col("doc_id").as("id"),
      size(ws).cast("long").as("n_tokens"),
      size(filter(ws, w => !array_contains(vlit, w))).cast("long").as("n_oov"))
    replay(spark, "4")(out -> memory(sinkName, OutputMode.Append())).head
  }

  /** The funnel advance rule, shared by BOTH streaming twins (they
    * share one oracle — a drift between their folds would silently
    * break that contract): fold `events` = (ts, event_id, type) rows in
    * (ts, event_id) order over the front (t1, t2, t3), each stage
    * advancing only strictly after the previous one. */
  private def advanceFunnel(front: (Long, Long, Long),
      events: Seq[(Long, Long, String)]): (Long, Long, Long) = {
    var (t1, t2, t3) = front
    events.sortBy(e => (e._1, e._2)).foreach { case (ts, _, tpe) =>
      if (tpe == "view" && t1 < 0) t1 = ts
      else if (tpe == "click" && t1 >= 0 && ts > t1 && t2 < 0) t2 = ts
      else if (tpe == "purchase" && t2 >= 0 && ts > t2 && t3 < 0) t3 = ts
    }
    (t1, t2, t3)
  }

  /** Streaming funnel attribution — the STATEFUL streaming shape for
    * multi-stage conversion tracking: per-user state is the funnel
    * front (t1, t2, t3 = earliest view / click-after-view /
    * purchase-after-click, −1 = not reached), advanced by a
    * `mapGroupsWithState` state machine as events arrive. Events are
    * folded in (ts, event_id) order within each batch; state is THREE
    * longs per user — bounded however long the stream runs (a TTL/
    * timeout would retire converted or idle users in production, the
    * sessionize event-time-expiry pattern). Update-mode memory sink;
    * on a bounded one-batch replay the final per-user rows equal the
    * batch `rel_funnel`, so the twin shares its oracle verbatim. */
  def funnelOnce(spark: SparkSession, dir: String,
      sinkName: String = "stream_funnel_sink"): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val recs = graft.queries.Tables.t(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"), col("event_id"))
      .as[(Long, Long, String, Long)].collect()
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, Long)]
    ms.addData(recs.toIndexedSeq)
    val src = ms.toDF().toDF("user_id", "ts_us", "event_type", "event_id")
    val out = src.as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Long)](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        case (user, events, state) =>
          val next = advanceFunnel(
            if (state.exists) state.get else (-1L, -1L, -1L),
            events.map(e => (e._2, e._4, e._3)).toSeq)
          state.update(next)
          (user, next._1, next._2, next._3)
      }
      .toDF("user_id", "t1_us", "t2_us", "t3_us")
      .filter(col("t1_us") >= 0)
    replay(spark, "8")(out -> memory(sinkName, OutputMode.Update())).head
  }

  /** Per-user funnel front as a Spark 4 `transformWithState`
    * StatefulProcessor — the modern arbitrary-state API twin of
    * [[funnelOnce]]: a named ValueState holds (t1, t2, t3) per user
    * (typed, TTL-configurable, RocksDB-backed — the production state
    * store), the handler folds each batch's events in (ts, event_id)
    * order and emits the updated front. Same state machine, same
    * bounded-replay contract, same shared `rel_funnel` oracle. */
  private class FunnelProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, String, Long), (Long, Long, Long, Long)] {
    @transient private var front:
        org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      front = getHandle.getValueState[(Long, Long, Long)]("front",
        org.apache.spark.sql.Encoders.product[(Long, Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Long, String, Long)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Long, Long)] = {
      val next = advanceFunnel(
        if (front.exists()) front.get() else (-1L, -1L, -1L),
        rows.map(e => (e._2, e._4, e._3)).toSeq)
      front.update(next)
      Iterator.single((user, next._1, next._2, next._3))
    }
  }

  /** Per-user FIRST-WEEK state for streaming cohort attribution: a
    * `transformWithState` processor whose ValueState is one long (the
    * user's earliest event week — min-folded, so batch processing order
    * is irrelevant); each batch emits the user's distinct (cohort_week,
    * week_offset) activity cells. One long of state per user. */
  private class CohortProcessor(weekUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), (Long, Long, Long)] {
    @transient private var firstWk:
        org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      firstWk = getHandle.getValueState[Long]("firstWk",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Long)] = {
      // floorDiv, not /: truncation would disagree with the batch
      // (and DuckDB) floor semantics on pre-epoch timestamps
      val wks = rows.map(r => Math.floorDiv(r._2, weekUs)).toSeq
      val first = math.min(
        if (firstWk.exists()) firstWk.get() else Long.MaxValue, wks.min)
      firstWk.update(first)
      wks.map(w => (first, w - first, user)).distinct.iterator
    }
  }

  /** Streaming cohort matrix on the `transformWithState` path (RocksDB
    * provider): per-user first-week state feeds per-batch activity-cell
    * emissions; the bounded-replay final table aggregates to EXACTLY
    * the batch `rel_cohort`, whose oracle it shares. (Cross-batch
    * out-of-order arrivals could mislabel a cohort until the earlier
    * event arrives — the bounded-replay disclosure shared with the
    * funnel twins; production would gate on the watermark.) */
  def cohortOnceTws(spark: SparkSession, dir: String,
      sinkName: String = "stream_cohort_sink"): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val weekUs = 7L * 24 * 3600 * 1000000L
    val recs = graft.queries.Tables.t(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long)].collect()
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    ms.addData(recs.toIndexedSeq)
    val out = ms.toDS()
      .groupByKey(_._1)
      .transformWithState(new CohortProcessor(weekUs),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
      .toDF("cohort_week", "week_offset", "user_id")
    replay(spark, "8")(out -> memory(sinkName, OutputMode.Update())).head
      .distinct()
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** [[funnelOnce]] on the `transformWithState` path: RocksDB state
    * store provider (the API requires it — and it is the provider a
    * production deployment runs for state larger than executor heap),
    * Update mode, bounded replay. */
  def funnelOnceTws(spark: SparkSession, dir: String,
      sinkName: String = "stream_funnel_tws_sink"): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val recs = graft.queries.Tables.t(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"), col("event_id"))
      .as[(Long, Long, String, Long)].collect()
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, Long)]
    ms.addData(recs.toIndexedSeq)
    val out = ms.toDS()
      .groupByKey(_._1)
      .transformWithState(new FunnelProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
      .toDF("user_id", "t1_us", "t2_us", "t3_us")
      .filter(col("t1_us") >= 0)
    replay(spark, "8")(out -> memory(sinkName, OutputMode.Update())).head
  }

  /** Per-domain first-come quota state: ONE long per domain (docs kept
    * so far). A doc is admitted iff the domain's kept-count is still
    * below the cap — the ONLINE form of domain balancing (batch:
    * [[graft.operators.Sampling.capPerKey]]): a crawl frontier admits
    * pages as they arrive and must stop a template-heavy domain the
    * moment its quota fills, without ever seeing the corpus. Admission
    * order is doc_id (rows sort in-handler, replay feeds batches in
    * doc_id order), so the kept set is exactly the batch
    * first-cap-by-id rule and the oracle is one window. Emissions are
    * append-only: each kept doc emits exactly once, with its admission
    * rank — no cross-batch reconciliation needed. */
  private class DomainCapProcessor(cap: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long), (Long, String, Long)] {
    @transient private var kept:
        org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      kept = getHandle.getValueState[Long]("kept",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(domain: String,
        rows: Iterator[(String, Long)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, String, Long)] = {
      var n = if (kept.exists()) kept.get() else 0L
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
      // in-batch arrival order is the shuffle's, not the source's —
      // sort by doc_id so admission is deterministic under re-planning
      rows.map(_._2).toArray.sorted.foreach { id =>
        if (n < cap) { n += 1; out += ((id, domain, n)) }
      }
      kept.update(n)
      out.iterator
    }
  }

  /** Per-key transition state: the key's LAST event type (one string) —
    * the online form of [[graft.operators.Warehouse.transitions]]: each
    * arriving event emits the (previous → current) step and becomes the
    * new state, so a batch boundary between two adjacent events loses
    * nothing. In-batch rows sort by (ts, id) — the batch lead() order —
    * and the replay feeds batches in global (ts, id) order, so the
    * emitted step multiset equals the batch window's exactly. */
  private class TransitionsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, String), (String, String)] {
    @transient private var last:
        org.apache.spark.sql.streaming.ValueState[String] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      last = getHandle.getValueState[String]("last",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, String)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(String, String)] = {
      var prev = if (last.exists()) last.get() else null
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      rows.toSeq.sortBy(e => (e._2, e._3)).foreach { case (_, _, _, tpe) =>
        if (prev != null) out += ((prev, tpe))
        prev = tpe
      }
      if (prev != null) last.update(prev)
      out.iterator
    }
  }

  /** Streaming transition matrix: per-key last-event ValueState emits
    * steps online; the sink aggregate (counts + per-from totals + one
    * division) matches the batch tail, so the bounded (ts, id)-ordered
    * replay shares rel_transitions' oracle verbatim. */
  def transitionsOnce(spark: SparkSession, dir: String,
      sinkName: String = "stream_transitions_sink"): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val recs = graft.queries.Tables.t(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
      .orderBy("ts_us", "event_id")
      .as[(Long, Long, Long, String)].collect()
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long, String)]
    val out = ms.toDS()
      .groupByKey(_._1)
      .transformWithState(new TransitionsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
      .toDF("from_type", "to_type")
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("from_type"))
    replay(spark, "8", chunkWaves(ms, recs))(out -> memory(sinkName, OutputMode.Append())).head
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      .withColumn("n_from", sum(col("n")).over(wf))
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
        (col("n").cast("double") / col("n_from").cast("double")).as("p"))
  }

  /** FILE-SOURCE twin of [[transitionsOnce]] — the last-event
    * ValueState machine on the production no-collect ingest path
    * ([[scd2OnceFile]]'s contract): three time-range waves from one
    * min/max broadcast, mtime-pinned files, `maxFilesPerTrigger=1`
    * microbatches. Ts-range waves keep each key's global (ts, id)
    * order across the batch boundaries, so the emitted step multiset
    * equals the batch lead() window's; sink aggregate and oracle are
    * [[transitionsOnce]]'s verbatim. */
  def transitionsOnceFile(spark: SparkSession, dir: String,
      sinkName: String = "stream_transitions_file_sink"): DataFrame = {
    import spark.implicits._
    val feed0 = graft.queries.Tables.t(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
    val out = rangeWaves(feed0, "ts_us", "stream_trans_src")
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new TransitionsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
      .toDF("from_type", "to_type")
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("from_type"))
    replay(spark, "8")(out -> memory(sinkName, OutputMode.Append())).head
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      .withColumn("n_from", sum(col("n")).over(wf))
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
        (col("n").cast("double") / col("n_from").cast("double")).as("p"))
  }

  /** Per-key MERGE/CDC state: the current row value, or no state when
    * the key is deleted — the ONLINE form of the batch
    * [[graft.operators.Warehouse.mergeUpsert]] (materialized-view
    * maintenance: a CDC feed applied to a keyed snapshot as it
    * arrives). Events fold in (seq, op, v) order — the SAME
    * lexicographic total order the batch max_by collapses by, so the
    * post-fold state equals the batch resolution whatever the batch
    * boundaries. Each handled batch emits ONE row per touched key
    * (its latest seq + resulting value + alive flag); the sink
    * reconstruction keeps each key's max-seq emission, alive only —
    * per-key seq is monotone across replay batches because the replay
    * feeds events in global (seq, k) order. */
  private class MergeProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, String, Long), (Long, Long, Long, Int)] {
    @transient private var cur:
        org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      cur = getHandle.getValueState[Long]("cur",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, String, Long)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Long, Int)] = {
      var alive = cur.exists()
      var v = if (alive) cur.get() else 0L
      var lastSeq = Long.MinValue
      rows.toSeq.sortBy(e => (e._2, e._3, e._4)).foreach { case (_, seq, op, sv) =>
        lastSeq = seq
        if (op == "delete") { alive = false; v = 0L }
        else { alive = true; v = sv }
      }
      if (alive) cur.update(v) else cur.clear()
      Iterator.single((key, lastSeq, v, if (alive) 1 else 0))
    }
  }

  /** Streaming MERGE apply: the snapshot streams first as seq-0
    * upserts, then the change batch, in global (seq, key) order across
    * THREE replay batches (a churned key's upsert and its later delete
    * can straddle a boundary — state must carry). RocksDB provider,
    * Update mode; final table = per-key max-seq emission, alive rows
    * only — equals the batch merge projected to (k, v). */
  /** The CDC feed both merge twins replay: a seq-0 snapshot wave, then
    * change waves 1 and 2 (updates, deletes, inserts, a re-delete and a
    * ghost delete — every MERGE edge case). One frame, (k, seq, op, v). */
  private def mergeFeed(spark: SparkSession, dir: String): DataFrame = {
    val ord = graft.queries.Tables.t(spark, dir, "orders")
    val k = col("o_orderkey")
    def cents = (col("o_totalprice").cast(DecimalType(20, 6)) * 100)
      .cast("long")
    val target = ord.select(k.as("k"), lit(0L).as("seq"),
      lit("upsert").as("op"), cents.as("v"))
    val upd = ord.filter(k % 3 === 0).select(k.as("k"), lit(1L).as("seq"),
      when(k % 9 === 0, lit("delete")).otherwise(lit("upsert")).as("op"),
      (cents + 12345L).as("v"))
    val redel = ord.filter(k % 9 === 3).select(k.as("k"),
      lit(2L).as("seq"), lit("delete").as("op"), lit(0L).as("v"))
    val ins = ord.filter(k % 3 === 1).select((k + 100000000L).as("k"),
      lit(1L).as("seq"), lit("upsert").as("op"), (cents + 7L).as("v"))
    val ghost = ord.filter(k % 9 === 5).select((k + 200000000L).as("k"),
      lit(1L).as("seq"), lit("delete").as("op"), lit(0L).as("v"))
    target.unionAll(upd).unionAll(redel).unionAll(ins).unionAll(ghost)
  }

  def mergeOnceTws(spark: SparkSession, dir: String,
      sinkName: String = "stream_merge_sink"): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val recs = mergeFeed(spark, dir)
      .as[(Long, Long, String, Long)].collect()
      .sortBy(e => (e._2, e._1))
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, Long)]
    val out = ms.toDS()
      .groupByKey(_._1)
      .transformWithState(new MergeProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
      .toDF("k", "seq", "v", "alive")
    replay(spark, "8", chunkWaves(ms, recs))(out -> memory(sinkName, OutputMode.Update())).head
      .groupBy("k")
      .agg(max_by(struct(col("v"), col("alive")), col("seq")).as("__f"))
      .filter(col("__f.alive") === 1)
      .select(col("k"), col("__f.v").as("v"))
  }

  /** Stage one parquet FILE per wave of `feed` under a temp dir, with
    * strictly increasing mtimes so FileStreamSource's default
    * oldest-first order replays waves in wave order whatever the write
    * timing — the shared setup for the file-source streaming twins
    * ([[mergeOnceFile]], [[scd2OnceFile]]). The wave column stays in
    * the file iff the caller's schema includes it (filter is on
    * `waveCol`; no columns are dropped here). */
  private[graft] def stageWaveFiles(feed: DataFrame, waveCol: String,
      waves: Seq[Long], prefix: String): java.nio.file.Path = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix)
    graft.queries.Tables.deleteOnExit(tmp)
    // ONE pass over the feed (r17): the per-wave loop used to recompute
    // the whole feed subtree once per wave (filter + coalesce(1) write =
    // N full evaluations). A partitioned write keyed by a DUPLICATED dir
    // column stages every wave in a single job; repartition(N, wavedir)
    // lands all rows of a wave in one task, so each wave dir holds
    // exactly one part file. The original wave column stays in the file
    // data (only the __wavedir copy becomes the directory key). The
    // stateful consumers sort rows inside handleInputRows, so the
    // shuffle's intra-file row order is semantics-free (oracle-checked).
    val stage = tmp.resolve("__stage")
    feed.withColumn("__wavedir", col(waveCol))
      .repartition(waves.size, col("__wavedir"))
      .write.mode("overwrite").partitionBy("__wavedir")
      .parquet(stage.toString)
    waves.foreach { wave =>
      val waveDir = stage.resolve(s"__wavedir=$wave")
      require(java.nio.file.Files.isDirectory(waveDir),
        s"wave $wave produced no rows (dir $waveDir missing)")
      val listing = java.nio.file.Files.list(waveDir)
      val src = try {
        scala.jdk.CollectionConverters.IteratorHasAsScala(listing.iterator())
          .asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      } finally listing.close()
      require(src.size == 1, s"expected one part file per wave, got $src")
      val dst = tmp.resolve(f"wave$wave%02d.parquet")
      java.nio.file.Files.move(src.head, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000L + wave * 60000L))
    }
    // drop the staging tree (SUCCESS markers etc.) so the glob sees
    // only waveNN.parquet files
    val walk = java.nio.file.Files.walk(stage)
    try {
      val files = scala.jdk.CollectionConverters
        .IteratorHasAsScala(walk.iterator()).asScala.toSeq
      files.reverseIterator.foreach(java.nio.file.Files.deleteIfExists(_))
    } finally walk.close()
    tmp
  }

  /** `feed` streamed back from [[stageWaveFiles]], one wave file per
    * microbatch in wave order (`maxFilesPerTrigger=1`), read with
    * `schema`. */
  private def waveStream(feed: DataFrame, waveCol: String, waves: Seq[Long],
      prefix: String, schema: StructType): DataFrame =
    feed.sparkSession.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(stageWaveFiles(feed, waveCol, waves, prefix).toString)

  /** [[waveStream]] of `feed` in three ranges of `by`: wave =
    * (by − min)·3 div (max + 1 − min), from one min/max aggregate
    * broadcast back as the row (`__t0`, `__t1`), so no row visits the
    * driver. `extra(bounds)` adds waves 3, 4, … built from that same row.
    * The stream reads `cols` of `feed` (all of them by default); the
    * staged files carry `__wave` too, and the declared read schema prunes
    * it at the parquet scan. */
  private def rangeWaves(feed: DataFrame, by: String, prefix: String,
      cols: Seq[String] = Nil,
      extra: DataFrame => Seq[DataFrame] = _ => Nil): DataFrame = {
    val keep = (if (cols.isEmpty) feed.columns.toSeq else cols).map(col)
    val bounds = feed.agg(min(col(by)).as("__t0"), (max(col(by)) + 1L).as("__t1"))
    val more = extra(bounds)
    val waves = more.foldLeft(feed.crossJoin(broadcast(bounds))
        .withColumn("__wave", expr(s"($by - __t0) * 3 div (__t1 - __t0)"))
        .select(keep :+ col("__wave"): _*))(_ unionByName _)
    waveStream(waves, "__wave", 0L until 3L + more.size, prefix,
      feed.select(keep: _*).schema)
  }

  /** FILE-SOURCE twin of [[mergeOnceTws]]: the MemoryStream harness
    * replays a driver collect (documented test-harness pattern); this
    * variant proves the production no-collect ingest path END TO END —
    * each seq wave lands as its own parquet file, `readStream` +
    * `maxFilesPerTrigger=1` makes each wave its own microbatch (file
    * order = modification time, pinned explicitly), and the RocksDB
    * ValueState carries across the three genuine microbatches. No row
    * ever visits the driver; the sink reconstruction and oracle are
    * mergeOnceTws's verbatim. */
  def mergeOnceFile(spark: SparkSession, dir: String,
      sinkName: String = "stream_merge_file_sink"): DataFrame = {
    import spark.implicits._
    val feed = mergeFeed(spark, dir)
    val out = waveStream(feed, "seq", 0L to 2L, "stream_merge_src", feed.schema)
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .transformWithState(new MergeProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
      .toDF("k", "seq", "v", "alive")
    replay(spark, "8")(out -> memory(sinkName, OutputMode.Update())).head
      .groupBy("k")
      .agg(max_by(struct(col("v"), col("alive")), col("seq")).as("__f"))
      .filter(col("__f.alive") === 1)
      .select(col("k"), col("__f.v").as("v"))
  }

  /** Streaming domain quota on the `transformWithState` path: bounded
    * replay in TWO doc_id-ordered batches (state must carry the
    * kept-counts across the batch boundary), RocksDB provider, Update
    * mode. Equals the batch first-cap-by-id window; oracle shared. */
  def domainCapOnceTws(spark: SparkSession, dir: String, cap: Int,
      sinkName: String = "stream_domain_cap_sink"): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val recs = graft.queries.Tables.t(spark, dir, "documents")
      .select(concat(lit("site"), (col("doc_id") % 50).cast("string"),
        lit(".com")).as("domain"), col("doc_id"))
      .as[(String, Long)].collect().sortBy(_._2)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long)]
    val (b1, b2) = recs.splitAt(recs.length / 2)
    val out = ms.toDS()
      .groupByKey(_._1)
      .transformWithState(new DomainCapProcessor(cap),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
      .toDF("doc_id", "domain", "key_rank")
    replay(spark, "8", Seq(b1, b2).map(b => () => ms.addData(b.toIndexedSeq)))(
      out -> memory(sinkName, OutputMode.Update())).head
  }

  /** Streaming multi-touch attribution state: per key, the PENDING
    * touch list (ts_us, event_id) — a `ListState` (the appendable
    * arbitrary-state primitive; state size = touches since the last
    * conversion, the quantity the business rule itself bounds). Touches
    * append; a conversion credits the whole pending list — last-touch
    * full value to the most recent touch, linear value div n to each —
    * and clears it. Credits are emitted AT CONVERSION TIME (the online
    * form of the batch reverse carry); touches with no later conversion
    * stay pending, exactly the batch drop rule, so the bounded replay
    * equals [[graft.operators.Warehouse.attribution]] and shares its
    * oracle verbatim. */
  private class AttributionProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, String, Long), (Long, Long, Long, Long, Long, Long)] {
    @transient private var pending:
        org.apache.spark.sql.streaming.ListState[(Long, Long)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      pending = getHandle.getListState[(Long, Long)]("pending",
        org.apache.spark.sql.Encoders.product[(Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Long, Long, String, Long)], // (user, ts, id, type, vm)
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Long, Long, Long, Long)] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val it = pending.get()
      while (it.hasNext) buf += it.next()
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long, Long, Long)]
      rows.toSeq.sortBy(e => (e._2, e._3)).foreach { case (_, ts, id, tpe, vm) =>
        if (tpe == "click" || tpe == "view") buf += ((ts, id))
        else if (tpe == "purchase" && buf.nonEmpty) {
          val n = buf.length.toLong
          val lastId = buf.maxBy(identity)._2 // most recent (ts, id)
          buf.foreach { case (_, tid) =>
            out += ((user, tid, id, n, vm / n,
              if (tid == lastId) vm else 0L))
          }
          buf.clear()
        }
      }
      // the store rejects empty list writes — an empty pending set is
      // expressed by clearing the state
      if (buf.isEmpty) pending.clear() else pending.put(buf.toArray)
      out.iterator
    }
  }

  /** Streaming attribution — see [[AttributionProcessor]]. */
  def attributionOnce(spark: SparkSession, dir: String,
      sinkName: String = "stream_attr_sink"): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val recs = graft.queries.Tables.t(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(20, 6))
          * lit(1000000L)).cast("long").as("vm"))
      .orderBy("ts_us", "event_id")
      .as[(Long, Long, Long, String, Long)].collect()
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long, String, Long)]
    val out = ms.toDS()
      .groupByKey(_._1)
      .transformWithState(new AttributionProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
      .toDF("user_id", "touch_id", "conv_id", "n_touches",
        "linear_micro", "last_touch_micro")
    replay(spark, "8", chunkWaves(ms, recs))(out -> memory(sinkName, OutputMode.Append())).head
  }

  /** FILE-SOURCE twin of [[attributionOnce]] — the pending-touch
    * ListState machine on the production no-collect ingest path
    * ([[scd2OnceFile]]'s contract): THREE time-range waves from one
    * min/max aggregate broadcast back (no driver collect of rows), one
    * mtime-pinned parquet file per wave, `maxFilesPerTrigger=1`
    * microbatches in time order. Ts-range waves preserve each user's
    * global (ts, event_id) order across batch boundaries (same-ts rows
    * share a wave by construction), and the processor's in-batch sort
    * orders within them — so the credited touch lists equal the
    * MemoryStream replay's and the batch reverse-carry's exactly;
    * oracle = rel_attribution's verbatim. */
  def attributionOnceFile(spark: SparkSession, dir: String,
      sinkName: String = "stream_attr_file_sink"): DataFrame = {
    import spark.implicits._
    val feed0 = graft.queries.Tables.t(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(20, 6))
          * lit(1000000L)).cast("long").as("vm"))
    val out = rangeWaves(feed0, "ts_us", "stream_attr_src")
      .as[(Long, Long, Long, String, Long)]
      .groupByKey(_._1)
      .transformWithState(new AttributionProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
      .toDF("user_id", "touch_id", "conv_id", "n_touches",
        "linear_micro", "last_touch_micro")
    replay(spark, "8")(out -> memory(sinkName, OutputMode.Append())).head
  }

  /** Streaming SCD Type-2 state: per key, the open version (attr,
    * eff_from µs). Each batch folds its events in (ts, event_id)
    * order; an attribute CHANGE emits the closed previous version
    * (eff_to = change ts) and opens a new one; the currently-open
    * version is (re-)emitted with eff_to = −1 every batch it changes,
    * so the sink's latest row per (key, from) is the version's final
    * state — closed rows supersede their own open emission via
    * max(to). Constant state per key; the bounded replay reconstructs
    * exactly the batch [[graft.operators.Warehouse.scd2]] version
    * table, whose oracle the twin shares. Disclosed aliasing edge: the
    * reconstruction keys versions by (key, attr, eff_from), so an
    * A→B→A flip within ONE microsecond would merge the two A versions
    * — impossible on µs-unique (key, ts) streams (the testdata has no
    * such collision; the batch path is exact regardless). */
  private class Scd2Processor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, String), (Long, String, Long, Long)] {
    @transient private var open:
        org.apache.spark.sql.streaming.ValueState[(String, Long)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      open = getHandle.getValueState[(String, Long)]("open",
        org.apache.spark.sql.Encoders.product[(String, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Long, Long, String)], // (user, ts_us, event_id, attr)
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, String, Long, Long)] = {
      var cur: (String, Long) = if (open.exists()) open.get() else null
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
      var openDirty = false
      rows.toSeq.sortBy(e => (e._2, e._3)).foreach { case (_, ts, _, attr) =>
        if (cur == null) { cur = (attr, ts); openDirty = true }
        else if (cur._1 != attr) {
          out += ((user, cur._1, cur._2, ts)) // close the previous version
          cur = (attr, ts); openDirty = true
        }
      }
      if (cur != null) { open.update(cur) }
      if (openDirty) out += ((user, cur._1, cur._2, -1L)) // (re-)emit open
      out.iterator
    }
  }

  /** Streaming SCD2 build — see [[Scd2Processor]]. The sink holds one
    * row per emitted version state; the final SELECT keeps each
    * (key, from)'s max(to) (a closed version supersedes its own open
    * emission) and derives is_current. */
  def scd2Once(spark: SparkSession, dir: String,
      sinkName: String = "stream_scd2_sink"): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val recs = graft.queries.Tables.t(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
      .orderBy("ts_us", "event_id")
      .as[(Long, Long, Long, String)].collect()
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long, String)]
    val out = ms.toDS()
      .groupByKey(_._1)
      .transformWithState(new Scd2Processor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
      .toDF("user_id", "attr", "from_us", "to_raw")
    replay(spark, "8", chunkWaves(ms, recs))(out -> memory(sinkName, OutputMode.Update())).head
      .groupBy("user_id", "attr", "from_us")
      .agg(max(col("to_raw")).as("__to"))
      .select(col("user_id"), col("attr"), col("from_us"),
        when(col("__to") >= 0, col("__to")).otherwise(lit(-1L)).as("to_us"),
        (col("__to") < 0).cast("int").as("is_current"))
  }

  /** FILE-SOURCE twin of [[scd2Once]] — the production no-collect
    * ingest path for the SCD2 state machine, [[mergeOnceFile]]'s
    * contract: waves are THREE TIME-RANGE buckets of the event stream
    * (bucket = (ts−t0)·3 div (t1−t0) from one min/max aggregate
    * broadcast back — no driver collect of rows, no global window),
    * each wave lands as its own mtime-pinned parquet file,
    * `maxFilesPerTrigger=1` replays them as three genuine microbatches
    * in time order, and the RocksDB open-version ValueState carries
    * across the batch boundaries. Within a wave the processor's own
    * (ts, event_id) sort orders events, exactly as the MemoryStream
    * replay's chunking; sink reconstruction and oracle are
    * [[scd2Once]]'s verbatim. */
  def scd2OnceFile(spark: SparkSession, dir: String,
      sinkName: String = "stream_scd2_file_sink"): DataFrame = {
    import spark.implicits._
    val feed0 = graft.queries.Tables.t(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
    val out = rangeWaves(feed0, "ts_us", "stream_scd2_src")
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new Scd2Processor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
      .toDF("user_id", "attr", "from_us", "to_raw")
    replay(spark, "8")(out -> memory(sinkName, OutputMode.Update())).head
      .groupBy("user_id", "attr", "from_us")
      .agg(max(col("to_raw")).as("__to"))
      .select(col("user_id"), col("attr"), col("from_us"),
        when(col("__to") >= 0, col("__to")).otherwise(lit(-1L)).as("to_us"),
        (col("__to") < 0).cast("int").as("is_current"))
  }

  /** SHARD-keyed streaming Misra-Gries state: each shard's ValueState
    * holds one bounded MG summary ((tokens, counts) pair lists ≤
    * `counters` entries — the per-shard memory bound no matter how long
    * the stream runs), advanced per batch by the SAME
    * [[graft.operators.TextAnalysis.mgUpdate]] fold the batch pass-1
    * runs, and each batch emits the shard's current candidate tokens.
    * Sharding by token hash keeps every token's full count inside one
    * shard, so the merged undercount bound n_shard∕(counters+1) <
    * n∕share preserves the candidate-superset guarantee. */
  private class MgProcessor(counters: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String), String] {
    @transient private var state:
        org.apache.spark.sql.streaming.ValueState[(Seq[String], Seq[Long])] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[(Seq[String], Seq[Long])]("mg",
        org.apache.spark.sql.Encoders.product[(Seq[String], Seq[Long])],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(shard: Long,
        rows: Iterator[(Long, String)],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[String] = {
      val mg = new java.util.HashMap[String, Long](counters * 2)
      if (state.exists()) {
        val (ks, vs) = state.get()
        ks.zip(vs).foreach { case (k, v) => mg.put(k, v) }
      }
      // one token per row: the same fold as the batch pass (a token
      // never contains ' ', so mgUpdate consumes it as one token)
      rows.foreach { case (_, tok) =>
        graft.operators.TextAnalysis.mgUpdate(mg, counters, tok)
      }
      val ks = scala.collection.mutable.ArrayBuffer.empty[String]
      val vs = scala.collection.mutable.ArrayBuffer.empty[Long]
      mg.forEach((k, v) => { ks += k; vs += v })
      state.update((ks.toSeq, vs.toSeq))
      ks.iterator
    }
  }

  /** Per-key Holt recursion state for the streaming smoother: (events
    * seen, first value, level, trend) in micro-units. The recursion is
    * FIXED-POINT INTEGER — α = 1∕2 and β = 3∕10 kept rational, each
    * step two TRUNCATING divisions:
    *   l' = (y + l + b) div 2
    *   b' = (3·(l' − l) + 7·b) div 10
    * so state and emissions are exact BIGINTs and the oracle replays
    * the identical arithmetic as a recursive CTE. Java's long `/`
    * truncates toward zero and so does DuckDB's integer `//`
    * (measured: −7∕∕2 = −3) — the trend operands go negative, so a
    * floorDiv here WOULD diverge by one micro on negative odd sums
    * (caught by the gate on first run). Unlike the batch
    * [[graft.operators.TimeSeries.holt]]
    * (trailing-window convolution), the stream maintains the TRUE
    * unbounded recursion — constant state per key makes that free
    * online, which is exactly why the streaming formulation exists. */
  private class HoltProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, Long), (Long, Long, Long)] {
    @transient private var st:
        org.apache.spark.sql.streaming.ValueState[(Long, Long, Long, Long)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long, Long)]("holt",
        org.apache.spark.sql.Encoders.product[(Long, Long, Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Long, Long, Long)], // (user, ts_us, event_id, vm)
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Long)] = {
      var (n, y1, l, b) =
        if (st.exists()) st.get() else (0L, 0L, 0L, 0L)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      rows.toSeq.sortBy(e => (e._2, e._3)).foreach { case (_, _, id, vm) =>
        n += 1
        if (n == 1) y1 = vm
        else if (n == 2) { l = vm; b = vm - y1 }
        else {
          val nl = (vm + l + b) / 2L // truncating, == DuckDB //
          b = (3L * (nl - l) + 7L * b) / 10L
          l = nl
        }
        if (n >= 2) out += ((id, l, l + b))
      }
      st.update((n, y1, l, b))
      out.iterator
    }
  }

  /** Streaming Holt smoothing: the exact unbounded recursion online —
    * see [[HoltProcessor]]. Bounded multi-batch replay; emits one
    * (event_id, level_micro, forecast_micro) row per event past the
    * two-value initialization. */
  def holtOnce(spark: SparkSession, dir: String,
      sinkName: String = "stream_holt_sink"): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val recs = graft.queries.Tables.t(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(20, 6))
          * lit(1000000L)).cast("long").as("vm"))
      .orderBy("ts_us", "event_id") // replay in event-time order
      .as[(Long, Long, Long, Long)].collect()
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long, Long)]
    val out = ms.toDS()
      .groupByKey(_._1)
      .transformWithState(new HoltProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
      .toDF("event_id", "level_micro", "forecast_micro")
    replay(spark, "8", chunkWaves(ms, recs))(out -> memory(sinkName, OutputMode.Update())).head
  }

  /** Streaming heavy hitters: candidates stream through shard-keyed
    * bounded Misra-Gries state ([[MgProcessor]], transformWithState on
    * RocksDB), then ONE batch pass exact-counts the streamed candidate
    * set — the production split (cheap online candidate tracking,
    * periodic exact reconciliation). The final output is EXACT, equal
    * to the batch [[graft.operators.TextAnalysis.heavyHitters]], so the
    * twin shares the `text_heavy_hitters` oracle verbatim. */
  def heavyHittersOnce(spark: SparkSession, dir: String, counters: Int,
      share: Int, shards: Int,
      sinkName: String = "stream_hh_sink"): DataFrame = {
    require(counters >= share, "counters >= share (superset guarantee)")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.queries.Tables.t(spark, dir, "documents")
    val toks = docs
      .select(explode(split(col("text"), " ")).as("token"))
      .select(pmod(hash(col("token")), lit(shards)).cast("long").as("shard"),
        col("token"))
      .as[(Long, String)].collect()
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val out = ms.toDS()
      .groupByKey(_._1)
      .transformWithState(new MgProcessor(counters),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
      .toDF("token")
    // replay in several batches so the MG ValueState genuinely carries
    // and merges across micro-batches (each batch emits its shard's
    // current candidates; the union across batches stays a superset)
    val cands = replay(spark, "8", chunkWaves(ms, toks))(
        out -> memory(sinkName, OutputMode.Update())).head
      .select("token").distinct()
    val n = docs.select(explode(split(col("text"), " ")).as("token"))
      .agg(count(lit(1)).as("n"))
    graft.operators.TextAnalysis.exactOverCandidates(
      docs, "text", cands, n, share)
  }

  /** FILE-SOURCE twin of [[heavyHittersOnce]] — the heaviest remaining
    * MemoryStream replay moved onto the production no-collect ingest
    * path ([[mergeOnceFile]]/[[scd2OnceFile]]'s contract): the token
    * feed buckets into THREE doc_id-range waves from one min/max
    * aggregate broadcast back (no driver collect of rows), each wave
    * lands as its own mtime-pinned parquet file, `maxFilesPerTrigger=1`
    * replays them as three genuine microbatches, and the shard-keyed
    * Misra-Gries ValueState carries and merges across the batch
    * boundaries. Wave ORDER is immaterial here (unlike SCD2): each
    * batch emits its shard's current candidates and the cross-batch
    * union stays a candidate SUPERSET, which the one exact batch pass
    * then reconciles — output EXACT == the batch heavy hitters, oracle
    * shared verbatim. */
  def heavyHittersOnceFile(spark: SparkSession, dir: String, counters: Int,
      share: Int, shards: Int,
      sinkName: String = "stream_hh_file_sink"): DataFrame = {
    require(counters >= share, "counters >= share (superset guarantee)")
    import spark.implicits._
    val docs = graft.queries.Tables.t(spark, dir, "documents")
    val toks0 = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .select(col("doc_id"),
        pmod(hash(col("token")), lit(shards)).cast("long").as("shard"),
        col("token"))
    val out = rangeWaves(toks0, "doc_id", "stream_hh_src", Seq("shard", "token"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new MgProcessor(counters),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
      .toDF("token")
    val cands = replay(spark, "8")(out -> memory(sinkName, OutputMode.Update())).head
      .select("token").distinct()
    val n = docs.select(explode(split(col("text"), " ")).as("token"))
      .agg(count(lit(1)).as("n"))
    graft.operators.TextAnalysis.exactOverCandidates(
      docs, "text", cands, n, share)
  }

  /** Streaming phrase-hit counting — the live watchlist audit ("alert
    * on documents containing these exact phrases") over an ingest:
    * per arriving doc, each phrase's occurrence count from ONE
    * stateless projection (a start-position filter over the token
    * array — per-doc local, no state, append mode). The batch
    * [[graft.operators.Ranking.phraseSearch]] builds a positional
    * inverted index for corpus-scale search; the streaming twin trades
    * the index for a per-row scan with IDENTICAL counts, so it shares
    * the batch oracle verbatim. */
  def phraseHitsOnce(spark: SparkSession, dir: String, phrases: Seq[String],
      sinkName: String = "stream_phrase_sink"): DataFrame = {
    require(phrases.nonEmpty, "need at least one phrase")
    val src = fileStream(spark, dir, "documents")
    val ws = split(col("text"), " ")
    val hits = array(phrases.map { ph =>
      val pw = ph.split(" ")
      val k = pw.length
      val n = when(size(ws) >= k,
        size(filter(sequence(lit(0), size(ws) - k), i =>
          pw.zipWithIndex.map { case (w, j) =>
            element_at(ws, i + (j + 1)) === w
          }.reduce(_ && _))))
        .otherwise(0).cast("long")
      struct(lit(ph).as("phrase"), n.as("n_matches"))
    }: _*)
    val out = src.select(col("doc_id").as("id"), explode(hits).as("ph"))
      .select(col("ph.phrase").as("phrase"), col("id"), col("ph.n_matches").as("n_matches"))
      .filter(col("n_matches") > 0)
    replay(spark, "4")(out -> memory(sinkName, OutputMode.Append())).head
  }

  /** Streaming weighted retention — admission control at ingestion
    * time: every arriving document is kept iff hash(id) < w·M, the
    * per-document quality weight (distinct-word ratio) computed inline.
    * One stateless codegen'd filter — append mode, zero state, zero
    * shuffle; membership is IDENTICAL to the batch
    * [[graft.operators.Sampling.weighted]] because it is a pure function
    * of (id, w), so the twin shares the batch oracle verbatim. */
  def weightedSampleOnce(spark: SparkSession, dir: String,
      sinkName: String = "stream_weighted_sink"): DataFrame = {
    val src = fileStream(spark, dir, "documents")
    val ws = split(col("text"), " ")
    val w = size(array_distinct(ws)).cast("long").cast("double") /
      size(ws).cast("long").cast("double")
    val out = graft.operators.Sampling.weighted(
      src.select(col("doc_id"), col("source"), w.as("keep_w")),
      "doc_id", col("keep_w"))
    replay(spark, "4")(out -> memory(sinkName, OutputMode.Append())).head
  }

  /** Streaming vocabulary: COMPLETE-mode running token counts over a
    * parquet file source — the streaming twin of `TextAnalysis.vocab`
    * (the missing output mode in the suite: resample/sessionize are
    * append, counts are update, this is complete). State = one entry per
    * distinct token (the quantity that must stay bounded at scale — a
    * vocabulary, not a corpus); the final completed table is what a
    * monitoring dashboard reads from the sink, top-k taken there. */
  def vocabOnce(spark: SparkSession, dir: String, k: Int,
      sinkName: String = "stream_vocab_sink"): DataFrame = {
    val src = fileStream(spark, dir, "documents")
    val agg = src.select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    replay(spark, "4")(agg -> memory(sinkName, OutputMode.Complete())).head
      .orderBy(col("n").desc, col("token")).limit(k)
  }

  /** Bounded-replay harness for [[sessionizeStream]]: all events arrive
    * as ONE MemoryStream batch (the per-batch sort makes the replay
    * deterministic), the query runs to completion, and the emitted
    * CLOSED sessions are returned — each user's open tail session stays
    * in state, which the oracle mirrors with an anti-join on the max
    * session index. */
  def sessionizeOnceMem(spark: SparkSession, dir: String, gapMinutes: Long,
      sinkName: String = "stream_sessionize_sink"): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val recs = graft.queries.Tables.t(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"), col("event_id"))
      .as[(Long, Long, Double, Long)].collect()
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Double, Long)]
    ms.addData(recs.toIndexedSeq)
    val src = ms.toDF().toDF("user_id", "ts_us", "value", "event_id")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    replay(spark, "8")(
      sessionizeStream(src, gapMinutes) -> memory(sinkName, OutputMode.Append())).head
  }

  /** Bounded-replay harness for [[sessionizeStreamEventTime]]: real events
    * arrive as one batch, then a far-future sentinel event (user_id = -1)
    * advances the watermark past every open session's timeout, so EVERY
    * real session is emitted — gap-closed ones by the data path,
    * open tails by the event-time timeout path — and per-user state is
    * freed as each timeout fires. The oracle is therefore the FULL batch
    * sessionization (no open-tail anti-join), which is exactly the
    * bounded-state claim: stream-with-expiry == batch on a bounded source.
    * Runs on the SHARED replay with the native twin — see
    * [[sessionizeSharedRun]]. */
  def sessionizeOnceEventTime(spark: SparkSession, dir: String,
      gapMinutes: Long): DataFrame =
    sessionizeSharedRun(spark, dir, gapMinutes)._1

  /** Native `session_window` sessionization under Structured Streaming —
    * Spark's built-in streaming session operator (state merging, gap
    * extension and watermark eviction all inside the engine), the twin of
    * the batch `sessionize_native` query. Append mode emits a session
    * once the watermark passes its end (= last event + gap); the
    * two-sentinel pattern closes every real session deterministically, so
    * the oracle is the FULL batch session_window result. Runs on the
    * SHARED replay with the event-time twin — see [[sessionizeSharedRun]]. */
  def sessionizeOnceNative(spark: SparkSession, dir: String,
      gapMinutes: Long): DataFrame =
    sessionizeSharedRun(spark, dir, gapMinutes)._2

  /** ONE bounded replay drives BOTH stateful sessionize queries — the
    * hand-rolled event-time-expiry flatMapGroupsWithState form and the
    * native `session_window` form subscribe to the SAME MemoryStream and
    * drain the same two micro-batches CONCURRENTLY. That is the
    * multiplexed-source shape of a production deployment (one source
    * feeding N queries, each with its own checkpoint + state store), and
    * it halves the harness cost of running two separate replays over
    * identical input. Memoized ([[graft.core.Caches.memo]]): the first
    * caller pays the shared run, the twin reads the already-drained sink.
    *
    * TWO micro-batches total: sentinel 1 rides IN the data batch (its own
    * user group, filtered from the output), so the watermark committed
    * after batch 1 is already a year past every real event; batch 2
    * (sentinel 2) then evicts every real session deterministically —
    * timeout/watermark eviction in batch N uses the watermark committed
    * by batch N-1, which is why one trailing sentinel batch suffices (and
    * why at least one is needed). */
  private def sessionizeSharedRun(spark: SparkSession, dir: String,
      gapMinutes: Long): (DataFrame, DataFrame) = {
    val events = graft.queries.Tables.t(spark, dir, "events")
    graft.core.Caches.memo(events, s"sessionizeRun:$gapMinutes") {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val recs = events
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("value"), col("event_id"))
        .as[(Long, Long, Double, Long)].collect()
      val maxUs = recs.iterator.map(_._2).max
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Double, Long)]
      val src = ms.toDF().toDF("user_id", "ts_us", "value", "event_id")
        .withColumn("ts", timestamp_micros(col("ts_us")))
      val native = src
        .withWatermark("ts", "0 seconds")
        .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(20, 6))).cast("double").as("sess_sum"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n_events"), col("sess_sum"))
      // distinct sink names per (dir, gap) so a second replay in the same
      // session (different scale factor) can never clobber a memoized view
      val tag = math.abs((dir, gapMinutes).hashCode())
      val etSink = s"stream_sess_et_$tag"
      val natSink = s"stream_sess_native_$tag"
      val Seq(et, nat) = replay(spark, "8", Seq(
          () => ms.addData(recs.toIndexedSeq :+ ((-1L, maxUs + 365L * 86400L * 1000000L, 0.0, 0L))),
          () => ms.addData(Seq((-1L, maxUs + 2L * 365L * 86400L * 1000000L, 0.0, 1L)))))(
        sessionizeStreamEventTime(src, gapMinutes) -> memory(etSink, OutputMode.Append()),
        native -> memory(natSink, OutputMode.Append()))
      (et.filter(col("user_id") >= 0), nat.filter(col("user_id") >= 0))
    }
  }

  /** DYNAMIC-gap native sessionization under streaming — the
    * variable-timeout `session_window` (gap an expression of the event:
    * purchases close in 5min, browsing in 30min) with engine-managed
    * state merge and watermark eviction; the two-sentinel pattern (one
    * riding in the data batch, one trailing batch) closes every real
    * session deterministically, so the bounded replay shares the batch
    * `sessionize_dynamic` oracle verbatim. */
  def sessionizeDynamicOnce(spark: SparkSession, dir: String,
      sinkName: String = "stream_sess_dyn_sink"): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val recs = graft.queries.Tables.t(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"), col("event_id"))
      .as[(Long, Long, String, Long)].collect()
    val maxUs = recs.iterator.map(_._2).max
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, Long)]
    val src = ms.toDF().toDF("user_id", "ts_us", "event_type", "event_id")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val out = src
      .withWatermark("ts", "0 seconds")
      .groupBy(col("user_id"), session_window(col("ts"),
        when(col("event_type") === "purchase", "5 minutes")
          .otherwise("30 minutes")))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"))
    replay(spark, "8", Seq(
        () => ms.addData(recs.toIndexedSeq :+
          ((-1L, maxUs + 365L * 86400L * 1000000L, "view", 0L))),
        () => ms.addData(Seq((-1L, maxUs + 2L * 365L * 86400L * 1000000L, "view", 1L)))))(
      out -> memory(sinkName, OutputMode.Append())).head
      .filter(col("user_id") >= 0)
  }

  /** FILE-SOURCE twin of [[sessionizeDynamicOnce]] — native dynamic-gap
    * `session_window` fed by the production no-collect ingest path:
    * three TIME-RANGE data waves (watermark-safe by construction — a
    * later wave never carries an earlier timestamp, so the 0-second
    * watermark drops nothing, and a live session extends across the
    * boundary because eviction needs watermark ≥ last event + gap,
    * which a ts-adjacent next wave can't have reached yet) plus the
    * two-sentinel drain expressed as waves 3 and 4: both sentinels are
    * BUILT FROM the same min/max bounds aggregate (union of two 1-row
    * projections — no driver collect anywhere), so wave 3 commits a
    * year-ahead watermark and wave 4's batch evicts every real session
    * under it ([[sessionizeDynamicOnce]]'s eviction-lags-one-batch
    * rule). Five mtime-pinned files, five genuine microbatches, oracle
    * = the batch `sessionize_dynamic`'s verbatim. */
  def sessionizeDynamicOnceFile(spark: SparkSession, dir: String,
      sinkName: String = "stream_sess_dyn_file_sink"): DataFrame = {
    val yearUs = 365L * 86400L * 1000000L
    val feed0 = graft.queries.Tables.t(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"), col("event_id"))
    def sentinel(bounds: DataFrame, years: Long, wave: Long) = bounds.select(
      lit(-1L).as("user_id"),
      (col("__t1") - 1L + lit(years * yearUs)).as("ts_us"),
      lit("view").as("event_type"), lit(wave - 3L).as("event_id"),
      lit(wave).as("__wave"))
    val src = rangeWaves(feed0, "ts_us", "stream_sessdyn_src",
        extra = b => Seq(sentinel(b, 1L, 3L), sentinel(b, 2L, 4L)))
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val out = src
      .withWatermark("ts", "0 seconds")
      .groupBy(col("user_id"), session_window(col("ts"),
        when(col("event_type") === "purchase", "5 minutes")
          .otherwise("30 minutes")))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"))
    replay(spark, "8")(out -> memory(sinkName, OutputMode.Append())).head
      .filter(col("user_id") >= 0)
  }

  /** Stream-stream INTERVAL JOIN: every left-type event paired with the
    * same user's right-type events inside [lts, lts + window] — the
    * impression→conversion attribution shape. Both sides carry an
    * event-time watermark and the join predicate carries the time-range
    * constraint; that pair is what lets Spark BOUND the join state (a
    * buffered left row is evictable once the watermark passes
    * lts + window, a right row once it passes rts — the engine derives
    * both bounds from the condition). Inner-join rows emit as soon as
    * both sides have arrived, so the bounded replay needs ONE
    * micro-batch and no sentinel drain. At scale the state store is
    * partitioned by the equi-key (user), exactly like the batch
    * shuffle-join it mirrors.
    *
    * `joinType = "left_outer"` additionally emits each unmatched left
    * row (null right columns) — but only once the watermark passes
    * `lts + window`, when the engine KNOWS no matching right row can
    * still arrive. The bounded replay then needs the sentinel drain:
    * a sentinel PAIR (one event per side, user −1, so both branch
    * watermarks advance) rides in the data batch, and one trailing
    * sentinel-pair batch evicts the unmatched lefts (eviction in batch N
    * uses the watermark committed by batch N−1). */
  def intervalJoinOnce(spark: SparkSession, dir: String, leftType: String,
      rightType: String, windowMinutes: Long, joinType: String = "inner",
      sinkName: String = "stream_interval_join_sink"): DataFrame =
    if (joinType == "inner")
      intervalJoinSharedRun(spark, dir, leftType, rightType, windowMinutes)._1
    else
      intervalJoinSharedRun(spark, dir, leftType, rightType, windowMinutes)._2

  /** ONE bounded replay drives BOTH interval-join queries — the inner and
    * left-outer forms subscribe to the SAME MemoryStream and drain the
    * same micro-batches concurrently (the multiplexed-source shape,
    * memoized like [[sessionizeSharedRun]]). The sentinel pair the
    * left-outer form needs is harmless to the inner form: sentinel rows
    * carry user −1 and are filtered from both outputs. */
  private def intervalJoinSharedRun(spark: SparkSession, dir: String,
      leftType: String, rightType: String,
      windowMinutes: Long): (DataFrame, DataFrame) = {
    val events = graft.queries.Tables.t(spark, dir, "events")
    graft.core.Caches.memo(events,
        s"intervalJoinRun:$leftType:$rightType:$windowMinutes") {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val recs = events
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_type"), col("event_id"))
        .as[(Long, Long, String, Long)].collect()
      val maxUs = recs.iterator.map(_._2).max
      def sentinels(ts: Long) =
        Seq((-1L, ts, leftType, -1L), (-1L, ts, rightType, -2L))
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, String, Long)]
      val src = ms.toDF().toDF("user_id", "ts_us", "event_type", "event_id")
      def joined(joinType: String): DataFrame = {
        val left = src.filter(col("event_type") === leftType)
          .select(col("user_id"), timestamp_micros(col("ts_us")).as("lts"),
            col("event_id").as("ea"))
          .withWatermark("lts", "0 seconds")
        val right = src.filter(col("event_type") === rightType)
          .select(col("user_id").as("r_user"), timestamp_micros(col("ts_us")).as("rts"),
            col("event_id").as("eb"))
          .withWatermark("rts", "0 seconds")
        left.join(right,
            col("user_id") === col("r_user") &&
              col("rts") >= col("lts") &&
              col("rts") <= col("lts") + expr(s"INTERVAL $windowMinutes MINUTES"),
            joinType)
          .select(col("user_id"), col("ea"), col("eb"),
            unix_micros(col("lts")).as("lts_us"), unix_micros(col("rts")).as("rts_us"))
      }
      val tag = math.abs((dir, leftType, rightType, windowMinutes).hashCode())
      val innerSink = s"stream_ij_inner_$tag"
      val leftSink = s"stream_ij_left_$tag"
      val Seq(inner, leftOuter) = replay(spark, "8", Seq(
          () => ms.addData(recs.toIndexedSeq ++ sentinels(maxUs + 365L * 86400L * 1000000L)),
          () => ms.addData(sentinels(maxUs + 2L * 365L * 86400L * 1000000L))))(
        joined("inner") -> memory(innerSink, OutputMode.Append()),
        joined("left_outer") -> memory(leftSink, OutputMode.Append()))
      (inner.filter(col("user_id") >= 0), leftOuter.filter(col("user_id") >= 0))
    }
  }

  /** Streaming PARQUET (file) sink roundtrip: the tumbling-window
    * resample aggregation written with `writeStream.format("parquet")` in
    * APPEND mode — a window's row is written exactly once, when the
    * watermark passes its end — then read back as a batch table. This is
    * the exactly-once file-sink path (offset log + file-manifest commit
    * protocol under the checkpoint), the production shape for
    * stream-to-lake jobs; the memory-sink harnesses elsewhere exist only
    * because their results feed in-process compares. The two-sentinel
    * pattern closes every real window (sentinel 1 rides in the data
    * batch so the committed watermark passes every real window end;
    * the trailing sentinel batch evicts them — eviction in batch N uses
    * batch N−1's watermark); sentinel windows are filtered on
    * read-back. */
  def resampleToParquetOnce(spark: SparkSession, dir: String,
      rule: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val recs = graft.queries.Tables.t(spark, dir, "events")
      .select(unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[EventRec].collect()
    val maxUs = recs.iterator.map(_.ts_us).max
    val sentinelUs = maxUs + 365L * 86400L * 1000000L
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventRec]
    val agg = ms.toDF()
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), rule))
      .agg(sum(col("value").cast(DecimalType(20, 6))).cast("double").as("day_sum"),
        count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("bucket_us"), col("day_sum"), col("n"))
    // fresh per run (the parquet streaming sink APPENDS — reuse would
    // double the data), but registered for JVM-exit cleanup
    val outPath = java.nio.file.Files.createTempDirectory("stream_pq_sink")
    graft.queries.Tables.deleteOnExit(outPath)
    val outDir = outPath.toString
    replay(spark, "4", Seq(
        () => ms.addData(recs.toIndexedSeq :+ EventRec(sentinelUs, 0.0)),
        () => ms.addData(Seq(EventRec(sentinelUs + 365L * 86400L * 1000000L, 0.0)))))(
      agg -> (_.format("parquet").option("path", outDir).outputMode(OutputMode.Append())))
    spark.read.parquet(outDir).filter(col("bucket_us") < sentinelUs - 365L * 86400L * 1000000L / 2)
  }

  /** STREAM-STATIC broadcast enrichment: the event stream joined to a
    * static per-user profile (computed batch-side from the same table).
    * The static side plans as a broadcast hash join INSIDE each
    * micro-batch — no streaming join state at all, the canonical
    * dimension-enrichment shape (at scale: broadcast for small dims,
    * bucket/storage-partitioned join for big ones; either way the stream
    * side never shuffles on the dim key). */
  def staticJoinOnce(spark: SparkSession, dir: String,
      sinkName: String = "stream_static_join_sink"): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = graft.queries.Tables.t(spark, dir, "events")
    val recs = events
      .select(col("user_id"), col("value"), col("event_id"))
      .as[(Long, Double, Long)].collect()
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Double, Long)]
    ms.addData(recs.toIndexedSeq)
    val src = ms.toDF().toDF("user_id", "value", "event_id")
    val profile = events.groupBy("user_id")
      .agg(graft.queries.Tables.dsum(col("value")).as("user_total"),
        count(lit(1)).as("user_n"))
    val joined = src.join(broadcast(profile), "user_id")
      .select(col("event_id"), col("user_id"), col("user_total"), col("user_n"))
    replay(spark, "8")(joined -> memory(sinkName, OutputMode.Append())).head
  }

  /** UPDATE-mode streaming aggregation: per-user running (count, sum)
    * over a TWO-batch bounded replay. Update mode emits, per micro-batch,
    * only the keys whose aggregate CHANGED — the delta-shipping shape for
    * dashboard/upsert sinks (complete mode reships the whole state every
    * batch; append can't emit running aggregates at all). The memory sink
    * therefore holds one row per (user, state version); the caller keeps
    * each user's row with the HIGHEST count — counts strictly increase
    * across updates of one key, so that row is the final state, and the
    * oracle is the plain batch groupBy. No watermark: running totals
    * never expire by design (state ∝ distinct users — the dashboard
    * contract; bound it with a watermark + windowed key when user churn
    * is unbounded). */
  def updateCountsOnce(spark: SparkSession, dir: String,
      sinkName: String = "stream_update_sink"): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val recs = graft.queries.Tables.t(spark, dir, "events")
      .select(col("user_id"), col("value"), col("event_id"))
      .as[(Long, Double, Long)].collect()
    val (b1, b2) = recs.splitAt(recs.length / 2)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Double, Long)]
    val agg = ms.toDF().toDF("user_id", "value", "event_id")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(20, 6))).cast("double").as("vsum"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("n").desc)
    replay(spark, "8", Seq(b1, b2).map(b => () => ms.addData(b.toIndexedSeq)))(
        agg -> memory(sinkName, OutputMode.Update())).head
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  private val sessOut: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("session_idx", LongType),
    StructField("n_events", LongType),
    StructField("sess_sum", DoubleType),
    StructField("start_us", LongType),
    StructField("end_us", LongType)))

  /** Streaming sessionization via flatMapGroupsWithState: emits a session
    * row whenever a gap closes it; state carries the open session.
    * (Used with processing-time semantics over a bounded replay in tests;
    * production would pair it with an event-time watermark timeout.) */
  def sessionizeStream(events: DataFrame, gapMinutes: Long): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val in = events.select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
      col("value"), col("event_id"))

    in.groupByKey(_.getAs[Long]("user_id"))(Encoders.scalaLong)
      .flatMapGroupsWithState[SessState, Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (uid: Long, it: Iterator[Row], state: GroupState[SessState]) => {
          val rows = it.toArray.sortBy(r => (r.getAs[Long]("ts_us"), r.getAs[Long]("event_id")))
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          var st = state.getOption.getOrElse(SessState(0L, 0L, 0L, 0L, Long.MinValue))
          rows.foreach { r =>
            val ts = r.getAs[Long]("ts_us")
            val vMicro = math.round(r.getAs[Double]("value") * 1e6)
            if (st.n == 0) st = SessState(st.sessIdx + 1, 1L, vMicro, ts, ts)
            else if (ts - st.lastUs > gapUs) {
              out += Row(uid, st.sessIdx, st.n, st.sumMicro / 1e6, st.startUs, st.lastUs)
              st = SessState(st.sessIdx + 1, 1L, vMicro, ts, ts)
            } else st = st.copy(n = st.n + 1, sumMicro = st.sumMicro + vMicro, lastUs = ts)
          }
          state.update(st)
          out.iterator
        })(Encoders.product[SessState], Encoders.row(sessOut))
  }

  /** Streaming sessionization with EVENT-TIME state expiry — the
    * production form of [[sessionizeStream]]. Each data batch updates the
    * open session and (re)arms an event-time timeout at
    * `last event + gap`; when the watermark passes that point the session
    * can no longer be extended by on-time data, so the timeout fires, the
    * closed session is emitted, and the user's state row is REMOVED.
    * State is therefore bounded by the number of users active within one
    * gap+delay horizon of the watermark — an idle user costs nothing —
    * instead of one open session per ever-seen user forever
    * (the NoTimeout hazard).
    *
    * `delay` is the `withWatermark` lateness allowance; events later than
    * it may find their session already emitted (standard watermark
    * semantics, same trade as any event-time streaming aggregation).
    *
    * Session-counter continuity: emitting a timed-out session does NOT
    * drop the whole state row — a TOMBSTONE carrying only the session
    * counter (n = 0) is retained, so a user who returns with on-time data
    * continues at `session_idx + 1` instead of restarting at 1 (which
    * would duplicate (user_id, session_idx) keys across state lifetimes
    * and diverge from the batch numbering). The tombstone expires
    * `retentionMinutes` after the user's last event, so state stays
    * bounded by users active within the retention horizon; beyond it the
    * counter restarts at 1 — (user_id, start_us) is the durable session
    * key across retention expiries. */
  def sessionizeStreamEventTime(events: DataFrame, gapMinutes: Long,
      delay: String = "0 seconds",
      retentionMinutes: Long = 30L * 24 * 60): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val gapMs = gapMinutes * 60L * 1000L
    val retentionMs = retentionMinutes * 60L * 1000L
    val in = events
      .withWatermark("ts", delay)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"), col("event_id"), col("ts"))

    in.groupByKey(_.getAs[Long]("user_id"))(Encoders.scalaLong)
      .flatMapGroupsWithState[SessState, Row](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (uid: Long, it: Iterator[Row], state: GroupState[SessState]) => {
          if (state.hasTimedOut) {
            val st = state.get
            if (st.n == 0L) {
              // a tombstone reached its retention horizon: the user has
              // been idle for retentionMinutes — free the counter too
              state.remove()
              Iterator.empty
            } else {
              // watermark passed last event + gap: no on-time event can
              // extend this session — emit it closed and shrink the state
              // to a counter-only tombstone (see scaladoc) armed to
              // expire at last event + retention
              state.update(SessState(st.sessIdx, 0L, 0L, 0L, st.lastUs))
              state.setTimeoutTimestamp(math.max(
                st.lastUs / 1000L + retentionMs,
                state.getCurrentWatermarkMs() + 1L))
              Iterator.single(Row(uid, st.sessIdx, st.n, st.sumMicro / 1e6,
                st.startUs, st.lastUs))
            }
          } else {
            val rows = it.toArray.sortBy(r => (r.getAs[Long]("ts_us"), r.getAs[Long]("event_id")))
            val out = scala.collection.mutable.ArrayBuffer.empty[Row]
            var st = state.getOption.getOrElse(SessState(0L, 0L, 0L, 0L, Long.MinValue))
            rows.foreach { r =>
              val ts = r.getAs[Long]("ts_us")
              val vMicro = math.round(r.getAs[Double]("value") * 1e6)
              if (st.n == 0) st = SessState(st.sessIdx + 1, 1L, vMicro, ts, ts)
              else if (ts - st.lastUs > gapUs) {
                out += Row(uid, st.sessIdx, st.n, st.sumMicro / 1e6, st.startUs, st.lastUs)
                st = SessState(st.sessIdx + 1, 1L, vMicro, ts, ts)
              } else st = st.copy(n = st.n + 1, sumMicro = st.sumMicro + vMicro, lastUs = ts)
            }
            state.update(st)
            // (re)arm expiry at last-event + gap (ms — GroupState API unit);
            // clamp above the current watermark: a group fed only
            // already-late data would otherwise try to arm in the past,
            // which GroupState rejects — it then times out next batch
            state.setTimeoutTimestamp(
              math.max(st.lastUs / 1000L + gapMs, state.getCurrentWatermarkMs() + 1L))
            out.iterator
          }
        })(Encoders.product[SessState], Encoders.row(sessOut))
  }

}

/** Per-user running state for streaming sessionization (top-level and
  * public: Catalyst's encoder codegen needs plain accessor access). */
case class SessState(sessIdx: Long, n: Long, sumMicro: Long,
    startUs: Long, lastUs: Long)

/** MemoryStream record for the bench-path streaming resample. */
case class EventRec(ts_us: Long, value: Double)

case class EventIdRec(ts_us: Long, event_id: Long, value: Double)
