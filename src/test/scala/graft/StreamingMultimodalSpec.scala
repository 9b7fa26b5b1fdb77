package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.{Multimodal, Sessionize}
import graft.queries.Tables
import graft.streaming.StreamOps

class StreamingMultimodalSpec extends SparkSpec {

  test("streaming k-means labeling equals the batch assignment") {
    // the centroids are the batch-fitted model artifact, so the online
    // stateless projection must reproduce kMeansAssign row-for-row
    val streamed = StreamOps.kMeansAssignOnce(spark, sf001,
        sinkName = "kmeans_spec_sink")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.operators.Similarity.kMeansAssign(
        spark.read.parquet(s"$sf001/embeddings.parquet"),
        "vec_id", "embedding", k = 8, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch,
      s"stream/batch k-means drift: ${streamed.diff(batch).take(3)} vs ${batch.diff(streamed).take(3)}")
  }

  test("streaming resample equals batch resample on a bounded source") {
    val batch = Tables.t(spark, sf001, "events")
      .groupBy(date_trunc("day", col("ts")).as("bucket"))
      .agg(sum(col("value").cast("decimal(20,6)")).cast("double").as("day_sum"),
        count(lit(1)).as("n"))
      .orderBy("bucket").collect()
    val streamed = StreamOps.resampleOnce(spark, sf001, "1 day", "spec_sink")
      .orderBy("bucket").collect()
    assert(streamed.sameElements(batch))
  }

  test("a bounded replay forks no readlink for its checkpoint and restores the manager conf") {
    import scala.jdk.CollectionConverters._
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val before = spark.conf.getOption(key)
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    val dump = java.nio.file.Files.createTempFile("replay_procs", ".jfr")
    try {
      rec.start()
      try StreamOps.ohlcOnce(spark, sf001, "proc_spec_sink").collect()
      finally rec.stop()
      rec.dump(dump)
      val cmds = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .map(_.getString("command")).toSeq
      val ckptReadlinks = cmds.filter(c => c.startsWith("readlink") && c.contains("graft_ckpt"))
      assert(ckptReadlinks.size === 0,
        s"of ${cmds.size} processes: ${ckptReadlinks.take(3)}")
    } finally {
      rec.close()
      java.nio.file.Files.deleteIfExists(dump)
    }
    assert(spark.conf.getOption(key) == before)
  }

  test("a bounded replay closes its state stores and returns a local frame, not a memory sink") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.streaming.sources.MemoryPlan
    // each loaded state-store provider holds a checkpoint manager with a
    // pool of these threads until the provider is closed
    def checksumThreads(): Set[Thread] = Thread.getAllStackTraces.keySet.asScala.toSet
      .filter(t => t.isAlive && t.getName.startsWith("ChecksumCheckpointFileManager-Thread"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val twins = Seq[(String, String => org.apache.spark.sql.DataFrame)](
      "unload_ohlc_sink" -> (StreamOps.ohlcOnce(spark, sf001, _)),               // HDFS-backed
      "unload_transitions_sink" -> (StreamOps.transitionsOnce(spark, sf001, _))) // RocksDB
    twins.foreach { case (sink, twin) =>
      val before = checksumThreads()
      val df = twin(sink)
      val left = checksumThreads() -- before
      assert(left.size === 0,
        s"$sink left ${left.size} threads, e.g. ${left.take(2).map(_.getName)}")
      assert(!spark.catalog.tableExists(sink), s"$sink is still a table of the session")
      val plan = df.queryExecution.logical
      assert(plan.exists(_.isInstanceOf[LocalRelation]), plan.treeString)
      assert(!plan.exists(_.isInstanceOf[MemoryPlan]), plan.treeString)
      assert(rows(df).nonEmpty)
      assert(rows(df) === rows(twin(sink)))
    }
  }

  test("a replay leaves the caller's stream conf in place while it runs and after concurrent replays") {
    import scala.concurrent.{Await, ExecutionContext, Future, Promise}
    import scala.concurrent.duration._
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.checkpointFileManagerClass")
    def snapshot() = keys.map(k => k -> spark.conf.getOption(k)).toMap
    val callerParts = spark.conf.get(keys.head)
    // a partition count no replay sets, so a leftover "4" or "8" shows
    spark.conf.set(keys.head, "5")
    val before = snapshot()
    val progressed = Promise[Unit]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == "conf_race_transitions") progressed.trySuccess(())
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    spark.streams.addListener(listener)
    try {
      // transitionsOnce drains three waves; read the conf after the first
      val run = Future(StreamOps.transitionsOnce(spark, sf001, sinkName = "conf_race_transitions"))
      Await.result(progressed.future, 5.minutes)
      val during = snapshot()
      Await.result(run, 5.minutes)
      assert(during === before)
      val twins: Seq[() => org.apache.spark.sql.DataFrame] = Seq(
        () => StreamOps.transitionsOnce(spark, sf001, sinkName = "conf_race_1"),
        () => StreamOps.ohlcOnce(spark, sf001, "conf_race_2"),
        () => StreamOps.resampleOnceMem(spark, sf001, "1 day", "conf_race_3"),
        () => StreamOps.updateCountsOnce(spark, sf001, "conf_race_4"),
        () => StreamOps.domainCapOnceTws(spark, sf001, cap = 3, sinkName = "conf_race_5"),
        () => StreamOps.dedupOnce(spark, sf001, Seq("text"), "conf_race_6"),
        () => StreamOps.holtOnce(spark, sf001, sinkName = "conf_race_7"),
        () => StreamOps.staticJoinOnce(spark, sf001, "conf_race_8"))
      val results = Await.result(Future.traverse(twins)(t => Future(t())), 10.minutes)
      assert(snapshot() === before)
      assert(results.forall(!_.isEmpty))
    } finally {
      spark.streams.removeListener(listener)
      pool.shutdown()
      spark.conf.set(keys.head, callerParts)
    }
  }

  test("MemoryStream resample equals file-source streaming resample") {
    val viaFile = StreamOps.resampleOnce(spark, sf001, "1 day", "spec_file_sink")
      .orderBy("bucket").collect()
    val viaMem = StreamOps.resampleOnceMem(spark, sf001, "1 day", "spec_mem_sink")
      .orderBy("bucket").collect()
    assert(viaMem.sameElements(viaFile))
  }

  test("watermark drops late data in append-mode windowed aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val agg = mem.toDF().toDF("min", "v")
      .withColumn("ts", timestamp_seconds(col("min") * 60))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long").as("start_s"), col("n"))
    val q = agg.writeStream.format("memory").queryName("late_sink")
      .outputMode(OutputMode.Append()).start()
    mem.addData((0L, 1.0), (1L, 1.0), (2L, 1.0), (30L, 1.0), (60L, 1.0))
    q.processAllAvailable() // watermark advances to 60min − 10min = 50min
    mem.addData((1L, 9.0), (70L, 1.0)) // t=1min is far past the watermark
    q.processAllAvailable()
    q.stop()
    val w0 = spark.table("late_sink").filter(col("start_s") === 0).collect()
    // the [0,10) window was finalized with 3 events; the late arrival is
    // DROPPED by the watermark — never re-emitted, never counted
    assert(w0.length == 1, w0.mkString(","))
    assert(w0.head.getAs[Long]("n") == 3)
  }

  test("skew-safe sessionize == single-pass sessionize (incl. hot key)") {
    val ev = Tables.t(spark, sf001, "events")
    val one = Sessionize.sessions(ev, 30).orderBy("user_id", "session_idx").collect()
    val two = Sessionize.sessionsSkewSafe(ev, 30).orderBy("user_id", "session_idx").collect()
    assert(two.sameElements(one))
    // pathological skew: every event belongs to ONE user — pass 1 still
    // bounds group state to a user-day, and the merged output is identical
    val hot = ev.withColumn("user_id", lit(7L))
    val oneH = Sessionize.sessions(hot, 30).orderBy("session_idx").collect()
    val twoH = Sessionize.sessionsSkewSafe(hot, 30).orderBy("session_idx").collect()
    assert(twoH.sameElements(oneH))
  }

  test("real PNG decode roundtrip recovers generated dimensions and pixels") {
    import spark.implicits._
    val d = (0L to 60L).toDF("doc_id")
    val out = Multimodal.decodeImages(
      Multimodal.withPngBlob(d, "doc_id"), "doc_id", "img").collect()
    assert(out.length == 61)
    out.foreach { r =>
      val id = r.getLong(0)
      val w = (1 + id % 48).toInt
      val h = (1 + id % 32).toInt
      assert(r.getLong(1) == w && r.getLong(2) == h)
      assert(r.getString(3) == "png")
      var s = 0L
      for (y <- 0 until h; x <- 0 until w) s += (id + 7L * x + 13L * y) % 256L
      assert(r.getLong(4) == s)
    }
  }

  test("streaming sessionize emits the batch sessions (closed ones)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.t(spark, sf001, "events")
      .select("user_id", "ts", "value", "event_id")
    val batchSessions = Sessionize.sessions(
      Tables.t(spark, sf001, "events"), 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val mem = MemoryStream[(Long, java.sql.Timestamp, Double, Long)]
    val streamDf = mem.toDF().toDF("user_id", "ts", "value", "event_id")
    val out = StreamOps.sessionizeStream(streamDf, 30)
    val q = out.writeStream.format("memory").queryName("sess_sink")
      .outputMode(OutputMode.Append()).start()
    // feed all events in ts order in one batch (bounded replay)
    val rows = events.orderBy("ts", "event_id").collect().map { r =>
      (r.getAs[Long]("user_id"), r.getAs[java.sql.Timestamp]("ts"),
        r.getAs[Double]("value"), r.getAs[Long]("event_id"))
    }
    mem.addData(rows.toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("sess_sink")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // emitted = all closed sessions; open (last-per-user) ones stay in state
    assert(emitted.subsetOf(batchSessions))
    val lastPerUser = batchSessions.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val expectedClosed = batchSessions.filter { case (u, s, _) => s != lastPerUser(u) }
    assert(emitted == expectedClosed)
  }

  test("event-time streaming sessionize emits ALL batch sessions (tails close via timeout)") {
    val batch = Sessionize.sessions(Tables.t(spark, sf001, "events"), 30)
      .orderBy("user_id", "session_idx").collect()
    val streamed = StreamOps.sessionizeOnceEventTime(spark, sf001, 30)
      .orderBy("user_id", "session_idx").collect()
    assert(streamed.sameElements(batch))
  }

  test("event-time timeout closes an idle user's session and frees its state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double, Long)]
    val streamDf = mem.toDF().toDF("user_id", "ts", "value", "event_id")
    val q = StreamOps.sessionizeStreamEventTime(streamDf, gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_et_spec_sink")
      .outputMode(OutputMode.Append()).start()
    // offset from epoch 0: rows with ts <= the initial watermark (0) are
    // dropped as late by the stateful operator — an edge only a test that
    // starts its clock at the epoch would hit
    def t(min: Long) = new java.sql.Timestamp((1000 + min) * 60000L)
    // batch 1: both users active; both sessions open afterwards
    mem.addData(Seq((1L, t(0), 1.0, 1L), (2L, t(5), 2.0, 2L), (1L, t(10), 1.0, 3L)))
    q.processAllAvailable()
    assert(spark.table("sess_et_spec_sink").count() == 0)
    // batch 2+3: user 1 keeps going, user 2 goes idle. Two batches so the
    // eviction watermark (batch N evicts with batch N-1's watermark)
    // deterministically passes user 2's last-event+gap timeout.
    mem.addData(Seq((1L, t(600), 1.0, 4L)))
    q.processAllAvailable()
    mem.addData(Seq((1L, t(610), 1.0, 5L)))
    q.processAllAvailable()
    val rows = spark.table("sess_et_spec_sink")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // user 1 session 1 closed by the DATA path (gap before t=600);
    // user 2 session 1 closed by the TIMEOUT path (idle past watermark) —
    // under NoTimeout it would sit in state forever
    assert(rows == Set((1L, 1L, 2L), (2L, 1L, 1L)), rows.toString)
    // state holds exactly TWO rows: user 1's open session, plus user 2's
    // counter-only TOMBSTONE (n = 0) left by the timeout eviction so a
    // returning user 2 continues session_idx (StreamSessionResumeSpec
    // proves both the resume path and the tombstone's own retention
    // expiry — the bounded-state guarantee)
    val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    q.stop()
    assert(stateRows == 2L, s"expected 2 state rows, got $stateRows")
  }

  test("streaming dedup matches batch distinct") {
    val deduped = StreamOps.dedupOnce(spark, sf001, Seq("text"), "dedup_spec_sink")
    val batchDistinct = Tables.t(spark, sf001, "documents")
      .dropDuplicates("text").count()
    assert(deduped.count() == batchDistinct)
  }

  test("multimodal decode stub: schema and deterministic metadata") {
    val docs = Multimodal.withBlob(Tables.t(spark, sf001, "documents"), "text")
    val meta = Multimodal.decodeStub(docs, "doc_id", "blob")
    assert(meta.columns.toSeq == Seq("id", "n_bytes", "width", "height", "format"))
    val joined = meta.join(Tables.t(spark, sf001, "documents"),
      meta("id") === col("doc_id"))
    assert(joined.filter(col("n_bytes") =!= length(col("text"))).count() == 0)
    assert(meta.filter(!col("format").isin("rgb", "rgba", "gray")).count() == 0)
  }

  test("visual near-dup banding: exact recall vs brute force at hd<=3") {
    val docs = Multimodal.withPngBlob(
      Tables.t(spark, sf001, "documents").select("doc_id"), "doc_id")
    val h = Multimodal.averageHash(docs, "doc_id", "img").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = (for {
      (ia, la, ha) <- h; (ib, lb, hb) <- h if ia < ib
      hd = java.lang.Long.bitCount(la ^ lb) + java.lang.Long.bitCount(ha ^ hb)
      if hd <= 3
    } yield (ia, ib, hd.toLong)).toSet
    val banded = Multimodal.nearDupPairs(docs, "doc_id", "img", maxHd = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(brute.nonEmpty)
    assert(banded == brute,
      s"missing=${brute -- banded} extra=${banded -- brute}")
  }

  test("one-decode fingerprints == each single-hash operator (differential)") {
    val docs = Multimodal.withPngBlob(
      Tables.t(spark, sf001, "documents").select("doc_id").limit(200), "doc_id")
    val fp = Multimodal.fingerprints(docs, "doc_id", "img").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val ah = Multimodal.averageHash(docs, "doc_id", "img").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val dh = Multimodal.differenceHash(docs, "doc_id", "img").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val ph = Multimodal.perceptualHash(docs, "doc_id", "img").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(fp.nonEmpty && fp.keySet == ah.keySet)
    fp.foreach { case (id, (alo, ahi, dlo, dhi, plo, phi)) =>
      assert((alo, ahi) == ah(id), s"aHash diverges for $id")
      assert((dlo, dhi) == dh(id), s"dHash diverges for $id")
      assert((plo, phi) == ph(id), s"pHash diverges for $id")
    }
  }

  test("dHash is invariant to a global brightness shift; aHash generally is not") {
    import spark.implicits._
    // hand-built PNGs: a gradient image and its uniformly brighter twin
    def png(shift: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) {
        val g = math.min(255, x * 13 + shift)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val df = Seq((1L, png(0)), (2L, png(40))).toDF("id", "img")
    val dh = Multimodal.differenceHash(df, "id", "img").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // adjacent-pixel ORDER survives a constant shift (short of clipping)
    assert(dh(1L) == dh(2L))
    // and the hash sees real gradients: a monotone row sets rising bits
    assert(dh(1L) != ((0L, 0L)))
  }

  test("streaming domain cap == batch first-cap-by-id (state crosses batches)") {
    import org.apache.spark.sql.functions._
    val got = graft.streaming.StreamOps
      .domainCapOnceTws(spark, sf001, cap = 3, sinkName = "sdc_spec_sink")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val docs = Tables.t(spark, sf001, "documents")
      .select(col("doc_id"),
        concat(lit("site"), (col("doc_id") % 50).cast("string"), lit(".com")).as("domain"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain")).orderBy(col("doc_id"))
    val want = docs.withColumn("key_rank", row_number().over(w).cast("long"))
      .filter(col("key_rank") <= 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === want, s"missing=${want -- got} extra=${got -- want}")
    // every domain's quota fills inside batch 1 of the harness's
    // doc_id-ordered two-batch replay (50 domains, cap*50 << half the
    // corpus) — so the assertion above only holds if batch 2 admissions
    // consult the state carried over, not a fresh count
    assert(got.size === want.size)
  }

  test("multimodal frame sampling and featurizer shapes") {
    val docs = Multimodal.withBlob(Tables.t(spark, sf001, "documents"), "text")
    val frames = Multimodal.frameSample(docs, "blob", n = 4)
    assert(frames.select(size(col("frames"))).head.getInt(0) == 4)
    val feats = Multimodal.featurizeStub(docs, "doc_id", "blob", dim = 8)
    assert(feats.select(size(col("feat"))).head.getInt(0) == 8)
    assert(feats.count() == docs.count())
  }
}
