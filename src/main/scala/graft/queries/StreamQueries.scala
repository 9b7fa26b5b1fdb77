package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Multimodal, Sessionize}
import graft.streaming.StreamOps
import graft.streaming.StreamOps.Ingest
import Tables._

/** Multimodal plumbing, sessionization, and Structured-Streaming queries
  * with DuckDB oracles (the streaming resample's oracle is the batch
  * semantics — streaming and batch must agree on a bounded source).
  */
object StreamQueries {

  // streaming near-dup config: every 3rd doc "arrives", the rest are the
  // indexed historical corpus; tau matches the batch jaccard queries
  private val ND_MOD = 3L
  private val ND_TAU = 0.6

  /** Predicted DCT perceptual-hash CTEs — the pixel-rule prediction of
    * [[graft.operators.Multimodal.perceptualHash]]; yields
    * `ph(id, ph_lo, ph_hi)`. The DCT table and the row transform go
    * through CTE COLUMNS (ctt.ct, per-(u,y) row-sum rows regrouped to a
    * list), NOT inline list literals inside nested lambdas — a literal
    * referenced in a lambda body re-materializes per element evaluation
    * (measured: the inline form ran >4 min for 500 rows; this shape
    * runs in ~1 s). Shared by the mm_phash and mm_phash_pairs mirrors. */
  private[queries] val phashCtes: String = {
    val pow2 = (0 to 31).map(k => 1L << k).mkString("[", ",", "]")
    val ct = Multimodal.dctTableSql
    s"""ctt AS (SELECT $ct AS ct),
       |g AS (SELECT doc_id AS id, 1 + doc_id%48 AS w, 1 + doc_id%32 AS h FROM documents),
       |rj AS (SELECT id, j,
       |    CAST(list_sum(list_transform(generate_series(0,31), x ->
       |      ((id + 7*((x*w)//32) + 13*(((j%32)*h)//32)) % 256)
       |        * ct[(j//32)*32 + x + 1])) AS BIGINT) AS s
       |  FROM g, ctt, generate_series(0,1023) t(j)
       |  WHERE j//32 < 8),
       |r AS (SELECT id, list(s ORDER BY j) AS rr FROM rj GROUP BY id),
       |c AS (SELECT id, list_transform(generate_series(0,63), k ->
       |    CAST(list_sum(list_transform(generate_series(0,31), y ->
       |      rr[(k//8)*32 + y + 1] * ct[(k%8)*32 + y + 1])) AS BIGINT)) AS cf
       |  FROM r, ctt),
       |m AS (SELECT id, cf, list_sort(cf[2:64])[32] AS med FROM c),
       |ph AS (SELECT id,
       |  CAST(list_sum(list_transform(generate_series(1,32), k ->
       |    CASE WHEN cf[k+1] > med THEN ($pow2)[k] ELSE 0 END)) AS BIGINT) AS ph_lo,
       |  CAST(list_sum(list_transform(generate_series(33,63), k ->
       |    CASE WHEN cf[k+1] > med THEN ($pow2)[k-32] ELSE 0 END)) AS BIGINT) AS ph_hi
       |  FROM m)""".stripMargin
  }

  /** Predicted average-hash CTEs (the synthetic PNG pixel rule is known,
    * so the oracle computes the hash the real decoder will produce) —
    * shared by the mm_ahash and mm_neardup_pairs mirrors; yields
    * `ah(id, ah_lo, ah_hi)`. */
  private[queries] val ahashCtes: String = {
    val pow2 = (0 to 31).map(k => 1L << k).mkString("[", ",", "]")
    s"""g AS (SELECT doc_id AS id, 1 + doc_id%48 AS w, 1 + doc_id%32 AS h FROM documents),
       |p AS (SELECT id, list_transform(generate_series(0,63), k ->
       |    (id + 7*((k%8)*w//8) + 13*((k//8)*h//8)) % 256) AS px FROM g),
       |m AS (SELECT id, px, list_sum(px)//64 AS mean FROM p),
       |ah AS (SELECT id,
       |  CAST(list_sum(list_transform(generate_series(0,31), k ->
       |    CASE WHEN px[k+1] >= mean THEN ($pow2)[k+1] ELSE 0 END)) AS BIGINT) AS ah_lo,
       |  CAST(list_sum(list_transform(generate_series(32,63), k ->
       |    CASE WHEN px[k+1] >= mean THEN ($pow2)[k-31] ELSE 0 END)) AS BIGINT) AS ah_hi
       |  FROM m)""".stripMargin
  }

  /** Predicted difference-hash CTEs (9×8 grid, right-neighbor strictly
    * greater) — shared by the mm_dhash and mm_fingerprints mirrors;
    * yields `dh(id, dh_lo, dh_hi)`. */
  private[queries] val dhashCtes: String = {
    val pow2 = (0 to 31).map(k => 1L << k).mkString("[", ",", "]")
    def pxl(cExpr: String) =
      s"(id + 7*(($cExpr)*w//9) + 13*((k//8)*h//8)) % 256"
    val cond = s"${pxl("k%8+1")} > ${pxl("k%8")}"
    s"""g AS (SELECT doc_id AS id, 1 + doc_id%48 AS w, 1 + doc_id%32 AS h FROM documents),
       |dh AS (SELECT id,
       |  CAST(list_sum(list_transform(generate_series(0,31), k ->
       |    CASE WHEN $cond THEN ($pow2)[k+1] ELSE 0 END)) AS BIGINT) AS dh_lo,
       |  CAST(list_sum(list_transform(generate_series(32,63), k ->
       |    CASE WHEN $cond THEN ($pow2)[k-31] ELSE 0 END)) AS BIGINT) AS dh_hi
       |  FROM g)""".stripMargin
  }

  /** Dynamic-gap session mirror (batch query + streaming twin): merged
    * half-open intervals by the classic sweep — a row opens a new
    * session iff its start reaches the running MAX end of every earlier
    * interval in the key (not just the previous row's: an early
    * long-gap event may cover a later short-gap one); session end =
    * max member end. */
  private val dynSessionSql: String =
    """WITH x AS (SELECT user_id, event_id, epoch_us(ts) AS s,
      |    epoch_us(ts) + CASE WHEN event_type = 'purchase'
      |      THEN 300000000 ELSE 1800000000 END AS e
      |  FROM events),
      |y AS (SELECT *, max(e) OVER (PARTITION BY user_id
      |    ORDER BY s, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |  FROM x),
      |z AS (SELECT *, CASE WHEN pmax IS NULL OR s >= pmax
      |    THEN 1 ELSE 0 END AS new_s FROM y),
      |g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
      |    ORDER BY s, event_id) AS sid FROM z)
      |SELECT user_id, min(s) AS start_us, max(e) AS end_us,
      |  count(*) AS n_events
      |FROM g GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin

  /** Native session_window mirror (batch `sessionize_native` + its
    * streaming twin): a session splits where the gap reaches 30 min, and
    * its end is the last event + 30 min. */
  private val nativeSessionSql: String =
    s"""WITH x AS (
      |  SELECT user_id, ts, value, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
      |    THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |y AS (SELECT user_id, ts, value,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
      |  FROM x)
      |SELECT user_id, epoch_us(min(ts)) AS start_us,
      |  epoch_us(max(ts) + INTERVAL 30 MINUTE) AS end_us,
      |  count(*) AS n_events, ${dsumSql("value")} AS sess_sum
      |FROM y GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin

  /** MERGE/CDC apply mirror, projected to (k, v): the final alive state
    * both ingest routes of the streaming merge reproduce. */
  private val mergeSql: String =
    s"""WITH ${RelationalQueries.mergeCtes}
      |SELECT k, CASE WHEN op = 'upsert' THEN sv ELSE tv END AS v
      |FROM m WHERE op IS NULL OR op = 'upsert'
      |ORDER BY k""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // multimodal: binary payload → batch decode via mapPartitions
    "mm_decode_stub" -> ((s, dir) => {
      val docs = Multimodal.withBlob(t(s, dir, "documents"), "text")
      Multimodal.decodeStub(docs, "doc_id", "blob")
    }),

    // multimodal: REAL decode — javax.imageio parses deterministic PNGs;
    // the oracle predicts dims + red-channel checksum from the generation
    // rule, proving the codec roundtrip end-to-end
    "mm_decode_real" -> ((s, dir) => {
      // documents is a single small parquet split, but the codec work is
      // CPU-bound per row — repartition to all cores BEFORE the encode/
      // decode stage (at 100 TB the many input splits parallelize
      // naturally; for a tiny file the explicit repartition is the plan)
      val ids = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val docs = Multimodal.withPngBlob(ids, "doc_id")
      Multimodal.decodeImages(docs, "doc_id", "img")
    }),

    // multimodal: real decode + nearest-neighbor resize to 16x8; oracle
    // predicts the resized red-channel checksum from the generation rule
    "mm_resize" -> ((s, dir) => {
      val ids = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val docs = Multimodal.withPngBlob(ids, "doc_id")
      Multimodal.resizeImages(docs, "doc_id", "img", tw = 16, th = 8)
    }),

    // multimodal: difference-hash (gradient perceptual hash) — same
    // codec roundtrip, adjacent-pixel comparisons on a 9x8 grid
    "mm_dhash" -> ((s, dir) => {
      val ids = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val docs = Multimodal.withPngBlob(ids, "doc_id")
      Multimodal.differenceHash(docs, "doc_id", "img")
    }),

    // multimodal: batch featurizer (fixed-size vector), exact milli units
    "mm_ahash" -> ((s, dir) => {
      // perceptual average-hash over REAL decoded pixels (8x8 NN grid,
      // integer mean threshold) -- the classic visual near-dup
      // fingerprint; hash emitted as two positive 32-bit halves
      val ids = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val docs = Multimodal.withPngBlob(ids, "doc_id")
      Multimodal.averageHash(docs, "doc_id", "img")
    }),

    // multimodal: DCT perceptual hash — frequency-domain fingerprint,
    // integer separable DCT over the 32x32 sampled grid
    "mm_phash" -> ((s, dir) => {
      val ids = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val docs = Multimodal.withPngBlob(ids, "doc_id")
      Multimodal.perceptualHash(docs, "doc_id", "img")
    }),

    // multimodal: the full visual fingerprint family (aHash + dHash +
    // pHash) from ONE decode per row — the codec is the dominant
    // per-row cost, so a curation pass wanting all three pays it once
    "mm_fingerprints" -> ((s, dir) => {
      val ids = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val docs = Multimodal.withPngBlob(ids, "doc_id")
      Multimodal.fingerprints(docs, "doc_id", "img")
    }),

    "mm_phash_pairs" -> ((s, dir) => {
      // frequency-domain visual near-dup: pHash through the SHARED
      // banding+verify core (exact recall hd<=3 by pigeonhole)
      val ids = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val docs = Multimodal.withPngBlob(ids, "doc_id")
      Multimodal.nearDupPairsPhash(docs, "doc_id", "img", maxHd = 3)
        
    }),

    "mm_neardup_pairs" -> ((s, dir) => {
      // visual near-dup: aHash bands -> candidate equi-join -> exact
      // hamming verify (recall exact for hd<=3 by pigeonhole)
      val ids = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val docs = Multimodal.withPngBlob(ids, "doc_id")
      Multimodal.nearDupPairs(docs, "doc_id", "img", maxHd = 3)
        
    }),

    "mm_featurize" -> ((s, dir) => {
      val docs = Multimodal.withBlob(t(s, dir, "documents"), "text")
      Multimodal.featurizeStub(docs, "doc_id", "blob", dim = 8)
        .select(col("id"), posexplode(col("feat")).as(Seq("k", "v")))
        .select(col("id"), col("k").cast("long").as("k"),
          round(col("v") * 1000).cast("long").as("v_milli"))
        
    }),

    // structured streaming: tumbling-window resample; MemoryStream source
    // (the file-source + temp-dir-symlink variant lives in StreamOps too —
    // same plan, ~3s more harness overhead per run)
    "stream_resample" -> ((s, dir) => {
      StreamOps.resampleOnceMem(s, dir, "1 day")
        .select(epochUs(col("bucket")).as("bucket_us"), col("day_sum"), col("n"))
        
    }),

    // structured streaming: SLIDING windows (1 day wide, 6 h slide) —
    // every event lands in 4 overlapping buckets; state ∝ open windows
    "stream_sliding" -> ((s, dir) => {
      StreamOps.resampleOnceMem(s, dir, "1 day", "stream_sliding_sink",
          slide = Some("6 hours"))
        .select(epochUs(col("bucket")).as("bucket_us"), col("day_sum"), col("n"))
        
    }),

    // streaming PARQUET sink roundtrip: append-mode windowed agg →
    // exactly-once file sink → batch read-back; oracle = batch resample
    "stream_parquet_sink" -> ((s, dir) =>
      StreamOps.resampleToParquetOnce(s, dir, "1 day")),

    // streaming near-dup against an indexed historical corpus: static
    // MinHash band index + stream-static equi-join + exact Jaccard
    // verify; the only state is the verified-pair dedup
    "stream_neardup" -> ((s, dir) =>
      StreamOps.nearDupOnce(s, dir, ND_MOD, ND_TAU, "stream_neardup_q_sink")
        ),

    // streaming exact dedup: dropDuplicates under the streaming engine;
    // output projected to content-derived columns (which doc_id survives
    // depends on arrival order — content identity does not)
    "stream_dedup" -> ((s, dir) => {
      StreamOps.dedupOnce(s, dir, Seq("text"), "stream_dedup_q_sink")
        .select(md5(col("text").cast("binary")).as("h"), col("n_chars"))
        
    }),

    // stateful streaming sessionize (flatMapGroupsWithState): emits the
    // CLOSED sessions; each user's tail session remains in state
    "stream_sessionize" -> ((s, dir) => {
      StreamOps.sessionizeOnceMem(s, dir, gapMinutes = 30)
        
    }),

    // stateful streaming sessionize with EVENT-TIME state expiry: tails
    // close via watermark-driven timeout, so the oracle is the FULL batch
    // sessionization — proving stream==batch AND that state is freed
    "stream_sessionize_et" -> ((s, dir) => {
      StreamOps.sessionizeOnceEventTime(s, dir, gapMinutes = 30)
        
    }),

    // NATIVE streaming sessionization: Spark's built-in session_window
    // operator under readStream (engine-managed state merge + watermark
    // eviction) — every session closed by the sentinel-driven watermark,
    // so the oracle is the full batch session_window result
    "stream_sessionize_native" -> ((s, dir) => {
      StreamOps.sessionizeOnceNative(s, dir, gapMinutes = 30)
        
    }),

    // DYNAMIC-gap streaming sessionization: the per-event-timeout
    // session_window under readStream — engine merges variable-width
    // half-open intervals in state; shares the batch dynamic oracle
    "stream_sessionize_dynamic" -> ((s, dir) =>
      StreamOps.sessionizeDynamicOnce(s, dir)
        ),

    // FILE-SOURCE dynamic-gap sessionization twin: time-range waves +
    // two sentinel WAVES (built from the bounds aggregate, no collect)
    // drain the watermark; five genuine microbatches, oracle shared
    // with the batch sessionize_dynamic
    "stream_sessionize_dyn_file" -> ((s, dir) =>
      StreamOps.sessionizeDynamicOnceFile(s, dir)
        ),

    // multimodal: frame sampling — n equal-stride byte slices per blob
    // (video-frame-extraction stand-in); frames cast back to text so the
    // oracle can mirror the slicing with plain substring arithmetic
    "mm_frames" -> ((s, dir) => {
      val docs = Multimodal.withBlob(t(s, dir, "documents"), "text")
      Multimodal.frameSample(docs, "blob", n = 4)
        .select(col("doc_id").as("id"), posexplode(col("frames")).as(Seq("k", "frame")))
        .select(col("id"), col("k").cast("long").as("k"),
          col("frame").cast("string").as("ftxt"))
        
    }),

    // STREAM-STATIC broadcast enrichment join (dimension lookup per
    // micro-batch, zero streaming join state)
    "stream_static_join" -> ((s, dir) =>
      StreamOps.staticJoinOnce(s, dir)),

    // UPDATE-mode running aggregation: per-batch deltas (changed keys
    // only); final state reconstructed from each key's highest count,
    // oracled == the batch groupBy
    "stream_update" -> ((s, dir) =>
      StreamOps.updateCountsOnce(s, dir)),

    // COMPLETE output mode: running corpus vocabulary over a parquet
    // stream — state bounded by the distinct-token set, final table ==
    // the batch top-k (the oracle)
    "stream_vocab" -> ((s, dir) =>
      StreamOps.vocabOnce(s, dir, k = 50)),

    // STREAMING winnowing: the codegen'd fingerprint selection as a
    // stateless append-mode projection over the ingest — shares the
    // batch text_winnowing oracle
    "stream_winnow" -> ((s, dir) =>
      StreamOps.winnowOnce(s, dir, ExtQueries.WINNOW_W)),

    // STREAMING attribution: pending-touch ListState credits the whole
    // list at conversion arrival (the online form of the batch reverse
    // carry); append mode — emissions are final; shares rel_attribution
    "stream_attribution" -> ((s, dir) =>
      StreamOps.attributionOnce(s, dir)),

    // FILE-SOURCE attribution twin: pending-touch ListState across
    // time-range-wave microbatches, no row visits the driver; shares
    // rel_attribution's oracle verbatim
    "stream_attribution_file" -> ((s, dir) =>
      StreamOps.attributionOnce(s, dir, "stream_attr_file_sink", Ingest.Files)),

    // STREAMING SCD2: per-key open-version ValueState closes/opens
    // versions as attribute changes arrive; the bounded replay
    // reconstructs the batch version table and shares its oracle
    "stream_scd2" -> ((s, dir) =>
      StreamOps.scd2Once(s, dir)),

    // FILE-SOURCE SCD2 twin: the same state machine fed by the
    // production no-collect path — time-range waves as parquet files,
    // one genuine microbatch per wave, RocksDB state across them
    "stream_scd2_file" -> ((s, dir) =>
      StreamOps.scd2Once(s, dir, "stream_scd2_file_sink", Ingest.Files)),

    // STREAMING Holt smoothing: the exact unbounded fixed-point integer
    // recursion online (constant state per key), multi-batch replay;
    // oracle replays the identical floor-div arithmetic as a recursive
    // CTE — all-BIGINT, no tolerance anywhere
    "stream_holt" -> ((s, dir) =>
      StreamOps.holtOnce(s, dir)),

    // STREAMING heavy hitters: shard-keyed bounded Misra-Gries state
    // (transformWithState, RocksDB) tracks candidates online; one batch
    // pass exact-counts the streamed candidate set — output EXACT ==
    // the batch text_heavy_hitters, whose oracle it shares
    "stream_heavy_hitters" -> ((s, dir) =>
      StreamOps.heavyHittersOnce(s, dir, ExtQueries.HH_COUNTERS,
          ExtQueries.HH_SHARE, shards = 8)
        ),

    // FILE-SOURCE twin of stream_heavy_hitters: doc_id-range waves →
    // one parquet file each → maxFilesPerTrigger=1 microbatches; MG
    // state carries across genuine batch boundaries, no row visits the
    // driver; output EXACT == batch, oracle shared
    "stream_hh_file" -> ((s, dir) =>
      StreamOps.heavyHittersOnce(s, dir, ExtQueries.HH_COUNTERS,
          ExtQueries.HH_SHARE, shards = 8, sinkName = "stream_hh_file_sink",
          ingest = Ingest.Files)
        ),

    // the batch OHLC aggregate unchanged under streaming state —
    // min_by/max_by are declarative aggs, so the engine maintains them
    // incrementally; oracle == batch OHLC
    "stream_ohlc" -> ((s, dir) =>
      StreamOps.ohlcOnce(s, dir)),

    // ONLINE decontamination: streaming docs probe the static benchmark
    // gram set (stream-static broadcast join, zero join state); COMPLETE
    // aggregate state = one entry per contaminated doc; oracle == the
    // batch text_decontam SQL verbatim
    "stream_decontam" -> ((s, dir) =>
      StreamOps.decontamOnce(s, dir, evalMod = ExtQueries.DECON_MOD,
        n = ExtQueries.DECON_N)),

    // ONLINE contamination-rate audit: eval examples stream against the
    // static corpus gram inventory (stream-static left join), one
    // complete-mode agg — shares the batch text_contam_rate oracle
    "stream_contam_rate" -> ((s, dir) =>
      StreamOps.contamRateOnce(s, dir, evalMod = ExtQueries.DECON_MOD,
        n = ExtQueries.DECON_N)),

    // ONLINE PII dashboard: stateless detector projection + one
    // complete-mode (source, pattern) agg — shares the batch oracle
    "stream_pii_stats" -> ((s, dir) =>
      StreamOps.piiStatsOnce(s, dir, ExtQueries.PII_PATTERNS)
        ),

    // ONLINE CDC chunk indexing: content-local boundaries make the op
    // stateless under streaming (append mode, projection+Generate
    // unchanged) — shares the batch doc_cdc_chunks oracle
    "stream_cdc_chunks" -> ((s, dir) =>
      StreamOps.cdcChunksOnce(s, dir, ExtQueries.CDC_N, ExtQueries.CDC_K)
        ),

    // ONLINE C4 line cleaning: pure per-row projection over the file
    // stream (append mode, zero state/shuffle) — the batch code path and
    // its oracle verbatim
    "stream_clean_lines" -> ((s, dir) =>
      StreamOps.cleanLinesOnce(s, dir, ExtQueries.CLEAN_WPL,
        ExtQueries.CLEAN_MIN_WORDS, ExtQueries.CLEAN_MIN_LINES,
        ExtQueries.CLEAN_BAD)),

    // STATEFUL streaming funnel: per-user (t1, t2, t3) funnel front
    // advanced by a mapGroupsWithState machine — three longs of state
    // per user, Update mode; on the bounded replay the final rows
    // equal batch rel_funnel, whose oracle it shares
    "stream_funnel" -> ((s, dir) =>
      StreamOps.funnelOnce(s, dir)),

    // the SAME funnel on Spark 4's transformWithState arbitrary-state
    // API (named typed ValueState, RocksDB provider) — modern-API twin,
    // same oracle
    "stream_funnel_tws" -> ((s, dir) =>
      StreamOps.funnelOnceTws(s, dir)),

    // streaming cohort matrix: per-user first-week ValueState (one long)
    // emits activity cells; bounded replay == batch rel_cohort
    "stream_cohort" -> ((s, dir) =>
      StreamOps.cohortOnceTws(s, dir)),

    // ONLINE transition matrix: per-key last-event ValueState emits
    // (prev → cur) steps as events arrive; append-mode emissions are
    // final and the sink aggregate equals the batch lead-window path
    // report, whose oracle it shares
    "stream_transitions" -> ((s, dir) =>
      StreamOps.transitionsOnce(s, dir)),

    // FILE-SOURCE transitions twin: last-event ValueState across
    // time-range-wave microbatches on the no-collect ingest path;
    // shares rel_transitions' oracle verbatim
    "stream_transitions_file" -> ((s, dir) =>
      StreamOps.transitionsOnce(s, dir, "stream_transitions_file_sink", Ingest.Files)),

    // ONLINE MERGE/CDC apply: per-key ValueState row value maintained
    // from a change feed (materialized-view maintenance) — snapshot
    // streams as seq-0 upserts, then the change batch, across three
    // replay batches; final alive state == the batch mergeUpsert
    "stream_merge" -> ((s, dir) =>
      StreamOps.mergeOnceTws(s, dir)),

    // the SAME MERGE/CDC apply over the production NO-COLLECT ingest
    // path: each seq wave is its own parquet file, readStream +
    // maxFilesPerTrigger=1 replays the waves as genuine microbatches
    // (no row visits the driver), RocksDB ValueState carries across —
    // proves the file-source end of the stateful pipeline the
    // MemoryStream harness twins only approximate (r12 verdict item 7)
    "stream_merge_file" -> ((s, dir) =>
      StreamOps.mergeOnceTws(s, dir, "stream_merge_file_sink", Ingest.Files)),

    // ONLINE tokenizer-coverage tagging: the batch-fit top-k vocabulary
    // ships as a plan literal; each arriving doc is tagged with token /
    // OOV counts in one stateless projection — the live feed of the
    // batch text_oov_rate (its per-source aggregate reproduces it)
    "stream_oov_tag" -> ((s, dir) =>
      StreamOps.oovTagOnce(s, dir, 50)),

    // ONLINE PQ index maintenance: the batch-fit codebook ships as plan
    // literals and every arriving vector encodes to its M nearest
    // codewords in one stateless projection (exact-BIGINT distances,
    // lower-cid ties) — append mode, zero state; rows == the batch
    // PQ codes, so the oracle is the codes CTE chain verbatim
    "stream_pq_encode" -> ((s, dir) =>
      StreamOps.pqEncodeOnce(s, dir)),

    // ONLINE PQ maintenance with the TRAINED book: the streaming index
    // serves pqCodebookTrained's Lloyd-fitted artifact — one codebook
    // shared by the batch search path and the ingest encoder, so the
    // two can never drift; oracle = the trainedCbCtes chain's codes
    "stream_pq_trained" -> ((s, dir) =>
      StreamOps.pqEncodeTrainedOnce(s, dir)),

    // ONLINE k-means labeling: the batch Lloyd-fitted centroids ship as
    // plan literals and every arriving vector labels itself with its
    // nearest centroid in one stateless projection (exact-BIGINT
    // distances, (d2, cid) ties) — append mode, zero state; rows == the
    // batch sim_kmeans labeling, so its Lloyd-chain oracle is shared
    "stream_kmeans" -> ((s, dir) =>
      StreamOps.kMeansAssignOnce(s, dir)),

    // ONLINE domain quota: per-domain ValueState kept-count, first-come
    // admission in doc_id order across TWO replay batches — the crawl
    // frontier's "stop a template-heavy domain the moment its quota
    // fills" rule; equals the batch first-cap-by-id window
    "stream_domain_cap" -> ((s, dir) =>
      StreamOps.domainCapOnceTws(s, dir, cap = 5)),

    // ONLINE phrase watchlist: per-doc occurrence counts from one
    // stateless projection (per-doc-local start-position filter) —
    // identical counts to the batch positional-index search, so the
    // twin shares text_phrase_search's oracle verbatim
    "stream_phrase_hits" -> ((s, dir) =>
      StreamOps.phraseHitsOnce(s, dir, graft.queries.ExtQueries.PHRASES)
        ),

    // ONLINE weighted admission control: hash(id) < w·M with the quality
    // weight computed inline — stateless codegen'd filter, append mode;
    // membership is a pure function of (id, w) so it shares the batch
    // sample_weighted oracle verbatim
    "stream_weighted" -> ((s, dir) =>
      StreamOps.weightedSampleOnce(s, dir)),

    // ONLINE importance/quality scoring: the DSIR table is fitted batch-
    // side (a model artifact), then every streaming doc is scored in a
    // stateless projection fold — append mode, zero state, the shape of
    // tagging a live ingest with quality weights
    "stream_dsir_score" -> ((s, dir) => {
      val docs = graft.queries.Tables.t(s, dir, "documents")
      val tbl = graft.operators.Mixture.importanceTable(docs, "text",
          org.apache.spark.sql.functions.col("doc_id") % ExtQueries.DSIR_MOD === 0,
          ExtQueries.DSIR_B)
        .orderBy("bucket").collect().map(_.getLong(1)).toSeq
      StreamOps.importanceScoreOnce(s, dir, tbl, ExtQueries.DSIR_B)
    }),

    // stream-stream INTERVAL JOIN (view → click attribution within 4 h):
    // watermarked self-join with a time-range predicate — the engine
    // bounds both sides' join state from the condition; oracle = the
    // identical batch interval join
    "stream_interval_join" -> ((s, dir) =>
      StreamOps.intervalJoinOnce(s, dir, "view", "click", windowMinutes = 240)
        ),

    // LEFT-OUTER stream-stream interval join: unmatched views emit with
    // null click columns once the watermark proves no click can arrive —
    // the watermark-driven null-emission mode (sentinel-pair drain)
    "stream_interval_join_left" -> ((s, dir) =>
      StreamOps.intervalJoinOnce(s, dir, "view", "click", windowMinutes = 240,
          joinType = "left_outer", sinkName = "stream_interval_join_left_sink")
        ),

    // gap-based sessionization, skew-safe two-pass plan ((user, day)
    // pre-split + boundary merge; differential spec proves == single-pass)
    "sessionize" -> ((s, dir) =>
      Sessionize.sessionsSkewSafe(t(s, dir, "events"), gapMinutes = 30)
        ),

    // DYNAMIC-gap sessionization — session_window with a per-event gap
    // expression (Spark's variable-timeout native form: a purchase
    // closes its session after 5min, browsing after 30min). Sessions
    // are merged half-open event intervals [ts, ts+gap); the oracle
    // replays the interval sweep with a running-max-end window, so an
    // early long-gap event correctly covers a later short-gap one
    "sessionize_dynamic" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev.groupBy(col("user_id"), session_window(col("ts"),
          when(col("event_type") === "purchase", "5 minutes")
            .otherwise("30 minutes")))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          epochUs(col("session_window.start")).as("start_us"),
          epochUs(col("session_window.end")).as("end_us"),
          col("n_events"))
        
    }),

    // native session_window sessionization — Spark's built-in session
    // operator (split when gap ≥ 30min; window end = last event + gap)
    "sessionize_native" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sess_sum"))
        .select(col("user_id"),
          epochUs(col("session_window.start")).as("start_us"),
          epochUs(col("session_window.end")).as("end_us"),
          col("n_events"), col("sess_sum"))
        
    })
  )

  def oracleSql: Map[String, String] = Map(
    "mm_decode_stub" ->
      """SELECT doc_id AS id, CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes,
        |  CAST(octet_length(text::BLOB)%640 AS BIGINT) AS width,
        |  CAST(octet_length(text::BLOB)%480 AS BIGINT) AS height,
        |  CASE octet_length(text::BLOB)%3 WHEN 0 THEN 'rgb' WHEN 1 THEN 'rgba' ELSE 'gray' END AS format
        |FROM documents ORDER BY id""".stripMargin,
    "mm_decode_real" ->
      """SELECT doc_id AS id, CAST(1 + doc_id % 48 AS BIGINT) AS width,
        |  CAST(1 + doc_id % 32 AS BIGINT) AS height, 'png' AS format,
        |  CAST(list_sum(flatten(list_transform(generate_series(0, CAST(doc_id%32 AS INT)), y ->
        |    list_transform(generate_series(0, CAST(doc_id%48 AS INT)), x ->
        |      (doc_id + 7*x + 13*y) % 256)))) AS BIGINT) AS pix_sum
        |FROM documents ORDER BY id""".stripMargin,
    "mm_resize" ->
      """SELECT doc_id AS id, CAST(16 AS BIGINT) AS rw, CAST(8 AS BIGINT) AS rh,
        |  CAST(list_sum(flatten(list_transform(generate_series(0, 7), ty ->
        |    list_transform(generate_series(0, 15), tx ->
        |      (doc_id + 7*((tx*(1+doc_id%48))//16) + 13*((ty*(1+doc_id%32))//8)) % 256)))) AS BIGINT) AS pix_sum
        |FROM documents ORDER BY id""".stripMargin,
    "mm_ahash" ->
      s"""WITH $ahashCtes
         |SELECT id, ah_lo, ah_hi FROM ah ORDER BY id""".stripMargin,
    // pHash mirror: predicted 32x32 grid -> the SAME integer DCT table
    // as a literal (cos rounded once at table build, engines never call
    // cos), separable row/column sums, lower-median threshold
    "mm_phash" ->
      s"""WITH $phashCtes
         |SELECT id, ph_lo, ph_hi FROM ph ORDER BY id""".stripMargin,
    // pHash-pair mirror: shared phashCtes + the aHash pair maker's
    // OR-band join and exact hamming verify
    "mm_phash_pairs" ->
      s"""WITH $phashCtes
         |SELECT da, db, hd FROM (
         |  SELECT a.id AS da, b.id AS db,
         |    CAST(bit_count(xor(a.ph_lo, b.ph_lo))
         |       + bit_count(xor(a.ph_hi, b.ph_hi)) AS BIGINT) AS hd
         |  FROM ph a JOIN ph b ON a.id < b.id AND (
         |    a.ph_lo % 65536 = b.ph_lo % 65536 OR a.ph_lo // 65536 = b.ph_lo // 65536
         |    OR a.ph_hi % 65536 = b.ph_hi % 65536 OR a.ph_hi // 65536 = b.ph_hi // 65536))
         |WHERE hd <= 3 ORDER BY da, db""".stripMargin,
    // dHash mirror: same predicted pixel rule on the 9x8 grid, bit set
    // iff the right neighbor strictly exceeds the left
    "mm_dhash" ->
      s"""WITH $dhashCtes
         |SELECT id, dh_lo, dh_hi FROM dh ORDER BY id""".stripMargin,
    // one-decode fingerprint mirror: the three predicted hashes joined
    // on id — each subquery carries its own WITH so the shared CTE
    // names (g, m) never collide
    "mm_fingerprints" ->
      s"""SELECT id, ah_lo, ah_hi, dh_lo, dh_hi, ph_lo, ph_hi
         |FROM (WITH $ahashCtes SELECT id, ah_lo, ah_hi FROM ah) a
         |JOIN (WITH $dhashCtes SELECT id, dh_lo, dh_hi FROM dh) d USING (id)
         |JOIN (WITH $phashCtes SELECT id, ph_lo, ph_hi FROM ph) p USING (id)
         |ORDER BY id""".stripMargin,
    // visual near-dup mirror: same predicted hashes, OR-of-bands
    // candidate rule (equivalent result set to the banded equi-join),
    // exact 64-bit hamming verify
    "mm_neardup_pairs" ->
      s"""WITH $ahashCtes
         |SELECT da, db, hd FROM (
         |  SELECT a.id AS da, b.id AS db,
         |    CAST(bit_count(xor(a.ah_lo, b.ah_lo))
         |       + bit_count(xor(a.ah_hi, b.ah_hi)) AS BIGINT) AS hd
         |  FROM ah a JOIN ah b ON a.id < b.id AND (
         |    a.ah_lo % 65536 = b.ah_lo % 65536 OR a.ah_lo // 65536 = b.ah_lo // 65536
         |    OR a.ah_hi % 65536 = b.ah_hi % 65536 OR a.ah_hi // 65536 = b.ah_hi // 65536))
         |WHERE hd <= 3 ORDER BY da, db""".stripMargin,
    "mm_featurize" ->
      """WITH ks AS (SELECT unnest(generate_series(0, 7)) AS k),
        |v AS (SELECT doc_id AS id, k,
        |  CAST(list_sum(list_transform(string_split(text,''), (c,i) ->
        |    CASE WHEN (i-1)%8 = k THEN ascii(c) ELSE 0 END)) AS BIGINT) % 1000 AS v_milli
        |  FROM documents CROSS JOIN ks)
        |SELECT id, CAST(k AS BIGINT) AS k, v_milli FROM v ORDER BY id, k""".stripMargin,
    "stream_resample" ->
      s"""SELECT epoch_us(date_trunc('day', ts)) AS bucket_us,
         |  ${dsumSql("value")} AS day_sum, count(*) AS n
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // sliding windows in SQL: an event at t belongs to the 4 slide-aligned
    // buckets starting at floor(t/6h)·6h − k·6h, k = 0..3 (width/slide = 4)
    "stream_sliding" ->
      s"""WITH ev AS (SELECT epoch_us(ts) AS tus, value FROM events),
         |x AS (SELECT (tus // 21600000000) * 21600000000 - k * 21600000000 AS bucket_us, value
         |  FROM ev, UNNEST(generate_series(0, 3)) AS u(k))
         |SELECT bucket_us, ${dsumSql("value")} AS day_sum, count(*) AS n
         |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_dedup" ->
      """SELECT DISTINCT md5(text) AS h, n_chars FROM documents ORDER BY h""",
    // batch mirror of the stream-static near-dup: same shingle CTEs as
    // the batch minhash queries, candidates restricted to
    // (stream doc) × (historical doc) by the id split
    "stream_neardup" -> {
      import graft.functions.MirrorHash
      s"""WITH ${ExtQueries.distinctShingleCte},
         |g AS (SELECT id, ds, nd, ${MirrorHash.minhashSigSql("ds")} AS sig FROM d),
         |bd AS (SELECT id, ds, nd, ${MirrorHash.bandsSql("sig")} AS bands FROM g),
         |ex AS (SELECT id, i AS bi, bands[i] AS bv FROM bd,
         |  UNNEST(generate_series(1, ${MirrorHash.NUM_BANDS})) AS u(i)),
         |cand AS (SELECT DISTINCT sx.id AS sid, hx.id AS hid
         |  FROM ex sx JOIN ex hx ON sx.bi = hx.bi AND sx.bv = hx.bv
         |  WHERE sx.id % $ND_MOD = 0 AND hx.id % $ND_MOD <> 0),
         |v AS (SELECT sid, hid,
         |    CAST(len(list_intersect(a.ds, b.ds)) AS BIGINT) AS common,
         |    a.nd AS na, b.nd AS nb
         |  FROM cand JOIN bd a ON a.id = sid JOIN bd b ON b.id = hid)
         |SELECT sid AS id, hid AS match_id, common/(na+nb-common) AS j FROM v
         |WHERE common/(na+nb-common) >= $ND_TAU ORDER BY id, match_id""".stripMargin
    },
    "stream_parquet_sink" ->
      s"""SELECT epoch_us(date_trunc('day', ts)) AS bucket_us,
         |  ${dsumSql("value")} AS day_sum, count(*) AS n
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // batch gap-sessions minus each user's LAST session (still open in
    // the streaming state when the bounded replay ends)
    "stream_sessionize" ->
      s"""WITH x AS (
         |  SELECT user_id, ts, value, event_id,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         |    THEN 1 ELSE 0 END AS new_s
         |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |y AS (SELECT user_id, ts, value,
         |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
         |  FROM x),
         |s AS (SELECT user_id, CAST(sid AS BIGINT) AS session_idx, count(*) AS n_events,
         |    ${dsumSql("value")} AS sess_sum,
         |    epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us
         |  FROM y GROUP BY 1, 2),
         |m AS (SELECT user_id, max(session_idx) AS mx FROM s GROUP BY 1)
         |SELECT s.user_id, s.session_idx, s.n_events, s.sess_sum, s.start_us, s.end_us
         |FROM s JOIN m USING (user_id) WHERE s.session_idx < m.mx
         |ORDER BY s.user_id, s.session_idx""".stripMargin,
    // every session (tails included — all closed by the sentinel-driven
    // watermark): the plain batch gap-session result
    "stream_sessionize_et" ->
      s"""WITH x AS (
         |  SELECT user_id, ts, value, event_id,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         |    THEN 1 ELSE 0 END AS new_s
         |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |y AS (SELECT user_id, ts, value,
         |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
         |  FROM x)
         |SELECT user_id, CAST(sid AS BIGINT) AS session_idx, count(*) AS n_events,
         |  ${dsumSql("value")} AS sess_sum,
         |  epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us
         |FROM y GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // dynamic-gap mirror: merged half-open intervals by the classic
    // sweep — a row opens a new session iff its start reaches the
    // running MAX end of every earlier interval in the key (not just
    // the previous row's: an early long-gap event may cover a later
    // short-gap one); session end = max member end
    "stream_sessionize_dynamic" -> dynSessionSql,
    "stream_sessionize_dyn_file" -> dynSessionSql,
    "sessionize_dynamic" -> dynSessionSql,
    // the streaming engine must produce exactly the batch session_window
    // result once all sessions close
    "stream_sessionize_native" -> nativeSessionSql,
    // mirror of Multimodal.frameSample's stride arithmetic: stride =
    // greatest(1, floor(len/n)), frame i = 16 bytes from 1 + i*stride
    "mm_frames" ->
      """SELECT doc_id AS id, CAST(i AS BIGINT) AS k,
        |  substring(text, CAST(1 + i * greatest(1, length(text) // 4) AS INT), 16) AS ftxt
        |FROM documents, UNNEST(generate_series(0, 3)) AS u(i)
        |ORDER BY id, k""".stripMargin,
    "stream_static_join" ->
      s"""WITH p AS (SELECT user_id, ${dsumSql("value")} AS user_total,
         |    count(*) AS user_n FROM events GROUP BY 1)
         |SELECT e.event_id, e.user_id, p.user_total, p.user_n
         |FROM events e JOIN p USING (user_id)
         |ORDER BY e.event_id""".stripMargin,
    "stream_update" ->
      s"""SELECT user_id, count(*) AS n, ${dsumSql("value")} AS vsum
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_vocab" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(text,' ')) AS token FROM documents)
        |GROUP BY 1 ORDER BY n DESC, token LIMIT 50""".stripMargin,
    "stream_decontam" -> ExtQueries.deconSql,
    "stream_contam_rate" -> ExtQueries.contamRateSql,
    "stream_pii_stats" -> ExtQueries.oracleSql("text_pii_stats"),
    "stream_cdc_chunks" -> ExtQueries.oracleSql("doc_cdc_chunks"),
    "stream_clean_lines" -> ExtQueries.cleanLinesSql,
    "stream_weighted" -> ExtQueries.oracleSql("sample_weighted"),
    "stream_heavy_hitters" -> ExtQueries.oracleSql("text_heavy_hitters"),
    "stream_hh_file" -> ExtQueries.oracleSql("text_heavy_hitters"),
    "stream_winnow" -> ExtQueries.oracleSql("text_winnowing"),
    "stream_holt" ->
      """WITH RECURSIVE ev AS (SELECT user_id, event_id,
        |    CAST(CAST(value AS DECIMAL(20,6))*1000000 AS BIGINT) AS vm,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |st AS (
        |  SELECT e2.user_id, CAST(2 AS BIGINT) AS rn, e2.event_id,
        |    e2.vm AS l, e2.vm - e1.vm AS b
        |  FROM ev e1 JOIN ev e2 ON e1.user_id = e2.user_id
        |    AND e1.rn = 1 AND e2.rn = 2
        |  UNION ALL
        |  SELECT e.user_id, e.rn, e.event_id,
        |    (e.vm + st.l + st.b)//2 AS l,
        |    (3*((e.vm + st.l + st.b)//2 - st.l) + 7*st.b)//10 AS b
        |  FROM st JOIN ev e ON e.user_id = st.user_id AND e.rn = st.rn + 1)
        |SELECT event_id, l AS level_micro, l + b AS forecast_micro
        |FROM st ORDER BY event_id""".stripMargin,
    "stream_phrase_hits" -> ExtQueries.oracleSql("text_phrase_search"),
    "stream_scd2" -> RelationalQueries.oracleSql("rel_scd2"),
    "stream_scd2_file" -> RelationalQueries.oracleSql("rel_scd2"),
    "stream_attribution" -> RelationalQueries.oracleSql("rel_attribution"),
    "stream_attribution_file" -> RelationalQueries.oracleSql("rel_attribution"),
    "stream_funnel" -> RelationalQueries.oracleSql("rel_funnel"),
    "stream_funnel_tws" -> RelationalQueries.oracleSql("rel_funnel"),
    "stream_cohort" -> RelationalQueries.oracleSql("rel_cohort"),
    "stream_transitions" -> RelationalQueries.oracleSql("rel_transitions"),
    "stream_transitions_file" -> RelationalQueries.oracleSql("rel_transitions"),
    "stream_merge" -> mergeSql,
    "stream_merge_file" -> mergeSql,
    "stream_oov_tag" ->
      """WITH w AS (SELECT doc_id AS id, string_split(text,' ') AS ws FROM documents),
        |v AS (SELECT token FROM (SELECT token, count(*) AS c
        |    FROM (SELECT unnest(string_split(text,' ')) AS token FROM documents)
        |    GROUP BY 1)
        |  ORDER BY c DESC, token LIMIT 50),
        |vl AS (SELECT list(token) AS vt FROM v)
        |SELECT id, CAST(len(ws) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(ws, x -> NOT list_contains(vt, x))) AS BIGINT) AS n_oov
        |FROM w, vl ORDER BY id""".stripMargin,
    // batch sim_kmeans mirror verbatim (the streaming rows == the batch
    // labeling): shared Lloyd CTE chain, final (d2, cid) arg-min
    "stream_kmeans" ->
      s"""WITH f AS (SELECT vec_id AS id,
         |    ${graft.operators.Similarity.fixedPointSql("embedding")} AS fx
         |  FROM embeddings),
         |n AS (SELECT id, fx,
         |  CAST(list_sum(list_transform(fx, x -> x*x)) AS BIGINT) AS nrm FROM f),
         |${graft.operators.Similarity.trainedCbCtes(1, 8, 64, 2)},
         |cc AS (SELECT cid, cvec AS cfx,
         |    CAST(list_sum(list_transform(cvec, x -> x*x)) AS BIGINT) AS cnrm
         |  FROM cbt2),
         |sc1 AS (SELECT n.id, cc.cid,
         |  CAST(n.nrm - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> n.fx[i]*cc.cfx[i])) AS BIGINT) + cc.cnrm AS BIGINT) AS d2
         |  FROM n, cc)
         |SELECT id, cid, d2 FROM (SELECT id, cid, d2,
         |    row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
         |  FROM sc1) WHERE rn = 1 ORDER BY id""".stripMargin,
    "stream_pq_encode" ->
      s"""WITH f AS (SELECT vec_id AS id,
         |    ${graft.operators.Similarity.fixedPointSql("embedding")} AS fx
         |  FROM embeddings),
         |cb0 AS (SELECT id AS cid, fx AS cfx FROM f
         |  ORDER BY ${graft.operators.Similarity.seedHashSql("id")}, id LIMIT 16),
         |ms AS (SELECT unnest(generate_series(0, 3)) AS m),
         |cb AS (SELECT m, cid, cfx[m*16+1 : m*16+16] AS cvec FROM cb0, ms),
         |enc0 AS (SELECT f.id, cb.m, cb.cid,
         |    CAST(list_sum(list_transform(generate_series(1, 16),
         |      i -> (f.fx[cb.m*16+i] - cb.cvec[i]) * (f.fx[cb.m*16+i] - cb.cvec[i]))) AS BIGINT) AS d2
         |  FROM f, cb),
         |codes AS (SELECT id, m, cid FROM (SELECT *,
         |    row_number() OVER (PARTITION BY id, m ORDER BY d2, cid) AS rn
         |  FROM enc0) WHERE rn = 1)
         |SELECT id, CAST(m AS BIGINT) AS m, cid FROM codes
         |ORDER BY id, m""".stripMargin,
    "stream_pq_trained" ->
      s"""WITH f AS (SELECT vec_id AS id,
         |    ${graft.operators.Similarity.fixedPointSql("embedding")} AS fx
         |  FROM embeddings),
         |${graft.operators.Similarity.trainedCbCtes(4, 16, 16, 2, src = "f")},
         |enc0 AS (SELECT sv.id, cb.m, cb.cid,
         |    CAST(list_sum(list_transform(generate_series(1, 16),
         |      i -> (sv.svec[i] - cb.cvec[i]) * (sv.svec[i] - cb.cvec[i]))) AS BIGINT) AS d2
         |  FROM sv JOIN cbt2 cb USING (m)),
         |codes AS (SELECT id, m, cid FROM (SELECT *,
         |    row_number() OVER (PARTITION BY id, m ORDER BY d2, cid) AS rn
         |  FROM enc0) WHERE rn = 1)
         |SELECT id, CAST(m AS BIGINT) AS m, cid FROM codes
         |ORDER BY id, m""".stripMargin,
    "stream_domain_cap" ->
      """WITH tagged AS (SELECT doc_id,
        |  'site' || CAST(doc_id % 50 AS VARCHAR) || '.com' AS domain
        |  FROM documents),
        |r AS (SELECT doc_id, domain,
        |  CAST(row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS BIGINT) AS key_rank
        |  FROM tagged)
        |SELECT doc_id, domain, key_rank FROM r
        |WHERE key_rank <= 5 ORDER BY doc_id""".stripMargin,
    "stream_dsir_score" ->
      s"""WITH ${ExtQueries.dsirCtes}
         |SELECT id, score FROM sc ORDER BY id""".stripMargin,
    "stream_ohlc" ->
      """SELECT epoch_us(date_trunc('day', ts)) AS bucket_us,
        |  first(value ORDER BY ts, event_id) AS open,
        |  max(value) AS high, min(value) AS low,
        |  last(value ORDER BY ts, event_id) AS close
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_interval_join" ->
      """SELECT l.user_id, l.event_id AS ea, r.event_id AS eb,
        |  epoch_us(l.ts) AS lts_us, epoch_us(r.ts) AS rts_us
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        |  AND l.event_type = 'view' AND r.event_type = 'click'
        |  AND r.ts >= l.ts
        |  AND epoch_us(r.ts) <= epoch_us(l.ts) + 14400000000
        |ORDER BY ea, eb""".stripMargin,
    "stream_interval_join_left" ->
      """SELECT l.user_id, l.event_id AS ea, r.event_id AS eb,
        |  epoch_us(l.ts) AS lts_us, epoch_us(r.ts) AS rts_us
        |FROM (SELECT * FROM events WHERE event_type = 'view') l
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
        |  ON l.user_id = r.user_id
        |  AND r.ts >= l.ts
        |  AND epoch_us(r.ts) <= epoch_us(l.ts) + 14400000000
        |ORDER BY ea, eb""".stripMargin,
    "sessionize_native" -> nativeSessionSql,
    "sessionize" ->
      s"""WITH x AS (
         |  SELECT user_id, ts, value, event_id,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         |    THEN 1 ELSE 0 END AS new_s
         |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |y AS (SELECT user_id, ts, value,
         |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
         |  FROM x)
         |SELECT user_id, CAST(sid AS BIGINT) AS session_idx, count(*) AS n_events,
         |  ${dsumSql("value")} AS sess_sum,
         |  epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us
         |FROM y GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
