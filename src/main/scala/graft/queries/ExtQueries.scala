package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.MirrorHash
import graft.operators.{Binning, Bpe, Chunking, Decontaminate, Multimodal, Dedup, Layout, Mixture, Packing, Ranking, Sampling, Similarity, TextAnalysis}
import Tables._

/** Training-data-pipeline extension queries (north star in BASELINE.json):
  * text analysis, dedup (exact / Jaccard / MinHash-LSH / SimHash /
  * embedding), similarity search (brute-force + LSH ANN), multimodal
  * decode plumbing — each with a DuckDB oracle built from the same
  * MirrorHash arithmetic, so both engines compute bit-identical results.
  */
object ExtQueries {
  import MirrorHash.{P, wordHashesSql, shingleHashesSql, minhashSql, simhashSql, simhashBandsSql, bandsSql, minhashSigSql, fingerprintSql, winnowSelectSql}

  private val JACCARD_TAU = 0.6
  // weighted (multiset) jaccard threshold — lower than the set form
  // because multiplicity mismatches depress the ratio on the fixture
  private val WJACCARD_TAU = 0.5
  // deterministic-sampling query config (mirrored literally in the oracle)
  private val SAMPLE_FRAC = 0.3
  private val SPLIT_WEIGHTS = Seq(0.8, 0.1, 0.1)
  private val SPLIT_LABELS = Seq("train", "val", "test")
  private val STRAT_FRACTIONS = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.2)
  private val STRAT_DEFAULT = 0.1
  private val SAMPLE_K = 100
  // training-mixture config: fractional epochs per source (2.5 = two
  // full copies + a deterministic half slice; 0 drops the source) and a
  // per-source token budget for quality-ordered selection
  private val MIX_RATES = Map("src0" -> 2.5, "src1" -> 0.25, "src2" -> 0.0)
  private val MIX_DEFAULT = 1.0
  private val MIX_BUDGET = 4000L
  private val SIMHASH_HD = 4
  private val COS_TAU = 0.45
  // chunking / ranking config (documents average ~54 tokens — W=16/OV=4
  // yields ~5 chunks per doc; terms drawn from the synthetic vocabulary)
  private val CHUNK_W = 16
  private val CHUNK_OV = 4
  private val VOCAB_K = 50
  private val CURATE_MIN_WORDS = 40L
  private val BM25_TERMS = Seq("join", "data", "vector", "stream", "slow")
  private val BM25_K = 10
  // cut() bin edges/labels for the price-binning query (right-closed)
  private val CUT_EDGES = Seq(0.0, 10000.0, 25000.0, 50000.0, 75000.0, 1.0e9)
  private val CUT_LABELS = Seq("xs", "s", "m", "l", "xl")
  // embedding-LSH config, PINNED for the static DuckDB mirror (the
  // operator itself defaults to auto-sized tables — Dedup.autoTables)
  private val LSH_TABLES = 150
  // JL random-projection sketch width (the LSH planes' pre-sign dots)
  private val RP_K = 8
  private val LSH_PLANES = 8
  // decontamination config: 8-gram collisions (the published convention),
  // every 17th doc is the held-out "benchmark" set. private[queries]:
  // StreamQueries' streaming twin must use the SAME constants as the
  // shared deconSql oracle or a config edit would silently split them
  private[queries] val DECON_N = 8
  private[queries] val DECON_MOD = 17
  // incremental-dedup corpus split (matches the streaming near-dup
  // twin's histMod): incoming = id % 3 == 0, reference = the rest
  private val INC_MOD = 3
  // Naive-Bayes domain classifier: hashed-unigram feature buckets (20
  // source classes × 512 buckets keeps the fitted model ~10k longs)
  private val NB_B = 512
  // calibration reliability bins: 0.25-nat margin bins, overflow at 9
  // (sf0.01 margins: median ~0.42 nats, max ~5 nats)
  private val NB_CAL_W = 250000L
  private val NB_CAL_MAXBIN = 9
  // SemDeDup coarse-quantizer size: derived (max(4, ceil(sqrt n)) from a
  // count) — the query exercises the production auto-sizing path and the
  // oracle computes the identical C in SQL (IEEE sqrt is correctly
  // rounded in both engines, so the derived integer always agrees)
  // WIMBD duplicated-n-gram audit length
  private val DUPNG_N = 4
  // exact two-pass heavy hitters: MG counters per partition and the
  // count threshold share (tokens with count >= ceil(n/HH_SHARE));
  // counters >= share is the candidate-superset guarantee
  private[queries] val HH_COUNTERS = 1000
  private[queries] val HH_SHARE = 500
  // label-propagation rounds (synchronous, min-label tie-break)
  private val LP_ITERS = 3
  // k-core peeling: core order and fixed peel rounds
  private val KCORE_K = 2
  private val KCORE_ITERS = 3
  // winnowing (MOSS) fingerprints: window over 3-word shingle hashes
  // (guarantee length w+2 = 6 words; expected density 2/(w+1) = 0.4)
  // and the shared-fingerprint evidence floor for overlap pairs
  private[queries] val WINNOW_W = 4
  private val WINNOW_MIN_SHARED = 2L
  // temperature mixture planning: epochs granted to the largest source
  private val MIX_MAX_EPOCHS = 4.0
  // UniMax water-filling: per-source epoch cap and total token budget,
  // sized so the sf0.01 corpus genuinely splits (9 sources cap, 11
  // share the remainder with a nonzero division remainder)
  private val UNIMAX_EPOCHS = 2
  private val UNIMAX_BUDGET = 52000L
  // quality-gate thresholds (Gopher-style corpus policy; splits the
  // synthetic corpus ~313 keep / 187 drop at sf0.01)
  private val GATE_MIN_WORDS = 40L
  private val GATE_MAX_TOP_SHARE = 0.12
  private val GATE_MAX_DUP_BIGRAM = 0.10
  // sequence-packing config: 512-token training sequences, 8 independent
  // packing streams (≈ docs of ~54 tokens → ~9 docs per sequence)
  private val PACK_BUDGET = 512L
  private val PACK_BUCKETS = 8
  // length-bucketed packing: 16-token bands, tail band at >= 7*16 tokens
  private val PACK_LEN_WIDTH = 16L
  private val PACK_LEN_MAXB = 7

  // BPE merge-learning rounds (tokenizer-training step 2)
  private val BPE_ROUNDS = 6

  // per-source boilerplate-line removal: a 12-word line is boilerplate
  // within its source when ≥2 distinct docs of that source contain it
  private val BP_MIN_DF = 2
  // keep-rate threshold calibration target (keep the top 40% by score)
  private val KEEP_RATE = 0.4
  // content-defined chunking: 4-gram rolling-hash boundary, boundary
  // probability 1/16 per position → mean chunk ≈ 16 tokens.
  // private[queries]: the streaming twin shares these constants
  private[queries] val CDC_N = 4
  private[queries] val CDC_K = 16
  // KMV distinct-gram sketch: bottom-32 of the 4-gram hashes surviving
  // the g < P/16 threshold prefilter (invFrac sized so the sf0.01
  // corpus — ~1.5k distinct grams/source — exercises the KMV path, not
  // only the small-source inverse-probability fallback)
  private val KMV_N = 4
  private val KMV_K = 32
  private val KMV_INV = 16
  // margin-criterion mining: side split by vec_id parity, 4-NN
  // neighborhoods, accept margin ≥ 1 (pair beats its neighborhoods)
  private val MARGIN_K = 4
  private val MARGIN_TAU = 1.0
  // greedy k-center diversity selection rounds
  private val KCENTER_K = 4
  // MMR diversification: query vector, relevance pool, picks, lambda
  private val MMR_QID = 2L
  private val MMR_POOL = 16
  private val MMR_K = 6
  private val MMR_LAMBDA = 700000L
  // RRF hybrid fusion: per-ranker list depth and fused top-k
  private val RRF_DEPTH = 10
  private val RRF_TOPK = 5
  // ANN evaluation: ground-truth/candidate list size (matches the
  // sim_ivf_topk configuration so the recall row audits that query)
  private val RECALL_K = 3
  /** Lloyd rounds for the trained-codebook PQ variants (shared by the
    * Spark queries and their DuckDB mirrors). */
  private val PQ_ITERS = 2
  // hard-negative mining / kNN label-noise audit neighborhood size
  private val HARDNEG_K = 5
  private val NOISE_K = 5
  // per-doc TF-IDF keyword count
  private val TFIDF_K = 5
  // positional-index phrase search probes (2- and 3-word, present in
  // data). private[queries]: the streaming phrase-hits twin shares them
  private[queries] val PHRASES = Seq("table hash", "customer join", "slow hash batch")
  // KWIC context window (tokens each side)
  private val PHRASE_CTX = 3
  // curriculum capstone keeps stages 0..1 (the easy half)
  private val CURR_EASY_MAX = 1L
  // curriculum staging: equi-width nll stages over the DSIR_B-bucket LM
  private val CURR_STAGES = 4
  // k-anonymity: minimum equivalence-class size and length-bucket width
  private val K_ANON = 5L
  private val K_ANON_LEN = 64L
  // l-diversity floor over the sensitive stand-in (n_chars mod 10)
  private val L_DIV = 3L
  // domain curation: per-domain doc quota and blocked domains
  private val DOMAIN_CAP = 5
  private val DOMAIN_BLOCKLIST = Seq("site7.com", "site13.com", "site21.com")
  // temporal dedup window (abstract time units, t = doc_id mod 1000)
  private val TEMPORAL_W = 10L
  // cross-source quantile-matched selection cutoff (top quartile)
  private val QUANTILE_CUT = 0.75
  // collocation mining: min bigram support and report size
  private val COLL_MIN = 5L
  private val COLL_K = 50
  // D4 prototype-prune fraction (exactly binary-representable)
  private val D4_FRAC = 0.25
  // PageRank power-iteration rounds (oracle unrolls the same count)
  private val PR_ITERS = 3
  // containment threshold (|A∩B|/|A| — asymmetric)
  private val CONTAIN_TAU = 0.7
  // interpolated bigram LM weight λ = 3/4 (rational — sum stays BIGINT)
  private val LAM_NUM = 3
  private val LAM_DEN = 4
  // per-stratum exact-k draw size
  private val STRATK_K = 20
  // PII audit detector classes (portable regex core, see redact).
  // private[queries]: the streaming twin must share these constants
  private[queries] val PII_PATTERNS = Seq(
    "digits" -> "[0-9]+",
    "long_digits" -> "[0-9]{4,}",
    "alnum_id" -> "[a-z]+[0-9]+")

  /** Unrolled BPE rounds for the DuckDB mirror: round i counts adjacent
    * pairs of state s{i-1}, picks the (cnt desc, l, r) top pair, and
    * rewrites the state with the same padded double-replace as
    * [[graft.operators.Bpe.learnMerges]]. */
  private def bpeCtes(rounds: Int): String = {
    val blocks = (1 to rounds).map { i =>
      // state rewrite via SCALAR subqueries, not a cross join: a round
      // whose pair pool ran dry has an EMPTY t$i, and `FROM w$i, t$i`
      // would annihilate the state (0 rows) while Spark's early-return
      // passes it through — the CASE no-ops on the NULL scalar instead
      val lk = s"(SELECT l FROM t$i)"
      val rk = s"(SELECT r FROM t$i)"
      val pat = s"' '||$lk||' '||$rk||' '"
      val rp = s"' '||$lk||'_'||$rk||' '"
      s"""w$i AS (SELECT doc_id, s FROM s${i - 1}),
         |x$i AS (SELECT string_split(s,' ') AS ws FROM w$i),
         |e$i AS (SELECT ws, unnest(generate_series(1, len(ws)-1)) AS j FROM x$i),
         |c$i AS (SELECT ws[CAST(j AS INT)] AS l, ws[CAST(j AS INT)+1] AS r,
         |    count(*) AS cnt FROM e$i GROUP BY 1, 2),
         |t$i AS MATERIALIZED (SELECT l, r, cnt FROM c$i
         |  ORDER BY cnt DESC, l, r LIMIT 1),
         |s$i AS MATERIALIZED (SELECT doc_id,
         |    CASE WHEN $lk IS NULL THEN s
         |    ELSE trim(replace(replace(' '||s||' ', $pat, $rp), $pat, $rp)) END AS s
         |  FROM w$i)""".stripMargin
    }
    s"s0 AS (SELECT doc_id, text AS s FROM documents),\n" + blocks.mkString(",\n")
  }

  private val BPE_BATCH_ROUNDS = 2
  private val BPE_BATCH_PER = 3

  /** Unrolled batched-BPE rounds: per round, a ranked candidate pool
    * (top 4·perRound), the non-recursive disjointness rule (kept iff no
    * higher-ranked candidate shares a symbol), and a rewrite stacking
    * the ≤perRound kept merges via scalar subqueries (missing ranks
    * no-op through the CASE). Mirrors [[Bpe.learnMergesBatched]]. */
  private def bpeBatchedCtes(rounds: Int, perRound: Int): String = {
    val blocks = (1 to rounds).map { i =>
      val rewrite = (1 to perRound).foldLeft("' '||s||' '") { (acc, k) =>
        val lk = s"(SELECT l FROM kk$i WHERE rnk = $k)"
        val rk = s"(SELECT r FROM kk$i WHERE rnk = $k)"
        val pat = s"' '||$lk||' '||$rk||' '"
        val rp = s"' '||$lk||'_'||$rk||' '"
        s"CASE WHEN $lk IS NULL THEN $acc ELSE replace(replace($acc, $pat, $rp), $pat, $rp) END"
      }
      s"""x$i AS (SELECT string_split(s,' ') AS ws FROM s${i - 1}),
         |e$i AS (SELECT ws, unnest(generate_series(1, len(ws)-1)) AS j FROM x$i),
         |c$i AS (SELECT ws[CAST(j AS INT)] AS l, ws[CAST(j AS INT)+1] AS r,
         |    count(*) AS cnt FROM e$i GROUP BY 1, 2),
         |p$i AS (SELECT l, r, cnt,
         |    row_number() OVER (ORDER BY cnt DESC, l, r) AS rn FROM c$i
         |  ORDER BY cnt DESC, l, r LIMIT ${perRound * 4}),
         |k$i AS (SELECT l, r, cnt, rn FROM p$i a WHERE NOT EXISTS (
         |    SELECT 1 FROM p$i b WHERE b.rn < a.rn
         |      AND (b.l = a.l OR b.l = a.r OR b.r = a.l OR b.r = a.r))),
         |kk$i AS MATERIALIZED (SELECT l, r, cnt,
         |  row_number() OVER (ORDER BY rn) AS rnk
         |  FROM k$i ORDER BY rn LIMIT $perRound),
         |s$i AS MATERIALIZED (SELECT trim($rewrite) AS s FROM s${i - 1})""".stripMargin
    }
    s"s0 AS (SELECT text AS s FROM documents),\n" + blocks.mkString(",\n")
  }

  // DSIR importance model: hash-bucket count and the deterministic
  // target-subset rule (every 37th doc models the "high-quality" set)
  private[queries] val DSIR_B = 4096
  private[queries] val DSIR_MOD = 37
  private val DSIR_K = 100

  // C4 line-cleaning policy, shared by the batch query and its streaming
  // twin (one set of constants → one oracle)
  private[queries] val CLEAN_WPL = 12
  private[queries] val CLEAN_MIN_WORDS = 8
  private[queries] val CLEAN_MIN_LINES = 2
  private[queries] val CLEAN_BAD = Seq("slow")

  /** Oracle for text_clean_lines AND its streaming twin: the CLEAN_*
    * policy constants inlined into the DuckDB mirror of
    * segmentLines ∘ cleanLines. */
  private[queries] lazy val cleanLinesSql: String = {
    val w = CLEAN_WPL
    s"""WITH w AS (SELECT doc_id AS id, string_split(text,' ') AS ws FROM documents),
       |seg AS (SELECT id, list_transform(generate_series(0, (len(ws)+${w - 1})//$w - 1),
       |    i -> array_to_string(ws[i*$w+1 : i*$w+$w], ' ')) AS lines FROM w),
       |f AS (SELECT id, lines, list_filter(lines, l ->
       |      len(string_split(l,' ')) >= $CLEAN_MIN_WORDS
       |      ${CLEAN_BAD.map(b => s"AND NOT list_contains(string_split(l,' '), '$b')")
                  .mkString(" ")}) AS fl FROM seg),
       |d AS (SELECT id, lines,
       |    list_filter(fl, (l,i) -> list_position(fl, l) = i) AS kept FROM f)
       |SELECT id, array_to_string(kept, chr(10)) AS text,
       |  CAST(len(kept) AS BIGINT) AS n_lines,
       |  CAST(len(lines) - len(kept) AS BIGINT) AS n_dropped
       |FROM d WHERE len(kept) >= $CLEAN_MIN_LINES ORDER BY id""".stripMargin
  }

  /** DSIR model CTEs (fit + per-doc score), shared by the top-K selection
    * oracle and the streaming scoring twin. */
  private[queries] lazy val dsirCtes: String =
    s"""wh AS (SELECT doc_id, ${MirrorHash.wordHashesSql()} AS whs FROM documents),
       |e AS (SELECT doc_id, unnest(whs) % $DSIR_B AS bucket FROM wh),
       |bc AS (SELECT bucket, count(*) AS cs,
       |    count(*) FILTER (WHERE doc_id % $DSIR_MOD = 0) AS ct
       |  FROM e GROUP BY bucket),
       |tot AS (SELECT sum(cs) AS ts, sum(ct) AS tt FROM bc),
       |spine AS (SELECT unnest(generate_series(0, ${DSIR_B - 1})) AS bucket),
       |l AS (SELECT spine.bucket,
       |    CAST(round(1000000.0 * ln(
       |      CAST((COALESCE(bc.ct,0)+1) * (tot.ts+$DSIR_B) AS DOUBLE)
       |      / CAST((COALESCE(bc.cs,0)+1) * (tot.tt+$DSIR_B) AS DOUBLE)))
       |      AS BIGINT) AS lw
       |  FROM spine LEFT JOIN bc ON spine.bucket = bc.bucket, tot),
       |la AS (SELECT list(lw ORDER BY bucket) AS a FROM l),
       |sc AS (SELECT doc_id AS id,
       |    CAST(list_sum(list_transform(whs, w -> a[CAST(w % $DSIR_B AS INT) + 1]))
       |      AS BIGINT) AS score
       |  FROM wh, la)""".stripMargin

  /** ONE jaccard candidate pipeline (the inverted-index self-join, ~2.6s
    * at sf0.1) feeds `dedup_jaccard` AND both cluster finishers: a dedup
    * job computes the pair list once, eagerly checkpointed, and every
    * cluster and report reads it (see [[graft.core.Caches.memo]]). */
  private def jaccardShared(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.core.Caches.memo(docs, s"jaccardPairs:$JACCARD_TAU")(
      Dedup.jaccardPairs(docs, "doc_id", "text", JACCARD_TAU).localCheckpoint(true))
  }

  /** ONE NB model fit feeds classify, calibration, and the confidence
    * gate; the fit is a driver-side model artifact, |classes|·B longs. */
  private def nbModel(docs: DataFrame): Seq[(String, (Long, Seq[Long]))] =
    graft.core.Caches.memo(docs, s"nbModel:$NB_B") {
      val rows = Mixture.nbTable(docs, "text", "source", NB_B).collect()
      val tables = rows.groupBy(_.getString(0)).map { case (c, rs) =>
        c -> rs.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq }
      val priors = Mixture.nbPriors(docs, "source").collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      tables.map { case (c, tb) => c -> (priors(c), tb) }.toSeq
    }

  /** ONE embedding-LSH pair pipeline feeds `dedup_embedding` AND the
    * embedding dedup pipeline, like [[jaccardShared]]. */
  private def embeddingShared(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.core.Caches.memo(emb, s"embeddingPairs:$COS_TAU:$LSH_TABLES")(
      Dedup.embeddingPairs(emb, "vec_id", "embedding", COS_TAU, tables = LSH_TABLES)
        .localCheckpoint(true))
  }

  def memoizedRddIds: Set[Int] = graft.core.Caches.memoizedRddIds

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- approximate aggregates ----
    // HLL++ count-distinct and the GK quantile sketch aren't
    // oracle-mirrorable bit-for-bit, so the query emits the EXACT
    // aggregates (DuckDB-mirrored) plus integer error-bound flags the
    // sketch must satisfy — a wrong sketch flips a flag and fails the
    // hash compare. Both sketches are deterministic on fixed input
    // (hash-based, no RNG), so the flags are stable across runs.
    "approx_aggs" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      // separate single-pass aggs joined at 1×1, NOT one combined agg:
      // mixing count(DISTINCT) with the percentile buffers would put the
      // multi-distinct Expand (3× rows) under the percentile aggregator
      // — measured 6.6s vs ~2s split at sf0.1
      val nd = li.agg(
        countDistinct(col("l_partkey")).as("exact_nd"),
        approx_count_distinct(col("l_partkey")).as("__acd"))
      // the PRODUCTION path: GK sketch over the full column (mergeable
      // partials, bounded state)
      val sk = li.agg(
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("__p50"))
      // the exact-percentile VALIDATION arm is scale-bounded: percentile()
      // is an ImperativeAggregate whose final buffer accumulates every
      // input value — a single-task sort of the whole column at 100 TB.
      // Feed it a deterministic ~100k-row uniform subsample via a hash
      // THRESHOLD: keep rows with rowHash < floor(k·M/n) (n from a cheap
      // count broadcast back at 1x1). Fully scale-free — no global
      // top-k: the r10 form's orderBy(__h).limit(k) was
      // TakeOrderedAndProject, whose final task merges k rows FROM EVERY
      // partition (100M rows at 1000 executors); the threshold filter
      // keeps Binomial(n, k/n) ≈ k ± √k rows with zero cross-partition
      // coordination. Below k rows the threshold clamps to ≥ M so the
      // "sample" IS the full column (exact median at test SFs); at scale
      // a ~100k uniform sample's median sits ~0.16% off in quantile
      // space (sqrt(0.25/1e5)) — far inside the 2% gate, so the flag is
      // stable.
      val rowId = col("l_orderkey") * 8 + col("l_linenumber") // unique: linenumber ∈ 1..7
      val cnt = li.agg(count(lit(1)).as("__n"))
      val ex = li
        .select(col("l_extendedprice"),
          graft.operators.Sampling.rowHash(rowId).as("__h"))
        .crossJoin(broadcast(cnt))
        // k·M ≈ 1e5·2^31 ≈ 2.1e14: no overflow; integer division keeps
        // the threshold deterministic and engine-mirrorable
        .filter(col("__h") < lit(100000L) * graft.operators.Sampling.M / col("__n"))
        .agg(expr("percentile(l_extendedprice, 0.5D)").as("__p50_exact"))
      nd.crossJoin(sk).crossJoin(ex)
        .select(col("exact_nd"),
          (abs(col("__acd") - col("exact_nd")) / col("exact_nd") < 0.05)
            .cast("int").as("acd_ok"),
          (abs(col("__p50") - col("__p50_exact")) / col("__p50_exact") < 0.02)
            .cast("int").as("p50_ok"))
    }),

    // ---- text analysis ----
    "text_token_count" -> ((s, dir) =>
      TextAnalysis.tokenCounts(t(s, dir, "documents"), "doc_id", "text")),
    "text_quality" -> ((s, dir) =>
      TextAnalysis.quality(t(s, dir, "documents"), "doc_id", "text")),
    "text_lang_id" -> ((s, dir) =>
      TextAnalysis.langId(t(s, dir, "documents"), "doc_id", "text")),
    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(t(s, dir, "documents"), "doc_id", "text")),
    "text_heavy_hitters" -> ((s, dir) =>
      // exact heavy hitters in two passes: bounded Misra-Gries candidate
      // generation (no distinct-token shuffle), then exact counts of the
      // broadcast candidate set only — output is exact and layout-
      // invariant even though the intermediate summaries are not
      TextAnalysis.heavyHitters(t(s, dir, "documents"), "text",
          HH_COUNTERS, HH_SHARE)
        ),
    "text_winnowing" -> ((s, dir) =>
      // MOSS winnowed fingerprints: codegen'd O(grams) monotonic-deque
      // sliding-minimum selection pipelined inside the scan projection —
      // zero shuffle, ~2/(w+1) of grams survive per document
      TextAnalysis.winnow(t(s, dir, "documents"), "doc_id", "text", WINNOW_W)
        ),
    "dedup_winnow_incremental" -> ((s, dir) => {
      // daily-batch winnow overlap: arrivals (id % INC_MOD == 0) probe
      // the historical fingerprint index cross-side only — the
      // reference corpus never self-joins
      val docs = t(s, dir, "documents")
      Dedup.incrementalWinnow(
        docs.filter(col("doc_id") % INC_MOD =!= 0),
        docs.filter(col("doc_id") % INC_MOD === 0),
        "doc_id", "text", WINNOW_W, WINNOW_MIN_SHARED)
        
    }),
    "dedup_winnow_pairs" -> ((s, dir) =>
      // substring-overlap pairs from winnowed fingerprints: equi-join on
      // the fingerprint hash (never all-pairs), any shared >= w+2-word
      // run guaranteed to surface
      Dedup.winnowPairs(t(s, dir, "documents"), "doc_id", "text", WINNOW_W,
          WINNOW_MIN_SHARED)
        ),
    "doc_chunks" -> ((s, dir) =>
      // context-window chunking with overlap — shuffle-free posexplode
      Chunking.chunk(t(s, dir, "documents"), "doc_id", "text", CHUNK_W, CHUNK_OV)
        ),
    "text_bm25" -> ((s, dir) =>
      // BM25-rational relevance top-k (log-free idf: bit-exact cross-engine)
      Ranking.bm25TopK(t(s, dir, "documents"), "doc_id", "text", BM25_TERMS, BM25_K)
        ),
    "pipe_rag_retrieval" -> ((s, dir) => {
      // RAG index+retrieve capstone in ONE declarative plan: chunk the
      // corpus into context windows (zero-shuffle posexplode pipelined
      // in the scan stage), derive a provenance-preserving chunk id
      // (doc*64+idx: chunk counts are bounded by 64 at W=16/S=12 for
      // any doc under ~770 tokens), and BM25-rank chunks per query
      // term — retrieval shuffles only the sparse postings, the corpus
      // text moves once
      // ENFORCED invariant, not just commented: chunk_idx >= 64 would
      // silently collide chunk_ids across docs (corrupting provenance
      // and BM25 doc-length stats) and the oracle computes the same
      // packing so it could never catch it. assert_true raises at scan
      // time on violation; on the pass path it is NULL, so +coalesce(0)
      // keeps chunk_id numerically identical and un-prunable
      val guard = coalesce(
        assert_true(col("chunk_idx") < 64, lit(
          "pipe_rag_retrieval: doc exceeds 64 chunks; chunk_id = doc*64+idx would collide"))
          .cast("long"), lit(0L))
      val chunks = Chunking.chunk(t(s, dir, "documents"), "doc_id", "text",
          CHUNK_W, CHUNK_OV)
        .select((col("id") * 64 + col("chunk_idx") + guard).as("chunk_id"),
          col("chunk_text"))
      Ranking.bm25TopK(chunks, "chunk_id", "chunk_text", BM25_TERMS, BM25_K)
        
    }),
    "feat_cut_bins" -> ((s, dir) =>
      // pandas cut + value_counts: fixed-edge binning, one hash aggregate
      Binning.valueCounts(t(s, dir, "lineitem"),
        Binning.cut(col("l_extendedprice"), CUT_EDGES, CUT_LABELS))),
    "feat_equidepth" -> ((s, dir) => {
      // pandas qcut (equi-depth binning): ntile over the TOTAL order
      // (value, key-pair tiebreak) — deterministic, engine-identical
      // bin assignment; per-bin support stats in one agg. One global
      // rank is the disclosed cost (qcut's semantics ARE a global
      // rank); the keep-rate histogram threshold is the scale-out
      // alternative when a sample-based cut suffices
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      t(s, dir, "lineitem")
        .withColumn("bin", ntile(10).over(w).cast("long"))
        .groupBy("bin").agg(count(lit(1)).as("n"),
          min("l_extendedprice").as("lo"), max("l_extendedprice").as("hi"))
        
    }),
    "layout_zorder" -> ((s, dir) => {
      // Z-order layout audit over (price in micro-units, partkey): the
      // per-bucket min/max table a Morton-sorted parquet layout hands a
      // 2-D range scan for file skipping. Price spans ~2^36 so the
      // power-of-two quantizer's shift path is exercised; partkey spans
      // <2^16 and quantizes by identity
      val li = t(s, dir, "lineitem").select(
        (col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(20, 6))
          * lit(1000000L)).cast("long").as("price_micro"),
        col("l_partkey").cast("long").as("pk"))
      Layout.zorderStats(li, "price_micro", "pk", 8)
    }),
    "layout_compaction" -> ((s, dir) => {
      // small-file compaction manifest: a synthetic file inventory
      // (one "file" per order, size from the price, partitioned by
      // priority) bin-packed to 1 MiB output groups by the next-fit
      // exclusive-cumsum rule — per-partition window + one aggregate
      val inv = t(s, dir, "orders").select(
        col("o_orderpriority").as("part"),
        col("o_orderkey").as("file_id"),
        ((col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(20, 6))
          * 100).cast("long") % 100000L + 1024L).as("bytes"))
      Layout.compactionPlan(inv, "part", "file_id", "bytes", 1L << 20)
        
    }),
    "text_vocab" -> ((s, dir) =>
      // tokenizer/BPE step 1: corpus top-k vocabulary — explode pipelined
      // in the scan, map-side partial counts, TakeOrderedAndProject
      TextAnalysis.vocab(t(s, dir, "documents"), "text", VOCAB_K)),
    "text_oov_rate" -> ((s, dir) =>
      // tokenizer-coverage audit: per-source fraction of tokens outside
      // the corpus top-k vocabulary — broadcast vocab join, one source-
      // keyed aggregate, exact counts + one mirrored division
      TextAnalysis.oovRate(t(s, dir, "documents"), "source", "text", VOCAB_K)
        ),
    "text_ngrams" -> ((s, dir) =>
      // top-k word bigrams — the array zipped with its own tail, one pass
      TextAnalysis.bigrams(t(s, dir, "documents"), "text", VOCAB_K)),
    "text_dup_ngrams" -> ((s, dir) =>
      // WIMBD-style corpus audit: the most-duplicated word 4-grams —
      // one projection builds the gram array, map-side partial counts,
      // TakeOrderedAndProject top-k
      TextAnalysis.ngramTopK(t(s, dir, "documents"), "text", DUPNG_N, VOCAB_K)),
    "text_repetition" -> ((s, dir) =>
      // Gopher repetition filters: top-word share + duplicate-bigram
      // fraction, pure per-row folds, zero shuffle
      TextAnalysis.repetition(t(s, dir, "documents"), "doc_id", "text")
        ),
    "text_repetition_full" -> ((s, dir) =>
      // the whole Gopher Table-A1 repetition suite in one codegen'd
      // pass per doc: top 2/3/4-gram char fractions + duplicated
      // 5/6/7/8-gram coverage fractions
      TextAnalysis.repetitionFull(t(s, dir, "documents"), "doc_id", "text")
        ),
    "text_clean_lines" -> ((s, dir) =>
      // C4 §2.2 line-level cleaning over a deterministic 12-word line
      // segmentation of the flat-word corpus: min-words floor, badword
      // blacklist, in-doc keep-first line dedup, short-doc drop — all
      // per-row HOF folds, zero shuffle
      TextAnalysis.cleanLines(
        TextAnalysis.segmentLines(t(s, dir, "documents"), "doc_id", "text",
          CLEAN_WPL),
        "id", "text", minWordsPerLine = CLEAN_MIN_WORDS,
        minLines = CLEAN_MIN_LINES, badWords = CLEAN_BAD)),
    "dedup_paragraphs" -> ((s, dir) =>
      // C4 corpus-wide span dedup: keep the globally FIRST occurrence of
      // each distinct line, reassemble docs — min(struct) per line (full
      // map-side combine: skew-proof on boilerplate lines), two shuffles,
      // no join, no global sort
      Dedup.paragraphs(
        TextAnalysis.segmentLines(t(s, dir, "documents"), "doc_id", "text", 12),
        "id", "text")),
    "text_decontam" -> ((s, dir) =>
      // benchmark decontamination: training docs sharing an 8-gram with
      // the held-out set — eval grams broadcast, corpus scanned once
      Decontaminate.contaminated(t(s, dir, "documents"), "doc_id", "text",
        id => id % DECON_MOD === 0, DECON_N)),
    "text_decontam_bloom" -> ((s, dir) =>
      // same result via the Bloom-prefilter scale path (bitset to every
      // task, exact verify join on the survivors) — shares the oracle
      Decontaminate.contaminatedBloom(t(s, dir, "documents"), "doc_id", "text",
        id => id % DECON_MOD === 0, DECON_N)),
    "pipe_quality_gate" -> ((s, dir) =>
      // the composite pretraining gate: language + length + both Gopher
      // repetition signals in ONE projection pass, verdict per doc
      TextAnalysis.qualityGate(t(s, dir, "documents"), "doc_id", "text",
        "en", GATE_MIN_WORDS, GATE_MAX_TOP_SHARE, GATE_MAX_DUP_BIGRAM)
        ),
    "pipe_pack_sequences" -> ((s, dir) =>
      // sequence packing: docs → fixed-budget training sequences inside
      // deterministic hash buckets (bucket-partitioned window, no global
      // sort; assignment a pure function of the id set)
      Packing.packTokens(t(s, dir, "documents"), "doc_id", "text",
        PACK_BUDGET, PACK_BUCKETS)),
    "pack_by_length" -> ((s, dir) =>
      // sorted batching: pack among similar-length neighbors so the
      // underfull tail is bounded by the band's spread — one
      // band-partitioned window, assignment a pure function of the ids
      Packing.packTokensByLength(t(s, dir, "documents"), "doc_id", "text",
        PACK_BUDGET, PACK_LEN_WIDTH, PACK_LEN_MAXB)),
    "pipe_pack_texts" -> ((s, dir) =>
      // the materialized packed sequences a training job reads: text
      // concatenated in packing order, one hash aggregate on seq_id
      Packing.packTexts(t(s, dir, "documents"), "doc_id", "text",
        PACK_BUDGET, PACK_BUCKETS)),
    "pipe_e2e_curation" -> ((s, dir) => {
      // the CAPSTONE pipeline, one declarative plan end to end:
      // quality-gate (pure filter, no join) → drop the held-out eval
      // docs → exact-dedup keep-first → remove benchmark-contaminated
      // docs (tiny hit list, broadcast anti-join) → pack into training
      // sequences. Wide ops: ONE dedup window + ONE packing window +
      // the decontam candidate agg — everything else is projections.
      val docs = t(s, dir, "documents")
      val gated = docs
        .filter(TextAnalysis.qualityGateCol(col("text"), "en",
          GATE_MIN_WORDS, GATE_MAX_TOP_SHARE, GATE_MAX_DUP_BIGRAM))
        .filter(col("doc_id") % DECON_MOD =!= 0)
      val deduped = Dedup.dropDuplicatesKeepMin(gated, "doc_id", Seq("text"))
      val hits = Decontaminate.contaminated(docs, "doc_id", "text",
        id => id % DECON_MOD === 0, DECON_N).select(col("id"))
      val clean = deduped.join(broadcast(hits),
        deduped("doc_id") === hits("id"), "left_anti")
      Packing.packTokens(clean, "doc_id", "text", PACK_BUDGET, PACK_BUCKETS)
        
    }),
    "pipe_curation" -> ((s, dir) => {
      // end-to-end curation: tag language + length in ONE projection pass
      // (column-composed, no self-joins), filter, exact-dedup keep-first,
      // deterministic split — the canonical pretraining-data pipeline;
      // only the dedup window shuffles
      val docs = t(s, dir, "documents")
        .withColumn("pred_lang", TextAnalysis.langIdCol(col("text")))
        .withColumn("n_words", TextAnalysis.nWordsCol(col("text")))
        .filter(col("pred_lang") === "en" && col("n_words") >= CURATE_MIN_WORDS)
      Sampling.split(Dedup.dropDuplicatesKeepMin(docs, "doc_id", Seq("text")),
          "doc_id", SPLIT_WEIGHTS, SPLIT_LABELS)
        .select(col("doc_id"), col("pred_lang"), col("n_words"), col("split"))
        
    }),
    "text_redact" -> ((s, dir) =>
      // PII-style scrubbing: digit runs masked, per-doc hit count for
      // audit — pure projection, portable regex core
      TextAnalysis.redact(t(s, dir, "documents"), "doc_id", "text",
        "[0-9]+", "#")),
    "dedup_keep_last" -> ((s, dir) =>
      // pandas drop_duplicates(keep='last'): max doc_id survives
      Dedup.dropDuplicatesKeepMax(t(s, dir, "documents"), "doc_id", Seq("text"))
        .select(col("doc_id"), col("n_chars"))),
    "pipe_mm_dedup" -> ((s, dir) => {
      // CROSS-MODAL dedup capstone: a document is a duplicate if its
      // TEXT is a near-dup (jaccard inverted index) OR its IMAGE is a
      // visual near-dup (aHash band join) — both candidate-generation
      // pipelines are equi-joins, their pair sets union into ONE
      // converged star-contraction clustering, and the min-id
      // representative survives per cluster (label == id). Emits each
      // representative with its cluster size; sizes sum to the corpus.
      val docs = t(s, dir, "documents")
      val textPairs = jaccardShared(s, dir).select("da", "db")
      val imgDocs = Multimodal.withPngBlob(docs.select("doc_id"), "doc_id")
      val visPairs = Multimodal.nearDupPairs(imgDocs, "doc_id", "img", maxHd = 3)
        .select("da", "db")
      val labels = Dedup.clustersConverged(
        textPairs.union(visPairs).distinct(), "da", "db")
      // no forced broadcast: |labels| scales with the DUP MASS, not a
      // constant — AQE broadcasts when the runtime size is small and
      // falls back to a shuffle join on a dup-heavy 100 TB corpus
      docs.join(labels, docs("doc_id") === labels("n"), "left")
        .withColumn("cluster", coalesce(col("l"), col("doc_id")))
        .groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
        .select(col("cluster").as("doc_id"), col("n_members"))
        
    }),

    "pipe_text_dedup" -> ((s, dir) => {
      // near-dup "keep best": jaccard clusters labeled, every doc mapped
      // to its cluster (singletons to themselves), the LONGEST doc
      // (n_chars, min-id tie-break) kept per cluster — the production
      // selection rule (keep the most complete copy, not the first).
      // Reuses the shared pair pipeline; the label join is UNHINTED —
      // |labels| scales with the dup mass, so AQE picks broadcast only
      // when the runtime size allows — + one window over clusters
      val docs = t(s, dir, "documents")
      val labels = Dedup.clusters(jaccardShared(s, dir), "da", "db")
      val labeled = docs.join(labels, docs("doc_id") === labels("n"), "left")
        .withColumn("cl", coalesce(col("l"), col("doc_id")))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cl"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      labeled.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("doc_id"), col("cl").as("cluster"), col("n_chars"))
        
    }),
    "emb_rand_proj" -> ((s, dir) =>
      // JL random projection: 8 integer coordinates from the PlaneHash
      // weight family (the LSH buckets are these dots' signs) — one
      // codegen'd projection pass, zero shuffle
      Similarity.randomProjection(t(s, dir, "embeddings"), "vec_id",
          "embedding", RP_K)
        ),
    "emb_quantize" -> ((s, dir) =>
      // symmetric int8 embedding quantization, exploded to scalar rows
      Similarity.quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding")
        ),
    "emb_normalize" -> ((s, dir) =>
      // L2 unit-normalization, exploded to scalar rows
      Similarity.normalizeL2(t(s, dir, "embeddings"), "vec_id", "embedding")
        ),
    "feat_zscore" -> ((s, dir) =>
      // sklearn StandardScaler: one exact stats pass broadcast back
      Binning.zscore(t(s, dir, "lineitem"), "l_quantity", "z")
        .select(col("l_orderkey"), col("l_linenumber"), col("z"))
        ),
    "feat_robust_scale" -> ((s, dir) =>
      // sklearn RobustScaler: exact sort-based quartiles broadcast back,
      // (x - median)/IQR per row
      Binning.robustScale(t(s, dir, "lineitem"), "l_quantity", "r")
        .select(col("l_orderkey"), col("l_linenumber"), col("r"))
        ),
    "feat_target_encode" -> ((s, dir) =>
      // leave-one-out target encoding: per-category exact micro sums
      // (one map-side-combined agg, broadcast back), loo = (S-x)/(n-1)
      Binning.targetEncodeLoo(
          t(s, dir, "orders").select(col("o_orderkey"),
            col("o_orderpriority").as("cat"), col("o_totalprice")),
          "cat", "o_totalprice", "loo")
        .select(col("o_orderkey"), col("cat"), col("loo"))
        ),
    "feat_drift_hist" -> ((s, dir) =>
      // distribution drift monitor: doc-length histogram of the even-id
      // half vs the odd-id half, integer micro proportions and gaps —
      // the L-infinity drift table, engine-exact (no PSI logarithm)
      Binning.driftHist(t(s, dir, "documents"),
          col("doc_id") % 2 === 0, expr("n_chars div 100"))
        ),

    // ---- dedup ----
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")),
    "dedup_keep_rows" -> ((s, dir) =>
      Dedup.dropDuplicatesKeepMin(t(s, dir, "documents"), "doc_id", Seq("text"))
        .select(col("doc_id"), col("n_chars"))),
    "dedup_jaccard" -> ((s, dir) =>
      jaccardShared(s, dir)),
    // multiset Jaccard: Σmin/Σmax over gram MULTIPLICITIES — the form
    // that distinguishes "contains the template once" from "is 50
    // copies of the template"; exact BIGINT counts, one final division
    "dedup_jaccard_weighted" -> ((s, dir) =>
      Dedup.jaccardWeightedPairs(t(s, dir, "documents"), "doc_id", "text",
          WJACCARD_TAU)
        ),
    // PPJoin prefix filtering: same pairs as dedup_jaccard, but the
    // inverted index posts only each doc's rarity-ordered prefix —
    // exact recall by the pigeonhole principle (rational ⌈t·n⌉, never
    // an IEEE ceil), with the hottest boilerplate shingles provably
    // excluded from candidate generation instead of lossily capped
    "dedup_jaccard_prefix" -> ((s, dir) =>
      Dedup.jaccardPairsPrefix(t(s, dir, "documents"), "doc_id", "text",
        3, 5)),
    "dedup_minhash_sig" -> ((s, dir) =>
      Dedup.minhashSignatures(t(s, dir, "documents"), "doc_id", "text")),
    "dedup_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text", JACCARD_TAU)
        ),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashDocs(t(s, dir, "documents"), "doc_id", "text")),
    "dedup_containment" -> ((s, dir) =>
      // Broder containment (|A∩B|/|A|): the asymmetric quote/extension
      // relation — same inverted-index candidates as dedup_jaccard,
      // directional rows where the contained side clears tau
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
          CONTAIN_TAU)
        ),
    "graph_pagerank" -> ((s, dir) =>
      // near-dup-graph hub ranking: integer PageRank (milli-units,
      // floored divisions) over the shared jaccard pair frame — one
      // edge->rank equi-join + target-keyed sum per round
      Dedup.pageRank(jaccardShared(s, dir), "da", "db", PR_ITERS)
        ),
    "pipe_graph_audit" -> ((s, dir) => {
      // the dedup-graph governance report, one row per matched doc:
      // centrality (integer PageRank), density (triangles + clustering
      // coefficient), community label — the three lenses a keep-one
      // policy review needs, all off the SHARED jaccard pair frame
      // (computed once per session); three node-keyed equi-joins of
      // |matched-docs|-sized frames
      val pairs = jaccardShared(s, dir)
      Dedup.pageRank(pairs, "da", "db", PR_ITERS)
        .join(Dedup.triangles(pairs, "da", "db"), "id")
        .join(Dedup.labelPropagation(pairs, "da", "db", LP_ITERS), "id")
        
    }),
    "graph_communities" -> ((s, dir) =>
      // LPA community detection over the shared jaccard pair frame:
      // fixed synchronous rounds, (count desc, label) tie-break —
      // dense template cliques separate from weakly-linked bridges
      Dedup.labelPropagation(jaccardShared(s, dir), "da", "db", LP_ITERS)
        ),
    "graph_triangles" -> ((s, dir) =>
      // near-dup graph density audit: per-node triangles + clustering
      // coefficient over the shared jaccard pair frame — forward-edge
      // join, never all-pairs
      Dedup.triangles(jaccardShared(s, dir), "da", "db")),
    "graph_kcore" -> ((s, dir) =>
      // dense-skeleton audit: 2-core peeling strips chain-like bridges,
      // leaving template cliques/rings — per round one degree agg + two
      // alive-set semi-joins over the shared jaccard pair frame
      Dedup.kCore(jaccardShared(s, dir), "da", "db", KCORE_K, KCORE_ITERS)
        ),
    "dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", SIMHASH_HD)
        ),
    "dedup_clusters" -> ((s, dir) =>
      Dedup.clusters(jaccardShared(s, dir), "da", "db")
        .select(col("n").as("id"), col("l").as("cluster"))
        ),
    "dedup_clusters_conv" -> ((s, dir) =>
      // the PRODUCTION finisher (large-star/small-star contraction, runs
      // to convergence) — oracle = recursive min-propagation to fixed
      // point, which converges to the same component minima
      Dedup.clustersConverged(jaccardShared(s, dir), "da", "db")
        .select(col("n").as("id"), col("l").as("cluster"))
        ),
    "dedup_embedding" -> ((s, dir) =>
      // T pinned (not auto-sized): the DuckDB mirror is static SQL
      embeddingShared(s, dir)),
    "dedup_embedding_exact" -> ((s, dir) =>
      Dedup.embeddingPairsExact(t(s, dir, "embeddings"), "vec_id", "embedding", COS_TAU)
        ),
    "dedup_normalized" -> ((s, dir) =>
      // RefinedWeb-style normalization-then-exact dedup: case/punct/
      // whitespace variants collapse onto one canonical key; same
      // one-shuffle plan as dedup_exact
      Dedup.exactNormalized(t(s, dir, "documents"), "doc_id", "text")
        ),
    "dedup_span" -> ((s, dir) =>
      // Lee et al. 2021 exact-substring dedup over hashed 8-grams:
      // per-doc duplicated-token coverage + text with every duplicated
      // span removed; gram counts aggregate with map-side combine, the
      // mark-back is an equi-join on the gram hash
      Dedup.dupSpans(t(s, dir, "documents"), "doc_id", "text", DECON_N)
        ),
    "dedup_semantic" -> ((s, dir) =>
      // SemDeDup (Abbas et al. 2023): IVF-cluster the embeddings, prune
      // within-cluster cosine near-dups keeping the least-centroid-like
      // exemplar — the only quadratic term is within-cluster
      Similarity.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
          COS_TAU)
        ),
    "dedup_semantic_trained" -> ((s, dir) =>
      // SemDeDup over Lloyd-TRAINED clusters (the paper's own k-means
      // step): boundaries track real neighborhoods, so fewer near-dup
      // pairs straddle a cluster edge invisible to the prune; C pinned
      // 16 here for the oracle — the operator default derives C = √n
      Similarity.semDedupTrained(t(s, dir, "embeddings"), "vec_id",
          "embedding", COS_TAU, nCentroids = 16, iters = PQ_ITERS)
        ),
    "dedup_d4" -> ((s, dir) =>
      // D4 (Tirumala et al. 2023): SemDeDup + prototype prune — each
      // cluster additionally drops its ⌈frac·|c|⌉ centroid-closest
      // members; one extra window pair over ~√n-sized cluster lists
      Similarity.d4Prune(t(s, dir, "embeddings"), "vec_id", "embedding",
          COS_TAU, D4_FRAC)
        ),
    "pipe_embed_dedup" -> ((s, dir) => {
      // embedding dedup endgame: LSH candidate pairs → exact verify →
      // fixed-round clustering → keep ONE representative (the min id)
      // per cluster. Survivors = corpus anti-joined against the
      // non-representative nodes (label ≠ self); singletons never enter
      // the label frame and are kept for free. Only pair generation and
      // the tiny label rounds shuffle — the corpus itself moves once
      // through the LSH projection, never pairwise.
      val emb = t(s, dir, "embeddings")
      val labels = Dedup.clusters(embeddingShared(s, dir), "va", "vb")
      emb.join(labels.filter(col("l") =!= col("n")).select(col("n")),
          col("vec_id") === col("n"), "left_anti")
        .select(col("vec_id"))
        
    }),

    // ---- deterministic sampling / splits (Sampling.scala: membership is
    // a pure function of the row-id hash — invariant under partitioning,
    // file layout and cluster size, unlike Spark's per-partition-seeded
    // df.sample; SamplingSpec proves the invariance) ----
    "sample_det" -> ((s, dir) =>
      Sampling.deterministic(t(s, dir, "documents"), "doc_id", SAMPLE_FRAC)
        .select(col("doc_id"), col("n_chars"))),
    "sample_split" -> ((s, dir) =>
      Sampling.split(t(s, dir, "documents"), "doc_id", SPLIT_WEIGHTS, SPLIT_LABELS)
        .select(col("doc_id"), col("split"))),
    "sample_strat" -> ((s, dir) =>
      Sampling.stratified(t(s, dir, "documents"), "doc_id", "source",
          STRAT_FRACTIONS, STRAT_DEFAULT)
        .select(col("doc_id"), col("source"))),
    "sample_topk" -> ((s, dir) =>
      // exact-k draw: TakeOrderedAndProject on the id hash, no full sort
      Sampling.deterministicK(t(s, dir, "documents"), "doc_id", SAMPLE_K)
        .select(col("doc_id"), col("n_chars"))),

    "sample_shuffle" -> ((s, dir) =>
      // deterministic global shuffle (the pre-training permutation):
      // range-partitioned sort on (hash(id), id) — reproducible across
      // layouts/clusters, no single-task collapse
      Sampling.shuffleDeterministic(t(s, dir, "documents"), "doc_id")
        .select(col("doc_id"), col("shuffle_key"))),

    "split_leak_safe" -> ((s, dir) => {
      // leakage-safe train/val/test split: membership is decided by the
      // hash of the doc's near-dup CLUSTER representative, so every
      // member of a jaccard cluster lands on the same side — a plain
      // doc-id split would scatter near-copies of a val doc into train
      // (test-set contamination). Reuses the shared pair pipeline; the
      // label join is unhinted (|labels| ∝ dup mass — AQE broadcasts
      // only when the runtime size allows) + the usual pure-hash filter.
      val docs = t(s, dir, "documents")
      val labels = Dedup.clusters(jaccardShared(s, dir), "da", "db")
      val labeled = docs.join(labels, docs("doc_id") === labels("n"), "left")
        .withColumn("cl", coalesce(col("l"), col("doc_id")))
      Sampling.split(labeled, "cl", SPLIT_WEIGHTS, SPLIT_LABELS)
        .select(col("doc_id"), col("cl").as("cluster"), col("split"))
        
    }),

    // ---- training-mixture composition (Mixture.scala) ----
    "mix_resample" -> ((s, dir) =>
      // per-source fractional-epoch replication: projection + generator,
      // zero shuffle — rows replicate where they live
      Mixture.resample(t(s, dir, "documents"), "doc_id", "source",
          MIX_RATES, MIX_DEFAULT)
        .select(col("doc_id"), col("source"), col("copy_idx"))
        ),
    "mix_token_budget" -> ((s, dir) => {
      // quality-ordered per-source budget cap: one window on the source
      // partition (running BIGINT sum), best distinct-word-ratio docs
      // first (BIGINT/BIGINT division — engine-exact), ties by id
      val ws = split(col("text"), " ")
      val score = size(array_distinct(ws)).cast("long") / size(ws).cast("long")
      Mixture.tokenBudget(
          t(s, dir, "documents").withColumn("__q", score),
          "doc_id", "source", "n_chars", "__q", MIX_BUDGET)
        .select(col("doc_id"), col("source"), col("cum_tokens"))
        
    }),

    "pipe_mix_pack" -> ((s, dir) => {
      // mixture → training sequences in ONE declarative plan: the
      // fractional-epoch generator (zero shuffle — replicas materialize
      // where the row lives) feeds the bucket-partitioned packing
      // window directly. The replica id (doc_id·8 + copy_idx; copies
      // < 8 by the rate map) keeps packing a pure function of the
      // virtual-corpus id set — layout-invariant like everything in
      // Sampling/Packing.
      val rs = Mixture.resample(t(s, dir, "documents"), "doc_id", "source",
          MIX_RATES, MIX_DEFAULT)
        .withColumn("rep_id", col("doc_id") * 8 + col("copy_idx"))
      Packing.packTokens(rs, "rep_id", "text", PACK_BUDGET, PACK_BUCKETS)
        
    }),

    "text_bpe_merges" -> ((s, dir) =>
      // tokenizer training step 2: greedy pair merging over the word
      // sequence — per round ONE pair-count agg (shuffle bounded by the
      // distinct pair set), one 1-row TakeOrdered, one projection
      // rewriting the corpus
      Bpe.learnMerges(t(s, dir, "documents"), "text", BPE_ROUNDS)
        ),

    "text_perplexity" -> ((s, dir) => {
      // CCNet perplexity filtering: fit the corpus unigram LM (one
      // B-bounded pass), then rank every doc by negative mean log-prob
      // and emit the WORST tail — the drop set of the filter
      val docs = t(s, dir, "documents")
      val tbl = Mixture.unigramLmTable(docs, "text", DSIR_B)
        .orderBy("bucket").collect().map(_.getLong(1)).toSeq
      Mixture.perplexityScore(docs, "doc_id", "text", tbl, DSIR_B)
        .orderBy(col("nll_micro_nats").desc, col("id")).limit(DSIR_K)
    }),

    "text_perplexity_bigram" -> ((s, dir) => {
      // interpolated unigram+bigram LM perplexity (the KenLM-family
      // deepening of text_perplexity): both tables fit in one B-bounded
      // pass each, scoring is one zero-shuffle projection fold with
      // λ = 3/4 kept rational so the sum stays BIGINT
      val docs = t(s, dir, "documents")
      val t1 = Mixture.unigramLmTable(docs, "text", DSIR_B)
        .orderBy("bucket").collect().map(_.getLong(1)).toSeq
      val t2 = Mixture.bigramLmTable(docs, "text", DSIR_B)
        .orderBy("bucket").collect().map(_.getLong(1)).toSeq
      Mixture.perplexityScoreInterp(docs, "doc_id", "text", t1, t2,
          DSIR_B, LAM_NUM, LAM_DEN)
        .orderBy(col("nll_micro_nats").desc, col("id")).limit(DSIR_K)
    }),
    "mix_doremi" -> ((s, dir) => {
      // DoReMi EG domain reweighting: per-domain excess loss between
      // the corpus's weaker (unigram) and stronger (bigram-interp) LM,
      // one exponentiated-gradient step from the token baseline —
      // corpus cost is ONE zero-shuffle scoring projection
      val docs = t(s, dir, "documents")
      val t1 = Mixture.unigramLmTable(docs, "text", DSIR_B)
        .orderBy("bucket").collect().map(_.getLong(1)).toSeq
      val t2 = Mixture.bigramLmTable(docs, "text", DSIR_B)
        .orderBy("bucket").collect().map(_.getLong(1)).toSeq
      Mixture.doremiPlan(docs, "source", "text", t1, t2, DSIR_B)
        
    }),
    "text_ccnet_buckets" -> ((s, dir) => {
      // CCNet head/middle/tail release buckets: per-LANGUAGE perplexity
      // terciles — zero-shuffle scoring fold + one per-language window
      val docs = t(s, dir, "documents")
      val tbl = Mixture.unigramLmTable(docs, "text", DSIR_B)
        .orderBy("bucket").collect().map(_.getLong(1)).toSeq
      Mixture.ccnetBuckets(docs, "doc_id", "text", "lang", tbl, DSIR_B)
        
    }),
    "sample_strat_k" -> ((s, dir) =>
      // balanced eval-set draw: k docs per source by smallest (hash, id)
      // — prefix-monotone per stratum, one per-stratum window rank
      Sampling.stratifiedK(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars")),
        "doc_id", "source", STRATK_K)
        ),
    "text_bpe_batched" -> ((s, dir) =>
      // the 100 TB BPE path: each corpus pass learns a BATCH of
      // symbol-disjoint merges (selection rule non-recursive so both
      // engines express it) — M merges in ~M/N passes
      Bpe.learnMergesBatched(t(s, dir, "documents"), "text",
          BPE_BATCH_ROUNDS, BPE_BATCH_PER)
        ),

    "text_bpe_apply" -> ((s, dir) => {
      // tokenizer encode (merge phase): the learned table unfolds into
      // stacked replaces — ONE projection pass over the corpus, zero
      // shuffle; fit is the batch artifact, apply is the plan
      val ms = Bpe.learnMerges(t(s, dir, "documents"), "text", BPE_ROUNDS)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      Bpe.applyMerges(t(s, dir, "documents"), "doc_id", "text", ms)
        
    }),

    "mix_dsir_select" -> ((s, dir) => {
      // DSIR data selection: fit the hashed-unigram importance model in
      // ONE corpus pass (target = every DSIR_MOD-th doc), collect the
      // B-entry micro-nat table (model fitting, like IVF centroids),
      // then score every doc in a pure projection fold and keep the
      // top-K log-weights — the corpus is read twice total, never
      // shuffled on words beyond the B-bounded bucket agg
      val docs = t(s, dir, "documents")
      val tbl = Mixture.importanceTable(docs, "text",
          col("doc_id") % DSIR_MOD === 0, DSIR_B)
        .orderBy("bucket").collect().map(_.getLong(1)).toSeq
      Mixture.importanceScore(docs, "doc_id", "text", tbl, DSIR_B)
        .orderBy(col("score").desc, col("id")).limit(DSIR_K)
    }),

    "pipe_ccnet_filter" -> ((s, dir) => {
      // CCNet end-to-end (Wenzek et al. 2020): language-ID every doc in
      // one projection, fit the unigram LM once (B-bounded), bucket per
      // PREDICTED language by perplexity terciles, keep head+middle —
      // the released CommonCrawl recipe as one declarative plan
      // (corpus-wide LM: a disclosed simplification of the paper's
      // per-language KenLMs; the bucket cut is still per-language)
      val docs = t(s, dir, "documents")
      val tagged = docs.withColumn("pl", TextAnalysis.langIdCol(col("text")))
      val tbl = Mixture.unigramLmTable(docs, "text", DSIR_B)
        .orderBy("bucket").collect().map(_.getLong(1)).toSeq
      Mixture.ccnetBuckets(tagged, "doc_id", "text", "pl", tbl, DSIR_B)
        .filter(col("bucket") =!= "tail")
        
    }),
    "pipe_temperature_mix" -> ((s, dir) => {
      // the multilingual mixture loop CLOSED end-to-end: temperature
      // plan (α=1/2) → fractional-epoch resample — the plan collects as
      // a |sources|-row model artifact (the NB-fit discipline), the
      // resample is the zero-shuffle replication generator
      val docs = t(s, dir, "documents")
      val rates = Mixture.temperaturePlan(docs, "source", "text",
          MIX_MAX_EPOCHS)
        .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
      Mixture.resample(docs, "doc_id", "source", rates, 0.0)
        .select("doc_id", "source", "copy_idx")
        
    }),
    "mix_temperature" -> ((s, dir) =>
      // XLM/mT5 temperature mixture planning at α=1/2 (sqrt is IEEE-
      // correctly-rounded in every engine, pow is not): per-source
      // epochs vector for a resample pass — one map-side-combined agg,
      // 1-row max broadcast back
      Mixture.temperaturePlan(t(s, dir, "documents"), "source", "text",
          MIX_MAX_EPOCHS)
        ),
    "dedup_incremental" -> ((s, dir) => {
      // CC-dump workflow: dedup the incoming slice (doc_id % 3 == 0,
      // the streaming twin's split) against the already-curated rest —
      // exact hash membership + MinHash-band near-dups, flags per doc
      val docs = t(s, dir, "documents")
      Dedup.incrementalDedup(
        docs.filter(col("doc_id") % INC_MOD =!= 0),
        docs.filter(col("doc_id") % INC_MOD === 0),
        "doc_id", "text", JACCARD_TAU)
        
    }),
    "dedup_incr_bloom" -> ((s, dir) => {
      // the too-big-to-broadcast-reference form: exact arm behind a
      // broadcast Bloom bitset of the reference hashes + exact verify
      // semi-join on the survivors; FP adds probes, never rows —
      // output == dedup_incremental, oracle shared verbatim
      val docs = t(s, dir, "documents")
      Dedup.incrementalDedupBloom(
        docs.filter(col("doc_id") % INC_MOD =!= 0),
        docs.filter(col("doc_id") % INC_MOD === 0),
        "doc_id", "text", JACCARD_TAU)
        
    }),
    "text_source_overlap" -> ((s, dir) =>
      // WIMBD cross-source overlap map: distinct shared 8-gram count
      // per source pair — gram-keyed equi-join, |sources|^2/2-row output
      TextAnalysis.sourceOverlap(t(s, dir, "documents"), "source", "text",
          DECON_N)
        ),
    "mix_unimax" -> ((s, dir) =>
      // UniMax (Chung et al. 2023): budget spread as uniformly as the
      // per-source epoch cap allows — integer water-filling on the
      // |sources|-row frame, one corpus pass for token counts
      Mixture.unimaxPlan(t(s, dir, "documents"), "source", "text",
          UNIMAX_BUDGET, UNIMAX_EPOCHS)
        ),
    "dedup_soft_weights" -> ((s, dir) =>
      // SoftDedup (He et al. 2024): reweight instead of remove — weight
      // = n_grams / sum of corpus frequencies of the doc's 8-grams;
      // same gram-agg + equi-join skeleton as dedup_span
      Dedup.softDedupWeights(t(s, dir, "documents"), "doc_id", "text",
          DECON_N)
        ),
    "text_top_terms" -> ((s, dir) =>
      // datasheet "what is each source about": per-source top-15 terms —
      // map-side-combined counts, one window over the bounded agg frame
      TextAnalysis.topTermsBySource(t(s, dir, "documents"), "source",
          "text", 15)
        ),
    "text_novelty" -> ((s, dir) =>
      // corpus novelty audit: fraction of each doc's distinct 8-grams
      // first seen (min doc id) in that doc — the marginal-value-of-a-
      // new-dump statistic; one min(id) gram aggregate + one equi-join
      TextAnalysis.novelty(t(s, dir, "documents"), "doc_id", "text",
          DECON_N)
        ),
    "mix_nb_classify" -> ((s, dir) => {
      // fastText-style domain classifier as multinomial Naive Bayes over
      // hashed unigrams: fit = ONE corpus pass (|classes|·B-bounded
      // agg), model collects like IVF centroids, scoring = |classes|
      // projection folds with the tables as plan literals — zero
      // shuffle, the corpus is read once for fit and once for predict
      val docs = t(s, dir, "documents")
      Mixture.nbPredict(docs, "doc_id", "text", "source", nbModel(docs), NB_B)
        
    }),

    "pack_fill_stats" -> ((s, dir) =>
      // packing-efficiency histogram: sequences by fill decile with
      // seq/doc/token mass — one bounded agg past the packing window
      Packing.fillStats(
        Packing.packTexts(t(s, dir, "documents"), "doc_id", "text",
          PACK_BUDGET, PACK_BUCKETS).drop("seq_text"),
        PACK_BUDGET)
        ),
    "text_lang_mix" -> ((s, dir) =>
      // per-source language distribution — the datasheet's language
      // line: one projection (langIdCol) + one map-side-combined agg
      t(s, dir, "documents")
        .select(col("source"),
          TextAnalysis.langIdCol(col("text")).as("pred_lang"))
        .groupBy("source", "pred_lang").agg(count(lit(1)).as("n_docs"))
        ),
    "pipe_confidence_gate" -> ((s, dir) => {
      // FineWeb-Edu-shaped confidence gate capstone: score every doc
      // with the NB domain classifier's margin (ONE ClassScoreArray
      // pass), then calibrate the margin threshold that keeps the top
      // 40% most-confidently-classified docs — the exact-histogram
      // quantile, no corpus sort, no top-K funnel
      val docs = t(s, dir, "documents")
      val scored = Mixture.nbPredictScored(docs, "doc_id", "text", "source",
        nbModel(docs), NB_B)
      Mixture.thresholdByKeepRate(scored, "id", col("margin"), KEEP_RATE)
        
    }),

    "mix_nb_calibration" -> ((s, dir) => {
      // reliability audit of the NB domain classifier: margin (best −
      // 2nd-best score) bucketed into fixed 0.25-nat bins with per-bin
      // accuracy — what a curation pipeline inspects before picking a
      // confidence threshold. Same single-pass scorer as
      // mix_nb_classify plus one ≤10-group aggregate.
      val docs = t(s, dir, "documents")
      val scored = Mixture.nbPredictScored(docs, "doc_id", "text", "source",
        nbModel(docs), NB_B)
      Mixture.nbCalibration(scored, NB_CAL_W, NB_CAL_MAXBIN)
    }),
    "pipe_dense_retrieval" -> ((s, dir) => {
      // dense-RAG retrieve+fetch capstone: ANN top-k per query vector
      // (IVF coarse quantizer, broadcast centroids — the corpus never
      // self-joins) joined to the document store for the passage-side
      // payload, all one declarative plan. The retrieval frame is k·|Q|
      // rows, so the doc join broadcasts the HITS, not the corpus.
      val hits = Similarity.ivfTopK(t(s, dir, "embeddings"), "vec_id",
        "embedding", id => id < 5, k = 3, nCentroids = 16, nprobe = 2)
      val docs = t(s, dir, "documents").select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      hits.join(docs, hits("vec_id") === docs("doc_id"))
        .select(col("qid"), col("rn"), col("vec_id"), col("cos"), col("n_tokens"))
        
    }),

    "text_boilerplate" -> ((s, dir) => {
      // CCNet-style per-source boilerplate removal over the 12-word line
      // segmentation: doc-frequency agg (map-side combine) → left-anti
      // mark → sort-struct reassembly; no corpus broadcast, no sort
      val seg = TextAnalysis.segmentLines(t(s, dir, "documents"), "doc_id",
        "text", CLEAN_WPL, keep = Seq("source"))
      TextAnalysis.boilerplate(seg, "id", "source", "text", BP_MIN_DF)
        
    }),
    "text_contam_rate" -> ((s, dir) =>
      // per-eval-doc contamination fraction (WIMBD §5): eval grams
      // broadcast, 100 TB corpus scanned once and never shuffled on
      // grams — only hits survive to the per-eval-doc count
      Decontaminate.contaminationRate(t(s, dir, "documents"), "doc_id",
          "text", id => id % DECON_MOD === 0, DECON_N)
        ),
    "mix_keep_rate" -> ((s, dir) => {
      // FineWeb-Edu-style gate tuning: exact score threshold for a 40%
      // keep rate via a bounded score HISTOGRAM (≤1e6+1 bins) — no
      // corpus sort, no top-K funnel, 1-row threshold broadcast back
      val ws = split(col("text"), " ")
      val score = round(lit(1e6) *
        (size(array_distinct(ws)).cast("long") / size(ws).cast("long")))
        .cast("long")
      Mixture.thresholdByKeepRate(t(s, dir, "documents"), "doc_id", score,
        KEEP_RATE)
    }),
    "doc_cdc_chunks" -> ((s, dir) =>
      // content-defined chunking (Rabin/FastCDC lineage): boundaries
      // from the 4-gram rolling hash, all HOFs in one projection —
      // zero shuffle, pipelines inside the scan
      Chunking.cdcChunks(t(s, dir, "documents"), "doc_id", "text",
          CDC_N, CDC_K)
        ),
    "dedup_cdc_stats" -> ((s, dir) =>
      // chunk-level dedup audit: global chunk-hash counts (map-side
      // combine) marked back by equi-join → per-doc dup-chunk fraction
      Chunking.cdcDedupStats(
        Chunking.cdcChunks(t(s, dir, "documents"), "doc_id", "text",
          CDC_N, CDC_K))
        ),
    "text_distinct_kmv" -> ((s, dir) =>
      // per-source distinct-gram KMV sketch: threshold prefilter drops
      // 63/64 of gram occurrences map-side, bottom-k on the sliver
      TextAnalysis.distinctKmv(t(s, dir, "documents"), "source", "text",
          KMV_N, KMV_K, KMV_INV)
        ),
    "dedup_cluster_stats" -> ((s, dir) =>
      // cluster-size histogram audit over the shared jaccard clustering
      // (two tiny aggs past the memoized pair pipeline)
      Dedup.clusterStats(
        Dedup.clusters(jaccardShared(s, dir), "da", "db"), "l")
        ),
    "sim_kcenter" -> ((s, dir) =>
      // greedy farthest-point diversity selection (Gonzalez 2-approx):
      // k bounded 1-row-collect rounds, exact BIGINT distances, the
      // per-round coverage-gap curve as output
      Similarity.kCenter(t(s, dir, "embeddings"), "vec_id", "embedding",
          KCENTER_K)
        ),
    "sim_margin_mining" -> ((s, dir) =>
      // CCMatrix margin-criterion mining across the vec_id-parity split:
      // integer-exact neighborhood sums, margin = one double division;
      // disclosed brute pair generator (oracle-exact), production swaps
      // in IVF candidate lists
      Similarity.marginMining(t(s, dir, "embeddings"), "vec_id",
          "embedding", id => id % 2 === 0, MARGIN_K, MARGIN_TAU)
        ),

    "dedup_emb_incremental" -> ((s, dir) => {
      // daily-embedding-ingest workflow: flag incoming vectors (id%3==0)
      // near-dup to the reference store — cross-side LSH band join only,
      // the reference never self-joins; tables pinned for the static
      // oracle (the operator defaults to autoTables)
      val emb = t(s, dir, "embeddings")
      Dedup.incrementalEmbDedup(
        emb.filter(col("vec_id") % INC_MOD =!= 0),
        emb.filter(col("vec_id") % INC_MOD === 0),
        "vec_id", "embedding", COS_TAU, tables = LSH_TABLES)
        
    }),
    "pipe_datasheet" -> ((s, dir) => {
      // "datasheet for a dataset" capstone (Gebru et al. 2021): the
      // per-source release report a curation run files — volume, KMV
      // distinct-gram estimate, PII exposure, boilerplate pressure,
      // benchmark contamination — composed from the audit operators as
      // per-source MINI-FRAMES left-joined on source: every corpus-sized
      // pass is one of the already-audited operator plans (map-side
      // combined aggs, broadcast eval grams), the joins touch only
      // |sources|-row frames
      val docs = t(s, dir, "documents")
      val base = docs.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      val kmv = TextAnalysis.distinctKmv(docs, "source", "text",
          KMV_N, KMV_K, KMV_INV)
        .select(col("source"), col("est_distinct"))
      val pii = TextAnalysis.piiStats(docs, "source", "text",
          Seq("digits" -> "[0-9]+"))
        .select(col("source"), col("n_docs_hit").as("pii_docs"),
          col("n_hits").as("pii_hits"))
      val seg = TextAnalysis.segmentLines(docs, "doc_id", "text",
        CLEAN_WPL, keep = Seq("source"))
      val bl = seg.select(col("source"), col("id"),
          explode(split(col("text"), "\n")).as("line"))
        .distinct().groupBy("source", "line").agg(count(lit(1)).as("dfq"))
        .filter(col("dfq") >= BP_MIN_DF)
        .groupBy("source").agg(count(lit(1)).as("boiler_lines"))
      val contam = Decontaminate.contaminated(docs, "doc_id", "text",
          id => id % DECON_MOD === 0, DECON_N)
        .join(docs.select(col("doc_id").as("id"), col("source")), "id")
        .groupBy("source").agg(count(lit(1)).as("contam_docs"))
      base.join(kmv, Seq("source"), "left")
        .join(pii, Seq("source"), "left")
        .join(bl, Seq("source"), "left")
        .join(contam, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          (col("n_tokens") / col("n_docs")).as("avg_words"),
          col("est_distinct"),
          coalesce(col("pii_docs"), lit(0L)).as("pii_docs"),
          coalesce(col("pii_hits"), lit(0L)).as("pii_hits"),
          coalesce(col("boiler_lines"), lit(0L)).as("boiler_lines"),
          coalesce(col("contam_docs"), lit(0L)).as("contam_docs"))
        
    }),
    "text_tfidf_keywords" -> ((s, dir) =>
      // per-doc top-k TF-IDF tags: integer-rational idf (no libm), tf
      // and df aggs both map-side combined, window partitions by doc
      Ranking.tfidfKeywords(t(s, dir, "documents"), "doc_id", "text",
          TFIDF_K)
        ),
    "text_phrase_search" -> ((s, dir) =>
      // positional-inverted-index phrase lookup (WIMBD search): one
      // corpus pass builds the phrase-vocab posting sliver, a k-word
      // phrase is k-1 equi-joins on (doc, position) — never a string scan
      Ranking.phraseSearch(t(s, dir, "documents"), "doc_id", "text",
          PHRASES)
        ),
    "mix_curriculum" -> ((s, dir) => {
      // curriculum staging: fit the corpus unigram LM once (B-bounded
      // agg), score every doc in a projection fold, bin into equi-width
      // nll stages via a broadcast 1-row extremes agg — no global sort
      val docs = t(s, dir, "documents")
      val tbl = Mixture.unigramLmTable(docs, "text", DSIR_B)
        .orderBy("bucket").collect().map(_.getLong(1)).toSeq
      Mixture.curriculumStages(docs, "doc_id", "text", tbl, DSIR_B,
          CURR_STAGES)
        
    }),
    "text_phrase_ctx" -> ((s, dir) =>
      // KWIC contexts for every phrase hit: same posting-intersection
      // match positions, one sparse-to-corpus equi-join for the slice
      Ranking.phraseContexts(t(s, dir, "documents"), "doc_id", "text",
          PHRASES, PHRASE_CTX)
        ),
    "pipe_curriculum_pack" -> ((s, dir) => {
      // curriculum phase-1 corpus construction: stage the corpus by LM
      // nll (text carried — no join-back), keep the easy half, pack it
      // into training sequences; wide ops = the 1-row extremes agg +
      // ONE bucket-partitioned packing window
      val docs = t(s, dir, "documents")
      val tbl = Mixture.unigramLmTable(docs, "text", DSIR_B)
        .orderBy("bucket").collect().map(_.getLong(1)).toSeq
      val easy = Mixture.curriculumStages(docs, "doc_id", "text", tbl,
          DSIR_B, CURR_STAGES, carry = Seq("text"))
        .filter(col("stage") <= CURR_EASY_MAX)
      Packing.packTokens(easy, "id", "text", PACK_BUDGET, PACK_BUCKETS)
        
    }),
    "sample_weighted" -> ((s, dir) => {
      // deterministic weighted Bernoulli retention: keep probability =
      // the distinct-word quality ratio, membership a pure function of
      // (doc_id, weight) — one codegen'd filter, no shuffle
      val ws = split(col("text"), " ")
      val w = (size(array_distinct(ws)).cast("long").cast("double")
        / size(ws).cast("long").cast("double"))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), w.as("keep_w"))
      Sampling.weighted(docs, "doc_id", col("keep_w"))
        
    }),
    "text_k_anon" -> ((s, dir) =>
      // k-anonymity census over (lang, source, length bucket): one
      // map-side-combined hash agg, output rows ∝ distinct QI classes
      TextAnalysis.kAnonymity(
        t(s, dir, "documents").select(col("lang"), col("source"),
          floor(col("n_chars") / K_ANON_LEN).cast("long").as("len_bucket")),
        Seq("lang", "source", "len_bucket"), K_ANON)
        ),
    "priv_l_diversity" -> ((s, dir) =>
      // l-diversity companion to text_k_anon: same QI classes, plus the
      // distinct-sensitive-value census (a k-anonymous class whose
      // members all share the sensitive value still leaks it) — one
      // map-side-combined agg with a partial+final count-distinct
      TextAnalysis.lDiversity(
        t(s, dir, "documents").select(col("lang"), col("source"),
          floor(col("n_chars") / K_ANON_LEN).cast("long").as("len_bucket"),
          (col("n_chars") % 10L).as("sensitive")),
        Seq("lang", "source", "len_bucket"), "sensitive", L_DIV)
        ),
    "text_collocations" -> ((s, dir) =>
      // PMI-ranked collocations: lift = c_ab*N/(c_a*c_b) orders like
      // PMI without the cross-engine log; exact BIGINT pieces, one
      // final IEEE division, vocab joins stay equi-joins (NOT
      // broadcast — web-scale vocab is billions of types), top-k heap
      TextAnalysis.collocations(t(s, dir, "documents"), "text",
        COLL_MIN, COLL_K)),
    "text_url_canon" -> ((s, dir) => {
      // URL canonicalization + registrable domain over deterministic
      // synthesized crawl URLs (mixed-case scheme/host, www, default
      // port, trailing slash, unsorted + tracking params, fragment) —
      // one codegen'd projection pass, zero shuffle, no regex
      val d = t(s, dir, "documents")
      val url = concat(
        lit("HTTPS://WWW.Site"), (col("doc_id") % 50).cast("string"),
        lit(".COM"),
        when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
        lit("/P/"), col("doc_id").cast("string"),
        when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
        lit("?b="), (col("doc_id") % 7).cast("string"),
        lit("&utm_source=feed"),
        when(col("doc_id") % 2 === 0,
          concat(lit("&a="), (col("doc_id") % 3).cast("string")))
          .otherwise(lit("")),
        lit("#sec"))
      val canon = graft.operators.Urls.canonicalize(url)
      d.select(col("doc_id"), canon.as("url_canon"),
          graft.operators.Urls.registrableDomain(canon).as("domain"))
        
    }),
    "pipe_domain_curation" -> ((s, dir) => {
      // domain balancing capstone: canonical URL → registrable domain →
      // blocklist filter → per-domain quota (cap docs per domain,
      // longest-first) — the defense against template-heavy domains
      // dominating a crawl. One projection + one per-domain window; the
      // blocklist is a literal isin (a real list would broadcast-anti)
      val d = t(s, dir, "documents")
      val url = concat(lit("HTTPS://WWW.Site"),
        (col("doc_id") % 50).cast("string"), lit(".COM/p/"),
        col("doc_id").cast("string"))
      val domain = graft.operators.Urls.registrableDomain(
        graft.operators.Urls.canonicalize(url))
      val tagged = d.select(col("doc_id"), col("n_chars"), domain.as("domain"))
        .filter(!col("domain").isin(DOMAIN_BLOCKLIST: _*))
      Sampling.capPerKey(tagged, "domain",
          Seq(col("n_chars").desc, col("doc_id")), DOMAIN_CAP)
        .select(col("doc_id"), col("domain"), col("key_rank"))
        
    }),
    "dedup_temporal" -> ((s, dir) =>
      // temporally-windowed near-dup (news/crawl-snapshot dedup: only
      // copies within W time units of each other count): the shared
      // jaccard pair pipeline post-filtered on the pair's time gap —
      // candidates still come from the gram inverted index; at a scale
      // where the gap filter should prune candidates EARLIER, the
      // time-bucket joins in as a second blocking key
      jaccardShared(s, dir)
        .filter(abs(col("da") % 1000 - col("db") % 1000) <= TEMPORAL_W)
        .withColumn("dt", abs(col("da") % 1000 - col("db") % 1000).cast("long"))
        ),
    "mix_quantile_align" -> ((s, dir) =>
      // quantile-matched cross-source selection: raw lengths/scores are
      // not comparable across sources, per-source rank quantiles are —
      // keep each source's own top quartile. One per-source window, the
      // quantile an exact-BIGINT ratio
      Sampling.strataQuantile(
          t(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "doc_id", "source", "n_chars")
        .filter(col("q") >= QUANTILE_CUT)
        .select(col("doc_id"), col("source"), col("q"))
        ),
    "text_pii_stats" -> ((s, dir) =>
      // per-source PII exposure report: one projection evaluates every
      // detector, stacked rows aggregate map-side — zero joins
      TextAnalysis.piiStats(t(s, dir, "documents"), "source", "text",
          PII_PATTERNS)
        ),
    "text_bpe_compression" -> ((s, dir) => {
      // tokenizer-table DOMAIN-FIT audit: apply the learned merge table
      // and report each source's compression (tokens-after / words) —
      // sources far from the training distribution compress worse, the
      // fertility-style mismatch signal tokenizer evals report
      val docs = t(s, dir, "documents")
      val ms = Bpe.learnMerges(docs, "text", BPE_ROUNDS)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val enc = Bpe.applyMerges(docs, "doc_id", "text", ms)
      docs.select(col("doc_id").as("id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_words"))
        .join(enc.select(col("id"), col("n_tokens")), "id")
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_tokens")).as("n_tokens"))
        .withColumn("compression", col("n_tokens") / col("n_words"))
        
    }),
    "sim_hard_negatives" -> ((s, dir) =>
      // DPR-style hard-negative mining: per query, top-k most-similar
      // OTHER-label vectors — broadcast query side, disclosed brute
      // generator (IVF candidates at scale), label filter in the probe
      Similarity.hardNegatives(t(s, dir, "embeddings"), "vec_id",
          "embedding", "label", id => id < 5, HARDNEG_K)
        ),
    "emb_label_noise" -> ((s, dir) =>
      // embedding-space mislabel audit over EVERY row: LSH-bucket
      // equi-join candidates (never n²), ≤k nearest bucket-mates vote;
      // singleton-bucket vectors report n_nb = 0 instead of vanishing
      Similarity.labelNoise(t(s, dir, "embeddings"), "vec_id",
          "embedding", "label", NOISE_K)
        ),

    // ---- similarity search ----
    "sim_topk_brute" -> ((s, dir) =>
      Similarity.bruteForceTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        id => id < 5, k = 10)),
    "sim_ann_buckets" -> ((s, dir) =>
      Similarity.hyperplaneBuckets(t(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("id"), col("bucket"))),
    "sim_ann_topk" -> ((s, dir) =>
      Similarity.bucketedTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        id => id < 5, k = 3)),
    "sim_proj_rerank" -> ((s, dir) =>
      // two-stage ANN: corpus scanned with the 8-int JL sketch only,
      // top-60 sketch-L2 candidates per query reranked by EXACT cosine
      // — deterministic integer decisions end-to-end, so oracle-exact
      Similarity.projectedRerank(t(s, dir, "embeddings"), "vec_id",
          "embedding", _ < 5, candidates = 60, k = 10)
        ),
    "sim_ivf_topk" -> ((s, dir) =>
      Similarity.ivfTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        id => id < 5, k = 3, nCentroids = 16, nprobe = 2)),
    "sim_ivf_refined" -> ((s, dir) =>
      // one Lloyd round on the coarse quantizer (integer-mean centroids,
      // exact trunc division — mirrored bit-for-bit by the oracle)
      Similarity.ivfTopKRefined(t(s, dir, "embeddings"), "vec_id", "embedding",
        id => id < 5, k = 3, nCentroids = 16, nprobe = 2)),

    "sim_ivf2_topk" -> ((s, dir) =>
      // TWO-LEVEL IVF (the 100 TB architecture): √n-bounded broadcast
      // coarse table, per-list seeded sub-centroids, level-2 assignment
      // as an equi-join on the coarse id — nCoarse·nSub total lists with
      // no broadcast beyond nCoarse rows; candidates ≈ nprobe1·nprobe2·L
      Similarity.ivfTopK2(t(s, dir, "embeddings"), "vec_id", "embedding",
        id => id < 5, k = 3, nCoarse = 16, nSub = 4,
        nprobe1 = 2, nprobe2 = 2)),

    "sim_ivf2_trained" -> ((s, dir) =>
      // trained coarse level for the two-level index: the √n broadcast
      // book Lloyd-trains (shared exact-integer engine), level-2
      // seeding/assignment and the probe tail unchanged — the recall
      // lever on the level that bounds the 100 TB broadcast
      Similarity.ivfTopK2Trained(t(s, dir, "embeddings"), "vec_id",
        "embedding", id => id < 5, k = 3, nCoarse = 16, nSub = 4,
        nprobe1 = 2, nprobe2 = 2, iters = PQ_ITERS)),

    "sim_ivf2_pq" -> ((s, dir) =>
      // the full 100 TB index composition: two-level probed lists bound
      // WHICH vectors a query touches (√n broadcast, equi-joined level
      // 2), trained PQ-ADC codes bound WHAT is read per touched vector
      // (M table lookups, never the raw 64-dim vector)
      Similarity.ivf2PqTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        id => id < 5, k = 3, nCoarse = 16, nSub = 4, nprobe1 = 2,
        nprobe2 = 2, iters = PQ_ITERS)),

    "sim_ivf2_pq_trained" -> ((s, dir) =>
      // BOTH quantizers of the 100 TB index trained: the √n coarse book
      // Lloyd-trains (tighter lists on the level that bounds the
      // broadcast) AND the PQ book Lloyd-trains (smaller quantization
      // error per subspace) — lists/probes and the ADC tail are the
      // cores shared with sim_ivf2_trained / sim_ivf2_pq, so the delta
      // vs each ablation is attributable to exactly one trained book
      Similarity.ivf2PqTopKTrained(t(s, dir, "embeddings"), "vec_id",
        "embedding", id => id < 5, k = 3, nCoarse = 16, nSub = 4,
        nprobe1 = 2, nprobe2 = 2, iters = PQ_ITERS,
        coarseIters = PQ_ITERS)),

    "sim_margin_ivf" -> ((s, dir) =>
      // CCMatrix margin mining with the PRODUCTION candidate generator
      // the brute form's scaladoc promised: candidates from probe-set
      // intersections on the seeded coarse book (one equi-join on the
      // centroid id), neighborhoods from candidate lists, margin
      // algebra unchanged
      // nprobe = 6 of 16 lists: measured pair recall vs brute 0.99 on
      // the fixture (0.53 at nprobe = 2 — the 64-dim synthetic vectors
      // are near-isotropic, so probe sets must overlap generously;
      // curve in SCALING.md r17)
      Similarity.marginMiningIvf(t(s, dir, "embeddings"), "vec_id",
          "embedding", id => id % 2 === 0, MARGIN_K, MARGIN_TAU,
          nCentroids = 16, nprobe = 6)
        ),

    "sim_ivf_trained" -> ((s, dir) =>
      // multi-round Lloyd-trained coarse quantizer (iters=1 == the
      // sim_ivf_refined single round, by spec): coarse and product
      // quantizers now share one exact-integer Lloyd engine
      Similarity.ivfTopKTrained(t(s, dir, "embeddings"), "vec_id",
        "embedding", id => id < 5, k = 3, nCentroids = 16, nprobe = 2,
        iters = PQ_ITERS)),

    "sim_kmeans" -> ((s, dir) =>
      // first-class distributed k-means (SemDeDup-style cluster step,
      // topic balancing, per-cluster quotas): every vector labeled with
      // its owning trained centroid + exact BIGINT squared distance
      Similarity.kMeansAssign(t(s, dir, "embeddings"), "vec_id",
        "embedding", k = 8, iters = PQ_ITERS)),

    "sim_kmeans_elbow" -> ((s, dir) =>
      // k-selection diagnostic: the WCSS elbow over candidate k (one
      // training + one assignment pass per k, shared fixed-point frame)
      Similarity.kMeansWcss(t(s, dir, "embeddings"), "vec_id",
        "embedding", ks = Seq(2, 4, 8, 16), iters = PQ_ITERS)
        ),

    "sim_kmeans_protos" -> ((s, dir) =>
      // per-cluster prototype selection (SemDeDup's keep-one-exemplar /
      // eval-probe draw): the 3 most central members of each trained
      // cluster, (d2, id) ties — the rank filter pushes below the full
      // per-cluster sort (WindowGroupLimit)
      Similarity.kMeansPrototypes(t(s, dir, "embeddings"), "vec_id",
        "embedding", k = 8, perCluster = 3, iters = PQ_ITERS)
        ),

    "sim_ivfpq_topk" -> ((s, dir) =>
      // IVF-PQ, the production corpus-scale ANN: probe lists bound WHICH
      // vectors a query touches, PQ codes bound WHAT is read per touched
      // vector; seeded coarse quantizer + seeded codebook keep the whole
      // composition exact-BIGINT deterministic
      Similarity.ivfPqTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        id => id < 5, k = 3, nCentroids = 16, nprobe = 2)
        ),

    "sim_ivfpq_residual" -> ((s, dir) =>
      // asymmetric residual IVF-PQ (the production Jégou variant):
      // vectors encode x − c(x) against a residual-trained codebook;
      // per query one ADC table per probed centroid (q − c), keyed so
      // each candidate scores against its own list's table
      Similarity.ivfPqResidualTopK(t(s, dir, "embeddings"), "vec_id",
        "embedding", id => id < 5, k = 3, nCentroids = 16, nprobe = 2,
        iters = PQ_ITERS)),

    "sim_pq_topk" -> ((s, dir) =>
      // product-quantization ANN (ADC): vectors compress to 4 subspace
      // codes against a hash-seeded codebook; query distance = sum of
      // exact per-subspace BIGINT distances to the assigned codewords —
      // one encode pass, broadcast codebook/ADC table, skinny shuffles
      Similarity.pqTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        id => id < 5, k = 3)),

    "sim_mmr" -> ((s, dir) =>
      // diversity-aware retrieval (Maximal Marginal Relevance): greedy
      // λ·rel − (1−λ)·redundancy picks over the top-relevance pool,
      // micro-integer scores, k bounded 1-row driver rounds (the
      // kCenter contract)
      Similarity.mmrSelect(t(s, dir, "embeddings"), "vec_id", "embedding",
        MMR_QID, MMR_POOL, MMR_K, MMR_LAMBDA)),

    "sim_mmr_ivf" -> ((s, dir) =>
      // MMR at corpus scale: the pool comes from the IVF probe lists
      // (nprobe nearest inverted lists, exact-cosine ranked, cut at
      // poolN) instead of a brute relevance pass — the same greedy
      // micro-integer rounds then run over that pool
      Similarity.mmrSelectIvf(t(s, dir, "embeddings"), "vec_id", "embedding",
        MMR_QID, MMR_POOL, MMR_K, MMR_LAMBDA, nCentroids = 16, nprobe = 2)
        ),

    "sim_rrf_fusion" -> ((s, dir) =>
      // hybrid-retrieval rank fusion (RRF): exact-cosine and exact-L2
      // rankings of the same query set fused by Σ 1e6 div (60+rank) —
      // integer scores, full-outer list merge, fused top-k per query
      Similarity.rrfFuseTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        id => id < 5, RRF_DEPTH, RRF_TOPK)),

    "sim_recall_at_k" -> ((s, dir) => {
      // ANN quality evaluation: recall@k of the IVF index against the
      // exact brute-force ground truth, per query — the metric every
      // index-tuning loop optimizes; one (qid, vec_id) equi-join of two
      // k-row-per-query frames
      val emb = t(s, dir, "embeddings")
      val truth = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        id => id < 5, RECALL_K).select(col("qid"), col("vec_id"))
      val approx = Similarity.ivfTopK(emb, "vec_id", "embedding",
        id => id < 5, k = RECALL_K, nCentroids = 16, nprobe = 2)
        .select(col("qid"), col("vec_id"), lit(1L).as("__hit"))
      truth.join(approx, Seq("qid", "vec_id"), "left")
        .groupBy("qid")
        .agg(sum(coalesce(col("__hit"), lit(0L))).as("hits"))
        .select(col("qid"), col("hits"),
          (col("hits").cast("double") / lit(RECALL_K).cast("double"))
            .as("recall"))
        
    }),

    "sim_recall_pq" -> ((s, dir) => {
      // quantization-loss measurement for the PQ family: recall@k of
      // flat PQ-ADC and of IVF-PQ (sim_pq_topk / sim_ivfpq_topk's exact
      // configurations) against the brute-force ground truth — the
      // number that prices the M/K (and nprobe) trade the same way
      // sim_recall_at_k prices the coarse quantizer alone
      val emb = t(s, dir, "embeddings")
      val truth = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        id => id < 5, RECALL_K).select(col("qid"), col("vec_id"))
      def grade(name: String, approx: org.apache.spark.sql.DataFrame) =
        truth.join(approx.select(col("qid"), col("vec_id"),
            lit(1L).as("__hit")), Seq("qid", "vec_id"), "left")
          .groupBy("qid")
          .agg(sum(coalesce(col("__hit"), lit(0L))).as("hits"))
          .select(lit(name).as("variant"), col("qid"), col("hits"),
            (col("hits").cast("double") / lit(RECALL_K).cast("double"))
              .as("recall"))
      grade("ivfpq", Similarity.ivfPqTopK(emb, "vec_id", "embedding",
          id => id < 5, k = RECALL_K, nCentroids = 16, nprobe = 2))
        .unionByName(grade("pq", Similarity.pqTopK(emb, "vec_id",
          "embedding", id => id < 5, k = RECALL_K)))
        
    }),

    "sim_pq_trained" -> ((s, dir) =>
      // production PQ: the codebook trains with 2 exact-integer Lloyd
      // rounds per subspace (all M books in one corpus pass per round)
      // before the same encode/ADC tail as sim_pq_topk — the M/K recall
      // lever SCALING.md's grid prices, now with the trained-codeword
      // error reduction instead of the seeded draw
      Similarity.pqTopKTrained(t(s, dir, "embeddings"), "vec_id",
        "embedding", id => id < 5, k = 3, iters = PQ_ITERS)
        ),

    "sim_recall_trained" -> ((s, dir) => {
      // the training payoff, measured: recall@k of Lloyd-trained flat
      // PQ and trained-codebook IVF-PQ against the brute ground truth —
      // same grading as sim_recall_pq, so the two queries read side by
      // side as the seeded-vs-trained ablation (coarse quantizer held
      // fixed; any lift is the codebook's)
      val emb = t(s, dir, "embeddings")
      val truth = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        id => id < 5, RECALL_K).select(col("qid"), col("vec_id"))
      def grade(name: String, approx: org.apache.spark.sql.DataFrame) =
        truth.join(approx.select(col("qid"), col("vec_id"),
            lit(1L).as("__hit")), Seq("qid", "vec_id"), "left")
          .groupBy("qid")
          .agg(sum(coalesce(col("__hit"), lit(0L))).as("hits"))
          .select(lit(name).as("variant"), col("qid"), col("hits"),
            (col("hits").cast("double") / lit(RECALL_K).cast("double"))
              .as("recall"))
      grade("ivfpq_t", Similarity.ivfPqTopKTrained(emb, "vec_id",
          "embedding", id => id < 5, k = RECALL_K, nCentroids = 16,
          nprobe = 2, iters = PQ_ITERS))
        .unionByName(grade("pq_t", Similarity.pqTopKTrained(emb, "vec_id",
          "embedding", id => id < 5, k = RECALL_K, iters = PQ_ITERS)))
        
    })
  )

  // shared SQL prefixes
  /** Per-language stopword score columns (s_de, s_en, …) over a
    * string-split array `ws` — mirror of TextAnalysis.langIdCol's fold. */
  private def langScoreSql = TextAnalysis.langWords.map { case (l, list) =>
    s"CAST(len(list_filter(ws, w -> w IN (${list.map("'" + _ + "'").mkString(",")}))) AS BIGINT) AS s_$l"
  }.mkString(", ")

  /** Arg-max CASE chain over the s_* columns, alphabetical tie-break. */
  private def langCaseSql = {
    val langs = TextAnalysis.langWords.map(_._1)
    langs.map { l =>
      val geAll = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN s_$l > 0 AND $geAll THEN '$l'"
    }.mkString(" ")
  }

  /** Unrolled min-label-propagation CTEs (l0..lN over a symmetrized edge
    * CTE `ed(u,v)`) — the DuckDB mirror of `Dedup.clusters`' fixed
    * rounds, shared by every pipeline that finishes with clustering. */
  private val CLUSTER_ITERS = 4
  private def clusterUnrollCtes: String = {
    val levels = (1 to CLUSTER_ITERS).map { i =>
      s"""l$i AS MATERIALIZED (SELECT n, min(l) AS l FROM (
         |  SELECT n, l FROM l${i - 1}
         |  UNION ALL
         |  SELECT ed.v AS n, l${i - 1}.l AS l FROM ed JOIN l${i - 1} ON ed.u = l${i - 1}.n
         |) GROUP BY n)""".stripMargin
    }.mkString(",\n")
    s"""l0 AS MATERIALIZED (SELECT DISTINCT u AS n, u AS l FROM ed),
       |$levels""".stripMargin
  }

  /** Deterministic-split CASE over the row-id hash (same thresholds the
    * Spark Sampling.split uses). */
  private def splitCaseSql(idExpr: String): String = {
    val cuts = SPLIT_WEIGHTS.scanLeft(0.0)(_ + _).tail.map(Sampling.threshold)
    val cases = SPLIT_LABELS.init.zip(cuts.init)
      .map { case (l, c) => s"WHEN ${Sampling.rowHashSql(idExpr)} < $c THEN '$l'" }
      .mkString(" ")
    s"CASE $cases ELSE '${SPLIT_LABELS.last}' END"
  }

  private def whsCte =
    s"w AS (SELECT doc_id AS id, ${wordHashesSql()} AS whs FROM documents)"
  private def shsCte =
    s"$whsCte, s AS (SELECT id, ${shingleHashesSql()} AS shs FROM w)"
  // private[queries]: the streaming near-dup twin's oracle reuses the
  // exact same shingle-set CTEs (one definition — the twins can't drift)
  private[queries] def distinctShingleCte =
    s"$shsCte, d AS (SELECT id, list_distinct(shs) AS ds, CAST(len(list_distinct(shs)) AS BIGINT) AS nd FROM s)"
  /** Shared Naive-Bayes scoring CTE chain (fit + per-(doc, class) score
    * + per-doc rank with the score carried): the mix_nb_classify and
    * mix_nb_calibration mirrors both build on it. */
  private def nbScoreCte =
    s"""w AS (SELECT doc_id AS id, source, ${MirrorHash.wordHashesSql()} AS whs FROM documents),
       |e AS (SELECT id, source, unnest(whs) % $NB_B AS bucket FROM w),
       |bc AS (SELECT source AS cls, bucket, count(*) AS c FROM e GROUP BY 1, 2),
       |tot AS (SELECT cls, sum(c) AS t FROM bc GROUP BY 1),
       |cl AS (SELECT source AS cls, count(*) AS nd FROM documents GROUP BY 1),
       |nn AS (SELECT sum(nd) AS n FROM cl),
       |pri AS (SELECT cl.cls,
       |    CAST(round(1000000.0 * ln(CAST(nd AS DOUBLE) / CAST(n AS DOUBLE))) AS BIGINT) AS lp
       |  FROM cl, nn),
       |lw AS (SELECT e.id, c2.cls,
       |    CAST(round(1000000.0 * ln(
       |      CAST(COALESCE(bc.c, 0) + 1 AS DOUBLE) / CAST(tot.t + $NB_B AS DOUBLE)))
       |      AS BIGINT) AS lw
       |  FROM e CROSS JOIN (SELECT cls FROM cl) c2
       |  JOIN tot ON tot.cls = c2.cls
       |  LEFT JOIN bc ON bc.cls = c2.cls AND bc.bucket = e.bucket),
       |sc AS (SELECT id, cls, sum(lw) AS s FROM lw GROUP BY 1, 2),
       |sp AS (SELECT w.id, w.source, c2.cls FROM w CROSS JOIN (SELECT cls FROM cl) c2),
       |fin AS (SELECT sp.id, sp.source, sp.cls, pri.lp + COALESCE(sc.s, 0) AS score
       |  FROM sp JOIN pri ON pri.cls = sp.cls
       |  LEFT JOIN sc ON sc.id = sp.id AND sc.cls = sp.cls),
       |rk AS (SELECT id, source, cls, score,
       |    row_number() OVER (PARTITION BY id ORDER BY score DESC, cls) AS rn
       |  FROM fin)""".stripMargin

  private def fxCte =
    s"""f AS (SELECT vec_id AS id, ${Similarity.fixedPointSql("embedding")} AS fx FROM embeddings),
       |n AS (SELECT id, fx, ${Similarity.nrmSql} AS nrm FROM f)""".stripMargin

  /** SemDeDup CTE chain through the drop set `dr` (reads nothing but the
    * embeddings table): shared by the `dedup_semantic` oracle and the
    * `dedup_d4` prototype-prune tail — one generator, so a tau/seed
    * tweak cannot split them. Final CTEs: `m(id, cid, d2)` = owning-list
    * membership, `dr(id)` = near-dup drop set. */
  private def semDedupCtes =
    s"""$fxCte,
       |c AS (SELECT id AS cid, fx AS cfx, nrm AS cnrm FROM (
       |    SELECT *, row_number() OVER (
       |      ORDER BY ${Similarity.seedHashSql("id")}, id) AS srn FROM n)
       |  WHERE srn <= GREATEST(4,
       |    CAST(ceil(sqrt(CAST((SELECT count(*) FROM n) AS DOUBLE))) AS BIGINT))),
       |sc AS (SELECT n.id, c.cid,
       |  n.nrm - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> n.fx[i]*c.cfx[i])) AS BIGINT) + c.cnrm AS d2
       |  FROM n, c),
       |rk AS (SELECT id, cid, d2, row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS crn FROM sc),
       |m AS (SELECT id, cid, d2 FROM rk WHERE crn = 1),
       |pr AS (SELECT id, cid, row_number() OVER (PARTITION BY cid ORDER BY d2 DESC, id) AS rr FROM m),
       |dr AS (SELECT DISTINCT b.id
       |  FROM pr a JOIN pr b ON a.cid = b.cid AND a.rr < b.rr
       |  JOIN n na ON na.id = a.id JOIN n nb ON nb.id = b.id
       |  WHERE ${Similarity.cosineSql("na.fx", "nb.fx", "na.nrm", "nb.nrm")} >= $COS_TAU)""".stripMargin

  /** Curriculum-staging CTE chain (reads only the documents table):
    * the text_perplexity LM fit + scoring, equi-width staging over the
    * broadcast [min, max] nll span — shared by the `mix_curriculum`
    * oracle and the `pipe_curriculum_pack` capstone so a stage-count or
    * smoothing tweak cannot split them. Final CTE
    * `stg(id, n_words, nll_micro_nats, stage)`. */
  private def curriculumCtes =
    s"""wh AS (SELECT doc_id, ${MirrorHash.wordHashesSql()} AS whs FROM documents),
       |e AS (SELECT unnest(whs) % $DSIR_B AS bucket FROM wh),
       |bc AS (SELECT bucket, count(*) AS c FROM e GROUP BY 1),
       |tot AS (SELECT sum(c) AS t FROM bc),
       |spine AS (SELECT unnest(generate_series(0, ${DSIR_B - 1})) AS bucket),
       |l AS (SELECT spine.bucket,
       |    CAST(round(1000000.0 * ln(
       |      CAST(COALESCE(bc.c,0)+1 AS DOUBLE)
       |      / CAST(tot.t+$DSIR_B AS DOUBLE))) AS BIGINT) AS lp
       |  FROM spine LEFT JOIN bc ON spine.bucket = bc.bucket, tot),
       |la AS (SELECT list(lp ORDER BY bucket) AS a FROM l),
       |sc AS (SELECT doc_id AS id, CAST(len(whs) AS BIGINT) AS n_words,
       |    CAST(-list_sum(list_transform(whs,
       |      w -> a[CAST(w % $DSIR_B AS INT) + 1])) AS BIGINT) AS s
       |  FROM wh, la),
       |p AS (SELECT id, n_words,
       |    CAST(s AS DOUBLE) / CAST(n_words AS DOUBLE) AS nll
       |  FROM sc WHERE n_words > 0),
       |ext AS (SELECT min(nll) AS lo, max(nll) AS hi FROM p),
       |stg AS (SELECT id, n_words, nll AS nll_micro_nats,
       |  CAST(CASE WHEN hi > lo
       |    THEN least(CAST(floor((nll - lo) / (hi - lo) * $CURR_STAGES)
       |      AS BIGINT), ${CURR_STAGES - 1})
       |    ELSE 0 END AS BIGINT) AS stage
       |  FROM p, ext)""".stripMargin

  /** KMV bottom-k CTE chain (reads CTE `w` = (source, whs, …)), shared
    * by the standalone `text_distinct_kmv` oracle and the datasheet
    * capstone — one generator, so a threshold/k tweak cannot split
    * them. Final CTE `ka(source, n_low, hk)`. */
  private def kmvCtes: String =
    s"""g0 AS (SELECT source, ${MirrorHash.ngramHashesSql("whs", KMV_N)} AS gs FROM w),
       |ge AS (SELECT source, unnest(gs) AS g FROM g0),
       |gf AS (SELECT DISTINCT source, g FROM ge WHERE g < ${MirrorHash.P / KMV_INV}),
       |kr AS (SELECT source, g, row_number() OVER (PARTITION BY source ORDER BY g) AS rn FROM gf),
       |ka AS (SELECT source, count(*) AS n_low,
       |    max(CASE WHEN rn = $KMV_K THEN g END) AS hk FROM kr GROUP BY source)""".stripMargin

  /** The KMV estimate expression over [[kmvCtes]]' `ka` columns. */
  private def kmvEstSql(nLow: String, hk: String): String =
    s"""CASE WHEN COALESCE($nLow, 0) >= $KMV_K
       |    THEN CAST(${(KMV_K - 1).toLong * MirrorHash.P} AS DOUBLE) / CAST($hk AS DOUBLE)
       |    ELSE CAST(COALESCE($nLow, 0) AS DOUBLE) * $KMV_INV END""".stripMargin

  /** Histogram keep-rate threshold tail (reads CTE `q(id, score)`),
    * shared by `mix_keep_rate` and the confidence-gate capstone —
    * mirrors [[graft.operators.Mixture.thresholdByKeepRate]]. */
  private def keepRateSql: String =
    // kh/kn/kc/kt prefixes: this tail composes after arbitrary scoring
    // CTE chains (the NB one already owns `nn`)
    s"""kh AS (SELECT score, count(*) AS cnt FROM q GROUP BY score),
       |kn AS (SELECT sum(cnt) AS n FROM kh),
       |kc AS (SELECT score, sum(cnt) OVER (ORDER BY score DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM kh),
       |kt AS (SELECT max(score) AS thr FROM kc, kn
       |  WHERE kc.cum >= CAST(ceil($KEEP_RATE * kn.n) AS BIGINT))
       |SELECT q.id, q.score, kt.thr, CAST(q.score >= kt.thr AS INT) AS keep
       |FROM q, kt ORDER BY id""".stripMargin

  /** Per-eval-doc contamination-rate mirror — shared verbatim by the
    * batch query and the streaming twin (one oracle, no drift). */
  private[queries] lazy val contamRateSql: String =
    s"""WITH w AS (SELECT doc_id AS id, ${wordHashesSql()} AS whs FROM documents),
       |g0 AS (SELECT id, ${MirrorHash.ngramHashesSql("whs", DECON_N)} AS gs FROM w),
       |ge AS (SELECT id, unnest(gs) AS g FROM g0),
       |g AS (SELECT DISTINCT id, g FROM ge),
       |ev AS (SELECT * FROM g WHERE id % $DECON_MOD = 0),
       |tr AS (SELECT DISTINCT g FROM g WHERE id % $DECON_MOD <> 0),
       |h AS (SELECT ev.id, count(*) AS n_hit FROM ev JOIN tr ON ev.g = tr.g GROUP BY ev.id),
       |tt AS (SELECT id, count(*) AS n_grams FROM ev GROUP BY id)
       |SELECT tt.id, tt.n_grams,
       |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) / CAST(tt.n_grams AS BIGINT) AS rate
       |FROM tt LEFT JOIN h ON h.id = tt.id ORDER BY tt.id""".stripMargin

  /** Shared CDC-chunk CTE chain (mirrors [[graft.operators.Chunking
    * .cdcChunks]]'s staged projections); `tail` is appended — the final
    * SELECT for `doc_cdc_chunks`, extra CTEs + SELECT (with
    * `tailIsCte = true`) for `dedup_cdc_stats`. Final CTE `ch` holds
    * (id, ws, bnds, ci, chunk_hash) with ci the 1-based chunk index. */
  private def cdcChunkSql(tail: String, extraCte: Boolean = false): String = {
    val slice = s"whs[CAST(bnds[ci]+1 AS INT) : CAST(bnds[ci+1] AS INT)]"
    s"""WITH w AS (SELECT doc_id AS id, string_split(text,' ') AS ws, ${wordHashesSql()} AS whs FROM documents),
       |g AS (SELECT id, ws, whs, ${MirrorHash.ngramHashesSql("whs", CDC_N)} AS gs FROM w),
       |b AS (SELECT id, ws, whs,
       |  CASE WHEN len(ws) >= ${CDC_N + 1} THEN list_filter(generate_series($CDC_N, len(ws)-1),
       |    t -> (gs[CAST(t - ${CDC_N - 1} AS INT)] % $CDC_K) = 0) ELSE [] END AS cuts FROM g),
       |b2 AS (SELECT id, ws, whs, list_concat(list_concat([0], cuts), [len(ws)]) AS bnds FROM b),
       |e AS (SELECT id, ws, whs, bnds, unnest(generate_series(1, len(bnds)-1)) AS ci FROM b2),
       |ch AS (SELECT id, ws, bnds, ci,
       |  ${MirrorHash.fingerprintSql(slice)} AS chunk_hash FROM e)${if (extraCte) "," else ""}
       |$tail""".stripMargin
  }

  /** Hyperplane-LSH candidate generation + exact-cosine verify as CTEs
    * (appended after [[fxCte]]); final CTE `ep(va, vb, cos)` holds the
    * verified pairs — shared by `dedup_embedding` and the embedding
    * dedup pipeline. */
  /** Signature half of [[embPairsCtes]] (weights → per-vector LSH band
    * values as CTE `sigs`) — shared with the incremental-embedding-dedup
    * mirror, whose candidate join is cross-side instead of id<id. */
  private def embSigCtes: String = {
    val planes = LSH_TABLES * LSH_PLANES
    val pow2 = (0 until LSH_PLANES).map(1L << _).mkString("[", ",", "]")
    s"""${graft.functions.PlaneHash.weightsCteSql(planes, 64)},
       |el AS (SELECT id, d, fx[d+1] AS x FROM n, generate_series(0,63) g(d)),
       |dots AS (SELECT el.id, wts.j, CAST(sum(el.x*wts.w) AS BIGINT) AS dot
       |  FROM el JOIN wts ON el.d = wts.d GROUP BY el.id, wts.j),
       |sigs AS (SELECT id, j//$LSH_PLANES AS bi,
       |    CAST(sum(CASE WHEN dot>=0 THEN ($pow2)[CAST(j%$LSH_PLANES AS INT)+1] ELSE 0 END) AS BIGINT) AS bv
       |  FROM dots GROUP BY id, j//$LSH_PLANES)""".stripMargin
  }

  private def embPairsCtes: String = {
    s"""$embSigCtes,
       |cand AS (SELECT DISTINCT x.id AS va, y.id AS vb
       |  FROM sigs x JOIN sigs y ON x.bi=y.bi AND x.bv=y.bv AND x.id<y.id),
       |ep AS MATERIALIZED (SELECT cand.va, cand.vb,
       |    ${Similarity.cosineSql("a.fx", "b.fx", "a.nrm", "b.nrm")} AS cos
       |  FROM cand JOIN n a ON a.id = cand.va JOIN n b ON b.id = cand.vb
       |  WHERE ${Similarity.cosineSql("a.fx", "b.fx", "a.nrm", "b.nrm")} >= $COS_TAU)""".stripMargin
  }

  /** Decontamination mirror — shared verbatim by the exact query, the
    * Bloom-prefilter query (verifies exactly, so it must hash-match the
    * same oracle) and the streaming twin (StreamQueries). */
  private[queries] def deconSql: String =
    s"""WITH w AS (SELECT doc_id AS id, ${wordHashesSql()} AS whs FROM documents),
       |gr AS (SELECT id, list_distinct(${MirrorHash.ngramHashesSql("whs", DECON_N)}) AS gs FROM w),
       |ev AS (SELECT DISTINCT unnest(gs) AS g FROM gr WHERE id % $DECON_MOD = 0),
       |tr AS (SELECT id, unnest(gs) AS g FROM gr WHERE id % $DECON_MOD <> 0)
       |SELECT id, count(*) AS n_hits FROM tr JOIN ev USING (g)
       |GROUP BY id ORDER BY id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // the exact column is mirrored; the _ok flags assert the sketches'
    // error bounds, which the oracle pins at their expected value 1
    "approx_aggs" ->
      """SELECT count(DISTINCT l_partkey) AS exact_nd,
        |  1 AS acd_ok, 1 AS p50_ok FROM lineitem""".stripMargin,
    "text_token_count" ->
      """SELECT doc_id AS id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS n_re
        |FROM documents ORDER BY id""".stripMargin,
    "text_quality" ->
      """WITH w AS (SELECT doc_id AS id, string_split(text,' ') AS ws FROM documents)
        |SELECT id, CAST(len(ws) AS BIGINT) AS n_words,
        |  CAST(len(list_distinct(ws)) AS BIGINT) / CAST(len(ws) AS BIGINT) AS distinct_ratio,
        |  CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) / CAST(len(ws) AS BIGINT) AS avg_wlen,
        |  CAST(len(list_filter(ws, w -> w IN ('the','a','of','and','is','to','in'))) AS BIGINT) / CAST(len(ws) AS BIGINT) AS stop_ratio
        |FROM w ORDER BY id""".stripMargin,
    "text_lang_id" ->
      s"""WITH w AS (SELECT doc_id AS id, string_split(text,' ') AS ws FROM documents),
         |sc AS (SELECT id, $langScoreSql FROM w)
         |SELECT id, CASE $langCaseSql ELSE 'und' END AS pred_lang
         |FROM sc ORDER BY id""".stripMargin,
    "text_fingerprint" ->
      s"""WITH $whsCte
         |SELECT id, ${fingerprintSql()} AS fp FROM w ORDER BY id""".stripMargin,
    "layout_zorder" ->
      s"""WITH d AS (SELECT
         |    CAST(CAST(l_extendedprice AS DECIMAL(20,6)) * 1000000 AS BIGINT) AS x,
         |    CAST(l_partkey AS BIGINT) AS y FROM lineitem),
         |b AS (SELECT min(x) AS xmin, max(x) AS xmax,
         |    min(y) AS ymin, max(y) AS ymax FROM d),
         |bd AS (SELECT *, ${Layout.shiftUpSql("xmax - xmin")} AS tx,
         |    ${Layout.shiftDownSql("xmax - xmin")} AS sx,
         |    ${Layout.shiftUpSql("ymax - ymin")} AS ty,
         |    ${Layout.shiftDownSql("ymax - ymin")} AS sy FROM b),
         |q AS (SELECT x, y, ${Layout.quantizeSql("x", "xmin", "tx", "sx")} AS qx,
         |    ${Layout.quantizeSql("y", "ymin", "ty", "sy")} AS qy FROM d, bd),
         |z AS (SELECT x, y, ${Layout.interleaveSql("qx", "qy")} AS zv FROM q)
         |SELECT zv >> 24 AS bucket, count(*) AS n,
         |  min(x) AS x_min, max(x) AS x_max, min(y) AS y_min, max(y) AS y_max
         |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin,
    // compaction mirror: identical exclusive running sum (1-row lookback
    // window) and truncating group division
    "layout_compaction" ->
      """WITH inv AS (SELECT o_orderpriority AS part, o_orderkey AS file_id,
        |    CAST(CAST(o_totalprice AS DECIMAL(20,6)) * 100 AS BIGINT) % 100000
        |      + 1024 AS bytes
        |  FROM orders),
        |c AS (SELECT part, file_id, bytes,
        |    COALESCE(sum(bytes) OVER (PARTITION BY part ORDER BY file_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
        |  FROM inv)
        |SELECT part, CAST(pre // 1048576 AS BIGINT) AS grp, count(*) AS n_files,
        |  CAST(sum(bytes) AS BIGINT) AS bytes, min(file_id) AS first_file,
        |  max(file_id) AS last_file
        |FROM c GROUP BY 1, 2 ORDER BY part, grp""".stripMargin,
    "text_heavy_hitters" ->
      s"""WITH w AS (SELECT unnest(string_split(text,' ')) AS token FROM documents),
         |n AS (SELECT count(*) AS n FROM w),
         |c AS (SELECT token, count(*) AS c FROM w GROUP BY 1)
         |SELECT token, c FROM c, n WHERE c >= (n.n + ${HH_SHARE - 1}) // $HH_SHARE
         |ORDER BY c DESC, token""".stripMargin,
    "text_winnowing" ->
      s"""WITH $shsCte,
         |f AS (SELECT id, unnest(${winnowSelectSql("shs", WINNOW_W)}) AS p FROM s)
         |SELECT id, p // $P AS pos, p % $P AS gh FROM f ORDER BY id, pos""".stripMargin,
    "dedup_winnow_incremental" ->
      s"""WITH $shsCte,
         |fp AS (SELECT id, unnest(${winnowSelectSql("shs", WINNOW_W)}) % $P AS gh FROM s),
         |fd AS (SELECT DISTINCT id, gh FROM fp),
         |i AS (SELECT id AS ii, gh FROM fd WHERE id % $INC_MOD = 0),
         |r AS (SELECT id AS ri, gh FROM fd WHERE id % $INC_MOD <> 0),
         |sh AS (SELECT ii, ri, count(*) AS shared FROM i JOIN r USING (gh)
         |  GROUP BY 1, 2 HAVING count(*) >= $WINNOW_MIN_SHARED),
         |b AS (SELECT ii AS id, ri AS match_id, shared FROM (
         |  SELECT ii, ri, shared, row_number() OVER (
         |    PARTITION BY ii ORDER BY shared DESC, ri) AS rn FROM sh)
         |  WHERE rn = 1)
         |SELECT d.doc_id AS id,
         |  CASE WHEN b.match_id IS NOT NULL THEN 1 ELSE 0 END AS overlap,
         |  b.match_id, COALESCE(b.shared, 0) AS shared
         |FROM documents d LEFT JOIN b ON b.id = d.doc_id
         |WHERE d.doc_id % $INC_MOD = 0 ORDER BY id""".stripMargin,
    "dedup_winnow_pairs" ->
      s"""WITH $shsCte,
         |g AS (SELECT id, unnest(${winnowSelectSql("shs", WINNOW_W)}) % $P AS gh FROM s),
         |f AS (SELECT DISTINCT id, gh FROM g),
         |pr AS (SELECT a.id AS da, b.id AS db, count(*) AS shared
         |  FROM f a JOIN f b ON a.gh = b.gh AND a.id < b.id GROUP BY 1, 2)
         |SELECT da, db, shared FROM pr WHERE shared >= $WINNOW_MIN_SHARED
         |ORDER BY da, db""".stripMargin,
    "doc_chunks" -> Chunking.chunkSql(CHUNK_W, CHUNK_OV),
    "text_bm25" -> Ranking.bm25Sql(BM25_TERMS, BM25_K),
    // chunk expansion feeds the BM25 mirror as its source relation
    "pipe_rag_retrieval" -> Ranking.bm25Sql(BM25_TERMS, BM25_K,
      s"""SELECT id*64 + chunk_idx AS id, chunk_text AS text
         |FROM (${Chunking.chunkSql(CHUNK_W, CHUNK_OV)})""".stripMargin),
    "feat_cut_bins" ->
      s"""SELECT ${Binning.cutSql("l_extendedprice", CUT_EDGES, CUT_LABELS)} AS bin,
         |  count(*) AS n
         |FROM lineitem GROUP BY 1 ORDER BY n DESC, bin""".stripMargin,
    "feat_equidepth" ->
      """WITH r AS (SELECT l_extendedprice,
        |    CAST(ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey,
        |      l_linenumber) AS BIGINT) AS bin
        |  FROM lineitem)
        |SELECT bin, count(*) AS n, min(l_extendedprice) AS lo,
        |  max(l_extendedprice) AS hi
        |FROM r GROUP BY 1 ORDER BY bin""".stripMargin,
    "text_vocab" ->
      s"""SELECT token, count(*) AS n
         |FROM (SELECT unnest(string_split(text,' ')) AS token FROM documents)
         |GROUP BY 1 ORDER BY n DESC, token LIMIT $VOCAB_K""".stripMargin,
    // OOV mirror: identical top-k vocabulary (count DESC, token) and
    // one final division over exact BIGINT counts
    "text_oov_rate" ->
      s"""WITH w AS (SELECT source, unnest(string_split(text,' ')) AS token
         |  FROM documents),
         |v AS (SELECT token FROM (SELECT token, count(*) AS c FROM w GROUP BY 1)
         |  ORDER BY c DESC, token LIMIT $VOCAB_K),
         |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(CASE WHEN w.token IN (SELECT token FROM v) THEN 0 ELSE 1 END) AS BIGINT) AS n_oov
         |  FROM w GROUP BY source)
         |SELECT source, n_tokens, n_oov,
         |  CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS oov_rate
         |FROM g ORDER BY source""".stripMargin,
    "text_ngrams" ->
      s"""WITH w AS (SELECT string_split(text,' ') AS ws FROM documents),
         |b AS (SELECT unnest(list_transform(generate_series(1, len(ws)-1),
         |    i -> ws[i] || ' ' || ws[i+1])) AS bigram FROM w)
         |SELECT bigram, count(*) AS n FROM b
         |GROUP BY 1 ORDER BY n DESC, bigram LIMIT $VOCAB_K""".stripMargin,
    "text_dup_ngrams" ->
      s"""WITH t AS (SELECT string_split(text,' ') AS toks FROM documents),
         |g AS (SELECT unnest(CASE WHEN len(toks) >= $DUPNG_N
         |    THEN list_transform(generate_series(1, len(toks)-${DUPNG_N - 1}),
         |      i -> array_to_string(toks[i:i+${DUPNG_N - 1}], ' '))
         |    ELSE [] END) AS gram FROM t)
         |SELECT gram, count(*) AS c FROM g GROUP BY gram
         |HAVING count(*) >= 2 ORDER BY c DESC, gram LIMIT $VOCAB_K""".stripMargin,
    "text_repetition" ->
      """WITH w AS (SELECT doc_id AS id, string_split(text,' ') AS ws FROM documents),
        |b AS (SELECT id, ws, list_transform(generate_series(1, len(ws)-1),
        |    i -> ws[i] || ' ' || ws[i+1]) AS bg FROM w)
        |SELECT id, CAST(len(ws) AS BIGINT) AS n_words,
        |  CAST(list_max(list_transform(list_distinct(ws),
        |    w -> len(list_filter(ws, x -> x = w)))) AS BIGINT)
        |    / CAST(len(ws) AS BIGINT) AS top_word_share,
        |  CASE WHEN len(bg) >= 1 THEN
        |    1.0 - CAST(len(list_distinct(bg)) AS BIGINT)/CAST(len(bg) AS BIGINT)
        |  ELSE 0.0 END AS dup_bigram_frac
        |FROM b ORDER BY id""".stripMargin,
    // full-Gopher mirror: relational per-n chains — top gram by
    // (count desc, gram binary asc) window, duplicated-gram coverage as
    // a DISTINCT position union joined to per-token lengths; char
    // lengths are code points == the expression's codePointCount
    "text_repetition_full" -> {
      val topCtes = (2 to 4).map { n =>
        s"""g$n AS (SELECT id, unnest(list_transform(generate_series(1, len(ws)-${n - 1}),
           |    i -> array_to_string(ws[i:i+${n - 1}], ' '))) AS gram
           |  FROM w WHERE len(ws) >= $n),
           |c$n AS (SELECT id, gram, count(*) AS c FROM g$n GROUP BY 1, 2),
           |t$n AS (SELECT id, CAST(c AS BIGINT) * (length(gram) - ${n - 1}) AS mass
           |  FROM (SELECT id, gram, c, row_number() OVER (
           |      PARTITION BY id ORDER BY c DESC, gram) AS rn FROM c$n)
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val dupCtes = (5 to 8).map { n =>
        s"""gp$n AS (SELECT id, unnest(generate_series(1, len(ws)-${n - 1})) AS i,
           |  unnest(list_transform(generate_series(1, len(ws)-${n - 1}),
           |    i -> array_to_string(ws[i:i+${n - 1}], ' '))) AS gram
           |  FROM w WHERE len(ws) >= $n),
           |dd$n AS (SELECT id, gram FROM (
           |  SELECT id, gram, count(*) AS c FROM gp$n GROUP BY 1, 2) WHERE c >= 2),
           |cv$n AS (SELECT DISTINCT g.id, g.i + k AS pos
           |  FROM gp$n g JOIN dd$n d ON g.id = d.id AND g.gram = d.gram,
           |  generate_series(0, ${n - 1}) v$n(k)),
           |m$n AS (SELECT c.id, CAST(sum(le.l) AS BIGINT) AS mass
           |  FROM cv$n c JOIN le ON le.id = c.id AND le.i = c.pos GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      def fr(cte: String) =
        s"CASE WHEN tot.total > 0 THEN CAST(COALESCE($cte.mass, 0) AS BIGINT) / tot.total ELSE 0.0 END"
      s"""WITH w AS (SELECT doc_id AS id, string_split(text,' ') AS ws FROM documents),
         |tot AS (SELECT id, CAST(list_sum(list_transform(ws, t -> length(t))) AS BIGINT) AS total FROM w),
         |le AS (SELECT id, unnest(generate_series(1, len(ws))) AS i,
         |  unnest(list_transform(ws, t -> CAST(length(t) AS BIGINT))) AS l FROM w),
         |$topCtes,
         |$dupCtes
         |SELECT tot.id, tot.total AS n_chars,
         |  ${fr("t2")} AS top2_frac, ${fr("t3")} AS top3_frac,
         |  ${fr("t4")} AS top4_frac, ${fr("m5")} AS dup5_frac,
         |  ${fr("m6")} AS dup6_frac, ${fr("m7")} AS dup7_frac,
         |  ${fr("m8")} AS dup8_frac
         |FROM tot
         |LEFT JOIN t2 ON t2.id = tot.id LEFT JOIN t3 ON t3.id = tot.id
         |LEFT JOIN t4 ON t4.id = tot.id LEFT JOIN m5 ON m5.id = tot.id
         |LEFT JOIN m6 ON m6.id = tot.id LEFT JOIN m7 ON m7.id = tot.id
         |LEFT JOIN m8 ON m8.id = tot.id
         |ORDER BY tot.id""".stripMargin
    },
    // 12-word line segmentation CTE shared by the two C4 mirrors below —
    // same slice arithmetic as TextAnalysis.segmentLines
    "text_clean_lines" -> cleanLinesSql,
    "dedup_paragraphs" ->
      """WITH w AS (SELECT doc_id AS id, string_split(text,' ') AS ws FROM documents),
        |seg AS (SELECT id, list_transform(generate_series(0, (len(ws)+11)//12 - 1),
        |    i -> array_to_string(ws[i*12+1 : i*12+12], ' ')) AS lines FROM w),
        |e0 AS (SELECT id, lines, unnest(generate_series(1, len(lines))) AS idx FROM seg),
        |e AS (SELECT id, idx, lines[CAST(idx AS INT)] AS line FROM e0),
        |r AS (SELECT id, idx, line,
        |    row_number() OVER (PARTITION BY line ORDER BY id, idx) AS rn FROM e)
        |SELECT id, string_agg(line, chr(10) ORDER BY idx) AS text,
        |  count(*) AS n_kept
        |FROM r WHERE rn = 1 GROUP BY id ORDER BY id""".stripMargin,
    "text_decontam" -> deconSql,
    "text_decontam_bloom" -> deconSql,
    "pipe_pack_sequences" ->
      s"""WITH d AS (SELECT doc_id AS id, ${Sampling.rowHashSql("doc_id")} AS h,
         |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens FROM documents),
         |b AS (SELECT id, h, n_tokens, h % $PACK_BUCKETS AS bucket FROM d),
         |c AS (SELECT id, bucket, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h, id) AS cum FROM b)
         |SELECT id, bucket, n_tokens,
         |  CAST(((cum - n_tokens) // $PACK_BUDGET) * $PACK_BUCKETS + bucket AS BIGINT) AS seq_id
         |FROM c ORDER BY id""".stripMargin,
    "pack_by_length" ->
      s"""WITH d AS (SELECT doc_id AS id, ${Sampling.rowHashSql("doc_id")} AS h,
         |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens FROM documents),
         |b AS (SELECT id, h, n_tokens,
         |    least($PACK_LEN_MAXB, n_tokens // $PACK_LEN_WIDTH) AS bucket FROM d),
         |c AS (SELECT id, bucket, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h, id) AS cum FROM b)
         |SELECT id, bucket, n_tokens,
         |  CAST(((cum - n_tokens) // $PACK_BUDGET) * ${PACK_LEN_MAXB + 1} + bucket AS BIGINT) AS seq_id
         |FROM c ORDER BY id""".stripMargin,
    "pipe_pack_texts" ->
      s"""WITH d AS (SELECT doc_id AS id, ${Sampling.rowHashSql("doc_id")} AS h,
         |    text, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens FROM documents),
         |b AS (SELECT id, h, text, n_tokens, h % $PACK_BUCKETS AS bucket FROM d),
         |c AS (SELECT id, h, text, n_tokens, bucket,
         |    sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h, id) AS cum FROM b),
         |a AS (SELECT *, CAST(((cum - n_tokens) // $PACK_BUDGET) * $PACK_BUCKETS + bucket AS BIGINT) AS seq_id FROM c)
         |SELECT seq_id, string_agg(text, ' ' ORDER BY h, id) AS seq_text,
         |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |FROM a GROUP BY seq_id ORDER BY seq_id""".stripMargin,
    "pipe_e2e_curation" ->
      s"""WITH w AS (SELECT doc_id, text, string_split(text,' ') AS ws FROM documents),
         |rep AS (SELECT doc_id, text, ws, list_transform(generate_series(1, len(ws)-1),
         |    i -> ws[i] || ' ' || ws[i+1]) AS bg FROM w),
         |sc AS (SELECT doc_id, text, ws, bg, $langScoreSql FROM rep),
         |gate AS (SELECT doc_id, text FROM (
         |  SELECT doc_id, text,
         |    CAST(len(ws) AS BIGINT) AS n_words,
         |    CAST(list_max(list_transform(list_distinct(ws),
         |      w2 -> len(list_filter(ws, x -> x = w2)))) AS BIGINT)
         |      / CAST(len(ws) AS BIGINT) AS tws,
         |    CASE WHEN len(bg) >= 1 THEN
         |      1.0 - CAST(len(list_distinct(bg)) AS BIGINT)/CAST(len(bg) AS BIGINT)
         |    ELSE 0.0 END AS dbf,
         |    CASE $langCaseSql ELSE 'und' END AS pl
         |  FROM sc)
         | WHERE pl = 'en' AND n_words >= $GATE_MIN_WORDS
         |   AND tws <= $GATE_MAX_TOP_SHARE AND dbf <= $GATE_MAX_DUP_BIGRAM
         |   AND doc_id % $DECON_MOD <> 0),
         |ded AS (SELECT doc_id, text FROM (
         |  SELECT doc_id, text,
         |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM gate)
         | WHERE rn = 1),
         |wh AS (SELECT doc_id AS id, ${wordHashesSql()} AS whs FROM documents),
         |grm AS (SELECT id, list_distinct(${MirrorHash.ngramHashesSql("whs", DECON_N)}) AS gs FROM wh),
         |ev AS (SELECT DISTINCT unnest(gs) AS g FROM grm WHERE id % $DECON_MOD = 0),
         |tr AS (SELECT id, unnest(gs) AS g FROM grm WHERE id % $DECON_MOD <> 0),
         |hits AS (SELECT DISTINCT id FROM tr JOIN ev USING (g)),
         |clean AS (SELECT doc_id, text FROM ded
         |  WHERE doc_id NOT IN (SELECT id FROM hits)),
         |pd AS (SELECT doc_id AS id, ${Sampling.rowHashSql("doc_id")} AS h,
         |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens FROM clean),
         |pb AS (SELECT id, h, n_tokens, h % $PACK_BUCKETS AS bucket FROM pd),
         |pc AS (SELECT id, bucket, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h, id) AS cum FROM pb)
         |SELECT id, bucket, n_tokens,
         |  CAST(((cum - n_tokens) // $PACK_BUDGET) * $PACK_BUCKETS + bucket AS BIGINT) AS seq_id
         |FROM pc ORDER BY id""".stripMargin,
    "pipe_quality_gate" ->
      s"""WITH w AS (SELECT doc_id AS id, string_split(text,' ') AS ws FROM documents),
         |b AS (SELECT id, ws, list_transform(generate_series(1, len(ws)-1),
         |    i -> ws[i] || ' ' || ws[i+1]) AS bg FROM w),
         |sc AS (SELECT id, ws, bg, $langScoreSql FROM b),
         |m AS (SELECT id,
         |  CAST(len(ws) AS BIGINT) AS n_words,
         |  CAST(list_max(list_transform(list_distinct(ws),
         |    w -> len(list_filter(ws, x -> x = w)))) AS BIGINT)
         |    / CAST(len(ws) AS BIGINT) AS top_word_share,
         |  CASE WHEN len(bg) >= 1 THEN
         |    1.0 - CAST(len(list_distinct(bg)) AS BIGINT)/CAST(len(bg) AS BIGINT)
         |  ELSE 0.0 END AS dup_bigram_frac,
         |  CASE $langCaseSql ELSE 'und' END AS pred_lang FROM sc)
         |SELECT id, n_words, top_word_share, dup_bigram_frac, pred_lang,
         |  CAST(CASE WHEN pred_lang = 'en' AND n_words >= $GATE_MIN_WORDS
         |    AND top_word_share <= $GATE_MAX_TOP_SHARE
         |    AND dup_bigram_frac <= $GATE_MAX_DUP_BIGRAM
         |  THEN 1 ELSE 0 END AS INT) AS keep
         |FROM m ORDER BY id""".stripMargin,
    "pipe_curation" ->
      s"""WITH w AS (SELECT doc_id, text, string_split(text,' ') AS ws FROM documents),
         |sc AS (SELECT doc_id, text, CAST(len(ws) AS BIGINT) AS n_words,
         |    $langScoreSql FROM w),
         |lid AS (SELECT doc_id, text, n_words,
         |    CASE $langCaseSql ELSE 'und' END AS pred_lang FROM sc),
         |flt AS (SELECT * FROM lid
         |  WHERE pred_lang = 'en' AND n_words >= $CURATE_MIN_WORDS),
         |ded AS (SELECT doc_id, pred_lang, n_words,
         |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM flt)
         |SELECT doc_id, pred_lang, n_words, ${splitCaseSql("doc_id")} AS split
         |FROM ded WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "emb_normalize" ->
      s"""WITH $fxCte
         |SELECT id, CAST(d AS BIGINT) AS d,
         |  CASE WHEN nrm > 0 THEN CAST(fx[d+1] AS DOUBLE) / sqrt(CAST(nrm AS DOUBLE)) END AS xn
         |FROM n, generate_series(0,63) g(d) ORDER BY id, d""".stripMargin,
    "feat_zscore" ->
      """WITH m AS (SELECT l_orderkey, l_linenumber, l_quantity,
        |    CAST(CAST(l_quantity AS DECIMAL(20,6))*1000000 AS BIGINT) AS xm
        |  FROM lineitem),
        |s AS (SELECT CAST(sum(xm) AS HUGEINT) AS sx, sum(CAST(xm AS HUGEINT)*xm) AS sxx,
        |    count(l_quantity) AS n FROM m),
        |st AS (SELECT CAST(sx AS DOUBLE)/(CAST(n AS DOUBLE)*1000000.0) AS mu,
        |    sqrt(CAST(sxx*n - sx*sx AS DOUBLE))/(CAST(n AS DOUBLE)*1000000.0) AS sigma
        |  FROM s)
        |SELECT l_orderkey, l_linenumber, (l_quantity - mu)/sigma AS z
        |FROM m, st ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // robust-scale mirror: quantile_cont == Spark percentile (type-7),
    // identical (x - med)/(q3 - q1) per-row tail
    "feat_robust_scale" ->
      """WITH st AS (SELECT quantile_cont(l_quantity, 0.25) AS q1,
        |    quantile_cont(l_quantity, 0.5) AS med,
        |    quantile_cont(l_quantity, 0.75) AS q3 FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  CASE WHEN q3 = q1 THEN 0.0
        |       ELSE (l_quantity - med) / (q3 - q1) END AS r
        |FROM lineitem, st ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // LOO target-encoding mirror: identical micro-unit sums and the
    // single (S - x)/((n - 1)*1e6) division
    "feat_target_encode" ->
      """WITH m AS (SELECT o_orderkey, o_orderpriority AS cat,
        |    CAST(CAST(o_totalprice AS DECIMAL(20,6))*1000000 AS BIGINT) AS xm
        |  FROM orders),
        |st AS (SELECT cat, CAST(sum(xm) AS BIGINT) AS s, count(xm) AS n
        |  FROM m GROUP BY cat)
        |SELECT o_orderkey, m.cat,
        |  CASE WHEN n <= 1 THEN NULL
        |       ELSE CAST(s - xm AS DOUBLE) / (CAST(n - 1 AS DOUBLE) * 1000000.0)
        |  END AS loo
        |FROM m LEFT JOIN st ON m.cat = st.cat ORDER BY o_orderkey""".stripMargin,
    // drift mirror: identical conditional counts and truncating micro
    // proportion division
    "feat_drift_hist" ->
      """WITH c AS (SELECT n_chars // 100 AS bin,
        |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
        |    CAST(sum(n_b) AS BIGINT) AS tb FROM c)
        |SELECT bin, n_a, n_b,
        |  (n_a * 1000000) // ta AS p_a_micro,
        |  (n_b * 1000000) // tb AS p_b_micro,
        |  abs((n_a * 1000000) // ta - (n_b * 1000000) // tb) AS d_micro
        |FROM c, t ORDER BY bin""".stripMargin,
    // JL projection mirror: same fixed-point cast, same PlaneHash
    // weight rows as integer literals, pure BIGINT dots
    "emb_rand_proj" -> {
      val cols = (0 until RP_K)
        .map(j => s"${Similarity.randomProjectionSql(j, RP_K)} AS p$j")
        .mkString(",\n|  ")
      s"""WITH f AS (SELECT vec_id AS id, ${Similarity.fixedPointSql("embedding")} AS fx FROM embeddings)
         |SELECT id,
         |  $cols
         |FROM f ORDER BY id""".stripMargin
    },
    // int8 quantization mirror: identical integer rounding arithmetic —
    // both DIV branches see non-negative operands, so Spark's trunc DIV
    // and DuckDB's floor // agree
    "emb_quantize" ->
      s"""WITH f AS (SELECT vec_id AS id, ${Similarity.fixedPointSql("embedding")} AS fx FROM embeddings),
         |m AS (SELECT id, fx, list_max(list_transform(fx, x -> abs(x))) AS m FROM f),
         |e AS (SELECT id, d, fx[d+1] AS x, m FROM m, generate_series(0,63) g(d))
         |SELECT id, CAST(d AS BIGINT) AS d,
         |  CAST(CASE WHEN m = 0 THEN 0
         |    WHEN x >= 0 THEN (x*254 + m) // (2*m)
         |    ELSE -((-x*254 + m) // (2*m)) END AS BIGINT) AS q
         |FROM e ORDER BY id, d""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS keeper
        |FROM documents GROUP BY 1 ORDER BY h""".stripMargin,
    "text_redact" ->
      """SELECT doc_id AS id, regexp_replace(text, '[0-9]+', '#', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_hits
        |FROM documents ORDER BY id""".stripMargin,
    "dedup_keep_last" ->
      """SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars,
        |    row_number() OVER (PARTITION BY text ORDER BY doc_id DESC) AS rn
        |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "dedup_keep_rows" ->
      """SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars,
        |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "dedup_jaccard" ->
      s"""WITH $distinctShingleCte,
         |e AS (SELECT id, nd, unnest(ds) AS h FROM d),
         |pairs AS (
         |  SELECT a.id AS da, b.id AS db, count(*) AS common,
         |    any_value(a.nd) AS na, any_value(b.nd) AS nb
         |  FROM e a JOIN e b ON a.h = b.h AND a.id < b.id GROUP BY 1, 2)
         |SELECT da, db, common, na, nb, common/(na+nb-common) AS j
         |FROM pairs WHERE common/(na+nb-common) >= $JACCARD_TAU
         |ORDER BY da, db""".stripMargin,
    // weighted-jaccard mirror: identical gram multiplicities (no
    // list_distinct), Σmin pair fold, exact totals, one division
    "dedup_jaccard_weighted" ->
      s"""WITH $shsCte,
         |g AS (SELECT id, unnest(shs) AS h FROM s),
         |gc AS (SELECT id, h, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY 1, 2),
         |tt AS (SELECT id, CAST(sum(c) AS BIGINT) AS n FROM gc GROUP BY 1),
         |p AS (SELECT a.id AS da, b.id AS db,
         |    CAST(sum(LEAST(a.c, b.c)) AS BIGINT) AS wcommon
         |  FROM gc a JOIN gc b ON a.h = b.h AND a.id < b.id GROUP BY 1, 2)
         |SELECT da, db, wcommon, ta.n AS na, tb.n AS nb,
         |  wcommon/(ta.n + tb.n - wcommon) AS wj
         |FROM p JOIN tt ta ON ta.id = da JOIN tt tb ON tb.id = db
         |WHERE wcommon/(ta.n + tb.n - wcommon) >= $WJACCARD_TAU
         |ORDER BY da, db""".stripMargin,
    // PPJoin mirror: identical df-rarity prefix rule (integer ⌈3n∕5⌉ =
    // (3n+4)//5), prefix-only self-join, exact list-intersect verify
    "dedup_jaccard_prefix" ->
      s"""WITH $distinctShingleCte,
         |e AS (SELECT id, nd, unnest(ds) AS h FROM d),
         |dfreq AS (SELECT h, count(*) AS df FROM e GROUP BY 1),
         |pr AS (SELECT id, nd, h FROM (
         |    SELECT e.id, e.nd, e.h,
         |      row_number() OVER (PARTITION BY e.id ORDER BY f.df, e.h) AS rn
         |    FROM e JOIN dfreq f ON e.h = f.h)
         |  WHERE rn <= nd - (3 * nd + 4) // 5 + 1),
         |cand AS (SELECT DISTINCT a.id AS da, b.id AS db
         |  FROM pr a JOIN pr b ON a.h = b.h AND a.id < b.id
         |    AND b.nd * 5 >= a.nd * 3 AND a.nd * 5 >= b.nd * 3),
         |v AS (SELECT c.da, c.db,
         |    CAST(len(list_intersect(x.ds, y.ds)) AS BIGINT) AS common,
         |    x.nd AS na, y.nd AS nb
         |  FROM cand c JOIN d x ON c.da = x.id JOIN d y ON c.db = y.id)
         |SELECT da, db, common, na, nb, common/(na+nb-common) AS j
         |FROM v WHERE common/(na+nb-common) >= $JACCARD_TAU
         |ORDER BY da, db""".stripMargin,
    // containment mirror: same shingle inverted index, directional
    // common/n ratios with the UNION of both directions
    "dedup_containment" ->
      s"""WITH $distinctShingleCte,
         |ex AS (SELECT id, nd, unnest(ds) AS h FROM d),
         |pr AS (
         |  SELECT a.id AS da, b.id AS db, count(*) AS common,
         |    any_value(a.nd) AS na, any_value(b.nd) AS nb
         |  FROM ex a JOIN ex b ON a.h = b.h AND a.id < b.id GROUP BY 1, 2),
         |dirs AS (
         |  SELECT da AS contained, db AS container, common,
         |    common / na AS containment FROM pr
         |  UNION ALL
         |  SELECT db AS contained, da AS container, common,
         |    common / nb AS containment FROM pr)
         |SELECT contained, container, common, containment FROM dirs
         |WHERE containment >= $CONTAIN_TAU
         |ORDER BY contained, container""".stripMargin,

    // integer-PageRank mirror: same jaccard pair CTEs, the same fixed
    // rounds unrolled with identical floored-division arithmetic
    // k-core mirror: shared jaccard pair CTEs, then unrolled peel
    // rounds — alive set = degree >= k, edge list filtered on both ends
    "graph_kcore" -> {
      val rounds = (1 to KCORE_ITERS).map { i =>
        s"""a$i AS (SELECT u FROM (
           |    SELECT u, count(*) AS c FROM e${i - 1} GROUP BY u)
           |  WHERE c >= $KCORE_K),
           |e$i AS (SELECT e.u, e.v FROM e${i - 1} e
           |  JOIN a$i x ON e.u = x.u JOIN a$i y ON e.v = y.u)""".stripMargin
      }.mkString(",\n")
      s"""WITH $distinctShingleCte,
         |ex AS (SELECT id, nd, unnest(ds) AS h FROM d),
         |pr AS (
         |  SELECT a.id AS da, b.id AS db, count(*) AS common,
         |    any_value(a.nd) AS na, any_value(b.nd) AS nb
         |  FROM ex a JOIN ex b ON a.h = b.h AND a.id < b.id GROUP BY 1, 2),
         |jp AS (SELECT da, db FROM pr WHERE common/(na+nb-common) >= $JACCARD_TAU),
         |e0 AS (SELECT da AS u, db AS v FROM jp UNION ALL SELECT db AS u, da AS v FROM jp),
         |$rounds
         |SELECT u AS id, CAST(count(*) AS BIGINT) AS deg
         |FROM e$KCORE_ITERS GROUP BY u ORDER BY id""".stripMargin
    },
    "graph_pagerank" -> {
      val rounds = (1 to PR_ITERS).map { i =>
        s"""p$i AS (SELECT edd.v AS n,
           |    CAST(150 + (850 * sum(p${i - 1}.r // edd.deg)) // 1000 AS BIGINT) AS r
           |  FROM edd JOIN p${i - 1} ON edd.u = p${i - 1}.n GROUP BY edd.v)""".stripMargin
      }.mkString(",\n")
      s"""WITH $distinctShingleCte,
         |ex AS (SELECT id, nd, unnest(ds) AS h FROM d),
         |pr AS (
         |  SELECT a.id AS da, b.id AS db, count(*) AS common,
         |    any_value(a.nd) AS na, any_value(b.nd) AS nb
         |  FROM ex a JOIN ex b ON a.h = b.h AND a.id < b.id GROUP BY 1, 2),
         |jp AS (SELECT da, db FROM pr WHERE common/(na+nb-common) >= $JACCARD_TAU),
         |ed AS (SELECT da AS u, db AS v FROM jp UNION ALL SELECT db AS u, da AS v FROM jp),
         |dg AS (SELECT u, count(*) AS deg FROM ed GROUP BY 1),
         |edd AS (SELECT ed.u, ed.v, dg.deg FROM ed JOIN dg ON ed.u = dg.u),
         |p0 AS (SELECT u AS n, CAST(1000 AS BIGINT) AS r FROM dg),
         |$rounds
         |SELECT n AS id, r AS rank_milli FROM p$PR_ITERS ORDER BY id""".stripMargin
    },
    // graph-audit mirror: ONE CTE chain — shared pair/edge/degree CTEs
    // feeding the pagerank rounds, the triangle join and the LPA
    // rounds, final 3-way node join
    "pipe_graph_audit" -> {
      val prRounds = (1 to PR_ITERS).map { i =>
        s"""p$i AS (SELECT edd.v AS n,
           |    CAST(150 + (850 * sum(p${i - 1}.r // edd.deg)) // 1000 AS BIGINT) AS r
           |  FROM edd JOIN p${i - 1} ON edd.u = p${i - 1}.n GROUP BY edd.v)""".stripMargin
      }.mkString(",\n")
      val lpRounds = (1 to LP_ITERS).map { i =>
        s"""cc$i AS (SELECT ed.v, l${i - 1}.l, count(*) AS c
           |  FROM ed JOIN l${i - 1} ON ed.u = l${i - 1}.n GROUP BY 1, 2),
           |l$i AS (SELECT v AS n, l FROM (
           |  SELECT v, l, row_number() OVER (PARTITION BY v ORDER BY c DESC, l) AS rn
           |  FROM cc$i) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH $distinctShingleCte,
         |ex AS (SELECT id, nd, unnest(ds) AS h FROM d),
         |pr AS (
         |  SELECT a.id AS da, b.id AS db, count(*) AS common,
         |    any_value(a.nd) AS na, any_value(b.nd) AS nb
         |  FROM ex a JOIN ex b ON a.h = b.h AND a.id < b.id GROUP BY 1, 2),
         |jp AS (SELECT da, db FROM pr WHERE common/(na+nb-common) >= $JACCARD_TAU),
         |ed AS (SELECT da AS u, db AS v FROM jp UNION ALL SELECT db AS u, da AS v FROM jp),
         |dg AS (SELECT u, count(*) AS deg FROM ed GROUP BY 1),
         |edd AS (SELECT ed.u, ed.v, dg.deg FROM ed JOIN dg ON ed.u = dg.u),
         |p0 AS (SELECT u AS n, CAST(1000 AS BIGINT) AS r FROM dg),
         |$prRounds,
         |tr AS (SELECT e1.da AS a, e1.db AS b, e2.db AS c
         |  FROM jp e1 JOIN jp e2 ON e1.db = e2.da
         |  JOIN jp e3 ON e3.da = e1.da AND e3.db = e2.db),
         |tn AS (SELECT id, count(*) AS n_tri
         |  FROM (SELECT unnest([a, b, c]) AS id FROM tr) GROUP BY 1),
         |l0 AS (SELECT u AS n, u AS l FROM dg),
         |$lpRounds
         |SELECT p$PR_ITERS.n AS id, p$PR_ITERS.r AS rank_milli, dg.deg,
         |  COALESCE(tn.n_tri, 0) AS n_tri,
         |  CASE WHEN dg.deg >= 2
         |    THEN (COALESCE(tn.n_tri, 0) * 2) / (dg.deg * (dg.deg - 1))
         |    ELSE 0.0 END AS clustering,
         |  l$LP_ITERS.l AS community
         |FROM p$PR_ITERS
         |JOIN dg ON dg.u = p$PR_ITERS.n
         |LEFT JOIN tn ON tn.id = p$PR_ITERS.n
         |JOIN l$LP_ITERS ON l$LP_ITERS.n = p$PR_ITERS.n
         |ORDER BY id""".stripMargin
    },
    // LPA mirror: same jaccard pair CTEs, the same fixed rounds
    // unrolled with the identical (count desc, label) window tie-break
    "graph_communities" -> {
      val rounds = (1 to LP_ITERS).map { i =>
        s"""c$i AS (SELECT ed.v, l${i - 1}.l, count(*) AS c
           |  FROM ed JOIN l${i - 1} ON ed.u = l${i - 1}.n GROUP BY 1, 2),
           |l$i AS (SELECT v AS n, l FROM (
           |  SELECT v, l, row_number() OVER (PARTITION BY v ORDER BY c DESC, l) AS rn
           |  FROM c$i) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH $distinctShingleCte,
         |ex AS (SELECT id, nd, unnest(ds) AS h FROM d),
         |pr AS (
         |  SELECT a.id AS da, b.id AS db, count(*) AS common,
         |    any_value(a.nd) AS na, any_value(b.nd) AS nb
         |  FROM ex a JOIN ex b ON a.h = b.h AND a.id < b.id GROUP BY 1, 2),
         |jp AS (SELECT da, db FROM pr WHERE common/(na+nb-common) >= $JACCARD_TAU),
         |ed AS (SELECT da AS u, db AS v FROM jp UNION ALL SELECT db AS u, da AS v FROM jp),
         |l0 AS (SELECT DISTINCT u AS n, u AS l FROM ed),
         |$rounds
         |SELECT n AS id, l AS community FROM l$LP_ITERS ORDER BY id""".stripMargin
    },
    // triangle mirror: same jaccard pair CTEs, forward-edge 3-join with
    // the identical integer-then-one-division coefficient arithmetic
    "graph_triangles" ->
      s"""WITH $distinctShingleCte,
         |ex AS (SELECT id, nd, unnest(ds) AS h FROM d),
         |pr AS (
         |  SELECT a.id AS da, b.id AS db, count(*) AS common,
         |    any_value(a.nd) AS na, any_value(b.nd) AS nb
         |  FROM ex a JOIN ex b ON a.h = b.h AND a.id < b.id GROUP BY 1, 2),
         |jp AS (SELECT da, db FROM pr WHERE common/(na+nb-common) >= $JACCARD_TAU),
         |ed AS (SELECT da AS u, db AS v FROM jp UNION ALL SELECT db AS u, da AS v FROM jp),
         |tr AS (SELECT e1.da AS a, e1.db AS b, e2.db AS c
         |  FROM jp e1 JOIN jp e2 ON e1.db = e2.da
         |  JOIN jp e3 ON e3.da = e1.da AND e3.db = e2.db),
         |tn AS (SELECT id, count(*) AS n_tri
         |  FROM (SELECT unnest([a, b, c]) AS id FROM tr) GROUP BY 1),
         |dg AS (SELECT u AS id, count(*) AS deg FROM ed GROUP BY 1)
         |SELECT dg.id, dg.deg, COALESCE(tn.n_tri, 0) AS n_tri,
         |  CASE WHEN dg.deg >= 2
         |    THEN (COALESCE(tn.n_tri, 0) * 2) / (dg.deg * (dg.deg - 1))
         |    ELSE 0.0 END AS clustering
         |FROM dg LEFT JOIN tn ON dg.id = tn.id ORDER BY dg.id""".stripMargin,
    // unrolled min-label propagation (same fixed rounds as Dedup.clusters)
    "dedup_clusters" ->
      s"""WITH $distinctShingleCte,
         |ex AS (SELECT id, nd, unnest(ds) AS h FROM d),
         |pr AS (
         |  SELECT a.id AS da, b.id AS db, count(*) AS common,
         |    any_value(a.nd) AS na, any_value(b.nd) AS nb
         |  FROM ex a JOIN ex b ON a.h = b.h AND a.id < b.id GROUP BY 1, 2),
         |jp AS (SELECT da, db FROM pr WHERE common/(na+nb-common) >= $JACCARD_TAU),
         |ed AS (SELECT da AS u, db AS v FROM jp UNION ALL SELECT db AS u, da AS v FROM jp),
         |$clusterUnrollCtes
         |SELECT n AS id, l AS cluster FROM l$CLUSTER_ITERS ORDER BY id""".stripMargin,
    // keep-best mirror: the same jaccard pair CTEs + unrolled labels,
    // then every doc joined to its cluster (singletons to themselves)
    // and the longest kept per cluster
    // cross-modal mirror: text pairs (shingle index + jaccard) UNION
    // visual pairs (predicted aHash band join), recursive reach ==
    // converged star contraction, representative = component min
    "pipe_mm_dedup" ->
      s"""WITH RECURSIVE $distinctShingleCte,
         |ex AS (SELECT id, nd, unnest(ds) AS h FROM d),
         |pr AS (SELECT a.id AS da, b.id AS db, count(*) AS common,
         |    any_value(a.nd) AS na, any_value(b.nd) AS nb
         |  FROM ex a JOIN ex b ON a.h = b.h AND a.id < b.id GROUP BY 1, 2),
         |jp AS (SELECT da, db FROM pr WHERE common/(na+nb-common) >= $JACCARD_TAU),
         |${StreamQueries.ahashCtes},
         |vp AS (SELECT a.id AS da, b.id AS db
         |  FROM ah a JOIN ah b ON a.id < b.id AND (
         |    a.ah_lo % 65536 = b.ah_lo % 65536 OR a.ah_lo // 65536 = b.ah_lo // 65536
         |    OR a.ah_hi % 65536 = b.ah_hi % 65536 OR a.ah_hi // 65536 = b.ah_hi // 65536)
         |  WHERE bit_count(xor(a.ah_lo, b.ah_lo))
         |      + bit_count(xor(a.ah_hi, b.ah_hi)) <= 3),
         |up AS (SELECT da, db FROM jp UNION SELECT da, db FROM vp),
         |ed AS (SELECT da AS u, db AS v FROM up UNION ALL SELECT db AS u, da AS v FROM up),
         |reach(n, m) AS (
         |  SELECT u, v FROM ed
         |  UNION
         |  SELECT r.n, ed.v FROM reach r JOIN ed ON r.m = ed.u),
         |lab AS (SELECT n, least(n, min(m)) AS l FROM reach GROUP BY n),
         |cl AS (SELECT doc_id, coalesce(lab.l, doc_id) AS cluster
         |  FROM documents LEFT JOIN lab ON doc_id = lab.n)
         |SELECT cluster AS doc_id, count(*) AS n_members
         |FROM cl GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "pipe_text_dedup" ->
      s"""WITH $distinctShingleCte,
         |ex AS (SELECT id, nd, unnest(ds) AS h FROM d),
         |pr AS (
         |  SELECT a.id AS da, b.id AS db, count(*) AS common,
         |    any_value(a.nd) AS na, any_value(b.nd) AS nb
         |  FROM ex a JOIN ex b ON a.h = b.h AND a.id < b.id GROUP BY 1, 2),
         |jp AS (SELECT da, db FROM pr WHERE common/(na+nb-common) >= $JACCARD_TAU),
         |ed AS (SELECT da AS u, db AS v FROM jp UNION ALL SELECT db AS u, da AS v FROM jp),
         |$clusterUnrollCtes,
         |lbl AS (SELECT doc_id, n_chars,
         |    coalesce(l$CLUSTER_ITERS.l, doc_id) AS cl
         |  FROM documents LEFT JOIN l$CLUSTER_ITERS ON doc_id = l$CLUSTER_ITERS.n),
         |rk AS (SELECT doc_id, cl, n_chars,
         |    row_number() OVER (PARTITION BY cl ORDER BY n_chars DESC, doc_id) AS rn
         |  FROM lbl)
         |SELECT doc_id, cl AS cluster, n_chars FROM rk WHERE rn = 1
         |ORDER BY doc_id""".stripMargin,
    // star contraction converges to the true component minima, which is
    // exactly what recursive min-propagation (transitive closure over the
    // symmetrized edges + group min) converges to — no round unrolling
    "dedup_clusters_conv" ->
      s"""WITH RECURSIVE $distinctShingleCte,
         |ex AS (SELECT id, nd, unnest(ds) AS h FROM d),
         |pr AS (
         |  SELECT a.id AS da, b.id AS db, count(*) AS common,
         |    any_value(a.nd) AS na, any_value(b.nd) AS nb
         |  FROM ex a JOIN ex b ON a.h = b.h AND a.id < b.id GROUP BY 1, 2),
         |jp AS (SELECT da, db FROM pr WHERE common/(na+nb-common) >= $JACCARD_TAU),
         |ed AS (SELECT da AS u, db AS v FROM jp UNION ALL SELECT db AS u, da AS v FROM jp),
         |reach(n, m) AS (
         |  SELECT u, v FROM ed
         |  UNION
         |  SELECT r.n, ed.v FROM reach r JOIN ed ON r.m = ed.u)
         |SELECT n AS id, least(n, min(m)) AS cluster FROM reach
         |GROUP BY n ORDER BY id""".stripMargin,
    "dedup_minhash_sig" -> {
      val cols = (0 until MirrorHash.NUM_PERMS)
        .map(j => s"${minhashSql("ds", j)} AS mh$j").mkString(", ")
      s"""WITH $distinctShingleCte
         |SELECT id, $cols FROM d ORDER BY id""".stripMargin
    },
    "dedup_minhash_pairs" ->
      s"""WITH $distinctShingleCte,
         |g AS (SELECT id, ds, nd, ${minhashSigSql("ds")} AS sig FROM d),
         |bd AS (SELECT id, ds, nd, ${bandsSql("sig")} AS bands FROM g),
         |ex AS (SELECT id, i AS bi, bands[i] AS bv FROM bd, UNNEST(generate_series(1, ${MirrorHash.NUM_BANDS})) AS u(i)),
         |cand AS (SELECT DISTINCT x.id AS da, y.id AS db
         |  FROM ex x JOIN ex y ON x.bi = y.bi AND x.bv = y.bv AND x.id < y.id),
         |v AS (SELECT da, db,
         |    CAST(len(list_intersect(a.ds, b.ds)) AS BIGINT) AS common, a.nd AS na, b.nd AS nb
         |  FROM cand JOIN bd a ON a.id = da JOIN bd b ON b.id = db)
         |SELECT da, db, common/(na+nb-common) AS j FROM v
         |WHERE common/(na+nb-common) >= $JACCARD_TAU ORDER BY da, db""".stripMargin,
    // incremental mirror: exact arm on raw text equality (Spark joins
    // on md5 for shuffle-width; the FLAGS are identical), near arm the
    // same sig/band/verify chain split incoming-vs-reference
    "dedup_incremental" ->
      s"""WITH $distinctShingleCte,
         |g AS (SELECT id, ds, nd, ${minhashSigSql("ds")} AS sig FROM d),
         |bd AS (SELECT id, ds, nd, ${bandsSql("sig")} AS bands FROM g),
         |ri AS (SELECT * FROM bd WHERE id % $INC_MOD <> 0),
         |ii AS (SELECT * FROM bd WHERE id % $INC_MOD = 0),
         |exh AS (SELECT DISTINCT a.doc_id AS id FROM documents a
         |  JOIN documents b ON a.text = b.text
         |  WHERE a.doc_id % $INC_MOD = 0 AND b.doc_id % $INC_MOD <> 0),
         |xr AS (SELECT id, i AS bi, bands[i] AS bv FROM ri, UNNEST(generate_series(1, ${MirrorHash.NUM_BANDS})) AS u(i)),
         |xi AS (SELECT id, i AS bi, bands[i] AS bv FROM ii, UNNEST(generate_series(1, ${MirrorHash.NUM_BANDS})) AS u(i)),
         |cand AS (SELECT DISTINCT x.id AS iid, y.id AS rid
         |  FROM xi x JOIN xr y ON x.bi = y.bi AND x.bv = y.bv),
         |nh AS (SELECT DISTINCT c.iid AS id
         |  FROM cand c JOIN bd a ON a.id = c.iid JOIN bd b ON b.id = c.rid
         |  WHERE CAST(len(list_intersect(a.ds, b.ds)) AS BIGINT)
         |    / (a.nd + b.nd - len(list_intersect(a.ds, b.ds))) >= $JACCARD_TAU)
         |SELECT ii.id,
         |  CAST(ii.id IN (SELECT id FROM exh) AS INT) AS exact_dup,
         |  CAST(ii.id IN (SELECT id FROM nh) AS INT) AS near_dup,
         |  CAST(ii.id NOT IN (SELECT id FROM exh)
         |    AND ii.id NOT IN (SELECT id FROM nh) AS INT) AS kept
         |FROM ii ORDER BY id""".stripMargin,
    // Bloom prefilter + exact verify == the plain exact arm (FP adds
    // probes, never rows) — the plain mirror proves it
    "dedup_incr_bloom" ->
      s"""WITH $distinctShingleCte,
         |g AS (SELECT id, ds, nd, ${minhashSigSql("ds")} AS sig FROM d),
         |bd AS (SELECT id, ds, nd, ${bandsSql("sig")} AS bands FROM g),
         |ri AS (SELECT * FROM bd WHERE id % $INC_MOD <> 0),
         |ii AS (SELECT * FROM bd WHERE id % $INC_MOD = 0),
         |exh AS (SELECT DISTINCT a.doc_id AS id FROM documents a
         |  JOIN documents b ON a.text = b.text
         |  WHERE a.doc_id % $INC_MOD = 0 AND b.doc_id % $INC_MOD <> 0),
         |xr AS (SELECT id, i AS bi, bands[i] AS bv FROM ri, UNNEST(generate_series(1, ${MirrorHash.NUM_BANDS})) AS u(i)),
         |xi AS (SELECT id, i AS bi, bands[i] AS bv FROM ii, UNNEST(generate_series(1, ${MirrorHash.NUM_BANDS})) AS u(i)),
         |cand AS (SELECT DISTINCT x.id AS iid, y.id AS rid
         |  FROM xi x JOIN xr y ON x.bi = y.bi AND x.bv = y.bv),
         |nh AS (SELECT DISTINCT c.iid AS id
         |  FROM cand c JOIN bd a ON a.id = c.iid JOIN bd b ON b.id = c.rid
         |  WHERE CAST(len(list_intersect(a.ds, b.ds)) AS BIGINT)
         |    / (a.nd + b.nd - len(list_intersect(a.ds, b.ds))) >= $JACCARD_TAU)
         |SELECT ii.id,
         |  CAST(ii.id IN (SELECT id FROM exh) AS INT) AS exact_dup,
         |  CAST(ii.id IN (SELECT id FROM nh) AS INT) AS near_dup,
         |  CAST(ii.id NOT IN (SELECT id FROM exh)
         |    AND ii.id NOT IN (SELECT id FROM nh) AS INT) AS kept
         |FROM ii ORDER BY id""".stripMargin,
    "text_source_overlap" ->
      s"""WITH w AS (SELECT source, ${wordHashesSql()} AS whs FROM documents),
         |gr AS (SELECT DISTINCT source, unnest(${MirrorHash.ngramHashesWideSql("whs", DECON_N)}) AS g FROM w)
         |SELECT a.source AS source_a, b.source AS source_b,
         |  count(*) AS shared_grams
         |FROM gr a JOIN gr b ON a.g = b.g AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,
    "dedup_simhash" ->
      s"""WITH $shsCte
         |SELECT id, ${simhashSql()} AS sh FROM s ORDER BY id""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""WITH $shsCte,
         |m AS (SELECT id, ${simhashSql()} AS sh FROM s),
         |b AS (SELECT id, sh, ${simhashBandsSql("sh", 5)} AS bands FROM m),
         |ex AS (SELECT id, sh, i AS bi, bands[i] AS bv FROM b, UNNEST(generate_series(1, 5)) AS u(i)),
         |p AS (SELECT DISTINCT x.id AS da, y.id AS db,
         |    CAST(bit_count(xor(x.sh, y.sh)) AS BIGINT) AS hd
         |  FROM ex x JOIN ex y ON x.bi = y.bi AND x.bv = y.bv AND x.id < y.id)
         |SELECT da, db, hd FROM p WHERE hd <= $SIMHASH_HD ORDER BY da, db""".stripMargin,
    // LSH mirror: same weights/bands as HyperplaneSig (PlaneHash), so the
    // candidate set — and therefore the verified output — is identical.
    "dedup_embedding" ->
      s"""WITH $fxCte,
         |$embPairsCtes
         |SELECT va, vb, cos FROM ep ORDER BY va, vb""".stripMargin,
    // composite: LSH pairs → fixed-round clustering → representatives
    "pipe_embed_dedup" ->
      s"""WITH $fxCte,
         |$embPairsCtes,
         |ed AS MATERIALIZED (SELECT va AS u, vb AS v FROM ep UNION ALL SELECT vb AS u, va AS v FROM ep),
         |$clusterUnrollCtes
         |SELECT vec_id FROM embeddings
         |WHERE vec_id NOT IN (SELECT n FROM l$CLUSTER_ITERS WHERE l <> n)
         |ORDER BY vec_id""".stripMargin,
    "dedup_embedding_exact" ->
      s"""WITH $fxCte
         |SELECT a.id AS va, b.id AS vb,
         |  ${Similarity.cosineSql("a.fx", "b.fx", "a.nrm", "b.nrm")} AS cos
         |FROM n a JOIN n b ON a.id < b.id
         |WHERE ${Similarity.cosineSql("a.fx", "b.fx", "a.nrm", "b.nrm")} >= $COS_TAU
         |ORDER BY va, vb""".stripMargin,
    // Lee et al. duplicate-span mirror: same word/n-gram hash chain as
    // the decontamination oracle, positions via indexed list_transform
    "dedup_span" -> Dedup.dupSpansSql(DECON_N),
    "dedup_normalized" ->
      s"""WITH c AS (SELECT doc_id AS id,
         |    ${Dedup.canonicalTextSql("text")} AS ct FROM documents)
         |SELECT min(id) AS id, count(*) AS n,
         |  CAST(len(ct) AS BIGINT) AS canon_len
         |FROM c GROUP BY ct ORDER BY id""".stripMargin,
    // CCNet capstone mirror: lang-ID CASE + the shared LM-fit chain +
    // per-predicted-language percent_rank terciles, tail dropped
    "pipe_ccnet_filter" ->
      s"""WITH w0 AS (SELECT doc_id, text, string_split(text,' ') AS ws FROM documents),
         |sc0 AS (SELECT doc_id, text, $langScoreSql FROM w0),
         |tag AS (SELECT doc_id, text,
         |    CASE $langCaseSql ELSE 'und' END AS pl FROM sc0),
         |wh AS (SELECT doc_id, pl, ${MirrorHash.wordHashesSql()} AS whs FROM tag),
         |e AS (SELECT unnest(whs) % $DSIR_B AS bucket FROM wh),
         |bc AS (SELECT bucket, count(*) AS c FROM e GROUP BY 1),
         |tot AS (SELECT sum(c) AS t FROM bc),
         |spine AS (SELECT unnest(generate_series(0, ${DSIR_B - 1})) AS bucket),
         |l AS (SELECT spine.bucket,
         |    CAST(round(1000000.0 * ln(
         |      CAST(COALESCE(bc.c,0)+1 AS DOUBLE)
         |      / CAST(tot.t+$DSIR_B AS DOUBLE))) AS BIGINT) AS lp
         |  FROM spine LEFT JOIN bc ON spine.bucket = bc.bucket, tot),
         |la AS (SELECT list(lp ORDER BY bucket) AS a FROM l),
         |sc AS (SELECT doc_id AS id, pl,
         |    CAST(len(whs) AS BIGINT) AS n_words,
         |    CAST(-list_sum(list_transform(whs,
         |      w -> a[CAST(w % $DSIR_B AS INT) + 1])) AS BIGINT) AS s
         |  FROM wh, la),
         |p AS (SELECT id, pl, n_words,
         |    CAST(s AS DOUBLE) / CAST(n_words AS DOUBLE) AS nll
         |  FROM sc WHERE n_words > 0),
         |r AS (SELECT id, pl, n_words, nll,
         |    percent_rank() OVER (PARTITION BY pl ORDER BY nll, id) AS pct
         |  FROM p),
         |b AS (SELECT id, pl, n_words, nll AS nll_micro_nats,
         |    CASE WHEN pct <= 1.0/3 THEN 'head'
         |         WHEN pct <= 2.0/3 THEN 'middle'
         |         ELSE 'tail' END AS bucket
         |  FROM r)
         |SELECT id, pl, n_words, nll_micro_nats, bucket FROM b
         |WHERE bucket <> 'tail' ORDER BY id""".stripMargin,

    // temperature→resample capstone mirror: the rate is DATA-derived
    // (sqrt ratio, IEEE-identical), then the exact epochPlan floor
    // arithmetic inline — whole = floor(rate), extra iff
    // hash < floor(frac·M)
    "pipe_temperature_mix" ->
      s"""WITH b AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |m AS (SELECT max(n_tokens) AS mt FROM b),
         |rt AS (SELECT source,
         |    sqrt(CAST(n_tokens AS DOUBLE)) / sqrt(CAST(mt AS DOUBLE)) * $MIX_MAX_EPOCHS AS rate
         |  FROM b, m),
         |c AS (SELECT d.doc_id, d.source,
         |    CAST(floor(rt.rate) AS BIGINT)
         |    + CASE WHEN ${Sampling.rowHashSql("d.doc_id")}
         |        < CAST(floor((rt.rate - floor(rt.rate)) * ${Sampling.M}) AS BIGINT)
         |      THEN 1 ELSE 0 END AS n
         |  FROM documents d JOIN rt ON d.source = rt.source)
         |SELECT doc_id, source, unnest(range(n)) AS copy_idx
         |FROM c WHERE n > 0 ORDER BY doc_id, copy_idx""".stripMargin,
    "mix_temperature" ->
      s"""WITH b AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |m AS (SELECT max(n_tokens) AS mt FROM b)
         |SELECT source, n_docs, n_tokens,
         |  sqrt(CAST(n_tokens AS DOUBLE)) / sqrt(CAST(mt AS DOUBLE)) AS rel_weight,
         |  sqrt(CAST(n_tokens AS DOUBLE)) / sqrt(CAST(mt AS DOUBLE)) * $MIX_MAX_EPOCHS AS epochs
         |FROM b, m ORDER BY source""".stripMargin,
    // UniMax mirror: identical integer water-filling over the
    // |sources|-row frame — capped prefix by (cap*(m-i+1) <= B-P_{i-1}),
    // remainder one token each to the first r uncapped sources
    "mix_unimax" ->
      s"""WITH b AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |c AS (SELECT source, n_docs, n_tokens,
         |    n_tokens * $UNIMAX_EPOCHS AS cap_tokens FROM b),
         |r AS (SELECT *,
         |    CAST(row_number() OVER (ORDER BY cap_tokens, source) AS BIGINT) AS i,
         |    sum(cap_tokens) OVER (ORDER BY cap_tokens, source
         |      ROWS UNBOUNDED PRECEDING) AS p,
         |    CAST(count(*) OVER () AS BIGINT) AS m FROM c),
         |f AS (SELECT *, (cap_tokens * (m - i + 1) <= $UNIMAX_BUDGET - (p - cap_tokens))
         |    AS capped FROM r),
         |t AS (SELECT coalesce(max(CASE WHEN capped THEN i END), 0) AS k,
         |    CAST(coalesce(max(CASE WHEN capped THEN p END), 0) AS BIGINT) AS pk
         |  FROM f)
         |SELECT source, n_docs, n_tokens, cap_tokens, alloc_tokens,
         |  CAST(alloc_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS epochs
         |FROM (SELECT f.source, f.n_docs, f.n_tokens,
         |    CAST(f.cap_tokens AS BIGINT) AS cap_tokens,
         |    CAST(CASE WHEN f.i <= t.k THEN f.cap_tokens
         |      ELSE ($UNIMAX_BUDGET - t.pk) // (f.m - t.k)
         |        + (CASE WHEN f.i - t.k <= ($UNIMAX_BUDGET - t.pk) % (f.m - t.k)
         |           THEN 1 ELSE 0 END)
         |      END AS BIGINT) AS alloc_tokens
         |  FROM f, t) ORDER BY source""".stripMargin,
    "dedup_soft_weights" -> Dedup.softDedupWeightsSql(DECON_N),
    "text_novelty" -> TextAnalysis.noveltySql(DECON_N),
    "text_top_terms" ->
      """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |c AS (SELECT source, token, count(*) AS c FROM w GROUP BY 1, 2),
        |r AS (SELECT source, token, c,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY c DESC, token) AS BIGINT) AS rk
        |  FROM c)
        |SELECT source, rk, token, c FROM r WHERE rk <= 15
        |ORDER BY source, rk""".stripMargin,
    // SemDeDup mirror: the sim_ivf_topk centroid/assignment CTEs with d2
    // carried, keep-priority rank (d2 DESC, id), pairwise prune
    "dedup_semantic" ->
      s"""WITH $semDedupCtes
         |SELECT id, cid FROM m WHERE id NOT IN (SELECT id FROM dr)
         |ORDER BY id""".stripMargin,

    // D4 mirror: the shared SemDeDup CTE chain + the prototype prune
    // tail — survivors ranked centroid-closest-first, ⌈frac·|c|⌉ cut
    "dedup_d4" ->
      s"""WITH $semDedupCtes,
         |surv AS (SELECT id, cid, d2 FROM m
         |  WHERE id NOT IN (SELECT id FROM dr)),
         |pp AS (SELECT id, cid, d2,
         |    row_number() OVER (PARTITION BY cid ORDER BY d2, id) AS pr,
         |    count(*) OVER (PARTITION BY cid) AS csz FROM surv)
         |SELECT id, cid, CAST(pr AS BIGINT) AS proto_rank FROM pp
         |WHERE pr > ceil($D4_FRAC * csz) ORDER BY id""".stripMargin,

    // trained-cluster SemDeDup mirror: the shared Lloyd chain (one
    // whole-vector subspace, C=16) feeding the same membership → prune
    // CTEs as the seeded dedup_semantic
    "dedup_semantic_trained" ->
      s"""WITH $fxCte,
         |${Similarity.trainedCbCtes(1, 16, 64, PQ_ITERS)},
         |cc AS (SELECT cid AS ccid, cvec AS ccfx,
         |    CAST(list_sum(list_transform(cvec, x -> x*x)) AS BIGINT) AS ccnrm
         |  FROM cbt$PQ_ITERS),
         |sc AS (SELECT n.id, cc.ccid AS cid,
         |  n.nrm - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> n.fx[i]*cc.ccfx[i])) AS BIGINT) + cc.ccnrm AS d2
         |  FROM n, cc),
         |rk AS (SELECT id, cid, d2, row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS crn FROM sc),
         |m AS (SELECT id, cid, d2 FROM rk WHERE crn = 1),
         |pr AS (SELECT id, cid, row_number() OVER (PARTITION BY cid ORDER BY d2 DESC, id) AS rr FROM m),
         |dr AS (SELECT DISTINCT b.id
         |  FROM pr a JOIN pr b ON a.cid = b.cid AND a.rr < b.rr
         |  JOIN n na ON na.id = a.id JOIN n nb ON nb.id = b.id
         |  WHERE ${Similarity.cosineSql("na.fx", "nb.fx", "na.nrm", "nb.nrm")} >= $COS_TAU)
         |SELECT id, cid FROM m WHERE id NOT IN (SELECT id FROM dr)
         |ORDER BY id""".stripMargin,

    // sampling mirrors: the same Scala code (rowHashSql / threshold)
    // generates both engines' arithmetic, so membership is bit-identical
    "sample_det" ->
      s"""SELECT doc_id, n_chars FROM documents
         |WHERE ${Sampling.rowHashSql("doc_id")} < ${Sampling.threshold(SAMPLE_FRAC)}
         |ORDER BY doc_id""".stripMargin,
    "sample_split" ->
      s"""SELECT doc_id, ${splitCaseSql("doc_id")} AS split
         |FROM documents ORDER BY doc_id""".stripMargin,
    "sample_strat" -> {
      val cases = STRAT_FRACTIONS.toSeq.sortBy(_._1)
        .map { case (k, f) => s"WHEN '$k' THEN ${Sampling.threshold(f)}" }.mkString(" ")
      s"""SELECT doc_id, source FROM documents
         |WHERE ${Sampling.rowHashSql("doc_id")}
         |  < CASE source $cases ELSE ${Sampling.threshold(STRAT_DEFAULT)} END
         |ORDER BY doc_id""".stripMargin
    },
    "sample_topk" ->
      s"""SELECT doc_id, n_chars FROM (
         |  SELECT doc_id, n_chars FROM documents
         |  ORDER BY ${Sampling.rowHashSql("doc_id")}, doc_id LIMIT $SAMPLE_K)
         |ORDER BY doc_id""".stripMargin,

    "sample_shuffle" ->
      s"""SELECT doc_id, ${Sampling.rowHashSql("doc_id")} AS shuffle_key
         |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin,

    // leakage-safe split mirror: same cluster unroll as pipe_text_dedup,
    // split CASE applied to the cluster representative instead of doc_id
    "split_leak_safe" ->
      s"""WITH $distinctShingleCte,
         |ex AS (SELECT id, nd, unnest(ds) AS h FROM d),
         |pr AS (
         |  SELECT a.id AS da, b.id AS db, count(*) AS common,
         |    any_value(a.nd) AS na, any_value(b.nd) AS nb
         |  FROM ex a JOIN ex b ON a.h = b.h AND a.id < b.id GROUP BY 1, 2),
         |jp AS (SELECT da, db FROM pr WHERE common/(na+nb-common) >= $JACCARD_TAU),
         |ed AS (SELECT da AS u, db AS v FROM jp UNION ALL SELECT db AS u, da AS v FROM jp),
         |$clusterUnrollCtes,
         |lbl AS (SELECT doc_id, coalesce(l$CLUSTER_ITERS.l, doc_id) AS cl
         |  FROM documents LEFT JOIN l$CLUSTER_ITERS ON doc_id = l$CLUSTER_ITERS.n)
         |SELECT doc_id, cl AS cluster, ${splitCaseSql("cl")} AS split
         |FROM lbl ORDER BY doc_id""".stripMargin,

    // mixture mirrors: epoch plans (whole copies + fractional-slice hash
    // thresholds) are derived by the SAME Scala code (Mixture.epochPlan)
    // that the Spark query uses, so replication counts are bit-identical
    "mix_resample" -> {
      val plans = MIX_RATES.toSeq.sortBy(_._1)
        .map { case (s, r) => s -> graft.operators.Mixture.epochPlan(r) }
      val dflt = graft.operators.Mixture.epochPlan(MIX_DEFAULT)
      val wholeCase = plans.map { case (s, p) => s"WHEN '$s' THEN ${p.whole}" }
        .mkString(" ")
      val thrCase = plans.map { case (s, p) => s"WHEN '$s' THEN ${p.fracThreshold}" }
        .mkString(" ")
      s"""WITH c AS (SELECT doc_id, source,
         |    CASE source $wholeCase ELSE ${dflt.whole} END
         |    + CASE WHEN ${Sampling.rowHashSql("doc_id")}
         |        < CASE source $thrCase ELSE ${dflt.fracThreshold} END
         |      THEN 1 ELSE 0 END AS n FROM documents)
         |SELECT doc_id, source, unnest(range(n)) AS copy_idx
         |FROM c WHERE n > 0 ORDER BY doc_id, copy_idx""".stripMargin
    },
    "mix_token_budget" ->
      s"""WITH q AS (SELECT doc_id, source, n_chars,
         |    CAST(len(list_distinct(string_split(text,' '))) AS BIGINT)
         |    / CAST(len(string_split(text,' ')) AS BIGINT) AS __q FROM documents),
         |c AS (SELECT doc_id, source,
         |    CAST(sum(n_chars) OVER (PARTITION BY source
         |      ORDER BY __q DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_tokens FROM q)
         |SELECT doc_id, source, cum_tokens FROM c
         |WHERE cum_tokens <= $MIX_BUDGET ORDER BY doc_id""".stripMargin,

    "text_bpe_merges" -> {
      val tails = (1 to BPE_ROUNDS)
        .map(i => s"""SELECT $i AS rank, l AS "left", r AS "right", cnt FROM t$i""")
        .mkString("\n UNION ALL ")
      s"""WITH ${bpeCtes(BPE_ROUNDS)}
         |SELECT * FROM ($tails) ORDER BY rank""".stripMargin
    },

    // perplexity mirror: refit the unigram LM from the same data, same
    // micro-nat rounding, same -sum/n IEEE division
    "text_perplexity" ->
      s"""WITH wh AS (SELECT doc_id, ${MirrorHash.wordHashesSql()} AS whs FROM documents),
         |e AS (SELECT unnest(whs) % $DSIR_B AS bucket FROM wh),
         |bc AS (SELECT bucket, count(*) AS c FROM e GROUP BY 1),
         |tot AS (SELECT sum(c) AS t FROM bc),
         |spine AS (SELECT unnest(generate_series(0, ${DSIR_B - 1})) AS bucket),
         |l AS (SELECT spine.bucket,
         |    CAST(round(1000000.0 * ln(
         |      CAST(COALESCE(bc.c,0)+1 AS DOUBLE)
         |      / CAST(tot.t+$DSIR_B AS DOUBLE))) AS BIGINT) AS lp
         |  FROM spine LEFT JOIN bc ON spine.bucket = bc.bucket, tot),
         |la AS (SELECT list(lp ORDER BY bucket) AS a FROM l),
         |sc AS (SELECT doc_id AS id, CAST(len(whs) AS BIGINT) AS n_words,
         |    CAST(-list_sum(list_transform(whs,
         |      w -> a[CAST(w % $DSIR_B AS INT) + 1])) AS BIGINT) AS s
         |  FROM wh, la)
         |SELECT id, n_words,
         |  CAST(s AS DOUBLE) / CAST(n_words AS DOUBLE) AS nll_micro_nats
         |FROM sc WHERE n_words > 0
         |ORDER BY nll_micro_nats DESC, id LIMIT $DSIR_K""".stripMargin,

    "text_bpe_batched" -> {
      val tails = (1 to BPE_BATCH_ROUNDS)
        .map(i => s"""SELECT $i AS round, CAST(rnk AS INT) AS rank,
                     | l AS "left", r AS "right", cnt FROM kk$i""".stripMargin)
        .mkString("\n UNION ALL ")
      s"""WITH ${bpeBatchedCtes(BPE_BATCH_ROUNDS, BPE_BATCH_PER)}
         |SELECT * FROM ($tails) ORDER BY round, rank""".stripMargin
    },

    "text_bpe_apply" ->
      s"""WITH ${bpeCtes(BPE_ROUNDS)}
         |SELECT doc_id AS id, s AS text,
         |  CAST(len(string_split(s,' ')) AS BIGINT) AS n_tokens
         |FROM s$BPE_ROUNDS ORDER BY id""".stripMargin,

    // mixture→pack mirror: the resample CASE thresholds (same epochPlan
    // constants) feed the pack window keyed on the replica id
    "pipe_mix_pack" -> {
      val plans = MIX_RATES.toSeq.sortBy(_._1)
        .map { case (s, r) => s -> graft.operators.Mixture.epochPlan(r) }
      val dflt = graft.operators.Mixture.epochPlan(MIX_DEFAULT)
      val wholeCase = plans.map { case (s, p) => s"WHEN '$s' THEN ${p.whole}" }
        .mkString(" ")
      val thrCase = plans.map { case (s, p) => s"WHEN '$s' THEN ${p.fracThreshold}" }
        .mkString(" ")
      s"""WITH c AS (SELECT doc_id, text,
         |    CASE source $wholeCase ELSE ${dflt.whole} END
         |    + CASE WHEN ${Sampling.rowHashSql("doc_id")}
         |        < CASE source $thrCase ELSE ${dflt.fracThreshold} END
         |      THEN 1 ELSE 0 END AS n FROM documents),
         |r AS (SELECT doc_id, text, unnest(range(n)) AS copy_idx
         |  FROM c WHERE n > 0),
         |d AS (SELECT doc_id*8 + copy_idx AS id,
         |    ${Sampling.rowHashSql("(doc_id*8 + copy_idx)")} AS h,
         |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens FROM r),
         |b AS (SELECT id, h, n_tokens, h % $PACK_BUCKETS AS bucket FROM d),
         |cc AS (SELECT id, bucket, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h, id) AS cum FROM b)
         |SELECT id, bucket, n_tokens,
         |  CAST(((cum - n_tokens) // $PACK_BUDGET) * $PACK_BUCKETS + bucket AS BIGINT) AS seq_id
         |FROM cc ORDER BY id""".stripMargin
    },

    // DSIR mirror: identical one-pass bucket counts, identical integer
    // products under the ln, micro-nat rounding, literal-free — the SQL
    // refits the table from the same data rather than pasting the
    // collected array
    "mix_dsir_select" ->
      s"""WITH $dsirCtes
         |SELECT id, score FROM sc
         |ORDER BY score DESC, id LIMIT $DSIR_K""".stripMargin,

    // Naive-Bayes mirror: refits the per-class conditional table and
    // priors from the same data (identical add-one smoothing and
    // micro-nat rounding as the Spark fit), scores every (doc, class)
    // pair via the word-occurrence join, argmax by (score DESC, cls)
    "mix_nb_classify" ->
      s"""WITH $nbScoreCte
         |SELECT id, source AS cls, cls AS pred,
         |  CAST(source = cls AS INT) AS correct
         |FROM rk WHERE rn = 1 ORDER BY id""".stripMargin,
    // calibration mirror: same scoring CTEs; margin = s1 − s2 per doc,
    // fixed-width integer bins with overflow, per-bin accuracy
    "mix_nb_calibration" ->
      s"""WITH $nbScoreCte,
         |mg AS (SELECT id,
         |    max(CASE WHEN rn = 1 THEN score END) AS s1,
         |    max(CASE WHEN rn = 2 THEN score END) AS s2 FROM rk GROUP BY id),
         |pc AS (SELECT rk.id, CAST(rk.source = rk.cls AS INT) AS correct,
         |    CAST(COALESCE(mg.s1 - mg.s2, 0) AS BIGINT) AS margin
         |  FROM rk JOIN mg ON mg.id = rk.id WHERE rk.rn = 1),
         |b AS (SELECT LEAST(margin // $NB_CAL_W, $NB_CAL_MAXBIN) AS bin,
         |    count(*) AS n, sum(correct) AS n_correct FROM pc GROUP BY 1)
         |SELECT CAST(bin AS BIGINT) AS bin, n, CAST(n_correct AS BIGINT) AS n_correct,
         |  CAST(n_correct AS DOUBLE) / CAST(n AS DOUBLE) AS acc
         |FROM b ORDER BY bin""".stripMargin,

    "text_boilerplate" ->
      s"""WITH w AS (SELECT doc_id AS id, source, string_split(text,' ') AS ws FROM documents),
         |seg AS (SELECT id, source, list_transform(generate_series(0, (len(ws)+${CLEAN_WPL - 1})//$CLEAN_WPL - 1),
         |    i -> array_to_string(ws[i*$CLEAN_WPL+1 : i*$CLEAN_WPL+$CLEAN_WPL], ' ')) AS lines FROM w),
         |e0 AS (SELECT id, source, lines, unnest(generate_series(1, len(lines))) AS li FROM seg),
         |e AS (SELECT id, source, li, lines[CAST(li AS INT)] AS line FROM e0),
         |bp AS (SELECT source, line FROM (SELECT DISTINCT source, id, line FROM e) dd
         |  GROUP BY source, line HAVING count(*) >= $BP_MIN_DF),
         |k AS (SELECT e.id, e.li, e.line FROM e WHERE NOT EXISTS (
         |  SELECT 1 FROM bp WHERE bp.source = e.source AND bp.line = e.line)),
         |r AS (SELECT id, count(*) AS n_kept,
         |  string_agg(line, chr(10) ORDER BY li) AS clean_text FROM k GROUP BY id)
         |SELECT seg.id, CAST(len(seg.lines) AS BIGINT) AS n_lines,
         |  CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
         |  COALESCE(r.clean_text, '') AS clean_text
         |FROM seg LEFT JOIN r ON r.id = seg.id ORDER BY seg.id""".stripMargin,
    "text_contam_rate" -> contamRateSql,
    "mix_keep_rate" ->
      s"""WITH w AS (SELECT doc_id AS id, string_split(text,' ') AS ws FROM documents),
         |q AS (SELECT id, CAST(round(1000000.0 *
         |    (CAST(len(list_distinct(ws)) AS BIGINT) / CAST(len(ws) AS BIGINT))) AS BIGINT) AS score FROM w),
         |$keepRateSql""".stripMargin,
    "pack_fill_stats" ->
      s"""WITH d AS (SELECT doc_id AS id, ${Sampling.rowHashSql("doc_id")} AS h,
         |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens FROM documents),
         |b AS (SELECT id, h, n_tokens, h % $PACK_BUCKETS AS bucket FROM d),
         |c AS (SELECT id, h, n_tokens, bucket,
         |    sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h, id) AS cum FROM b),
         |a AS (SELECT *, CAST(((cum - n_tokens) // $PACK_BUDGET) * $PACK_BUCKETS + bucket AS BIGINT) AS seq_id FROM c),
         |sq AS (SELECT seq_id, count(*) AS n_docs,
         |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM a GROUP BY seq_id)
         |SELECT LEAST(n_tokens * 10 // $PACK_BUDGET, 15) AS fill_decile,
         |  count(*) AS n_seqs, CAST(sum(n_docs) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |FROM sq GROUP BY 1 ORDER BY fill_decile""".stripMargin,
    "text_lang_mix" ->
      s"""WITH w AS (SELECT source, string_split(text,' ') AS ws FROM documents),
         |sc AS (SELECT source, $langScoreSql FROM w)
         |SELECT source, CASE $langCaseSql ELSE 'und' END AS pred_lang,
         |  count(*) AS n_docs
         |FROM sc GROUP BY 1, 2 ORDER BY source, pred_lang""".stripMargin,
    // confidence-gate capstone mirror: NB scoring CTEs → per-doc margin
    // → the shared histogram keep-rate threshold tail
    "pipe_confidence_gate" ->
      s"""WITH $nbScoreCte,
         |mg AS (SELECT id,
         |    max(CASE WHEN rn = 1 THEN score END) AS s1,
         |    max(CASE WHEN rn = 2 THEN score END) AS s2 FROM rk GROUP BY id),
         |q AS (SELECT id, CAST(COALESCE(s1 - s2, 0) AS BIGINT) AS score FROM mg),
         |$keepRateSql""".stripMargin,
    "doc_cdc_chunks" -> cdcChunkSql(
      """SELECT id, CAST(ci-1 AS BIGINT) AS chunk_idx,
        |  CAST(bnds[ci] AS BIGINT) AS tok_from, CAST(bnds[ci+1] AS BIGINT) AS tok_to,
        |  CAST(bnds[ci+1]-bnds[ci] AS BIGINT) AS n_tokens, chunk_hash,
        |  array_to_string(ws[CAST(bnds[ci]+1 AS INT) : CAST(bnds[ci+1] AS INT)], ' ') AS chunk_text
        |FROM ch ORDER BY id, chunk_idx""".stripMargin),
    "dedup_cdc_stats" -> cdcChunkSql(
      """cnt AS (SELECT chunk_hash, count(*) AS c FROM ch GROUP BY chunk_hash),
        |st AS (SELECT ch.id, count(*) AS n_chunks,
        |    CAST(sum(CASE WHEN cnt.c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks
        |  FROM ch JOIN cnt USING(chunk_hash) GROUP BY ch.id)
        |SELECT id, n_chunks, dup_chunks,
        |  CAST(dup_chunks AS BIGINT) / CAST(n_chunks AS BIGINT) AS dup_frac
        |FROM st ORDER BY id""".stripMargin, extraCte = true),
    "text_distinct_kmv" ->
      s"""WITH w AS (SELECT source, ${wordHashesSql()} AS whs FROM documents),
         |$kmvCtes,
         |sp AS (SELECT DISTINCT source FROM documents)
         |SELECT sp.source, CAST(COALESCE(ka.n_low, 0) AS BIGINT) AS n_low, ka.hk,
         |  ${kmvEstSql("ka.n_low", "ka.hk")} AS est_distinct
         |FROM sp LEFT JOIN ka ON ka.source = sp.source ORDER BY sp.source""".stripMargin,
    "dedup_cluster_stats" ->
      s"""WITH $distinctShingleCte,
         |ex AS (SELECT id, nd, unnest(ds) AS h FROM d),
         |pr AS (
         |  SELECT a.id AS da, b.id AS db, count(*) AS common,
         |    any_value(a.nd) AS na, any_value(b.nd) AS nb
         |  FROM ex a JOIN ex b ON a.h = b.h AND a.id < b.id GROUP BY 1, 2),
         |jp AS (SELECT da, db FROM pr WHERE common/(na+nb-common) >= $JACCARD_TAU),
         |ed AS (SELECT da AS u, db AS v FROM jp UNION ALL SELECT db AS u, da AS v FROM jp),
         |$clusterUnrollCtes,
         |cs AS (SELECT l, count(*) AS sz FROM l$CLUSTER_ITERS GROUP BY l)
         |SELECT sz AS cluster_size, count(*) AS n_clusters,
         |  sz * count(*) AS n_docs
         |FROM cs GROUP BY sz ORDER BY cluster_size""".stripMargin,
    "sim_kcenter" -> Similarity.kCenterSql(KCENTER_K),
    "sim_mmr" -> Similarity.mmrSql(MMR_QID, MMR_POOL, MMR_K, MMR_LAMBDA),
    "sim_mmr_ivf" ->
      Similarity.mmrIvfSql(MMR_QID, MMR_POOL, MMR_K, MMR_LAMBDA, 16, 2),
    // IVF-PQ mirror: the sim_ivf_topk coarse-quantizer CTEs (probe-list
    // candidates) composed with the sim_pq_topk codebook/codes/ADC CTEs
    "sim_ivfpq_topk" ->
      s"""WITH $fxCte,
         |c AS (SELECT id AS ccid, fx AS ccfx, nrm AS ccnrm FROM n
         |  ORDER BY ${Similarity.seedHashSql("id")}, id LIMIT 16),
         |sc AS (SELECT n.id, c.ccid,
         |  n.nrm - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> n.fx[i]*c.ccfx[i])) AS BIGINT) + c.ccnrm AS d2
         |  FROM n, c),
         |rk AS (SELECT id, ccid, row_number() OVER (PARTITION BY id ORDER BY d2, ccid) AS crn FROM sc),
         |il AS (SELECT ccid, id FROM rk WHERE crn = 1),
         |pr AS (SELECT id AS qid, ccid FROM rk WHERE id < 5 AND crn <= 2),
         |cand AS (SELECT pr.qid, il.id FROM pr JOIN il ON pr.ccid = il.ccid
         |  WHERE il.id <> pr.qid),
         |cb0 AS (SELECT id AS cid, fx AS cfx FROM n
         |  ORDER BY ${Similarity.seedHashSql("id")}, id LIMIT 16),
         |ms AS (SELECT unnest(generate_series(0, 3)) AS m),
         |cb AS (SELECT m, cid, cfx[m*16+1 : m*16+16] AS cvec FROM cb0, ms),
         |enc0 AS (SELECT n.id, cb.m, cb.cid,
         |    CAST(list_sum(list_transform(generate_series(1, 16),
         |      i -> (n.fx[cb.m*16+i] - cb.cvec[i]) * (n.fx[cb.m*16+i] - cb.cvec[i]))) AS BIGINT) AS d2
         |  FROM n, cb),
         |codes AS (SELECT id, m, cid FROM (SELECT *,
         |    row_number() OVER (PARTITION BY id, m ORDER BY d2, cid) AS rn
         |  FROM enc0) WHERE rn = 1),
         |qd AS (SELECT q.id AS qid, cb.m, cb.cid,
         |    CAST(list_sum(list_transform(generate_series(1, 16),
         |      i -> (q.fx[cb.m*16+i] - cb.cvec[i]) * (q.fx[cb.m*16+i] - cb.cvec[i]))) AS BIGINT) AS qd2
         |  FROM n q, cb WHERE q.id < 5),
         |adc AS (SELECT cand.qid, cand.id AS vid, CAST(sum(qd.qd2) AS BIGINT) AS adc
         |  FROM cand JOIN codes ON codes.id = cand.id
         |  JOIN qd ON qd.qid = cand.qid AND qd.m = codes.m AND qd.cid = codes.cid
         |  GROUP BY 1, 2),
         |r AS (SELECT qid, vid, adc,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY adc, vid) AS BIGINT) AS rn
         |  FROM adc)
         |SELECT qid, rn, vid AS vec_id, adc FROM r WHERE rn <= 3
         |ORDER BY qid, rn""".stripMargin,
    // PQ/ADC mirror: identical hash-seeded codebook, per-subspace exact
    // BIGINT L2 assignment ((d2, cid) ties), ADC sum, (adc, vid) rank
    "sim_pq_topk" ->
      s"""WITH $fxCte,
         |cb0 AS (SELECT id AS cid, fx AS cfx FROM n
         |  ORDER BY ${Similarity.seedHashSql("id")}, id LIMIT 16),
         |ms AS (SELECT unnest(generate_series(0, 3)) AS m),
         |cb AS (SELECT m, cid, cfx[m*16+1 : m*16+16] AS cvec FROM cb0, ms),
         |enc0 AS (SELECT n.id, cb.m, cb.cid,
         |    CAST(list_sum(list_transform(generate_series(1, 16),
         |      i -> (n.fx[cb.m*16+i] - cb.cvec[i]) * (n.fx[cb.m*16+i] - cb.cvec[i]))) AS BIGINT) AS d2
         |  FROM n, cb),
         |codes AS (SELECT id, m, cid FROM (SELECT *,
         |    row_number() OVER (PARTITION BY id, m ORDER BY d2, cid) AS rn
         |  FROM enc0) WHERE rn = 1),
         |qd AS (SELECT q.id AS qid, cb.m, cb.cid,
         |    CAST(list_sum(list_transform(generate_series(1, 16),
         |      i -> (q.fx[cb.m*16+i] - cb.cvec[i]) * (q.fx[cb.m*16+i] - cb.cvec[i]))) AS BIGINT) AS qd2
         |  FROM n q, cb WHERE q.id < 5),
         |adc AS (SELECT qd.qid, codes.id AS vid, CAST(sum(qd.qd2) AS BIGINT) AS adc
         |  FROM codes JOIN qd ON codes.m = qd.m AND codes.cid = qd.cid
         |  WHERE codes.id <> qd.qid GROUP BY 1, 2),
         |r AS (SELECT qid, vid, adc,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY adc, vid) AS BIGINT) AS rn
         |  FROM adc)
         |SELECT qid, rn, vid AS vec_id, adc FROM r WHERE rn <= 3
         |ORDER BY qid, rn""".stripMargin,
    // RRF mirror: one dot/norm pass, two rank windows (cosine DESC /
    // integer L2 ASC, vid tie-breaks), integer 1e6//(60+rank) fusion
    "sim_rrf_fusion" ->
      s"""WITH $fxCte,
         |qs AS (SELECT id AS qid, fx AS fq, nrm AS nq FROM n WHERE id < 5),
         |sc AS (SELECT qid, n.id AS vid,
         |    CAST(list_sum(list_transform(generate_series(1,64), i -> fq[i]*n.fx[i])) AS BIGINT) AS dot,
         |    nq, n.nrm AS nv
         |  FROM qs, n WHERE n.id <> qid),
         |rk AS (SELECT qid, vid,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY CAST(dot AS DOUBLE)/sqrt(CAST(nq AS DOUBLE)*CAST(nv AS DOUBLE)) DESC, vid) AS BIGINT) AS rc,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY nq - 2*dot + nv, vid) AS BIGINT) AS rl
         |  FROM sc),
         |a AS (SELECT qid, vid, rc FROM rk WHERE rc <= $RRF_DEPTH),
         |b AS (SELECT qid, vid, rl FROM rk WHERE rl <= $RRF_DEPTH),
         |fu AS (SELECT COALESCE(a.qid, b.qid) AS qid, COALESCE(a.vid, b.vid) AS vid,
         |    COALESCE(1000000 // (60 + a.rc), 0) + COALESCE(1000000 // (60 + b.rl), 0) AS rrf,
         |    COALESCE(a.rc, -1) AS rc, COALESCE(b.rl, -1) AS rl
         |  FROM a FULL OUTER JOIN b ON a.qid = b.qid AND a.vid = b.vid),
         |r AS (SELECT qid, vid, rrf, rc, rl,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, vid) AS BIGINT) AS rn
         |  FROM fu)
         |SELECT qid, rn, vid AS vec_id, CAST(rrf AS BIGINT) AS rrf, rc, rl
         |FROM r WHERE rn <= $RRF_TOPK ORDER BY qid, rn""".stripMargin,
    // recall@k mirror: brute-force ground truth (k=$RECALL_K) left-joined
    // with the sim_ivf_topk CTE chain's candidate list, hits counted per
    // query, one IEEE division for the rate
    "sim_recall_at_k" ->
      s"""WITH $fxCte,
         |bj AS (SELECT q.id AS qid, v.id AS vid,
         |    ${Similarity.cosineSql("q.fx", "v.fx", "q.nrm", "v.nrm")} AS cos
         |  FROM n q JOIN n v ON q.id < 5 AND v.id <> q.id),
         |br AS (SELECT qid, vid,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
         |  FROM bj),
         |tr AS (SELECT qid, vid FROM br WHERE rn <= $RECALL_K),
         |c AS (SELECT id AS cid, fx AS cfx, nrm AS cnrm FROM n
         |  ORDER BY ${Similarity.seedHashSql("id")}, id LIMIT 16),
         |sc AS (SELECT n.id, c.cid,
         |  n.nrm - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> n.fx[i]*c.cfx[i])) AS BIGINT) + c.cnrm AS d2
         |  FROM n, c),
         |rk AS (SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS crn FROM sc),
         |lists AS (SELECT rk.cid, rk.id, n.fx, n.nrm FROM rk JOIN n USING(id) WHERE crn = 1),
         |probes AS (SELECT rk.id AS qid, rk.cid, n.fx AS fq, n.nrm AS nq
         |  FROM rk JOIN n USING(id) WHERE rk.id < 5 AND crn <= 2),
         |ij AS (SELECT p.qid, l.id AS vid,
         |    ${Similarity.cosineSql("p.fq", "l.fx", "p.nq", "l.nrm")} AS cos
         |  FROM probes p JOIN lists l ON p.cid = l.cid AND l.id <> p.qid),
         |ir AS (SELECT qid, vid,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
         |  FROM ij),
         |iv AS (SELECT qid, vid FROM ir WHERE rn <= $RECALL_K),
         |g AS (SELECT tr.qid,
         |    CAST(sum(CASE WHEN iv.vid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
         |  FROM tr LEFT JOIN iv ON tr.qid = iv.qid AND tr.vid = iv.vid
         |  GROUP BY tr.qid)
         |SELECT qid, hits,
         |  CAST(hits AS DOUBLE) / CAST($RECALL_K AS DOUBLE) AS recall
         |FROM g ORDER BY qid""".stripMargin,
    // PQ-family recall mirror: brute ground truth (as sim_recall_at_k)
    // graded against BOTH the sim_pq_topk ADC chain and the
    // sim_ivfpq_topk probe-list+ADC chain — shared codebook/codes CTEs
    "sim_recall_pq" ->
      s"""WITH $fxCte,
         |bj AS (SELECT q.id AS qid, v.id AS vid,
         |    ${Similarity.cosineSql("q.fx", "v.fx", "q.nrm", "v.nrm")} AS cos
         |  FROM n q JOIN n v ON q.id < 5 AND v.id <> q.id),
         |br AS (SELECT qid, vid,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
         |  FROM bj),
         |tr AS (SELECT qid, vid FROM br WHERE rn <= $RECALL_K),
         |cb0 AS (SELECT id AS cid, fx AS cfx FROM n
         |  ORDER BY ${Similarity.seedHashSql("id")}, id LIMIT 16),
         |ms AS (SELECT unnest(generate_series(0, 3)) AS m),
         |cb AS (SELECT m, cid, cfx[m*16+1 : m*16+16] AS cvec FROM cb0, ms),
         |enc0 AS (SELECT n.id, cb.m, cb.cid,
         |    CAST(list_sum(list_transform(generate_series(1, 16),
         |      i -> (n.fx[cb.m*16+i] - cb.cvec[i]) * (n.fx[cb.m*16+i] - cb.cvec[i]))) AS BIGINT) AS d2
         |  FROM n, cb),
         |codes AS (SELECT id, m, cid FROM (SELECT *,
         |    row_number() OVER (PARTITION BY id, m ORDER BY d2, cid) AS rn
         |  FROM enc0) WHERE rn = 1),
         |qd AS (SELECT q.id AS qid, cb.m, cb.cid,
         |    CAST(list_sum(list_transform(generate_series(1, 16),
         |      i -> (q.fx[cb.m*16+i] - cb.cvec[i]) * (q.fx[cb.m*16+i] - cb.cvec[i]))) AS BIGINT) AS qd2
         |  FROM n q, cb WHERE q.id < 5),
         |pqadc AS (SELECT qd.qid, codes.id AS vid, CAST(sum(qd.qd2) AS BIGINT) AS adc
         |  FROM codes JOIN qd ON codes.m = qd.m AND codes.cid = qd.cid
         |  WHERE codes.id <> qd.qid GROUP BY 1, 2),
         |pqv AS (SELECT qid, vid FROM (SELECT qid, vid,
         |    row_number() OVER (PARTITION BY qid ORDER BY adc, vid) AS rn
         |  FROM pqadc) WHERE rn <= $RECALL_K),
         |c AS (SELECT id AS ccid, fx AS ccfx, nrm AS ccnrm FROM n
         |  ORDER BY ${Similarity.seedHashSql("id")}, id LIMIT 16),
         |sc AS (SELECT n.id, c.ccid,
         |  n.nrm - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> n.fx[i]*c.ccfx[i])) AS BIGINT) + c.ccnrm AS d2
         |  FROM n, c),
         |rk AS (SELECT id, ccid, row_number() OVER (PARTITION BY id ORDER BY d2, ccid) AS crn FROM sc),
         |il AS (SELECT ccid, id FROM rk WHERE crn = 1),
         |pr AS (SELECT id AS qid, ccid FROM rk WHERE id < 5 AND crn <= 2),
         |cand AS (SELECT pr.qid, il.id FROM pr JOIN il ON pr.ccid = il.ccid
         |  WHERE il.id <> pr.qid),
         |ivadc AS (SELECT cand.qid, cand.id AS vid, CAST(sum(qd.qd2) AS BIGINT) AS adc
         |  FROM cand JOIN codes ON codes.id = cand.id
         |  JOIN qd ON qd.qid = cand.qid AND qd.m = codes.m AND qd.cid = codes.cid
         |  GROUP BY 1, 2),
         |ivv AS (SELECT qid, vid FROM (SELECT qid, vid,
         |    row_number() OVER (PARTITION BY qid ORDER BY adc, vid) AS rn
         |  FROM ivadc) WHERE rn <= $RECALL_K),
         |gpq AS (SELECT tr.qid,
         |    CAST(sum(CASE WHEN pqv.vid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
         |  FROM tr LEFT JOIN pqv ON tr.qid = pqv.qid AND tr.vid = pqv.vid
         |  GROUP BY tr.qid),
         |giv AS (SELECT tr.qid,
         |    CAST(sum(CASE WHEN ivv.vid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
         |  FROM tr LEFT JOIN ivv ON tr.qid = ivv.qid AND tr.vid = ivv.vid
         |  GROUP BY tr.qid)
         |SELECT * FROM (
         |  SELECT 'ivfpq' AS variant, qid, hits,
         |    CAST(hits AS DOUBLE) / CAST($RECALL_K AS DOUBLE) AS recall FROM giv
         |  UNION ALL
         |  SELECT 'pq', qid, hits,
         |    CAST(hits AS DOUBLE) / CAST($RECALL_K AS DOUBLE) AS recall FROM gpq)
         |ORDER BY variant, qid""".stripMargin,
    // residual IVF-PQ mirror: seeded coarse CTEs, residual frame vs the
    // owning centroid, Lloyd chain trained ON the residuals (src=rsd),
    // per-probed-centroid query ADC tables keyed (qid, pcid, m, code)
    "sim_ivfpq_residual" ->
      s"""WITH $fxCte,
         |c AS (SELECT id AS ccid, fx AS ccfx, nrm AS ccnrm FROM n
         |  ORDER BY ${Similarity.seedHashSql("id")}, id LIMIT 16),
         |sc AS (SELECT n.id, c.ccid,
         |  n.nrm - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> n.fx[i]*c.ccfx[i])) AS BIGINT) + c.ccnrm AS d2
         |  FROM n, c),
         |rk AS (SELECT id, ccid, row_number() OVER (PARTITION BY id ORDER BY d2, ccid) AS crn FROM sc),
         |il AS (SELECT ccid, id FROM rk WHERE crn = 1),
         |pr AS (SELECT id AS qid, ccid FROM rk WHERE id < 5 AND crn <= 2),
         |rsd AS (SELECT rk.id,
         |    list_transform(generate_series(1,64), i -> n.fx[i] - c.ccfx[i]) AS fx
         |  FROM rk JOIN n USING(id) JOIN c USING(ccid) WHERE rk.crn = 1),
         |${Similarity.trainedCbCtes(4, 16, 16, PQ_ITERS, "r", "rsd")},
         |enc0 AS (SELECT sv.id, cb.m, cb.cid,
         |    CAST(list_sum(list_transform(generate_series(1, 16),
         |      i -> (sv.svec[i] - cb.cvec[i]) * (sv.svec[i] - cb.cvec[i]))) AS BIGINT) AS d2
         |  FROM rsv sv JOIN rcbt$PQ_ITERS cb USING (m)),
         |codes AS (SELECT id, m, cid FROM (SELECT *,
         |    row_number() OVER (PARTITION BY id, m ORDER BY d2, cid) AS rn
         |  FROM enc0) WHERE rn = 1),
         |qrs AS (SELECT rk.id AS qid, rk.ccid AS pcid,
         |    list_transform(generate_series(1,64), i -> n.fx[i] - c.ccfx[i]) AS qfx
         |  FROM rk JOIN n USING(id) JOIN c USING(ccid)
         |  WHERE rk.id < 5 AND rk.crn <= 2),
         |qd AS (SELECT qid, pcid, cb.m, cb.cid AS code,
         |    CAST(list_sum(list_transform(generate_series(1, 16),
         |      i -> (qfx[cb.m*16+i] - cb.cvec[i]) * (qfx[cb.m*16+i] - cb.cvec[i]))) AS BIGINT) AS qd2
         |  FROM qrs, rcbt$PQ_ITERS cb),
         |cand AS (SELECT pr.qid, pr.ccid AS pcid, il.id FROM pr JOIN il USING(ccid)
         |  WHERE il.id <> pr.qid),
         |adc AS (SELECT cand.qid, cand.id AS vid, CAST(sum(qd.qd2) AS BIGINT) AS adc
         |  FROM cand JOIN codes ON codes.id = cand.id
         |  JOIN qd ON qd.qid = cand.qid AND qd.pcid = cand.pcid
         |    AND qd.m = codes.m AND qd.code = codes.cid
         |  GROUP BY 1, 2),
         |r AS (SELECT qid, vid, adc,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY adc, vid) AS BIGINT) AS rn
         |  FROM adc)
         |SELECT qid, rn, vid AS vec_id, adc FROM r WHERE rn <= 3
         |ORDER BY qid, rn""".stripMargin,
    // trained-PQ mirror: the trainedCbCtes Lloyd chain (cbt$PQ_ITERS =
    // final codebook) feeding the sim_pq_topk encode/ADC tail verbatim
    "sim_pq_trained" ->
      s"""WITH $fxCte,
         |${Similarity.trainedCbCtes(4, 16, 16, PQ_ITERS)},
         |enc0 AS (SELECT sv.id, cb.m, cb.cid,
         |    CAST(list_sum(list_transform(generate_series(1, 16),
         |      i -> (sv.svec[i] - cb.cvec[i]) * (sv.svec[i] - cb.cvec[i]))) AS BIGINT) AS d2
         |  FROM sv JOIN cbt$PQ_ITERS cb USING (m)),
         |codes AS (SELECT id, m, cid FROM (SELECT *,
         |    row_number() OVER (PARTITION BY id, m ORDER BY d2, cid) AS rn
         |  FROM enc0) WHERE rn = 1),
         |qd AS (SELECT sv.id AS qid, cb.m, cb.cid,
         |    CAST(list_sum(list_transform(generate_series(1, 16),
         |      i -> (sv.svec[i] - cb.cvec[i]) * (sv.svec[i] - cb.cvec[i]))) AS BIGINT) AS qd2
         |  FROM sv JOIN cbt$PQ_ITERS cb USING (m) WHERE sv.id < 5),
         |adc AS (SELECT qd.qid, codes.id AS vid, CAST(sum(qd.qd2) AS BIGINT) AS adc
         |  FROM codes JOIN qd ON codes.m = qd.m AND codes.cid = qd.cid
         |  WHERE codes.id <> qd.qid GROUP BY 1, 2),
         |r AS (SELECT qid, vid, adc,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY adc, vid) AS BIGINT) AS rn
         |  FROM adc)
         |SELECT qid, rn, vid AS vec_id, adc FROM r WHERE rn <= 3
         |ORDER BY qid, rn""".stripMargin,
    // seeded-vs-trained ablation mirror: brute ground truth graded
    // against the trained flat-PQ chain and the trained-codebook IVF-PQ
    // chain (coarse quantizer CTEs identical to sim_recall_pq's)
    "sim_recall_trained" ->
      s"""WITH $fxCte,
         |bj AS (SELECT q.id AS qid, v.id AS vid,
         |    ${Similarity.cosineSql("q.fx", "v.fx", "q.nrm", "v.nrm")} AS cos
         |  FROM n q JOIN n v ON q.id < 5 AND v.id <> q.id),
         |br AS (SELECT qid, vid,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
         |  FROM bj),
         |tr AS (SELECT qid, vid FROM br WHERE rn <= $RECALL_K),
         |${Similarity.trainedCbCtes(4, 16, 16, PQ_ITERS)},
         |enc0 AS (SELECT sv.id, cb.m, cb.cid,
         |    CAST(list_sum(list_transform(generate_series(1, 16),
         |      i -> (sv.svec[i] - cb.cvec[i]) * (sv.svec[i] - cb.cvec[i]))) AS BIGINT) AS d2
         |  FROM sv JOIN cbt$PQ_ITERS cb USING (m)),
         |codes AS (SELECT id, m, cid FROM (SELECT *,
         |    row_number() OVER (PARTITION BY id, m ORDER BY d2, cid) AS rn
         |  FROM enc0) WHERE rn = 1),
         |qd AS (SELECT sv.id AS qid, cb.m, cb.cid,
         |    CAST(list_sum(list_transform(generate_series(1, 16),
         |      i -> (sv.svec[i] - cb.cvec[i]) * (sv.svec[i] - cb.cvec[i]))) AS BIGINT) AS qd2
         |  FROM sv JOIN cbt$PQ_ITERS cb USING (m) WHERE sv.id < 5),
         |pqadc AS (SELECT qd.qid, codes.id AS vid, CAST(sum(qd.qd2) AS BIGINT) AS adc
         |  FROM codes JOIN qd ON codes.m = qd.m AND codes.cid = qd.cid
         |  WHERE codes.id <> qd.qid GROUP BY 1, 2),
         |pqv AS (SELECT qid, vid FROM (SELECT qid, vid,
         |    row_number() OVER (PARTITION BY qid ORDER BY adc, vid) AS rn
         |  FROM pqadc) WHERE rn <= $RECALL_K),
         |c AS (SELECT id AS ccid, fx AS ccfx, nrm AS ccnrm FROM n
         |  ORDER BY ${Similarity.seedHashSql("id")}, id LIMIT 16),
         |sc AS (SELECT n.id, c.ccid,
         |  n.nrm - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> n.fx[i]*c.ccfx[i])) AS BIGINT) + c.ccnrm AS d2
         |  FROM n, c),
         |rk AS (SELECT id, ccid, row_number() OVER (PARTITION BY id ORDER BY d2, ccid) AS crn FROM sc),
         |il AS (SELECT ccid, id FROM rk WHERE crn = 1),
         |pr AS (SELECT id AS qid, ccid FROM rk WHERE id < 5 AND crn <= 2),
         |cand AS (SELECT pr.qid, il.id FROM pr JOIN il ON pr.ccid = il.ccid
         |  WHERE il.id <> pr.qid),
         |ivadc AS (SELECT cand.qid, cand.id AS vid, CAST(sum(qd.qd2) AS BIGINT) AS adc
         |  FROM cand JOIN codes ON codes.id = cand.id
         |  JOIN qd ON qd.qid = cand.qid AND qd.m = codes.m AND qd.cid = codes.cid
         |  GROUP BY 1, 2),
         |ivv AS (SELECT qid, vid FROM (SELECT qid, vid,
         |    row_number() OVER (PARTITION BY qid ORDER BY adc, vid) AS rn
         |  FROM ivadc) WHERE rn <= $RECALL_K),
         |gpq AS (SELECT tr.qid,
         |    CAST(sum(CASE WHEN pqv.vid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
         |  FROM tr LEFT JOIN pqv ON tr.qid = pqv.qid AND tr.vid = pqv.vid
         |  GROUP BY tr.qid),
         |giv AS (SELECT tr.qid,
         |    CAST(sum(CASE WHEN ivv.vid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
         |  FROM tr LEFT JOIN ivv ON tr.qid = ivv.qid AND tr.vid = ivv.vid
         |  GROUP BY tr.qid)
         |SELECT * FROM (
         |  SELECT 'ivfpq_t' AS variant, qid, hits,
         |    CAST(hits AS DOUBLE) / CAST($RECALL_K AS DOUBLE) AS recall FROM giv
         |  UNION ALL
         |  SELECT 'pq_t', qid, hits,
         |    CAST(hits AS DOUBLE) / CAST($RECALL_K AS DOUBLE) AS recall FROM gpq)
         |ORDER BY variant, qid""".stripMargin,
    "sim_margin_mining" ->
      s"""WITH $fxCte,
         |aa AS (SELECT id AS aid, fx AS fa, nrm AS na FROM n WHERE id % 2 = 0),
         |bb AS (SELECT id AS bid, fx AS fb, nrm AS nb FROM n WHERE id % 2 <> 0),
         |p AS (SELECT aid, bid, CAST(round(1000000.0 *
         |    ${Similarity.cosineSql("fa", "fb", "na", "nb")}) AS BIGINT) AS c FROM aa, bb),
         |r AS (SELECT aid, bid, c,
         |  row_number() OVER (PARTITION BY aid ORDER BY c DESC, bid) AS ra,
         |  row_number() OVER (PARTITION BY bid ORDER BY c DESC, aid) AS rb FROM p),
         |sa AS (SELECT aid, sum(c) AS sa, count(*) AS ka FROM r WHERE ra <= $MARGIN_K GROUP BY aid),
         |sb AS (SELECT bid, sum(c) AS sb, count(*) AS kb FROM r WHERE rb <= $MARGIN_K GROUP BY bid),
         |m AS (SELECT r.aid, r.bid, r.c,
         |    CAST(r.c * 2 * sa.ka * sb.kb AS DOUBLE)
         |      / CAST(sa.sa * sb.kb + sb.sb * sa.ka AS DOUBLE) AS margin
         |  FROM r JOIN sa ON sa.aid = r.aid JOIN sb ON sb.bid = r.bid WHERE r.ra = 1)
         |SELECT aid AS qid, bid AS vec_id, c AS cos_micro, margin
         |FROM m WHERE margin >= $MARGIN_TAU ORDER BY qid""".stripMargin,
    // IVF-candidate margin mining mirror: the sim_ivf_topk coarse CTE
    // chain yields crn <= nprobe probe memberships per side; a pair is
    // a candidate iff the probe sets intersect (DISTINCT equi-join on
    // the centroid id); the margin tail is sim_margin_mining verbatim
    "sim_margin_ivf" ->
      s"""WITH $fxCte,
         |cc AS (SELECT id AS cid, fx AS cfx, nrm AS cnrm FROM n
         |  ORDER BY ${Similarity.seedHashSql("id")}, id LIMIT 16),
         |scc AS (SELECT n.id, cc.cid,
         |  n.nrm - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> n.fx[i]*cc.cfx[i])) AS BIGINT) + cc.cnrm AS d2
         |  FROM n, cc),
         |rkc AS (SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS crn FROM scc),
         |pm AS (SELECT id, cid FROM rkc WHERE crn <= 6),
         |cand AS (SELECT DISTINCT a.id AS aid, b.id AS bid
         |  FROM pm a JOIN pm b ON a.cid = b.cid
         |  WHERE a.id % 2 = 0 AND b.id % 2 <> 0),
         |p AS (SELECT cand.aid, cand.bid, CAST(round(1000000.0 *
         |    ${Similarity.cosineSql("aa.fx", "bb.fx", "aa.nrm", "bb.nrm")}) AS BIGINT) AS c
         |  FROM cand JOIN n aa ON aa.id = cand.aid JOIN n bb ON bb.id = cand.bid),
         |r AS (SELECT aid, bid, c,
         |  row_number() OVER (PARTITION BY aid ORDER BY c DESC, bid) AS ra,
         |  row_number() OVER (PARTITION BY bid ORDER BY c DESC, aid) AS rb FROM p),
         |sa AS (SELECT aid, sum(c) AS sa, count(*) AS ka FROM r WHERE ra <= $MARGIN_K GROUP BY aid),
         |sb AS (SELECT bid, sum(c) AS sb, count(*) AS kb FROM r WHERE rb <= $MARGIN_K GROUP BY bid),
         |m AS (SELECT r.aid, r.bid, r.c,
         |    CAST(r.c * 2 * sa.ka * sb.kb AS DOUBLE)
         |      / CAST(sa.sa * sb.kb + sb.sb * sa.ka AS DOUBLE) AS margin
         |  FROM r JOIN sa ON sa.aid = r.aid JOIN sb ON sb.bid = r.bid WHERE r.ra = 1)
         |SELECT aid AS qid, bid AS vec_id, c AS cos_micro, margin
         |FROM m WHERE margin >= $MARGIN_TAU ORDER BY qid""".stripMargin,
    "dedup_emb_incremental" ->
      s"""WITH $fxCte,
         |$embSigCtes,
         |cand AS (SELECT DISTINCT x.id AS ii, y.id AS ri
         |  FROM sigs x JOIN sigs y ON x.bi = y.bi AND x.bv = y.bv
         |  WHERE x.id % $INC_MOD = 0 AND y.id % $INC_MOD <> 0),
         |v AS (SELECT cand.ii, cand.ri,
         |    ${Similarity.cosineSql("a.fx", "b.fx", "a.nrm", "b.nrm")} AS cos
         |  FROM cand JOIN n a ON a.id = cand.ii JOIN n b ON b.id = cand.ri
         |  WHERE ${Similarity.cosineSql("a.fx", "b.fx", "a.nrm", "b.nrm")} >= $COS_TAU),
         |bst AS (SELECT ii, ri, cos,
         |    row_number() OVER (PARTITION BY ii ORDER BY cos DESC, ri) AS rn FROM v)
         |SELECT i.id,
         |  CAST(bst.ri IS NOT NULL AS INT) AS near_dup,
         |  bst.ri AS match_id, bst.cos
         |FROM (SELECT id FROM n WHERE id % $INC_MOD = 0) i
         |LEFT JOIN bst ON bst.ii = i.id AND bst.rn = 1
         |ORDER BY i.id""".stripMargin,
    "pipe_datasheet" ->
      s"""WITH w AS (SELECT doc_id AS id, source, string_split(text,' ') AS ws,
         |    ${wordHashesSql()} AS whs FROM documents),
         |base AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(len(ws)) AS BIGINT) AS n_tokens FROM w GROUP BY 1),
         |$kmvCtes,
         |kmv AS (SELECT base.source,
         |    ${kmvEstSql("ka.n_low", "ka.hk")} AS est_distinct
         |  FROM base LEFT JOIN ka ON ka.source = base.source),
         |pii AS (SELECT source,
         |    CAST(sum(CASE WHEN h > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pii_docs,
         |    CAST(sum(h) AS BIGINT) AS pii_hits
         |  FROM (SELECT source, CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS h
         |    FROM documents) GROUP BY 1),
         |seg AS (SELECT id, source, list_transform(generate_series(0, (len(ws)+${CLEAN_WPL - 1})//$CLEAN_WPL - 1),
         |    i -> array_to_string(ws[i*$CLEAN_WPL+1 : i*$CLEAN_WPL+$CLEAN_WPL], ' ')) AS lines FROM w),
         |le0 AS (SELECT id, source, lines, unnest(generate_series(1, len(lines))) AS li FROM seg),
         |le AS (SELECT id, source, lines[CAST(li AS INT)] AS line FROM le0),
         |bl AS (SELECT source, count(*) AS boiler_lines FROM (
         |    SELECT source, line FROM (SELECT DISTINCT source, id, line FROM le) dd
         |    GROUP BY source, line HAVING count(*) >= $BP_MIN_DF) GROUP BY 1),
         |dg0 AS (SELECT id, ${MirrorHash.ngramHashesSql("whs", DECON_N)} AS gs FROM w),
         |dge0 AS (SELECT id, unnest(gs) AS g FROM dg0),
         |dge AS (SELECT DISTINCT id, g FROM dge0),
         |ev AS (SELECT DISTINCT g FROM dge WHERE id % $DECON_MOD = 0),
         |hits AS (SELECT DISTINCT dge.id FROM dge JOIN ev USING(g)
         |  WHERE dge.id % $DECON_MOD <> 0),
         |cont AS (SELECT w.source, count(*) AS contam_docs
         |  FROM hits JOIN w ON w.id = hits.id GROUP BY 1)
         |SELECT base.source, base.n_docs, base.n_tokens,
         |  CAST(base.n_tokens AS BIGINT) / CAST(base.n_docs AS BIGINT) AS avg_words,
         |  kmv.est_distinct,
         |  CAST(COALESCE(pii.pii_docs, 0) AS BIGINT) AS pii_docs,
         |  CAST(COALESCE(pii.pii_hits, 0) AS BIGINT) AS pii_hits,
         |  CAST(COALESCE(bl.boiler_lines, 0) AS BIGINT) AS boiler_lines,
         |  CAST(COALESCE(cont.contam_docs, 0) AS BIGINT) AS contam_docs
         |FROM base
         |LEFT JOIN kmv ON kmv.source = base.source
         |LEFT JOIN pii ON pii.source = base.source
         |LEFT JOIN bl ON bl.source = base.source
         |LEFT JOIN cont ON cont.source = base.source
         |ORDER BY base.source""".stripMargin,
    "text_tfidf_keywords" ->
      s"""WITH tk AS (SELECT doc_id AS id, unnest(string_split(text,' ')) AS token FROM documents),
         |tf AS (SELECT id, token, count(*) AS tf FROM tk GROUP BY 1, 2),
         |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM documents),
         |sc AS (SELECT tf.id, tf.token, tf.tf, dfq.df,
         |    CAST(tf.tf * (2*(nn.n - dfq.df) + 1) AS DOUBLE)
         |      / CAST(2*dfq.df + 1 AS DOUBLE) AS score
         |  FROM tf JOIN dfq USING(token), nn),
         |r AS (SELECT id, token, tf, df, score,
         |    CAST(row_number() OVER (PARTITION BY id ORDER BY score DESC, token) AS BIGINT) AS rank
         |  FROM sc)
         |SELECT id, rank, token, tf, df, score FROM r
         |WHERE rank <= $TFIDF_K ORDER BY id, rank""".stripMargin,

    "text_phrase_search" -> Ranking.phraseSearchSql(PHRASES),

    // interpolated-LM mirror: both table fits re-derived, the scoring
    // sum s = (D−L)·Σlp₁ + L·(lp₁(w₀) + Σlp₂) all-BIGINT, one division
    "text_perplexity_bigram" ->
      s"""WITH wh AS (SELECT doc_id, ${MirrorHash.wordHashesSql()} AS whs FROM documents),
         |gh AS (SELECT doc_id, ${MirrorHash.ngramHashesSql("whs", 2)} AS ghs FROM wh),
         |e1 AS (SELECT unnest(whs) % $DSIR_B AS bucket FROM wh),
         |b1 AS (SELECT bucket, count(*) AS c FROM e1 GROUP BY 1),
         |t1 AS (SELECT sum(c) AS t FROM b1),
         |e2 AS (SELECT unnest(ghs) % $DSIR_B AS bucket FROM gh),
         |b2 AS (SELECT bucket, count(*) AS c FROM e2 GROUP BY 1),
         |t2 AS (SELECT sum(c) AS t FROM b2),
         |spine AS (SELECT unnest(generate_series(0, ${DSIR_B - 1})) AS bucket),
         |l1 AS (SELECT spine.bucket,
         |    CAST(round(1000000.0 * ln(
         |      CAST(COALESCE(b1.c,0)+1 AS DOUBLE)
         |      / CAST(t1.t+$DSIR_B AS DOUBLE))) AS BIGINT) AS lp
         |  FROM spine LEFT JOIN b1 ON spine.bucket = b1.bucket, t1),
         |l2 AS (SELECT spine.bucket,
         |    CAST(round(1000000.0 * ln(
         |      CAST(COALESCE(b2.c,0)+1 AS DOUBLE)
         |      / CAST(COALESCE(t2.t,0)+$DSIR_B AS DOUBLE))) AS BIGINT) AS lp
         |  FROM spine LEFT JOIN b2 ON spine.bucket = b2.bucket, t2),
         |la1 AS (SELECT list(lp ORDER BY bucket) AS a1 FROM l1),
         |la2 AS (SELECT list(lp ORDER BY bucket) AS a2 FROM l2),
         |sc AS (SELECT wh.doc_id AS id,
         |    CAST(len(whs) AS BIGINT) AS n_words,
         |    CAST(-( ${LAM_DEN - LAM_NUM} * list_sum(list_transform(whs,
         |        w -> a1[CAST(w % $DSIR_B AS INT) + 1]))
         |      + $LAM_NUM * (a1[CAST(whs[1] % $DSIR_B AS INT) + 1]
         |        + COALESCE(list_sum(list_transform(ghs,
         |            g -> a2[CAST(g % $DSIR_B AS INT) + 1])), 0)) )
         |      AS BIGINT) AS s
         |  FROM wh JOIN gh USING (doc_id), la1, la2)
         |SELECT id, n_words,
         |  CAST(s AS DOUBLE) / CAST($LAM_DEN * n_words AS DOUBLE) AS nll_micro_nats
         |FROM sc WHERE n_words > 0
         |ORDER BY nll_micro_nats DESC, id LIMIT $DSIR_K""".stripMargin,

    // DoReMi mirror: the text_perplexity_bigram LM-fit CTE chain with
    // source carried, doc-level BIGINT excess sums, one exp per domain
    "mix_doremi" ->
      s"""WITH wh AS (SELECT doc_id, source, ${MirrorHash.wordHashesSql()} AS whs FROM documents),
         |gh AS (SELECT doc_id, ${MirrorHash.ngramHashesSql("whs", 2)} AS ghs FROM wh),
         |e1 AS (SELECT unnest(whs) % $DSIR_B AS bucket FROM wh),
         |b1 AS (SELECT bucket, count(*) AS c FROM e1 GROUP BY 1),
         |t1 AS (SELECT sum(c) AS t FROM b1),
         |e2 AS (SELECT unnest(ghs) % $DSIR_B AS bucket FROM gh),
         |b2 AS (SELECT bucket, count(*) AS c FROM e2 GROUP BY 1),
         |t2 AS (SELECT sum(c) AS t FROM b2),
         |spine AS (SELECT unnest(generate_series(0, ${DSIR_B - 1})) AS bucket),
         |l1 AS (SELECT spine.bucket,
         |    CAST(round(1000000.0 * ln(
         |      CAST(COALESCE(b1.c,0)+1 AS DOUBLE)
         |      / CAST(t1.t+$DSIR_B AS DOUBLE))) AS BIGINT) AS lp
         |  FROM spine LEFT JOIN b1 ON spine.bucket = b1.bucket, t1),
         |l2 AS (SELECT spine.bucket,
         |    CAST(round(1000000.0 * ln(
         |      CAST(COALESCE(b2.c,0)+1 AS DOUBLE)
         |      / CAST(COALESCE(t2.t,0)+$DSIR_B AS DOUBLE))) AS BIGINT) AS lp
         |  FROM spine LEFT JOIN b2 ON spine.bucket = b2.bucket, t2),
         |la1 AS (SELECT list(lp ORDER BY bucket) AS a1 FROM l1),
         |la2 AS (SELECT list(lp ORDER BY bucket) AS a2 FROM l2),
         |sc AS (SELECT wh.source, CAST(len(whs) AS BIGINT) AS n,
         |    greatest(0, (a1[CAST(whs[1] % $DSIR_B AS INT) + 1]
         |        + COALESCE(CAST(list_sum(list_transform(ghs,
         |            g -> a2[CAST(g % $DSIR_B AS INT) + 1])) AS BIGINT), 0))
         |      - CAST(list_sum(list_transform(whs,
         |          w -> a1[CAST(w % $DSIR_B AS INT) + 1])) AS BIGINT)) AS ex
         |  FROM wh JOIN gh USING (doc_id), la1, la2 WHERE len(whs) > 0),
         |ag AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(n) AS BIGINT) AS n_tokens,
         |    CAST(sum(ex) AS BIGINT) AS exs FROM sc GROUP BY 1),
         |w2 AS (SELECT source, n_docs, n_tokens, exs // n_tokens AS excess_micro,
         |    CAST(round(1000000.0 * exp(
         |      CAST(exs // n_tokens AS DOUBLE) / 1000000.0)) AS BIGINT) AS eg_score
         |  FROM ag),
         |tt AS (SELECT CAST(sum(n_tokens * eg_score) AS BIGINT) AS tot FROM w2)
         |SELECT source, n_docs, n_tokens, excess_micro, eg_score,
         |  CAST(n_tokens * eg_score AS DOUBLE) / CAST(tot AS DOUBLE) AS weight
         |FROM w2, tt ORDER BY source""".stripMargin,

    // CCNet-bucket mirror: shared LM-fit CTEs, per-language percent_rank
    // over the total (nll, id) order, the same 1/3 and 2/3 IEEE cuts
    "text_ccnet_buckets" ->
      s"""WITH wh AS (SELECT doc_id, lang, ${MirrorHash.wordHashesSql()} AS whs FROM documents),
         |e AS (SELECT unnest(whs) % $DSIR_B AS bucket FROM wh),
         |bc AS (SELECT bucket, count(*) AS c FROM e GROUP BY 1),
         |tot AS (SELECT sum(c) AS t FROM bc),
         |spine AS (SELECT unnest(generate_series(0, ${DSIR_B - 1})) AS bucket),
         |l AS (SELECT spine.bucket,
         |    CAST(round(1000000.0 * ln(
         |      CAST(COALESCE(bc.c,0)+1 AS DOUBLE)
         |      / CAST(tot.t+$DSIR_B AS DOUBLE))) AS BIGINT) AS lp
         |  FROM spine LEFT JOIN bc ON spine.bucket = bc.bucket, tot),
         |la AS (SELECT list(lp ORDER BY bucket) AS a FROM l),
         |sc AS (SELECT doc_id AS id, lang,
         |    CAST(len(whs) AS BIGINT) AS n_words,
         |    CAST(-list_sum(list_transform(whs,
         |      w -> a[CAST(w % $DSIR_B AS INT) + 1])) AS BIGINT) AS s
         |  FROM wh, la),
         |p AS (SELECT id, lang, n_words,
         |    CAST(s AS DOUBLE) / CAST(n_words AS DOUBLE) AS nll
         |  FROM sc WHERE n_words > 0),
         |r AS (SELECT id, lang, n_words, nll,
         |    percent_rank() OVER (PARTITION BY lang ORDER BY nll, id) AS pct
         |  FROM p)
         |SELECT id, lang, n_words, nll AS nll_micro_nats,
         |  CASE WHEN pct <= 1.0/3 THEN 'head'
         |       WHEN pct <= 2.0/3 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM r ORDER BY id""".stripMargin,

    "sample_strat_k" ->
      s"""SELECT doc_id, source, n_chars FROM (
         |  SELECT doc_id, source, n_chars,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ${Sampling.rowHashSql("doc_id")}, doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= $STRATK_K ORDER BY doc_id""".stripMargin,

    // curriculum mirror: same LM fit as text_perplexity, same micro-nat
    // arithmetic, equi-width staging with identical operation order
    "mix_curriculum" ->
      s"""WITH $curriculumCtes
         |SELECT id, n_words, nll_micro_nats, stage FROM stg
         |ORDER BY id""".stripMargin,

    "text_phrase_ctx" -> Ranking.phraseContextsSql(PHRASES, PHRASE_CTX),

    // curriculum→pack capstone mirror: shared staging CTEs, easy-half
    // join-back for the text, then the pipe_pack_sequences pack chain
    "pipe_curriculum_pack" ->
      s"""WITH $curriculumCtes,
         |easy AS (SELECT s.id, d0.text FROM stg s
         |  JOIN documents d0 ON d0.doc_id = s.id
         |  WHERE s.stage <= $CURR_EASY_MAX),
         |d AS (SELECT id, ${Sampling.rowHashSql("id")} AS h,
         |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens FROM easy),
         |b AS (SELECT id, h, n_tokens, h % $PACK_BUCKETS AS bucket FROM d),
         |c AS (SELECT id, bucket, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h, id) AS cum FROM b)
         |SELECT id, bucket, n_tokens,
         |  CAST(((cum - n_tokens) // $PACK_BUDGET) * $PACK_BUCKETS + bucket AS BIGINT) AS seq_id
         |FROM c ORDER BY id""".stripMargin,

    "sample_weighted" ->
      s"""WITH q AS (SELECT doc_id, source,
         |    CAST(len(list_distinct(string_split(text,' '))) AS BIGINT)
         |    / CAST(len(string_split(text,' ')) AS BIGINT) AS keep_w
         |  FROM documents)
         |SELECT doc_id, source, keep_w FROM q
         |WHERE ${Sampling.rowHashSql("doc_id")} < keep_w * ${Sampling.M}
         |ORDER BY doc_id""".stripMargin,

    "text_k_anon" ->
      s"""SELECT lang, source,
         |  CAST(floor(n_chars / $K_ANON_LEN) AS BIGINT) AS len_bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(CASE WHEN count(*) < $K_ANON THEN 1 ELSE 0 END AS BIGINT) AS at_risk
         |FROM documents GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "pipe_domain_curation" -> {
      val blocked = DOMAIN_BLOCKLIST.map(d => s"'$d'").mkString(", ")
      s"""WITH tagged AS (
         |  SELECT doc_id, n_chars,
         |    'site' || CAST(doc_id % 50 AS VARCHAR) || '.com' AS domain
         |  FROM documents
         |  WHERE 'site' || CAST(doc_id % 50 AS VARCHAR) || '.com' NOT IN ($blocked)),
         |r AS (SELECT doc_id, domain,
         |  CAST(row_number() OVER (PARTITION BY domain
         |    ORDER BY n_chars DESC, doc_id) AS BIGINT) AS key_rank
         |  FROM tagged)
         |SELECT doc_id, domain, key_rank FROM r
         |WHERE key_rank <= $DOMAIN_CAP ORDER BY doc_id""".stripMargin
    },
    "dedup_temporal" ->
      s"""WITH $distinctShingleCte,
         |e AS (SELECT id, nd, unnest(ds) AS h FROM d),
         |pairs AS (
         |  SELECT a.id AS da, b.id AS db, count(*) AS common,
         |    any_value(a.nd) AS na, any_value(b.nd) AS nb
         |  FROM e a JOIN e b ON a.h = b.h AND a.id < b.id GROUP BY 1, 2)
         |SELECT da, db, common, na, nb, common/(na+nb-common) AS j,
         |  CAST(abs(da % 1000 - db % 1000) AS BIGINT) AS dt
         |FROM pairs WHERE common/(na+nb-common) >= $JACCARD_TAU
         |  AND abs(da % 1000 - db % 1000) <= $TEMPORAL_W
         |ORDER BY da, db""".stripMargin,
    "mix_quantile_align" ->
      s"""WITH r AS (SELECT doc_id, source,
         |  CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
         |  CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
         |  FROM documents),
         |q AS (SELECT doc_id, source,
         |  CASE WHEN n = 1 THEN 0.0
         |       ELSE CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) END AS q
         |  FROM r)
         |SELECT doc_id, source, q FROM q
         |WHERE q >= $QUANTILE_CUT ORDER BY doc_id""".stripMargin,
    "priv_l_diversity" ->
      s"""SELECT lang, source,
         |  CAST(floor(n_chars / $K_ANON_LEN) AS BIGINT) AS len_bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT n_chars % 10) AS BIGINT) AS diversity,
         |  CAST(CASE WHEN count(DISTINCT n_chars % 10) < $L_DIV THEN 1 ELSE 0 END AS BIGINT) AS at_risk
         |FROM documents GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "text_collocations" ->
      s"""WITH tok AS (SELECT string_split(text, ' ') AS ws FROM documents),
         |big AS (SELECT unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2
         |        FROM tok WHERE len(ws) >= 2),
         |bc AS (SELECT w1, w2, count(*) AS c_ab FROM big GROUP BY 1, 2
         |       HAVING count(*) >= $COLL_MIN),
         |uni AS (SELECT w, count(*) AS c
         |        FROM (SELECT unnest(ws) AS w FROM tok) GROUP BY 1),
         |nb AS (SELECT count(*) AS n_big FROM big)
         |SELECT w1, w2, c_ab, a.c AS c_a, b.c AS c_b,
         |  CAST(c_ab * n_big AS DOUBLE) / CAST(a.c * b.c AS DOUBLE) AS lift
         |FROM bc JOIN uni a ON w1 = a.w JOIN uni b ON w2 = b.w, nb
         |ORDER BY lift DESC, w1, w2 LIMIT $COLL_K""".stripMargin,
    // URL canonicalization mirror: every step of Urls.canonicalize
    // restated over the same synthesized URLs — fixed-delimiter
    // split_part/substr only, byte-wise list_sort == Spark array_sort
    "text_url_canon" ->
      """WITH u AS (SELECT doc_id,
        |  'HTTPS://WWW.Site' || CAST(doc_id % 50 AS VARCHAR) || '.COM' ||
        |  CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END ||
        |  '/P/' || CAST(doc_id AS VARCHAR) ||
        |  CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
        |  '?b=' || CAST(doc_id % 7 AS VARCHAR) ||
        |  '&utm_source=feed' ||
        |  CASE WHEN doc_id % 2 = 0 THEN '&a=' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END ||
        |  '#sec' AS url FROM documents),
        |s2 AS (SELECT doc_id, split_part(url, '#', 1) AS u1 FROM u),
        |s3 AS (SELECT doc_id, u1,
        |  lower(split_part(u1, '://', 1)) AS sch,
        |  substr(u1, length(split_part(u1, '://', 1)) + 4) AS rest FROM s2),
        |s4 AS (SELECT *, split_part(rest, '/', 1) AS hostport FROM s3),
        |s5 AS (SELECT *, lower(split_part(hostport, ':', 1)) AS host0,
        |  split_part(hostport, ':', 2) AS port FROM s4),
        |s6 AS (SELECT *,
        |  CASE WHEN starts_with(host0, 'www.') THEN substr(host0, 5) ELSE host0 END AS host,
        |  CASE WHEN port = '' OR (sch = 'https' AND port = '443')
        |         OR (sch = 'http' AND port = '80') THEN ''
        |       ELSE ':' || port END AS keepport,
        |  substr(rest, length(hostport) + 1) AS pq FROM s5),
        |s7 AS (SELECT *, split_part(pq, '?', 1) AS path0,
        |  split_part(pq, '?', 2) AS query FROM s6),
        |s8 AS (SELECT *,
        |  CASE WHEN ends_with(path0, '/') THEN substr(path0, 1, length(path0) - 1)
        |       ELSE path0 END AS path,
        |  list_sort(list_filter(string_split(query, '&'), p ->
        |    p <> '' AND NOT starts_with(lower(p), 'utm_')
        |    AND split_part(p, '=', 1) NOT IN ('fbclid', 'gclid'))) AS params
        |  FROM s7)
        |SELECT doc_id,
        |  sch || '://' || host || keepport || path ||
        |    CASE WHEN len(params) = 0 THEN ''
        |         ELSE '?' || array_to_string(params, '&') END AS url_canon,
        |  array_to_string(string_split(host, '.')[-2:], '.') AS domain
        |FROM s8 ORDER BY doc_id""".stripMargin,
    "text_pii_stats" -> {
      val arms = PII_PATTERNS.map { case (name, p) =>
        s"""SELECT source, '$name' AS pattern,
           |  CAST(len(regexp_extract_all(text, '$p')) AS BIGINT) AS h
           |FROM documents""".stripMargin
      }.mkString("\n UNION ALL ")
      s"""WITH h AS ($arms)
         |SELECT source, pattern,
         |  CAST(sum(CASE WHEN h > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_hit,
         |  CAST(sum(h) AS BIGINT) AS n_hits
         |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "text_bpe_compression" ->
      s"""WITH ${bpeCtes(BPE_ROUNDS)},
         |enc AS (SELECT doc_id, CAST(len(string_split(s,' ')) AS BIGINT) AS n_tokens
         |  FROM s$BPE_ROUNDS),
         |w AS (SELECT doc_id, source,
         |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_words FROM documents)
         |SELECT w.source, count(*) AS n_docs,
         |  CAST(sum(w.n_words) AS BIGINT) AS n_words,
         |  CAST(sum(e.n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(e.n_tokens) AS BIGINT) / CAST(sum(w.n_words) AS BIGINT) AS compression
         |FROM w JOIN enc e USING(doc_id) GROUP BY 1 ORDER BY 1""".stripMargin,
    "sim_hard_negatives" ->
      s"""WITH $fxCte,
         |nl AS (SELECT n.id, n.fx, n.nrm, e.label AS lab FROM n
         |  JOIN embeddings e ON e.vec_id = n.id),
         |q AS (SELECT id AS qid, fx AS fq, nrm AS nq, lab AS qlab FROM nl WHERE id < 5),
         |j AS (SELECT q.qid, v.id AS vid, v.lab AS neg_label,
         |    ${Similarity.cosineSql("q.fq", "v.fx", "q.nq", "v.nrm")} AS cos
         |  FROM q JOIN nl v ON v.id <> q.qid AND v.lab <> q.qlab),
         |r AS (SELECT qid, vid, neg_label, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rn
         |  FROM j)
         |SELECT qid, rn, vid AS vec_id, neg_label, cos FROM r
         |WHERE rn <= $HARDNEG_K ORDER BY qid, rn""".stripMargin,
    "emb_label_noise" ->
      s"""WITH $fxCte,
         |b AS (SELECT id, fx, nrm, ${Similarity.bucketSql()} AS bucket FROM n),
         |nl AS (SELECT b.id, b.fx, b.nrm, b.bucket, e.label AS lab FROM b
         |  JOIN embeddings e ON e.vec_id = b.id),
         |c AS (SELECT x.id, x.lab, y.id AS id2, y.lab AS lab2,
         |    ${Similarity.cosineSql("x.fx", "y.fx", "x.nrm", "y.nrm")} AS cos
         |  FROM nl x JOIN nl y ON x.bucket = y.bucket AND x.id <> y.id),
         |r AS (SELECT id, lab, lab2,
         |    row_number() OVER (PARTITION BY id ORDER BY cos DESC, id2) AS rn FROM c),
         |a AS (SELECT id, count(*) AS n_nb,
         |    sum(CASE WHEN lab2 = lab THEN 1 ELSE 0 END) AS n_same
         |  FROM r WHERE rn <= $NOISE_K GROUP BY id)
         |SELECT nl.id, nl.lab AS label,
         |  CAST(COALESCE(a.n_nb, 0) AS BIGINT) AS n_nb,
         |  CAST(COALESCE(a.n_same, 0) AS BIGINT) AS n_same,
         |  CASE WHEN COALESCE(a.n_nb, 0) > 0
         |    THEN CAST(a.n_nb - a.n_same AS BIGINT) / CAST(a.n_nb AS BIGINT)
         |    ELSE 0.0 END AS mismatch_frac
         |FROM nl LEFT JOIN a ON a.id = nl.id ORDER BY nl.id""".stripMargin,
    "sim_topk_brute" ->
      s"""WITH $fxCte,
         |j AS (SELECT q.id AS qid, v.id AS vid,
         |    ${Similarity.cosineSql("q.fx", "v.fx", "q.nrm", "v.nrm")} AS cos
         |  FROM n q JOIN n v ON q.id < 5 AND v.id <> q.id),
         |r AS (SELECT qid, vid, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rn
         |  FROM j)
         |SELECT qid, rn, vid AS vec_id, cos FROM r WHERE rn <= 10 ORDER BY qid, rn""".stripMargin,
    "sim_ann_buckets" ->
      s"""WITH $fxCte
         |SELECT id, ${Similarity.bucketSql()} AS bucket FROM n ORDER BY id""".stripMargin,
    // sketch-rerank mirror: the same shifted projections, (d2, vid)
    // candidate order, exact-cosine final order
    "sim_proj_rerank" -> {
      val sCols = (0 until 8)
        .map(j => s"${Similarity.randomProjectionSql(j, 8)} // 1024 AS s$j")
        .mkString(",\n|    ")
      val d2 = (0 until 8)
        .map(j => s"(q.s$j - v.s$j)*(q.s$j - v.s$j)").mkString(" + ")
      s"""WITH $fxCte,
         |p AS (SELECT id,
         |    $sCols
         |  FROM f),
         |c AS (SELECT q.id AS qid, v.id AS vid, $d2 AS d2
         |  FROM p q JOIN p v ON q.id < 5 AND v.id <> q.id),
         |cr AS (SELECT qid, vid,
         |    row_number() OVER (PARTITION BY qid ORDER BY d2, vid) AS crn FROM c),
         |cand AS (SELECT qid, vid FROM cr WHERE crn <= 60),
         |jn AS (SELECT cand.qid, cand.vid,
         |    ${Similarity.cosineSql("q.fx", "v.fx", "q.nrm", "v.nrm")} AS cos
         |  FROM cand JOIN n q ON q.id = cand.qid JOIN n v ON v.id = cand.vid),
         |r AS (SELECT qid, vid, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rn
         |  FROM jn)
         |SELECT qid, rn, vid AS vec_id, cos FROM r WHERE rn <= 10
         |ORDER BY qid, rn""".stripMargin
    },
    "sim_ivf_topk" ->
      s"""WITH $fxCte,
         |c AS (SELECT id AS cid, fx AS cfx, nrm AS cnrm FROM n
         |  ORDER BY ${Similarity.seedHashSql("id")}, id LIMIT 16),
         |sc AS (SELECT n.id, c.cid,
         |  n.nrm - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> n.fx[i]*c.cfx[i])) AS BIGINT) + c.cnrm AS d2
         |  FROM n, c),
         |rk AS (SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS crn FROM sc),
         |lists AS (SELECT rk.cid, rk.id, n.fx, n.nrm FROM rk JOIN n USING(id) WHERE crn = 1),
         |probes AS (SELECT rk.id AS qid, rk.cid, n.fx AS fq, n.nrm AS nq
         |  FROM rk JOIN n USING(id) WHERE rk.id < 5 AND crn <= 2),
         |j AS (SELECT p.qid, l.id AS vid,
         |    ${Similarity.cosineSql("p.fq", "l.fx", "p.nq", "l.nrm")} AS cos
         |  FROM probes p JOIN lists l ON p.cid = l.cid AND l.id <> p.qid),
         |r AS (SELECT qid, vid, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rn
         |  FROM j)
         |SELECT qid, rn, vid AS vec_id, cos FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,
    // dense-RAG capstone mirror: the sim_ivf_topk CTE chain with the
    // document store joined on the retrieved ids for the payload column
    "pipe_dense_retrieval" ->
      s"""WITH $fxCte,
         |c AS (SELECT id AS cid, fx AS cfx, nrm AS cnrm FROM n
         |  ORDER BY ${Similarity.seedHashSql("id")}, id LIMIT 16),
         |sc AS (SELECT n.id, c.cid,
         |  n.nrm - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> n.fx[i]*c.cfx[i])) AS BIGINT) + c.cnrm AS d2
         |  FROM n, c),
         |rk AS (SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS crn FROM sc),
         |lists AS (SELECT rk.cid, rk.id, n.fx, n.nrm FROM rk JOIN n USING(id) WHERE crn = 1),
         |probes AS (SELECT rk.id AS qid, rk.cid, n.fx AS fq, n.nrm AS nq
         |  FROM rk JOIN n USING(id) WHERE rk.id < 5 AND crn <= 2),
         |j AS (SELECT p.qid, l.id AS vid,
         |    ${Similarity.cosineSql("p.fq", "l.fx", "p.nq", "l.nrm")} AS cos
         |  FROM probes p JOIN lists l ON p.cid = l.cid AND l.id <> p.qid),
         |r AS (SELECT qid, vid, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rn
         |  FROM j)
         |SELECT r.qid, r.rn, r.vid AS vec_id, r.cos,
         |  CAST(len(string_split(d.text,' ')) AS BIGINT) AS n_tokens
         |FROM r JOIN documents d ON d.doc_id = r.vid
         |WHERE r.rn <= 3 ORDER BY qid, rn""".stripMargin,
    // two-level IVF mirror: coarse level = the sim_ivf_topk CTE chain
    // (16 seeded centroids, crn ranking); level 2 = per-coarse-list
    // seedHash-lowest-4 sub-centroids, assignment re-ranked within the
    // owning coarse list only (the equi-join the operator makes on
    // cid1); probe tail picks 2 coarse lists then 2 sub-lists each
    "sim_ivf2_topk" ->
      s"""WITH $fxCte,
         |c1 AS (SELECT id AS cid, fx AS cfx, nrm AS cnrm FROM n
         |  ORDER BY ${Similarity.seedHashSql("id")}, id LIMIT 16),
         |sc1 AS (SELECT n.id, c1.cid,
         |  n.nrm - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> n.fx[i]*c1.cfx[i])) AS BIGINT) + c1.cnrm AS d2
         |  FROM n, c1),
         |rk1 AS (SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS crn FROM sc1),
         |own1 AS (SELECT rk1.id, rk1.cid AS cid1, n.fx, n.nrm
         |  FROM rk1 JOIN n USING(id) WHERE crn = 1),
         |c2 AS (SELECT cid1, id AS cid2, fx AS cfx, nrm AS cnrm
         |  FROM (SELECT own1.*, row_number() OVER (PARTITION BY cid1
         |      ORDER BY ${Similarity.seedHashSql("id")}, id) AS srn FROM own1)
         |  WHERE srn <= 4),
         |sc2 AS (SELECT o.id, o.cid1, c2.cid2,
         |  o.nrm - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> o.fx[i]*c2.cfx[i])) AS BIGINT) + c2.cnrm AS d2
         |  FROM own1 o JOIN c2 USING (cid1)),
         |own2 AS (SELECT id, cid1, cid2 FROM (SELECT id, cid1, cid2,
         |    row_number() OVER (PARTITION BY id ORDER BY d2, cid2) AS rn
         |  FROM sc2) WHERE rn = 1),
         |lists AS (SELECT own2.cid1, own2.cid2, own2.id, n.fx, n.nrm
         |  FROM own2 JOIN n USING(id)),
         |p1 AS (SELECT rk1.id AS qid, rk1.cid AS cid1, n.fx AS fq, n.nrm AS nq
         |  FROM rk1 JOIN n USING(id) WHERE rk1.id < 5 AND crn <= 2),
         |p2 AS (SELECT qid, cid1, cid2, fq, nq FROM (SELECT p1.qid, p1.cid1,
         |    c2.cid2, p1.fq, p1.nq,
         |    row_number() OVER (PARTITION BY p1.qid, p1.cid1
         |      ORDER BY p1.nq - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> p1.fq[i]*c2.cfx[i])) AS BIGINT) + c2.cnrm, c2.cid2) AS srn
         |  FROM p1 JOIN c2 USING (cid1)) WHERE srn <= 2),
         |j AS (SELECT p2.qid, l.id AS vid,
         |    ${Similarity.cosineSql("p2.fq", "l.fx", "p2.nq", "l.nrm")} AS cos
         |  FROM p2 JOIN lists l ON p2.cid1 = l.cid1 AND p2.cid2 = l.cid2
         |    AND l.id <> p2.qid),
         |r AS (SELECT qid, vid, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rn
         |  FROM j)
         |SELECT qid, rn, vid AS vec_id, cos FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,
    // trained-coarse two-level IVF: the shared Lloyd chain (ONE
    // whole-vector subspace) produces the coarse book, then the
    // sim_ivf2_topk chain verbatim from sc1 down
    "sim_ivf2_trained" ->
      s"""WITH $fxCte,
         |${Similarity.trainedCbCtes(1, 16, 64, PQ_ITERS)},
         |c1 AS (SELECT cid, cvec AS cfx,
         |    CAST(list_sum(list_transform(cvec, x -> x*x)) AS BIGINT) AS cnrm
         |  FROM cbt$PQ_ITERS),
         |sc1 AS (SELECT n.id, c1.cid,
         |  n.nrm - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> n.fx[i]*c1.cfx[i])) AS BIGINT) + c1.cnrm AS d2
         |  FROM n, c1),
         |rk1 AS (SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS crn FROM sc1),
         |own1 AS (SELECT rk1.id, rk1.cid AS cid1, n.fx, n.nrm
         |  FROM rk1 JOIN n USING(id) WHERE crn = 1),
         |c2 AS (SELECT cid1, id AS cid2, fx AS cfx, nrm AS cnrm
         |  FROM (SELECT own1.*, row_number() OVER (PARTITION BY cid1
         |      ORDER BY ${Similarity.seedHashSql("id")}, id) AS srn FROM own1)
         |  WHERE srn <= 4),
         |sc2 AS (SELECT o.id, o.cid1, c2.cid2,
         |  o.nrm - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> o.fx[i]*c2.cfx[i])) AS BIGINT) + c2.cnrm AS d2
         |  FROM own1 o JOIN c2 USING (cid1)),
         |own2 AS (SELECT id, cid1, cid2 FROM (SELECT id, cid1, cid2,
         |    row_number() OVER (PARTITION BY id ORDER BY d2, cid2) AS rn
         |  FROM sc2) WHERE rn = 1),
         |lists AS (SELECT own2.cid1, own2.cid2, own2.id, n.fx, n.nrm
         |  FROM own2 JOIN n USING(id)),
         |p1 AS (SELECT rk1.id AS qid, rk1.cid AS cid1, n.fx AS fq, n.nrm AS nq
         |  FROM rk1 JOIN n USING(id) WHERE rk1.id < 5 AND crn <= 2),
         |p2 AS (SELECT qid, cid1, cid2, fq, nq FROM (SELECT p1.qid, p1.cid1,
         |    c2.cid2, p1.fq, p1.nq,
         |    row_number() OVER (PARTITION BY p1.qid, p1.cid1
         |      ORDER BY p1.nq - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> p1.fq[i]*c2.cfx[i])) AS BIGINT) + c2.cnrm, c2.cid2) AS srn
         |  FROM p1 JOIN c2 USING (cid1)) WHERE srn <= 2),
         |j AS (SELECT p2.qid, l.id AS vid,
         |    ${Similarity.cosineSql("p2.fq", "l.fx", "p2.nq", "l.nrm")} AS cos
         |  FROM p2 JOIN lists l ON p2.cid1 = l.cid1 AND p2.cid2 = l.cid2
         |    AND l.id <> p2.qid),
         |r AS (SELECT qid, vid, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rn
         |  FROM j)
         |SELECT qid, rn, vid AS vec_id, cos FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,
    // IVF2-PQ mirror: the sim_ivf2_topk list/probe chain (keys only) ×
    // the sim_pq_trained codebook/encode/ADC chain, joined on
    // (qid, m, cid) exactly as the engine's broadcast table lookup
    "sim_ivf2_pq" ->
      s"""WITH $fxCte,
         |${Similarity.trainedCbCtes(4, 16, 16, PQ_ITERS)},
         |enc0 AS (SELECT sv.id, cb.m, cb.cid,
         |    CAST(list_sum(list_transform(generate_series(1, 16),
         |      i -> (sv.svec[i] - cb.cvec[i]) * (sv.svec[i] - cb.cvec[i]))) AS BIGINT) AS d2
         |  FROM sv JOIN cbt$PQ_ITERS cb USING (m)),
         |codes AS (SELECT id, m, cid FROM (SELECT *,
         |    row_number() OVER (PARTITION BY id, m ORDER BY d2, cid) AS rn
         |  FROM enc0) WHERE rn = 1),
         |qd AS (SELECT sv.id AS qid, cb.m, cb.cid,
         |    CAST(list_sum(list_transform(generate_series(1, 16),
         |      i -> (sv.svec[i] - cb.cvec[i]) * (sv.svec[i] - cb.cvec[i]))) AS BIGINT) AS qd2
         |  FROM sv JOIN cbt$PQ_ITERS cb USING (m) WHERE sv.id < 5),
         |c1 AS (SELECT id AS cid, fx AS cfx, nrm AS cnrm FROM n
         |  ORDER BY ${Similarity.seedHashSql("id")}, id LIMIT 16),
         |sc1 AS (SELECT n.id, c1.cid,
         |  n.nrm - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> n.fx[i]*c1.cfx[i])) AS BIGINT) + c1.cnrm AS d2
         |  FROM n, c1),
         |rk1 AS (SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS crn FROM sc1),
         |own1 AS (SELECT rk1.id, rk1.cid AS cid1, n.fx, n.nrm
         |  FROM rk1 JOIN n USING(id) WHERE crn = 1),
         |c2 AS (SELECT cid1, id AS cid2, fx AS cfx, nrm AS cnrm
         |  FROM (SELECT own1.*, row_number() OVER (PARTITION BY cid1
         |      ORDER BY ${Similarity.seedHashSql("id")}, id) AS srn FROM own1)
         |  WHERE srn <= 4),
         |sc2 AS (SELECT o.id, o.cid1, c2.cid2,
         |  o.nrm - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> o.fx[i]*c2.cfx[i])) AS BIGINT) + c2.cnrm AS d2
         |  FROM own1 o JOIN c2 USING (cid1)),
         |own2 AS (SELECT id, cid1, cid2 FROM (SELECT id, cid1, cid2,
         |    row_number() OVER (PARTITION BY id ORDER BY d2, cid2) AS rn
         |  FROM sc2) WHERE rn = 1),
         |p1 AS (SELECT rk1.id AS qid, rk1.cid AS cid1, n.fx AS fq, n.nrm AS nq
         |  FROM rk1 JOIN n USING(id) WHERE rk1.id < 5 AND crn <= 2),
         |p2 AS (SELECT qid, cid1, cid2 FROM (SELECT p1.qid, p1.cid1,
         |    c2.cid2,
         |    row_number() OVER (PARTITION BY p1.qid, p1.cid1
         |      ORDER BY p1.nq - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> p1.fq[i]*c2.cfx[i])) AS BIGINT) + c2.cnrm, c2.cid2) AS srn
         |  FROM p1 JOIN c2 USING (cid1)) WHERE srn <= 2),
         |cand AS (SELECT p2.qid, own2.id FROM p2
         |  JOIN own2 ON p2.cid1 = own2.cid1 AND p2.cid2 = own2.cid2
         |  WHERE own2.id <> p2.qid),
         |adc AS (SELECT cand.qid, cand.id AS vid, CAST(sum(qd.qd2) AS BIGINT) AS adc
         |  FROM cand JOIN codes ON codes.id = cand.id
         |  JOIN qd ON qd.qid = cand.qid AND qd.m = codes.m AND qd.cid = codes.cid
         |  GROUP BY 1, 2),
         |r AS (SELECT qid, vid, adc,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY adc, vid) AS BIGINT) AS rn
         |  FROM adc)
         |SELECT qid, rn, vid AS vec_id, adc FROM r WHERE rn <= 3
         |ORDER BY qid, rn""".stripMargin,
    // all-trained IVF2-PQ mirror: TWO Lloyd chains coexist — the PQ
    // chain (unprefixed: sv/cbtN) and the whole-vector coarse chain
    // (prefix cv: cvsv/cvcbtN); c1 reads the trained coarse book, the
    // rest is the sim_ivf2_pq chain verbatim from sc1 down
    "sim_ivf2_pq_trained" ->
      s"""WITH $fxCte,
         |${Similarity.trainedCbCtes(4, 16, 16, PQ_ITERS)},
         |${Similarity.trainedCbCtes(1, 16, 64, PQ_ITERS, "cv")},
         |enc0 AS (SELECT sv.id, cb.m, cb.cid,
         |    CAST(list_sum(list_transform(generate_series(1, 16),
         |      i -> (sv.svec[i] - cb.cvec[i]) * (sv.svec[i] - cb.cvec[i]))) AS BIGINT) AS d2
         |  FROM sv JOIN cbt$PQ_ITERS cb USING (m)),
         |codes AS (SELECT id, m, cid FROM (SELECT *,
         |    row_number() OVER (PARTITION BY id, m ORDER BY d2, cid) AS rn
         |  FROM enc0) WHERE rn = 1),
         |qd AS (SELECT sv.id AS qid, cb.m, cb.cid,
         |    CAST(list_sum(list_transform(generate_series(1, 16),
         |      i -> (sv.svec[i] - cb.cvec[i]) * (sv.svec[i] - cb.cvec[i]))) AS BIGINT) AS qd2
         |  FROM sv JOIN cbt$PQ_ITERS cb USING (m) WHERE sv.id < 5),
         |c1 AS (SELECT cid, cvec AS cfx,
         |    CAST(list_sum(list_transform(cvec, x -> x*x)) AS BIGINT) AS cnrm
         |  FROM cvcbt$PQ_ITERS),
         |sc1 AS (SELECT n.id, c1.cid,
         |  n.nrm - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> n.fx[i]*c1.cfx[i])) AS BIGINT) + c1.cnrm AS d2
         |  FROM n, c1),
         |rk1 AS (SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS crn FROM sc1),
         |own1 AS (SELECT rk1.id, rk1.cid AS cid1, n.fx, n.nrm
         |  FROM rk1 JOIN n USING(id) WHERE crn = 1),
         |c2 AS (SELECT cid1, id AS cid2, fx AS cfx, nrm AS cnrm
         |  FROM (SELECT own1.*, row_number() OVER (PARTITION BY cid1
         |      ORDER BY ${Similarity.seedHashSql("id")}, id) AS srn FROM own1)
         |  WHERE srn <= 4),
         |sc2 AS (SELECT o.id, o.cid1, c2.cid2,
         |  o.nrm - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> o.fx[i]*c2.cfx[i])) AS BIGINT) + c2.cnrm AS d2
         |  FROM own1 o JOIN c2 USING (cid1)),
         |own2 AS (SELECT id, cid1, cid2 FROM (SELECT id, cid1, cid2,
         |    row_number() OVER (PARTITION BY id ORDER BY d2, cid2) AS rn
         |  FROM sc2) WHERE rn = 1),
         |p1 AS (SELECT rk1.id AS qid, rk1.cid AS cid1, n.fx AS fq, n.nrm AS nq
         |  FROM rk1 JOIN n USING(id) WHERE rk1.id < 5 AND crn <= 2),
         |p2 AS (SELECT qid, cid1, cid2 FROM (SELECT p1.qid, p1.cid1,
         |    c2.cid2,
         |    row_number() OVER (PARTITION BY p1.qid, p1.cid1
         |      ORDER BY p1.nq - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> p1.fq[i]*c2.cfx[i])) AS BIGINT) + c2.cnrm, c2.cid2) AS srn
         |  FROM p1 JOIN c2 USING (cid1)) WHERE srn <= 2),
         |cand AS (SELECT p2.qid, own2.id FROM p2
         |  JOIN own2 ON p2.cid1 = own2.cid1 AND p2.cid2 = own2.cid2
         |  WHERE own2.id <> p2.qid),
         |adc AS (SELECT cand.qid, cand.id AS vid, CAST(sum(qd.qd2) AS BIGINT) AS adc
         |  FROM cand JOIN codes ON codes.id = cand.id
         |  JOIN qd ON qd.qid = cand.qid AND qd.m = codes.m AND qd.cid = codes.cid
         |  GROUP BY 1, 2),
         |r AS (SELECT qid, vid, adc,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY adc, vid) AS BIGINT) AS rn
         |  FROM adc)
         |SELECT qid, rn, vid AS vec_id, adc FROM r WHERE rn <= 3
         |ORDER BY qid, rn""".stripMargin,
    // Lloyd-refined IVF: seed assignment as sim_ivf_topk, element-wise
    // HUGEINT-safe integer-mean centroids (s // cnt truncates toward zero
    // exactly like Spark's div), re-assignment, then the shared probe tail
    // trained coarse quantizer mirror: the shared Lloyd CTE chain over
    // ONE whole-vector subspace, then the sim_ivf_refined probe tail
    "sim_ivf_trained" ->
      s"""WITH $fxCte,
         |${Similarity.trainedCbCtes(1, 16, 64, PQ_ITERS)},
         |cc AS (SELECT cid, cvec AS cfx,
         |    CAST(list_sum(list_transform(cvec, x -> x*x)) AS BIGINT) AS cnrm
         |  FROM cbt$PQ_ITERS),
         |sc1 AS (SELECT n.id, cc.cid,
         |  n.nrm - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> n.fx[i]*cc.cfx[i])) AS BIGINT) + cc.cnrm AS d2
         |  FROM n, cc),
         |rk1 AS (SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS crn FROM sc1),
         |lists AS (SELECT rk1.cid, rk1.id, n.fx, n.nrm FROM rk1 JOIN n USING(id) WHERE crn = 1),
         |probes AS (SELECT rk1.id AS qid, rk1.cid, n.fx AS fq, n.nrm AS nq
         |  FROM rk1 JOIN n USING(id) WHERE rk1.id < 5 AND crn <= 2),
         |j AS (SELECT p.qid, l.id AS vid,
         |    ${Similarity.cosineSql("p.fq", "l.fx", "p.nq", "l.nrm")} AS cos
         |  FROM probes p JOIN lists l ON p.cid = l.cid AND l.id <> p.qid),
         |r AS (SELECT qid, vid, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rn
         |  FROM j)
         |SELECT qid, rn, vid AS vec_id, cos FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,
    // k-means mirror: same Lloyd chain (k=8 whole-vector centroids),
    // final assignment = min (d2, cid) per vector, exact BIGINT d2
    "sim_kmeans" ->
      s"""WITH $fxCte,
         |${Similarity.trainedCbCtes(1, 8, 64, PQ_ITERS)},
         |cc AS (SELECT cid, cvec AS cfx,
         |    CAST(list_sum(list_transform(cvec, x -> x*x)) AS BIGINT) AS cnrm
         |  FROM cbt$PQ_ITERS),
         |sc1 AS (SELECT n.id, cc.cid,
         |  CAST(n.nrm - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> n.fx[i]*cc.cfx[i])) AS BIGINT) + cc.cnrm AS BIGINT) AS d2
         |  FROM n, cc)
         |SELECT id, cid, d2 FROM (SELECT id, cid, d2,
         |    row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
         |  FROM sc1) WHERE rn = 1 ORDER BY id""".stripMargin,
    // elbow mirror: one prefixed Lloyd chain per candidate k (the
    // trainedCbCtes prefix parameter exists for exactly this), each
    // reduced to (k, non-empty clusters, exact BIGINT WCSS)
    "sim_kmeans_elbow" -> {
      val ks = Seq(2, 4, 8, 16)
      val chains = ks.map(k =>
        Similarity.trainedCbCtes(1, k, 64, PQ_ITERS, s"e${k}_")).mkString(",\n")
      val per = ks.map { k =>
        s"""e${k}cc AS (SELECT cid, cvec AS cfx,
           |    CAST(list_sum(list_transform(cvec, x -> x*x)) AS BIGINT) AS cnrm
           |  FROM e${k}_cbt$PQ_ITERS),
           |e${k}a AS (SELECT id, cid, d2 FROM (SELECT id, cid, d2,
           |    row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
           |  FROM (SELECT n.id, cc.cid,
           |    CAST(n.nrm - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> n.fx[i]*cc.cfx[i])) AS BIGINT) + cc.cnrm AS BIGINT) AS d2
           |    FROM n, e${k}cc cc)) WHERE rn = 1),
           |e${k}g AS (SELECT CAST($k AS BIGINT) AS k,
           |    CAST(count(DISTINCT cid) AS BIGINT) AS n_clusters,
           |    CAST(sum(d2) AS BIGINT) AS wcss FROM e${k}a)""".stripMargin
      }.mkString(",\n")
      val sel = ks.map(k => s"SELECT * FROM e${k}g").mkString("\nUNION ALL ")
      s"WITH $fxCte,\n$chains,\n$per\n$sel\nORDER BY k"
    },
    // prototype mirror: the sim_kmeans labeling CTEs + a per-cluster
    // (d2, id) rank window cut at 3
    "sim_kmeans_protos" ->
      s"""WITH $fxCte,
         |${Similarity.trainedCbCtes(1, 8, 64, PQ_ITERS)},
         |cc AS (SELECT cid, cvec AS cfx,
         |    CAST(list_sum(list_transform(cvec, x -> x*x)) AS BIGINT) AS cnrm
         |  FROM cbt$PQ_ITERS),
         |sc1 AS (SELECT n.id, cc.cid,
         |  CAST(n.nrm - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> n.fx[i]*cc.cfx[i])) AS BIGINT) + cc.cnrm AS BIGINT) AS d2
         |  FROM n, cc),
         |asg AS (SELECT id, cid, d2 FROM (SELECT id, cid, d2,
         |    row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
         |  FROM sc1) WHERE rn = 1)
         |SELECT cid, rn, id, d2 FROM (SELECT cid, id, d2,
         |    CAST(row_number() OVER (PARTITION BY cid ORDER BY d2, id) AS BIGINT) AS rn
         |  FROM asg) WHERE rn <= 3 ORDER BY cid, rn""".stripMargin,
    "sim_ivf_refined" -> {
      val sumList = (1 to 64).map(i => s"sum(n.fx[$i])").mkString("[", ", ", "]")
      s"""WITH $fxCte,
         |c0 AS (SELECT id AS cid, fx AS cfx, nrm AS cnrm FROM n
         |  ORDER BY ${Similarity.seedHashSql("id")}, id LIMIT 16),
         |sc0 AS (SELECT n.id, c0.cid,
         |  n.nrm - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> n.fx[i]*c0.cfx[i])) AS BIGINT) + c0.cnrm AS d2
         |  FROM n, c0),
         |rk0 AS (SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS crn FROM sc0),
         |asg AS (SELECT id, cid FROM rk0 WHERE crn = 1),
         |ag AS (SELECT asg.cid, count(*) AS cnt, $sumList AS sfx
         |  FROM asg JOIN n USING (id) GROUP BY asg.cid),
         |c1 AS (SELECT cid, list_transform(sfx, s -> CAST(s // cnt AS BIGINT)) AS cfx FROM ag),
         |c1n AS (SELECT cid, cfx, CAST(list_sum(list_transform(cfx, x -> x*x)) AS BIGINT) AS cnrm FROM c1),
         |sc1 AS (SELECT n.id, c1n.cid,
         |  n.nrm - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> n.fx[i]*c1n.cfx[i])) AS BIGINT) + c1n.cnrm AS d2
         |  FROM n, c1n),
         |rk1 AS (SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS crn FROM sc1),
         |lists AS (SELECT rk1.cid, rk1.id, n.fx, n.nrm FROM rk1 JOIN n USING(id) WHERE crn = 1),
         |probes AS (SELECT rk1.id AS qid, rk1.cid, n.fx AS fq, n.nrm AS nq
         |  FROM rk1 JOIN n USING(id) WHERE rk1.id < 5 AND crn <= 2),
         |j AS (SELECT p.qid, l.id AS vid,
         |    ${Similarity.cosineSql("p.fq", "l.fx", "p.nq", "l.nrm")} AS cos
         |  FROM probes p JOIN lists l ON p.cid = l.cid AND l.id <> p.qid),
         |r AS (SELECT qid, vid, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rn
         |  FROM j)
         |SELECT qid, rn, vid AS vec_id, cos FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin
    },
    "sim_ann_topk" ->
      s"""WITH $fxCte,
         |b AS (SELECT id, fx, nrm, ${Similarity.bucketSql()} AS bucket FROM n),
         |j AS (SELECT q.id AS qid, v.id AS vid,
         |    ${Similarity.cosineSql("q.fx", "v.fx", "q.nrm", "v.nrm")} AS cos
         |  FROM b q JOIN b v ON q.bucket = v.bucket AND q.id < 5 AND v.id <> q.id),
         |r AS (SELECT qid, vid, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rn
         |  FROM j)
         |SELECT qid, rn, vid AS vec_id, cos FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin
  )
}
