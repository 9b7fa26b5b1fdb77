package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — the baseline/oracle.
  *    The query side is small (a handful of probe vectors) and is
  *    broadcast, so the big side streams once with no shuffle.
  *  - [[hyperplaneBuckets]] + [[bucketedTopK]]: random-hyperplane LSH.
  *    Each vector maps to a small bucket id in one projection pass; the
  *    search join is an equi-join on the bucket — this is the 100 TB
  *    path (shuffle ∝ bucket collisions, not |corpus|²).
  *
  * All dot products run in fixed-point (1e6) BIGINT so results are
  * exact, order-independent, and mirror-able in the DuckDB oracle.
  */
object Similarity {
  val NUM_PLANES = 8
  val FIX = 1e6

  /** id + fixed-point vector + its squared norm. Both columns are native
    * codegen'd expressions (fused loops inside whole-stage codegen):
    * the previous `transform`/`aggregate` HOF forms evaluated an
    * interpreted expression tree per ELEMENT (with per-element boxing),
    * which made this corpus-wide pass the dominant cost of every
    * similarity / embedding / embedding-dedup query, and the allocation
    * churn made it a prime victim of this environment's page-fault
    * stalls (see build.sbt). nrm = fixed_dot(fx, fx) = sum of fx^2,
    * same exact BIGINT value. */
  def fixedPoint(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.HashExpressions.fixed_point_vec(
          col(vecCol).cast("array<double>")).as("fx"))
      .withColumn("nrm",
        graft.functions.HashExpressions.fixed_dot(col("fx"), col("fx")))

  private def cosine(fa: Column, fb: Column, na: Column, nb: Column): Column =
    graft.functions.HashExpressions.fixed_dot(fa, fb) /
      sqrt(na.cast("double") * nb.cast("double"))

  /** Exact top-k neighbors for each query vector (queries = rows of `df`
    * whose id satisfies `isQuery`). Query side is broadcast. */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
      isQuery: Column => Column, k: Int): DataFrame = {
    val fx = fixedPoint(df, idCol, vecCol)
    val q = fx.filter(isQuery(col("id")))
      .select(col("id").as("qid"), col("fx").as("fq"), col("nrm").as("nq"))
    val joined = broadcast(q).crossJoin(fx).filter(col("qid") =!= col("id"))
      .withColumn("cos", cosine(col("fq"), col("fx"), col("nq"), col("nrm")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("id"))
    joined.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("id").as("vec_id"), col("cos"))
  }

  /** LSH bucket id per vector: sign pattern of NUM_PLANES hyperplane
    * dot products, packed into a BIGINT. One projection pass, no shuffle.
    *
    * The bucket is table 0 of the codegen'd
    * [[graft.functions.HashExpressions.HyperplaneSig]] (tables=1 makes
    * its single band use plane indices 0..NUM_PLANES−1 over the same
    * [[graft.functions.PlaneHash]] weights): bit-for-bit equal to the
    * interpreted HOF formulation it replaces — the differential stays
    * pinned in HashExprSpec ("hyperplane_sig == HOF bucket"), and the
    * DuckDB mirror [[bucketSql]] is unchanged. */
  def hyperplaneBuckets(df: DataFrame, idCol: String, vecCol: String,
      dims: Int = 64): DataFrame = {
    val fx = fixedPoint(df, idCol, vecCol)
    fx.withColumn("bucket", element_at(
      graft.functions.HashExpressions.hyperplane_sig(
        col("fx"), 1, NUM_PLANES, dims), 1))
  }

  /** Johnson–Lindenstrauss random projection (Johnson & Lindenstrauss
    * 1984; database-friendly integer variant per Achlioptas 2003): the
    * embedding reduced to `k` integer coordinates p_j = Σ_d fx_d·w(j,d)
    * over the SAME [[graft.functions.PlaneHash]] weight family the LSH
    * buckets sign — the buckets are exactly `sign(p_j)`, so projection
    * and bucketing stay one coherent geometry. Each output coordinate
    * is an exact BIGINT (micro-unit components × |w| ≤ 48 over 64 dims
    * ≈ 3·10⁹, far inside Long), bit-identical in the DuckDB mirror.
    *
    * Use: an 8-int sketch of a 64-float vector — distance computations
    * on the sketch cost k∕dims of the original (with JL-bounded
    * distortion), the standard prefilter before an exact re-rank.
    * Scale: one codegen'd projection pass, zero shuffle. */
  def randomProjection(df: DataFrame, idCol: String, vecCol: String,
      k: Int, dims: Int = 64): DataFrame = {
    require(k >= 1 && k <= 64, s"k in [1,64]: $k")
    val w = graft.functions.PlaneHash.table(k, dims)
    val fx = fixedPoint(df, idCol, vecCol)
    fx.select(col("id") +: (0 until k).map { j =>
      graft.functions.HashExpressions.fixed_dot(col("fx"),
        typedlit(w.slice(j * dims, (j + 1) * dims).toSeq)).as(s"p$j")
    }: _*)
  }

  /** SQL mirror of [[randomProjection]]'s coordinate j (over a
    * fixed-point vector column named `fx`). */
  def randomProjectionSql(j: Int, k: Int, dims: Int = 64): String = {
    val w = graft.functions.PlaneHash.table(k, dims)
    val wj = w.slice(j * dims, (j + 1) * dims).mkString("[", ",", "]")
    s"""CAST(list_sum(list_transform(generate_series(1, $dims),
       | i -> fx[i] * ($wj)[i])) AS BIGINT)""".stripMargin
  }

  /** Sketch-prefiltered exact rerank — the production two-stage ANN
    * pattern [[randomProjection]] exists for: stage 1 scans the corpus
    * with the 8-int JL sketch only (each coordinate down-shifted by
    * 1024 via TRUNCATING div — Spark `div` == DuckDB `//`, and the
    * shrink keeps Σ(Δ)² inside a Long), keeping each query's
    * `candidates` nearest by sketch L2²; stage 2 reranks only those by
    * EXACT fixed-point cosine and emits the top `k`. Both stages are
    * deterministic integer/total-order decisions, so the output is
    * oracle-exact — the sketch changes WHICH candidates reach the
    * exact stage, never the arithmetic of the final ranking.
    *
    * Scale: the corpus-wide pass costs k∕dims of a full-vector scan
    * (the sketch is why); queries broadcast; the rerank join is an
    * equi-join on the ≤ |queries|·candidates id set. */
  def projectedRerank(df: DataFrame, idCol: String, vecCol: String,
      isQuery: Column => Column, candidates: Int, k: Int,
      sketchK: Int = 8): DataFrame = {
    val w = graft.functions.PlaneHash.table(sketchK, 64)
    val fx = fixedPoint(df, idCol, vecCol).localCheckpoint(eager = false)
    val sk = fx.select(col("id") +: (0 until sketchK).map { j =>
        graft.functions.HashExpressions.fixed_dot(col("fx"),
          typedlit(w.slice(j * 64, (j + 1) * 64).toSeq)).as(s"p$j")
      }: _*)
      .select(col("id") +: (0 until sketchK).map(j =>
        expr(s"p$j div 1024").as(s"s$j")): _*)
    val q = sk.filter(isQuery(col("id")))
      .select(col("id").as("qid") +: (0 until sketchK).map(j =>
        col(s"s$j").as(s"q$j")): _*)
    val d2 = (0 until sketchK).map(j =>
      (col(s"q$j") - col(s"s$j")) * (col(s"q$j") - col(s"s$j"))).reduce(_ + _)
    val wC = Window.partitionBy(col("qid")).orderBy(col("d2"), col("id"))
    val cand = broadcast(q).join(sk, col("qid") =!= col("id"))
      .withColumn("d2", d2)
      .withColumn("crn", row_number().over(wC))
      .filter(col("crn") <= candidates)
      .select("qid", "id")
    val qfx = fx.select(col("id").as("qid"), col("fx").as("fq"),
      col("nrm").as("nq"))
    val wK = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("id"))
    cand.join(fx, "id").join(broadcast(qfx), "qid")
      .withColumn("cos", cosine(col("fq"), col("fx"), col("nq"), col("nrm")))
      .withColumn("rn", row_number().over(wK).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("id").as("vec_id"), col("cos"))
  }

  /** ANN top-k: candidates restricted to the query's bucket, ranked by
    * exact cosine. Equi-join on bucket — the scale path. */
  def bucketedTopK(df: DataFrame, idCol: String, vecCol: String,
      isQuery: Column => Column, k: Int): DataFrame = {
    // lazy localCheckpoint, not cache: two consumers (query slice + big
    // join side), the broadcast decision is the explicit hint below, and
    // ContextCleaner reclaims the blocks when b goes out of scope — a
    // cache() entry would sit in the CacheManager for the session's life
    val b = hyperplaneBuckets(df, idCol, vecCol).localCheckpoint(eager = false)
    val q = b.filter(isQuery(col("id")))
      .select(col("id").as("qid"), col("fx").as("fq"), col("nrm").as("nq"), col("bucket"))
    val joined = broadcast(q).join(b, Seq("bucket")).filter(col("qid") =!= col("id"))
      .withColumn("cos", cosine(col("fq"), col("fx"), col("nq"), col("nrm")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("id"))
    joined.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("id").as("vec_id"), col("cos"))
  }

  /** Deterministic hash-spread seed rank: the same two-round
    * multiplicative hash shape as [[graft.functions.PlaneHash]] (the
    * modular-squaring middle step decorrelates consecutive ids), every
    * intermediate BIGINT-safe so DuckDB mirrors it exactly. Seeding by
    * the k LOWEST hash values instead of the k lowest ids matters when
    * id correlates with content (an id-sorted corpus): first-N-by-id
    * seeds would all land in one content region and the quantizer
    * degenerates — hash-spread seeds are uniform over the corpus
    * regardless of id assignment, equally deterministic/mirrorable. */
  private def seedHash(id: Column): Column = {
    val m = graft.functions.PlaneHash.M
    // reduce id mod m BEFORE the multiply: (m-1)*2654435761 ≈ 5.7e18
    // fits signed 64-bit, whereas raw id*2654435761 overflows for
    // id ≳ 3.4e9 (ANSI throw / non-ANSI wrap vs DuckDB range error)
    val h1 = id % m * 2654435761L % m
    h1 * h1 % m * 2246822519L % m
  }

  /** DuckDB mirror of [[seedHash]]. */
  def seedHashSql(id: String): String = {
    val m = graft.functions.PlaneHash.M
    val h1 = s"((($id)%$m)*2654435761)%$m"
    s"(($h1)*($h1))%$m*2246822519%$m"
  }

  /** Centroid assignment for [[ivfTopK]]: every corpus vector ranked by
    * exact fixed-point L2 to each of the `nCentroids` hash-spread seed
    * centroids. Returns (id, cid, crn, fx, nrm) with crn = 1 the owning
    * list. Exposed for list-balance inspection/specs.
    *
    * If the seed draw lands on two IDENTICAL corpus vectors (duplicates
    * exist in real corpora — that's what Dedup is for), every vector ties
    * them on d2 and the lower cid wins, so the higher-cid twin owns an
    * empty list. Harmless for recall (probes tie the same way); costs one
    * wasted centroid slot, which √n-scaled nCentroids absorbs.
    *
    * `nCentroids = 0` (the default) derives C = max(4, ⌈√n⌉) from one
    * count — the classic IVF sizing, so list size ≈ √n stays bounded as
    * the corpus grows instead of every list scaling with n∕16. */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 0): DataFrame = {
    val c = if (nCentroids > 0) nCentroids else autoCentroids(df.count())
    // fx feeds two consumers (centroid pick + scoring join). localCheckpoint
    // (not cache) so the corpus-wide fixed-point transform runs once AND the
    // blocks are reclaimed by the ContextCleaner when fx goes out of scope —
    // cache() entries live in the CacheManager until an explicit unpersist,
    // which no caller here is positioned to issue. LAZY, so building the
    // plan costs nothing until the caller executes it. Trade-off, noted:
    // checkpoint blocks are unreplicated, so losing an executor mid-query
    // fails the job (a retry recomputes from source) — acceptable for a
    // two-consumer scratch table; a multi-tenant deployment would persist
    // with MEMORY_AND_DISK_2 + managed unpersist instead.
    val fx = fixedPoint(df, idCol, vecCol).localCheckpoint(eager = false)
    rankByCentroids(fx, seedCentroids(fx, c))
  }

  /** The k lowest (seedHash, id) rows as centroids: TakeOrderedAndProject,
    * no full sort. */
  private def seedCentroids(fx: DataFrame, nCentroids: Int): DataFrame =
    fx.orderBy(seedHash(col("id")), col("id")).limit(nCentroids)
      .select(col("id").as("cid"), col("fx").as("cfx"), col("nrm").as("cnrm"))

  /** Every vector of `fx` ranked by exact fixed-point L2
    * (||x||² − 2·x·c + ||c||²) to each centroid: (id, cid, crn, fx, nrm),
    * crn = 1 the owning list. Broadcast of the tiny centroid set — one
    * corpus pass. */
  private def rankByCentroids(fx: DataFrame, cents: DataFrame): DataFrame = {
    // the dot products evaluate map-side in the projection; the ranking
    // window then shuffles ONLY (id, cid, d2) — carrying the 64-element
    // fx array through an n×C window shuffle multiplied the payload by
    // C (measured: 8.7s vs 1.1s at 8k vecs × 90 centroids). The vectors
    // re-attach by id afterwards, and every consumer filters crn first
    // (crn=1 owners, crn≤nprobe probes), so the filter pushes below the
    // re-attach join and the fat rows stay ~n, never n×C.
    val scored = fx.crossJoin(broadcast(cents))
      .select(col("id"), col("cid"),
        (col("nrm") - lit(2L) * graft.functions.HashExpressions.fixed_dot(col("fx"), col("cfx"))
          + col("cnrm")).as("d2"))
    val byDist = Window.partitionBy(col("id")).orderBy(col("d2"), col("cid"))
    scored
      .withColumn("crn", row_number().over(byDist))
      .join(fx, "id")
      .select(col("id"), col("cid"), col("crn"), col("d2"), col("fx"), col("nrm"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication via the cluster-then-prune recipe — cluster the
    * embeddings with the IVF coarse quantizer, then WITHIN each cluster
    * drop every vector that is ≥ `tau` cosine-similar to a cluster-mate
    * of higher keep-priority. Keep-priority follows the paper: members
    * far from their centroid survive first (order by exact fixed-point
    * L2 distance DESC, id to break ties), so each near-dup group keeps
    * its least-centroid-like exemplar.
    *
    * Scale design: this is exactly the trade SemDeDup exists to make —
    * the corpus NEVER self-joins pairwise; the only quadratic term is
    * within-cluster (an equi-join on the cluster id, Σ|c|² candidate
    * rows), and the cluster count scales with √n to keep lists ~√n:
    * `nCentroids = 0` (the default) derives C = max(4, ⌈√n⌉) from one
    * cheap count, so within-cluster candidate work stays ~n·√n instead
    * of n²∕C for a fixed C (the r10 form pinned C = 16, which at 100 TB
    * would leave ~n∕16-sized lists — quadratic in disguise).
    * Assignment is one broadcast-centroid pass; the drop set is a
    * left-anti join. Returns the surviving (id, cid). */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      tau: Double, nCentroids: Int = 0): DataFrame =
    semSurvivors(df, idCol, vecCol, tau, nCentroids)
      .select(col("id"), col("cid"))

  /** The SemDeDup survivor set WITH the centroid distance carried —
    * shared core of [[semDedup]] (which projects it away) and
    * [[d4Prune]] (which ranks on it). */
  private def semSurvivors(df: DataFrame, idCol: String, vecCol: String,
      tau: Double, nCentroids: Int): DataFrame = {
    val c = if (nCentroids > 0) nCentroids else autoCentroids(df.count())
    semPrune(ivfAssign(df, idCol, vecCol, c).filter(col("crn") === 1), tau)
  }

  /** [[semDedup]] with Lloyd-TRAINED clusters ([[kMeansAssign]]'s
    * quantizer instead of the seeded draw): trained centroids sit on
    * the data's mass, so cluster boundaries track real semantic
    * neighborhoods and fewer near-dup pairs straddle a boundary where
    * the within-cluster prune cannot see them — the cluster-quality →
    * dedup-recall coupling the SemDeDup paper gets from its k-means
    * step. Same prune, same scale shape (+iters training passes). */
  def semDedupTrained(df: DataFrame, idCol: String, vecCol: String,
      tau: Double, nCentroids: Int = 0, iters: Int = 2): DataFrame = {
    val c = if (nCentroids > 0) nCentroids else autoCentroids(df.count())
    val fx0 = fixedPoint(df, idCol, vecCol)
    val fx = fx0.localCheckpoint(eager = false)
    semPrune(rankByCentroids(fx, trainedCentroids(fx0, c, 64, iters))
        .filter(col("crn") === 1), tau)
      .select(col("id"), col("cid"))
  }

  /** The SemDeDup within-cluster prune over an owning-list membership
    * frame (id, cid, d2, fx, nrm): drop every member ≥ tau
    * cosine-similar to a higher-keep-priority cluster-mate (priority =
    * centroid distance DESC, id). Shared by the seeded and trained
    * cluster variants. */
  private def semPrune(membership: DataFrame, tau: Double): DataFrame = {
    // localCheckpoint (lazy), NOT cache: the ranked membership feeds
    // THREE consumers (both prune sides + the survivor anti-join), and
    // checkpoint blocks are reclaimed by the ContextCleaner when m goes
    // out of scope — cache() entries accumulate in the CacheManager
    // until an explicit unpersist that no caller here is positioned to
    // issue (same discipline and trade-offs as ivfAssign's fx).
    val m = membership
      .withColumn("r", row_number().over(
        Window.partitionBy(col("cid")).orderBy(col("d2").desc, col("id"))))
      .localCheckpoint(eager = false)
    val a = m.select(col("cid"), col("id").as("ia"), col("r").as("ra"),
      col("fx").as("fa"), col("nrm").as("na"))
    val b = m.select(col("cid"), col("id").as("ib"), col("r").as("rb"),
      col("fx").as("fb"), col("nrm").as("nb"))
    val dropped = a.join(b, Seq("cid"))
      .filter(col("ra") < col("rb") &&
        cosine(col("fa"), col("fb"), col("na"), col("nb")) >= tau)
      .select(col("ib").as("id")).distinct()
    m.join(dropped, Seq("id"), "left_anti")
      .select(col("id"), col("cid"), col("d2"))
  }

  /** D4 data selection (Tirumala et al. 2023, arXiv:2308.12284):
    * SemDeDup, then additionally prune the most PROTOTYPICAL points —
    * the paper's full recipe ("D4 = SemDeDup + SSL-prototypes"): after
    * the near-dup prune, each cluster drops its ⌈protoFrac·|c|⌉ members
    * CLOSEST to the centroid (the redundant "prototypes" that carry the
    * least marginal information) and keeps the diverse remainder.
    *
    * Scale design inherits [[semDedup]]'s: the only quadratic term is
    * within-cluster with √n-scaled cluster counts; the prototype prune
    * adds ONE window pair (rank + size) partitioned by cluster — lists
    * are ~√n so no partition outgrows an executor. Determinism: the
    * prototype rank orders by the exact fixed-point integer L2 (d2, id);
    * the cut ⌈protoFrac·|c|⌉ is one ceil of an exact small product.
    * Returns survivors as (id, cid, proto_rank). */
  def d4Prune(df: DataFrame, idCol: String, vecCol: String,
      tau: Double, protoFrac: Double, nCentroids: Int = 0): DataFrame = {
    require(protoFrac >= 0.0 && protoFrac < 1.0, s"protoFrac $protoFrac not in [0,1)")
    val surv = semSurvivors(df, idCol, vecCol, tau, nCentroids)
    val wp = Window.partitionBy(col("cid")).orderBy(col("d2"), col("id"))
    val wc = Window.partitionBy(col("cid"))
    surv.withColumn("pr", row_number().over(wp).cast("long"))
      .withColumn("csz", count(lit(1)).over(wc))
      .filter(col("pr") > ceil(lit(protoFrac) * col("csz")))
      .select(col("id"), col("cid"), col("pr").as("proto_rank"))
  }

  /** √n cluster-count rule for [[semDedup]]'s coarse quantizer: C =
    * max(4, ⌈√n⌉) keeps within-cluster lists ~√n, so the within-cluster
    * quadratic term totals ~n·√n — the same growth law as
    * [[graft.operators.Dedup]]'s autoTables ln-rule, derived from one
    * count instead of pinned at a constant. */
  def autoCentroids(n: Long): Int =
    math.max(4, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** Probe tail shared by the IVF variants: inverted lists from crn = 1,
    * nprobe nearest lists per query, exact-cosine top-k. */
  private def probeLists(ranked: DataFrame, isQuery: Column => Column,
      k: Int, nprobe: Int): DataFrame = {
    val lists = ranked.filter(col("crn") === 1)
      .select(col("cid"), col("id"), col("fx"), col("nrm"))
    val probes = ranked.filter(isQuery(col("id")) && col("crn") <= nprobe)
      .select(col("id").as("qid"), col("cid"), col("fx").as("fq"), col("nrm").as("nq"))
    val joined = broadcast(probes).join(lists, Seq("cid"))
      .filter(col("qid") =!= col("id"))
      .withColumn("cos", cosine(col("fq"), col("fx"), col("nq"), col("nrm")))
    // inverted lists are disjoint (each corpus vector lives in exactly one
    // list), so probing distinct lists can't duplicate a (qid, id) pair
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("id"))
    joined
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("id").as("vec_id"), col("cos"))
  }

  /** IVF with ONE Lloyd refinement round: seed centroids as [[ivfTopK]],
    * assign, then move each centroid to the element-wise INTEGER mean of
    * its list, re-assign the corpus to the refined centroids and probe as
    * usual — the classic quantizer-quality lever (centroids move to the
    * data's mass, lists tighten, so a probe needs fewer lists for the same
    * recall). Costs one extra corpus×C broadcast pass plus one C-sized
    * groupBy (64 per-dimension sums, map-side partials) per round.
    *
    * Exactness: the mean is TRUNC-toward-zero integer division (Spark
    * `div` == DuckDB `//`, verified both round −7/2 to −3), so refined
    * centroids stay in the 1e6 fixed-point domain and the oracle mirrors
    * every centroid element bit-for-bit — no FP k-means drift. A
    * duplicate-seed tie can leave a seed list empty; the refined
    * quantizer then has one fewer centroid, identically in both engines. */
  def ivfTopKRefined(df: DataFrame, idCol: String, vecCol: String,
      isQuery: Column => Column, k: Int,
      nCentroids: Int = 0, nprobe: Int = 2, dims: Int = 64): DataFrame = {
    val c = if (nCentroids > 0) nCentroids else autoCentroids(df.count())
    val fx = fixedPoint(df, idCol, vecCol).localCheckpoint(eager = false)
    val asg0 = rankByCentroids(fx, seedCentroids(fx, c))
      .filter(col("crn") === 1)
    val sumCols = (0 until dims).map(d => sum(element_at(col("fx"), d + 1)).as(s"__s$d"))
    val sums = asg0.groupBy(col("cid"))
      .agg(count(lit(1)).as("cnt"), sumCols: _*)
    val meanArr = array((0 until dims).map(d => expr(s"__s$d div cnt")): _*)
    val cents1 = sums.select(col("cid"), meanArr.as("cfx"))
      .withColumn("cnrm",
        graft.functions.HashExpressions.fixed_dot(col("cfx"), col("cfx")))
    // same crn ≤ nprobe slice as ivfTopK — never n×C fat rows
    val ranked = rankByCentroids(fx, cents1)
      .filter(col("crn") <= math.max(1, nprobe))
      .localCheckpoint(eager = false)
    probeLists(ranked, isQuery, k, nprobe)
  }

  /** [[ivfTopK]] with a MULTI-round Lloyd-trained coarse quantizer —
    * the generalization of [[ivfTopKRefined]] (whose single round is
    * exactly `iters = 1`: assign to the seeded draw, move to integer
    * means, re-assign — proven equal by spec). Training reuses
    * [[pqCodebookTrained]] with ONE subspace spanning the full vector,
    * so the coarse and product quantizers now share one Lloyd engine
    * and one oracle mirror ([[trainedCbCtes]]). Empty seed lists drop
    * out (the disclosed duplicate-seed convention); each round costs
    * one broadcast-centroid corpus pass + two combiner aggregates. */
  def ivfTopKTrained(df: DataFrame, idCol: String, vecCol: String,
      isQuery: Column => Column, k: Int, nCentroids: Int = 0,
      nprobe: Int = 2, iters: Int = 2, dims: Int = 64): DataFrame = {
    val c = if (nCentroids > 0) nCentroids else autoCentroids(df.count())
    val fx0 = fixedPoint(df, idCol, vecCol)
    val fx = fx0.localCheckpoint(eager = false)
    val cents = trainedCentroids(fx0, c, dims, iters)
    val ranked = rankByCentroids(fx, cents)
      .filter(col("crn") <= math.max(1, nprobe))
      .localCheckpoint(eager = false)
    probeLists(ranked, isQuery, k, nprobe)
  }

  /** Distributed Lloyd k-means as a first-class clustering operator —
    * the cluster step data curation reaches for directly (SemDeDup-style
    * cluster-then-prune, topic balancing, per-cluster sampling quotas),
    * not just as ANN plumbing: `iters` exact-integer Lloyd rounds from
    * the hash-spread seed draw, then one final assignment pass. Returns
    * (id, cid, d2) — every input row labeled with its owning centroid
    * and the exact BIGINT squared distance. Same determinism contract
    * as the quantizer family ((d2, cid) ties, trunc-division means),
    * same scale contract (broadcast centroids, combiner aggregates,
    * one corpus pass per round + one to assign). */
  def kMeansAssign(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 2, dims: Int = 64): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val fx0 = fixedPoint(df, idCol, vecCol)
    val fx = fx0.localCheckpoint(eager = false)
    rankByCentroids(fx, trainedCentroids(fx0, k, dims, iters))
      .filter(col("crn") === 1)
      .select(col("id"), col("cid"), col("d2"))
  }

  /** Per-cluster prototype selection over [[kMeansAssign]]'s labeling:
    * the `perCluster` MOST CENTRAL members of each trained cluster
    * ((d2, id) ties) — the coreset draw curation uses after clustering
    * (SemDeDup keeps one exemplar per semantic cluster; eval-probe and
    * seed-set construction keep a few). Returns (cid, rn, id, d2).
    *
    * Plan: the labeling's crn=1 filter pushes below the per-cluster
    * rank window, and the window partitions on cid — k partitions,
    * each list-sized; at corpus scale the per-cluster top-q is a
    * WindowGroupLimit (rank filter below the full sort), never a
    * global sort. */
  def kMeansPrototypes(df: DataFrame, idCol: String, vecCol: String,
      k: Int, perCluster: Int, iters: Int = 2, dims: Int = 64): DataFrame = {
    require(perCluster >= 1, s"perCluster must be positive: $perCluster")
    val w = Window.partitionBy(col("cid")).orderBy(col("d2"), col("id"))
    kMeansAssign(df, idCol, vecCol, k, iters, dims)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= perCluster)
      .select(col("cid"), col("rn"), col("id"), col("d2"))
  }

  /** WCSS elbow curve over candidate cluster counts — the k-selection
    * diagnostic a curator reads before committing a clustering (the
    * [[kCenter]] radius curve's k-means sibling): for each k in `ks`,
    * train `iters` Lloyd rounds and emit (k, n_clusters, wcss) where
    * wcss = Σ assignment d2 (exact BIGINT — the same quantity the
    * WCSS-descent spec tracks) and n_clusters counts the non-empty
    * trained clusters (duplicate seeds can drop below k). One training
    * + one assignment pass per candidate k over the SHARED checkpointed
    * fixed-point frame; |ks| is caller-bounded. */
  def kMeansWcss(df: DataFrame, idCol: String, vecCol: String,
      ks: Seq[Int], iters: Int = 2, dims: Int = 64): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"ks must be positive: $ks")
    val fx0 = fixedPoint(df, idCol, vecCol)
    val fx = fx0.localCheckpoint(eager = false)
    ks.map { k =>
      rankByCentroids(fx, trainedCentroids(fx0, k, dims, iters))
        .filter(col("crn") === 1)
        .agg(countDistinct(col("cid")).as("n_clusters"),
          sum(col("d2")).as("wcss"))
        .select(lit(k.toLong).as("k"), col("n_clusters"), col("wcss"))
    }.reduce(_ unionByName _)
  }

  /** [[pqCodebookTrained]] behind [[graft.core.Caches.memo]]: a trained
    * book (≤ M·K codeword rows) is an index artifact, trained once when a
    * consumer frame is CONSTRUCTED and re-issued as a local relation.
    * `fx0` must be the UNCHECKPOINTED fixed-point frame (a per-call
    * LogicalRDD in the plan would defeat the key). */
  private[graft] def pqCodebookTrainedShared(fx0: DataFrame,
      subspaces: Int, codebookK: Int, sub: Int, iters: Int): DataFrame =
    graft.core.Caches.memo(fx0, s"pqbook:$subspaces:$codebookK:$sub:$iters") {
      val b = pqCodebookTrained(fx0, subspaces, codebookK, sub, iters)
      fx0.sparkSession.createDataFrame(java.util.Arrays.asList(b.collect(): _*), b.schema)
    }

  /** Full-vector Lloyd-trained centroids in [[rankByCentroids]]' shape:
    * (cid, cfx, cnrm). One subspace = the whole vector. Trains through
    * [[pqCodebookTrainedShared]], so every consumer of the same
    * (source, k, dims, iters) book — the k=16 coarse books of
    * sim_ivf_trained / sim_ivf2_trained / sim_ivf2_pq_trained /
    * the elbow sweep, the k=8 books of the k-means family and the
    * streaming assigner — shares one training run per session. The
    * (cfx, cnrm) projection runs per consumer over the ≤ k-row local
    * relation (free). Callers pass the UNCHECKPOINTED fixed-point
    * frame (see [[pqCodebookTrainedShared]]). */
  private def trainedCentroids(fx: DataFrame, k: Int, dims: Int,
      iters: Int): DataFrame =
    pqCodebookTrainedShared(fx, 1, k, dims, iters)
      .select(col("cid"), col("cvec").as("cfx"))
      .withColumn("cnrm",
        graft.functions.HashExpressions.fixed_dot(col("cfx"), col("cfx")))

  /** IVF-flat ANN: coarse quantizer = `nCentroids` hash-spread seed
    * vectors (see [[seedHash]] — deterministic sampled seeding, the
    * kmeans++-seed step without Lloyd iterations, which keeps every
    * quantity integer-exact and oracle-mirrorable); every vector joins
    * the inverted list of its nearest centroid (exact fixed-point L2),
    * and a query probes the `nprobe` nearest centroid lists, ranked by
    * exact cosine.
    *
    * Plans: centroid assignment is a broadcast of the tiny centroid set
    * against the corpus (n×C rows, one pass); the search join is an
    * equi-join on the centroid id — candidates ∝ probed-list sizes,
    * never |corpus|². At 100 TB: C scales with √n (classic IVF sizing),
    * lists stay balanced because the seeds are a uniform draw over the
    * corpus (see IvfBalanceSpec for the id-correlated adversarial case). */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
      isQuery: Column => Column, k: Int,
      nCentroids: Int = 0, nprobe: Int = 2): DataFrame = {
    // nCentroids = 0 → C = max(4, ⌈√n⌉) (see ivfAssign): probed work per
    // query stays ≈ nprobe·√n instead of nprobe·n∕16 at 100 TB.
    // Materialize only the crn ≤ nprobe slice (owners crn=1 included) —
    // both probeLists consumers filter inside it, and materializing the
    // full n×C ranking stores C fat rows per vector for nothing
    // (measured: 6.5s → 1.5s at 8k vecs × 90 centroids). Lazy
    // localCheckpoint, not cache: probeLists' broadcast is an explicit
    // hint (no AQE decision reads this frame's stats), and checkpoint
    // blocks are ContextCleaner-reclaimed when `ranked` goes out of
    // scope — cache() entries would accumulate in the CacheManager
    // across calls in a long-lived session (see graft.core.Caches)
    val ranked = ivfAssign(df, idCol, vecCol, nCentroids)
      .filter(col("crn") <= math.max(1, nprobe))
      .localCheckpoint(eager = false)
    probeLists(ranked, isQuery, k, nprobe)
  }

  /** TWO-LEVEL IVF — the 100 TB form of the inverted-file index
    * (Babenko & Lempitsky 2012's inverted multi-index makes the same
    * move: split one flat quantizer so no single codebook scales with
    * the corpus). Single-level IVF with FIXED-SIZE lists needs
    * C = n∕L centroids, and [[rankByCentroids]] broadcasts all C of
    * them into a corpus-wide crossJoin — an n∕128-row broadcast table
    * at L = 128 that outgrows executor memory long before 100 TB.
    * Here the quantizer splits: `nCoarse` (√n-scaled, see
    * [[autoCentroids]]) coarse centroids are the ONLY broadcast table;
    * each coarse list then splits into `nSub` second-level sub-lists
    * whose sub-centroids are picked PER LIST (the [[seedHash]]-lowest
    * `nSub` members — the within-list form of [[seedCentroids]]'
    * draw), and second-level assignment is an EQUI-join on the coarse
    * id — shuffle-partitionable, never broadcast, never a crossJoin —
    * so total list count reaches nCoarse·nSub = n∕L while no broadcast
    * exceeds √n rows. A query ranks the broadcast coarse table, takes
    * `nprobe1` coarse lists, ranks ONLY those lists' sub-centroids
    * (equi-join on the coarse id again), and probes `nprobe2`
    * sub-lists per coarse list: candidates ≈ nprobe1·nprobe2·L,
    * fixed-list-bounded exactly like single-level fixed-C sizing but
    * with the broadcast √n-bounded.
    *
    * Determinism: both levels rank by exact fixed-point L2 with
    * (d2, cid) ties, final scoring is exact cosine — every quantity
    * BIGINT, so the DuckDB oracle mirrors the whole chain. With
    * `nSub = 1, nprobe2 = 1` each coarse list has exactly one
    * sub-centroid (all members assign to it, every probe picks it), so
    * the operator degenerates to [[ivfTopK]] row-for-row — the
    * differential spec. A coarse list always owns ≥ 1 sub-centroid
    * (its members seed them), so no vector is orphaned; duplicate-seed
    * ties follow the disclosed [[ivfAssign]] convention at both
    * levels. */
  def ivfTopK2(df: DataFrame, idCol: String, vecCol: String,
      isQuery: Column => Column, k: Int, nCoarse: Int = 0,
      nSub: Int = 4, nprobe1: Int = 2, nprobe2: Int = 2): DataFrame = {
    require(nSub >= 1, s"nSub must be positive: $nSub")
    val c1 = if (nCoarse > 0) nCoarse else autoCentroids(df.count())
    val fx = fixedPoint(df, idCol, vecCol).localCheckpoint(eager = false)
    val (lists, p2) =
      ivf2Candidates(fx, seedCentroids(fx, c1), isQuery, nSub, nprobe1, nprobe2)
    ivf2ExactTail(lists, p2, k)
  }

  /** [[ivfTopK2]] with a Lloyd-TRAINED coarse level (r16 verdict item 4):
    * the √n coarse book trains with `iters` exact-integer Lloyd rounds
    * ([[trainedCentroids]] — the same shared engine as
    * [[ivfTopKTrained]] and the PQ family, so the oracle mirrors it via
    * the one [[trainedCbCtes]] chain); level-2 seeding, assignment, and
    * the probe tail are unchanged. Trained coarse centroids sit on the
    * data's mass, so coarse lists tighten and a probe needs fewer
    * coarse lists for the same recall — the same lever SCALING.md
    * measured for the PQ codebook (+0.13–0.20 recall at equal probe
    * budget), now on the level that bounds the 100 TB broadcast.
    * Degenerates to [[ivfTopKTrained]] at `nSub = 1, nprobe2 = 1`
    * (the differential spec). */
  def ivfTopK2Trained(df: DataFrame, idCol: String, vecCol: String,
      isQuery: Column => Column, k: Int, nCoarse: Int = 0,
      nSub: Int = 4, nprobe1: Int = 2, nprobe2: Int = 2,
      iters: Int = 2, dims: Int = 64): DataFrame = {
    require(nSub >= 1, s"nSub must be positive: $nSub")
    val c1 = if (nCoarse > 0) nCoarse else autoCentroids(df.count())
    val fx0 = fixedPoint(df, idCol, vecCol)
    val fx = fx0.localCheckpoint(eager = false)
    val (lists, p2) = ivf2Candidates(fx, trainedCentroids(fx0, c1, dims, iters),
      isQuery, nSub, nprobe1, nprobe2)
    ivf2ExactTail(lists, p2, k)
  }

  /** IVF2-PQ (r16 verdict item 5) — the full 100 TB index shape:
    * [[ivfTopK2]]'s two-level probed lists bound WHICH vectors a query
    * touches (≈ nprobe1·nprobe2·L candidates, √n-bounded broadcast),
    * and [[pqTopKTrained]]'s Lloyd-trained ADC codes bound WHAT is read
    * per touched vector — M small table lookups instead of a dims-wide
    * exact dot. The coarse levels stay the seeded draw ON PURPOSE
    * (the [[ivfPqTopKTrained]] ablation discipline: any recall delta vs
    * [[ivfTopK2]] is attributable to quantization, and any cost delta
    * to the ADC swap). Every building block keeps the family's
    * exact-BIGINT determinism ((d2, cid) assignment ties, (adc, id)
    * ranking ties), so the DuckDB oracle replays the whole composition.
    * Degenerates to [[ivfPqTopKTrained]] at `nSub = 1, nprobe2 = 1`
    * with `nprobe1 = nprobe` (the differential spec): one sub-centroid
    * per coarse list makes the two-level lists the coarse lists.
    *
    * Scale: the two-level index is built in two corpus passes (√n
    * broadcast + cid1 equi-join), codes in one more (broadcast M·K
    * book); per query the ADC join touches only probed-sub-list
    * candidates and the (qid, m, code) table is broadcast-sized —
    * raw vectors are never revisited after indexing. */
  def ivf2PqTopK(df: DataFrame, idCol: String, vecCol: String,
      isQuery: Column => Column, k: Int, nCoarse: Int = 0,
      nSub: Int = 4, nprobe1: Int = 2, nprobe2: Int = 2,
      subspaces: Int = 4, codebookK: Int = 16, dims: Int = 64,
      iters: Int = 2): DataFrame = {
    require(nSub >= 1, s"nSub must be positive: $nSub")
    require(dims % subspaces == 0, s"dims $dims not divisible by $subspaces")
    val sub = dims / subspaces
    val c1 = if (nCoarse > 0) nCoarse else autoCentroids(df.count())
    val fx0 = fixedPoint(df, idCol, vecCol)
    val fx = fx0.localCheckpoint(eager = false)
    val (lists, p2) =
      ivf2Candidates(fx, seedCentroids(fx, c1), isQuery, nSub, nprobe1, nprobe2)
    val cb = pqCodebookTrainedShared(fx0, subspaces, codebookK, sub, iters)
    ivf2PqAdcTail(fx, cb, lists, p2, isQuery, k, sub)
  }

  /** [[ivf2PqTopK]] with the coarse book Lloyd-TRAINED as well — BOTH
    * quantizers of the 100 TB index on the data's mass: the √n coarse
    * book trains with `coarseIters` exact-integer rounds
    * ([[trainedCentroids]], the [[ivfTopK2Trained]] move — tighter
    * coarse lists, fewer probes for equal recall on the level that
    * bounds the broadcast) and the PQ book trains with `iters` rounds
    * ([[pqCodebookTrained]] — smaller per-subspace quantization error,
    * SCALING.md's recall lever). Lists/probes and the ADC tail are the
    * shared [[ivf2Candidates]]/[[ivf2PqAdcTail]] cores, so by
    * construction: candidate sets equal [[ivfTopK2Trained]]'s at the
    * same probe budget, and ADC values for any (qid, id) pair equal
    * [[pqTopKTrained]]'s (the two differential specs). Exact-BIGINT
    * end-to-end; the oracle replays both Lloyd chains (coarse chain
    * CTE-prefixed to coexist with the PQ chain). */
  def ivf2PqTopKTrained(df: DataFrame, idCol: String, vecCol: String,
      isQuery: Column => Column, k: Int, nCoarse: Int = 0,
      nSub: Int = 4, nprobe1: Int = 2, nprobe2: Int = 2,
      subspaces: Int = 4, codebookK: Int = 16, dims: Int = 64,
      iters: Int = 2, coarseIters: Int = 2): DataFrame = {
    require(nSub >= 1, s"nSub must be positive: $nSub")
    require(dims % subspaces == 0, s"dims $dims not divisible by $subspaces")
    val sub = dims / subspaces
    val c1 = if (nCoarse > 0) nCoarse else autoCentroids(df.count())
    val fx0 = fixedPoint(df, idCol, vecCol)
    val fx = fx0.localCheckpoint(eager = false)
    val (lists, p2) = ivf2Candidates(fx,
      trainedCentroids(fx0, c1, dims, coarseIters), isQuery, nSub, nprobe1,
      nprobe2)
    val cb = pqCodebookTrainedShared(fx0, subspaces, codebookK, sub, iters)
    ivf2PqAdcTail(fx, cb, lists, p2, isQuery, k, sub)
  }

  /** Trained-PQ ADC scoring over [[ivf2Candidates]]' probed sub-lists —
    * the tail shared by [[ivf2PqTopK]] (seeded coarse) and
    * [[ivf2PqTopKTrained]] (trained coarse): candidates from the
    * (cid1, cid2) list join, per-candidate cost M (qid, m, code) table
    * lookups, raw vectors never revisited. */
  private def ivf2PqAdcTail(fx: DataFrame, cb: DataFrame, lists: DataFrame,
      p2: DataFrame, isQuery: Column => Column, k: Int,
      sub: Int): DataFrame = {
    // the trained book arrives as the memoized collected artifact
    // (pqCodebookTrainedShared) — a local relation both consumers
    // (codes + query ADC tables) read for free, so the former
    // localCheckpoint-the-book discipline is moot here
    val codes = pqCodes(fx, cb, sub)
      .select(col("id"), col("m"), col("cid").as("code"))
    val qd = pqAdcTable(fx, isQuery, cb, sub)
      .select(col("qid"), col("m"), col("cid").as("code"), col("qd2"))
    val cand = broadcast(p2.select("qid", "cid1", "cid2"))
      .join(lists.select("cid1", "cid2", "id"), Seq("cid1", "cid2"))
      .filter(col("qid") =!= col("id")).select("qid", "id")
    val adc = cand.join(codes, Seq("id"))
      .join(broadcast(qd), Seq("qid", "m", "code"))
      .groupBy("qid", "id").agg(sum(col("qd2")).as("adc"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("id"))
    adc.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("id").as("vec_id"), col("adc"))
  }

  /** Two-level index build + probe shared by the seeded
    * ([[ivfTopK2]], [[ivf2PqTopK]]) and trained ([[ivfTopK2Trained]])
    * variants: `cents1` is the √n coarse book in [[rankByCentroids]]'
    * (cid, cfx, cnrm) shape. Returns (lists, p2): the sub-list
    * membership (cid1, cid2, id, fx, nrm) and each query's probed
    * sub-lists (qid, cid1, cid2, fq, nq). */
  private def ivf2Candidates(fx: DataFrame, cents1: DataFrame,
      isQuery: Column => Column, nSub: Int, nprobe1: Int,
      nprobe2: Int): (DataFrame, DataFrame) = {
    // level 1: the ONLY corpus-wide broadcast (c1 ≈ √n rows); keep just
    // the crn ≤ nprobe1 slice (owners included), lazily checkpointed —
    // it feeds three consumers (owners → level-2 build, owners → lists,
    // queries → probes) and ContextCleaner reclaims the blocks
    val r1 = rankByCentroids(fx, cents1)
      .filter(col("crn") <= math.max(1, nprobe1))
      .localCheckpoint(eager = false)
    val own1 = r1.filter(col("crn") === 1)
      .select(col("id"), col("cid").as("cid1"), col("fx"), col("nrm"))
    // level-2 sub-centroids: per coarse list, the nSub seedHash-lowest
    // members — a per-list window (each partition is one ~L-sized list)
    val wSeed = Window.partitionBy(col("cid1"))
      .orderBy(seedHash(col("id")), col("id"))
    val cents2 = own1.withColumn("__srn", row_number().over(wSeed))
      .filter(col("__srn") <= nSub)
      .select(col("cid1"), col("id").as("cid2"),
        col("fx").as("cfx"), col("nrm").as("cnrm"))
    // level-2 assignment: EQUI-join on cid1 (the scale point — the
    // nCoarse·nSub-row table shuffles, it is never broadcast); the
    // scored frame carries only (id, cid1, cid2, d2) through the
    // arg-min window — rankByCentroids' skinny-shuffle discipline
    val sc2 = own1.join(cents2, Seq("cid1"))
      .select(col("id"), col("cid1"), col("cid2"),
        (col("nrm") - lit(2L) * graft.functions.HashExpressions
          .fixed_dot(col("fx"), col("cfx")) + col("cnrm")).as("d2"))
    val w2 = Window.partitionBy(col("id")).orderBy(col("d2"), col("cid2"))
    val own2 = sc2.withColumn("__rn", row_number().over(w2))
      .filter(col("__rn") === 1)
      .select(col("id"), col("cid1"), col("cid2"))
    val lists = own2.join(fx, Seq("id"))
      .select(col("cid1"), col("cid2"), col("id"), col("fx"), col("nrm"))
    // query side: nprobe1 coarse lists from the level-1 ranking, then
    // nprobe2 sub-lists per probed coarse list (equi-join on cid1 —
    // each query row meets only its probed lists' ≤ nSub sub-centroids)
    val p1 = r1.filter(isQuery(col("id")))
      .select(col("id").as("qid"), col("cid").as("cid1"),
        col("fx").as("fq"), col("nrm").as("nq"))
    val wq = Window.partitionBy(col("qid"), col("cid1"))
      .orderBy(col("d2"), col("cid2"))
    val p2 = p1.join(cents2, Seq("cid1"))
      .withColumn("d2", col("nq") - lit(2L) * graft.functions.HashExpressions
        .fixed_dot(col("fq"), col("cfx")) + col("cnrm"))
      .withColumn("__srn", row_number().over(wq))
      .filter(col("__srn") <= nprobe2)
      .select(col("qid"), col("cid1"), col("cid2"), col("fq"), col("nq"))
    (lists, p2)
  }

  /** Exact-cosine scoring tail over [[ivf2Candidates]]' probed
    * sub-lists. Sub-lists are disjoint (each vector owns exactly one
    * (cid1, cid2)), so probing distinct sub-lists can't duplicate a
    * (qid, id) pair. */
  private def ivf2ExactTail(lists: DataFrame, p2: DataFrame,
      k: Int): DataFrame = {
    val joined = broadcast(p2).join(lists, Seq("cid1", "cid2"))
      .filter(col("qid") =!= col("id"))
      .withColumn("cos", cosine(col("fq"), col("fx"), col("nq"), col("nrm")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("id"))
    joined
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("id").as("vec_id"), col("cos"))
  }

  /** Symmetric int8 quantization (the standard embedding-compression
    * step before indexing): qᵈ = round(xᵈ·127 ∕ max|x|), per vector, in
    * PURE integer arithmetic over the fixed-point values — nearest with
    * half-away-from-zero is (|fx|·254 + m) DIV (2m) on non-negative
    * operands (trunc = floor there, so Spark DIV and DuckDB // agree),
    * re-signed. Zero vectors quantize to zeros. Emitted exploded as
    * (id, d, q) scalar rows; one projection pass, no shuffle. */
  /** Margin-criterion pair mining (Artetxe & Schwenk 2019, "Margin-based
    * Parallel Corpus Mining with Multilingual Sentence Embeddings" — the
    * CCMatrix/LASER recipe that mined the largest public parallel
    * corpora): a candidate pair (x, y) across two sides is accepted not
    * on raw cosine but on its RATIO margin — cosine divided by the mean
    * of the two local neighborhood averages — which cancels the hubness
    * that makes absolute-threshold mining pick the same "hub" vectors
    * for everything. For each left vector this emits its best right
    * match with margin ≥ `tau`:
    *
    *   margin(x,y) = cos(x,y) ∕ ( (avgₖ(x→B) + avgₖ(y→A)) ∕ 2 )
    *
    * Determinism across engines: cosines are integerized to micro-units
    * first (one round of an identical double), neighborhood sums are
    * then EXACT BIGINT sums (order-free — never a cross-engine
    * float-accumulation), and the margin is ONE double division of
    * exact integers: margin = 2·k_a·k_b·c ∕ (s_a·k_b + s_b·k_a), with
    * k_a/k_b the actual neighborhood sizes (≤ k when a side is small).
    *
    * Scale: the pair generator here is the broadcast-smaller-side brute
    * form — the DISCLOSED oracle-exact configuration (same status as
    * [[bruteForceTopK]]); at corpus scale swap the generator for IVF
    * probe candidates ([[ivfTopKRefined]]'s lists) and the margin
    * algebra is unchanged — neighborhoods then come from candidate
    * lists, the published approximation. The ranked pair frame feeds
    * three consumers (two neighborhood sums + best-match pick), so it
    * is lazily localCheckpoint'ed like [[ivfAssign]]'s fx. */
  def marginMining(df: DataFrame, idCol: String, vecCol: String,
      isLeft: Column => Column, k: Int, tau: Double): DataFrame = {
    require(k >= 1, "k must be positive")
    val fx = fixedPoint(df, idCol, vecCol).localCheckpoint(eager = false)
    val a = fx.filter(isLeft(col("id")))
      .select(col("id").as("aid"), col("fx").as("fa"), col("nrm").as("na"))
    val b = fx.filter(!isLeft(col("id")))
      .select(col("id").as("bid"), col("fx").as("fb"), col("nrm").as("nb"))
    val pairs = broadcast(a).crossJoin(b)
      .select(col("aid"), col("bid"),
        round(lit(1e6) * cosine(col("fa"), col("fb"), col("na"), col("nb")))
          .cast("long").as("c"))
    val wa = Window.partitionBy(col("aid")).orderBy(col("c").desc, col("bid"))
    val wb = Window.partitionBy(col("bid")).orderBy(col("c").desc, col("aid"))
    val ranked = pairs
      .withColumn("ra", row_number().over(wa))
      .withColumn("rb", row_number().over(wb))
      .localCheckpoint(eager = false)
    val sa = ranked.filter(col("ra") <= k)
      .groupBy("aid").agg(sum(col("c")).as("sa"), count(lit(1)).as("ka"))
    val sb = ranked.filter(col("rb") <= k)
      .groupBy("bid").agg(sum(col("c")).as("sb"), count(lit(1)).as("kb"))
    ranked.filter(col("ra") === 1)
      .join(sa, "aid").join(sb, "bid")
      .withColumn("margin",
        (col("c") * 2L * col("ka") * col("kb")).cast("double")
          / (col("sa") * col("kb") + col("sb") * col("ka")).cast("double"))
      .filter(col("margin") >= tau)
      .select(col("aid").as("qid"), col("bid").as("vec_id"),
        col("c").as("cos_micro"), col("margin"))
  }

  /** [[marginMining]] with the IVF candidate generator the brute form's
    * scaladoc promised (r16 verdict item 6) — the corpus-scale wiring:
    * both sides rank the shared √n-bounded seeded coarse quantizer
    * ([[ivfAssign]]'s book), each vector probes its `nprobe` nearest
    * lists, and a cross-side pair is a candidate iff the two probe
    * sets intersect — one EQUI-join on the centroid id (candidates
    * ∝ per-list |A-probes|·|B-probes|, never |A|·|B|), deduplicated
    * per pair. Neighborhood averages then come from the CANDIDATE
    * lists (the published CCMatrix approximation: Artetxe & Schwenk
    * 2019 compute avgₖ over the ANN-retrieved neighborhoods, not the
    * full cross product); the margin algebra — micro-integer cosines,
    * exact BIGINT neighborhood sums with actual sizes k_a/k_b, one
    * double division — is byte-identical to [[marginMining]], so the
    * DuckDB oracle replays candidates AND margins bit-for-bit.
    * MarginIvfRecallSpec measures pair recall vs the brute form. */
  def marginMiningIvf(df: DataFrame, idCol: String, vecCol: String,
      isLeft: Column => Column, k: Int, tau: Double,
      nCentroids: Int = 0, nprobe: Int = 2): DataFrame = {
    require(k >= 1, "k must be positive")
    val fx = fixedPoint(df, idCol, vecCol).localCheckpoint(eager = false)
    val c = if (nCentroids > 0) nCentroids else autoCentroids(df.count())
    // crn ≤ nprobe memberships, checkpointed once for both sides
    val ranked = rankByCentroids(fx, seedCentroids(fx, c))
      .filter(col("crn") <= math.max(1, nprobe))
      .localCheckpoint(eager = false)
    val pa = ranked.filter(isLeft(col("id")))
      .select(col("id").as("aid"), col("cid"))
    val pb = ranked.filter(!isLeft(col("id")))
      .select(col("id").as("bid"), col("cid"))
    // probe-set intersection as one equi-join; distinct() dedups pairs
    // that co-probe several lists (each pair scores once, as in brute)
    val candPairs = pa.join(pb, Seq("cid")).select("aid", "bid").distinct()
    val a = fx.filter(isLeft(col("id")))
      .select(col("id").as("aid"), col("fx").as("fa"), col("nrm").as("na"))
    val b = fx.filter(!isLeft(col("id")))
      .select(col("id").as("bid"), col("fx").as("fb"), col("nrm").as("nb"))
    val pairs = candPairs.join(a, Seq("aid")).join(b, Seq("bid"))
      .select(col("aid"), col("bid"),
        round(lit(1e6) * cosine(col("fa"), col("fb"), col("na"), col("nb")))
          .cast("long").as("c"))
    // identical tail to marginMining: ranked pair frame feeds three
    // consumers (two neighborhood sums + the best-match pick)
    val wa = Window.partitionBy(col("aid")).orderBy(col("c").desc, col("bid"))
    val wb = Window.partitionBy(col("bid")).orderBy(col("c").desc, col("aid"))
    val rankedPairs = pairs
      .withColumn("ra", row_number().over(wa))
      .withColumn("rb", row_number().over(wb))
      .localCheckpoint(eager = false)
    val sa = rankedPairs.filter(col("ra") <= k)
      .groupBy("aid").agg(sum(col("c")).as("sa"), count(lit(1)).as("ka"))
    val sb = rankedPairs.filter(col("rb") <= k)
      .groupBy("bid").agg(sum(col("c")).as("sb"), count(lit(1)).as("kb"))
    rankedPairs.filter(col("ra") === 1)
      .join(sa, "aid").join(sb, "bid")
      .withColumn("margin",
        (col("c") * 2L * col("ka") * col("kb")).cast("double")
          / (col("sa") * col("kb") + col("sb") * col("ka")).cast("double"))
      .filter(col("margin") >= tau)
      .select(col("aid").as("qid"), col("bid").as("vec_id"),
        col("c").as("cos_micro"), col("margin"))
  }

  /** Hard-negative mining — the contrastive-training data step (DPR,
    * Karpukhin et al. 2020 §4.2; SimCSE; every dense-retriever recipe):
    * for each query vector, the k most-similar corpus vectors whose
    * label DIFFERS from the query's — near-misses that teach the encoder
    * a boundary, where random negatives teach nothing. Same plan contract
    * as [[bruteForceTopK]] (query side broadcast, exact cosine, window
    * top-k — the DISCLOSED oracle-exact pair generator; at corpus scale
    * the candidates come from IVF probe lists instead and the label
    * filter is unchanged). Emits (qid, rn, vec_id, neg_label, cos). */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, isQuery: Column => Column, k: Int): DataFrame = {
    val fx = fixedPoint(df, idCol, vecCol)
      .join(df.select(col(idCol).as("id"), col(labelCol).as("lab")), "id")
    val q = fx.filter(isQuery(col("id")))
      .select(col("id").as("qid"), col("fx").as("fq"), col("nrm").as("nq"),
        col("lab").as("qlab"))
    val joined = broadcast(q).crossJoin(fx)
      .filter(col("qid") =!= col("id") && col("lab") =!= col("qlab"))
      .withColumn("cos", cosine(col("fq"), col("fx"), col("nq"), col("nrm")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("id"))
    joined.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("id").as("vec_id"),
        col("lab").as("neg_label"), col("cos"))
  }

  /** kNN label-noise audit — the embedding-space mislabel detector
    * (the Confident-Learning / deep-kNN family: a vector whose nearest
    * neighbors overwhelmingly carry a DIFFERENT label is a labeling
    * error candidate): for every vector, the fraction of its ≤ k
    * nearest LSH-bucket-mates that disagree with its label. Bucketed on
    * purpose — this audits EVERY row, so the brute n² frame is not an
    * option; the hyperplane-LSH equi-join is the scale path (same
    * candidate generator as [[bucketedTopK]]) and vectors alone in
    * their bucket report n_nb = 0 rather than dropping out. Emits
    * (id, label, n_nb, n_same, mismatch_frac).
    *
    * One bucket equi-join (never a cross join), one window over the
    * per-id candidates, one agg; the bucketed frame feeds both sides of
    * the join behind a lazy localCheckpoint ([[ivfAssign]] discipline). */
  def labelNoise(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val b = hyperplaneBuckets(df, idCol, vecCol)
      .join(df.select(col(idCol).as("id"), col(labelCol).as("lab")), "id")
      .localCheckpoint(eager = false)
    val cand = b.select(col("bucket"), col("id"), col("fx"), col("nrm"), col("lab"))
      .join(b.select(col("bucket"), col("id").as("id2"), col("fx").as("fx2"),
        col("nrm").as("nrm2"), col("lab").as("lab2")), Seq("bucket"))
      .filter(col("id") =!= col("id2"))
      .withColumn("cos", cosine(col("fx"), col("fx2"), col("nrm"), col("nrm2")))
    val w = Window.partitionBy(col("id")).orderBy(col("cos").desc, col("id2"))
    val nn = cand.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy("id").agg(
        count(lit(1)).as("n_nb"),
        sum(when(col("lab2") === col("lab"), 1L).otherwise(0L)).as("n_same"))
    b.select(col("id"), col("lab").as("label"))
      .join(nn, Seq("id"), "left")
      .select(col("id"), col("label"),
        coalesce(col("n_nb"), lit(0L)).as("n_nb"),
        coalesce(col("n_same"), lit(0L)).as("n_same"),
        when(coalesce(col("n_nb"), lit(0L)) > 0,
          (coalesce(col("n_nb"), lit(0L)) - coalesce(col("n_same"), lit(0L)))
            / coalesce(col("n_nb"), lit(1L)))
          .otherwise(lit(0.0)).as("mismatch_frac"))
  }

  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    fixedPoint(df, idCol, vecCol)
      // max|fx| as greatest(max, −min): same value as the HOF
      // array_max(transform(fx, abs)) but both array extrema are native
      // codegen'd loops (ArrayTransform never codegens). |fx| ≤ ~1e7,
      // so the negation can't overflow.
      .select(col("id"),
        greatest(array_max(col("fx")), -array_min(col("fx"))).as("m"),
        posexplode(col("fx")).as(Seq("d", "x")))
      .select(col("id"), col("d").cast("long").as("d"),
        expr("""CASE WHEN m = 0 THEN CAST(0 AS BIGINT)
               |  WHEN x >= 0 THEN (x*254 + m) DIV (2*m)
               |  ELSE -((-x*254 + m) DIV (2*m)) END""".stripMargin).as("q"))

  /** L2 normalization (unit vectors — the standard pre-cosine-index
    * step): xₙ = fx ∕ √Σfx² over the fixed-point values; the micro scale
    * cancels, the integer norm is exact, and the per-component IEEE
    * division is identical cross-engine. Zero vectors yield nulls (no
    * direction to keep). Exploded (id, d, xn); one projection pass. */
  def normalizeL2(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    fixedPoint(df, idCol, vecCol)
      .select(col("id"), col("nrm"), posexplode(col("fx")).as(Seq("d", "x")))
      .select(col("id"), col("d").cast("long").as("d"),
        when(col("nrm") > 0,
          col("x").cast("double") / sqrt(col("nrm").cast("double"))).as("xn"))

  // ---- DuckDB SQL mirrors ----

  /** SQL: fixed-point vector + norm from an embedding list column. */
  def fixedPointSql(vec: String): String =
    s"list_transform($vec::DOUBLE[], x -> CAST(round(x*1000000) AS BIGINT))"

  val nrmSql: String = "CAST(list_sum(list_transform(fx, x -> x*x)) AS BIGINT)"

  def cosineSql(fa: String, fb: String, na: String, nb: String): String =
    s"CAST(list_sum(list_transform(generate_series(1,64), i -> $fa[i]*$fb[i])) AS BIGINT)" +
      s" / sqrt(CAST($na AS DOUBLE)*CAST($nb AS DOUBLE))"

  /** Greedy k-center / farthest-point selection (Gonzalez 1985) — the
    * diversity-coreset draw data-curation uses to pick maximally-spread
    * exemplars (seed centroids, eval probes, the diversity complement
    * of [[d4Prune]]'s redundancy cut): start from the minimum id, then
    * k−1 times add the point FARTHEST (max over points of the min
    * squared distance to the chosen set — the classic 2-approximation
    * of the optimal k-center cover). Emits (round, id, d2) where d2 is
    * the selection-time coverage gap (non-increasing in round — the
    * radius curve a curator reads to choose k); the seed reports −1.
    *
    * Determinism: distances are exact BIGINT sums of squared
    * fixed-point differences (zip_with + aggregate, codegen'd), ties
    * break (d2 DESC, id) — bit-identical to the oracle's unrolled
    * round CTEs.
    *
    * Scale: k bounded driver rounds (the BPE/temperature model-fit
    * discipline — k·1-row collects, never a corpus collect); each round
    * is one scan with the chosen vectors as plan literals and a 1-row
    * TakeOrdered (no global sort); the fixed-point frame sits behind a
    * lazy localCheckpoint so the k scans reuse one materialization. */
  def kCenter(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val spark = df.sparkSession
    val fx = fixedPoint(df, idCol, vecCol).select("id", "fx")
      .localCheckpoint(eager = false)
    def d2To(vec: Seq[Long]): Column =
      aggregate(
        zip_with(col("fx"), array(vec.map(lit): _*), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v)
    val seedRows = fx.orderBy("id").limit(1).collect()
    require(seedRows.nonEmpty, "kCenter needs a non-empty input")
    val seed = seedRows(0)
    var chosen = Vector[Seq[Long]](seed.getSeq[Long](1))
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)](
      (1L, seed.getLong(0), -1L))
    var r = 2
    var exhausted = false
    while (r <= k && !exhausted) {
      val minD = chosen.map(d2To).reduce(least(_, _))
      val next = fx.select(col("id"), col("fx"), minD.as("d2"))
        .filter(col("d2") > 0)             // already-chosen points re-rank at 0
        .orderBy(col("d2").desc, col("id")).limit(1).collect()
      if (next.isEmpty) exhausted = true
      else {
        chosen :+= next(0).getSeq[Long](1)
        out += ((r.toLong, next(0).getLong(0), next(0).getLong(2)))
        r += 1
      }
    }
    import spark.implicits._
    out.toSeq.toDF("round", "id", "d2")
  }

  /** Product-quantization ANN (Jégou, Douze & Schmid 2011, "Product
    * Quantization for Nearest Neighbor Search") — the memory-side of
    * the classic ANN stack this library already carries (LSH buckets,
    * IVF lists): vectors compress to M sub-space code IDs (here 4×16
    * dims, K codes each → 4 small ints per vector instead of 64
    * floats), and query distance is ADC — the sum of the query's exact
    * per-subspace distances to each assigned codeword, read from a
    * (M·K)-entry table instead of touching the vector.
    *
    * Determinism discipline: codewords are the `codebookK` lowest
    * (seedHash, id) corpus vectors' subvectors (the [[ivfTopK]] seeding
    * rule — no iterative k-means, so both engines derive the identical
    * codebook), every distance is an exact BIGINT fixed-point subvector
    * L2, assignment ties break on the lower codeword id and ranking
    * ties on the lower vector id. ADC is therefore bit-reproducible and
    * the DuckDB mirror replays it verbatim.
    *
    * Scale: encoding is one corpus pass against a broadcast codebook
    * (M·K rows); the ranking window shuffles only (id, m, cid, d2)
    * skinny rows — the PQ promise that the 100 TB corpus is visited
    * once to encode and never again per query. The ADC join is
    * (qid, m, cid)-keyed against the broadcast query table; accuracy is
    * approximate BY DESIGN (quantization error) — pair with
    * [[bruteForceTopK]] ground truth via a recall query to tune M/K. */
  def pqTopK(df: DataFrame, idCol: String, vecCol: String,
      isQuery: Column => Column, k: Int, subspaces: Int = 4,
      codebookK: Int = 16, dims: Int = 64): DataFrame = {
    require(dims % subspaces == 0, s"dims $dims not divisible by $subspaces")
    val sub = dims / subspaces
    val fx = fixedPoint(df, idCol, vecCol).localCheckpoint(eager = false)
    val cb = pqCodebook(fx, subspaces, codebookK, sub)
    pqAdcTopK(fx, cb, sub, isQuery, k)
  }

  /** Flat PQ-ADC search tail shared by the seeded and trained codebook
    * variants: encode the corpus, build the query ADC tables, rank by
    * summed subspace distances ((adc, id) ties). */
  private def pqAdcTopK(fx: DataFrame, cb: DataFrame, sub: Int,
      isQuery: Column => Column, k: Int): DataFrame = {
    val codes = pqCodes(fx, cb, sub)
    val qd = pqAdcTable(fx, isQuery, cb, sub)
    val adc = codes.join(broadcast(qd), Seq("m", "cid"))
      .filter(col("id") =!= col("qid"))
      .groupBy("qid", "id").agg(sum(col("qd2")).as("adc"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("id"))
    adc.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("id").as("vec_id"), col("adc"))
  }

  /** Lloyd-trained PQ codebook (Jégou et al. 2011 train their codebooks
    * with k-means; [[pqCodebook]]'s seeded draw is the iteration-zero
    * special case): starting from the seeded codewords, run `iters`
    * Lloyd rounds PER SUBSPACE — assign every subvector to its nearest
    * codeword (exact BIGINT L2, (d2, cid) ties), then move each codeword
    * to the element-wise integer mean of its members. All `subspaces`
    * codebooks train simultaneously: `m` rides along as a grouping key,
    * so a round is ONE corpus pass (n·M·K skinny scored rows against
    * the broadcast (M·K)-row codebook), one (id, m) arg-min aggregate,
    * one re-attach join, and one (m, cid)-keyed mean aggregate with
    * map-side partials — no per-cluster jobs, no driver loop over k.
    *
    * Exactness: the mean is [[ivfTopKRefined]]'s TRUNC-toward-zero
    * integer division (Spark `div` == DuckDB `//`), so trained codewords
    * stay in the 1e6 fixed-point domain and [[trainedCbCtes]] mirrors
    * every element bit-for-bit. The arg-min is min(struct(d2, cid)) —
    * lexicographic struct ordering = the (d2, cid) window tie-break.
    * It compiles to a partial+final SortAggregate (struct min-buffers
    * aren't hash-aggregable), which keeps the map-side combine: the
    * shuffle carries one row per (id, m) group, never the n·M·K scored
    * rows a rank window would move. (The hash-friendly alternatives
    * lose: packing (d2, cid) into one BIGINT overflows on
    * data-dependent d2 ranges; min_by ties are nondeterministic — not
    * oracle-safe.) A codeword that
    * loses all members drops out of the refined book (the disclosed
    * [[ivfTopKRefined]] empty-list convention, identical both engines).
    *
    * Scale: iters·(2 shuffles + 1 broadcast pass); the scored frame
    * never carries subvectors (they re-attach by (id, m) after the
    * arg-min — the [[rankByCentroids]] skinny-shuffle discipline). */
  private[graft] def pqCodebookTrained(fx: DataFrame, subspaces: Int,
      codebookK: Int, sub: Int, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be positive: $iters")
    val sv = fx.crossJoin(fx.sparkSession.range(subspaces)
        .select(col("id").cast("int").as("m")))
      .select(col("id"), col("m"),
        expr(s"slice(fx, m * $sub + 1, $sub)").as("svec"))
      .localCheckpoint(eager = false)
    var cb = pqCodebook(fx, subspaces, codebookK, sub)
    for (_ <- 1 to iters) {
      val scored = sv.join(broadcast(cb), Seq("m"))
        .select(col("id"), col("m"), col("cid"),
          pqSubD2(col("svec")).as("d2"))
      val asg = scored.groupBy(col("id"), col("m"))
        .agg(min(struct(col("d2"), col("cid"))).getField("cid").as("cid"))
        .join(sv, Seq("id", "m"))
      val sumCols = (0 until sub).map(d =>
        sum(element_at(col("svec"), d + 1)).as(s"__s$d"))
      val grouped = asg.groupBy(col("m"), col("cid"))
        .agg(count(lit(1)).as("cnt"), sumCols: _*)
      val meanArr = array((0 until sub).map(d => expr(s"__s$d div cnt")): _*)
      cb = grouped.select(col("m"), col("cid"), meanArr.as("cvec"))
    }
    cb
  }

  /** [[pqTopK]] with a Lloyd-trained codebook ([[pqCodebookTrained]],
    * `iters` rounds) — the production PQ recipe: training moves each
    * subspace's codewords to the data's mass, shrinking per-subspace
    * quantization error, which SCALING.md's recall grid identifies as
    * THE recall lever (M ≫ K ≫ nprobe once quantized). Search tail,
    * determinism discipline, and plan shape are identical to the seeded
    * variant; only the codebook differs. */
  def pqTopKTrained(df: DataFrame, idCol: String, vecCol: String,
      isQuery: Column => Column, k: Int, subspaces: Int = 4,
      codebookK: Int = 16, dims: Int = 64, iters: Int = 2): DataFrame = {
    require(dims % subspaces == 0, s"dims $dims not divisible by $subspaces")
    val sub = dims / subspaces
    val fx0 = fixedPoint(df, idCol, vecCol)
    val fx = fx0.localCheckpoint(eager = false)
    val cb = pqCodebookTrainedShared(fx0, subspaces, codebookK, sub, iters)
    pqAdcTopK(fx, cb, sub, isQuery, k)
  }

  /** IVF-PQ (Jégou et al. 2011 §IV) — THE production ANN architecture
    * at corpus scale: IVF probe lists bound WHICH vectors a query
    * touches (≈ nprobe·√n instead of n), PQ codes bound WHAT is read
    * per touched vector (M small ints instead of the raw vector). The
    * deterministic building blocks are exactly [[ivfTopK]]'s seeded
    * coarse quantizer and [[pqTopK]]'s seeded codebook + exact-BIGINT
    * ADC, so the composition stays bit-reproducible and oracle-exact.
    *
    * Plan shape: one corpus pass assigns lists (broadcast centroids),
    * one encodes codes (broadcast codebook); per query the candidate
    * set is the probe-list join and scoring is a broadcast (m, cid)
    * table lookup — the raw vectors are never revisited after indexing. */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
      isQuery: Column => Column, k: Int, nCentroids: Int = 16,
      nprobe: Int = 2, subspaces: Int = 4, codebookK: Int = 16,
      dims: Int = 64): DataFrame =
    ivfPqImpl(df, idCol, vecCol, isQuery, k, nCentroids, nprobe, subspaces,
      codebookK, dims, cbIters = 0)

  /** [[ivfPqTopK]] with a Lloyd-trained PQ codebook
    * ([[pqCodebookTrained]], `iters` rounds). The coarse quantizer stays
    * the seeded draw ON PURPOSE: SCALING.md's recall grid shows
    * quantization loss dominating coarse-quantizer loss entirely, so
    * training ONLY the codebook is the clean ablation — any recall lift
    * over [[ivfPqTopK]] is attributable to the codebook (pair with
    * [[ivfTopKRefined]] if the coarse side needs the same lever). */
  def ivfPqTopKTrained(df: DataFrame, idCol: String, vecCol: String,
      isQuery: Column => Column, k: Int, nCentroids: Int = 16,
      nprobe: Int = 2, subspaces: Int = 4, codebookK: Int = 16,
      dims: Int = 64, iters: Int = 2): DataFrame =
    ivfPqImpl(df, idCol, vecCol, isQuery, k, nCentroids, nprobe, subspaces,
      codebookK, dims, cbIters = iters)

  private def ivfPqImpl(df: DataFrame, idCol: String, vecCol: String,
      isQuery: Column => Column, k: Int, nCentroids: Int,
      nprobe: Int, subspaces: Int, codebookK: Int,
      dims: Int, cbIters: Int): DataFrame = {
    require(dims % subspaces == 0, s"dims $dims not divisible by $subspaces")
    val sub = dims / subspaces
    val ranked = ivfAssign(df, idCol, vecCol, nCentroids)
      .filter(col("crn") <= math.max(1, nprobe))
      .localCheckpoint(eager = false)
    val lists = ranked.filter(col("crn") === 1).select(col("cid"), col("id"))
    val probes = ranked.filter(isQuery(col("id")))
      .select(col("id").as("qid"), col("cid"))
    val fx0 = fixedPoint(df, idCol, vecCol)
    val fx = fx0.localCheckpoint(eager = false)
    val cb =
      if (cbIters > 0)
        pqCodebookTrainedShared(fx0, subspaces, codebookK, sub, cbIters)
      else pqCodebook(fx, subspaces, codebookK, sub)
    val codes = pqCodes(fx, cb, sub)
      .select(col("id"), col("m"), col("cid").as("code"))
    val qd = pqAdcTable(fx, isQuery, cb, sub)
      .select(col("qid"), col("m"), col("cid").as("code"), col("qd2"))
    val cand = broadcast(probes).join(lists, Seq("cid"))
      .filter(col("qid") =!= col("id")).select("qid", "id")
    val adc = cand.join(codes, Seq("id"))
      .join(broadcast(qd), Seq("qid", "m", "code"))
      .groupBy("qid", "id").agg(sum(col("qd2")).as("adc"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("id"))
    adc.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("id").as("vec_id"), col("adc"))
  }

  /** Residual IVF-PQ (Jégou et al. 2011 §IV.A, the ASYMMETRIC variant
    * production indexes actually ship): vectors encode their RESIDUAL
    * r = x − c(x) against the owning coarse centroid instead of the raw
    * vector. Residuals concentrate near the origin with most coarse
    * structure removed, so the same (M, K) codebook budget spends its
    * codewords on the fine detail that actually separates neighbors —
    * the recall lever that makes IVF-PQ competitive at production M/K.
    * The codebook Lloyd-trains on the residual cloud ([[pqCodebookTrained]],
    * `iters` rounds); per query the ADC table is computed PER PROBED
    * CENTROID from q − c (the asymmetric distance — nprobe·M·K rows per
    * query, still broadcast-sized), keyed (qid, pcid, m, code) so each
    * candidate scores against the table of the list it lives in.
    *
    * Exactness: residuals are BIGINT subtractions of fixed-point
    * values, so the whole chain (training, encoding, ADC) stays in the
    * exact-integer domain with the family's (d2, code) / (adc, id)
    * tie-breaks, and the oracle replays it via [[trainedCbCtes]]'
    * `src` parameter pointed at the residual CTE.
    *
    * Scale = [[ivfPqTopK]]'s: one assign pass, one residual projection
    * (zip_with, map-side), iters training passes, one encode pass;
    * the search join touches only probed-list candidates and the
    * query-side table grows nprobe-fold — still tiny. */
  def ivfPqResidualTopK(df: DataFrame, idCol: String, vecCol: String,
      isQuery: Column => Column, k: Int, nCentroids: Int = 16,
      nprobe: Int = 2, subspaces: Int = 4, codebookK: Int = 16,
      dims: Int = 64, iters: Int = 2): DataFrame = {
    require(dims % subspaces == 0, s"dims $dims not divisible by $subspaces")
    val sub = dims / subspaces
    val c = if (nCentroids > 0) nCentroids else autoCentroids(df.count())
    val fx = fixedPoint(df, idCol, vecCol).localCheckpoint(eager = false)
    val cents = seedCentroids(fx, c)
    val ranked = rankByCentroids(fx, cents)
      .filter(col("crn") <= math.max(1, nprobe))
      .localCheckpoint(eager = false)
    val cfx = cents.select(col("cid").as("pcid"), col("cfx"))
    // corpus residuals vs the OWNING centroid — renamed to (id, fx) so
    // the shared training/encode machinery applies unchanged
    val resid = ranked.filter(col("crn") === 1)
      .select(col("id"), col("cid").as("pcid"), col("fx"))
      .join(broadcast(cfx), Seq("pcid"))
      .select(col("id"), col("pcid").as("ocid"),
        zip_with(col("fx"), col("cfx"), (x, y) => x - y).as("fx"))
      .localCheckpoint(eager = false)
    val cb = pqCodebookTrained(resid.select("id", "fx"), subspaces,
      codebookK, sub, iters).localCheckpoint(eager = false)
    val codes = pqCodes(resid.select("id", "fx"), cb, sub)
      .select(col("id"), col("m"), col("cid").as("code"))
    // query residuals vs EVERY probed centroid, one ADC table per pair
    val qresid = ranked.filter(isQuery(col("id")))
      .select(col("id").as("qid"), col("cid").as("pcid"), col("fx"))
      .join(broadcast(cfx), Seq("pcid"))
      .select(col("qid"), col("pcid"),
        zip_with(col("fx"), col("cfx"), (x, y) => x - y).as("qfx"))
    val qd = qresid.crossJoin(broadcast(cb))
      .select(col("qid"), col("pcid"), col("m"), col("cid").as("code"),
        pqSubD2(expr(s"slice(qfx, m * $sub + 1, $sub)")).as("qd2"))
    val lists = ranked.filter(col("crn") === 1)
      .select(col("cid").as("pcid"), col("id"))
    val probes = ranked.filter(isQuery(col("id")))
      .select(col("id").as("qid"), col("cid").as("pcid"))
    val cand = broadcast(probes).join(lists, Seq("pcid"))
      .filter(col("qid") =!= col("id")).select("qid", "pcid", "id")
    val adc = cand.join(codes, Seq("id"))
      .join(broadcast(qd), Seq("qid", "pcid", "m", "code"))
      .groupBy("qid", "id").agg(sum(col("qd2")).as("adc"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("id"))
    adc.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("id").as("vec_id"), col("adc"))
  }

  /** PQ codebook: the `codebookK` lowest (seedHash, id) vectors'
    * subvectors, one row per (m, cid) — broadcast-sized. private[graft]:
    * the streaming encode twin fits it batch-side as its model artifact. */
  private[graft] def pqCodebook(fx: DataFrame, subspaces: Int, codebookK: Int,
      sub: Int): DataFrame =
    fx.orderBy(seedHash(col("id")), col("id")).limit(codebookK)
      .select(col("id").as("cid"), col("fx").as("cfx"))
      .crossJoin(fx.sparkSession.range(subspaces)
        .select(col("id").cast("int").as("m")))
      .select(col("m"), col("cid"),
        expr(s"slice(cfx, m * $sub + 1, $sub)").as("cvec"))

  /** Exact BIGINT L2² between a subvector expression and the codebook
    * row's `cvec`. */
  private def pqSubD2(vecCol: Column): Column =
    aggregate(zip_with(vecCol, col("cvec"), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  /** PQ encoding: every vector's nearest codeword per subspace —
    * (id, m, cid), ties to the lower cid. */
  private def pqCodes(fx: DataFrame, cb: DataFrame, sub: Int): DataFrame = {
    val enc0 = fx.crossJoin(broadcast(cb))
      .select(col("id"), col("m"), col("cid"),
        pqSubD2(expr(s"slice(fx, m * $sub + 1, $sub)")).as("d2"))
    val wEnc = Window.partitionBy(col("id"), col("m"))
      .orderBy(col("d2"), col("cid"))
    enc0.withColumn("__rn", row_number().over(wEnc))
      .filter(col("__rn") === 1).select("id", "m", "cid")
  }

  /** ADC table: each query's EXACT distance to every codeword —
    * (qid, m, cid, qd2), M·K rows per query. */
  private def pqAdcTable(fx: DataFrame, isQuery: Column => Column,
      cb: DataFrame, sub: Int): DataFrame =
    fx.filter(isQuery(col("id")))
      .select(col("id").as("qid"), col("fx").as("qfx"))
      .crossJoin(broadcast(cb))
      .select(col("qid"), col("m"), col("cid"),
        pqSubD2(expr(s"slice(qfx, m * $sub + 1, $sub)")).as("qd2"))

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein 1998):
    * from one query's candidate pool, greedily pick k results trading
    * relevance against redundancy —
    *
    *   next = argmax( λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s) )
    *
    * the diversity-aware retrieval step every RAG/eval-harness stack
    * bolts onto plain top-k (ten near-identical passages waste nine
    * context slots). Arithmetic is micro-integer end to end: rel and
    * pairwise sims quantize to BIGINT micro-cosines (the
    * [[marginMining]] idiom), the argmax orders by the RAW µ²-unit
    * score λ·rel − (1e6−λ)·mmax (dividing first would floor distinct
    * scores together and let the id tie-break flip a pick), so the
    * DuckDB mirror [[mmrSql]] replays every round bit-for-bit.
    *
    * Scale contract = [[kCenter]]'s: the pool is top-`poolN` by
    * relevance (one broadcast-query pass + TakeOrdered — at corpus
    * scale the pool comes from IVF probe lists instead, unchanged
    * here), then k bounded driver rounds each collect exactly ONE row
    * of the poolN-row checkpointed frame. mmax updates fold in as a
    * running `greatest`, so round r does O(poolN) work, never
    * O(poolN²) materialized. */
  def mmrSelect(df: DataFrame, idCol: String, vecCol: String, qid: Long,
      poolN: Int, k: Int, lambdaMicro: Long): DataFrame = {
    require(k >= 1 && poolN >= k, s"need poolN >= k >= 1, got $poolN/$k")
    require(lambdaMicro > 0 && lambdaMicro < 1000000L, "lambda in (0,1) micro")
    val fx = fixedPoint(df, idCol, vecCol).localCheckpoint(eager = false)
    val qRows = fx.filter(col("id") === qid).collect()
    require(qRows.nonEmpty, s"query id $qid not found")
    val qfx = qRows(0).getSeq[Long](1)
    val qn = qRows(0).getLong(2)
    val cur0 = fx.filter(col("id") =!= qid)
      .withColumn("rel", cosMicroTo(qfx, qn))
      .orderBy(col("rel").desc, col("id")).limit(poolN)
      .withColumn("mmax", lit(0L))
      .localCheckpoint(eager = false)
    mmrRounds(cur0, k, lambdaMicro)
  }

  /** µ-cosine of the frame's (fx, nrm) columns against one literal
    * vector — the quantization both MMR pools and rounds share. */
  private def cosMicroTo(vec: Seq[Long], nrm: Long): Column =
    round(lit(1e6) * cosine(col("fx"), array(vec.map(lit): _*),
      col("nrm"), lit(nrm))).cast("long")

  /** The greedy tail shared by [[mmrSelect]] and [[mmrSelectIvf]]:
    * `cur0` carries (id, fx, nrm, rel, mmax = 0); k bounded driver
    * rounds each collect exactly ONE row, mmax folds as a running
    * greatest, every intermediate frame is a lazy localCheckpoint so a
    * round is one job over O(poolN) rows. */
  private def mmrRounds(cur0: DataFrame, k: Int,
      lambdaMicro: Long): DataFrame = {
    val spark = cur0.sparkSession
    var cur = cur0
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      val raw = lit(lambdaMicro) * col("rel") -
        lit(1000000L - lambdaMicro) * col("mmax")
      val picks = cur.withColumn("raw", raw)
        .orderBy(col("raw").desc, col("id")).limit(1).collect()
      if (picks.isEmpty) {
        // Pool drained before k rounds — reachable when the IVF probe
        // lists hold fewer than k candidates (sparse lists, tiny corpora,
        // skewed seeding). Return the rounds selected so far, the same
        // graceful-exhaustion contract as kCenter's exhausted flag.
        exhausted = true
      } else {
        val pick = picks(0)
        val (pid, pfx, pn) =
          (pick.getLong(pick.fieldIndex("id")),
            pick.getSeq[Long](pick.fieldIndex("fx")),
            pick.getLong(pick.fieldIndex("nrm")))
        out += ((r.toLong, pid, pick.getLong(pick.fieldIndex("rel")),
          pick.getLong(pick.fieldIndex("raw"))))
        if (r < k)
          cur = cur.filter(col("id") =!= pid)
            .withColumn("mmax", greatest(col("mmax"), cosMicroTo(pfx, pn)))
            .localCheckpoint(eager = false)
        r += 1
      }
    }
    import spark.implicits._
    out.toSeq.toDF("round", "id", "rel_micro", "score_raw")
  }

  /** [[mmrSelect]] with the pool drawn from IVF PROBE LISTS — the
    * corpus-scale wiring [[mmrSelect]]'s scaladoc promised: relevance
    * candidates come from [[ivfTopK]]'s nprobe nearest inverted lists
    * (per-query work ≈ nprobe·√n with auto centroid sizing, never a
    * corpus pass), ranked by exact cosine and cut at poolN; the greedy
    * micro-integer rounds then select k diverse results from that pool
    * exactly as the brute-pooled form. rel quantizes from the probe
    * cosine by the same single round of an identical double, so the
    * DuckDB mirror [[mmrIvfSql]] replays pool membership AND every
    * greedy round bit-for-bit. */
  def mmrSelectIvf(df: DataFrame, idCol: String, vecCol: String, qid: Long,
      poolN: Int, k: Int, lambdaMicro: Long, nCentroids: Int,
      nprobe: Int): DataFrame = {
    require(k >= 1 && poolN >= k, s"need poolN >= k >= 1, got $poolN/$k")
    require(lambdaMicro > 0 && lambdaMicro < 1000000L, "lambda in (0,1) micro")
    val fx = fixedPoint(df, idCol, vecCol).localCheckpoint(eager = false)
    val pool = ivfTopK(df, idCol, vecCol, _ === qid, poolN, nCentroids, nprobe)
      .select(col("vec_id").as("id"),
        round(lit(1e6) * col("cos")).cast("long").as("rel"))
    val cur0 = fx.join(pool, Seq("id"))
      .select(col("id"), col("fx"), col("nrm"), col("rel"))
      .withColumn("mmax", lit(0L))
      .localCheckpoint(eager = false)
    mmrRounds(cur0, k, lambdaMicro)
  }

  /** DuckDB mirror of [[mmrSelect]] over the embeddings table: pool CTE
    * then k unrolled (argmax, mmax-fold) CTE pairs — identical micro
    * quantization, raw-score ordering and id tie-breaks. */
  def mmrSql(qid: Long, poolN: Int, k: Int, lambdaMicro: Long): String = {
    val cosM = (a: String, b: String, na: String, nb: String) =>
      s"CAST(round(1000000.0 * ${cosineSql(a, b, na, nb)}) AS BIGINT)"
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"f AS (SELECT vec_id AS id, ${fixedPointSql("embedding")} AS fx FROM embeddings)",
      "n AS (SELECT id, fx, CAST(list_sum(list_transform(fx, x -> x*x)) AS BIGINT) AS nrm FROM f)",
      s"q AS (SELECT fx AS qfx, nrm AS qn FROM n WHERE id = $qid)",
      s"""m1 AS (SELECT id, fx, nrm, ${cosM("fx", "qfx", "nrm", "qn")} AS rel,
         |  CAST(0 AS BIGINT) AS mmax
         |  FROM n, q WHERE id <> $qid ORDER BY rel DESC, id LIMIT $poolN)""".stripMargin)
    for (r <- 1 to k) {
      ctes += s"s$r AS (SELECT id, fx, nrm, rel, " +
        s"$lambdaMicro*rel - ${1000000L - lambdaMicro}*mmax AS raw " +
        s"FROM m$r ORDER BY raw DESC, id LIMIT 1)"
      if (r < k)
        ctes += s"m${r + 1} AS (SELECT m.id, m.fx, m.nrm, m.rel, " +
          s"GREATEST(m.mmax, ${cosM("m.fx", "s.fx", "m.nrm", "s.nrm")}) AS mmax " +
          s"FROM m$r m, s$r s WHERE m.id <> s.id)"
    }
    val sel = (1 to k)
      .map(r => s"SELECT CAST($r AS BIGINT) AS round, id, rel AS rel_micro, raw AS score_raw FROM s$r")
      .mkString("\nUNION ALL ")
    s"WITH ${ctes.mkString(",\n")}\n$sel\nORDER BY round"
  }

  /** DuckDB mirror of [[mmrSelectIvf]]: the sim_ivf_topk coarse-quantizer
    * CTE chain (seeded centroids, exact-BIGINT d2 assignment, nprobe
    * probe lists, exact-cosine rank) builds the pool, then the SAME
    * unrolled greedy CTE pairs as [[mmrSql]]. */
  def mmrIvfSql(qid: Long, poolN: Int, k: Int, lambdaMicro: Long,
      nCentroids: Int, nprobe: Int): String = {
    val cosM = (a: String, b: String, na: String, nb: String) =>
      s"CAST(round(1000000.0 * ${cosineSql(a, b, na, nb)}) AS BIGINT)"
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"f AS (SELECT vec_id AS id, ${fixedPointSql("embedding")} AS fx FROM embeddings)",
      "n AS (SELECT id, fx, CAST(list_sum(list_transform(fx, x -> x*x)) AS BIGINT) AS nrm FROM f)",
      s"""c AS (SELECT id AS cid, fx AS cfx, nrm AS cnrm FROM n
         |  ORDER BY ${seedHashSql("id")}, id LIMIT $nCentroids)""".stripMargin,
      """sc AS (SELECT n.id, c.cid,
        |  n.nrm - 2*CAST(list_sum(list_transform(generate_series(1,64), i -> n.fx[i]*c.cfx[i])) AS BIGINT) + c.cnrm AS d2
        |  FROM n, c)""".stripMargin,
      "rk AS (SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS crn FROM sc)",
      "lists AS (SELECT rk.cid, rk.id, n.fx, n.nrm FROM rk JOIN n USING(id) WHERE crn = 1)",
      s"""probes AS (SELECT rk.id AS qid, rk.cid, n.fx AS fq, n.nrm AS nq
         |  FROM rk JOIN n USING(id) WHERE rk.id = $qid AND crn <= $nprobe)""".stripMargin,
      s"""j AS (SELECT p.qid, l.id AS vid,
         |    ${cosineSql("p.fq", "l.fx", "p.nq", "l.nrm")} AS cos
         |  FROM probes p JOIN lists l ON p.cid = l.cid AND l.id <> p.qid)""".stripMargin,
      "pr AS (SELECT vid, cos, row_number() OVER (ORDER BY cos DESC, vid) AS rn FROM j)",
      s"""m1 AS (SELECT n.id, n.fx, n.nrm,
         |  CAST(round(1000000.0 * pr.cos) AS BIGINT) AS rel,
         |  CAST(0 AS BIGINT) AS mmax
         |  FROM pr JOIN n ON n.id = pr.vid WHERE pr.rn <= $poolN)""".stripMargin)
    for (r <- 1 to k) {
      ctes += s"s$r AS (SELECT id, fx, nrm, rel, " +
        s"$lambdaMicro*rel - ${1000000L - lambdaMicro}*mmax AS raw " +
        s"FROM m$r ORDER BY raw DESC, id LIMIT 1)"
      if (r < k)
        ctes += s"m${r + 1} AS (SELECT m.id, m.fx, m.nrm, m.rel, " +
          s"GREATEST(m.mmax, ${cosM("m.fx", "s.fx", "m.nrm", "s.nrm")}) AS mmax " +
          s"FROM m$r m, s$r s WHERE m.id <> s.id)"
    }
    val sel = (1 to k)
      .map(r => s"SELECT CAST($r AS BIGINT) AS round, id, rel AS rel_micro, raw AS score_raw FROM s$r")
      .mkString("\nUNION ALL ")
    s"WITH ${ctes.mkString(",\n")}\n$sel\nORDER BY round"
  }

  /** Reciprocal Rank Fusion (Cormack, Clarke & Büttcher 2009): fuse two
    * rankings of the same candidate space by
    * score(d) = Σ_lists 1e6 div (60 + rank_list(d)) — the standard
    * hybrid-retrieval merge (rank-based, so a ranker's score scale
    * can't dominate). Here the two rankers are exact COSINE and exact
    * L2 — genuinely different orders on unnormalized vectors (L2 favors
    * short vectors; cosine ignores length). Scores are integer micro
    * units (truncating div), absent-from-list contributes 0, so the
    * fused order is deterministic and exactly mirrored.
    *
    * Scale: one broadcast-query pass computes dot/norms for BOTH
    * rankers (the crossJoin is the disclosed small-query-set form —
    * candidate generation swaps to IVF/LSH lists at corpus scale), two
    * windows rank it, the fusion is a self-join-free full outer join on
    * (qid, vid) of two ≤`depth`-row-per-query frames. */
  def rrfFuseTopK(df: DataFrame, idCol: String, vecCol: String,
      isQuery: Column => Column, depth: Int, k: Int,
      rrfK: Long = 60L): DataFrame = {
    val fx = fixedPoint(df, idCol, vecCol)
    val q = fx.filter(isQuery(col("id")))
      .select(col("id").as("qid"), col("fx").as("fq"), col("nrm").as("nq"))
    val scored = broadcast(q).crossJoin(fx).filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id").as("vid"),
        graft.functions.HashExpressions.fixed_dot(col("fq"), col("fx")).as("__dot"),
        col("nq"), col("nrm"))
    val byCos = Window.partitionBy(col("qid")).orderBy(
      (col("__dot") / sqrt(col("nq").cast("double") * col("nrm").cast("double")))
        .desc, col("vid"))
    // exact integer L2²: |q−v|² = nq − 2·dot + nv — no IEEE anywhere
    val byL2 = Window.partitionBy(col("qid")).orderBy(
      (col("nq") - lit(2L) * col("__dot") + col("nrm")).asc, col("vid"))
    val ranked = scored
      .withColumn("rc", row_number().over(byCos).cast("long"))
      .withColumn("rl", row_number().over(byL2).cast("long"))
    val a = ranked.filter(col("rc") <= depth).select(col("qid"), col("vid"), col("rc"))
    val b = ranked.filter(col("rl") <= depth).select(col("qid"), col("vid"), col("rl"))
    val fused = a.join(b, Seq("qid", "vid"), "full_outer")
      .select(col("qid"), col("vid"),
        (coalesce(expr(s"1000000 div (${rrfK} + rc)"), lit(0L)) +
          coalesce(expr(s"1000000 div (${rrfK} + rl)"), lit(0L))).as("rrf"),
        // -1 = absent from that ranker's depth-bounded list (a literal
        // sentinel, not NULL — nullable BIGINTs drift to float64 in the
        // comparison layer)
        coalesce(col("rc"), lit(-1L)).as("rc"),
        coalesce(col("rl"), lit(-1L)).as("rl"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rrf").desc, col("vid"))
    fused.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("vid").as("vec_id"),
        col("rrf"), col("rc"), col("rl"))
  }

  /** DuckDB mirror of [[kCenter]] over the embeddings table: the greedy
    * rounds unroll into a chain of (running-min distance, 1-row argmax)
    * CTE pairs replaying the identical BIGINT arithmetic and (d2 DESC,
    * id) tie-break. */
  def kCenterSql(k: Int): String = {
    def dd(a: String, b: String) =
      s"CAST(list_sum(list_transform(generate_series(1,64), " +
        s"i -> ($a[i]-$b[i])*($a[i]-$b[i]))) AS BIGINT)"
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"f AS (SELECT vec_id AS id, ${fixedPointSql("embedding")} AS fx FROM embeddings)",
      "c1 AS (SELECT id, fx FROM f ORDER BY id LIMIT 1)",
      s"m1 AS (SELECT f.id, f.fx, ${dd("f.fx", "c.fx")} AS md FROM f, c1 c)")
    for (r <- 2 to k) {
      ctes += s"c$r AS (SELECT id, fx, md FROM m${r - 1} WHERE md > 0 " +
        "ORDER BY md DESC, id LIMIT 1)"
      if (r < k)
        ctes += s"m$r AS (SELECT m.id, m.fx, LEAST(m.md, ${dd("m.fx", "c.fx")}) " +
          s"AS md FROM m${r - 1} m, c$r c)"
    }
    val sel = (Seq("SELECT CAST(1 AS BIGINT) AS round, id, CAST(-1 AS BIGINT) AS d2 FROM c1") ++
      (2 to k).map(r => s"SELECT CAST($r AS BIGINT), id, md FROM c$r"))
      .mkString("\nUNION ALL ")
    s"WITH ${ctes.mkString(",\n")}\n$sel\nORDER BY round"
  }

  /** DuckDB mirror of [[pqCodebookTrained]] — appended after the shared
    * `n(id, fx, nrm)` fixed-point CTE. Emits `ms` (subspace ids), `sv`
    * (subvectors), `cbt0` (the seeded book) and one (assign, sum,
    * update) CTE triple per Lloyd round, replaying the exact BIGINT
    * subspace L2, (d2, cid) arg-min ties, and trunc-toward-zero integer
    * means (`//` == Spark `div`). The final codebook CTE is
    * `cbt<iters>(m, cid, cvec)`; empty codewords drop out via the inner
    * GROUP BY, matching the engine's empty-list convention. */
  def trainedCbCtes(subspaces: Int, codebookK: Int, sub: Int,
      iters: Int, prefix: String = "", src: String = "n"): String = {
    def d2(a: String, b: String) =
      s"CAST(list_sum(list_transform(generate_series(1,$sub), " +
        s"i -> ($a[i]-$b[i])*($a[i]-$b[i]))) AS BIGINT)"
    val P = prefix
    val parts = scala.collection.mutable.ArrayBuffer(
      s"${P}ms AS (SELECT unnest(generate_series(0, ${subspaces - 1})) AS m)",
      s"${P}sv AS (SELECT id, m, fx[m*$sub+1 : m*$sub+$sub] AS svec FROM $src, ${P}ms)",
      s"""${P}cbt0 AS (SELECT m, cid, cfx[m*$sub+1 : m*$sub+$sub] AS cvec
         |  FROM (SELECT id AS cid, fx AS cfx FROM $src
         |    ORDER BY ${seedHashSql("id")}, id LIMIT $codebookK), ${P}ms)""".stripMargin)
    for (t <- 1 to iters) {
      parts += s"""${P}a$t AS (SELECT id, m, cid FROM (SELECT sv.id, sv.m, cb.cid,
         |    row_number() OVER (PARTITION BY sv.id, sv.m
         |      ORDER BY ${d2("sv.svec", "cb.cvec")}, cb.cid) AS rn
         |  FROM ${P}sv sv JOIN ${P}cbt${t - 1} cb USING (m)) WHERE rn = 1)""".stripMargin
      parts += s"""${P}s$t AS (SELECT a.m, a.cid, p.pos, SUM(sv.svec[p.pos]) AS sm,
         |    COUNT(*) AS c
         |  FROM ${P}a$t a JOIN ${P}sv sv ON sv.id = a.id AND sv.m = a.m
         |  CROSS JOIN (SELECT unnest(generate_series(1,$sub)) AS pos) p
         |  GROUP BY 1, 2, 3)""".stripMargin
      parts += s"${P}cbt$t AS (SELECT m, cid, list(CAST(sm // c AS BIGINT) " +
        s"ORDER BY pos) AS cvec FROM ${P}s$t GROUP BY 1, 2)"
    }
    parts.mkString(",\n")
  }

  /** SQL: hyperplane bucket from fixed-point list `fx` (DuckDB 1-based
    * lambda index compensated: dim d = i-1). */
  def bucketSql(fx: String = "fx"): String = {
    val pow2 = (0 until NUM_PLANES).map(b => 1L << b).mkString("[", ",", "]")
    val w = graft.functions.PlaneHash.weightSql("j", "i-1")
    s"""CAST(list_sum(list_transform(generate_series(0,${NUM_PLANES - 1}), j ->
       | CASE WHEN list_sum(list_transform($fx, (x,i) -> x * ($w))) >= 0
       | THEN ($pow2)[j+1] ELSE 0 END)) AS BIGINT)""".stripMargin
  }
}
