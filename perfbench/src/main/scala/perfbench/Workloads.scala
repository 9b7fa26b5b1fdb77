package perfbench

/** The benchmark's workloads. README.md records why each exists. */
object Workloads {
  /** @param tables        the tables its queries read, staged per run
    * @param replicas      copies of the keyed TPC-H tables staged
    * @param passSeconds   nominal warm-pass wall time on 4 cores; a run of
    *                      `--seconds` makes seconds / passSeconds warm
    *                      passes, at least 2, so every run of a workload
    *                      makes the same passes however fast they go
    * @param memoConsumers queries that read one of the program's
    *                      cross-query memos */
  final case class Workload(name: String, queries: Seq[String],
      tables: Seq[String], replicas: Int, passSeconds: Double,
      memoConsumers: Set[String] = Set.empty) {
    def warmPasses(seconds: Double): Int = math.max(2, math.round(seconds / passSeconds).toInt)

    /** Key of the staged tables in the reference file. */
    def dataKey: String = if (replicas <= 1) "base" else s"rel$replicas"
  }

  val all: Seq[Workload] = Seq(
    Workload("apply_selector", Seq(
      "o1_apply_vec", "o1_apply_branchy", "o1_str_ops", "o2_row_apply",
      "o2_row_expand", "o3_applymap", "o4_groupby_apply_num",
      "o5_rolling_apply", "o6_resample_ohlc", "k3_small_local",
      "k9_force_parallel"),
      Seq("documents", "events", "lineitem", "nation", "region"), replicas = 1,
      passSeconds = 4.5),
    Workload("curation", Seq(
      "dedup_clusters", "mix_nb_classify", "pipe_embed_dedup",
      "sim_pq_trained", "dedup_jaccard_prefix"),
      Seq("documents", "embeddings"), replicas = 1, passSeconds = 7,
      memoConsumers = Set("dedup_clusters", "mix_nb_classify",
        "pipe_embed_dedup", "sim_pq_trained")),
    Workload("stream_replay", Seq(
      "stream_static_join", "stream_sessionize_et", "stream_ohlc",
      "stream_sliding"),
      Seq("documents", "events"), replicas = 1, passSeconds = 6,
      memoConsumers = Set("stream_sessionize_et")),
    // the file-source replays that stream a table through
    // StreamOps.linkedDir; they return no rows on staged tables (README.md,
    // "Known wrong results"), so this workload reports correct: false
    Workload("stream_linked", Seq("stream_pq_trained", "stream_dedup"),
      Seq("documents", "embeddings"), replicas = 1, passSeconds = 2.5,
      memoConsumers = Set("stream_pq_trained")),
    Workload("rel_scale", Seq(
      "rel_q1_pricing", "rel_q3_shipping", "rel_q9_profit",
      "rel_q18_topcust", "rel_q21_waiting"),
      Seq("customer", "lineitem", "nation", "orders", "part", "region",
        "supplier"), replicas = 16, passSeconds = 10))

  val byName: Map[String, Workload] = all.map(w => w.name -> w).toMap

  /** Prints one line per workload, `name dataKey query,query,...`, for
    * `reference.py`. */
  def main(args: Array[String]): Unit =
    all.foreach(w => println(s"${w.name} ${w.dataKey} ${w.queries.mkString(",")}"))
}
