package perfbench

/** A named query list, the fixture scale it reads, where its results go
  * and how many warm passes follow its cold pass. `parquet` writes each
  * result under the run's output directory (cleared between passes);
  * `noop` materializes through Spark's noop sink. */
final case class Workload(
    name: String, sink: String, scale: String, warmPasses: Int, queries: Seq[String])

object Workloads {
  // Each list is trimmed so that JVM start, the cold pass and the warm
  // passes fit the run budget on 4 cores; NOTES.md has the per-query costs.
  val all: Seq[Workload] = Seq(
    // HiveQL surface: full-scan aggregate, six-table star join and the
    // graft.plans custom operators (grouped top-k, as-of merge).
    Workload("hive_sql", "noop", "sf0.1", 2, Seq(
      "q1_pricing_summary", "q5_local_supplier", "q_topk_grouped_custom",
      "q_join_asof_custom")),
    // Driver loops inside graft.ops builders plus CacheScope persists:
    // connected components, BPE merge training and the Elo fold. Their
    // cost is per-round fixed cost, so the small corpus keeps what they
    // measure.
    Workload("corpus_loops", "noop", "sf0.01", 1, Seq(
      "q_dedup_components", "q_bpe_train", "q_eval_elo")),
    // One-pass corpus stages and copy-on-write DML written as files.
    Workload("corpus_etl", "parquet", "sf0.1", 2, Seq(
      "q_dml_merge", "q_cdc_compact", "q_explode_tokens",
      "q_text_c4_rules", "q_sim_ivf")))

  def apply(name: String): Workload =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload '$name'; known: ${all.map(_.name).mkString(", ")}"))
}
