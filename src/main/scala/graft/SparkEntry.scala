package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each ops module contributes (queries, oracleSql) pairs; module key sets
  * must be disjoint (asserted in SparkEntrySpec) and every oracle key must
  * exist in queries.
  */
object SparkEntry {

  private[graft] def modules: Seq[(Map[String, Q], Map[String, String])] = Seq(
    (Relational.queries, Relational.oracle),
    (TpchMore.queries, TpchMore.oracle),
    (TpchFull.queries, TpchFull.oracle),
    (Joins.queries, Joins.oracle),
    (Aggregates.queries, Aggregates.oracle),
    (Windows.queries, Windows.oracle),
    (SetOps.queries, SetOps.oracle),
    (Generators.queries, Generators.oracle),
    (Scalars.queries, Scalars.oracle),
    (Scalars2.queries, Scalars2.oracle),
    (StreamingOps.queries, StreamingOps.oracle),
    (SourcesSinks.queries, SourcesSinks.oracle),
    (AcidDml.queries, AcidDml.oracle),
    (Dedup.queries, Dedup.oracle),
    (Similarity.queries, Similarity.oracle),
    (EmbeddingOps.queries, EmbeddingOps.oracle),
    (GraphOps.queries, GraphOps.oracle),
    (TextAnalysis.queries, TextAnalysis.oracle),
    (CorpusOps.queries, CorpusOps.oracle),
    (CorpusOps2.queries, CorpusOps2.oracle),
    (CorpusOps3.queries, CorpusOps3.oracle),
    (CorpusOps4.queries, CorpusOps4.oracle),
    (CorpusOps5.queries, CorpusOps5.oracle),
    (CorpusOps6.queries, CorpusOps6.oracle),
    (CorpusOps7.queries, CorpusOps7.oracle),
    (CorpusOps8.queries, CorpusOps8.oracle),
    (CorpusOps9.queries, CorpusOps9.oracle),
    (CorpusOps10.queries, CorpusOps10.oracle),
    (CorpusOps11.queries, CorpusOps11.oracle),
    (CorpusOps12.queries, CorpusOps12.oracle),
    (CorpusOps13.queries, CorpusOps13.oracle),
    (CorpusOps14.queries, CorpusOps14.oracle),
    (CorpusOps15.queries, CorpusOps15.oracle),
    (CorpusOps16.queries, CorpusOps16.oracle),
    (CorpusOps17.queries, CorpusOps17.oracle),
    (CorpusOps18.queries, CorpusOps18.oracle),
    (CorpusOps19.queries, CorpusOps19.oracle),
    (CorpusOps20.queries, CorpusOps20.oracle),
    (CorpusOps21.queries, CorpusOps21.oracle),
    (CorpusOps22.queries, CorpusOps22.oracle),
    (CorpusOps23.queries, CorpusOps23.oracle),
    (CorpusOps24.queries, CorpusOps24.oracle),
    (CorpusOps25.queries, CorpusOps25.oracle),
    (CorpusOps26.queries, CorpusOps26.oracle),
    (CorpusOps27.queries, CorpusOps27.oracle),
    (CorpusOps28.queries, CorpusOps28.oracle),
    (CorpusOps29.queries, CorpusOps29.oracle),
    (CorpusOps30.queries, CorpusOps30.oracle),
    (CorpusOps31.queries, CorpusOps31.oracle),
    (CorpusOps32.queries, CorpusOps32.oracle),
    (CorpusOps33.queries, CorpusOps33.oracle),
    (CorpusOps34.queries, CorpusOps34.oracle),
    (CorpusOps35.queries, CorpusOps35.oracle),
    (CorpusOps36.queries, CorpusOps36.oracle),
    (GraphOps2.queries, GraphOps2.oracle),
    (CorpusOps37.queries, CorpusOps37.oracle),
    (CorpusOps38.queries, CorpusOps38.oracle),
    (CorpusOps39.queries, CorpusOps39.oracle),
    (CorpusOps40.queries, CorpusOps40.oracle),
    (CorpusOps41.queries, CorpusOps41.oracle),
    (CorpusOps42.queries, CorpusOps42.oracle),
    (CorpusOps43.queries, CorpusOps43.oracle),
    (CorpusOps44.queries, CorpusOps44.oracle),
    (CorpusOps45.queries, CorpusOps45.oracle),
    (CorpusOps46.queries, CorpusOps46.oracle),
    (CorpusOps47.queries, CorpusOps47.oracle),
    (CorpusOps48.queries, CorpusOps48.oracle),
    (CorpusOps49.queries, CorpusOps49.oracle),
    (CorpusOps50.queries, CorpusOps50.oracle),
    (CorpusOps51.queries, CorpusOps51.oracle),
    (CorpusOps52.queries, CorpusOps52.oracle),
    (CorpusOps53.queries, CorpusOps53.oracle),
    (CorpusOps54.queries, CorpusOps54.oracle),
    (CorpusOps55.queries, CorpusOps55.oracle),
    (CorpusOps56.queries, CorpusOps56.oracle),
    (CorpusOps57.queries, CorpusOps57.oracle),
    (CorpusOps58.queries, CorpusOps58.oracle),
    (CorpusOps59.queries, CorpusOps59.oracle),
    (CorpusOps60.queries, CorpusOps60.oracle),
    (CorpusOps61.queries, CorpusOps61.oracle),
    (CorpusOps62.queries, CorpusOps62.oracle),
    (CorpusOps63.queries, CorpusOps63.oracle),
    (CorpusOps64.queries, CorpusOps64.oracle),
    (CorpusOps65.queries, CorpusOps65.oracle),
    (CorpusOps66.queries, CorpusOps66.oracle),
    (CorpusOps67.queries, CorpusOps67.oracle),
    (CorpusOps68.queries, CorpusOps68.oracle),
    (CorpusOps69.queries, CorpusOps69.oracle),
    (CorpusOps70.queries, CorpusOps70.oracle),
    (CorpusOps71.queries, CorpusOps71.oracle),
    (CorpusOps72.queries, CorpusOps72.oracle),
    (CorpusOps73.queries, CorpusOps73.oracle),
    (CorpusOps74.queries, CorpusOps74.oracle),
    (CorpusOps75.queries, CorpusOps75.oracle),
    (CorpusOps76.queries, CorpusOps76.oracle),
    (CorpusOps77.queries, CorpusOps77.oracle),
    (CorpusOps78.queries, CorpusOps78.oracle),
    (CorpusOps79.queries, CorpusOps79.oracle),
    (CorpusOps80.queries, CorpusOps80.oracle),
    (CorpusOps81.queries, CorpusOps81.oracle),
    (TimeSeriesOps.queries, TimeSeriesOps.oracle),
    (DataQuality.queries, DataQuality.oracle),
    (SecurityPolicies.queries, SecurityPolicies.oracle),
    (Multimodal.queries, Multimodal.oracle),
    (Extensions.queries, Extensions.oracle),
    (PlansOps.queries, PlansOps.oracle),
    (MatViews.queries, MatViews.oracle))

  /** Runs [[GraftSession.install]] on the session before building `q`,
    * so every query finds the custom functions and strategies. */
  private def installed(q: Q): Q = (s, dir) => q(GraftSession.install(s), dir)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    installed(Aggregates.q1Pricing)(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.iterator.flatMap(_._1).map { case (k, q) => k -> installed(q) }
      .toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.iterator.flatMap(_._2).toMap
}
