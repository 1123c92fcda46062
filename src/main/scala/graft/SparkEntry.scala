package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The engine is a library of operators-as-named-DataFrame-programs
  * (SURVEY §7.1): each entry is `(SparkSession, sfDir) => DataFrame`,
  * fully declarative so Catalyst/AQE owns the physical plan. Modules:
  *   - [[graft.operators.Relational]]  — scans/joins/aggs/windows/set-ops (SURVEY §2.2)
  *   - [[graft.sources]]               — reference-parity ingest (SURVEY §2.1)
  *   - Dedup / Similarity / TextAnalysis / Multimodal / Streaming — M2/M3
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q1 analog: scan→filter→agg→sort end-to-end (SURVEY §7.2). */
  def entry(spark: SparkSession): DataFrame =
    Relational.queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Relational2.queries ++ Relational3.queries ++
      Relational4.queries ++ Relational5.queries ++ Relational6.queries ++
      Upsert.queries ++ Corpus.queries ++
      Dedup.queries ++ Similarity.queries ++ TextAnalysis.queries ++
      Multimodal.queries ++ StreamingOps.queries ++ Sketches.queries ++
      graft.functions.WeightedAvg.queries ++
      graft.sources.Bucketing.queries ++ graft.sources.PartitionedLayout.queries ++
      graft.sources.SourceFormats.queries ++ graft.sources.LakeMaintenance.queries ++
      graft.sources.SnapshotLog.queries

  /** The names among `names` that [[queries]] does not register, so a
    * main can reject a typo before it builds a session. */
  def unknownQueries(names: Seq[String]): Seq[String] = {
    val known = queries
    names.filterNot(known.contains).distinct
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops
    * (d02 minhash-LSH, d03 simhash, s02 ann-lsh → rows-only check +
    * ScalaTest property coverage instead). */
  def oracleSql: Map[String, String] =
    Relational.oracle ++ Relational2.oracle ++ Relational3.oracle ++
      Relational4.oracle ++ Relational5.oracle ++ Relational6.oracle ++
      Upsert.oracle ++ Corpus.oracle ++
      Dedup.oracle ++ Similarity.oracle ++ TextAnalysis.oracle ++
      Multimodal.oracle ++ StreamingOps.oracle ++ Sketches.oracle ++
      graft.functions.WeightedAvg.oracle ++
      graft.sources.Bucketing.oracle ++ graft.sources.PartitionedLayout.oracle ++
      graft.sources.SourceFormats.oracle ++ graft.sources.LakeMaintenance.oracle ++
      graft.sources.SnapshotLog.oracle
}
