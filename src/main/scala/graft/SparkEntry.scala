package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.GraftFunctions
import graft.ml.MlQueries
import graft.operators.{AsofJoin, BloomJoin, DedupCluster, ExtendedQueries, GraphQueries, MergeOps, MultimodalQueries, OlapQueries, PipelineQueries, RelationalQueries, RetrievalQueries, SimilarityQueries, SketchQueries, SkewJoin, TemporalQueries, TextQueries}
import graft.sources.LayoutQueries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the engine's full registered operator surface; each
  * SQL-expressible entry has a DuckDB oracle in `oracleSql` (same
  * column names and types on both sides — the driver sorts columns by
  * name and hashes values). Entries without oracle SQL (approximate /
  * LSH operators) get the driver's rows-only check and are covered by
  * ScalaTest instead.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    GraftFunctions.install(spark)
    RelationalQueries.q1PricingSummary(spark, "/root/testdata/sf0.001")
  }

  /** The query families, one registry map each. [[queries]] merges
    * them, so a name two families share would drop one of the two;
    * SparkEntrySpec checks the sizes add up. */
  def families: Seq[Map[String, (SparkSession, String) => DataFrame]] =
    Seq(
      RelationalQueries.queries,
      TextQueries.queries,
      SimilarityQueries.queries,
      MlQueries.queries,
      MultimodalQueries.queries,
      AsofJoin.queries,
      DedupCluster.queries,
      MergeOps.queries,
      SketchQueries.queries,
      ExtendedQueries.queries,
      SkewJoin.queries,
      BloomJoin.queries,
      GraphQueries.queries,
      RetrievalQueries.queries,
      TemporalQueries.queries,
      OlapQueries.queries,
      LayoutQueries.queries,
      PipelineQueries.queries,
      graft.operators.Calibration.queries)

  /** One entry per implemented operator from SURVEY.md §2. Each entry
    * installs graft into the session it is given, which may be a
    * harness-built one graft did not create. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    families.flatten.map { case (name, q) =>
      name -> { (s: SparkSession, dir: String) =>
        GraftFunctions.install(s)
        q(s, dir)
      }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = oracleParts(SimilarityQueries.oracle)

  /** [[oracleSql]] with the dynamic (per-dataset) entries selected
    * for `dir` — what Verify dumps, so a JVM that served several
    * datasets still emits the oracle consistent with ITS dump
    * (ADVICE r13). */
  def oracleSqlFor(dir: String): Map[String, String] =
    oracleParts(SimilarityQueries.oracleFor(dir))

  private def oracleParts(sim: Map[String, String]): Map[String, String] =
    RelationalQueries.oracle ++
      TextQueries.oracle ++
      sim ++
      MlQueries.oracle ++
      MultimodalQueries.oracle ++
      AsofJoin.oracle ++
      DedupCluster.oracle ++
      MergeOps.oracle ++
      SketchQueries.oracle ++
      ExtendedQueries.oracle ++
      SkewJoin.oracle ++
      BloomJoin.oracle ++
      GraphQueries.oracle ++
      RetrievalQueries.oracle ++
      TemporalQueries.oracle ++
      OlapQueries.oracle ++
      LayoutQueries.oracle ++
      PipelineQueries.oracle ++
      graft.operators.Calibration.oracle
}
