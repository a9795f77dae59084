package graft.sources

import org.apache.spark.sql.SparkSession

/** ONE incremental-maintenance entry point (VERDICT r19 task #2):
  * the engine's index families all follow the same build→serve
  * discipline — append-stable TRUTH tables (postings, signatures,
  * digests, pair censuses) maintained under the base/delta split,
  * plus DERIVED serving views (graph adjacency + stats, converged
  * base ranks, base cluster state, the in-memory ingest probe
  * context) that are NOT additive under appends and must be
  * re-derived from the maintained tables after a delta lands. Before
  * r20 those refreshes were six bespoke paths spread across
  * IndexStore/DedupCluster/GraphQueries/PipelineQueries;
  * [[refreshAll]] expresses the one discipline once.
  *
  * What a call does, in order:
  *   1. ensures every index family's truth tables exist (idempotent
  *      — first call per (JVM, dir) builds base + delta, later calls
  *      are memoized no-ops);
  *   2. re-derives every serving view from the maintained tables —
  *      [[IndexStore.refreshGraphViews]] (adjacency/stats from the
  *      pairs census), [[IndexStore.refreshBaseRanks]] (converged
  *      PageRank), [[IndexStore.refreshBaseClusters]] (verified
  *      edges + min labels);
  *   3. bumps the dataset's [[IndexStore.indexVersion]] — which
  *      invalidates every memo of the dataset, the ingest probe
  *      context among them (ADVICE r19's staleness bug) — and eagerly
  *      rebuilds the probe context, so the next
  *      streaming micro-batch pays only batch-dependent joins.
  *
  * MaintenanceSpec pins that the refreshed views are row-identical
  * to the bespoke derivations they replaced, and that a
  * post-refresh probe context observes catalog rows appended after
  * the previous generation was cached.
  *
  * 100 TB operation: run once per maintenance window after delta
  * batches append (`sbt "runMain graft.sources.Maintenance <dir>"`).
  * Refreshes OVERWRITE serving-view files, so like any
  * materialized-view refresh it must not race serves of the same
  * dataset; the truth-table appends themselves are online. */
object Maintenance {

  /** What a refresh touched: the dataset, its post-refresh index
    * version, and the refreshed serving-view paths. */
  case class RefreshReport(dir: String, version: Long,
      graphAdj: String, graphStats: String, baseRanks: String,
      baseClusterLabels: String, baseClusterEdges: String)

  def refreshAll(s: SparkSession, dir: String): RefreshReport = {
    // 1. truth tables (document-, vector-, and order-keyed families)
    IndexStore.ensureTrgmPostings(s, dir)
    IndexStore.ensureWordPostings(s, dir)
    IndexStore.ensureMinhash(s, dir)
    IndexStore.ensureSimhash(s, dir)
    IndexStore.ensureGram13(s, dir)
    IndexStore.ensureWinnow(s, dir)
    IndexStore.ensureCdcChunks(s, dir)
    IndexStore.ensureContainment(s, dir)
    IndexStore.ensureCatalog(s, dir)
    IndexStore.ensureGraphEdges(s, dir)
    IndexStore.ensureIvf(s, dir)
    IndexStore.ensurePq(s, dir)
    // 2. derived serving views, re-derived from the maintained tables
    val graph = IndexStore.refreshGraphViews(s, dir)
    val ranks = IndexStore.refreshBaseRanks(s, dir)
    val clusters = IndexStore.refreshBaseClusters(s, dir)
    // 3. new index generation: invalidate + eagerly rebuild the
    //    version-keyed ingest probe context
    IndexStore.bumpVersion(dir)
    graft.operators.PipelineQueries.probeCtx(s, dir)
    RefreshReport(dir, IndexStore.indexVersion(dir),
      graph.adj, graph.stats, ranks, clusters.labels, clusters.edges)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    val spark = graft.core.Sessions.local("graft-maintenance")
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val r = refreshAll(spark, dir)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"metric":"maintenance_refresh","dir":"${r.dir}",""" +
      f""""version":${r.version},"sec":$sec%.2f}""")
    spark.stop()
  }
}
