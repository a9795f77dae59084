package graft

import org.apache.spark.sql.{BareSessions, DataFrame}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.functions.GraftFunctions
import graft.plans.{TopKPerGroupExec, TopKPerGroupStrategy}

/** graft in a session it did not build: `SparkEntry.queries` installs
  * the native functions and the TopKPerGroup strategy on its own. */
class BareSessionSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val bare = BareSessions.on(spark.sparkContext)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("SparkEntry.queries runs native functions and TopKPerGroup in a bare session") {
    assert(!bare.catalog.functionExists("md5_hash60"))
    assert(bare.experimental.extraStrategies.isEmpty)
    // x8c filters on md5_hash60; w5 plans the TopKPerGroup node.
    for (name <- Seq("x8c_sampled_quantiles", "w5_topk_group")) {
      val q = SparkEntry.queries(name)
      val got = rows(q(bare, sfDir))
      assert(got.nonEmpty, name)
      assert(got == rows(q(spark, sfDir)), name)
    }
    val topk = SparkEntry.queries("w5_topk_group")(bare, sfDir)
    topk.collect()
    val plan = topk.queryExecution.executedPlan
    assert(find(plan)(_.isInstanceOf[TopKPerGroupExec]).isDefined,
      s"TopKPerGroupExec missing from plan:\n$plan")
  }

  test("install is idempotent") {
    GraftFunctions.install(bare)
    GraftFunctions.install(bare)
    assert(bare.experimental.extraStrategies
      .count(_ == TopKPerGroupStrategy) == 1)
    assert(bare.catalog.functionExists("md5_hash60"))
  }
}
