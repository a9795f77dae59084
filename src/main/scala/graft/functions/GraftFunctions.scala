package graft.functions

import org.apache.spark.sql.{GraftSqlShims, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.plans.TopKPerGroupStrategy

/** The one way graft enters a session.
  *
  * [[install]] registers the nine native Catalyst functions and the
  * TopKPerGroup planner strategy. It is called where a session enters
  * the engine — `Sessions.local`, the `SparkEntry` boundary and the
  * test harness — and never inside an operator. It is a runtime step,
  * not builder-time `SparkSessionExtensions`, because it must also
  * reach sessions graft did not build, and `getOrCreate` may return
  * one of those. `cloneSession`, which each streaming micro-batch
  * runs on, copies both the function registry and the strategies. */
object GraftFunctions {
  private val specs: Seq[
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (CosineSimilarity.ident, CosineSimilarity.info, CosineSimilarity.builder),
      (MinhashSig.ident, MinhashSig.info, MinhashSig.builder),
      (Md5Hash60.ident, Md5Hash60.info, Md5Hash60.builder),
      (Simhash32.ident, Simhash32.info, Simhash32.builder),
      (JaccardSim.ident, JaccardSim.info, JaccardSim.builder),
      (SignLshBucket.ident, SignLshBucket.info, SignLshBucket.builder),
      (WinnowFps.ident, WinnowFps.info, WinnowFps.builder),
      (GramHashes.ident, GramHashes.info, GramHashes.builder),
      (IntersectCount.ident, IntersectCount.info, IntersectCount.builder))

  /** Idempotent: a function or the strategy already present is left
    * as it is. Synchronized because query threads may share a
    * session and `extraStrategies` is a read-modify-write. */
  def install(spark: SparkSession): Unit = synchronized {
    val registry = GraftSqlShims.functionRegistry(spark)
    specs.foreach { case (ident, info, builder) =>
      if (registry.lookupFunctionBuilder(ident).isEmpty)
        registry.registerFunction(ident, info, builder)
    }
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(TopKPerGroupStrategy))
      exp.extraStrategies = exp.extraStrategies :+ TopKPerGroupStrategy
  }
}
