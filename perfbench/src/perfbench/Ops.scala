package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query executed as a timed op: the registry call that
  * returns the DataFrame (build, including any eager driver work) and
  * the action that runs it and hashes its rows (exec). */
final class Ops(spark: SparkSession, dir: String) {
  final case class Op(query: String, obj: String, tag: String,
      buildS: Double, execS: Double, hash: Option[String]) {
    def ms: Double = (buildS + execS) * 1e3
  }

  val done = scala.collection.mutable.ArrayBuffer.empty[Op]

  def run(q: String, tag: String): Op = {
    val obj = Registry.owner(q)
    val op = try {
      val (df, b) = Stats.timed(Trace.span("operators", s"$obj.build", q)(
        Registry.query(q)(spark, dir)))
      val (h, e) = Stats.timed(Trace.span("operators", s"$obj.exec", q)(Results.hash(df)))
      Op(q, obj, tag, b, e, Some(h))
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $q failed: $e")
        Op(q, obj, tag, 0, 0, None)
    }
    done += op
    op
  }

  /** Each registry object's share of the time spent in ops, split into
    * build and exec (0 for an object this workload never calls). */
  def layerShares(objects: Seq[String]): Map[String, Metric] = {
    val total = done.map(o => o.buildS + o.execS).sum max 1e-9
    objects.flatMap { obj =>
      val mine = done.filter(_.obj == obj)
      Seq(s"op.$obj.build_frac" -> Metric(mine.map(_.buildS).sum / total, "frac"),
        s"op.$obj.exec_frac" -> Metric(mine.map(_.execS).sum / total, "frac"))
    }.toMap
  }
}

/** The registry objects that own an indexed twin, their queries by
  * name, and the object each query comes from. */
object Registry {
  import graft.operators._
  type Q = (SparkSession, String) => DataFrame

  val byObject: Seq[(String, Map[String, Q])] = Seq(
    "SimilarityQueries" -> SimilarityQueries.queries,
    "TextQueries" -> TextQueries.queries,
    "RetrievalQueries" -> RetrievalQueries.queries,
    "GraphQueries" -> GraphQueries.queries,
    "OlapQueries" -> OlapQueries.queries)

  def owner(q: String): String =
    byObject.find(_._2.contains(q)).map(_._1).getOrElse("other")

  def query(q: String): Q =
    byObject.collectFirst { case (_, m) if m.contains(q) => m(q) }.get
}
