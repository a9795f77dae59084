package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Command-line arguments, as `run.py` passes them. */
final case class Args(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    data: String, runDir: String, scale: String, rates: Seq[Int],
    corrupt: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m("trace") == "1", m("data"), m("run-dir"), m("scale"),
      m("rates").split(",").map(_.toInt).toSeq, m.get("corrupt").contains("1"))
  }
}

/** One metric value and its unit. */
final case class Metric(value: Double, unit: String)

/** What a workload hands back: the check verdict, op counts, the
  * end-to-end and per-layer metrics, and a free-form detail object
  * printed on the line before the result. */
final case class Outcome(
    correct: Boolean, attempted: Long, failed: Long,
    e2e: Map[String, Metric], layer: Map[String, Metric],
    detail: Map[String, Any])

object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def of(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + esc(s) + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => of(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case Metric(v, u) => s"""{"value":${of(v)},"unit":${of(u)}}"""
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => of(k.toString) + ":" + of(x) }
        .sortBy(identity).mkString("{", ",", "}")
    case s: Iterable[_] => s.map(of).mkString("[", ",", "]")
    case a: Array[_] => of(a.toSeq)
    case o => of(o.toString)
  }
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: scala.collection.Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = (s.size - 1) * p / 100.0
      val lo = r.toInt
      val hi = (lo + 1) min (s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: scala.collection.Seq[Double]): Double = pct(xs, 50)

  /** The highest of a few tail percentiles with at least ten samples
    * beyond it (the median when there are fewer than twenty), and its
    * value: (percentile, value). */
  def tail(xs: scala.collection.Seq[Double]): (Double, Double) = {
    val p = Seq(99.9, 99.0, 95.0, 90.0, 75.0)
      .find(p => xs.size * (100 - p) / 100 >= 10).getOrElse(50.0)
    (p, pct(xs, p))
  }

  /** Time a block, returning (result, seconds). */
  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  def secondsSince(t: Long): Double = (System.nanoTime() - t) / 1e9
}

object Results {
  /** Execute a query and return an order-insensitive hash of its rows:
    * columns in name order, each value rendered canonically (doubles to
    * 10 significant digits, so a last-bit difference from summation
    * order does not flip it), each row hashed on the executors and the
    * hashes summed as a multiset. The plan runs once, with no extra
    * stage, so the hash replaces a noop write as the op's action. */
  def hash(df: DataFrame): String = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val parts = df.rdd.mapPartitions { rows =>
      var n = 0L
      var sum = 0L
      rows.foreach { r =>
        val s = order.map(i => render(r.get(i))).mkString("\u0001")
        sum += (MurmurHash3.stringHash(s, 1).toLong << 32) ^
          (MurmurHash3.stringHash(s, 2) & 0xffffffffL)
        n += 1
      }
      Iterator((n, sum))
    }.collect()
    s"${parts.map(_._1).sum}:${parts.map(_._2).sum}"
  }

  /** Noop write: plan and execute every row, keep nothing. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double => f"$d%.9e"
    case f: Float => f"${f.toDouble}%.9e"
    case b: Array[Byte] => b.mkString("[", ",", "]")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case o => o.toString
  }
}

object Dirs {
  /** (bytes, files) under a directory. */
  def size(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.iterator.asScala.filter(Files.isRegularFile(_)).toSeq
        (fs.map(Files.size).sum, fs.size.toLong)
      } finally s.close()
    }
}
