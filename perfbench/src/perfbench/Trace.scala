package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around each call the benchmark makes into an engine
  * layer, plus counters from Spark's public listeners.
  *
  * Spans stay in memory and are written out when the run ends. Each
  * span carries its parent (the span open on the same thread when it
  * started) and a group id shared by the spans of one query or batch.
  * Spark work is attributed to the innermost open span through a job
  * local property, so a layer's scheduler and executor counts are
  * measured where its calls run.
  *
  * When tracing is off, `span` runs its body and records nothing, and
  * no listener is installed.
  */
object Trace {
  final case class Span(id: Int, layer: String, name: String, parent: Int,
      group: String, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  /** Scheduler and executor counts; one per span plus a run total. */
  final class Counts {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, spill = 0L
  }

  private val PropKey = "perfbench.span"
  @volatile private var on = false
  @volatile private var ctx: SparkContext = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val selfNs = new java.util.concurrent.atomic.AtomicLong(0)

  val total = new Counts
  val bySpan = mutable.HashMap.empty[Int, Counts]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  /** Catalyst phase totals (analysis, optimization, planning), ms. */
  val phases = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)

  def enabled: Boolean = on

  def span[T](layer: String, name: String, group: String = "")(body: => T): T =
    if (!on) body
    else {
      val t = System.nanoTime()
      val id = nextId.incrementAndGet()
      val outer = stack.get
      val sc = Option(ctx)
      val prevProp = sc.map(_.getLocalProperty(PropKey)).orNull
      stack.set(id :: outer)
      sc.foreach(_.setLocalProperty(PropKey, id.toString))
      val start = System.nanoTime()
      selfNs.addAndGet(start - t)
      try body
      finally {
        val end = System.nanoTime()
        stack.set(outer)
        sc.foreach(_.setLocalProperty(PropKey, prevProp))
        spans.synchronized {
          spans += Span(id, layer, name, outer.headOption.getOrElse(0),
            group, start, end)
        }
        selfNs.addAndGet(System.nanoTime() - end)
      }
    }

  def allSpans: Seq[Span] = spans.synchronized(spans.toVector)

  /** Self time of a layer whose work runs outside any span (seconds),
    * measured by the caller from the engine's own progress reports. */
  private val extraSelf = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)

  def addSelf(layer: String, seconds: Double): Unit =
    extraSelf.synchronized(extraSelf(layer) += seconds)

  /** Time spent inside tracing code: span bookkeeping on the calling
    * threads plus the listener callbacks on the listener bus. */
  def selfMs: Double = selfNs.get / 1e6

  private def timed(body: => Unit): Unit = {
    val t = System.nanoTime()
    try body finally selfNs.addAndGet(System.nanoTime() - t)
  }

  /** Per-layer self time in seconds: each span's duration minus the
    * part of its interval its child spans cover, plus any `addSelf`. */
  def selfSeconds: Map[String, Double] = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    val spanned = all.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (k.startNs max s.startNs, k.endNs min s.endNs))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = 0L
      var curB = -1L
      kids.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = curB max b
      }
      if (curB > curA) covered += curB - curA
      s.layer -> (s.endNs - s.startNs - covered) / 1e9
    }
    (spanned ++ extraSelf.synchronized(extraSelf.toSeq))
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Start recording spans (before the session exists, so its
    * creation is a span too). */
  def enable(): Unit = on = true

  /** Attribute Spark work to spans and add the listeners. */
  def install(spark: SparkSession): Unit = {
    ctx = spark.sparkContext
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = timed {
        total.synchronized {
          total.jobs += 1
          spanOf(e.properties).foreach(counts(_).jobs += 1)
        }
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
        total.synchronized {
          total.stages += 1
          spanOf(e.properties).foreach { id =>
            stageSpan(e.stageInfo.stageId) = id
            counts(id).stages += 1
          }
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
        val m = e.taskMetrics
        if (m != null) total.synchronized {
          (Seq(total) ++ stageSpan.get(e.stageId).map(counts)).foreach { c =>
            c.tasks += 1
            c.runMs += m.executorRunTime
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        record(qe)
      private def record(qe: QueryExecution): Unit = timed {
        phases.synchronized {
          qe.tracker.phases.foreach { case (k, p) => phases(k) += p.durationMs }
        }
      }
    })
  }

  private def counts(id: Int): Counts = bySpan.getOrElseUpdate(id, new Counts)

  private def spanOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(x => Option(x.getProperty(PropKey))).map(_.toInt)

  /** Spans as JSON lines, one object per span. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = allSpans.sortBy(_.startNs).map { s =>
      val c = bySpan.getOrElse(s.id, new Counts)
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        s""""name":"${Json.esc(s.name)}","group":"${Json.esc(s.group)}",""" +
        s""""start_ms":${s.startNs / 1e6},"dur_ms":${s.ms},""" +
        s""""jobs":${c.jobs},"tasks":${c.tasks},"cpu_ms":${c.cpuNs / 1e6}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
  }
}
