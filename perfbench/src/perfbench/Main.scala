package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.core.Sessions

/** Benchmark entry point: one workload, one seed, one run.
  *
  * Prints a detail object on the line before the result, then the
  * result line: the check verdict, attempted and failed op counts,
  * and the end-to-end metrics (untraced) or the per-layer metrics
  * (traced). `run.py` builds the classpath and checks the line
  * against BENCHMARK.json.
  */
object Main {
  /** Engine layers, as named by the spans. */
  val Layers = Seq("core", "sources", "ml", "streaming", "sinks", "batch",
    "operators", "index")

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    if (a.trace) Trace.enable()
    val wall0 = System.nanoTime()
    val (spark, sessionS) = Stats.timed(Trace.span("core", "Sessions.local") {
      Sessions.local(s"perfbench-${a.workload}")
    })
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    if (a.trace) Trace.install(spark)

    // The host ruler runs at the end of every run, and in a traced run
    // also at the start (cold there, so it reads JVM warm-up as well).
    val calStart = if (a.trace) Seq(calProbe(spark)) else Nil
    val out = a.workload match {
      case "score_stream" => ScoreStream.run(spark, a)
      case "dedup_index" => DedupIndex.run(spark, a)
      case w => sys.error(s"unknown workload $w")
    }
    val calEnd = calProbe(spark)
    val wallS = Stats.secondsSince(wall0)

    val layer = out.layer ++ common(sessionS, calEnd, wallS) ++
      out.e2e.map { case (k, m) => s"traced.$k" -> m }
    println(Json.of(out.detail ++ Map("workload" -> a.workload, "seed" -> a.seed,
      "host_cal_probe_s" -> (calStart :+ calEnd), "wall_s" -> wallS)))
    if (a.trace) Trace.write(Paths.get(a.runDir, "trace.jsonl"))
    println(Json.of(Map(
      "correct" -> out.correct, "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> (if (a.trace) layer else out.e2e))))
    spark.stop()
  }

  /** `cal_host_probe`: a fixed integer fold whose wall time tracks the
    * host's speed, recorded at the start and end of every run. */
  private def calProbe(spark: SparkSession): Double =
    Stats.timed(Trace.span("host", "cal_host_probe") {
      Results.noop(SparkEntry.queries("cal_host_probe")(spark, ""))
    })._2

  /** Per-layer metrics every workload has: set-up, the host ruler,
    * Catalyst phases, scheduler and executor counts, layer self time
    * as a share of the run, and the cost of tracing itself. */
  private def common(sessionS: Double, calS: Double, wallS: Double): Map[String, Metric] = {
    val t = Trace.total
    val cores = Sessions.cpus
    val self = Trace.selfSeconds
    Map(
      "setup.session_s" -> Metric(sessionS, "s"),
      "host.cal_probe_s" -> Metric(calS, "s"),
      "catalyst.analysis_ms" -> Metric(Trace.phases("analysis"), "ms"),
      "catalyst.optimizer_ms" -> Metric(Trace.phases("optimization"), "ms"),
      "catalyst.planning_ms" -> Metric(Trace.phases("planning"), "ms"),
      "spark.jobs" -> Metric(t.jobs.toDouble, "count"),
      "spark.stages" -> Metric(t.stages.toDouble, "count"),
      "spark.tasks" -> Metric(t.tasks.toDouble, "count"),
      "spark.executor_run_s" -> Metric(t.runMs / 1e3, "s"),
      "spark.executor_cpu_s" -> Metric(t.cpuNs / 1e9, "s"),
      "spark.gc_frac" -> Metric(t.gcMs.toDouble / (t.runMs max 1L), "frac"),
      "spark.core_busy" -> Metric(t.runMs / 1e3 / (wallS * cores), "frac"),
      "spark.shuffle_write_mb" -> Metric(t.shuffleWrite / 1e6, "MB"),
      "spark.shuffle_read_mb" -> Metric(t.shuffleRead / 1e6, "MB"),
      "spark.spill_mb" -> Metric(t.spill / 1e6, "MB"),
      "trace.spans" -> Metric(Trace.allSpans.size.toDouble, "count"),
      "trace.self_ms" -> Metric(Trace.selfMs, "ms")
    ) ++ Layers.map(l => s"self_frac.$l" ->
      Metric(self.getOrElse(l, 0.0) / wallS, "frac"))
  }

  /** Megabytes held in Spark block storage (cached and checkpointed
    * blocks), from the public storage report. */
  def residentMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1e6

}
