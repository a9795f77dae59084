package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.batch.BatchScoring
import graft.ml.{FraudPipeline, Transactions}
import graft.streaming.ScoringStream

/** score_stream: the reference's real-time path, driven open loop.
  *
  * One generator thread sends JSON wire rows into a `MemoryStream` on a
  * Poisson schedule at three fixed rates in turn (low, mid, high), each
  * for a quarter of the run. The rows are a seeded resample of
  * `Transactions.fromEvents` with a unique `nameOrig` per event as its
  * id. They flow through `ScoringStream.parse` into
  * `ScoringStream.start`, scored by a `FraudPipeline.train(weighted =
  * true)` model; the benchmark's alert sink collects the alert rows.
  * An event's latency runs from its scheduled send time (not the time
  * it was actually sent, so a stalled generator still counts) to the
  * moment the sink holds its alert row. After the three rates, the
  * same events are sent again at once (a burst, to measure throughput
  * at saturation), and `BatchScoring.run` scores them in bulk, three
  * times. The resample is uniform, so the fraud share of the traffic
  * is the data's own.
  *
  * At the low rate batches are small and fixed per-batch cost
  * dominates; at the high rate per-row parse and transform do.
  *
  * Check: every event sent is counted once by the stream's stats, the
  * set of streamed alert ids equals the set of fraud ids that
  * `BatchScoring.run` writes for the same events, and the burst
  * alerts the same events as the open loop. With `--corrupt` the batch
  * fraud set the stream is checked against gets one id no event has,
  * so the check must fail.
  */
object ScoreStream {
  val RateNames = Seq("low", "mid", "high")

  /** Times the open-loop events are repeated in one burst, and bursts
    * per run. */
  val BurstRepeats = 3
  val Bursts = 5

  /** Latency limit for a rate to count as sustained (the reference's
    * "sub-second" claim). */
  val LimitMs = 1000.0

  final case class Phase(name: String, rate: Int, offsetsNs: Array[Long],
      first: Int) {
    def n: Int = offsetsNs.length
  }

  def run(spark: SparkSession, a: Args): Outcome = {
    require(a.rates.size == 3, "score_stream needs --rates low,mid,high")
    val phaseS = a.seconds / 4.0

    // Set-up, three times: read and resample the input, fit the model,
    // score a static sample once (warm-up). The last fit is served.
    val setups = (1 to 3).map(_ => Stats.timed(setup(spark, a, phaseS)))
    val (pool, model, phases) = setups.last._1
    val wire = phases.flatMap(p => (0 until p.n).map(i => pool.wireRow(p.first + i))).toIndexedSeq
    val total = wire.size

    // Event ids: the open loop [0, total), then one block of `total`
    // ids per burst repeat, then the warm-up events.
    val blocks = BurstRepeats * Bursts
    val warmBase = (blocks + 1) * total
    val sched = new Array[Long](warmBase + 200)
    val latMs = new Array[Double](warmBase + 200)
    java.util.Arrays.fill(latMs, Double.NaN)
    val alertIds = new ConcurrentLinkedQueue[Int]()
    val alertFraud = new java.util.concurrent.atomic.AtomicLong(0)
    val stats = new ScoringStream.StatsAccumulator

    implicit val sqlc = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    // Each addData call is a block of its own, and a micro-batch reads
    // every block since the last one as separate partitions; a topic
    // source reads a fixed number of partitions, so coalesce to one
    // per core, as a 4-partition topic would give.
    val parsed = Trace.span("sources", "ScoringStream.parse")(
      ScoringStream.parse(input.toDF().coalesce(graft.core.Sessions.cpus)))
    val sink: DataFrame => Unit = alerts =>
      Trace.span("sinks", "alert_sink") {
        val rows = alerts.collect()
        val now = System.nanoTime()
        rows.foreach { r =>
          val js = r.getString(0)
          val id = Pool.idOf(js)
          latMs(id) = (now - sched(id)) / 1e6
          alertIds.add(id)
          if (id < total && js.contains("\"isFraud\":1,")) alertFraud.incrementAndGet()
        }
      }
    val q = Trace.span("streaming", "ScoringStream.start")(
      ScoringStream.start(parsed, model, s"${a.runDir}/checkpoint", sink, stats))
    // Warm-up: a few untimed batches, so the first timed batch does not
    // pay the query's first-batch planning.
    (0 until 6).foreach { k =>
      input.addData((0 until 20).map(i => pool.wireRow(i, warmBase + 20 * k + i)))
      q.processAllAvailable()
    }
    alertIds.clear()
    alertFraud.set(0)

    var sent = stats.totalRecords.toInt // the warm-up events
    def drain(): Unit = {
      val deadline = System.nanoTime() + 60000000000L
      while (stats.totalRecords < sent && System.nanoTime() < deadline)
        Thread.sleep(2)
      q.processAllAvailable()
    }
    val perPhase = phases.map { p =>
      val firstBatch = q.recentProgress.length
      val (late, backlog) = drive(p, input, wire, sched, stats, sent)
      sent += p.n
      drain()
      (p, late, backlog, q.recentProgress.drop(firstBatch).filter(_.numInputRows > 0))
    }
    // Bursts: the open-loop events again, BurstRepeats times, sent at
    // once; the time to drain them is the stream's throughput at
    // saturation (median of the bursts).
    def burstRows(b: Int) = (b * BurstRepeats + 1 to (b + 1) * BurstRepeats)
      .flatMap(r => (0 until total).map(i => pool.wireRow(i, r * total + i)))
    val burstS = (0 until Bursts).map { b =>
      val rows = burstRows(b)
      Stats.timed {
        input.addData(rows)
        sent += rows.size
        drain()
      }._2
    }.drop(1) // the first burst warms the large-batch path
    val burstRps = BurstRepeats * total / Stats.median(burstS)
    // The micro-batch loop runs on the query's own thread, outside every
    // span but the sink's: its self time is the batches' trigger time
    // minus the time spent in the sink.
    if (Trace.enabled) Trace.addSelf("streaming",
      (q.recentProgress.map(trigger).sum -
        Trace.allSpans.filter(_.layer == "sinks").map(_.ms).sum) / 1e3)
    q.stop()

    // Bulk scoring of the first burst's events, three times; the first
    // run's fraud CSV must name the alerts that burst streamed.
    val staticWire = burstRows(0).toDF("value")
    val batches = (1 to 3).map { i =>
      val csv = s"${a.runDir}/batch$i/fraud"
      Stats.timed(Trace.span("batch", "BatchScoring.run", s"batch$i")(
        BatchScoring.run(ScoringStream.parse(staticWire), model, csv,
          s"${a.runDir}/batch$i/stats.json")))
    }
    val batchFraud = spark.read.option("header", "true")
      .csv(s"${a.runDir}/batch1/fraud").select("nameOrig").as[String]
      .collect().map(Pool.idOfName).toSet ++ (if (a.corrupt) Set(-1) else Set.empty)

    // Each burst repeat must alert exactly the open loop's events, and
    // bulk scoring exactly the first burst's alerts.
    val (streamed, burstAlerts) = alertIds.asScala.toSeq.partition(_ < total)
    val streamedSet = streamed.toSet
    val burstWrong = (1 to blocks).map { r =>
      val got = burstAlerts.filter(_ / total == r).map(_ - r * total).toSet
      (got diff streamedSet).size + (streamedSet diff got).size
    }.sum
    val firstBurst = burstAlerts.filter(_ / total <= BurstRepeats).toSet
    val missedEvents = (sent - stats.totalRecords).abs
    val wrongAlerts = (firstBurst diff batchFraud).size +
      (batchFraud diff firstBurst).size + (alertIds.size - alertIds.asScala.toSet.size)
    val lat = streamed.map(latMs(_))
    val byPhase = perPhase.map { case (p, late, backlog, prog) =>
      val ids = p.first until p.first + p.n
      val l = ids.map(latMs(_)).filterNot(_.isNaN)
      (p, l, late, backlog, prog)
    }
    val sustained = byPhase.filter(x => Stats.tail(x._2)._2 <= LimitMs &&
      x._4 < x._1.rate)
    val failed = missedEvents + wrongAlerts + burstWrong
    val static = if (!Trace.enabled) Map.empty[String, Metric] else
      staticRates(spark, model, wire, byPhase.collect {
        case (p, _, _, _, prog) if p.name != "mid" =>
          p.name -> Stats.median(prog.map(_.numInputRows.toDouble)).toInt
      })
    val layer = static ++ Map(
      "setup.input_s" -> Metric(Stats.median(setups.map(_._2)), "s"),
      "sink.alert_rows" -> Metric(streamed.size.toDouble, "count"),
      "ml.alert_precision" -> Metric(alertFraud.get.toDouble / (streamed.size max 1), "frac"),
      "batch.runs_per_s" -> Metric(3 / batches.map(_._2).sum, "1/s")
    ) ++ byPhase.flatMap { case (p, _, late, backlog, prog) =>
      def share(k: String) = prog.map(durations(_, k)).sum / prog.map(trigger).sum.max(1)
      Seq(
        s"stream.batches.${p.name}" -> Metric(prog.size.toDouble, "count"),
        s"stream.rows_per_batch_p50.${p.name}" ->
          Metric(Stats.median(prog.map(_.numInputRows.toDouble)), "count"),
        s"stream.backlog_max_rows.${p.name}" -> Metric(backlog.toDouble, "count"),
        s"stream.add_batch_frac.${p.name}" -> Metric(share("addBatch"), "frac"),
        s"stream.planning_frac.${p.name}" -> Metric(share("queryPlanning"), "frac"),
        s"stream.wal_frac.${p.name}" -> Metric(share("walCommit"), "frac"),
        s"gen.late_frac.${p.name}" -> Metric(late, "frac"))
    }
    Outcome(
      correct = failed == 0, attempted = (blocks + 1L) * total + 3, failed = failed,
      e2e = Map(
        "setup_s" -> Metric(Stats.median(setups.map(_._2)), "s"),
        "batch_s" -> Metric(Stats.median(batches.map(_._2)), "s"),
        "ops_per_s" -> Metric(burstRps, "1/s"),
        "op_p50_ms" -> Metric(Stats.median(lat), "ms")),
      layer = layer,
      detail = Map("op_p90_ms" -> Stats.pct(lat, 90),
        "events" -> total, "alerts" -> streamed.size, "burst_s" -> burstS,
        "batch_fraud" -> batchFraud.size, "missed_events" -> missedEvents,
        "wrong_alerts" -> wrongAlerts, "burst_wrong_alerts" -> burstWrong,
        "sustained_rps" -> sustained.lastOption.map(_._1.rate).getOrElse(0),
        "bulk_score_rps" -> BurstRepeats * total / Stats.median(batches.map(_._2)),
        "per_rate" -> byPhase.map { case (p, l, late, backlog, prog) =>
          val (tailPct, tailMs) = Stats.tail(l)
          p.name -> Map("rate" -> p.rate, "events" -> p.n, "alerts" -> l.size,
            "alert_p50_ms" -> Stats.median(l), "alert_tail_pct" -> tailPct,
            "alert_tail_ms" -> tailMs,
            "batches" -> prog.size, "backlog_max_rows" -> backlog,
            "late_frac" -> late,
            "trigger_ms_p50" -> Stats.median(prog.map(trigger)),
            "trigger_ms_tail" -> Stats.tail(prog.map(trigger))._2)
        }.toMap))
  }

  /** Rows per second of `ScoringStream.parse` and of
    * `FraudPipeline.predict` on a static frame the size of a rate's
    * median batch (median of five runs); traced runs only. */
  private def staticRates(spark: SparkSession, model: PipelineModel,
      wire: IndexedSeq[String], rows: Seq[(String, Int)]): Map[String, Metric] = {
    import spark.implicits._
    rows.flatMap { case (name, n0) =>
      val n = n0 max 1
      val df = wire.take(n).toDF("value")
      val parsed = ScoringStream.parse(df).cache()
      parsed.count()
      def rate(layer: String, what: String)(body: => Unit) = Metric(
        n / Stats.median((1 to 5).map(_ =>
          Stats.timed(Trace.span(layer, what, s"static.$name")(body))._2)), "1/s")
      val out = Seq(
        s"sources.parse_rows_per_s.$name" -> rate("sources", "ScoringStream.parse")(
          Results.noop(ScoringStream.parse(df))),
        s"ml.transform_rows_per_s.$name" -> rate("ml", "FraudPipeline.predict")(
          Results.noop(FraudPipeline.predict(model, parsed))))
      parsed.unpersist()
      out
    }.toMap
  }

  private def durations(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)

  private def trigger(p: StreamingQueryProgress): Double =
    durations(p, "triggerExecution")

  /** Send one phase's events on schedule. Returns the share of events
    * sent more than 5 ms after their scheduled time, and the largest
    * backlog (sent but not yet counted by the stream) seen. */
  private def drive(p: Phase, input: MemoryStream[String], wire: IndexedSeq[String],
      sched: Array[Long], stats: ScoringStream.StatsAccumulator,
      before: Int): (Double, Long) = {
    var late = 0
    var backlog = 0L
    var i = 0
    val t0 = System.nanoTime()
    p.offsetsNs.indices.foreach(k => sched(p.first + k) = t0 + p.offsetsNs(k))
    while (i < p.n) {
      val now = System.nanoTime()
      var j = i
      while (j < p.n && sched(p.first + j) <= now) j += 1
      if (j > i) {
        input.addData((i until j).map(k => wire(p.first + k)))
        val sentAt = System.nanoTime()
        (i until j).foreach(k => if (sentAt - sched(p.first + k) > 5000000L) late += 1)
        backlog = backlog max (before + j - stats.totalRecords)
        i = j
      } else LockSupport.parkNanos((sched(p.first + i) - now) min 1000000L)
    }
    (late.toDouble / p.n.max(1), backlog)
  }

  /** Read and resample the input, fit the model, warm the scoring path. */
  private def setup(spark: SparkSession, a: Args, phaseS: Double)
      : (Pool, PipelineModel, Seq[Phase]) = {
    val txns = Trace.span("sources", "Transactions.fromEvents")(
      Transactions.fromEvents(spark, a.data).cache())
    val pool = Trace.span("sources", "resample")(new Pool(txns, a.seed))
    val model = Trace.span("ml", "FraudPipeline.train")(
      FraudPipeline.train(txns, weighted = true))
    Trace.span("ml", "FraudPipeline.predict", "warmup") {
      import spark.implicits._
      val sample = (0 until 200).map(pool.wireRow).toDF("value")
      Results.noop(FraudPipeline.predict(model, ScoringStream.parse(sample)))
    }
    txns.unpersist()
    val rng = new Random(a.seed)
    var first = 0
    val phases = RateNames.zip(a.rates).map { case (name, rate) =>
      val offs = Iterator.iterate(0.0)(t => t - math.log(1 - rng.nextDouble()) / rate)
        .drop(1).takeWhile(_ < phaseS).map(t => (t * 1e9).toLong).toArray
      val p = Phase(name, rate, offs, first)
      first += offs.length
      p
    }
    pool.extend(first)
    (pool, model, phases)
  }
}

/** Seeded uniform resample of the transaction rows as JSON wire rows,
  * each with a unique `nameOrig` ("E" + its index) as the event id. */
final class Pool(txns: DataFrame, seed: Long) {
  private val rows = txns.select(to_json(struct(col("*"))))
    .collect().map(r => Pool.split(r.getString(0)))
  private val rng = new Random(seed)
  private val picks = scala.collection.mutable.ArrayBuffer.empty[(String, String)]

  def extend(n: Int): Unit =
    while (picks.size < n) picks += rows(rng.nextInt(rows.length))

  def wireRow(i: Int): String = wireRow(i, i)

  /** The i-th resampled row, sent with event id `id`. */
  def wireRow(i: Int, id: Int): String = {
    extend(i + 1)
    val (pre, post) = picks(i)
    s"${pre}E$id$post"
  }
}

object Pool {
  private val Key = "\"nameOrig\":\""

  /** Split a wire row around its `nameOrig` value. */
  def split(js: String): (String, String) = {
    val a = js.indexOf(Key) + Key.length
    (js.substring(0, a), js.substring(js.indexOf('"', a)))
  }

  def idOf(js: String): Int = {
    val a = js.indexOf(Key) + Key.length
    idOfName(js.substring(a, js.indexOf('"', a)))
  }

  def idOfName(name: String): Int = name.stripPrefix("E").toInt
}
