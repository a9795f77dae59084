package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.Tables
import graft.sources.{IndexStore, Maintenance}

/** dedup_index: index build beside serve, one client.
  *
  * The seed picks which `documents` and `embeddings` rows go into a
  * fresh dataset copy. Every public `IndexStore.ensure*` is then called
  * in `Maintenance.refreshAll`'s order, and `refreshAll` derives the
  * serving views and the probe context: together, the index build.
  * As every family exists by then, that `refreshAll` refreshes the views
  * only, so it is also the view refresh; a second one after serving
  * would repeat the same work, and the run cannot afford it.
  * Serve rounds follow, alternating each `*_indexed` query with its
  * scan twin (the registered query whose oracle SQL is identical).
  *
  * Check: each indexed twin's result hash equals its scan twin's, and
  * the view refresh raises `IndexStore.indexVersion`.
  */
object DedupIndex {
  val Families: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "trgm" -> IndexStore.ensureTrgmPostings _,
    "word" -> IndexStore.ensureWordPostings _,
    "minhash" -> IndexStore.ensureMinhash _,
    "simhash" -> IndexStore.ensureSimhash _,
    "gram13" -> IndexStore.ensureGram13 _,
    "winnow" -> IndexStore.ensureWinnow _,
    "cdc" -> IndexStore.ensureCdcChunks _,
    "containment" -> IndexStore.ensureContainment _,
    "catalog" -> IndexStore.ensureCatalog _,
    "graph_edges" -> IndexStore.ensureGraphEdges _,
    "ivf" -> IndexStore.ensureIvf _,
    "pq" -> IndexStore.ensurePq _)

  /** Registry objects that own an indexed twin. */
  val Objects: Seq[String] = Registry.byObject.map(_._1)

  /** Share of documents and embeddings rows kept in a dataset copy. */
  val Keep = 0.9

  /** Dataset copies made in set-up; `setup_s` is their median time. */
  val Copies = 5

  def run(spark: SparkSession, a: Args): Outcome = {
    val rng = new Random(a.seed)
    // Set-up: make a fresh seeded dataset copy, Copies times (each copy
    // is new to the index store); the last one is served.
    val copies = (1 to Copies).map { i =>
      val dir = s"${a.runDir}/dataset$i"
      dir -> Stats.timed(Trace.span("sources", "dataset_copy") {
        copy(spark, a.data, dir, rng.nextLong())
      })._2
    }
    val dir = copies.last._1

    val t0 = System.nanoTime()
    val families = Families.map { case (f, ensure) =>
      f -> Stats.timed(Trace.span("index", s"ensure.$f")(ensure(spark, dir)))._2
    }
    val builtVersion = IndexStore.indexVersion(dir)
    val residentBuild = Main.residentMb(spark)
    val (report, refreshS) = Stats.timed(Trace.span("index",
      "Maintenance.refreshAll")(Maintenance.refreshAll(spark, dir)))
    val buildS = Stats.secondsSince(t0)
    val residentRefresh = Main.residentMb(spark)
    val steps = families :+ ("views" -> refreshS)

    val pairs = twins(dir)
    val unpaired = Registry.byObject.flatMap(_._2.keys)
      .filter(q => q.endsWith("_indexed") && !pairs.exists(_._1 == q))
    val ops = new Ops(spark, dir)
    // Whole rounds, as many as fit in the run's seconds (at least one).
    val t1 = System.nanoTime()
    var rounds = 0
    while (rounds == 0 || Stats.secondsSince(t1) * (rounds + 1) / rounds <= a.seconds) {
      rng.shuffle(pairs).foreach { case (ix, scan) =>
        ops.run(ix, rounds.toString)
        ops.run(scan, rounds.toString)
      }
      rounds += 1
    }
    val serveS = Stats.secondsSince(t1)
    val residentServe = Main.residentMb(spark)

    // Within each round, an indexed twin and its scan twin must agree.
    val twinOf = pairs.flatMap { case (i, s) => Seq(i -> s, s -> i) }.toMap
    val hashes = ops.done.map(o => (o.tag, o.query) -> o.hash).toMap
    // --corrupt: the first pair's indexed twin is checked in round 0
    // against a deliberately wrong hash, so the check must fail.
    val byRound = if (!a.corrupt) hashes
      else hashes.updated(("0", pairs.head._2), Some("0:0"))
    val bad = ops.done.filter(o => o.hash.isEmpty ||
      o.hash != byRound((o.tag, twinOf(o.query))))
    val versionOk = report.version > builtVersion
    val failed = bad.size.toLong + (if (versionOk) 0 else 1)
    val (idxBytes, idxFiles) = Dirs.size(IndexStore.indexRoot(dir))
    val lat = ops.done.map(_.ms)
    Outcome(
      correct = failed == 0, attempted = ops.done.size.toLong + 1, failed = failed,
      e2e = Map(
        "setup_s" -> Metric(Stats.median(copies.map(_._2)), "s"),
        "batch_s" -> Metric(buildS, "s"),
        "ops_per_s" -> Metric(ops.done.size / serveS, "1/s"),
        "op_p50_ms" -> Metric(Stats.median(lat), "ms")),
      layer = Map(
        "setup.input_s" -> Metric(Stats.median(copies.map(_._2)), "s"),
        "index.bytes_mb" -> Metric(idxBytes / 1e6, "MB"),
        "index.files" -> Metric(idxFiles.toDouble, "count"),
        "storage.resident_mb.after_build" -> Metric(residentBuild, "MB"),
        "storage.resident_mb.after_serve" -> Metric(residentServe, "MB"),
        "storage.resident_mb.after_refresh" -> Metric(residentRefresh, "MB")) ++
        steps.map { case (f, t) => s"index.build_frac.$f" -> Metric(t / buildS, "frac") } ++
        ops.layerShares(Objects),
      detail = Map("op_p90_ms" -> Stats.pct(lat, 90), "build_steps_s" -> steps.toMap,
        "copy_s" -> copies.map(_._2),
        "pairs" -> pairs.map { case (i, s) => s"$i=$s" },
        "unpaired" -> unpaired, "rounds" -> rounds,
        "mismatched" -> bad.map(_.query).distinct,
        "view_refresh_s" -> refreshS, "index_version" -> report.version))
  }

  /** Indexed queries paired with the scan query whose oracle SQL for
    * this dataset is the same string. */
  def twins(dir: String): Seq[(String, String)] = {
    val oracle = SparkEntry.oracleSqlFor(dir)
    val names = Registry.byObject.flatMap(_._2.keys).sorted
    names.filter(_.endsWith("_indexed")).flatMap { ix =>
      names.find(s => s != ix && !s.endsWith("_indexed") &&
        oracle.get(s).exists(x => oracle.get(ix).contains(x))).map(ix -> _)
    }
  }

  /** A dataset copy with a seeded subset of documents and embeddings
    * and every other table unchanged. */
  def copy(spark: SparkSession, from: String, to: String, seed: Long): Unit = {
    Files.createDirectories(Paths.get(to))
    Seq("documents", "embeddings").foreach { t =>
      Tables.load(spark, from, t).filter(rand(seed) < Keep).coalesce(1)
        .write.mode("overwrite").parquet(s"$to/$t.parquet")
    }
    Files.list(Paths.get(from)).forEach { p =>
      val name = p.getFileName.toString
      if (!name.startsWith("documents") && !name.startsWith("embeddings"))
        Files.copy(p, Paths.get(to, name), StandardCopyOption.REPLACE_EXISTING)
    }
  }
}
