package graft.core

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{DedupCluster, GraphQueries, PipelineQueries,
  SimilarityQueries, SkewJoin, TextQueries}
import graft.sources.{IndexStore, Maintenance}

/** The artifact registry's contracts: memo generations are keyed on
  * the index version and a superseded generation is unpersisted;
  * `release` frees every checkpoint a dataset's memos and slots hold;
  * nested memos compute once; a first build leaves the version alone;
  * and slots keep their per-(key, thread) eager-free contract — two
  * OVERLAPPING builders of one site, necessarily on different
  * threads, never free a generation the other is still reading, while
  * within one thread the superseded generation is freed at once. */
class ArtifactsSpec extends SparkSpec {

  private val created = scala.collection.mutable.Buffer.empty[Path]

  override def afterAll(): Unit = {
    try created.foreach { root =>
      val s = Files.walk(root)
      val all = try s.iterator().asScala.toSeq finally s.close()
      all.reverse.foreach(p =>
        try Files.deleteIfExists(p)
        catch { case _: java.io.IOException => () })
    } finally super.afterAll()
  }

  /** A copy of the sf0.001 tables under a new path: a dataset no
    * other suite has memoized, built an index for or bumped. */
  private def freshDir(): String = {
    val to = Files.createTempDirectory("graft_artifacts")
    created += to
    val from = java.nio.file.Paths.get(sfDir)
    val s = Files.walk(from)
    val all = try s.iterator().asScala.toSeq finally s.close()
    all.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q)
    }
    to.toString
  }

  private def persistent(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Unpersist drops the registry entry synchronously but the caller
    * may run on another thread than the free — poll briefly. */
  private def eventuallyGone(ids: Set[Int]): Set[Int] = {
    var left = persistent().intersect(ids)
    var tries = 0
    while (left.nonEmpty && tries < 50) {
      Thread.sleep(20)
      left = persistent().intersect(ids)
      tries += 1
    }
    left
  }

  test("a version bump makes the next memo a new generation and " +
      "unpersists the superseded one") {
    val dir = freshDir()
    // the probed index families exist first: this pins the memos,
    // not the index builds
    IndexStore.ensureCatalog(spark, dir)
    IndexStore.ensureMinhash(spark, dir)
    IndexStore.ensureGram13(spark, dir)
    val before = persistent()
    val ctx0 = PipelineQueries.probeCtx(spark, dir)
    val sh0 = SimilarityQueries.hashedShingleDocs(spark, dir)
    val nDocs = sh0.count()
    val gen0 = persistent() -- before
    assert(gen0.nonEmpty, "the memos registered no persistent RDD")
    assert(PipelineQueries.probeCtx(spark, dir) eq ctx0)
    assert(SimilarityQueries.hashedShingleDocs(spark, dir) eq sh0)

    IndexStore.bumpVersion(dir)
    val ctx1 = PipelineQueries.probeCtx(spark, dir)
    val sh1 = SimilarityQueries.hashedShingleDocs(spark, dir)
    assert(ctx1 ne ctx0, "probeCtx must be a new generation")
    assert(sh1 ne sh0, "hashedShingleDocs must be a new generation")
    assert(sh1.count() == nDocs)
    val left = eventuallyGone(gen0)
    assert(left.isEmpty,
      s"superseded generation still persistent: RDDs $left")
  }

  test("release frees every checkpoint the memoized queries hold") {
    val dir = freshDir()
    val before = persistent()
    DedupCluster.ddClusterCc(spark, dir).collect()
    SimilarityQueries.ddSimhash(spark, dir).collect()
    SimilarityQueries.ddMinhashLsh(spark, dir).collect()
    TextQueries.tWinnowFp(spark, dir).collect()
    GraphQueries.g5Pagerank(spark, dir).collect()
    GraphQueries.g6Triangles(spark, dir).collect()
    PipelineQueries.probeCtx(spark, dir)
    PipelineQueries.pipeCorpusBuild(spark, dir).collect()
    SkewJoin.j6SkewSalted(spark, dir).collect()
    val held = persistent() -- before
    assert(held.nonEmpty, "the queries registered no persistent RDD")
    Artifacts.release(spark, dir)
    val left = eventuallyGone(held)
    val names = spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => left(id) }.values.map(_.toDebugString)
    assert(left.isEmpty,
      s"still persistent after release: ${names.mkString("\n")}")
    // released memos recompute on their next use
    assert(DedupCluster.ddClusterCc(spark, dir).count() >= 0)
  }

  test("a nested memo computes once: ddClusterCc returns the same " +
      "frame") {
    val dir = freshDir()
    val a = DedupCluster.ddClusterCc(spark, dir)
    val b = DedupCluster.ddClusterCc(spark, dir)
    assert(a eq b)
    assert(SimilarityQueries.hashedShingleDocs(spark, dir) eq
      SimilarityQueries.hashedShingleDocs(spark, dir))
  }

  test("a first build leaves the index version at 0; refreshAll " +
      "raises it") {
    val dir = freshDir()
    IndexStore.ensureCatalog(spark, dir)
    IndexStore.ensureMinhash(spark, dir)
    IndexStore.ensureGraphEdges(spark, dir)
    IndexStore.ensureBaseClusters(spark, dir)
    assert(IndexStore.indexVersion(dir) == 0L,
      "nothing can have read files that did not exist")
    val rep = Maintenance.refreshAll(spark, dir)
    assert(rep.version > 0L && IndexStore.indexVersion(dir) == rep.version)
  }

  test("two overlapping builders of the same site both read their " +
      "own live generation (no lost-block failure)") {
    val (dir, name) = ("artifacts-spec", "overlap")
    val nThreads = 4
    val rounds = 5
    val errors =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // Each thread repeatedly: builds a slot-keyed checkpoint of a
    // thread-tagged frame, yields so the threads interleave, then
    // CONSUMES it. Under global (thread-blind) slots, thread B's
    // put would free thread A's generation between A's build and A's
    // read — a missing-block failure; per-thread slots make the
    // interleaving safe.
    val threads = (1 to nThreads).map { t =>
      new Thread(() => {
        try {
          for (r <- 1 to rounds) {
            val df = spark.range(100)
              .select((col("id") + lit(t * 1000 + r)).as("v"))
            val ck = Artifacts.slot(spark, dir, name)(df)
            Thread.sleep(10) // force overlap with the other builders
            val got = ck.agg(sum(col("v"))).head().getLong(0)
            val want = (0L until 100L).map(_ + t * 1000 + r).sum
            assert(got == want, s"thread $t round $r: $got != $want")
          }
        } catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty,
      s"overlapping builders failed: ${errors.asScala.toList}")
  }

  test("same-thread supersession still frees the previous generation " +
      "eagerly") {
    val (dir, name) = ("artifacts-spec", "eager")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val g1 = Artifacts.slot(spark, dir, name)(spark.range(10).toDF("v"))
    g1.count()
    val g1Ids = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(g1Ids.nonEmpty, "checkpoint registered no persistent RDD")
    Artifacts.slot(spark, dir, name)(spark.range(20).toDF("v")).count()
    // the superseded generation leaves the persistent-RDD registry
    // the moment the successor registers (unpersist is non-blocking
    // for the blocks, synchronous for the registry — poll briefly)
    val freed = (1 to 50).exists { _ =>
      val gone = (spark.sparkContext.getPersistentRDDs.keySet
        .intersect(g1Ids)).isEmpty
      if (!gone) Thread.sleep(20)
      gone
    }
    assert(freed, "previous generation still registered as persistent")
  }
}
