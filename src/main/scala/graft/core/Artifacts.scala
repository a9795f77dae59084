package graft.core

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.GraftSqlShims

/** The one registry of derived artifacts: every structure the engine
  * derives once and reuses — an in-memory frame or value, a file
  * written beside a dataset, a per-call-site checkpoint — is owned
  * here, and the registry alone decides its key, scope, freshness
  * and release.
  *
  *   - [[memo]]: an in-memory artifact (a checkpointed frame, a
  *     fitted model, a sampled decision, a case class of frames),
  *     keyed `(applicationId, dir, indexVersion(dir), name)`. The
  *     application id keeps a new SparkContext from reading blocks
  *     that died with the old one; the version makes a refreshed
  *     index invalidate everything derived from it. A miss at a newer
  *     version unpersists the superseded generation.
  *   - [[built]]: an on-disk artifact written once per (JVM, dir,
  *     name) — the index families, layout copies, the ANN corpus.
  *     Files outlive a SparkContext, so the key carries no
  *     application id. [[rebuilt]] re-writes one in place and bumps
  *     the version.
  *   - [[slot]] / [[slotLazy]]: a per-invocation checkpoint (not
  *     memoized) of which at most one generation per
  *     `(application, dir, name, thread)` is live; see [[slot]].
  *   - [[release]]: unpersists every memo and slot generation of a
  *     dataset, for a long-lived process that is done with it.
  *
  * The rule: the version is bumped only where already-readable files
  * change ([[rebuilt]], [[bumpVersion]]) — never on a first build,
  * since nothing can have read files that did not exist. Computes
  * may re-enter the registry (a memo built from another memo), so no
  * map-wide lock is held while computing: two racing misses may both
  * compute, the first insert wins and the loser's frames are freed.
  * Freeing a generation, by supersession or [[release]], must not
  * race a reader of it — like any materialized-view refresh, run it
  * between serves of that dataset. */
object Artifacts {

  private case class MemoKey(app: String, dir: String, version: Long,
      name: String)
  private case class SlotKey(app: String, dir: String, name: String,
      thread: Long)

  private val versions = TrieMap.empty[String, Long]
  private val files = TrieMap.empty[(String, String), Any]
  private val memos = TrieMap.empty[MemoKey, Any]
  private val slots = TrieMap.empty[SlotKey, DataFrame]

  private def app(s: SparkSession): String = s.sparkContext.applicationId

  /** Monotonic per-dataset index version: how many times files of
    * `dir` that could already have been read were rewritten in this
    * JVM. */
  def indexVersion(dir: String): Long = versions.getOrElse(dir, 0L)

  /** Mark `dir`'s files changed outside [[rebuilt]] (an out-of-band
    * append, a maintenance refresh): every memo of `dir` recomputes on
    * its next use. */
  def bumpVersion(dir: String): Unit =
    versions.updateWith(dir)(v => Some(v.getOrElse(0L) + 1L))

  def built[A](dir: String, name: String)(build: => A): A =
    files.getOrElseUpdate((dir, name), build).asInstanceOf[A]

  def rebuilt[A](dir: String, name: String)(build: => A): A = {
    val a = build
    files.put((dir, name), a)
    bumpVersion(dir)
    a
  }

  def memo[A](s: SparkSession, dir: String, name: String)(
      compute: => A): A = {
    val k = MemoKey(app(s), dir, indexVersion(dir), name)
    memos.get(k) match {
      case Some(a) => a.asInstanceOf[A]
      case None =>
        val a = compute
        memos.putIfAbsent(k, a) match {
          case Some(winner) => free(a); winner.asInstanceOf[A]
          case None =>
            // older generations of this artifact: a dead context's
            // blocks are gone already, the live context's are freed
            memos.keys.filter(o => o.dir == dir && o.name == name &&
                (o.app != k.app || o.version < k.version))
              .foreach(o => memos.remove(o).foreach(v =>
                if (o.app == k.app) free(v)))
            a
        }
    }
  }

  /** `df.localCheckpoint()` registered as the live generation of
    * `(dir, name)` for this application and thread; the generation it
    * supersedes is unpersisted at once. Nothing is reused: every call
    * computes its own checkpoint. It exists for builders whose
    * RETURNED frame reads the checkpoint lazily, so the builder cannot
    * free it — and a `localCheckpoint` is otherwise reclaimed only by
    * driver GC, which over a long sweep piles dead generations into
    * executor storage (measured as 2-3× slowdowns of queries that run
    * in ~2 s alone).
    *
    * Scoping by thread keeps two overlapping builders of one site —
    * necessarily on different threads — from freeing each other's
    * live generation; eager freeing applies only to what the same
    * thread superseded, the sequential sweep pattern. The cost is at
    * most one live generation per (site, thread). Unsupported: one
    * thread building the same site twice and only then reading the
    * FIRST result — a freed localCheckpoint cannot recompute, so the
    * read fails with a missing block. Consume each result before
    * rebuilding its site on the same thread. */
  def slot(s: SparkSession, dir: String, name: String)(
      df: DataFrame): DataFrame =
    register(s, dir, name, df.localCheckpoint())

  /** [[slot]], but lazy: the blocks materialize inside the first
    * consuming action instead of a dedicated checkpoint job — for
    * slots whose first consumer runs in the same invocation anyway, so
    * the slot costs no extra scheduler round-trip. */
  def slotLazy(s: SparkSession, dir: String, name: String)(
      df: DataFrame): DataFrame =
    register(s, dir, name, df.localCheckpoint(false))

  private def register(s: SparkSession, dir: String, name: String,
      ck: DataFrame): DataFrame = {
    slots.put(SlotKey(app(s), dir, name, Thread.currentThread().getId),
      ck).foreach(free)
    ck
  }

  /** Unpersist every memo and slot generation of `dir` (entries of a
    * dead context are dropped; their blocks went with it). The next
    * use recomputes. On-disk artifacts stay: they are files, not
    * memory. */
  def release(s: SparkSession, dir: String): Unit = {
    val live = app(s)
    memos.keys.filter(_.dir == dir).foreach(k =>
      memos.remove(k).foreach(v => if (k.app == live) free(v)))
    slots.keys.filter(_.dir == dir).foreach(k =>
      slots.remove(k).foreach(v => if (k.app == live) free(v)))
  }

  /** Unpersist the checkpoints an artifact holds: a frame, or the
    * frames inside a case class or tuple of them. */
  private def free(v: Any): Unit = v match {
    case d: Dataset[_] => GraftSqlShims.unpersistLocalCheckpoint(d.toDF())
    case p: Product => p.productIterator.foreach(free)
    case _ => ()
  }
}
