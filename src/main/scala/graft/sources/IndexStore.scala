package graft.sources

import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Artifacts, PortableHash, Tables}

/** Persisted secondary-index surfaces: a positional trigram postings
  * table over `documents` and an IVF (coarse-quantizer) index over
  * `embeddings`, both written as partitioned parquet next to a
  * deterministic per-dataset root.
  *
  * Why this exists (VERDICT r12 task #1): the top of the r12 profile
  * was per-query index (re)construction — `t_trgm_like` re-derived
  * doc trigrams from the raw corpus scan on every invocation, and the
  * IVF path re-fit its quantizer per JVM without ever persisting it.
  * A 100 TB index is BUILT once (and maintained incrementally as data
  * arrives) and PROBED many times; the build→serve split below is
  * that shape: `ensure*` is the build/maintenance path, and the
  * lookup queries read ONLY the index tables — never the base corpus.
  *
  * Layout:
  *   - trigram postings: one row per trigram occurrence
  *     (doc_id, gr, pos), hive-partitioned by `bucket` =
  *     portable-md5-60(gr) mod [[TrgmBuckets]]. A pattern's gram set
  *     maps to a small bucket subset, so the probe prunes partitions
  *     (visible as PartitionFilters) and pushes the gram equality
  *     into the parquet scan of just those files.
  *   - IVF: a 16-row `centroids` table (the index ROOT — what a
  *     distributed vector index keeps in its root node) plus an
  *     `assignments` table (vec_id, label, e) hive-partitioned by
  *     `cell`, so probing nprobe cells is partition pruning.
  *
  * Incremental maintenance follows the m11_incr_agg discipline
  * (MergeOps.scala): the base build covers doc_id % [[TrgmDeltaMod]]
  * < [[TrgmDeltaMod]]-1 and the remainder arrives as an APPENDED
  * delta — postings are fact rows (no aggregation state), so the
  * merge is a partition-aligned append and the merged table is
  * row-identical to a one-shot build (IndexStoreSpec pins this).
  *
  * Builds are memoized per (JVM, dataset) ([[Artifacts.built]]) and
  * written under a PROCESS-UNIQUE root (ADVICE r13): KMeans cell ids
  * depend on the fitting session's partitioning, so an index from
  * another JVM could disagree with this JVM's probe choices, and a
  * shared on-disk path would let a concurrent or later JVM overwrite
  * files this process — or a dumped oracle SQL — still reads. With
  * per-process roots every built index is immutable after its build:
  * the serve path, the specs, and the DuckDB compare (which runs AFTER
  * Verify exits and reads the path Verify interpolated) all see
  * exactly the bytes this process wrote. Roots live under the system
  * temp dir and are left for the OS to reap — they MUST survive
  * process exit for the oracle compare.
  */
object IndexStore {

  /** Unique token for this JVM (pid + start time): namespaces every
    * on-disk artifact a graft process builds, so concurrent JVMs on
    * one host (test suite alongside Bench/Verify, parallel CI jobs)
    * can never clobber each other's indexes mid-read. */
  val processToken: String = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    s"p${rt.getPid}_${rt.getStartTime}"
  }

  /** Trigram postings hash-partition count. 64 keeps a 14-gram
    * pattern's probe inside ≤14/64 of the partition dirs — a visible
    * file-subset prune — while staying far above per-file overhead
    * at local scale. */
  val TrgmBuckets = 64

  /** Incremental-build split: doc_id % TrgmDeltaMod == TrgmDeltaMod-1
    * rows form the appended delta (~20% of the corpus at any SF). */
  val TrgmDeltaMod = 5

  /** IVF coarse-quantizer cells and probe width — same values the
    * in-memory r11 IVF used, so recall characteristics carry over. */
  val IvfK = 16
  val IvfNprobe = 2

  /** Incremental-build split for the IVF index (VERDICT r13 task #6,
    * the trigram [[TrgmDeltaMod]] discipline applied to vectors):
    * vec_id % IvfDeltaMod == IvfDeltaMod-1 rows are NOT part of the
    * quantizer fit — they arrive after the build and are appended via
    * [[appendIvf]], assigned to the nearest EXISTING centroid with no
    * re-fit, exactly how a 100 TB vector index absorbs new data
    * between periodic re-trainings. */
  val IvfDeltaMod = 5

  case class IvfPaths(centroids: String, assignments: String)

  /** Word-level inverted index (VERDICT r13 task #8): term-frequency
    * postings, a document-length sidecar, and a corpus-stats page —
    * the tables a BM25 / DSIR serving stack reads instead of
    * re-exploding the corpus. `source` is DENORMALIZED into the
    * postings (an index serves; it does not join back for per-doc
    * attributes), and `stats` holds one (n_docs, total_tokens) row
    * per build split — the serve side sums the ≤2 rows, so the
    * append path never has to re-aggregate state (the m11 merge
    * discipline applied to index statistics). */
  case class WordIndexPaths(postings: String, doclen: String,
      stats: String)

  /** Word postings hash-partition count: a |query-terms|-sized probe
    * prunes to ≤ that many of 64 partition dirs. */
  val WordBuckets = 64

  /** Per-dataset index version ([[Artifacts.indexVersion]]): raised
    * only where files that could already have been read change — the
    * serving-view refreshes below and [[bumpVersion]] — so every memo
    * derived from the indexes recomputes instead of serving a dead
    * generation. A first build does not raise it. A process that
    * mutates index files outside the refresh paths must call
    * [[bumpVersion]] itself (Maintenance.refreshAll does). */
  def indexVersion(dir: String): Long = Artifacts.indexVersion(dir)

  def bumpVersion(dir: String): Unit = Artifacts.bumpVersion(dir)

  /** Per-(process, dataset) index root under the system temp dir.
    * Process-unique so no other JVM can overwrite it (ADVICE r13);
    * durable past process exit, because the dumped oracle SQL
    * interpolates these paths and the DuckDB compare runs in a later
    * process. */
  def indexRoot(dir: String): java.nio.file.Path = {
    reapStaleRoots
    java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft_index",
      processToken, dir.replaceAll("[^A-Za-z0-9._-]", "_"))
  }

  /** Age past which another process's index root is garbage:
    * an exited JVM's root is only ever read again by the DuckDB
    * oracle compare, which runs within minutes of the Verify dump —
    * 12 h is orders of magnitude beyond that window. */
  val StaleRootMillis: Long = 12L * 3600 * 1000

  /** Best-effort reap of OTHER processes' expired index roots, once
    * per JVM — process-unique roots trade clobber-safety for /tmp
    * accumulation across rounds; this bounds the accumulation. Our
    * own root and any root younger than [[StaleRootMillis]] are
    * never touched; IO failures (e.g. a concurrent reaper) are
    * swallowed — reaping is hygiene, not correctness. */
  private lazy val reapStaleRoots: Unit = {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val cutoff = System.currentTimeMillis() - StaleRootMillis
    def listed(p: Path): Seq[Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq finally s.close()
    }
    def deleteTree(p: Path): Unit = {
      val s = Files.walk(p)
      val all = try s.iterator().asScala.toSeq finally s.close()
      all.reverse.foreach(f => try Files.deleteIfExists(f) catch {
        case _: java.io.IOException => ()
      })
    }
    def expired(p: Path): Boolean =
      try Files.getLastModifiedTime(p).toMillis < cutoff
      catch { case _: java.io.IOException => false }
    def reap(p: Path): Unit =
      try deleteTree(p) catch { case _: java.io.IOException => () }
    try {
      val tmp = Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
      val idx = tmp.resolve("graft_index")
      if (Files.isDirectory(idx))
        listed(idx)
          .filterNot(_.getFileName.toString == processToken)
          .filter(expired).foreach(reap)
      // the structured ANN corpus uses the same token-suffixed layout
      listed(tmp)
        .filter(_.getFileName.toString.startsWith("graft_ann_structured_"))
        .filterNot(_.getFileName.toString.endsWith(processToken))
        .filter(expired).foreach(reap)
    } catch { case _: java.io.IOException => () }
  }

  /** Pure-Scala twin of [[PortableHash.md5Hash60Composed]] mod
    * [[TrgmBuckets]] — lets the lookup side compute its pattern
    * grams' partition buckets as driver-side literals without a
    * Spark job (Md5Hash60Spec pins the Spark/Scala agreement). */
  def trgmBucketOf(gram: String): Int =
    (md5Hash60Local(gram) % TrgmBuckets).toInt

  /** Driver-side partition bucket of a query TERM in the word
    * postings layout — same portable-hash twin contract as
    * [[trgmBucketOf]]. */
  def wordBucketOf(w: String): Int =
    (md5Hash60Local(w) % WordBuckets).toInt

  private def md5Hash60Local(s: String): Long = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = digest.take(8).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** (doc_id, gr, pos 1-based, bucket) for every length-3 gram of
    * every doc in `docs` — generated map-side, no shuffle until the
    * partitioned write. */
  private[graft] def trgmPostingsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(1, greatest(length(text) - 2, 1)), " +
          "i -> substring(text, i, 3))")).as(Seq("idx", "gr")))
      // docs shorter than 3 chars yield one short pseudo-gram; a
      // 3-char pattern can never match them, so they carry no
      // postings at all
      .filter(length(col("gr")) === 3)
      .select(col("doc_id"), col("gr"),
        (col("idx") + 1).cast("int").as("pos"),
        pmod(PortableHash.md5Hash60Composed(col("gr")),
          lit(TrgmBuckets.toLong)).cast("int").as("bucket"))

  /** Build (base overwrite + delta append) the positional trigram
    * postings for `dir`'s documents; returns the table path. Once
    * per (JVM, dir). */
  def ensureTrgmPostings(s: SparkSession, dir: String): String =
    Artifacts.built(dir, "trgm") {
      val path = indexRoot(dir).resolve("trgm_postings").toString
      // fanOut (r21): every build below runs heavy per-doc compute
      // (shingling, gram hashing, chunking) that would otherwise
      // serialize inside the single-row-group scan task
      val docs = Tables.fanOut(Tables.documents(s, dir), "doc_id")
      def write(d: DataFrame, mode: String): Unit =
        trgmPostingsOf(d)
          // co-locate each bucket before the partitioned write so a
          // bucket's rows land in one file, sorted for row-group
          // locality on (gr, doc_id)
          .repartition(col("bucket"))
          .sortWithinPartitions("gr", "doc_id", "pos")
          .write.mode(mode).partitionBy("bucket").parquet(path)
      write(docs.filter(
        pmod(col("doc_id"), lit(TrgmDeltaMod.toLong))
          < TrgmDeltaMod - 1), "overwrite")
      // the incremental delta: same generation, same layout, appended
      // — the merge discipline of m11_incr_agg specialized to fact
      // rows (set union, no state to re-aggregate)
      write(docs.filter(
        pmod(col("doc_id"), lit(TrgmDeltaMod.toLong))
          === TrgmDeltaMod - 1), "append")
      path
    }

  /** (doc_id, w, tf, bucket) — term frequency of every distinct word
    * of every doc, bucket = portable-md5-60(w) mod [[WordBuckets]].
    * tf is a PER-DOC statistic, so the doc_id-keyed base/delta split
    * still appends losslessly: every (doc, w, tf) row is complete
    * within its split (IndexStoreSpec pins incremental ≡ one-shot,
    * like the trigram table). */
  private[graft] def wordPostingsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).cast("long").as("tf"),
        first(col("source")).as("source"))
      .select(col("doc_id"), col("w"), col("tf"), col("source"),
        pmod(PortableHash.md5Hash60Composed(col("w")),
          lit(WordBuckets.toLong)).cast("int").as("bucket"))

  /** Build (base overwrite + delta append, the [[ensureTrgmPostings]]
    * discipline on the same doc_id split) the word-level inverted
    * index for `dir`'s documents: bucket-partitioned tf postings plus
    * a (doc_id, dl, source) length sidecar. BM25/DSIR serving reads
    * ONLY these tables — the corpus text is never re-tokenized at
    * query time. Once per (JVM, dir). */
  def ensureWordPostings(s: SparkSession, dir: String): WordIndexPaths =
    Artifacts.built(dir, "word") {
      val root = indexRoot(dir)
      val paths = WordIndexPaths(
        root.resolve("word_postings").toString,
        root.resolve("word_doclen").toString,
        root.resolve("word_stats").toString)
      // fanOut (r21): every build below runs heavy per-doc compute
      // (shingling, gram hashing, chunking) that would otherwise
      // serialize inside the single-row-group scan task
      val docs = Tables.fanOut(Tables.documents(s, dir), "doc_id")
      def docsSplit(base: Boolean): DataFrame = docs.filter(
        if (base) pmod(col("doc_id"), lit(TrgmDeltaMod.toLong))
          < TrgmDeltaMod - 1
        else pmod(col("doc_id"), lit(TrgmDeltaMod.toLong))
          === TrgmDeltaMod - 1)
      def writePostings(d: DataFrame, mode: String): Unit =
        wordPostingsOf(d)
          .repartition(col("bucket"))
          .sortWithinPartitions("w", "doc_id")
          .write.mode(mode).partitionBy("bucket").parquet(paths.postings)
      def writeDoclen(d: DataFrame, mode: String): Unit =
        d.select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("dl"),
            col("source"))
          .transform(Tables.packForWrite)
          .write.mode(mode).parquet(paths.doclen)
      def writeStats(d: DataFrame, mode: String): Unit =
        d.select(size(split(col("text"), " ")).cast("long").as("dl"))
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(col("dl")).cast("long").as("total_tokens"))
          .coalesce(1)
          .write.mode(mode).parquet(paths.stats)
      writePostings(docsSplit(base = true), "overwrite")
      writePostings(docsSplit(base = false), "append")
      writeDoclen(docsSplit(base = true), "overwrite")
      writeDoclen(docsSplit(base = false), "append")
      writeStats(docsSplit(base = true), "overwrite")
      writeStats(docsSplit(base = false), "append")
      paths
    }

  /** Fit the IVF coarse quantizer (KMeans k=[[IvfK]], seed 42, the
    * same hyperparameters the in-memory path used) on the BASE split
    * (vec_id % [[IvfDeltaMod]] < [[IvfDeltaMod]]-1), persist the
    * centroid root table + cell-partitioned base assignments, then
    * absorb the remaining ~20% through [[appendIvf]] — so the
    * standing index every probe serves is itself the product of the
    * incremental-maintenance path, and the sim_ivf_* oracles certify
    * it end-to-end (the trigram-postings discipline). Once per
    * (JVM, dir). */
  def ensureIvf(s: SparkSession, dir: String): IvfPaths =
    Artifacts.built(dir, "ivf") {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val root = indexRoot(dir)
      val paths = IvfPaths(
        root.resolve("ivf_centroids").toString,
        root.resolve("ivf_assignments").toString)
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("e"))
      val base = emb.filter(
        pmod(col("vec_id"), lit(IvfDeltaMod.toLong)) < IvfDeltaMod - 1)
        .withColumn("fv", array_to_vector(col("e")))
      // maxIter 5 / random seeded init: a coarse quantizer only
      // routes probes — see the r11 IVF notes; recall is pinned by
      // the probed-cell invariant spec, not centroid quality
      val model = new KMeans().setK(IvfK).setSeed(42L).setMaxIter(5)
        .setInitMode("random")
        .setFeaturesCol("fv").setPredictionCol("cell")
        .fit(base)
      model.transform(base)
        .select(col("vec_id"), col("label"), col("e"), col("cell"))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(paths.assignments)
      val spark = s
      import spark.implicits._
      model.clusterCenters.zipWithIndex.toSeq
        .map { case (c, i) => (i, c.toArray.toSeq) }
        .toDF("cell", "centroid")
        .coalesce(1)
        .write.mode("overwrite").parquet(paths.centroids)
      appendIvf(s, paths, emb.filter(
        pmod(col("vec_id"), lit(IvfDeltaMod.toLong)) === IvfDeltaMod - 1))
      paths
    }

  /** MinHash dedup index parameters — the SAME (nHashes, bands)
    * the scan-side dd_minhash_lsh uses, so the indexed serve is a
    * drop-in twin with an identical collision curve. */
  val MhHashes = 32
  val MhBands = 4

  /** Cluster-layout banding (8 bands × 4 rows — the steeper recall
    * curve DedupCluster uses at J≥0.85, vs the 4×8 search layout in
    * `bands`), persisted since r18 for the incremental-clustering
    * serve. Same 32-hash signature, second slicing. */
  val MhClusterBands = 8

  case class MinhashPaths(shingles: String, bands: String,
      cbands: String, cstats: String)

  /** Persisted MinHash dedup index (the trigram/word/IVF build→serve
    * discipline applied to the near-dup family): a shingle-hash
    * fingerprint store (doc_id, hs — the exact-verify input) and a
    * banded signature table (doc_id, band, bhash — the candidate-
    * generation input), band-partitioned. At 100 TB near-dup is not
    * a query you re-derive from raw text per run — signatures are
    * computed once per document on ingest and maintained as rows
    * arrive; both tables are per-doc fact rows, so the base+delta
    * split appends losslessly (incremental ≡ one-shot, pinned by
    * MinhashIndexSpec, and the serve twin's hash-equality to the
    * scan twin certifies the persisted content end-to-end). Once per
    * (JVM, dir). */
  /** Per-doc MinHash signature projection — doc_id, hs (the 3-gram
    * shingle hashes, the exact-verify fingerprint), sig (the 32-hash
    * MinHash signature). ONE spelling shared by the index build and
    * the ingest batch probe (PipelineQueries.flagBatch), so a
    * signature computed from ARRIVING text can never diverge from
    * the persisted index content (ADVICE r19: the batch probe used
    * to read the batch docs' own signatures back from the standing
    * index, which silently admitted genuinely new doc_ids). */
  def minhashShingles(s: SparkSession, d: DataFrame): DataFrame = {
    d.withColumn("words", split(col("text"), " "))
      .select(col("doc_id"),
        transform(
          graft.operators.SimilarityQueries.wordGramExpr("words", 3),
          g => xxhash64(g)).as("hs"))
      .withColumn("sig",
        call_function("minhash_sig", col("hs"), lit(MhHashes)))
  }

  /** Cluster-layout (8×4) banding of a [[minhashShingles]] frame —
    * doc_id, band, bhash. Shared build/probe spelling, as above. */
  def clusterBandsOf(sh: DataFrame): DataFrame = {
    val crows = MhHashes / MhClusterBands
    sh.select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(MhClusterBands - 1)),
          b => struct(b.as("band"),
            xxhash64(slice(col("sig"), b * crows + 1, lit(crows)))
              .as("bhash")))).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.bhash").as("bhash"))
  }

  /** Per-doc distinct-free 13-gram hash projection — doc_id, g.
    * Shared build/probe spelling, as above. */
  def gram13Of(d: DataFrame): DataFrame =
    d.withColumn("words", split(col("text"), " "))
      .select(col("doc_id"),
        explode(transform(
          graft.operators.SimilarityQueries.wordGramExpr("words", 13),
          g => xxhash64(g))).as("g"))

  def ensureMinhash(s: SparkSession, dir: String): MinhashPaths =
    Artifacts.built(dir, "minhash") {
      val root = indexRoot(dir)
      val paths = MinhashPaths(
        root.resolve("mh_shingles").toString,
        root.resolve("mh_bands").toString,
        root.resolve("mh_cbands").toString,
        root.resolve("mh_cstats").toString)
      // fanOut (r21): every build below runs heavy per-doc compute
      // (shingling, gram hashing, chunking) that would otherwise
      // serialize inside the single-row-group scan task
      val docs = Tables.fanOut(Tables.documents(s, dir), "doc_id")
      val rows = MhHashes / MhBands
      def write(d: DataFrame, mode: String): Unit = {
        val sh = minhashShingles(s, d)
          .localCheckpoint() // feeds BOTH table writes below
        Tables.packForWrite(sh.select(col("doc_id"), col("hs")))
          .write.mode(mode).parquet(paths.shingles)
        sh.select(col("doc_id"),
            explode(transform(sequence(lit(0), lit(MhBands - 1)),
              b => struct(b.as("band"),
                xxhash64(slice(col("sig"), b * rows + 1, lit(rows)))
                  .as("bhash")))).as("bk"))
          .select(col("doc_id"), col("bk.band").as("band"),
            col("bk.bhash").as("bhash"))
          .repartition(col("band"))
          .write.mode(mode).partitionBy("band").parquet(paths.bands)
        val cband = clusterBandsOf(sh)
          .localCheckpoint() // feeds the banded write AND the census
        cband
          .repartition(col("band"))
          .write.mode(mode).partitionBy("band").parquet(paths.cbands)
        // additive bucket census of the cluster banding (count +
        // min-id rep are both mergeable, the m11 discipline): the
        // incremental-clustering serve re-sums these partial rows
        // instead of re-scanning + re-grouping the full banded table
        cband.groupBy(col("band"), col("bhash"))
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("rep"))
          .write.mode(mode).parquet(paths.cstats)
        GraftSqlShims.unpersistLocalCheckpoint(cband)
        GraftSqlShims.unpersistLocalCheckpoint(sh)
      }
      write(docs.filter(
        pmod(col("doc_id"), lit(TrgmDeltaMod.toLong))
          < TrgmDeltaMod - 1), "overwrite")
      write(docs.filter(
        pmod(col("doc_id"), lit(TrgmDeltaMod.toLong))
          === TrgmDeltaMod - 1), "append")
      paths
    }

  case class SimhashPaths(sigs: String)

  /** Persisted SimHash near-dup index (VERDICT r15 task #4 — the
    * last dedup family member still recomputing signatures per run):
    * one probe-keyed signature table (doc_id, simhash, k), hive-
    * partitioned by `combo`, holding each document's 32-bit
    * majority-vote signature exploded into its
    * [[graft.operators.SimilarityQueries.ShCombos]] 5-nibble probe
    * keys (the Manku block-combination multi-index — the r17 layout;
    * the previous 4×8-bit banding had 256 buckets per band and was
    * Θ(n²/128) at candidate time). Unlike MinHash there is no
    * separate fingerprint store — the hamming verify is
    * bit_count(xor) of the signatures themselves, which travel with
    * the probe rows, so ONE table serves both candidate generation
    * (partition-local equi-join on (combo, k)) and verification.
    * Rows are per-doc facts, so the doc-keyed base+delta split
    * appends losslessly (incremental ≡ one-shot, pinned by
    * SimhashIndexSpec; the serve twin's hash-equality to the scan
    * twin certifies the content end-to-end). Once per (JVM, dir). */
  def ensureSimhash(s: SparkSession, dir: String): SimhashPaths =
    Artifacts.built(dir, "simhash") {
      val paths = SimhashPaths(
        indexRoot(dir).resolve("simhash_sigs").toString)
      // fanOut (r21): every build below runs heavy per-doc compute
      // (shingling, gram hashing, chunking) that would otherwise
      // serialize inside the single-row-group scan task
      val docs = Tables.fanOut(Tables.documents(s, dir), "doc_id")
      def write(d: DataFrame, mode: String): Unit =
        d.withColumn("words", split(col("text"), " "))
          .select(col("doc_id"),
            transform(
              graft.operators.SimilarityQueries.wordGramExpr("words", 3),
              g => graft.core.PortableHash.md5Hash60(g)).as("hs"))
          .select(col("doc_id"),
            call_function("simhash32", col("hs")).as("simhash"))
          .select(col("doc_id"), col("simhash"),
            graft.operators.SimilarityQueries
              .shComboPosexplode("simhash").as(Seq("combo", "k")))
          .repartition(col("combo"))
          .write.mode(mode).partitionBy("combo").parquet(paths.sigs)
      write(docs.filter(
        pmod(col("doc_id"), lit(TrgmDeltaMod.toLong))
          < TrgmDeltaMod - 1), "overwrite")
      write(docs.filter(
        pmod(col("doc_id"), lit(TrgmDeltaMod.toLong))
          === TrgmDeltaMod - 1), "append")
      paths
    }

  case class Gram13Paths(grams: String)

  /** Persisted 13-gram fingerprint index for decontamination: the
    * per-doc distinct 13-gram hashes (doc_id, g) — append-stable
    * facts. This is the textbook case for the build→serve split:
    * EVAL SETS CHANGE with every benchmark release while the corpus
    * fingerprints do not, so production decontamination probes a
    * maintained gram index with each new eval list rather than
    * re-shingling the corpus per release. Once per (JVM, dir). */
  def ensureGram13(s: SparkSession, dir: String): Gram13Paths =
    Artifacts.built(dir, "gram13") {
      val paths = Gram13Paths(
        indexRoot(dir).resolve("decon_grams").toString)
      // fanOut (r21): every build below runs heavy per-doc compute
      // (shingling, gram hashing, chunking) that would otherwise
      // serialize inside the single-row-group scan task
      val docs = Tables.fanOut(Tables.documents(s, dir), "doc_id")
      def write(d: DataFrame, mode: String): Unit =
        Tables.packForWrite(gram13Of(d))
          .write.mode(mode).parquet(paths.grams)
      write(docs.filter(
        pmod(col("doc_id"), lit(TrgmDeltaMod.toLong))
          < TrgmDeltaMod - 1), "overwrite")
      write(docs.filter(
        pmod(col("doc_id"), lit(TrgmDeltaMod.toLong))
          === TrgmDeltaMod - 1), "append")
      paths
    }

  case class WinnowPaths(fps: String)

  /** Persisted winnowing fingerprint index: the selected (doc_id,
    * fp) rows — per-doc facts from the position-local windowed-min
    * rule, so chunking of NEW docs never disturbs existing rows and
    * the doc-keyed base+delta append is lossless. The winnow
    * selection (the native winnow_fps expression over the full text)
    * is the expensive map-side stage; persisting it turns every
    * pair-search serve into joins over a slim long-pair table. Once
    * per (JVM, dir). */
  def ensureWinnow(s: SparkSession, dir: String): WinnowPaths =
    Artifacts.built(dir, "winnow") {
      val paths = WinnowPaths(indexRoot(dir).resolve("winnow_fps").toString)
      // fanOut (r21): every build below runs heavy per-doc compute
      // (shingling, gram hashing, chunking) that would otherwise
      // serialize inside the single-row-group scan task
      val docs = Tables.fanOut(Tables.documents(s, dir), "doc_id")
      def write(d: DataFrame, mode: String): Unit =
        d.select(col("doc_id"),
            expr(s"winnow_fps(split(text, ' '), " +
              s"${graft.operators.TextQueries.WinnowWindow})").as("fps"))
          .select(col("doc_id"), explode(col("fps")).as("fp"))
          .transform(Tables.packForWrite)
          .write.mode(mode).parquet(paths.fps)
      write(docs.filter(
        pmod(col("doc_id"), lit(TrgmDeltaMod.toLong))
          < TrgmDeltaMod - 1), "overwrite")
      write(docs.filter(
        pmod(col("doc_id"), lit(TrgmDeltaMod.toLong))
          === TrgmDeltaMod - 1), "append")
      paths
    }

  case class CdcPaths(chunks: String, census: String)

  /** Persisted content-defined-chunking index: per-doc chunk digests
    * (`cdc_chunks`: doc_id, cid, h — append-stable facts; the
    * boundary rule is LOCAL to each doc, so a doc's chunking never
    * changes as the corpus grows) and the chunk-occurrence census
    * (`cdc_census`: h, occ — PARTIAL counts per build split, additive
    * over disjoint doc sets, re-summed at serve). What the index
    * removes from every serve: the word explode, the per-doc lag
    * window + cumsum, and the chunk-text md5 — the whole
    * chunk-construction pipeline runs once, on ingest. Once per
    * (JVM, dir). */
  def ensureCdcChunks(s: SparkSession, dir: String): CdcPaths =
    Artifacts.built(dir, "cdc") {
      val root = indexRoot(dir)
      val paths = CdcPaths(
        root.resolve("cdc_chunks").toString,
        root.resolve("cdc_census").toString)
      // fanOut (r21): every build below runs heavy per-doc compute
      // (shingling, gram hashing, chunking) that would otherwise
      // serialize inside the single-row-group scan task
      val docs = Tables.fanOut(Tables.documents(s, dir), "doc_id")
      def write(d: DataFrame, mode: String): Unit = {
        val ch = graft.operators.RetrievalQueries.cdcChunkHashes(d)
          .localCheckpoint() // feeds both table writes below
        Tables.packForWrite(ch).write.mode(mode).parquet(paths.chunks)
        ch.groupBy(col("h")).agg(count(lit(1)).as("occ"))
          .write.mode(mode).parquet(paths.census)
        GraftSqlShims.unpersistLocalCheckpoint(ch)
      }
      write(docs.filter(
        pmod(col("doc_id"), lit(TrgmDeltaMod.toLong))
          < TrgmDeltaMod - 1), "overwrite")
      write(docs.filter(
        pmod(col("doc_id"), lit(TrgmDeltaMod.toLong))
          === TrgmDeltaMod - 1), "append")
      paths
    }

  case class ContainmentPaths(docs: String, freq: String)

  /** Persisted containment-join index: the per-doc SORTED gram-hash
    * fingerprints (`cont_docs`: doc_id, g, na — the probe, posting,
    * and verify source) and the gram document-frequency census
    * (`cont_freq`: gr, nf — PARTIAL counts per build split). The
    * fingerprints are per-doc facts (append-stable); the census is
    * additive over disjoint doc sets, so the delta appends partial
    * rows and the serve side re-sums by gram — the graph-index
    * discipline. The rare-prefix and capped postings derivations
    * stay at serve: they depend on GLOBAL frequencies, which is
    * exactly the part that must reflect newly-absorbed deltas.
    * What the index removes from every serve: the text parse, gram
    * hashing, per-doc sorts, and the corpus-wide frequency
    * aggregate. Once per (JVM, dir). */
  def ensureContainment(s: SparkSession, dir: String): ContainmentPaths =
    Artifacts.built(dir, "containment") {
      val root = indexRoot(dir)
      val paths = ContainmentPaths(
        root.resolve("cont_docs").toString,
        root.resolve("cont_freq").toString)
      // fanOut (r21): every build below runs heavy per-doc compute
      // (shingling, gram hashing, chunking) that would otherwise
      // serialize inside the single-row-group scan task
      val docs = Tables.fanOut(Tables.documents(s, dir), "doc_id")
      def write(d: DataFrame, mode: String): Unit = {
        val fp = d
          .withColumn("words", split(col("text"), " "))
          .select(col("doc_id"),
            sort_array(transform(
              graft.operators.SimilarityQueries.wordGramExpr("words", 3),
              g => xxhash64(g))).as("g"))
          .withColumn("na", size(col("g")).cast("long"))
          .localCheckpoint() // feeds both table writes below
        Tables.packForWrite(fp).write.mode(mode).parquet(paths.docs)
        fp.select(explode(col("g")).as("gr"))
          .groupBy(col("gr")).agg(count(lit(1)).as("nf"))
          .write.mode(mode).parquet(paths.freq)
        GraftSqlShims.unpersistLocalCheckpoint(fp)
      }
      write(docs.filter(
        pmod(col("doc_id"), lit(TrgmDeltaMod.toLong))
          < TrgmDeltaMod - 1), "overwrite")
      write(docs.filter(
        pmod(col("doc_id"), lit(TrgmDeltaMod.toLong))
          === TrgmDeltaMod - 1), "append")
      paths
    }

  /** Co-purchase graph index layout buckets: `pairs` rows are
    * hive-partitioned by `bucket` = u mod [[GraphBuckets]], so a
    * "neighbors of part X" point probe prunes to 1/[[GraphBuckets]]
    * of the files (the trigram-bucket discipline on graph edges). */
  val GraphBuckets = 32

  /** Incremental-build split for the graph index, keyed on ORDERS
    * (l_orderkey % [[GraphDeltaMod]] == [[GraphDeltaMod]]-1 orders
    * form the appended delta): pair co-occurrence counts and item
    * frequencies are both ADDITIVE over disjoint order sets, so the
    * delta appends partial-count rows and the serve side re-sums by
    * key — the m11_incr_agg merge discipline, here modeling
    * order-batch arrival (a basket arrives whole; rows never join an
    * already-indexed order later). */
  val GraphDeltaMod = 5

  case class GraphPaths(pairs: String, freq: String, adj: String,
      stats: String)

  /** Persisted co-purchase graph index (VERDICT r15 task #1 — the
    * build→serve twin discipline applied to the graph family): the
    * basket pair census `pairs` (u < v, partial co-occurrence count
    * per build split) and the item-frequency sidecar `freq`. Both
    * g6_triangles and x27_copurchase rebuild this same census from a
    * lineitem basket self-join EVERY run (jointly ~10 s of the r15
    * suite); at 100 TB the census is an index you maintain as order
    * batches arrive, not a per-query derivation. The expensive part
    * (the O(Σ basket²) self-join over the fact table) happens once at
    * build; serving reads the edge-sized tables alone. Counts are
    * additive over the order-keyed base/delta split, so the appended
    * delta is lossless (incremental ≡ one-shot after the serve-side
    * re-sum — GraphIndexSpec pins this) and the serve twins'
    * hash-equality to the scan twins certifies the persisted content
    * end-to-end. Once per (JVM, dir). */
  def ensureGraphEdges(s: SparkSession, dir: String): GraphPaths =
    Artifacts.built(dir, "graph_edges") {
      val root = indexRoot(dir)
      val paths = GraphPaths(
        root.resolve("graph_pairs").toString,
        root.resolve("graph_freq").toString,
        root.resolve("graph_adj").toString,
        root.resolve("graph_stats").toString)
      val li = Tables.lineitem(s, dir)
      def split(base: Boolean): DataFrame = li.filter(
        if (base) pmod(col("l_orderkey"), lit(GraphDeltaMod.toLong))
          < GraphDeltaMod - 1
        else pmod(col("l_orderkey"), lit(GraphDeltaMod.toLong))
          === GraphDeltaMod - 1)
      def write(d: DataFrame, mode: String): Unit = {
        val items = d
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .distinct()
          .localCheckpoint() // feeds both self-join sides + freq
        items.as("a")
          .join(items.as("b"),
            col("a.o") === col("b.o") && col("a.p") < col("b.p"))
          .groupBy(col("a.p").as("u"), col("b.p").as("v"))
          .agg(count(lit(1)).as("pair_n"))
          .withColumn("bucket",
            pmod(col("u"), lit(GraphBuckets.toLong)).cast("int"))
          .repartition(col("bucket"))
          .sortWithinPartitions("u", "v")
          .write.mode(mode).partitionBy("bucket").parquet(paths.pairs)
        items.groupBy(col("p")).agg(count(lit(1)).as("item_n"))
          .write.mode(mode).parquet(paths.freq)
        GraftSqlShims.unpersistLocalCheckpoint(items)
      }
      write(split(base = true), "overwrite")
      write(split(base = false), "append")
      writeGraphViews(s, paths)
      paths
    }

  /** Serving views of the graph index, re-derived from the merged
    * pairs table (r18, extracted r20 for [[graft.sources
    * .Maintenance]]): the degree-oriented sorted adjacency
    * `graph_adj` and the one-row `graph_stats` page (n_nodes,
    * n_edges). The pairs table stays the incrementally-maintained
    * TRUTH (additive partial counts); adjacency is not additive under
    * appends — degrees shift, so orientations can flip — which is
    * exactly the materialized-view discipline PQ codebooks already
    * follow: derive the serving artifact from the maintained table
    * each refresh, never from the base corpus. The g6 serve then pays
    * only the closure join; the per-serve degree census + orientation
    * + collect_list rebuild (the r17 profile's residual on
    * g6_triangles_indexed) moves into the build. */
  private def writeGraphViews(s: SparkSession, paths: GraphPaths): Unit = {
    val edges = s.read.parquet(paths.pairs)
      .select(col("u"), col("v")).distinct()
      .localCheckpoint() // feeds adjacency + both stats aggregates
    // census materializes inside the adjacency write (3 consumers:
    // both orientation joins + n_nodes), then both checkpoints are
    // freed — the build runs once per refresh, no need to hold blocks
    val deg = graft.operators.GraphQueries.nodeDegrees(edges)
      .localCheckpoint(false)
    graft.operators.GraphQueries.orientedAdjacency(edges, deg)
      .write.mode("overwrite").parquet(paths.adj)
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
      .write.mode("overwrite").parquet(paths.stats)
    GraftSqlShims.unpersistLocalCheckpoint(deg)
    GraftSqlShims.unpersistLocalCheckpoint(edges)
  }

  /** Refresh path for the graph serving views after a delta append to
    * the pairs table: re-derive adjacency + stats from the maintained
    * truth and bump the dataset's index version. NOT safe to run
    * concurrently with serves of the same dir (overwrite deletes
    * files mid-read) — maintenance windows, like any materialized-
    * view refresh. */
  private[graft] def refreshGraphViews(s: SparkSession,
      dir: String): GraphPaths = {
    val paths = ensureGraphEdges(s, dir)
    writeGraphViews(s, paths)
    bumpVersion(dir)
    paths
  }

  case class BaseClusterPaths(labels: String, edges: String)

  /** Persisted near-dup cluster state of the BASE split (r18): the
    * verified edge set and the converged min labels over base docs,
    * both derived from the persisted MinHash cluster bands +
    * fingerprints — what `dd_cluster_incremental` warm-starts from
    * when delta docs arrive. Like ranks/adjacency, labels are not
    * additive under new edges (components merge), so this is a
    * derived serving view refreshed from the maintained index
    * tables. Once per (JVM, dir). */
  def ensureBaseClusters(s: SparkSession, dir: String): BaseClusterPaths =
    Artifacts.built(dir, "base_clusters")(writeBaseClusters(s, dir))

  private def writeBaseClusters(s: SparkSession,
      dir: String): BaseClusterPaths = {
    val root = indexRoot(dir)
    val paths = BaseClusterPaths(
      root.resolve("cc_base_labels").toString,
      root.resolve("cc_base_edges").toString)
    val (labels, edges) =
      graft.operators.DedupCluster.baseClusterState(s, dir)
    labels.write.mode("overwrite").parquet(paths.labels)
    edges.write.mode("overwrite").parquet(paths.edges)
    paths
  }

  /** Refresh path for the base cluster state (labels are not additive
    * under new edges — components merge), re-derived from the
    * maintained MinHash index tables; bumps the index version. Same
    * maintenance-window caveat as [[refreshGraphViews]]. */
  private[graft] def refreshBaseClusters(s: SparkSession,
      dir: String): BaseClusterPaths =
    Artifacts.rebuilt(dir, "base_clusters")(writeBaseClusters(s, dir))

  /** Persisted converged PageRank of the BASE-split part↔supplier
    * graph (r18) — the serving view the incremental query
    * (`g5c_pagerank_incremental`) warm-starts from when delta orders
    * arrive. Like `graph_adj`, ranks are NOT additive under appends
    * (the whole vector shifts), so this is a derived view refreshed
    * at build time from the maintained base split; the warm-start
    * serve then pays 2–3 power steps instead of the from-scratch 8.
    * Once per (JVM, dir). */
  def ensureBaseRanks(s: SparkSession, dir: String): String =
    Artifacts.built(dir, "base_ranks")(writeBaseRanks(s, dir))

  private def writeBaseRanks(s: SparkSession, dir: String): String = {
    val path = indexRoot(dir).resolve("graph_base_ranks").toString
    graft.operators.GraphQueries.baseConvergedRanks(s, dir)
      .select(col("node"), col("pr"))
      .write.mode("overwrite").parquet(path)
    path
  }

  /** Refresh path for the converged base ranks (a rank vector shifts
    * wholesale under appends — not additive), re-derived from the
    * maintained base split; bumps the index version. Same
    * maintenance-window caveat as [[refreshGraphViews]]. */
  private[graft] def refreshBaseRanks(s: SparkSession,
      dir: String): String =
    Artifacts.rebuilt(dir, "base_ranks")(writeBaseRanks(s, dir))

  /** Corpus catalog (r18): the per-document ownership/digest table a
    * lakehouse maintains as data arrives — (doc_id, source,
    * text_md5), hive-partitioned by the base/delta SPLIT so the
    * delta-ingest probe ([[graft.operators.PipelineQueries
    * .pipeDeltaIngest]]) prunes to the base partition, plus a
    * per-(split, source) census page. Base overwrite + delta append,
    * the standing incremental discipline ([[TrgmDeltaMod]] split,
    * same as every other index family). */
  case class CatalogPaths(digests: String, stats: String)

  def ensureCatalog(s: SparkSession, dir: String): CatalogPaths =
    Artifacts.built(dir, "catalog") {
      val root = indexRoot(dir)
      val paths = CatalogPaths(
        root.resolve("catalog_digests").toString,
        root.resolve("catalog_stats").toString)
      // fanOut (r21): every build below runs heavy per-doc compute
      // (shingling, gram hashing, chunking) that would otherwise
      // serialize inside the single-row-group scan task
      val docs = Tables.fanOut(Tables.documents(s, dir), "doc_id")
      def write(base: Boolean): Unit = {
        val mode = if (base) "overwrite" else "append"
        val d = docs.filter(
          if (base) pmod(col("doc_id"), lit(TrgmDeltaMod.toLong))
            < TrgmDeltaMod - 1
          else pmod(col("doc_id"), lit(TrgmDeltaMod.toLong))
            === TrgmDeltaMod - 1)
          .select(lit(if (base) "base" else "delta").as("split"),
            col("doc_id"), col("source"), md5(col("text")).as("text_md5"))
          .localCheckpoint() // feeds the digest AND census writes
        Tables.packForWrite(d)
          .write.mode(mode).partitionBy("split").parquet(paths.digests)
        d.groupBy(col("split"), col("source"))
          .agg(count(lit(1)).as("n_docs"))
          .write.mode(mode).parquet(paths.stats)
        GraftSqlShims.unpersistLocalCheckpoint(d)
      }
      write(base = true)
      write(base = false)
      paths
    }

  /** Product-quantization layout (FAISS `IVF…,PQ8` family): the
    * 64-dim vectors split into [[PqM]] contiguous subspaces of
    * [[PqSubDim]] dims; each subspace gets its own [[PqK]]-centroid
    * codebook, and a vector's code is its per-subspace nearest
    * centroids — [[PqM]] small ints (4 bits each here), ~8 bytes a
    * vector vs 512 for the floats. The codes table is partitioned by
    * the vector's IVF `cell`, so an ADC scan opens only the probed
    * cells' partitions: IVFPQ's inverted-list locality expressed as
    * hive partition pruning. */
  val PqM = 8
  val PqSubDim = 8
  val PqK = 16

  case class PqPaths(codebooks: String, codes: String)

  /** Fit the PQ codebooks on the IVF base split and encode the whole
    * corpus, cell-partitioned next to the IVF index. The INPUT is the
    * persisted IVF assignments table (vectors + cells already
    * certified by the sim_ivf_* oracles) — an IVFPQ index quantizes
    * the vectors its coarse index routed, not a second read of the
    * base corpus. Base split encodes via [[appendPq]] in overwrite
    * mode, the delta via the same path in append mode — so, as with
    * trigram/word/IVF, the standing index IS the product of the
    * incremental-maintenance path and the serve oracle certifies it
    * end-to-end. Once per (JVM, dir). */
  def ensurePq(s: SparkSession, dir: String): PqPaths =
    Artifacts.built(dir, "pq") {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val ivf = ensureIvf(s, dir)
      val root = indexRoot(dir)
      val paths = PqPaths(
        root.resolve("pq_codebooks").toString,
        root.resolve("pq_codes").toString)
      val av = s.read.parquet(ivf.assignments)
        .select(col("vec_id"), col("label"), col("e"), col("cell"))
      def split(base: Boolean) = av.filter(
        if (base) pmod(col("vec_id"), lit(IvfDeltaMod.toLong))
          < IvfDeltaMod - 1
        else pmod(col("vec_id"), lit(IvfDeltaMod.toLong))
          === IvfDeltaMod - 1)
      val base = split(base = true).localCheckpoint() // PqM fits read it
      // one seeded coarse fit per subspace — codebook quality only
      // shapes recall (pinned by AnnStructuredSpec's PQ gate), never
      // correctness: the oracles read the PERSISTED codebooks
      val spark = s
      import spark.implicits._
      // the PqM fits are independent (disjoint subspace slices, own
      // seeds), so submit them as concurrent Spark jobs: build wall
      // ≈ one fit instead of PqM serial fits; per-fit results are
      // unchanged (each is seeded and reads its own slice)
      val centers = {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        Await.result(
          Future.sequence((0 until PqM).map { m => Future {
            val sub = base.select(array_to_vector(
              slice(col("e"), m * PqSubDim + 1, PqSubDim)).as("fv"))
            new KMeans().setK(PqK).setSeed(42L + m).setMaxIter(5)
              .setInitMode("random")
              .setFeaturesCol("fv").setPredictionCol("code")
              .fit(sub)
              .clusterCenters.zipWithIndex
              .map { case (c, i) => (m, i, c.toArray.toSeq) }.toSeq
          }}), Duration.Inf).flatten
      }
      centers.toDF("m", "code", "centroid")
        .coalesce(1)
        .write.mode("overwrite").parquet(paths.codebooks)
      appendPq(s, paths, base, "overwrite")
      GraftSqlShims.unpersistLocalCheckpoint(base)
      appendPq(s, paths, split(base = false), "append")
      paths
    }

  /** Encode vectors against the PERSISTED codebooks and append to
    * the cell-partitioned codes table — the steady-state write path
    * of a deployed PQ index (no model object, no re-fit; the same
    * discipline as [[appendIvf]]).
    *
    * 100 TB shape: the [[PqM]]·[[PqK]]-row codebook table (64 rows)
    * broadcasts; the per-subspace argmin is a codegen'd fold over a
    * posexploded (vector, subspace) pair — map-side compute, and the
    * only exchanges are the per-vector code reassembly and the
    * cell-aligned repartition before the partitioned append. */
  def appendPq(s: SparkSession, paths: PqPaths,
      vecs: org.apache.spark.sql.DataFrame,
      mode: String = "append"): Unit = {
    val cb = s.read.parquet(paths.codebooks)
    vecs
      .select(col("vec_id"), col("label"), col("cell"),
        posexplode(expr(s"transform(sequence(0, ${PqM - 1}), " +
          s"m -> slice(e, m * $PqSubDim + 1, $PqSubDim))"))
          .as(Seq("m", "sub")))
      .join(broadcast(cb), "m")
      // exact left-fold squared distance, the appendIvf arithmetic
      .withColumn("d2", expr(
        "aggregate(zip_with(sub, centroid, (x, c) -> (x - c) * (x - c)), " +
          "0d, (a, y) -> a + y)"))
      .groupBy(col("vec_id"), col("m"))
      // min(struct) = nearest distance, tie → lowest code id:
      // total-order deterministic, as appendIvf
      .agg(min(struct(col("d2"), col("code"))).as("mc"),
        first(col("label")).as("label"), first(col("cell")).as("cell"))
      .groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(
          struct(col("m"), col("mc.code").as("code")))),
          x => x.getField("code")).as("codes"),
        first(col("label")).as("label"), first(col("cell")).as("cell"))
      .select(col("vec_id"), col("label"), col("codes"), col("cell"))
      .repartition(col("cell"))
      .write.mode(mode).partitionBy("cell")
      .parquet(paths.codes)
  }

  /** Incremental IVF maintenance: assign each new vector to its
    * nearest PERSISTED centroid (read from the index root — no
    * model object, no re-fit) and append partition-aligned to the
    * assignments table. This is the steady-state write path of a
    * deployed vector index; `ensureIvf` uses it for the delta split,
    * and IndexStoreSpec pins that it agrees with an independent
    * nearest-centroid computation while centroids are unchanged.
    *
    * 100 TB shape: the [[IvfK]]-row centroid table broadcasts; the
    * distance argmin is one codegen'd fold per (vector, cell) pair
    * — [[IvfK]]·dim multiply-adds, map-side; the only exchange is
    * the cell-aligned repartition before the append. */
  def appendIvf(s: SparkSession, paths: IvfPaths,
      newVecs: org.apache.spark.sql.DataFrame): Unit = {
    val cents = s.read.parquet(paths.centroids)
    newVecs
      .crossJoin(broadcast(cents))
      // exact left-fold squared distance — same deterministic
      // arithmetic shape as the drift census and the spec's
      // independent recompute
      .withColumn("d2", expr(
        "aggregate(zip_with(e, centroid, (x, c) -> (x - c) * (x - c)), " +
          "0d, (a, y) -> a + y)"))
      .groupBy(col("vec_id"))
      // min(struct) = lexicographic: nearest distance, tie → lowest
      // cell id, so the assignment is total-order deterministic
      .agg(min(struct(col("d2"), col("cell"))).as("m"),
        first(col("label")).as("label"), first(col("e")).as("e"))
      .select(col("vec_id"), col("label"), col("e"),
        col("m.cell").as("cell"))
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell")
      .parquet(paths.assignments)
  }
}
