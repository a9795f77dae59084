package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{PortableHash, Tables}

/** Retrieval + data-selection operators for the training-data
  * pipeline surface: BM25 lexical top-k (the retrieval baseline every
  * RAG/dedup-audit stack needs), DSIR-style hashed importance weights
  * (Xie et al. 2023 — select raw-corpus documents that look like a
  * target domain), and CCNet-style chunk-level dedup (Wenzek et al.
  * 2020 dedup at paragraph granularity; the `documents` corpus is
  * single-line, so the unit here is a fixed [[ChunkWords]]-word
  * chunk, same pipeline shape).
  *
  * Oracle discipline (same playbook as TextQueries): every score is
  * integer arithmetic after a single quantized-ln step per DISTINCT
  * count value (`floor(ln(·)·1e4 + 1e-6)`), so DuckDB hash-compares
  * exactly; shuffles carry md5 digests or 8-byte ints, never document
  * bodies; every constant is interpolated into BOTH the engine
  * expression and the oracle SQL from the single Scala definition.
  */
object RetrievalQueries {
  type Q = (SparkSession, String) => DataFrame

  // =================================================================
  // t_bm25_topk — BM25 lexical retrieval
  // =================================================================

  /** Fixed query-term bag (present in the synthetic vocabulary). */
  val BmTerms: Seq[String] = Seq("table", "scan", "merge")
  val BmK = 10

  /** k1 = 6/5, b = 3/4 (the classic 1.2 / 0.75), kept as rationals so
    * the whole score clears to integer arithmetic. Multiplying the
    * BM25 term through by `K1Den·BDen·T` (T = corpus token count):
    *
    *   score_q = (BmNumMul·T·q_idf·tf) div
    *             (BmScale·T·tf + BmConstMul·T + BmDlMul·dl·N)
    *
    * with q_idf = floor(ln(1 + (N-df+0.5)/(df+0.5))·1e4 + 1e-6) — the
    * Lucene BM25 idf, strictly positive, so floor-vs-truncate integer
    * division agrees across engines. Headroom: the numerator is
    * ≤ 44·T·12e4·tf — safe in a signed 64-bit long up to T ≈ 1e11
    * tokens with tf ≤ 100; past that, rescale the quantum (the score
    * is a ×1e4 fixed-point, not money).
    */
  val BmK1Num = 6; val BmK1Den = 5; val BmBNum = 3; val BmBDen = 4
  val BmScale = BmK1Den * BmBDen                        // 20
  val BmNumMul = BmScale + BmScale * BmK1Num / BmK1Den  // (k1+1)·Scale = 44
  val BmConstMul = BmK1Num * (BmBDen - BmBNum)          // 6
  val BmDlMul = BmK1Num * BmBNum                        // 18

  /** BM25 top-[[BmK]] over `documents` for the [[BmTerms]] bag.
    *
    * 100 TB shape: the only full-corpus work is the map-side `dl`
    * projection (no shuffle — `size(split(text))` at the scan) and
    * the term-filtered tf aggregate, whose input is pre-filtered to
    * the query terms AT THE EXPLODE (the filter runs before the
    * shuffle, so the exchange carries only matching (doc, term)
    * rows). df/N/T are term-count-sized aggregates (driver scalars —
    * |BmTerms| + 2 values, same bounded-literal contract as
    * tLmScore's corpus total). Final top-k is TakeOrderedAndProject:
    * per-partition heaps, no global sort. */
  def tBm25TopK(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val dl = docs.select(col("doc_id"),
      size(col("ws")).cast("long").as("dl"))
    val scal = dl.agg(count(lit(1)).cast("long"),
      sum(col("dl")).cast("long")).head()
    val (n, t) = (scal.getLong(0), scal.getLong(1))
    val tf = docs
      .select(col("doc_id"), explode(col("ws")).as("w"))
      .filter(col("w").isin(BmTerms: _*))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val idf = tf.groupBy(col("w"))
      .agg(count(lit(1)).cast("long").as("df"))
      .select(col("w"), floor(
        log(lit(1.0) + (lit(n.toDouble) - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))) * 1e4 + 1e-6)
        .cast("long").as("q_idf"))
    tf.join(broadcast(idf), "w")
      .join(dl, "doc_id")
      .select(col("doc_id"),
        expr(s"($BmNumMul * ${t}L * q_idf * tf) div " +
          s"($BmScale * ${t}L * tf + $BmConstMul * ${t}L + " +
          s"$BmDlMul * dl * ${n}L)").as("term_score"))
      .groupBy(col("doc_id"))
      .agg(sum(col("term_score")).cast("long").as("score_q"))
      .orderBy(col("score_q").desc, col("doc_id"))
      .limit(BmK)
  }

  /** Indexed twin of [[tBm25TopK]] (VERDICT r13 task #8): the same
    * BM25 top-k served from the PERSISTED word-level inverted index
    * ([[graft.sources.IndexStore.ensureWordPostings]]) — the corpus
    * text is never read, let alone re-tokenized, at query time.
    *
    * 100 TB shape: the tf probe reads |query terms| posting ranges,
    * partition-pruned to the terms' hash buckets with the term
    * equality pushed into just those files' scans; dl/N/T come from
    * the doc-length sidecar (|docs| rows — the index's statistics
    * page, not the corpus). df is |terms| values off the probed
    * postings. The oracle is the full-scan BM25 — equality certifies
    * the index serve lossless end-to-end, INCLUDING the incremental
    * base+delta build, the t_trgm_like_indexed discipline. */
  def tBm25Indexed(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.IndexStore
    val p = IndexStore.ensureWordPostings(s, dir)
    val buckets = BmTerms.map(IndexStore.wordBucketOf).distinct
    val dl = s.read.parquet(p.doclen).select("doc_id", "dl")
    // corpus scalars off the ≤2-row stats page (one per build split),
    // carried IN-PLAN as a broadcast 1-row table — no driver action,
    // so the whole serve is a single job (the scan twin pays a
    // separate corpus-aggregate action for the same scalars)
    val scal = s.read.parquet(p.stats)
      .agg(sum(col("n_docs")).cast("long").as("n"),
        sum(col("total_tokens")).cast("long").as("t"))
    // open the probed bucket partitions DIRECTLY (basePath keeps the
    // partition column): the serve never lists — let alone scans —
    // the other 61 of 64 partition dirs. A bucket dir can be absent
    // when no corpus word hashes into it; an absent bucket simply has
    // no postings for its terms.
    val probeDirs = buckets.map(b => s"${p.postings}/bucket=$b")
      .filter(d => new java.io.File(
        d.stripPrefix("file:")).isDirectory)
    val tf = (if (probeDirs.isEmpty)
        s.read.parquet(p.postings).limit(0)
      else s.read.option("basePath", p.postings)
        .parquet(probeDirs: _*))
      .filter(col("w").isin(BmTerms: _*))
      .select(col("doc_id"), col("w"), col("tf"))
    val idf = tf.groupBy(col("w"))
      .agg(count(lit(1)).cast("long").as("df"))
      .crossJoin(broadcast(scal))
      .select(col("w"), col("n"), col("t"), floor(
        log(lit(1.0) + (col("n").cast("double") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))) * 1e4 + 1e-6)
        .cast("long").as("q_idf"))
    tf.join(broadcast(idf), "w")
      .join(dl, "doc_id")
      .select(col("doc_id"),
        expr(s"($BmNumMul * t * q_idf * tf) div " +
          s"($BmScale * t * tf + $BmConstMul * t + " +
          s"$BmDlMul * dl * n)").as("term_score"))
      .groupBy(col("doc_id"))
      .agg(sum(col("term_score")).cast("long").as("score_q"))
      .orderBy(col("score_q").desc, col("doc_id"))
      .limit(BmK)
  }

  // =================================================================
  // t_dsir_weight — hashed importance weights (DSIR)
  // =================================================================

  /** Target-domain sources; everything else is the raw pool. */
  val DsirTargetSources: Seq[String] = Seq("src0", "src1")
  val DsirBuckets = 256

  /** Per-document importance weight under hashed unigram bucket
    * language models: w(d) = Σ_tokens [ln p̂_target(b) − ln p̂_raw(b)]
    * with add-one smoothing, b = portable-md5-60(word) mod
    * [[DsirBuckets]]. Emitted as the exact integer sum of per-bucket
    * quantized log-ratios (one quantize per DISTINCT bucket count —
    * the t_lm_score playbook), so the oracle hash-compares.
    *
    * 100 TB shape: the bucket LM is [[DsirBuckets]] rows — ONE
    * conditional-sum pass over the exploded corpus builds both
    * models, then broadcasts; the per-doc aggregate shuffles on
    * doc_id only. Corpus totals are 2 bounded driver scalars. */
  def tDsirWeight(s: SparkSession, dir: String): DataFrame = {
    val isTarget = col("source").isin(DsirTargetSources: _*)
    val words = Tables.documents(s, dir)
      .select(col("doc_id"), isTarget.as("tgt"),
        explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), col("tgt"),
        (PortableHash.md5Hash60(col("w")) % DsirBuckets).as("b"))
    val lm = words.groupBy(col("b")).agg(
      sum(when(col("tgt"), 1L).otherwise(0L)).cast("long").as("ct"),
      sum(when(col("tgt"), 0L).otherwise(1L)).cast("long").as("cr"))
    val tot = lm.agg(sum(col("ct")).cast("long"),
      sum(col("cr")).cast("long")).head()
    val (tt, tr) = (tot.getLong(0), tot.getLong(1))
    val qlm = lm.select(col("b"),
      (floor((log(col("ct") + lit(1.0)) -
          log(lit((tt + DsirBuckets).toDouble))) * 1e4 + 1e-6) -
        floor((log(col("cr") + lit(1.0)) -
          log(lit((tr + DsirBuckets).toDouble))) * 1e4 + 1e-6))
        .cast("long").as("q_lr"))
    words.join(broadcast(qlm), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(col("q_lr")).cast("long").as("w_q"))
  }

  /** Indexed twin of [[tDsirWeight]]: the same importance weights
    * served from the word postings alone. Token OCCURRENCES collapse
    * to (doc, word, tf) rows — the bucket LM is a tf-weighted
    * conditional sum over the postings (the target flag comes from
    * the DENORMALIZED `source` column, so there is NO join back to
    * any per-doc table), and the per-doc weight is Σ tf·q_lr.
    * Exactly the scan version's integers, so it shares that oracle;
    * the corpus text is never touched.
    *
    * 100 TB shape: both passes run over (doc_id, 8-byte word hash,
    * tf) — strictly smaller than the scan twin's exploded token
    * stream — and the heavy explode was paid ONCE at index build
    * instead of per query. */
  def tDsirIndexed(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.IndexStore
    val p = IndexStore.ensureWordPostings(s, dir)
    val posts = s.read.parquet(p.postings)
      .select(col("doc_id"), col("tf"),
        col("source").isin(DsirTargetSources: _*).as("tgt"),
        (PortableHash.md5Hash60(col("w")) % DsirBuckets).as("b"))
    val lm = posts.groupBy(col("b")).agg(
      sum(when(col("tgt"), col("tf")).otherwise(0L)).cast("long")
        .as("ct"),
      sum(when(col("tgt"), 0L).otherwise(col("tf"))).cast("long")
        .as("cr"))
    // corpus totals carried in-plan (broadcast 1-row) — single-job
    // serve, where the scan twin pays a separate totals action
    val tot = lm.agg(sum(col("ct")).cast("long").as("tt"),
      sum(col("cr")).cast("long").as("tr"))
    val qlm = lm.crossJoin(broadcast(tot)).select(col("b"),
      (floor((log(col("ct") + lit(1.0)) -
          log(col("tt").cast("double") + lit(DsirBuckets.toDouble)))
        * 1e4 + 1e-6) -
        floor((log(col("cr") + lit(1.0)) -
          log(col("tr").cast("double") + lit(DsirBuckets.toDouble)))
        * 1e4 + 1e-6))
        .cast("long").as("q_lr"))
    posts.join(broadcast(qlm), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("n_tokens"),
        sum(col("tf") * col("q_lr")).cast("long").as("w_q"))
  }

  /** [[TextQueries.tTfidfExact]] served from the persisted word
    * index — the last of the text-statistics family to get the
    * build→serve split (LIKE, BM25, DSIR since r13/r14). tf is read
    * off the postings (computed ONCE, at build), df is a postings
    * aggregate, and the corpus doc count rides the ≤2-row stats page
    * as a broadcast 1-row table — the documents table is never
    * re-tokenized. Shares the scan twin's oracle: hash equality
    * certifies the served tf/df/N against a from-scratch recompute,
    * over the incrementally-built (base+delta) index. */
  def tTfidfIndexed(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.IndexStore
    val p = IndexStore.ensureWordPostings(s, dir)
    val tf = s.read.parquet(p.postings)
      .select(col("doc_id"), col("w").as("word"), col("tf"))
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = s.read.parquet(p.stats)
      .agg(sum(col("n_docs")).cast("long").as("n"))
    tf.join(df, "word").crossJoin(broadcast(n))
      .withColumn("q_idf", expr(
        "CAST(FLOOR(ln((CAST(n AS DOUBLE) + 1.0)" +
          " / (CAST(df AS DOUBLE) + 1.0)) * 10000.0) AS BIGINT)"))
      .groupBy(col("doc_id"))
      .agg(
        max(col("tf") * col("q_idf")).as("top_weight_q"),
        count(lit(1)).as("n_terms"))
  }

  // =================================================================
  // dd_chunk_dedup — CCNet-style chunk-level dedup
  // =================================================================

  /** Dedup granularity: consecutive [[ChunkWords]]-word chunks. */
  val ChunkWords = 10

  /** Position encoding for the global first-occurrence argmin:
    * doc_id·[[ChunkPosCap]] + chunk_pos is a total order iff
    * chunk_pos < cap — i.e. docs under cap·[[ChunkWords]] words
    * (100k words/doc; the synthetic corpus tops out ~3 orders of
    * magnitude below). */
  val ChunkPosCap = 10000L

  /** Remove every repeated chunk corpus-wide, keeping only its FIRST
    * occurrence (ordered by doc_id, then position), then reassemble
    * each document from its surviving chunks — the CCNet paragraph-
    * dedup shape at chunk granularity. Emits per doc: total chunks,
    * kept chunks, and the cleaned text (empty when every chunk was a
    * repeat).
    *
    * 100 TB shape: the first-occurrence census groups on the chunk's
    * 16-byte md5 digest — chunk BODIES never enter that exchange —
    * and the winner joins back to the chunk table on the digest. The
    * reassembly groups on doc_id (sort_array over ≤ chunks-per-doc
    * structs, bounded by document length). */
  def ddChunkDedup(s: SparkSession, dir: String): DataFrame = {
    // fanOut: the chunk construction (split/slice/md5 per doc) would
    // otherwise run inside the single-row-group scan task
    val chunks = Tables.fanOut(Tables.documents(s, dir), "doc_id")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, cast((size(ws) + ${ChunkWords - 1}) " +
          s"div $ChunkWords as int) - 1), " +
          s"i -> array_join(slice(ws, i * $ChunkWords + 1, " +
          s"$ChunkWords), ' '))")))
      .select(col("doc_id"), col("pos"), col("col").as("chunk"),
        md5(col("col")).as("h"))
    val firsts = chunks.groupBy(col("h"))
      .agg(min(col("doc_id") * ChunkPosCap + col("pos")).as("keep_k"))
    val kept = chunks.join(firsts, "h")
      .filter(col("doc_id") * ChunkPosCap + col("pos") === col("keep_k"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_kept"),
        array_join(expr(
          "transform(array_sort(collect_list(struct(pos, chunk))), " +
            "x -> x.chunk)"), " ").as("clean_text"))
    chunks.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_chunks"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  // =================================================================
  // t_cdc_chunks — content-defined chunking
  // =================================================================

  /** Boundary density: a chunk boundary lands before word i when the
    * portable hash of the bigram (w[i-1], w[i]) ≡ 0 mod [[CdcMod]] —
    * expected chunk length [[CdcMod]] words. */
  val CdcMod = 8

  /** Content-defined chunking (the rolling-hash boundary rule of
    * storage dedup / LLM near-dup pipelines): unlike the FIXED
    * windows of [[ddChunkDedup]], CDC boundaries are decided by local
    * content, so inserting one word shifts only the chunk it lands
    * in — neighboring chunks keep their identity and still dedup.
    * Emits per doc: chunk count and how many of its chunk
    * occurrences are corpus-wide duplicates (identical chunk text
    * appearing ≥ 2 times anywhere, self included).
    *
    * 100 TB shape: boundary flags are map-side (lag over the
    * doc-partitioned window — one shuffle on doc_id, per-doc sort
    * bounded by document length); the duplicate census groups on the
    * chunk's md5 digest, so chunk BODIES never shuffle; the per-doc
    * rollup reuses the doc_id key. */
  def tCdcChunks(s: SparkSession, dir: String): DataFrame = {
    // fanOut on doc_id: parallelizes the word explode AND pre-
    // establishes the hash partitioning the per-doc lag/cumsum window
    // needs, so the word-level rows never cross an exchange
    val chunks = cdcChunkHashes(
      Tables.fanOut(Tables.documents(s, dir), "doc_id"))
    cdcRollup(chunks,
      chunks.groupBy(col("h")).agg(count(lit(1)).as("occ")))
  }

  /** [[tCdcChunks]] served from the PERSISTED chunk index
    * ([[graft.sources.IndexStore.ensureCdcChunks]]): chunk digests
    * and the occurrence census are read from the index — the word
    * explode, per-doc lag window + cumsum, and chunk md5 (the whole
    * chunk-construction pipeline) vanish from the serve plan, and
    * the documents table is absent from it (CdcIndexSpec asserts
    * it). The census is partial counts re-summed by digest, lossless
    * by additivity over the doc-keyed build splits. Shares the scan
    * twin's oracle. */
  def tCdcChunksIndexed(s: SparkSession, dir: String): DataFrame = {
    val paths = graft.sources.IndexStore.ensureCdcChunks(s, dir)
    val chunks = s.read.parquet(paths.chunks)
    cdcRollup(chunks,
      s.read.parquet(paths.census)
        .groupBy(col("h")).agg(sum(col("occ")).as("occ")))
  }

  /** CDC stages 1–3 (doc_id, cid, h): word explode, boundary flags
    * via the portable bigram hash, cumsum chunk ids, chunk-text md5.
    * Shared by the scan twin and the index build — the boundary rule
    * is local to each doc, so chunking is append-stable. */
  private[graft] def cdcChunkHashes(d: DataFrame): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    d.select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos"), col("col").as("w"))
      .withColumn("pw", lag(col("w"), 1).over(byDoc))
      .withColumn("flag",
        when(col("pw").isNotNull &&
          PortableHash.md5Hash60(
            concat(col("pw"), lit(" "), col("w"))) % CdcMod === 0,
          1L).otherwise(0L))
      .withColumn("cid", sum(col("flag")).over(byDoc))
      .groupBy(col("doc_id"), col("cid"))
      .agg(md5(array_join(expr(
        "transform(array_sort(collect_list(struct(pos, w))), " +
          "x -> x.w)"), " ")).as("h"))
  }

  /** The shared tail of both CDC twins: per-doc chunk count and
    * corpus-wide duplicate-occurrence count. */
  private def cdcRollup(chunks: DataFrame,
      census: DataFrame): DataFrame =
    chunks.join(census, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_chunks"),
        sum(when(col("occ") > 1, 1L).otherwise(0L)).cast("long")
          .as("n_shared"))

  // =================================================================
  // t_trgm_like — trigram-index LIKE acceleration
  // =================================================================

  /** The substring the accelerated LIKE searches for (a phrase that
    * occurs in a handful of corpus docs at every SF). Interpolated
    * into the oracle's `LIKE '%…%'`. */
  val LikePattern = "spark order data"

  /** Accelerated `LIKE '%pattern%'` via a trigram index — the
    * pg_trgm plan: a doc can contain the substring only if it
    * contains EVERY one of the substring's trigrams (lossless by
    * construction), so candidates = docs whose trigram sets cover
    * the pattern's trigram set, and only those few pay the actual
    * substring verify. The naive plan `instr` scans every byte of
    * every doc; this one touches full text only for candidates.
    *
    * 100 TB shape: doc trigrams are generated map-side and
    * immediately filtered against the BROADCAST pattern-trigram
    * array (a literal — tiny), so the exchange carries only
    * (doc, pattern-trigram-hits): |docs| × |pattern trigrams| worst
    * case, usually far less. The coverage census shuffles on
    * doc_id; the verify is a join back to the docs table on its
    * key. With a persisted postings table (doc↔trigram, the l5
    * manifest pattern) the scan stage becomes an index lookup and
    * nothing else changes. */
  def tTrgmLike(s: SparkSession, dir: String): DataFrame = {
    val q = LikePattern
    val patGrams = (0 to q.length - 3).map(i => q.substring(i, i + 3))
      .distinct
    // fanOut: the per-doc trigram generation (length(text) substrings
    // + distinct + intersect) is the dominant cost and would
    // otherwise serialize inside the single-row-group scan task
    val docs = Tables.fanOut(Tables.documents(s, dir), "doc_id")
    // intersect with the literal pattern-gram array BEFORE exploding:
    // <= |pattern grams| rows leave each doc, not its whole gram set
    val patLit = patGrams.map(g => s"'${g.replace("'", "''")}'")
      .mkString("array(", ", ", ")")
    val hits = docs
      .select(col("doc_id"),
        explode(expr("array_intersect(array_distinct(transform(" +
          "sequence(1, greatest(length(text) - 2, 1)), " +
          s"i -> substring(text, i, 3))), $patLit)")).as("g"))
    val cands = hits.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("ng"))
      .filter(col("ng") === patGrams.length)
    cands.join(docs, "doc_id")
      .select(col("doc_id"), instr(col("text"), q).as("first_pos"))
      .filter(col("first_pos") > 0)
  }

  /** Indexed twin of [[tTrgmLike]] (VERDICT r12 task #1): answers the
    * same `LIKE '%pattern%'` from the PERSISTED positional trigram
    * postings table alone — the base corpus is never scanned, not
    * even for the verify step.
    *
    * With positions in the index, substring verification is pure
    * alignment algebra: the pattern occurs at 1-based text position
    * p iff for EVERY offset i ∈ [0, |q|-3] the pattern's gram at i
    * appears in the doc at position p+i. So: probe the postings for
    * the pattern's grams (partition-pruned to their buckets, gram
    * equality pushed into the parquet scan), join the tiny
    * (offset, gram) instance list (broadcast), align each posting to
    * its implied start `pos - off`, and keep (doc, start) cells that
    * collect ALL |q|-2 offsets. `min(start)` is exactly
    * `position(pattern IN text)`. Duplicate grams in the pattern are
    * handled by counting offsets, not distinct grams.
    *
    * 100 TB shape: the probe reads |pattern grams| posting ranges
    * from an index maintained incrementally at write time
    * ([[graft.sources.IndexStore.ensureTrgmPostings]] — base build +
    * appended delta, the m11 merge discipline), instead of paying a
    * full corpus scan per query. The oracle is the full LIKE scan —
    * equality certifies the index path lossless end-to-end, INCLUDING
    * the incremental build. */
  def tTrgmLikeIndexed(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.IndexStore
    val path = IndexStore.ensureTrgmPostings(s, dir)
    val q = LikePattern
    val instances = (0 to q.length - 3)
      .map(i => (i, q.substring(i, i + 3)))
    val grams = instances.map(_._2).distinct
    val buckets = grams.map(IndexStore.trgmBucketOf).distinct
    val inst = {
      val spark = s
      import spark.implicits._
      instances.toDF("off", "gr")
    }
    // open the pattern grams' bucket partitions DIRECTLY (driver-side
    // literals via the pure-Scala portable-hash twin; basePath keeps
    // the partition column) — the probe never lists the other ~50 of
    // 64 partition dirs, and gram equality is pushed into the opened
    // files' scans. An absent bucket dir means no corpus gram hashes
    // there, so the pattern gram has no postings and no (doc, start)
    // cell can collect all offsets — the empty read is the answer.
    val probeDirs = buckets.map(b => s"$path/bucket=$b")
      .filter(d => new java.io.File(d.stripPrefix("file:")).isDirectory)
    (if (probeDirs.isEmpty) s.read.parquet(path).limit(0)
     else s.read.option("basePath", path).parquet(probeDirs: _*))
      .filter(col("gr").isin(grams: _*))
      .join(broadcast(inst), "gr")
      .select(col("doc_id"), (col("pos") - col("off")).as("start"))
      .filter(col("start") >= 1)
      .groupBy(col("doc_id"), col("start"))
      .agg(count(lit(1)).as("n_off"))
      .filter(col("n_off") === instances.length)
      .groupBy(col("doc_id"))
      .agg(min(col("start")).cast("int").as("first_pos"))
  }

  /** Gram document-frequency census over the persisted postings —
    * the index's own statistics page (top-20 grams by df). The
    * oracle RECOMPUTES the census from the raw documents table, so a
    * hash match certifies the persisted, incrementally-built index
    * content itself against first principles, not just one probe
    * path through it. */
  def tTrgmIndexStats(s: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.IndexStore.ensureTrgmPostings(s, dir)
    // two-level aggregate instead of countDistinct+count in one agg:
    // mixing distinct and plain aggregates makes Catalyst Expand the
    // input 2× before the exchange (the p11b no-Expand discipline).
    // Level 1 collapses to (gr, doc_id) with map-side combine —
    // postings arrive sorted by (gr, doc_id) within each bucket, so
    // partial agg is near-free; level 2 is a |grams|-sized shuffle.
    s.read.parquet(path)
      .groupBy(col("gr"), col("doc_id"))
      .agg(count(lit(1)).as("occ"))
      .groupBy(col("gr"))
      .agg(count(lit(1)).as("df"),
        sum(col("occ")).cast("long").as("n_occ"))
      .orderBy(col("df").desc, col("gr"))
      .limit(20)
  }

  val queries: Map[String, Q] = Map(
    "t_trgm_like" -> (tTrgmLike _),
    "t_trgm_like_indexed" -> (tTrgmLikeIndexed _),
    "t_trgm_index_stats" -> (tTrgmIndexStats _),
    "t_bm25_topk" -> (tBm25TopK _),
    "t_bm25_indexed" -> (tBm25Indexed _),
    "t_dsir_weight" -> (tDsirWeight _),
    "t_dsir_indexed" -> (tDsirIndexed _),
    "t_tfidf_indexed" -> (tTfidfIndexed _),
    "dd_chunk_dedup" -> (ddChunkDedup _),
    "t_cdc_chunks" -> (tCdcChunks _),
    "t_cdc_chunks_indexed" -> (tCdcChunksIndexed _)
  )

  // lazy: staticOracle is declared below (object-init order)
  lazy val oracle: Map[String, String] = {
    val base = staticOracle
    base ++ Map(
      // the indexed twins serve the IDENTICAL semantic query from the
      // persisted word index, so they share the scan twins' full-scan
      // oracles — equality certifies the index path lossless,
      // including the incremental base+delta build
      "t_bm25_indexed" -> base("t_bm25_topk"),
      "t_dsir_indexed" -> base("t_dsir_weight"),
      "t_tfidf_indexed" -> TextQueries.oracle("t_tfidf_exact"))
  }

  private val staticOracle: Map[String, String] = Map(
    // the SEMANTIC definition (full LIKE scan); the engine runs the
    // trigram-index plan — equality certifies losslessness
    "t_trgm_like" ->
      s"""SELECT doc_id,
         | CAST(position('$LikePattern' IN text) AS INTEGER)
         |   AS first_pos
         |FROM documents
         |WHERE text LIKE '%$LikePattern%'""".stripMargin,
    // identical semantic definition for the indexed twin: the engine
    // answers from the persisted postings alone, the oracle pays the
    // full scan — equality certifies the whole index path
    "t_trgm_like_indexed" ->
      s"""SELECT doc_id,
         | CAST(position('$LikePattern' IN text) AS INTEGER)
         |   AS first_pos
         |FROM documents
         |WHERE text LIKE '%$LikePattern%'""".stripMargin,
    // recompute the gram df census from the raw corpus — a hash
    // match certifies the persisted (incrementally built) postings
    // content against first principles
    "t_trgm_index_stats" ->
      """WITH g AS (SELECT doc_id, substring(text, CAST(i AS INTEGER), 3) AS gr
        | FROM (SELECT doc_id, text,
        |         unnest(range(1, greatest(length(text) - 2, 1) + 1)) AS i
        |       FROM documents)
        | WHERE length(substring(text, CAST(i AS INTEGER), 3)) = 3)
        |SELECT gr, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
        | CAST(count(*) AS BIGINT) AS n_occ
        |FROM g GROUP BY gr
        |ORDER BY df DESC, gr LIMIT 20""".stripMargin,
    // all multipliers interpolated from the SAME Scala constants the
    // engine uses; ln quantized once per distinct df (ADVICE
    // discipline: quantize at the ln, never the product)
    "t_bm25_topk" ->
      s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws
         |             FROM documents),
         |dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM docs),
         |scal AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |                CAST(sum(dl) AS BIGINT) AS t FROM dl),
         |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id, unnest(ws) AS w FROM docs)
         |       WHERE w IN (${BmTerms.map("'" + _ + "'").mkString(", ")})
         |       GROUP BY doc_id, w),
         |idf AS (SELECT w, CAST(floor(ln(1 + (n - df + 0.5) / (df + 0.5))
         |          * 1e4 + 1e-6) AS BIGINT) AS q_idf
         |        FROM (SELECT w, CAST(count(*) AS BIGINT) AS df
         |              FROM tf GROUP BY w), scal),
         |scored AS (SELECT doc_id,
         |  CAST(sum(($BmNumMul * t * q_idf * tf) //
         |    ($BmScale * t * tf + $BmConstMul * t + $BmDlMul * dl * n))
         |    AS BIGINT) AS score_q
         | FROM tf JOIN idf USING (w) JOIN dl USING (doc_id), scal
         | GROUP BY doc_id)
         |SELECT doc_id, score_q FROM scored
         |ORDER BY score_q DESC, doc_id LIMIT $BmK""".stripMargin,
    "t_dsir_weight" ->
      s"""WITH words AS (SELECT doc_id,
         |   source IN (${DsirTargetSources.map("'" + _ + "'").mkString(", ")}) AS tgt,
         |   ${PortableHash.duckSql("w")} % $DsirBuckets AS b
         | FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
         |       FROM documents)),
         |lm AS (SELECT b,
         |   CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         |   CAST(sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS cr
         | FROM words GROUP BY b),
         |tot AS (SELECT CAST(sum(ct) AS DOUBLE) AS tt,
         |               CAST(sum(cr) AS DOUBLE) AS tr FROM lm),
         |qlm AS (SELECT b,
         |   CAST(floor((ln(CAST(ct + 1 AS DOUBLE)) - ln(tt + $DsirBuckets))
         |       * 1e4 + 1e-6) AS BIGINT) -
         |   CAST(floor((ln(CAST(cr + 1 AS DOUBLE)) - ln(tr + $DsirBuckets))
         |       * 1e4 + 1e-6) AS BIGINT) AS q_lr
         | FROM lm, tot)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         | CAST(sum(q_lr) AS BIGINT) AS w_q
         |FROM words JOIN qlm USING (b)
         |GROUP BY doc_id""".stripMargin,
    "dd_chunk_dedup" ->
      s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws
         |             FROM documents),
         |chunks AS (SELECT doc_id,
         |   unnest(range((len(ws) + ${ChunkWords - 1}) // $ChunkWords))
         |     AS pos,
         |   unnest(list_transform(
         |     range((len(ws) + ${ChunkWords - 1}) // $ChunkWords),
         |     i -> array_to_string(ws[(i * $ChunkWords + 1):
         |                             ((i + 1) * $ChunkWords)], ' ')))
         |     AS chunk
         | FROM docs),
         |firsts AS (SELECT md5(chunk) AS h,
         |   min(doc_id * $ChunkPosCap + pos) AS keep_k
         | FROM chunks GROUP BY md5(chunk)),
         |kept AS (SELECT doc_id,
         |   CAST(count(*) AS BIGINT) AS n_kept,
         |   string_agg(chunk, ' ' ORDER BY pos) AS clean_text
         | FROM chunks JOIN firsts ON md5(chunk) = h
         |  AND doc_id * $ChunkPosCap + pos = keep_k
         | GROUP BY doc_id)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         | coalesce(any_value(n_kept), 0) AS n_kept,
         | coalesce(any_value(clean_text), '') AS clean_text
         |FROM chunks LEFT JOIN kept USING (doc_id)
         |GROUP BY doc_id""".stripMargin,
    "t_cdc_chunks" -> cdcOracleSql,
    // the indexed twin against the SAME oracle certifies the
    // persisted chunk digests + census content end-to-end
    "t_cdc_chunks_indexed" -> cdcOracleSql
  )

  /** CDC rollup ground truth (DuckDB) — shared by the scan and
    * indexed twins. */
  private lazy val cdcOracleSql: String =
    s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws
       |             FROM documents),
       |words AS (SELECT doc_id,
       |   unnest(range(len(ws))) AS pos, unnest(ws) AS w
       | FROM docs),
       |flagged AS (SELECT doc_id, pos, w,
       |   CASE WHEN lag(w, 1) OVER win IS NOT NULL AND
       |     ${PortableHash.duckSql("lag(w, 1) OVER win || ' ' || w")}
       |       % $CdcMod = 0
       |   THEN 1 ELSE 0 END AS flag
       | FROM words
       | WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
       |cids AS (SELECT doc_id, pos, w,
       |   sum(flag) OVER (PARTITION BY doc_id ORDER BY pos
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cid
       | FROM flagged),
       |chunks AS (SELECT doc_id, cid,
       |   md5(string_agg(w, ' ' ORDER BY pos)) AS h
       | FROM cids GROUP BY doc_id, cid),
       |census AS (SELECT h, count(*) AS occ FROM chunks GROUP BY h)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       | CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_shared
       |FROM chunks JOIN census USING (h)
       |GROUP BY doc_id""".stripMargin
}
