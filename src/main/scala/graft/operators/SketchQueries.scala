package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{PortableHash, Tables}

/** Count-Min Sketch expressed RELATIONALLY: the sketch is a (row,
  * bucket, count) table, not an opaque binary buffer.
  *
  * Why this shape at 100 TB: building it is one explode + one
  * map-side-combinable groupBy over fixed-width keys (the only
  * shuffle carries D×W partial cells per map task); the result is a
  * D×W-row table that can be WRITTEN TO PARQUET, unioned with
  * yesterday's sketch and re-grouped to merge (counter addition is
  * commutative — merge order can't change the answer, so unlike
  * Misra-Gries-style heavy-hitter summaries the estimates are
  * partition- and merge-invariant), and probed with a plain join.
  * Point estimate = min over the D cells a key hashes to;
  * overcounts only (never under), error ≤ N/W per row with high
  * probability.
  *
  * Bucket hashes use the engine-portable md5-60 hash with the row
  * index as salt, so the ENTIRE sketch — and therefore every
  * estimate — is bit-reproducible in the DuckDB oracle: an exactly
  * verified approximate structure.
  */
object SketchQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Sketch depth (hash rows) and width (buckets per row). */
  val D = 3
  val W = 256

  /** Probe set: high-frequency function words of the synthetic
    * corpus — fixed so the query shape is static. */
  val Probes: Seq[String] = Seq("the", "of", "and", "a", "to")

  private def bucket(j: org.apache.spark.sql.Column,
      word: org.apache.spark.sql.Column) =
    pmod(PortableHash.md5Hash60(
      concat(j.cast("string"), lit(":"), word)), lit(W.toLong))

  /** The CMS table for the corpus token stream: (j, bucket, c),
    * D×W rows. */
  def cmsTable(s: SparkSession, dir: String): DataFrame = {
    // Aggregate BEFORE hashing (r22, guide §2.3): counter addition is
    // commutative, so the cell count is the sum of each word's total
    // count over the words hashing there — count tokens per WORD
    // first (map-side combined to ≤ |vocab| rows per task), then run
    // the D-way scatter + md5 bucket hashing over the vocabulary
    // census only. The former shape hashed every token D times
    // (3 × |tokens| md5s); this one pays 3 × |vocab|, orders of
    // magnitude fewer on any natural corpus, and the cell sums are
    // identical by commutativity.
    // fanOut: the tokenizer explode would otherwise run inside the
    // single-row-group scan task
    Tables.fanOut(Tables.documents(s, dir), "doc_id")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .select(explode(sequence(lit(0), lit(D - 1))).as("j"),
        col("w"), col("wc"))
      .select(col("j"), bucket(col("j"), col("w")).as("bucket"),
        col("wc"))
      .groupBy(col("j"), col("bucket"))
      .agg(sum(col("wc")).as("c"))
  }

  /** Point estimates for the probe words: min over the D cells each
    * word hashes to. The sketch side is D×W rows — broadcast. */
  def d4CmsEstimate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sketch = cmsTable(s, dir)
    val probes = Probes.toDF("word")
      .select(col("word"),
        explode(sequence(lit(0), lit(D - 1))).as("j"))
      .withColumn("bucket", bucket(col("j"), col("word")))
    probes.join(broadcast(sketch), Seq("j", "bucket"), "left")
      .groupBy(col("word"))
      .agg(min(coalesce(col("c"), lit(0L))).as("est_count"))
  }

  /** KMV set algebra (Beyer et al., SIGMOD'07) — the reason a KMV
    * beats an opaque HLL register: two persisted sketches support
    * UNION and INTERSECTION estimates without rescanning the data.
    * Sides: partkeys of heavy (l_quantity > [[KmvQtySplit]]) vs
    * light lineitems — overlapping sets with distinct tails.
    *
    * 100 TB shape: each side's sketch is built by ONE conditional
    * pass (groupBy on the side flag; map-side combine reduces every
    * partition to ≤ K longs before the 2-row exchange); the set
    * algebra runs on two 256-long arrays — driver-side sketch
    * post-processing, the same bounded contract as reading an HLL
    * register. Portable md5-60 hashing makes every estimate
    * bit-reproducible in the SQL oracle, including the estimator's
    * exact-below-K branch and the intersection's inclusion fraction. */
  val KmvQtySplit = 25

  def d5KmvSetops(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KmvSketch
    val bits = PortableHash.Bits
    val sides = Tables.lineitem(s, dir)
      .select((col("l_quantity") > KmvQtySplit).as("heavy"),
        PortableHash.md5Hash60(col("l_partkey")).as("h"))
      .groupBy(col("heavy"))
      .agg(KmvSketch.sketchOf(col("h")).as("sk"))
      .collect().map(r => r.getBoolean(0) ->
        r.getSeq[Long](1).toArray).toMap
    val (a, b) = (sides(true), sides(false))
    import s.implicits._
    Seq((KmvSketch.estimateOf(a, bits), KmvSketch.estimateOf(b, bits),
      KmvSketch.estimateOf(KmvSketch.unionOf(a, b), bits),
      KmvSketch.intersectEstimate(a, b, bits)))
      .toDF("est_heavy", "est_light", "est_union", "est_intersect")
  }

  val queries: Map[String, Q] = Map(
    "d4_cms_estimate" -> (d4CmsEstimate _),
    "d5_kmv_setops" -> (d5KmvSetops _)
  )

  val oracle: Map[String, String] = Map(
    "d4_cms_estimate" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w
        |            FROM documents),
        |cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |probes AS (SELECT unnest(['the','of','and','a','to']) AS word),
        |pj AS (SELECT word, jj.j AS j,
        |        ('0x' || substr(md5(jj.j::VARCHAR || ':' || word),
        |          1, 15))::BIGINT % 256 AS pb
        |       FROM probes CROSS JOIN
        |         (SELECT unnest(range(3)) AS j) jj),
        |cell AS (SELECT pj.word, pj.j,
        |          sum(CASE WHEN
        |            ('0x' || substr(md5(pj.j::VARCHAR || ':' || cnt.w),
        |              1, 15))::BIGINT % 256 = pj.pb
        |            THEN cnt.c ELSE 0 END) AS s
        |         FROM pj CROSS JOIN cnt GROUP BY pj.word, pj.j)
        |SELECT word, CAST(min(s) AS BIGINT) AS est_count
        |FROM cell GROUP BY word""".stripMargin,
    // full KMV replica: k-minimum sets, exact-below-K branch, union
    // merge of the two SKETCHES (not the full sets), and the Beyer
    // inclusion-fraction intersection — positive 60-bit hashes make
    // signed ORDER BY the sketch order, and round() is half-away-
    // from-zero in both engines for positive arguments
    "d5_kmv_setops" ->
      s"""WITH ha AS (SELECT DISTINCT ${PortableHash.duckSql("l_partkey::VARCHAR")} AS h
         |           FROM lineitem WHERE l_quantity > $KmvQtySplit),
         |hb AS (SELECT DISTINCT ${PortableHash.duckSql("l_partkey::VARCHAR")} AS h
         |       FROM lineitem WHERE NOT l_quantity > $KmvQtySplit),
         |ka AS (SELECT h FROM ha ORDER BY h LIMIT 256),
         |kb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
         |ku AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
         |       ORDER BY h LIMIT 256),
         |est AS (SELECT
         |  (SELECT count(*) FROM ka) AS na,
         |  (SELECT count(*) FROM kb) AS nb,
         |  (SELECT count(*) FROM ku) AS nu,
         |  (SELECT max(h) FROM ka) AS ktha,
         |  (SELECT max(h) FROM kb) AS kthb,
         |  (SELECT max(h) FROM ku) AS kthu,
         |  (SELECT count(*) FROM ku
         |    WHERE h IN (SELECT h FROM ka)
         |      AND h IN (SELECT h FROM kb)) AS nboth),
         |ests AS (SELECT
         |  CASE WHEN na < 256 THEN na ELSE CAST(round(
         |    255 / (CAST(ktha AS DOUBLE) / 1152921504606846976))
         |    AS BIGINT) END AS est_heavy,
         |  CASE WHEN nb < 256 THEN nb ELSE CAST(round(
         |    255 / (CAST(kthb AS DOUBLE) / 1152921504606846976))
         |    AS BIGINT) END AS est_light,
         |  CASE WHEN nu < 256 THEN nu ELSE CAST(round(
         |    255 / (CAST(kthu AS DOUBLE) / 1152921504606846976))
         |    AS BIGINT) END AS est_union,
         |  nboth, nu FROM est)
         |SELECT est_heavy, est_light, est_union,
         | CASE WHEN nu < 256 THEN CAST(nboth AS BIGINT)
         |   ELSE CAST(round((nboth * est_union) / 256.0) AS BIGINT)
         | END AS est_intersect
         |FROM ests""".stripMargin
  )
}
