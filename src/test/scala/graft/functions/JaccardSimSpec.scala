package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class JaccardSimSpec extends SparkSpec {

  test("bit-equal to the composed intersect/union spelling on real shingles") {
    // all small-bucket pairs of the real corpus — the exact input
    // shape the dd_* oracled entries feed it
    val docs = graft.core.Tables.documents(spark, sfDir)
      .withColumn("words", split(col("text"), " "))
      .selectExpr("doc_id",
        "transform(array_distinct(transform(" +
          "sequence(1, greatest(size(words) - 2, 1)), " +
          "i -> concat_ws(' ', slice(words, i, 3)))), g -> xxhash64(g)) AS g")
      .limit(60)
    val a = docs.selectExpr("doc_id AS id_a", "g AS g_a")
    val b = docs.selectExpr("doc_id AS id_b", "g AS g_b")
    val pairs = a.crossJoin(b).where(col("id_a") < col("id_b"))
      .selectExpr("id_a", "id_b",
        "jaccard_sim(g_a, g_b) AS native",
        "CAST(size(array_intersect(g_a, g_b)) AS DOUBLE) " +
          "/ size(array_union(g_a, g_b)) AS composed")
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val (n, c) = (r.getDouble(2), r.getDouble(3))
      assert(java.lang.Double.doubleToRawLongBits(n) ==
        java.lang.Double.doubleToRawLongBits(c),
        s"pair (${r.getLong(0)}, ${r.getLong(1)}): $n vs $c")
    }
  }

  test("edge cases: identical, disjoint, one-side empty, both empty, null") {
    val r = spark.sql(
      """SELECT
        | jaccard_sim(array(1L,2L,3L), array(1L,2L,3L)) AS same,
        | jaccard_sim(array(1L,2L), array(3L,4L)) AS disjoint,
        | jaccard_sim(CAST(array() AS ARRAY<BIGINT>), array(1L,2L))
        |   AS left_empty,
        | jaccard_sim(array(1L,2L), CAST(array() AS ARRAY<BIGINT>))
        |   AS right_empty,
        | jaccard_sim(CAST(array() AS ARRAY<BIGINT>),
        |             CAST(array() AS ARRAY<BIGINT>)) AS both_empty,
        | jaccard_sim(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS null_in,
        | jaccard_sim(array(0L, 5L), array(0L)) AS zero_element,
        | jaccard_sim(array(1L,2L,3L,4L), array(2L,4L,6L)) AS partial
        |""".stripMargin).head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 0.0)
    assert(r.getDouble(2) == 0.0)
    assert(r.getDouble(3) == 0.0)
    assert(r.getDouble(4).isNaN) // 0/0 — matches composed spelling
    assert(r.isNullAt(5))
    assert(r.getDouble(6) == 0.5) // 0L must hash/probe correctly
    assert(r.getDouble(7) == 2.0 / 5.0)
  }

  test("large-array path grows the probe table and stays correct") {
    import spark.implicits._
    // 3000 elements overlapping in 1500 — forces table growth past
    // the 1024 initial capacity
    val df = Seq(1).toDF("x").selectExpr(
      "jaccard_sim(transform(sequence(0L, 2999L), i -> i), " +
        "transform(sequence(1500L, 4499L), i -> i)) AS j")
    assert(df.head().getDouble(0) == 1500.0 / 4500.0)
  }
}
