package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class IntersectCountSpec extends SparkSpec {

  test("equals size(array_intersect) on real sorted gram sets") {
    val docs = graft.core.Tables.documents(spark, sfDir)
      .withColumn("words", split(col("text"), " "))
      .selectExpr("doc_id",
        "sort_array(transform(array_distinct(transform(" +
          "sequence(1, greatest(size(words) - 2, 1)), " +
          "i -> concat_ws(' ', slice(words, i, 3)))), " +
          "g -> xxhash64(g))) AS g")
      .limit(60)
    val a = docs.selectExpr("doc_id AS id_a", "g AS g_a")
    val b = docs.selectExpr("doc_id AS id_b", "g AS g_b")
    val bad = a.crossJoin(b).where(col("id_a") < col("id_b"))
      .selectExpr("intersect_count(g_a, g_b) AS native",
        "CAST(size(array_intersect(g_a, g_b)) AS BIGINT) AS composed")
      .filter(col("native") =!= col("composed")).count()
    assert(bad == 0)
  }

  test("edge cases: identical, disjoint, empty, null, codegen span") {
    val r = spark.sql(
      """SELECT
        | intersect_count(array(1L,2L,3L), array(1L,2L,3L)) AS same,
        | intersect_count(array(1L,2L), array(3L,4L)) AS disjoint,
        | intersect_count(CAST(array() AS ARRAY<BIGINT>), array(1L))
        |   AS left_empty,
        | intersect_count(array(-5L,0L,7L), array(-5L,7L,9L))
        |   AS negatives,
        | intersect_count(CAST(NULL AS ARRAY<BIGINT>), array(1L))
        |   AS null_in""".stripMargin).head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 0L &&
      r.getLong(2) == 0L && r.getLong(3) == 2L && r.isNullAt(4))
    // the expression must not break whole-stage codegen
    val df = spark.range(100).selectExpr(
      "intersect_count(sort_array(array(id, id + 2)), " +
        "sort_array(array(id + 2, id + 4))) AS c")
    val plan = df.queryExecution.executedPlan.toString
    // the `*(n)` prefix is the whole-stage-codegen marker in the
    // simple plan string
    assert(plan.contains("WholeStageCodegen") || plan.contains("*(1)"),
      plan)
    assert(df.agg(sum("c")).head().getLong(0) == 100L)
  }
}
